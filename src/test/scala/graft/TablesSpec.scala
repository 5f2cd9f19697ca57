package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.jobsOf

/** [[Tables.load]]'s schema catalog: the footer-inference job runs on the
  * first load of a table under a setting of the session's parquet
  * inference settings, and again only when its files change. Jobs are
  * counted by [[Profile.Collector]], drained by its sentinel job. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString

  test("a second load of an unchanged table launches no job; the first one is labelled") {
    val dir = fresh()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/region.parquet")
    assert(jobsOf(Tables.load(spark, dir, "region").schema) == Seq("tables/region/schema"))
    assert(jobsOf(Tables.load(spark, dir, "region").schema).isEmpty)
    assert(Tables.load(spark, dir, "region").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // the caller's own job description is back once a first load returns
    val other = fresh()
    Seq(3L).toDF("k").write.parquet(s"$other/region.parquet")
    spark.sparkContext.setJobDescription("caller")
    try {
      Tables.load(spark, other, "region")
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("a table rewritten at the same path with an added column is resolved again") {
    val dir = fresh()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/nation.parquet")
    assert(Tables.load(spark, dir, "nation").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 7.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/nation.parquet")
    assert(jobsOf(Tables.load(spark, dir, "nation").schema) == Seq("tables/nation/schema"))
    val got = Tables.load(spark, dir, "nation")
    assert(got.columns.toSeq == Seq("k", "v", "w"))
    assert(got.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 7.5)))
  }

  test("the inference settings are part of the key: TIMESTAMP_NTZ with inferTimestampNTZ on, off, on") {
    // written as pandas writes it: a plain parquet TIMESTAMP(MICROS) not
    // adjusted to UTC, with no Spark schema in the footer (a Spark-written
    // file carries its own type there, which inference prefers)
    val dir = fresh()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part.parquet"))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("t", 1700000000000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    def tType(): DataType = Tables.load(spark, dir, "part").schema("t").dataType
    try {
      spark.conf.set(key, "true")
      assert(tType() == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(tType() == TimestampType)
      // both entries stay: switching back, as a new session or a load of
      // `events` (which sets nanosAsLong) does, infers nothing
      spark.conf.set(key, "true")
      var back: DataType = null
      assert(jobsOf { back = tType() }.isEmpty)
      assert(back == TimestampNTZType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events.ts normalizes to TimestampType from every flavor, on first and cached loads") {
    val micros = 1700000123456789L
    val ltz = Seq(micros).toDF("us").select($"us".as("event_id"), timestamp_micros($"us").as("ts"))
    for (flavor <- Seq(ltz, ltz.withColumn("ts", $"ts".cast(TimestampNTZType)))) {
      val dir = fresh()
      flavor.write.parquet(s"$dir/events.parquet")
      for (_ <- 1 to 2) {
        val ev = Tables.load(spark, dir, "events")
        assert(ev.schema("ts").dataType == TimestampType)
        assert(ev.select(unix_micros($"ts")).as[Long].head() == micros)
      }
    }
  }
}
