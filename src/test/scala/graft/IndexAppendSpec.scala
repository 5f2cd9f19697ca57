package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IvfIndex, PqIndex}
import graft.streaming.Streaming

/** The S6 step inside both index appends: an id sent twice in one batch
  * is stored once, as the row [[Streaming.insertIfAbsentSink]] keeps, and
  * an id the index already holds is not stored again. */
class IndexAppendSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // d = 6, m = 3 grid vectors (PqStreamSpec's): a PQ build over them is
  // lossless, so two different vectors keep two different codes
  private val subVals =
    Array(Array(0.0, 1.0), Array(3.0, -1.0), Array(-2.0, 2.0), Array(1.0, 1.0))
  private def mk(i: Int): Array[Float] =
    (0 until 3).flatMap(s => subVals((i + s) % 4).map(_.toFloat)).toArray
  private def base = (0 until 40).map(i => (i.toLong, mk(i))).toDF("vec_id", "embedding")

  test("index appends: an intra-batch duplicate id is stored once, as insertIfAbsentSink keeps it") {
    type Sink = (org.apache.spark.sql.DataFrame, Long) => Unit
    val cases: Seq[(String, String, String => Unit, String => Sink)] = Seq(
      ("ivfAppendSink", "corpus",
        dir => IvfIndex.build(base, "vec_id", "embedding", dir, nlist = 4, trainLimit = 40),
        dir => Streaming.ivfAppendSink("vec_id", "embedding", dir)),
      ("pqAppendSink", "codes",
        dir => PqIndex.build(base, "vec_id", "embedding", dir,
          m = 3, k = 8, coarseNlist = 2, trainLimit = 40),
        dir => Streaming.pqAppendSink("vec_id", "embedding", dir)))
    // new id 40 twice (mk(2) sorts first, though it arrives second), new
    // id 41 once, and id 3, which the base index already holds
    val batch = Seq((40L, mk(1)), (3L, mk(2)), (40L, mk(2)), (41L, mk(3)))
      .toDF("vec_id", "embedding")
    val survivors = Seq((40L, mk(2)), (41L, mk(3)))
    // insertIfAbsentSink keeps exactly these rows for the new ids
    val s6 = java.nio.file.Files.createTempDirectory("graft_index_append_s6").toString
    Streaming.insertIfAbsentSink("vec_id", s6)(batch, 0L)
    val kept = spark.read.parquet(s6).filter($"vec_id" =!= 3L)
      .as[(Long, Array[Float])].collect().map { case (i, v) => (i, v.toSeq) }.sortBy(_._1)
    assert(kept.toSeq == survivors.map { case (i, v) => (i, v.toSeq) })
    for ((name, store, build, sink) <- cases) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_index_append").toString
      build(s"$tmp/idx")
      sink(s"$tmp/idx")(batch, 0L)
      // reference: the same base index fed only the survivors
      build(s"$tmp/ref")
      sink(s"$tmp/ref")(survivors.toDF("vec_id", "embedding"), 0L)
      val got = spark.read.parquet(s"$tmp/idx/$store")
      val want = spark.read.parquet(s"$tmp/ref/$store")
      assert(got.count() == 42L && got.select($"vec_id").distinct().count() == 42L, name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
      val appended = spark.read.parquet(s"$tmp/idx/appended").as[Long].collect().sorted.toSeq
      assert(appended == Seq(40L, 41L), name)
    }
  }
}
