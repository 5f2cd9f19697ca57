package lambdabench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Expectations
import graft.streaming.Streaming

/** The ingest workload's fan-out: each micro-batch of `events` rows goes
  * to the three reference sinks (S6 insert-if-absent keyed by `event_id`,
  * S7 last-write-wins upsert, A2 incremental rollup) and to five more
  * (golden record, quality monitor, trending, EWMA, HLL distinct), each
  * with its state in `<root>/<sink name>`. */
object Sinks {
  val trendingK = 100
  val ewmaShift = 2
  val ewmaScale = 4
  val hllLgK = 12

  private val rules = Seq(
    Expectations.Rule("value_non_negative", col("value") >= 0),
    Expectations.Rule("known_type", col("event_type").isin("view", "click", "purchase")),
    Expectations.Rule("user_present", col("user_id").isNotNull))

  // what each sink is fed, from the raw `events` rows
  private def upsertInput(b: DataFrame) = b.select("user_id", "event_id", "event_type", "value")
  private def rollupInput(b: DataFrame) = b.select(col("user_id"),
    round(col("value") * 100).cast("long").as("value_cents"), lit(1L).as("n"),
    round(col("value") * 100).cast("long").as("max_cents"))
  private def goldenInput(b: DataFrame) = b.select(col("user_id"),
    col("event_id").as("version"),
    when(col("value") > 75.0, null).otherwise(col("event_type")).as("event_type"),
    col("value"))
  private def ewmaInput(b: DataFrame) =
    b.select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))

  def apply(root: String): Seq[(String, (DataFrame, Long) => Unit)] = Seq(
    "insert_if_absent" -> ((b, id) =>
      Streaming.insertIfAbsentSink("event_id", s"$root/insert_if_absent")(b, id)),
    "upsert_last_wins" -> ((b, id) =>
      Streaming.upsertLastWinsSink("user_id", "event_id", s"$root/upsert_last_wins")(
        upsertInput(b), id)),
    "rollup" -> ((b, id) =>
      Streaming.incrementalRollupSink("user_id", Seq("value_cents", "n"), Seq("max_cents"),
        s"$root/rollup")(rollupInput(b), id)),
    "golden_record" -> ((b, id) =>
      Streaming.goldenRecordSink("user_id", "version", Seq("event_type", "value"),
        s"$root/golden_record")(goldenInput(b), id)),
    "quality_monitor" -> ((b, id) =>
      Streaming.qualityMonitorSink(rules, s"$root/quality_monitor")(b, id)),
    "trending" -> ((b, id) =>
      Streaming.trendingSink("user_id", trendingK, s"$root/trending")(b, id)),
    "ewma" -> ((b, id) =>
      Streaming.ewmaSink("user_id", Seq("us"), "value", ewmaShift, ewmaScale, s"$root/ewma")(
        ewmaInput(b), id)),
    "hll_distinct" -> ((b, id) =>
      Streaming.hllDistinctSink("event_type", "user_id", s"$root/hll_distinct", hllLgK)(b, id)))

  /** Why the state that `sink` maintained batch by batch in `dir` differs
    * from a one-shot batch computation over every row it was fed (`fed`,
    * raw `events` rows), or "" when it does not. The one-shot side is
    * plain DataFrame code (the EWMA fold runs on the driver) that states
    * what each sink promises; it calls no sink and no `graft` operator.
    * States compare as row multisets. The trending sink is a Misra-Gries
    * summary whose counters depend on the batch boundaries by design, so
    * it is held to its guarantee instead: n_total equals the rows fed,
    * and every item's estimate e satisfies true - n/(k+1) <= e <= true
    * (items absent from the summary count as e = 0). */
  def check(spark: SparkSession, sink: String, dir: String, fed: DataFrame): String = {
    lazy val state = spark.read.parquet(dir)
    sink match {
      case "insert_if_absent" =>
        // event_id is unique in `events`, so every fed row is kept once
        multisetDiff(state, fed.dropDuplicates("event_id"))
      case "upsert_last_wins" =>
        // per user_id, the row with the highest event_id
        val in = upsertInput(fed)
        val newest = in.groupBy("user_id").agg(max("event_id").as("event_id"))
        multisetDiff(state, in.join(newest, Seq("user_id", "event_id")))
      case "rollup" =>
        multisetDiff(state, rollupInput(fed).groupBy("user_id").agg(
          sum("value_cents").as("value_cents"), count(lit(1)).as("n"),
          max("max_cents").as("max_cents")))
      case "golden_record" =>
        // per user_id: the highest version and the record count, and per
        // field the newest non-null value with the version it came from
        val in = goldenInput(fed)
        val fields = Seq("event_type", "value").map { f =>
          val v = s"__v_$f"
          val present = in.filter(col(f).isNotNull).select(col("user_id"), col("version").as(v), col(f))
          present.join(present.groupBy("user_id").agg(max(v).as(v)), Seq("user_id", v))
        }
        val base = in.groupBy("user_id").agg(max("version").as("version"),
          count(lit(1)).as("n_records"))
        multisetDiff(state, fields.foldLeft(base)(_.join(_, Seq("user_id"), "left")))
      case "quality_monitor" =>
        // a rule is violated where its predicate is not true
        val n = fed.count()
        val expected = rules.map { r =>
          val bad = fed.filter(!coalesce(r.pred, lit(false))).count()
          (r.name, n, bad, if (n == 0) 0.0 else bad.toDouble / n)
        }
        multisetDiff(Streaming.qualityState(spark, dir), spark.createDataFrame(expected)
          .toDF("rule", "n_rows", "n_violations", "violation_rate"))
      case "trending" =>
        val n = fed.count()
        val (_, nTotal) = Streaming.trendingMarker(spark, dir)
        if (nTotal != n) return s"trending n_total $nTotal != rows fed $n"
        val est = state.select(col("item"), col("est"))
        val slack = n.toDouble / (trendingK + 1)
        val bad = fed.groupBy(col("user_id").cast("string").as("item"))
          .agg(count(lit(1)).as("truth"))
          .join(est, Seq("item"), "left")
          .select(col("truth"), coalesce(col("est"), lit(0L)).as("est"))
          .filter(col("est") > col("truth") || col("truth") - col("est") > slack)
          .count()
        if (bad == 0) "" else s"trending: $bad items outside the Misra-Gries bound"
      case "ewma" =>
        // per user_id, observations in (us, value) order as fixed point
        // with ewmaScale digits; the first seeds the level, each next x
        // moves it by (x - level) >> ewmaShift
        val obs = ewmaInput(fed).filter(col("value").isNotNull).select(col("user_id"),
          col("us"), (col("value").cast(s"decimal(18,$ewmaScale)") *
            math.pow(10, ewmaScale).toLong).cast("long").as("xq")).collect()
        val rows = obs.groupBy(_.get(0)).map { case (user, rs) =>
          val xs = rs.map(r => (r.getLong(1), r.getLong(2))).sorted.map(_._2)
          val level = xs.tail.foldLeft(xs.head)((s, x) => s + ((x - s) >> ewmaShift))
          Row(user, xs.length.toLong, level)
        }.toSeq
        val schema = StructType(Seq(fed.schema("user_id"),
          StructField("n_obs", LongType), StructField("ewma_fp", LongType)))
        multisetDiff(state, spark.createDataFrame(rows.asJava, schema))
      case "hll_distinct" =>
        // a union result estimates with a different estimator than a sketch
        // built in one pass, so both sides go through one union with
        // themselves: equal registers then give equal estimates
        def est(sketches: DataFrame) = sketches.select(col("event_type"),
          hll_sketch_estimate(hll_union(col("sketch"), col("sketch"))).as("est"))
        multisetDiff(est(state), est(fed.filter(col("user_id").isNotNull)
          .groupBy("event_type").agg(hll_sketch_agg(col("user_id"), lit(hllLgK)).as("sketch"))))
    }
  }

  private def multisetDiff(got: DataFrame, want: DataFrame): String = {
    val cols = got.columns.sorted.toSeq
    if (cols != want.columns.sorted.toSeq)
      return s"state columns ${cols.mkString(",")}, expected ${want.columns.sorted.mkString(",")}"
    val x = Digest.of(got.select(cols.map(col): _*))
    val y = Digest.of(want.select(cols.map(col): _*))
    if (x == y) "" else s"incremental state $x, one-shot state $y"
  }
}
