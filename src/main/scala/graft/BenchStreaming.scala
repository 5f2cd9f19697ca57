package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StateInspect, Streaming}

/** Streaming-throughput bench (round-11 brief item 3): the batch board
  * (`Bench`) times every registered query, but the stateful streaming
  * surface — the transformWithState sessionizer, the exactly-once
  * incremental rollup ledger, the persisted near-dup index sink, and the
  * continuous quality monitor — had correctness specs and no recorded
  * rates. This main drives each sink over the bench corpus
  * (SPARK_GRAFT_SF_DIR, default sf0.1: 100k events / 5k documents) in a
  * fixed number of micro-batches and records rows/s, batch count, wall
  * seconds, output cardinality, and end-of-run state size (from
  * [[StateInspect.stateMetadata]] for store-backed state; from the ledger
  * parquet for dir-backed state). One JSON line on stdout, mirrored to
  * `BENCH_STREAMING.json`.
  *
  * Methodology notes, mirrored from `Bench`: numbers are single-run
  * wall-clock over MemoryStream input (the engine + state path, no source
  * I/O), after one untimed warmup batch per pipeline so codegen/JIT cost
  * doesn't land in batch 1 of the measured run. Event input arrives
  * time-ordered (the spec convention) so the watermark never drops rows;
  * `rows_in` counts exclude the watermark-flush sentinels. */
/** Input-row shape for [[BenchStreaming]] (top-level: Dataset encoder
  * codegen needs a publicly constructible class). */
case class SBenchEv(user_id: Long, ts: Timestamp, value: Double,
                    event_type: String)

object BenchStreaming {
  private def nowSec(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.session(cpus)
    // RocksDB provider everywhere: the store contract for 100 TB state
    // (changelog-checkpointed, disk-spillable) — benching the default
    // HDFS-backed in-memory store would flatter the numbers
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sbench").toString
    try run(spark, sfDir, cpus, tmp)
    finally {
      spark.stop()
      // every section's state and checkpoint live under tmp
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp)): Unit
    }
  }

  private def run(spark: SparkSession, sfDir: String,
                  cpus: String, tmp: String): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
      .select($"user_id", $"ts", coalesce($"value", lit(0.0)).as("value"),
        coalesce($"event_type", lit("?")).as("event_type"))
      .orderBy($"ts")
      .as[SBenchEv].collect()
    require(events.nonEmpty, s"BenchStreaming: no event rows under $sfDir")
    // chunks.size is what each sink actually saw — with a corpus smaller
    // than the target batch count, grouped() yields fewer chunks, and
    // recording the constant would misdescribe the rows/s methodology
    val chunks = events.grouped((events.length + 7) / 8).map(_.toSeq).toSeq
    val nBatches = chunks.size
    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // SPARK_GRAFT_SBENCH_ONLY=neardup (comma-separated substrings) runs a subset
    // of the sink sections — an A/B profiling aid; the committed artifact
    // is always a full run (record() refuses to write the JSON otherwise)
    val only = sys.env.get("SPARK_GRAFT_SBENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def section(name: String)(body: => Unit): Unit =
      if (only.forall(_.exists(name.contains))) body

    def record(name: String, rowsIn: Long, batches: Int, secs: Double,
               extra: Seq[(String, String)]): Unit = {
      val fields = Seq(
        "rows_in" -> rowsIn.toString,
        "batches" -> batches.toString,
        "seconds" -> f"$secs%.3f",
        "rows_per_sec" -> f"${rowsIn / secs}%.0f") ++ extra
      results(name) = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      System.err.println(s"[sbench] $name: ${fields.toMap}")
    }

    // One foreachBatch section: `input` in micro-batches through a
    // MemoryStream, `project`ed, into `sink` over `$tmp/<name>_state`
    // (checkpointed), the feed loop timed; `summary` reads the final
    // state dir into the recorded fields.
    def sinkSection[T: Encoder](name: String, input: => Seq[Seq[T]])(
        project: Dataset[T] => DataFrame,
        sink: String => (DataFrame, Long) => Unit)(
        summary: String => Seq[(String, String)]): Unit = section(name) {
      val stateDir = s"$tmp/${name}_state"
      val batches = input
      val mem = MemoryStream[T]
      val q = project(mem.toDS()).writeStream
        .option("checkpointLocation", s"$tmp/${name}_ckpt")
        .foreachBatch(sink(stateDir))
        .start()
      val t0 = nowSec()
      batches.foreach { c => mem.addData(c); q.processAllAvailable() }
      val secs = nowSec() - t0
      val fields = summary(stateDir)
      q.stop()
      record(name, batches.map(_.size.toLong).sum, batches.size, secs, fields)
    }
    def stateRows(dir: String) = "state_rows" -> spark.read.parquet(dir).count().toString

    // ---- 1. transformWithState sessionizer (event-time timers, ListState)
    section("sessionize") {
      val ckpt = s"$tmp/tws_ckpt"
      val mem = MemoryStream[(Long, Timestamp)]
      val q = Streaming.sessionizeTws(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("sbench_tws")
        .option("checkpointLocation", ckpt)
        .start()
      // untimed warmup batch: one row far in the PAST so it can't create
      // sessions that merge with the measured corpus
      val t0ts = events.head.ts.getTime
      mem.addData((-1L, new Timestamp(t0ts - 30L * 24 * 3600 * 1000)))
      q.processAllAvailable()
      val t0 = nowSec()
      chunks.foreach { c =>
        mem.addData(c.map(e => (e.user_id, e.ts)).toSeq)
        q.processAllAvailable()
      }
      // double-sentinel flush: batch 1 raises the watermark past every
      // session's close point, batch 2 fires the timers
      val far = new Timestamp(events.map(_.ts.getTime).max + 2L * 3600 * 1000)
      mem.addData((-2L, far)); q.processAllAvailable()
      mem.addData((-2L, far)); q.processAllAvailable()
      val secs = nowSec() - t0
      val sessions = spark.table("sbench_tws")
        .filter($"user_id" >= 0L).count()
      val meta = StateInspect.stateMetadata(spark, ckpt)
        .select("stateStoreName", "numPartitions", "maxBatchId").head()
      // transformWithState state is per-variable: name the ListState
      val openState = StateInspect.stateStore(spark, ckpt,
        Map("stateVarName" -> "open")).count()
      q.stop()
      record("sessionize_tws", events.length.toLong, nBatches + 2, secs, Seq(
        "sessions_out" -> sessions.toString,
        "state_partitions" -> meta.getInt(1).toString,
        "state_max_batch" -> meta.getLong(2).toString,
        "state_rows_final" -> openState.toString))
    }

    // ---- 2-3g. the foreachBatch sinks: each section is its input, its
    // projection, its sink and the fields it reads from the final state
    sinkSection("incremental_rollup", chunks.map(_.map(e => (e.user_id, e.value))))(
      _.toDF("user_id", "value"),
      Streaming.incrementalRollupSink("user_id", Seq("value"), Nil, _))(
      dir => Seq(stateRows(dir)))

    // golden-record survivorship maintenance (round 16): per-key
    // per-field newest-non-null fold — one state row per user, marker-
    // guarded replay, the MDM merge kept fresh (null event_types planted
    // so the per-field independence path actually executes)
    sinkSection("golden_record", chunks)(
      _.toDF().select($"user_id", unix_micros($"ts").as("version"),
        when($"value" > 75.0, null).otherwise($"event_type").as("event_type"),
        $"value"),
      Streaming.goldenRecordSink("user_id", "version", Seq("event_type", "value"), _))(
      dir => Seq(stateRows(dir), "records_folded" ->
        spark.read.parquet(dir).agg(sum($"n_records")).head().getLong(0).toString))

    // continuous quality monitor (Expectations over the stream)
    val rules = Seq(
      graft.operators.Expectations.Rule("value_non_negative", col("value") >= 0),
      graft.operators.Expectations.Rule("known_type",
        col("event_type").isin("view", "click", "purchase")),
      graft.operators.Expectations.Rule("user_present", col("user_id").isNotNull))
    sinkSection("quality_monitor", chunks)(_.toDF(),
      Streaming.qualityMonitorSink(rules, _)) { dir =>
      val state = Streaming.qualityState(spark, dir)
      val worstRate = state.agg(max($"violation_rate")).head().getDouble(0)
      Seq("state_rows" -> state.count().toString,
        "worst_violation_rate" -> f"$worstRate%.4f")
    }

    // trending sink: incremental Misra-Gries k-counter summary. user_id
    // as the item stream (near-uniform keys = the eviction-heavy WORST
    // case for MG — every batch churns the counter set)
    sinkSection("trending_mg", chunks)(_.toDF(),
      Streaming.trendingSink("user_id", 100, _))(
      dir => Seq(stateRows(dir),
        "n_total" -> Streaming.trendingMarker(spark, dir)._2.toString))

    // streaming Pareto frontier: per batch one batch-grain skyline + a
    // frontier-grain re-skyline (merge identity); state is the frontier
    // itself — expected O(log n) rows
    val usValue = (d: Dataset[SBenchEv]) =>
      d.toDF().select($"user_id", unix_micros($"ts").as("us"), $"value")
    sinkSection("skyline_frontier", chunks)(usValue,
      Streaming.skylineSink("us", "value", _))(dir => Seq(stateRows(dir)))

    // streaming EWMA: each key's smoothed level continued from stored
    // state — key-grain state, batch-grain fold work
    sinkSection("ewma_levels", chunks)(usValue,
      Streaming.ewmaSink("user_id", Seq("us"), "value", 2, 4, _))(
      dir => Seq(stateRows(dir)))

    // streaming two-sided CUSUM monitor: per-user sequential change
    // detection against a fixed target — ONE state row per key, integer
    // fixed-point prefix-sum fold per micro-batch (round 15)
    sinkSection("cusum_monitor", chunks)(usValue,
      Streaming.cusumSink("user_id", Seq("us"), "value",
        target = 50.0, slack = 5.0, threshold = 500.0, scale = 4, _))(
      dir => Seq(stateRows(dir),
        "alarms" -> spark.read.parquet(dir).filter($"alarm").count().toString))

    // streaming HLL distinct: per-group sketch union — KB-grain state per
    // group however long the stream runs
    sinkSection("hll_distinct", chunks)(_.toDF().select($"event_type", $"user_id"),
      Streaming.hllDistinctSink("event_type", "user_id", _)) { dir =>
      val st = spark.read.parquet(dir).agg(count(lit(1)), sum(length($"sketch"))).head()
      Seq("state_rows" -> st.getLong(0).toString,
        "state_sketch_bytes" -> st.getLong(1).toString)
    }

    // streaming PSI drift: reference frozen at batch 0, one ledger row per
    // later batch — value-range-bounded state
    sinkSection("psi_drift", chunks)(_.toDF().select($"value"),
      Streaming.psiDriftSink("value", 10L, _)) { dir =>
      val ledger = spark.read.parquet(s"$dir/ledger")
      val worst = ledger.agg(max($"psi")).head().getDouble(0)
      Seq("ledger_rows" -> ledger.count().toString, "worst_psi" -> f"$worst%.4f")
    }

    // streaming embedding-space drift: codebook frozen at the first
    // freezable batch (fixed-point k-means), later batches score
    // assignment-PSI + per-cluster centroid shift — k·dim + k + ledger
    // state however long the stream runs, map-only assignment per batch
    sinkSection("embedding_drift", {
      val vecs = Tables.load(spark, sfDir, "embeddings")
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
        .as[(Long, Seq[Double])].collect()
      vecs.grouped((vecs.length + 7) / 8).map(_.toSeq).toSeq
    })(_.toDF("vec_id", "embedding"),
      Streaming.embeddingDriftSink("vec_id", "embedding", 8, 2, _)) { dir =>
      val ledger = spark.read.parquet(s"$dir/ledger")
      val worst = ledger.agg(max($"assign_psi"), max($"max_shift")).head()
      Seq("ledger_rows" -> ledger.count().toString,
        "worst_psi" -> f"${worst.getDouble(0)}%.4f",
        "worst_shift" -> f"${worst.getDouble(1)}%.4f")
    }

    // ---- 4. persisted near-dup index sink (documents corpus). Two
    // operating points: the raw sf corpus in 1.25k-doc micro-batches is
    // LATENCY-bound (the sink runs 2 Spark jobs per batch; at that size
    // the wall is job launches + exchange barriers, not rows), so a bulk
    // twin feeds 10k-doc batches — the regime a 100 TB ingest actually
    // runs in — where the fixed per-batch cost amortizes and the recorded
    // rate is the sink's genuine document throughput.
    section("neardup") {
      val docs = Tables.load(spark, sfDir, "documents")
        .select($"doc_id", $"text")
      val nDocs = docs.count()
      val docBatches = 4
      // drive one corpus through the sink into `state`, returning wall secs
      def ingest(src: DataFrame, state: String): Double = {
        val t = nowSec()
        (0L until docBatches.toLong).foreach { b =>
          val tb = nowSec()
          Streaming.incrementalNearDupSink("doc_id", "text", state)(
            src.filter($"doc_id" % docBatches === b), b)
          System.err.println(
            f"[sbench] neardup $state batch $b: ${nowSec() - tb}%.2f s")
        }
        nowSec() - t
      }
      // untimed warmup: the sink's fused per-batch plans codegen/JIT on
      // first use, and at these batch sizes that first-use cost is 2-4x a
      // steady-state batch (measured: batch 0 at 6.8 s vs batch 3 at
      // 3.7 s for identical work) — the same reason every other sink here
      // runs an untimed warmup batch. A 500-doc throwaway corpus compiles
      // every plan the measured runs execute.
      ingest(docs.limit(500), s"$tmp/neardup_warm"): Unit
      // min-of-2 over fresh state dirs (the board's min-of-N convention —
      // this host's wall clock swings x2-4 under outside load); both runs'
      // walls are recorded, and the runs must agree on pairs_out exactly
      // (the sink is deterministic; a mismatch would be a real bug).
      val runs = (1 to 2).map(i => ingest(docs, s"$tmp/neardup_state_$i"))
      val pairsOut = (1 to 2).map(i =>
        spark.read.parquet(s"$tmp/neardup_state_$i/pairs").count())
      require(pairsOut.distinct.size == 1,
        s"neardup runs disagree on pairs_out: $pairsOut")
      val sigRows = spark.read.parquet(s"$tmp/neardup_state_1/sigs").count()
      record("neardup_incremental", nDocs, docBatches, runs.min, Seq(
        "pairs_out" -> pairsOut.head.toString,
        "state_sig_rows" -> sigRows.toString,
        "runs" -> runs.map(r => f"$r%.3f").mkString("[", ",", "]")))

      // bulk twin: 16 tagged replicas of the corpus (a replica marker is
      // woven in every 3rd word, so every 5-shingle of every replica
      // carries its tag — cross-replica jaccard is exactly 0 and the
      // pair structure stays per-replica, i.e. candidates scale linearly
      // with the corpus, not quadratically). Corpus prep is ingest-side
      // and untimed; ids mix replicas across batches so cross-batch
      // probes stay representative.
      val bulkDir = s"$tmp/neardup_bulk_corpus"
      docs.crossJoin(spark.range(16L).select($"id".as("rep")))
        .select(($"rep" * 100000L + $"doc_id").as("doc_id"),
          concat_ws(" ", transform(split(trim($"text"), "\\s+"),
            (w, i) => when(i % 3 === 0,
              concat(lit("zrep"), $"rep".cast("string"), lit(" "), w))
              .otherwise(w))).as("text"))
        .repartition(16)
        .write.mode("overwrite").parquet(bulkDir)
      val bulk = spark.read.parquet(bulkDir)
      val nBulk = bulk.count()
      val bulkRuns = (1 to 2).map(i => ingest(bulk, s"$tmp/neardup_bulk_state_$i"))
      val bulkPairs = (1 to 2).map(i =>
        spark.read.parquet(s"$tmp/neardup_bulk_state_$i/pairs").count())
      require(bulkPairs.distinct.size == 1,
        s"neardup bulk runs disagree on pairs_out: $bulkPairs")
      record("neardup_incremental_bulk", nBulk, docBatches, bulkRuns.min, Seq(
        "pairs_out" -> bulkPairs.head.toString,
        "batch_docs" -> (nBulk / docBatches).toString,
        "runs" -> bulkRuns.map(r => f"$r%.3f").mkString("[", ",", "]")))
    }

    // ---- 5. streaming IVF index maintenance: offline build on half the
    // embeddings corpus, then micro-batch appends of the rest through the
    // frozen codebook (round 14). min-of-2 over fresh index dirs; runs
    // must agree on the final corpus/appended counts, and the audit row's
    // exact-probe recall (nprobe = nlist) must be 1.0 by construction.
    section("ivf_append") {
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select($"vec_id", $"embedding")
      val nEmb = emb.count()
      val half = nEmb / 2
      val ivfBatches = 4
      def ingest(state: String): Double = {
        graft.operators.IvfIndex.build(emb.filter($"vec_id" < half),
          "vec_id", "embedding", state, nlist = 16, trainLimit = 10000)
        val t = nowSec()
        (0L until ivfBatches.toLong).foreach { b =>
          Streaming.ivfAppendSink("vec_id", "embedding", state)(
            emb.filter($"vec_id" >= half && $"vec_id" % ivfBatches === b), b)
        }
        nowSec() - t
      }
      ingest(s"$tmp/ivf_warm"): Unit // untimed codegen/JIT warmup
      val runs = (1 to 2).map(i => ingest(s"$tmp/ivf_state_$i"))
      val counts = (1 to 2).map(i =>
        spark.read.parquet(s"$tmp/ivf_state_$i/corpus").count())
      require(counts.distinct.size == 1 && counts.head == nEmb,
        s"ivf_append runs disagree or lost rows: $counts vs $nEmb")
      val audit = graft.operators.IvfIndex.maintenanceAudit(spark,
          s"$tmp/ivf_state_1", "vec_id", "embedding",
          k = 10, nprobe = 16, anchors = 4).head()
      require(audit.getDouble(3) == 1.0,
        s"ivf_append exact-probe recall must be 1.0, got $audit")
      record("ivf_append", nEmb - half, ivfBatches, runs.min, Seq(
        "corpus_rows" -> counts.head.toString,
        "appended" -> audit.getLong(1).toString,
        "staleness_frac" -> audit.getDouble(2).toString,
        "recall_at_10_full_probe" -> audit.getDouble(3).toString,
        "runs" -> runs.map(r => f"$r%.3f").mkString("[", ",", "]")))
    }

    // ---- 5b. streaming PQ/IVF-PQ maintenance (round 15): the compressed
    // twin of ivf_append — offline codebook+coarse build on half the
    // corpus, micro-batch appends encode through the FROZEN codebooks into
    // the cell-partitioned codes. Same discipline: min-of-2 fresh dirs,
    // runs must agree on final code counts; the audit row's ADC-recall at
    // full probe with a corpus-covering shortlist must be 1.0 (the rerank
    // degenerates to exact cosine over everything).
    section("pq_append") {
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select($"vec_id", $"embedding")
      val nEmb = emb.count()
      val half = nEmb / 2
      val pqBatches = 4
      def ingest(state: String): Double = {
        graft.operators.PqIndex.build(emb.filter($"vec_id" < half),
          "vec_id", "embedding", state, m = 8, k = 16, coarseNlist = 16,
          trainLimit = 10000)
        val t = nowSec()
        (0L until pqBatches.toLong).foreach { b =>
          Streaming.pqAppendSink("vec_id", "embedding", state)(
            emb.filter($"vec_id" >= half && $"vec_id" % pqBatches === b), b)
        }
        nowSec() - t
      }
      ingest(s"$tmp/pq_warm"): Unit // untimed codegen/JIT warmup
      val runs = (1 to 2).map(i => ingest(s"$tmp/pq_state_$i"))
      val counts = (1 to 2).map(i =>
        spark.read.parquet(s"$tmp/pq_state_$i/codes").count())
      require(counts.distinct.size == 1 && counts.head == nEmb,
        s"pq_append runs disagree or lost rows: $counts vs $nEmb")
      val audit = graft.operators.PqIndex.maintenanceAudit(spark,
          s"$tmp/pq_state_1", emb, "vec_id", "embedding",
          k = 10, nprobe = 16, shortlist = nEmb.toInt, anchors = 4).head()
      require(audit.getDouble(3) == 1.0,
        s"pq_append covering-shortlist recall must be 1.0, got $audit")
      record("pq_append", nEmb - half, pqBatches, runs.min, Seq(
        "code_rows" -> counts.head.toString,
        "appended" -> audit.getLong(1).toString,
        "staleness_frac" -> audit.getDouble(2).toString,
        "recall_at_10_covering" -> audit.getDouble(3).toString,
        "runs" -> runs.map(r => f"$r%.3f").mkString("[", ",", "]")))
    }

    val json = s"""{"metric":"streaming","unit":"sec","sf":"$sfDir",""" +
      s""""store":"rocksdb","cpus":$cpus,"sinks":{""" +
      results.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}"
    println(json)
    // a filtered run is a profiling aid, never the committed artifact
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_STREAMING.json"), json + "\n"): Unit
      catch { case e: Throwable =>
        System.err.println(s"[sbench] could not write BENCH_STREAMING.json: ${e.getMessage}")
      }
  }
}
