package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streaming

case class Ev(user_id: Long, ts: Timestamp, value: Double)

/** `faultyfs:///<path>`: the local file system, except that while
  * [[FaultyRenameFs.failSigsMoves]] is set every rename into a dir named
  * `sigs` returns false, as a remote store's rename may. */
class FaultyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultyfs:///")
  override def getScheme: String = "faultyfs"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (FaultyRenameFs.failSigsMoves && dst.getParent.getName == "sigs") false
    else super.rename(src, dst)
}

object FaultyRenameFs {
  @volatile var failSigsMoves = false
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("incremental near-dup sink ≡ batch nearDupPairs; replay is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString + "/state"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this other document here"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "short text"),
      (6L, "yet another entirely unrelated document with its own words"),
      (7L, "the quick brown fox jumps over the lazy dog tomorrow"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val sink = Streaming.incrementalNearDupSink("doc_id", "text", dir,
      ngram = 5, threshold = 0.5) _
    // three micro-batches: cross-batch pairs (1 in b0, 4 in b1, 7 in b2)
    // must be found when the LATER doc arrives
    sink(df(corpus.take(2)), 0L)
    sink(df(corpus.slice(2, 5)), 1L)
    // process restart between batches: the in-memory mirror is lost and
    // batch 2 must rebuild purely from the parquet state
    Streaming.dropNearDupMirror(dir)
    // crash-window rehearsal: snapshot sigs BEFORE batch 2 so we can
    // later replay "pairs appended, crash before the sigs append"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val snap = new org.apache.hadoop.fs.Path(s"$dir/sigs_snap")
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$dir/sigs"),
      fs, snap, false, spark.sparkContext.hadoopConfiguration)
    sink(df(corpus.drop(5)), 2L)
    def pairs() = spark.read.parquet(s"$dir/pairs")
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    val expected = graft.operators.Dedup.nearDupPairs(
        df(corpus), "doc_id", "text", 5, 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    assert(pairs() == expected && expected.nonEmpty)
    // at-least-once delivery: replaying a whole batch changes nothing
    sink(df(corpus.slice(2, 5)), 1L)
    assert(pairs() == expected)
    // the persisted state is ONE row per ingested doc — shingle-less docs
    // included (the replay gate must remember them), with a null signature
    val sigs = spark.read.parquet(s"$dir/sigs")
    assert(sigs.count() == corpus.size.toLong)
    assert(sigs.filter($"sig".isNull).select($"doc_id").as[Long].collect().toSeq == Seq(5L))
    // crash window between the pairs append and the sigs append: restore
    // the pre-batch-2 sigs snapshot (batch 2's docs look new again) while
    // pairs retain batch 2's output, drop the mirror (the failed process
    // died), and retry — the regenerated pairs must anti-join away, and
    // the final state must be byte-identical
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/sigs"), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, snap,
      fs, new org.apache.hadoop.fs.Path(s"$dir/sigs"), false,
      spark.sparkContext.hadoopConfiguration)
    Streaming.dropNearDupMirror(dir)
    sink(df(corpus.drop(5)), 2L)
    assert(pairs() == expected)
    assert(spark.read.parquet(s"$dir/sigs").count() == corpus.size.toLong)
  }

  test("incremental near-dup sink: a failed move into sigs fails the batch, and its replay completes it") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultyfs.impl", classOf[FaultyRenameFs].getName)
    val dir = "faultyfs://" +
      java.nio.file.Files.createTempDirectory("graft_nd_rename").toString + "/state"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this other document here"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "short text"),
      (6L, "yet another entirely unrelated document with its own words"),
      (7L, "the quick brown fox jumps over the lazy dog tomorrow"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val sink = Streaming.incrementalNearDupSink("doc_id", "text", dir,
      ngram = 5, threshold = 0.5) _
    sink(df(corpus.take(2)), 0L)
    // a swallowed false would drop the batch's staged docs with the
    // staging dir while the checkpoint commits the batch: the sink must
    // throw so the batch is not committed
    FaultyRenameFs.failSigsMoves = true
    val e = try intercept[java.io.IOException](sink(df(corpus.slice(2, 5)), 1L))
      finally FaultyRenameFs.failSigsMoves = false
    assert(e.getMessage.startsWith("incrementalNearDupSink: failed to move"), e.getMessage)
    // the uncommitted batch replays once the store recovers
    sink(df(corpus.slice(2, 5)), 1L)
    sink(df(corpus.drop(5)), 2L)
    val got = spark.read.parquet(s"$dir/pairs")
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    val expected = graft.operators.Dedup.nearDupPairs(
        df(corpus), "doc_id", "text", 5, 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    assert(got == expected && expected.nonEmpty)
    val sigIds = spark.read.parquet(s"$dir/sigs").select($"doc_id").as[Long].collect().toSeq
    assert(sigIds.sorted == corpus.map(_._1))
  }

  test("incremental near-dup sink: small and AQE execution profiles agree exactly") {
    // the small-batch profile (AQE off, pinned shuffle-hash joins,
    // cartesian-carried gate) changes join strategy only — the same
    // corpus through smallBatchDocs = 0 (every batch plans under AQE)
    // and the default (every batch takes the small profile) must leave
    // byte-identical pairs state
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this other document here"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "short text"),
      (6L, "yet another entirely unrelated document with its own words"),
      (7L, "the quick brown fox jumps over the lazy dog tomorrow"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def ingest(smallBatchDocs: Long): Seq[(Long, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ndprof_eq")
        .toString + "/state"
      val sink = Streaming.incrementalNearDupSink("doc_id", "text", dir,
        ngram = 5, threshold = 0.5, smallBatchDocs = smallBatchDocs) _
      sink(df(corpus.take(2)), 0L)
      sink(df(corpus.slice(2, 5)), 1L)
      sink(df(corpus.drop(5)), 2L)
      spark.read.parquet(s"$dir/pairs")
        .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    }
    val aqe = ingest(smallBatchDocs = 0L)
    val small = ingest(smallBatchDocs = 8192L)
    assert(aqe == small && aqe.nonEmpty)
  }

  test("near-dup sink state survives selective compaction mid-stream") {
    // the sink commits ONE sigs file per micro-batch by design; the
    // compaction executor is the maintenance op that closes that
    // accretion. Compact the sigs ledger BETWEEN batches and the sink
    // must neither lose its replay gate nor change its pairs output.
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_compact")
      .toString + "/state"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this other document here"),
      (4L, "the quick brown fox jumps over the lazy dog today"),
      (5L, "short text"),
      (6L, "yet another entirely unrelated document with its own words"),
      (7L, "the quick brown fox jumps over the lazy dog tomorrow"))
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val sink = Streaming.incrementalNearDupSink("doc_id", "text", dir,
      ngram = 5, threshold = 0.5) _
    sink(df(corpus.take(2)), 0L)
    sink(df(corpus.slice(2, 5)), 1L)
    // maintenance between batches: everything into one file
    graft.operators.Compaction.executeOnDir(spark, s"$dir/sigs", 1L << 30)
    // the tally survives the layout change (row count identical), and a
    // process restart right after compaction must too
    Streaming.dropNearDupMirror(dir)
    sink(df(corpus.drop(5)), 2L)
    // replay across the compacted ledger is still a no-op
    sink(df(corpus.slice(2, 5)), 1L)
    val got = spark.read.parquet(s"$dir/pairs")
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    val expected = graft.operators.Dedup.nearDupPairs(
        df(corpus), "doc_id", "text", 5, 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect().toSeq
    assert(got == expected && expected.nonEmpty)
    assert(spark.read.parquet(s"$dir/sigs").count() == corpus.size.toLong)
  }

  test("incremental near-dup sink: CUMULATIVE volume gate raises on a saturated corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_cap").toString + "/state"
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def batchDf(ids: Range) = ids.map(i => (i.toLong, text)).toDF("doc_id", "text")
    val sink = Streaming.incrementalNearDupSink("doc_id", "text", dir) _
    // batch 0: 50 mutually-duplicate docs — C(50,2) = 1225 candidates,
    // under the 32×50 cumulative cap, so it commits
    sink(batchDf(0 until 50), 0L)
    assert(spark.read.parquet(s"$dir/pairs").count() == 1225L)
    // batch 1: 50 MORE of the same — the batch alone is modest, but the
    // cumulative admitted volume (1225 + 3725 = 4950) crosses 32×100, and
    // the pre-join slot bound (32·50·99 slots > 2·32·remaining budget)
    // PROVES it before the pair join streams: the raise fires in-plan
    val e = intercept[Throwable] { sink(batchDf(50 until 100), 1L) }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("duplicate-saturated"), msgs)
    // the failed batch must not have committed its docs
    assert(spark.read.parquet(s"$dir/sigs").count() == 50L)
  }

  test("ST5 windowed engagement over MemoryStream matches the batch twin") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.windowedEngagement(mem.toDF(), watermark = "10 minutes", win = "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("eng").start()
    try {
      mem.addData(Ev(1, ts(1), 2.0), Ev(1, ts(2), 3.0), Ev(2, ts(1), 1.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts(11), 7.0)) // next window
      q.processAllAvailable()
      val got = spark.table("eng")
        .select($"user_id", $"hour_ts", $"n_events", $"sum_value")
        .orderBy($"user_id", $"hour_ts")
        .as[(Long, Timestamp, Long, Double)].collect()
      assert(got sameElements Array(
        (1L, ts(0), 2L, 5.0), (1L, ts(10), 1L, 7.0), (2L, ts(0), 1L, 1.0)))
      // batch twin over the same rows produces the same aggregate
      val batch = Seq(Ev(1, ts(1), 2.0), Ev(1, ts(2), 3.0), Ev(2, ts(1), 1.0), Ev(1, ts(11), 7.0))
        .toDF()
        .groupBy($"user_id", window($"ts", "10 minutes"))
        .agg(count(lit(1)).as("n"), sum($"value".cast("decimal(18,2)")).cast("double").as("sv"))
        .select($"user_id", $"window.start", $"n", $"sv")
        .orderBy($"user_id", $"window.start")
        .as[(Long, Timestamp, Long, Double)].collect()
      assert(batch sameElements got)
    } finally q.stop()
  }

  test("stream-static broadcast enrichment matches the batch join, misses survive") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Streaming.staticEnrich(mem.toDF(), dim, "user_id")
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    try {
      mem.addData(Ev(1, ts(1), 2.0), Ev(3, ts(2), 5.0)) // user 3 not in dim
      q.processAllAvailable()
      mem.addData(Ev(2, ts(3), 1.0))
      q.processAllAvailable()
      val got = spark.table("enrich")
        .select($"user_id", $"value", $"tier")
        .orderBy($"user_id").as[(Long, Double, Option[String])].collect()
      assert(got.toSeq == Seq((1L, 2.0, Some("gold")),
        (2L, 1.0, Some("silver")), (3L, 5.0, None)))
      // batch twin: identical rows through the same operator
      val batch = Streaming.staticEnrich(
          Seq(Ev(1, ts(1), 2.0), Ev(3, ts(2), 5.0), Ev(2, ts(3), 1.0)).toDF(), dim, "user_id")
        .select($"user_id", $"value", $"tier")
        .orderBy($"user_id").as[(Long, Double, Option[String])].collect()
      assert(batch.toSeq == got.toSeq)
    } finally q.stop()
  }

  test("insert-if-absent sink: at-least-once replay degrades to exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    val b1 = Seq(("a", 1), ("b", 2), ("a", 0)).toDF("_id", "v") // intra-batch dup
    Streaming.insertIfAbsentSink("_id", dir)(b1, 0L)
    Streaming.insertIfAbsentSink("_id", dir)(b1, 0L) // full replay of batch
    val b2 = Seq(("b", 99), ("c", 3)).toDF("_id", "v") // cross-batch dup
    Streaming.insertIfAbsentSink("_id", dir)(b2, 1L)
    val got = spark.read.parquet(dir).orderBy($"_id").as[(String, Int)].collect()
    assert(got sameElements Array(("a", 0), ("b", 2), ("c", 3)))
  }

  test("ST5 sliding windows: events appear in every overlapping window") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.slidingEngagement(mem.toDF(), win = "20 minutes", slide = "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sliding").start()
    try {
      mem.addData(Ev(1, ts(15), 4.0)) // windows [0,20) and [10,30)
      q.processAllAvailable()
      val got = spark.table("sliding")
        .select($"win_start", $"n_events", $"sum_value").orderBy($"win_start")
        .as[(Timestamp, Long, Double)].collect()
      assert(got sameElements Array((ts(0), 1L, 4.0), (ts(10), 1L, 4.0)))
    } finally q.stop()
  }

  test("ST5 session windows: gap splits sessions, burst merges") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.sessionEngagement(mem.toDF(), gap = "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("sessions").start()
    try {
      // burst at :01,:05 (one session), silence, then :30 (new session)
      mem.addData(Ev(1, ts(1), 1.0), Ev(1, ts(5), 2.0), Ev(1, ts(30), 7.0))
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select($"session_start", $"n_events", $"sum_value").orderBy($"session_start")
        .as[(Timestamp, Long, Double)].collect()
      assert(got sameElements Array((ts(1), 2L, 3.0), (ts(30), 1L, 7.0)))
    } finally q.stop()
  }

  test("last-write-wins upsert: newest version survives, replay-safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lww").toString + "/state"
    val b1 = Seq(("a", 1L, "v1"), ("b", 1L, "v1")).toDF("_id", "version", "payload")
    val b2 = Seq(("a", 2L, "v2"), ("c", 1L, "v1")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b1, 0L)
    Streaming.upsertLastWinsSink("_id", "version", dir)(b2, 1L)
    Streaming.upsertLastWinsSink("_id", "version", dir)(b2, 1L) // replay
    val got = spark.read.parquet(dir).orderBy($"_id")
      .as[(String, Long, String)].collect()
    assert(got sameElements Array(("a", 2L, "v2"), ("b", 1L, "v1"), ("c", 1L, "v1")))
  }

  test("last-write-wins upsert fails loudly on schema drift instead of dropping state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lww_drift").toString + "/state"
    val b1 = Seq(("a", 1L, "v1")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b1, 0L)
    val drifted = Seq(("b", 2L)).toDF("_id", "version") // payload column gone
    intercept[org.apache.spark.sql.AnalysisException] {
      Streaming.upsertLastWinsSink("_id", "version", dir)(drifted, 1L)
    }
    // state intact after the failed batch
    val got = spark.read.parquet(dir).as[(String, Long, String)].collect()
    assert(got sameElements Array(("a", 1L, "v1")))
  }

  test("last-write-wins swap recovers from a crash at every window") {
    // rename-aside swap: cur -> _old, next -> cur, drop _old. Simulate the
    // two crash windows and assert no merged state is ever lost.
    val base = java.nio.file.Files.createTempDirectory("graft_lww_crash").toString
    val dir = s"$base/state"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val b1 = Seq(("a", 1L, "v1")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b1, 0L)

    // crash window 1: after cur -> _old, before next -> cur. The merged
    // state (a + b) lives ONLY in _next; the old delete-then-rename code
    // lost it (next batch saw "no state" and overwrote _next).
    Seq(("a", 1L, "v1"), ("b", 2L, "v1")).toDF("_id", "version", "payload")
      .write.parquet(dir + "_next")
    assert(fs.rename(p(dir), p(dir + "_old")))
    val b3 = Seq(("c", 3L, "v1")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b3, 2L)
    var got = spark.read.parquet(dir).orderBy($"_id").as[(String, Long, String)].collect()
    assert(got sameElements Array(("a", 1L, "v1"), ("b", 2L, "v1"), ("c", 3L, "v1")))
    assert(!fs.exists(p(dir + "_old")) && !fs.exists(p(dir + "_next")))

    // crash window 2: _next written but swap never started (live state
    // dir). That batch never committed to the streaming checkpoint, so it
    // replays — the stale _next must be DROPPED, not merged.
    Seq(("zz", 9L, "stale")).toDF("_id", "version", "payload")
      .write.parquet(dir + "_next")
    val b4 = Seq(("d", 4L, "v1")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b4, 3L)
    got = spark.read.parquet(dir).orderBy($"_id").as[(String, Long, String)].collect()
    assert(got sameElements Array(
      ("a", 1L, "v1"), ("b", 2L, "v1"), ("c", 3L, "v1"), ("d", 4L, "v1")))
  }

  test("golden-record sink: per-field survivorship across batches ≡ batch operator; replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString + "/state"
    // b2's newer record for key a has a NULL city: the older city must
    // survive while the newer phone replaces — the survivorship semantics
    // upsertLastWins cannot express
    val b1 = Seq(("a", 1L, "555-0", "munich"), ("b", 1L, "555-9", "rome"))
      .toDF("_id", "version", "phone", "city")
    val b2 = Seq(("a", 2L, "555-1", null.asInstanceOf[String]),
      ("c", 1L, null.asInstanceOf[String], "oslo"))
      .toDF("_id", "version", "phone", "city")
    val sink = Streaming.goldenRecordSink("_id", "version",
      Seq("phone", "city"), dir) _
    sink(b1, 0L); sink(b2, 1L)
    def state() = spark.read.parquet(dir)
      .select($"_id", $"version", $"phone", $"city", $"n_records")
      .orderBy($"_id")
      .as[(String, Long, Option[String], Option[String], Long)].collect()
    val afterB2 = state()
    assert(afterB2 sameElements Array(
      ("a", 2L, Some("555-1"), Some("munich"), 2L),
      ("b", 1L, Some("555-9"), Some("rome"), 1L),
      ("c", 1L, None, Some("oslo"), 1L)))
    // replay of a committed batch is skipped by the _applied marker
    // (n_records would otherwise double)
    sink(b2, 1L)
    assert(state() sameElements afterB2)
    // partial ≡ direct: the maintained state equals the batch operator
    // over the union of all rows (ties impossible: versions unique per key)
    val direct = graft.operators.Dedup.goldenRecord(
        b1.unionByName(b2), "_id",
        order = Seq($"version".desc), fields = Seq("version", "phone", "city"))
      .select($"_id", $"version", $"phone", $"city", $"n_records")
      .orderBy($"_id")
      .as[(String, Long, Option[String], Option[String], Long)].collect()
    assert(afterB2 sameElements direct)
  }

  test("golden-record sink: OUT-OF-ORDER arrival still equals the batch operator (ADVICE r16)") {
    // The exact counterexample from ADVICE r16: batch1 carries
    // {(v=5, phone=null), (v=1, phone=A)}; batch2 a LATE (v=3, phone=B).
    // State after batch1 is (version=5, phone=A) — but phone=A's
    // provenance is v=1, so the late v=3 B must replace it. A state row
    // that only carries the key's max version re-attributes A to v=5 and
    // wrongly keeps it; the per-field __v_ provenance columns fold
    // correctly.
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_ooo").toString + "/state"
    val sink = Streaming.goldenRecordSink("_id", "version", Seq("phone"), dir) _
    val b1 = Seq(("a", 5L, null.asInstanceOf[String]), ("a", 1L, "A"))
      .toDF("_id", "version", "phone")
    val b2 = Seq(("a", 3L, "B")).toDF("_id", "version", "phone")
    sink(b1, 0L); sink(b2, 1L)
    val got = spark.read.parquet(dir)
      .select($"_id", $"version", $"phone", $"n_records")
      .as[(String, Long, Option[String], Long)].collect()
    assert(got sameElements Array(("a", 5L, Some("B"), 3L)),
      s"late v=3 B must beat the v=1-provenance A under the v=5 max: ${got.toSeq}")
    // and the full partial≡direct property over the out-of-order union
    val direct = graft.operators.Dedup.goldenRecord(
        b1.unionByName(b2).filter($"version".isNotNull), "_id",
        order = Seq($"version".desc), fields = Seq("version", "phone"))
      .select($"_id", $"version", $"phone")
      .as[(String, Long, Option[String])].collect()
    assert(direct sameElements Array(("a", 5L, Some("B"))))
  }

  test("golden-record sink: crash windows repair via the marker discipline") {
    val base = java.nio.file.Files.createTempDirectory("graft_golden_crash").toString
    val dir = s"$base/state"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val sink = Streaming.goldenRecordSink("_id", "version", Seq("payload"), dir) _
    sink(Seq(("a", 1L, "v1")).toDF("_id", "version", "payload"), 0L)
    // crash after cur -> _old, before publish: the fully-merged _next
    // (with its marker — written before the swap begins) must be published
    assert(fs.rename(p(dir), p(dir + "_next_tmp")))
    assert(fs.rename(p(dir + "_next_tmp"), p(dir + "_next")))
    sink(Seq(("b", 1L, "v1")).toDF("_id", "version", "payload"), 1L)
    val got = spark.read.parquet(dir).select($"_id").orderBy($"_id")
      .as[String].collect()
    assert(got sameElements Array("a", "b"))
    // a marker-LESS _next (crash mid-write on a later batch, live state
    // dir) is dropped, never merged
    Seq(("zz", 9L, "stale")).toDF("_id", "version", "payload")
      .write.parquet(dir + "_next")
    fs.delete(p(dir + "_next/_applied"), false): Unit
    sink(Seq(("c", 1L, "v1")).toDF("_id", "version", "payload"), 2L)
    val got2 = spark.read.parquet(dir).select($"_id").orderBy($"_id")
      .as[String].collect()
    assert(got2 sameElements Array("a", "b", "c"))
  }

  test("stream-stream interval join matches its batch twin") {
    implicit val sq = spark.sqlContext
    case class E(user_id: Long, ts: Timestamp, event_id: Long)
    val pm = MemoryStream[(Long, Timestamp, Long)]
    val cm = MemoryStream[(Long, Timestamp, Long)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("user_id", "ts", "event_id")
    val q = Streaming.streamStreamAttribution(named(pm.toDF()), named(cm.toDF()))
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      // user 1: clicks at :01 and :03, purchase at :05 -> both attributed;
      // click at :20 is after the purchase; user 2's click is 30 min
      // before its purchase -> outside the horizon
      cm.addData((1L, ts(1), 101L), (1L, ts(3), 102L), (2L, ts(1), 201L))
      pm.addData((1L, ts(5), 501L), (2L, ts(31), 502L))
      q.processAllAvailable()
      cm.addData((1L, ts(20), 103L)) // arrives later, still no match
      q.processAllAvailable()
      val got = spark.table("ssj")
        .select($"purchase_id", $"click_id").orderBy($"purchase_id", $"click_id")
        .as[(Long, Long)].collect()
      assert(got sameElements Array((501L, 101L), (501L, 102L)))
      // batch twin: identical join condition over static frames
      val pb = named(Seq((1L, ts(5), 501L), (2L, ts(31), 502L)).toDF())
        .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"))
      val cb = named(Seq((1L, ts(1), 101L), (1L, ts(3), 102L), (2L, ts(1), 201L), (1L, ts(20), 103L)).toDF())
        .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
      val batch = pb.join(cb, $"user_id" === $"c_user" &&
          $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 10 minutes"))
        .select($"purchase_id", $"click_id").orderBy($"purchase_id", $"click_id")
        .as[(Long, Long)].collect()
      assert(batch sameElements got)
    } finally q.stop()
  }

  test("skyline sink: chunked == batch frontier; replay no-op; crash recovery; dominators shrink state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_skyline").toString + "/state"
    val all = Seq((1L, 1L, 5L), (2L, 3L, 3L), (3L, 5L, 1L), (4L, 2L, 2L),
      (5L, 5L, 1L), (6L, 0L, 6L), (7L, 4L, 2L)).toDF("id", "x", "y")
    val sink = Streaming.skylineSink("x", "y", dir) _
    // chunks deliberately split the duplicate frontier point (5,1) across batches
    sink(all.filter($"id" <= 2), 0L)
    sink(all.filter($"id" === 3 || $"id" === 4), 1L)
    sink(all.filter($"id" >= 5), 2L)
    sink(all.filter($"id" >= 5), 2L) // foreachBatch replay: skipped by marker
    def state() = spark.read.parquet(dir).orderBy($"id").as[(Long, Long, Long)].collect()
    val exp = graft.operators.Skyline.skyline2d(all, "x", "y")
      .orderBy($"id").as[(Long, Long, Long)].collect()
    assert(state() sameElements exp)
    assert(exp.map(_._1).toSet == Set(1L, 2L, 3L, 5L, 6L, 7L)) // both (5,1) copies
    // crash between move-aside and publish while applying batch 3: merged
    // state lives only in _next; recovery must publish it and the replay
    // of batch 3 must be a marker-skip (re-merging is harmless for a
    // skyline — idempotent — but the discipline is shared with the
    // non-idempotent sinks, so pin it)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val b3 = Seq((8L, 6L, 0L)).toDF("id", "x", "y") // new frontier point
    graft.operators.Skyline.skyline2d(
        b3.unionByName(spark.read.parquet(dir)), "x", "y")
      .write.parquet(dir + "_next")
    val out = fs.create(p(dir + "_next/_applied"), true)
    out.write("3".getBytes("UTF-8")); out.close()
    assert(fs.rename(p(dir), p(dir + "_old")))
    sink(b3, 3L) // the replay after the crash
    assert(state().map(_._1).toSet == Set(1L, 2L, 3L, 5L, 6L, 7L, 8L))
    // a dominating point collapses the whole frontier to itself
    sink(Seq((9L, 9L, 9L)).toDF("id", "x", "y"), 4L)
    assert(state().toSeq == Seq((9L, 9L, 9L)))
  }

  test("ewma sink: chunked fold == batch ewmaSmooth; replay no-op; silent keys persist") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma").toString + "/state"
    val all = Seq((1L, 1L, 3.5), (1L, 2L, 0.01), (1L, 3L, 490.02), (1L, 4L, 1.0),
      (2L, 1L, 42.42), (3L, 1L, 0.07), (3L, 2L, 0.03)).toDF("g", "ord", "x")
    val sink = Streaming.ewmaSink("g", Seq("ord"), "x", 2, 4, dir) _
    sink(all.filter($"ord" <= 2), 0L) // keys 2 and 3 go silent after this
    sink(all.filter($"ord" === 3), 1L)
    sink(all.filter($"ord" === 4), 2L)
    sink(all.filter($"ord" === 4), 2L) // foreachBatch replay: marker skip
    val got = spark.read.parquet(dir)
      .select($"g", $"n_obs", $"ewma_fp").orderBy($"g").as[(Long, Long, Long)].collect()
    val exp = graft.operators.Profiler.ewmaSmooth(all, "g", Seq("ord"), "x",
        alphaShift = 2, scale = 4)
      .select($"g", $"n_obs", $"ewma_fp").orderBy($"g").as[(Long, Long, Long)].collect()
    assert(got sameElements exp)
  }

  test("hll distinct sink: chunked union == one-shot sketch; estimate near exact; replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString + "/state"
    val rnd = new scala.util.Random(9)
    val all = (1 to 3000).map(i => (s"g${i % 3}", s"u${rnd.nextInt(400)}"))
      .toDF("g", "u")
    val sink = Streaming.hllDistinctSink("g", "u", dir) _
    sink(all.limit(1000), 0L)
    sink(all.offset(1000).limit(1000), 1L)
    sink(all.offset(2000), 2L)
    sink(all.offset(2000), 2L) // replay: marker skip
    val got = spark.read.parquet(dir)
      .select($"g", $"n_distinct_est").orderBy($"g").as[(String, Double)].collect()
    // mergeability: union-of-batch-sketches == sketch-of-union, exactly
    val oneShot = all.groupBy($"g")
      .agg(hll_sketch_estimate(hll_sketch_agg($"u", lit(12))).as("est"))
      .orderBy($"g").as[(String, Double)].collect()
    assert(got sameElements oneShot)
    // and the estimate lands near the exact distinct (HLL lgK=12 ⇒ ~1.6% rse)
    val exact = all.groupBy($"g").agg(countDistinct($"u").as("d"))
      .orderBy($"g").as[(String, Long)].collect().toMap
    got.foreach { case (g, est) =>
      assert(math.abs(est - exact(g)) / exact(g).toDouble < 0.05, s"$g: $est vs ${exact(g)}")
    }
  }

  test("psi drift sink: reference frozen at batch 0; ledger == batch PSI; replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_psi").toString + "/state"
    def mk(vs: Seq[Int]) = vs.map(_.toDouble).toDF("v")
    val ref = mk(1 to 100)            // reference distribution
    val same = mk(2 to 101)           // essentially the same bins
    val shifted = mk(501 to 600)      // disjoint support → large PSI
    val sink = Streaming.psiDriftSink("v", 10L, dir) _
    sink(ref, 0L); sink(same, 1L); sink(shifted, 2L)
    sink(shifted, 2L) // replay: marker skip, no duplicate ledger row
    val ledger = spark.read.parquet(s"$dir/ledger")
      .orderBy($"batch_id").as[(Long, Long, Double)].collect()
    assert(ledger.map(_._1).toSeq == Seq(1L, 2L))
    assert(ledger(0)._3 < 0.1 && ledger(1)._3 > 0.25) // watch/act thresholds
    // the streamed PSI is definitionally the batch operator's
    val direct = graft.operators.Profiler.distributionDrift(ref, shifted, "v", 10L)
      .select($"psi").head().getDouble(0)
    assert(ledger(1)._3 == direct)
    // reference pinned: batch 0's bins survive every later swap
    val refBins = spark.read.parquet(s"$dir/ref").orderBy($"bin")
      .as[(Long, Long)].collect()
    assert(refBins.map(_._2).sum == 100L)
  }

  test("psi drift sink: empty batches never freeze the reference; later empty scores 0.0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_psi_e").toString + "/state"
    def mk(vs: Seq[Int]) = vs.map(_.toDouble).toDF("v")
    val sink = Streaming.psiDriftSink("v", 10L, dir) _
    sink(mk(Seq.empty), 0L)                      // empty micro-batch at stream start
    sink(Seq[Option[Double]](None, None).toDF("v"), 1L) // all-null batch
    assert(!new java.io.File(dir).exists())      // nothing frozen, nothing written
    sink(mk(1 to 100), 2L)                       // first NON-EMPTY batch freezes
    sink(mk(Seq.empty), 3L)                      // empty vs frozen ref: 0.0, not a crash
    sink(mk(501 to 600), 4L)                     // real drift still detected after
    val ledger = spark.read.parquet(s"$dir/ledger").orderBy($"batch_id")
      .as[(Long, Long, Double)].collect()
    assert(ledger.map(r => (r._1, r._3 == 0.0)).toSeq == Seq((3L, true), (4L, false)))
    assert(ledger(1)._3 > 0.25)
    // the reference is batch 2's 100 values, not an empty histogram
    assert(spark.read.parquet(s"$dir/ref").agg(sum($"n_a")).as[Long].head() == 100L)
  }

  test("embedding drift sink: frozen codebook; ledger ≡ direct batch score; replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embdrift").toString + "/state"
    def mk(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    // reference: two exact clusters; seeds (ids 0, 1) land one per cluster
    val ref = mk(Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(1.0, 0.0, 0.0, 0.0)), (5L, Seq(0.0, 1.0, 0.0, 0.0)),
      (6L, Seq(1.0, 0.0, 0.0, 0.0)), (7L, Seq(0.0, 1.0, 0.0, 0.0))))
    // later batch: cluster-A members slid +0.3 along dim 3 (a content
    // shift PSI alone cannot see at stable shares), one stable B member
    val moved = mk(Seq(
      (10L, Seq(1.0, 0.0, 0.3, 0.0)), (11L, Seq(1.0, 0.0, 0.3, 0.0)),
      (12L, Seq(0.0, 1.0, 0.0, 0.0))))
    val sink = Streaming.embeddingDriftSink("vec_id", "embedding", 2, 2, dir) _
    sink(ref, 0L); sink(moved, 1L)
    sink(moved, 1L) // replay: marker skip, no duplicate ledger row
    val ledger = spark.read.parquet(s"$dir/ledger").orderBy($"batch_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(ledger.length == 1 && ledger(0)._1 == 1L && ledger(0)._2 == 3L)
    // centroid shift: A slid 0.3, B stayed → mean 0.15, max 0.3
    assert(math.abs(ledger(0)._4 - 0.15) < 1e-6 && math.abs(ledger(0)._5 - 0.3) < 1e-6)
    assert(ledger(0)._3 > 0.0, "share moved 4:4 -> 2:1: nonzero assignment PSI")
    // ledger ≡ the direct batch computation against the SAME frozen state
    // (shared scoreEmbeddingBatch + the state round-trip)
    val (centroids, assign) = graft.operators.Clustering.kmeansFit(
      ref, "vec_id", "embedding", k = 2, iters = 2)
    assert(Streaming.readCentroids(spark, s"$dir/centroids").map(_.toSeq).toSeq ==
      centroids.map(_.toSeq).toSeq, "frozen codebook round-trips exactly")
    val refHist = assign.groupBy($"cluster".cast("long").as("bin"))
      .agg(count(lit(1)).as("n_a"))
    val (psi, meanS, maxS) = Streaming.scoreEmbeddingBatch(
      moved, "vec_id", "embedding", centroids, refHist)
    assert(ledger(0)._3 == psi && ledger(0)._4 == meanS && ledger(0)._5 == maxS)
  }

  test("embedding drift sink: chunked ≡ per-chunk direct; reference never drifts; sub-k skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embdrift_c").toString + "/state"
    def mk(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    val ref = mk(Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, Seq(0.0, 1.0, 0.0, 0.0))))
    val sink = Streaming.embeddingDriftSink("vec_id", "embedding", 2, 2, dir) _
    // a batch with fewer than k vectors must NOT freeze a degenerate codebook
    sink(mk(Seq((99L, Seq(0.5, 0.5, 0.0, 0.0)))), 0L)
    assert(!new java.io.File(dir).exists())
    sink(ref, 1L) // first freezable batch freezes
    val chunk1 = mk(Seq((10L, Seq(1.0, 0.0, 0.4, 0.0))))
    val chunk2 = mk(Seq((11L, Seq(0.0, 1.0, 0.0, 0.0)), (12L, Seq(0.0, 1.0, 0.0, 0.0))))
    val before = Streaming.readCentroids(spark, s"$dir/centroids").map(_.toSeq).toSeq
    sink(chunk1, 2L); sink(chunk2, 3L)
    // reference state is invariant under later batches
    assert(Streaming.readCentroids(spark, s"$dir/centroids").map(_.toSeq).toSeq == before)
    assert(spark.read.parquet(s"$dir/hist").agg(sum($"n_a")).as[Long].head() == 4L)
    // each chunk's ledger row equals the direct score of exactly that chunk
    val (centroids, assign) = graft.operators.Clustering.kmeansFit(
      ref, "vec_id", "embedding", k = 2, iters = 2)
    val refHist = assign.groupBy($"cluster".cast("long").as("bin"))
      .agg(count(lit(1)).as("n_a"))
    val ledger = spark.read.parquet(s"$dir/ledger").orderBy($"batch_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    val d1 = Streaming.scoreEmbeddingBatch(chunk1, "vec_id", "embedding", centroids, refHist)
    val d2 = Streaming.scoreEmbeddingBatch(chunk2, "vec_id", "embedding", centroids, refHist)
    assert(ledger.map(r => (r._1, (r._3, r._4, r._5))).toSeq ==
      Seq((2L, d1), (3L, d2)))
    // the slid A member registers its full 0.4 shift in chunk 1
    assert(math.abs(ledger(0)._5 - 0.4) < 1e-6)
  }

  test("cusum sink: chunked stream ≡ whole-series fold; replay no-op; silent keys ride") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString + "/state"
    // the AnalyticsSpec shift series: 4 lows then 4 highs, target 5,
    // k = 1, h = 10 → smax_pos = smax_neg = 16, alarm
    val series = (1 to 4).map(i => (1L, i.toLong, 0.0)) ++
      (5 to 8).map(i => (1L, i.toLong, 10.0))
    val sink = Streaming.cusumSink("g", Seq("i"), "x",
      target = 5.0, slack = 1.0, threshold = 10.0, scale = 0, dir) _
    // chunked 3/3/2, plus a second key active only in batch 0
    sink((series.take(3) :+ ((2L, 1L, 5.0))).toDF("g", "i", "x"), 0L)
    sink(series.slice(3, 6).toDF("g", "i", "x"), 1L)
    sink(series.slice(3, 6).toDF("g", "i", "x"), 1L) // replay: marker no-op
    sink(series.drop(6).toDF("g", "i", "x"), 2L)
    val st = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(4), r.getLong(7), r.getBoolean(8)))).toMap
    // whole-series reference fold (the prefix-sum identity, driver-side)
    def ref(xs: Seq[Long], dev: Long => Long): Long =
      xs.foldLeft((0L, 0L, 0L)) { case ((p, m, s), x) =>
        val p2 = p + dev(x); val m2 = math.min(m, p2)
        (p2, m2, math.max(s, p2 - math.min(0L, m2)))
      }._3
    val xs = series.map(_._3.toLong)
    assert(st(1L) == ((8L, ref(xs, x => x - 6), ref(xs, x => 4 - x), true)))
    assert(st(1L)._2 == 16L && st(1L)._3 == 16L)
    // key 2: one on-target observation, silent afterwards — state rides
    assert(st(2L) == ((1L, 0L, 0L, false)))
  }

  test("marker sinks: a half-written _next with no live state is discarded, not published") {
    // first-batch crash mid-write: psiDriftSink wrote ref/ but died before
    // ledger/ and _applied — recovery must DELETE the torn _next (publishing
    // it would crash-loop every later ledger read)
    val base = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val dir = base + "/state"
    def mk(vs: Seq[Int]) = vs.map(_.toDouble).toDF("v")
    mk(1 to 10).selectExpr("CAST(v AS BIGINT) AS bin", "1L AS n_a")
      .write.parquet(s"${dir}_next/ref") // torn: no ledger, no _applied
    val sink = Streaming.psiDriftSink("v", 10L, dir) _
    sink(mk(1 to 100), 0L); sink(mk(501 to 600), 1L)
    val ledger = spark.read.parquet(s"$dir/ledger").as[(Long, Long, Double)].collect()
    assert(ledger.map(_._1).toSeq == Seq(1L))
    assert(!new java.io.File(s"${dir}_next").exists())
    assert(spark.read.parquet(s"$dir/ref").agg(sum($"n_a")).as[Long].head() == 100L)

    // same window for a single-table marker sink: a marker-less _next must
    // never become live state (the replayed batch would double-fold EWMA)
    val edir = base + "/ewma"
    Seq(("g", 1L, 100L)).toDF("g", "n_obs", "ewma_fp").write.parquet(s"${edir}_next")
    val esink = Streaming.ewmaSink("g", Seq("i"), "x", 1, 0, edir) _
    esink(Seq(("g", 1L, 8.0), ("g", 2L, 16.0)).toDF("g", "i", "x"), 0L)
    val st = spark.read.parquet(edir).as[(String, Long, Long)].head()
    assert(st == (("g", 2L, 12L))) // seed 8, then 8+((16−8)>>1) — no torn-state merge
  }

  test("hll / cusum / embedding-drift sinks: both crash windows repair to the uninterrupted state") {
    val base = java.nio.file.Files.createTempDirectory("graft_marker_crash").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(base).getFileSystem(conf)
    def copy(from: String, to: String): Unit =
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(from), fs, p(to), false, conf))
    def same(a: String, b: String): Boolean = {
      val (x, y) = (spark.read.parquet(a), spark.read.parquet(b))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    val rnd = new scala.util.Random(3)
    val hll = (1 to 600).map(i => (s"g${i % 3}", s"u${rnd.nextInt(150)}")).toDF("g", "u")
    val cusum = ((1 to 4).map(i => (1L, i.toLong, 0.0)) ++
      (5 to 8).map(i => (1L, i.toLong, 10.0))).toDF("g", "i", "x")
    def emb(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    def vals(xs: Long*) = xs.toDF("v")
    // (sink over a state dir, its three batches, the tables of its state)
    val cases: Seq[(String => (org.apache.spark.sql.DataFrame, Long) => Unit,
      Seq[org.apache.spark.sql.DataFrame], Seq[String])] = Seq(
      (d => Streaming.hllDistinctSink("g", "u", d) _,
        Seq(hll.limit(200), hll.offset(200).limit(200), hll.offset(400)), Seq("")),
      (d => Streaming.cusumSink("g", Seq("i"), "x", 5.0, 1.0, 10.0, 0, d) _,
        Seq(cusum.filter($"i" <= 3), cusum.filter($"i".between(4, 6)),
          cusum.filter($"i" > 6)), Seq("")),
      (d => Streaming.embeddingDriftSink("vec_id", "embedding", 2, 2, d) _,
        Seq(emb((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
            (2L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, Seq(0.0, 1.0, 0.0, 0.0))),
          emb((10L, Seq(1.0, 0.0, 0.4, 0.0))),
          emb((11L, Seq(0.0, 1.0, 0.0, 0.0)), (12L, Seq(0.0, 1.0, 0.0, 0.0)))),
        Seq("/centroids", "/hist", "/ledger")),
      (d => Streaming.ewmaSink("g", Seq("i"), "x", 1, 0, d) _,
        Seq(cusum.filter($"i" <= 3), cusum.filter($"i".between(4, 6)),
          cusum.filter($"i" > 6)), Seq("")),
      (d => Streaming.psiDriftSink("v", 10L, d) _,
        Seq(vals(1, 2, 3, 11, 12), vals(1, 21, 22), vals(2, 3, 31)),
        Seq("/ref", "/ledger")))
    for (((sinkAt, bs, tables), c) <- cases.zipWithIndex) {
      val Seq(ref, merged, crashA, crashB) =
        Seq("ref", "merged", "a", "b").map(w => s"$base/$c/$w")
      def run(dir: String, ids: Int*): Unit = ids.foreach(i => sinkAt(dir)(bs(i), i.toLong))
      run(ref, 0, 1, 2)
      // window A: batch 1's merged state (with its marker) lives only in
      // _next and the live dir was moved aside; recovery publishes _next,
      // and the replay of batch 1 is skipped
      run(merged, 0, 1)
      run(crashA, 0)
      copy(merged, crashA + "_next")
      assert(fs.rename(p(crashA), p(crashA + "_old")))
      run(crashA, 1, 2)
      // window B: a stale _next (marked batch 2, holding batch 1's state)
      // beside the live dir is dropped, and batch 2 is applied
      run(crashB, 0, 1)
      copy(crashB, crashB + "_next")
      val out = fs.create(p(crashB + "_next/_applied"), true)
      out.write("2".getBytes("UTF-8")); out.close()
      run(crashB, 2)
      for (dir <- Seq(crashA, crashB)) {
        assert(!fs.exists(p(dir + "_next")) && !fs.exists(p(dir + "_old")), dir)
        tables.foreach(t => assert(same(dir + t, ref + t), s"$dir$t differs from $ref$t"))
      }
    }
  }

  test("incremental rollup sink: state == direct aggregate; replays are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup").toString + "/state"
    val b0 = Seq((1L, 2.0, 5L), (1L, 3.0, 7L), (2L, 1.0, 2L)).toDF("k", "v", "m")
      .groupBy($"k").agg(count(lit(1)).as("cnt"), sum($"v").as("sv"), max($"m").as("mx"))
    val b1 = Seq((1L, 10.0, 1L), (3L, 4.0, 9L)).toDF("k", "v", "m")
      .groupBy($"k").agg(count(lit(1)).as("cnt"), sum($"v").as("sv"), max($"m").as("mx"))
    val sink = Streaming.incrementalRollupSink("k", Seq("cnt", "sv"), Seq("mx"), dir) _
    sink(b0, 0L); sink(b1, 1L)
    sink(b1, 1L) // foreachBatch replay: same batchId must be skipped
    val got = spark.read.parquet(dir).orderBy($"k")
      .as[(Long, Long, Double, Long)].collect()
    // direct aggregate over ALL underlying rows (the A2 merge property)
    assert(got sameElements Array((1L, 3L, 15.0, 7L), (2L, 1L, 1.0, 2L), (3L, 1L, 4.0, 9L)))
    // a later batch still applies after the skipped replay
    val b2 = Seq((2L, 6.0, 8L)).toDF("k", "v", "m")
      .groupBy($"k").agg(count(lit(1)).as("cnt"), sum($"v").as("sv"), max($"m").as("mx"))
    sink(b2, 2L)
    val after = spark.read.parquet(dir).filter($"k" === 2L)
      .as[(Long, Long, Double, Long)].head()
    assert(after == ((2L, 2L, 7.0, 8L)))
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after the watermark") {
    implicit val sq = spark.sqlContext
    val pm = MemoryStream[(Long, Timestamp, Long)]
    val cm = MemoryStream[(Long, Timestamp, Long)]
    def named(df: org.apache.spark.sql.DataFrame) = df.toDF("user_id", "ts", "event_id")
    val q = Streaming.streamStreamAttribution(
        named(pm.toDF()), named(cm.toDF()), joinType = "left_outer")
      .writeStream.outputMode("append").format("memory").queryName("ssj_outer").start()
    try {
      // user 1's purchase has a click in-horizon; user 3's has none
      cm.addData((1L, ts(4), 101L))
      pm.addData((1L, ts(5), 501L), (3L, ts(5), 503L))
      q.processAllAvailable()
      // advance BOTH watermarks far past ts(5)+horizon so "no match" is final
      cm.addData((9L, ts(59), 999L)); pm.addData((9L, ts(59), 998L))
      q.processAllAvailable()
      cm.addData((9L, ts(59), 997L)); pm.addData((9L, ts(59), 996L))
      q.processAllAvailable()
      val got = spark.table("ssj_outer")
        .filter($"user_id".isin(1L, 3L))
        .select($"purchase_id", $"click_id").orderBy($"purchase_id")
        .as[(Long, Option[Long])].collect()
      assert(got sameElements Array((501L, Some(101L)), (503L, None)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions: event-time timeout closes, burst stays open") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = Streaming.statefulSessions(mem.toDS(),
        watermark = "5 minutes", gapMs = 10L * 60 * 1000)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      // burst at :05-:06, then a batch carrying a LATE (above-watermark)
      // :03 event plus :08 and a >gap jump to :30-:31. The late event must
      // extend the open session BACKWARD; the split session must NOT emit
      // yet — the watermark (:01 while batch 2 runs) has finalized nothing,
      // and another late event could still legally extend it
      mem.addData((1L, ts(5)), (1L, ts(6)))
      q.processAllAvailable()
      assert(spark.table("sessions").isEmpty) // watermark :01 finalizes nothing
      // batch 2 raises the watermark to :26, which finalizes session 1
      // (:08 + gap = :18 <= :26) — the engine's follow-up timeout batch
      // emits it within the same processAllAvailable — but NOT session 2
      // (:31 + gap = :41 > :26), which a late event could still extend
      mem.addData((1L, ts(3)), (1L, ts(8)), (1L, ts(30)), (1L, ts(31)))
      q.processAllAvailable()
      val mid = spark.table("sessions")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
      assert(mid sameElements Array((1L, ts(3), ts(8), 4L)))
      // watermark :54 (from :59) finalizes session 2 via timeout
      mem.addData((2L, ts(59)))
      q.processAllAvailable()
      mem.addData((2L, ts(59)))
      q.processAllAvailable()
      val all = spark.table("sessions").filter($"user_id" === 1L)
        .orderBy($"session_start")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
      assert(all sameElements Array(
        (1L, ts(3), ts(8), 4L), (1L, ts(30), ts(31), 2L)))
    } finally q.stop()
  }

  test("statefulSessions on sf0.001 events ≡ batch q_sessionize summaries (stream≡batch)") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch truth: q_sessionize's per-event session ids, rolled up to the
    // (start, end, n) summary shape the streaming operator emits — same
    // 30-minute gap rule, microsecond arithmetic on both sides
    val batch = SparkEntry.queries("q_sessionize")(spark, dir)
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

    val evs = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts").orderBy($"ts")
      .as[(Long, Timestamp)].collect()
    val mem = MemoryStream[(Long, Timestamp)]
    val q = Streaming.statefulSessions(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_parity").start()
    try {
      // four micro-batches in global ts order (per-key event-time order is
      // the exactness contract; intra-chunk disorder is covered by the
      // watermark and the interval-coalescing merge)
      evs.grouped((evs.length + 3) / 4).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // sentinel 2h past the data end pushes the watermark beyond every
      // open session's timeout; the second sentinel batch runs with that
      // watermark applied so the timeouts actually fire
      val far = new Timestamp(evs.map(_._2.getTime).max + 2L * 60 * 60 * 1000)
      mem.addData((-1L, far)); q.processAllAvailable()
      mem.addData((-1L, far)); q.processAllAvailable()
      val got = spark.table("sess_parity").filter($"user_id" =!= -1L)
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got == batch,
        s"stream ${got.size} sessions vs batch ${batch.size}")
    } finally q.stop()
  }

  test("sessionizeTws on sf0.001 events ≡ batch q_sessionize (timers + ListState, RocksDB)") {
    implicit val sq = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q_sessionize")(spark, dir)
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

    val evs = Tables.load(spark, dir, "events")
      .select($"user_id", $"ts").orderBy($"ts")
      .as[(Long, Timestamp)].collect()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val mem = MemoryStream[(Long, Timestamp)]
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.sessionizeTws(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_sessions").start()
      evs.grouped((evs.length + 3) / 4).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // same double-sentinel flush as the flatMapGroupsWithState parity
      // test: batch 1 raises the watermark, batch 2 fires the timers
      val far = new Timestamp(evs.map(_._2.getTime).max + 2L * 60 * 60 * 1000)
      mem.addData((-1L, far)); q.processAllAvailable()
      mem.addData((-1L, far)); q.processAllAvailable()
      val got = spark.table("tws_sessions").filter($"user_id" =!= -1L)
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got == batch,
        s"tws ${got.size} sessions vs batch ${batch.size}")
    } finally {
      if (q != null) q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("trending sink: MG guarantee holds across batches; replays are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trend").toString + "/state"
    val k = 4
    // skewed stream split across 3 batches: item wj appears ~ 600/(j+1)
    // times total, dealt round-robin so every batch sees every item
    val all = (0 until 12).flatMap(j => Seq.fill(600 / (j + 1))(s"w$j"))
    val batches = all.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))
    val sink = Streaming.trendingSink("item", k, dir) _
    batches.zipWithIndex.foreach { case (b, i) => sink(b.toDF("item"), i.toLong) }
    sink(batches(1).toDF("item"), 1L) // replay: must be skipped
    val (bid, n) = Streaming.trendingMarker(spark, dir)
    assert(bid == 2L && n == all.size.toLong, (bid, n).toString)
    val st = spark.read.parquet(dir).as[(String, Long)].collect().toMap
    assert(st.size <= k)
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // MG bound: est never exceeds truth; undercount <= n/(k+1) for EVERY
    // item (absent => est 0)
    truth.foreach { case (it, t) =>
      val e = st.getOrElse(it, 0L)
      assert(e <= t, s"$it overcounted: $e > $t")
      assert(t - e <= n / (k + 1), s"$it bound broken: $t - $e > ${n / (k + 1)}")
    }
    // superset: every phi-frequent item survived the stream
    truth.filter(_._2 * (k + 1) > n).keys
      .foreach(it => assert(st.contains(it), s"phi-frequent $it evicted"))
  }

  test("trending sink: crash-window recovery keeps the summary exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trend_crash").toString + "/state"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val sink = Streaming.trendingSink("item", 3, dir) _
    sink(Seq.fill(5)("a").toDF("item"), 0L)
    // crash between move-aside and publish while applying batch 1: the
    // merged summary (with its in-swap marker) lives only in _next —
    // recovery must publish it and the replay must be skipped
    Seq(("a", 8L), ("b", 3L)).toDF("item", "est").write.parquet(dir + "_next")
    val out = fs.create(p(dir + "_next/_applied"), true)
    out.write("1 11".getBytes("UTF-8")); out.close()
    assert(fs.rename(p(dir), p(dir + "_old")))
    sink(Seq.fill(3)("a").toDF("item"), 1L) // replay of batch 1
    val st = spark.read.parquet(dir).as[(String, Long)].collect().toMap
    assert(st == Map("a" -> 8L, "b" -> 3L), st.toString)
    assert(Streaming.trendingMarker(spark, dir) == ((1L, 11L)))
  }

  test("trending sink: the batch total rides the merge job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trend_jobs").toString + "/state"
    val sink = Streaming.trendingSink("item", 2, dir) _
    sink(Seq("a", "a", "b").toDF("item"), 0L)
    val jobs = SparkTestSession.jobsOf(sink(Seq("a", "c", "c", "d").toDF("item"), 1L))
    assert(Streaming.trendingMarker(spark, dir) == ((1L, 7L)))
    // two AQE shuffle stages and the checkpoint of the merge, the top-k
    // pull and the state write: no job of its own for the batch total
    assert(jobs.size == 5 && jobs.count(_.startsWith("collect at ")) == 1, jobs)
  }

  test("incremental rollup sink: crash-window recovery keeps exactly-once merges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_crash").toString + "/state"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def partial(rows: (Long, Double)*) = rows.toSeq.toDF("k", "v")
      .groupBy($"k").agg(count(lit(1)).as("cnt"), sum($"v").as("sv"))
    val sink = Streaming.incrementalRollupSink("k", Seq("cnt", "sv"), Nil, dir) _
    sink(partial((1L, 2.0)), 0L)

    // crash between move-aside and publish while applying batch 1: the
    // merged state (incl. the in-swap _applied marker for batch 1) lives
    // only in _next. Recovery must publish it, and the REPLAY of batch 1
    // must then be skipped by the marker — merging it again would double.
    val merged = partial((1L, 2.0), (1L, 5.0)) // state ⊕ batch1
    merged.write.parquet(dir + "_next")
    val out = fs.create(p(dir + "_next/_applied"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    assert(fs.rename(p(dir), p(dir + "_old")))
    sink(partial((1L, 5.0)), 1L) // the replay of batch 1
    var got = spark.read.parquet(dir).as[(Long, Long, Double)].collect()
    assert(got sameElements Array((1L, 2L, 7.0)), got.mkString(","))

    // crash AFTER the merge write but BEFORE the swap started (state dir
    // still live): the stale _next (with its marker!) must be dropped and
    // the replayed batch applied from the live state — not from _next
    partial((1L, 99.0), (9L, 9.0)).write.parquet(dir + "_next")
    val out2 = fs.create(p(dir + "_next/_applied"), true)
    out2.write("2".getBytes("UTF-8")); out2.close()
    sink(partial((2L, 3.0)), 2L)
    got = spark.read.parquet(dir).orderBy($"k").as[(Long, Long, Double)].collect()
    assert(got sameElements Array((1L, 2L, 7.0), (2L, 1L, 3.0)), got.mkString(","))
  }

  test("ST6 stateful running totals accumulate across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = Streaming.statefulRunningTotals(mem.toDS())
      .writeStream.outputMode("update").format("memory").queryName("totals").start()
    try {
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 7.0))
      q.processAllAvailable()
      mem.addData((1L, 10.0))
      q.processAllAvailable()
      val got = spark.table("totals")
        .groupBy($"user_id")
        .agg(max($"total_events").as("n"), max($"total_value").as("tv"), max($"max_value").as("mx"))
        .orderBy($"user_id")
        .as[(Long, Long, Double, Double)].collect()
      // user 1: batch1 (2 events, 5.0, max 3) then batch2 (3 events, 15.0, max 10)
      assert(got sameElements Array((1L, 3L, 15.0, 10.0), (2L, 1L, 7.0, 7.0)))
    } finally q.stop()
  }

  test("transformWithState totals match the mapGroupsWithState ledger (RocksDB store)") {
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // conf override and query start both INSIDE the try: a failing start()
    // must not leak the RocksDB provider into the shared session's later tests
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val mem = MemoryStream[(Long, Double)]
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.transformWithStateTotals(mem.toDS())
        .writeStream.outputMode("update").format("memory").queryName("tws").start()
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 7.0))
      q.processAllAvailable()
      mem.addData((1L, 10.0))
      q.processAllAvailable()
      val got = spark.table("tws")
        .groupBy($"user_id")
        .agg(max($"total_events").as("n"), max($"total_value").as("tv"), max($"max_value").as("mx"))
        .orderBy($"user_id")
        .as[(Long, Long, Double, Double)].collect()
      assert(got sameElements Array((1L, 3L, 15.0, 10.0), (2L, 1L, 7.0, 7.0)))
    } finally {
      if (q != null) q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("A8 stream dedup: replayed keys within the watermark are dropped") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.streamingDedup(mem.toDF().withColumn("k", $"user_id"), Seq("k"))
      .writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    try {
      mem.addData(Ev(1, ts(1), 1.0), Ev(1, ts(2), 2.0), Ev(2, ts(1), 3.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts(3), 4.0)) // replay of key 1 within watermark
      q.processAllAvailable()
      val got = spark.table("sdedup").select($"user_id", $"value")
        .orderBy($"user_id").as[(Long, Double)].collect()
      assert(got sameElements Array((1L, 1.0), (2L, 3.0)))
    } finally q.stop()
  }

  test("S8 filename epoch stamps rows from their source file name") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_files")
    java.nio.file.Files.writeString(tmp.resolve("tweets_1736900000.json"), """{"a":1}""")
    java.nio.file.Files.writeString(tmp.resolve("users_1736900055.json"), """{"a":2}""")
    val df = spark.read.schema("a INT").json(tmp.toString)
    val got = Streaming.withFilenameEpoch(df).orderBy($"a")
      .select($"a", $"file_ts").as[(Int, Long)].collect()
    assert(got sameElements Array((1, 1736900000L), (2, 1736900055L)))
  }

  test("insert-if-absent sink handles URI-qualified and pre-created empty state dirs") {
    // file:// URI — a java.io.File existence check would miss this and
    // silently skip dedup forever
    val base = java.nio.file.Files.createTempDirectory("graft_uri").toString
    val uriDir = s"file://$base/state"
    val b = Seq(("a", 1)).toDF("_id", "v")
    Streaming.insertIfAbsentSink("_id", uriDir)(b, 0L)
    Streaming.insertIfAbsentSink("_id", uriDir)(b, 0L) // replay
    assert(spark.read.parquet(uriDir).count() == 1)
    // pre-created empty dir (deploy-script mkdir) must count as no-state,
    // not crash the first batch
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Streaming.upsertLastWinsSink("_id", "v", emptyDir)(b.withColumn("v", lit(1L)), 0L)
    assert(spark.read.parquet(emptyDir).count() == 1)
  }

  test("last-write-wins upsert merges and swaps on a file: URI-qualified state dir") {
    // the swap runs through the Hadoop FileSystem of the path — a
    // java.io.File renameTo would never resolve the URI and every merge
    // would be silently stranded in `_next`
    val base = java.nio.file.Files.createTempDirectory("graft_lww_uri").toString
    val dir = s"file://$base/state"
    val b1 = Seq(("a", 1L, "v1"), ("b", 1L, "v1")).toDF("_id", "version", "payload")
    val b2 = Seq(("a", 2L, "v2")).toDF("_id", "version", "payload")
    Streaming.upsertLastWinsSink("_id", "version", dir)(b1, 0L)
    Streaming.upsertLastWinsSink("_id", "version", dir)(b2, 1L)
    val got = spark.read.parquet(dir).orderBy($"_id")
      .as[(String, Long, String)].collect()
    assert(got sameElements Array(("a", 2L, "v2"), ("b", 1L, "v1")))
    // nothing stranded in the staging dir, and no local-path ghost dir
    assert(!new java.io.File(s"$base/state_next").exists())
    assert(new java.io.File(s"$base/state").isDirectory)
  }

  test("a dir holding only a _temporary subdir counts as no state") {
    // an interrupted first write leaves `_temporary/`; the next batch must
    // take the no-state path, not spark.read a dir with no data files
    val base = java.nio.file.Files.createTempDirectory("graft_tmponly").toString
    val dir = s"$base/state"
    new java.io.File(s"$dir/_temporary/0").mkdirs()
    val b = Seq(("a", 1)).toDF("_id", "v")
    Streaming.insertIfAbsentSink("_id", dir)(b, 0L) // must not crash-loop
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("windowed engagement sums all-null values to 0.0 like the batch twin") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Option[Double])]
    val q = Streaming.windowedEngagement(
        mem.toDF().toDF("user_id", "ts", "value"), win = "10 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("nulleng").start()
    try {
      mem.addData((1L, ts(1), None), (1L, ts(2), None))
      q.processAllAvailable()
      val got = spark.table("nulleng").select($"n_events", $"sum_value")
        .as[(Long, Double)].collect()
      // q_a9_engagement_series's orZeroD semantics: NULL-only group -> 0.0
      assert(got sameElements Array((2L, 0.0)))
    } finally q.stop()
  }

  test("3-topic speed layer fans out the reference preprocess per topic") {
    val ingest = 1700000000L
    val projects = Seq(("p1", "pr1", """{"id":"1","url":"https://twitter.com/x"}""", "w", "drop_me"))
      .toDF("_id", "projectId", "twitter", "website", "extra")
    val tweets = Seq(("t1", "a1", "Twitter Fan", 1L, 2L, 3L, 4L))
      .toDF("_id", "author", "authorName", "views", "likes", "replyCounts", "retweetCounts")
    val users = Seq(("u1", "alice", "https://twitter.com/alice", 1, 2, 3, 4, 500, 100, true, "VN"))
      .toDF("_id", "userName", "url", "favouritesCount", "friendsCount", "listedCount",
        "mediaCount", "followersCount", "statusesCount", "blue", "location")
    val out = Streaming.speedLayerAll(Map(
      "projects_social_media" -> projects, "tweets" -> tweets, "twitter_users" -> users), ingest)
    // projects: rename reaches the raw JSON string, extra column projected away
    val p = out("projects_social_media").head()
    assert(p.getAs[String]("twitter") == """{"id":"1","url":"https://x.com/x"}""")
    assert(!out("projects_social_media").columns.contains("extra"))
    assert(p.getAs[Long]("timestamp") == ingest)
    // tweets: string fields renamed, measures intact
    val t = out("tweets").head()
    assert(t.getAs[String]("authorName") == "X Fan")
    assert(t.getAs[Long]("views") == 1L && t.getAs[Long]("retweetCounts") == 4L)
    // users: full E1 with score
    val u = out("twitter_users").head()
    assert(u.getAs[String]("url") == "https://x.com/alice")
    assert(u.getAs[Double]("influence_score") == 500 * 0.5 + 100 * 0.3 - 2 * 0.2)
  }

  test("S5 raw JSON lake sink partitions by topic end-to-end") {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_rawlake").toString
    val mem = MemoryStream[(String, String, Long)]
    mem.addData(("tweets", "t1", 1L), ("users", "u1", 2L), ("tweets", "t2", 3L))
    val q = Streaming.rawJsonSink(
        mem.toDF().toDF("topic", "_id", "v"), s"$tmp/lake", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dirs = new java.io.File(s"$tmp/lake").listFiles().map(_.getName)
      .filter(_.startsWith("topic=")).sorted
    assert(dirs sameElements Array("topic=tweets", "topic=users"))
    val back = spark.read.json(s"$tmp/lake")
    assert(back.count() == 3)
    assert(back.filter($"topic" === "tweets").count() == 2)
  }

  test("S2/S4 Kafka transforms: projection ≡ file-source path, envelope round-trips") {
    // The connector jar isn't in this container, so the TRANSPORT stays a
    // compile-level contract — but the transforms are fully exercised here
    // over a frame with the connector's exact output shape (key/value
    // BINARY, topic, partition, offset, timestamp, timestampType).
    val jsons = Seq(
      ("tweets", """{"_id":"t1","author":"u1","authorName":"Alice","views":10,"likes":2,"replyCounts":1,"retweetCounts":0,"timestamp":1700000000}"""),
      ("tweets", """{"_id":"t2","author":"u2","authorName":"Bob","views":5,"likes":null,"replyCounts":0,"retweetCounts":3,"timestamp":1700000100}"""),
      ("tweets", """{"_id":"t3","author":"u3"}"""), // partial doc: absent fields null, not a row error
      ("tweets", """not json at all""")) // corrupt record: doc NULL, row preserved
    val raw = jsons.zipWithIndex.toDF("tv", "off")
      .select(lit(null).cast("binary").as("key"),
        $"tv._2".cast("binary").as("value"),
        $"tv._1".as("topic"),
        lit(0).as("partition"),
        $"off".cast("long").as("offset"),
        lit(ts(1)).as("timestamp"),
        lit(0).as("timestampType"))
    val projected = Streaming.kafkaJsonProjection(raw, Tables.tweetsSchema)
    assert(projected.columns.toSeq == Seq("topic", "doc", "kafka_ts"))
    // parity with the file-source path: the same payloads read through the
    // schema'd JSON scan (S9) must parse to the same structs
    val tmp = java.nio.file.Files.createTempDirectory("graft_kafka_parity").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/payload.json"),
      jsons.map(_._2).mkString("\n").getBytes("UTF-8"))
    val viaFile = spark.read.schema(Tables.tweetsSchema).json(tmp)
      .select(to_json(struct($"*")).as("j")).as[String].collect().sorted.toSeq
    val viaKafka = projected
      .select(to_json($"doc").as("j")).as[String].collect().sorted.toSeq
    assert(viaKafka == viaFile && viaKafka.size == jsons.size)
    // S2 envelope → S4 projection composes losslessly: producing rows
    // through the sink envelope and consuming them through the source
    // projection returns the original rows
    val rows = Seq(("a", 1L, 2.5), ("b", 2L, -1.0)).toDF("_id", "n", "v")
    val wire = Streaming.kafkaJsonEnvelope(rows)
      .select(lit(null).cast("binary").as("key"),
        $"value".cast("binary").as("value"),
        lit("echo").as("topic"), lit(0).as("partition"),
        lit(0L).as("offset"), lit(ts(2)).as("timestamp"),
        lit(0).as("timestampType"))
    val back = Streaming.kafkaJsonProjection(wire,
        org.apache.spark.sql.types.StructType(rows.schema.fields))
      .select($"doc._id", $"doc.n", $"doc.v")
      .orderBy($"_id").as[(String, Long, Double)].collect().toSeq
    assert(back == Seq(("a", 1L, 2.5), ("b", 2L, -1.0)))
  }

  test("streaming upsert query end-to-end with checkpoint") {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val mem = MemoryStream[(String, Int)]
    mem.addData(("x", 1), ("y", 2), ("x", 3))
    val q = Streaming.startUpsertStream(mem.toDF().toDF("_id", "v"), "_id",
      s"$tmp/state", s"$tmp/ckpt")
    q.awaitTermination()
    val got = spark.read.parquet(s"$tmp/state").orderBy($"_id").as[(String, Int)].collect()
    assert(got.map(_._1) sameElements Array("x", "y"))
  }
}
