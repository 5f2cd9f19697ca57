package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.jobsOf
import graft.streaming.{StateDir, Streaming}

/** The shared state-dir publish protocol alone: every on-disk state a
  * crash can leave is built directly (a dir holding one `data` file whose
  * content names the version), then [[StateDir.recover]] must repair it.
  * The recorded-schema cases run real sinks and count jobs with
  * [[Profile.Collector]]. */
class StateDirSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft_statedir").toString + "/state"
  private def put(dir: String, version: String, marker: Option[String] = None): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "data"), version.getBytes(UTF_8))
    marker.foreach(m => Files.write(Paths.get(dir, "_applied"), m.getBytes(UTF_8)))
  }
  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))
  private def version(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "data")), UTF_8)
  private def recover(dir: String, requireMarker: Boolean): StateDir =
    StateDir.recovered(spark, dir, "StateDirSpec", requireMarker)
  /** Only the live dir is left, holding `v` and no other version nested
    * inside it (a rename onto an existing dir moves the source INTO it). */
  private def liveOnly(dir: String, v: String): Unit = {
    assert(exists(dir) && version(dir) == v)
    assert(!exists(dir + "_next") && !exists(dir + "_old"))
    val ls = Files.list(Paths.get(dir))
    try assert(ls.noneMatch(Files.isDirectory(_))) finally ls.close()
  }

  test("clean dirs: nothing and a lone live dir are left as they are") {
    val none = fresh()
    val st = recover(none, requireMarker = true)
    assert(!exists(none) && !exists(none + "_next") && !exists(none + "_old"))
    assert(st.marker.isEmpty && st.appliedBatch == -1L)
    val live = fresh()
    put(live, "v1", Some("4"))
    assert(recover(live, requireMarker = true).appliedBatch == 4L)
    liveOnly(live, "v1")
  }

  test("a complete _next with no live dir is published") {
    for (requireMarker <- Seq(false, true)) {
      val dir = fresh()
      put(dir + "_next", "v2", Some("2"))
      put(dir + "_old", "v1", Some("1")) // crash after the move-aside
      assert(recover(dir, requireMarker).appliedBatch == 2L)
      liveOnly(dir, "v2")
    }
  }

  test("a stale _next beside a live dir is dropped") {
    val dir = fresh()
    put(dir, "v1", Some("1"))
    put(dir + "_next", "v2", Some("2"))
    assert(recover(dir, requireMarker = true).appliedBatch == 1L)
    liveOnly(dir, "v1")
  }

  test("a _next without its marker and no live dir is discarded under requireMarker") {
    val dir = fresh()
    put(dir + "_next", "torn")
    recover(dir, requireMarker = true)
    assert(!exists(dir) && !exists(dir + "_next"))
    // without requireMarker the same dir is a complete unmarked state
    put(dir + "_next", "v1")
    recover(dir, requireMarker = false)
    liveOnly(dir, "v1")
  }

  test("a lone _old is restored; _old debris beside a live dir is deleted") {
    val lone = fresh()
    put(lone + "_old", "v1", Some("1"))
    assert(recover(lone, requireMarker = true).appliedBatch == 1L)
    liveOnly(lone, "v1")
    val debris = fresh()
    put(debris, "v2", Some("2"))
    put(debris + "_old", "v1", Some("1"))
    recover(debris, requireMarker = true)
    liveOnly(debris, "v2")
  }

  test("publish swaps _next in; one- and two-field markers round-trip byte for byte") {
    val dir = fresh()
    val st = recover(dir, requireMarker = true)
    put(st.next, "v1")
    st.publish(5L)
    liveOnly(dir, "v1")
    assert(new String(Files.readAllBytes(Paths.get(dir, "_applied")), UTF_8) == "5")
    assert(st.marker.contains(Seq(5L)) && st.appliedBatch == 5L)
    put(st.next, "v2")
    st.publish(7L, 42L)
    liveOnly(dir, "v2")
    assert(new String(Files.readAllBytes(Paths.get(dir, "_applied")), UTF_8) == "7 42")
    assert(st.marker.contains(Seq(7L, 42L)) && st.appliedBatch == 7L)
    // no marker given: the swap alone (upsert, compaction)
    put(st.next, "v3")
    st.publish()
    liveOnly(dir, "v3")
    assert(st.marker.isEmpty)
  }

  test("every publishing sink records a schema equal to the inferred one") {
    val base = Files.createTempDirectory("graft_statedir_schema").toString
    val rnd = new scala.util.Random(3)
    val hll = (1 to 300).map(i => (s"g${i % 3}", s"u${rnd.nextInt(150)}")).toDF("g", "u")
    val series = (1 to 6).map(i => (1L, i.toLong, if (i > 3) 10.0 else 0.0)).toDF("g", "i", "x")
    val emb = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.1)),
      (3L, Seq(0.1, 1.0))).toDF("vec_id", "embedding")
    val vals = Seq(1L, 2L, 3L, 11L, 12L, 21L).toDF("v")
    val keyed = Seq((1L, 1L, 2.0, "a"), (2L, 2L, 3.0, null), (1L, 3L, 4.0, "b"))
      .toDF("k", "ver", "v", "s")
    // (sink over a state dir, its batch, the tables of its state): the
    // five sinks of StreamingSpec's crash table, then the other publishers
    val cases: Seq[(String => (DataFrame, Long) => Unit, DataFrame, Seq[String])] = Seq(
      (d => Streaming.hllDistinctSink("g", "u", d) _, hll, Seq("")),
      (d => Streaming.cusumSink("g", Seq("i"), "x", 5.0, 1.0, 10.0, 0, d) _, series, Seq("")),
      (d => Streaming.embeddingDriftSink("vec_id", "embedding", 2, 2, d) _, emb,
        Seq("centroids", "hist", "ledger")),
      (d => Streaming.ewmaSink("g", Seq("i"), "x", 1, 0, d) _, series, Seq("")),
      (d => Streaming.psiDriftSink("v", 10L, d) _, vals, Seq("ref", "ledger")),
      (d => Streaming.upsertLastWinsSink("k", "ver", d) _, keyed, Seq("")),
      (d => Streaming.incrementalRollupSink("k", Seq("v"), Seq("ver"), d) _,
        keyed.select($"k", $"v", $"ver"), Seq("")),
      (d => Streaming.goldenRecordSink("k", "ver", Seq("v", "s"), d) _, keyed, Seq("")),
      (d => Streaming.trendingSink("s", 2, d) _, keyed, Seq("")),
      (d => Streaming.skylineSink("v", "ver", d) _, keyed, Seq("")))
    for (((sinkAt, batch, tables), c) <- cases.zipWithIndex) {
      val dir = s"$base/$c"
      // two batches: the second merges into the first one's published state
      sinkAt(dir)(batch, 0L)
      sinkAt(dir)(batch, 1L)
      val state = new StateDir(spark, dir, "StateDirSpec")
      for (t <- tables) {
        val path = if (t.isEmpty) dir else s"$dir/$t"
        assert(exists(s"$path/_schema"), path)
        assert(state.read(t).schema == spark.read.parquet(path).schema, path)
      }
      if (tables == Seq("")) assert(state.live.get.schema == spark.read.parquet(dir).schema)
    }
  }

  test("write records _schema in _next before publish writes _applied; neither is state") {
    val dir = fresh()
    val st = recover(dir, requireMarker = true)
    st.write(Seq((1L, "a")).toDF("k", "v"))
    assert(exists(st.next + "/_schema") && !exists(st.next + "/_applied"))
    st.publish(0L)
    assert(exists(dir + "/_schema") && exists(dir + "/_applied"))
    // a dir holding only the two hidden files holds no state
    val hidden = fresh()
    Files.createDirectories(Paths.get(hidden))
    Files.copy(Paths.get(dir, "_schema"), Paths.get(hidden, "_schema"))
    Files.copy(Paths.get(dir, "_applied"), Paths.get(hidden, "_applied"))
    assert(!StateDir.hasState(spark, hidden))
    assert(new StateDir(spark, hidden, "StateDirSpec").live.isEmpty)
  }

  test("a dir without _schema still reads, by one inference job labelled with the caller") {
    val dir = fresh()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    val state = new StateDir(spark, dir, "StateDirSpec")
    assert(jobsOf(state.live.get.schema) == Seq("StateDirSpec/state/schema"))
    assert(state.read().as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a merge that adds a column records the new schema, and the next batch reads it") {
    val dir = fresh()
    def apply(id: Long)(merge: Option[DataFrame] => DataFrame): Unit =
      StateDir.applyBatch(spark, dir, "StateDirSpec", Some(id))(merge)
    apply(0L)(_ => Seq((1L, 5L)).toDF("k", "n"))
    apply(1L)(live => live.get.withColumn("tag", lit("x")))
    val recorded = new String(Files.readAllBytes(Paths.get(dir, "_schema")), UTF_8)
    assert(recorded.contains("\"tag\""), recorded)
    var seen: Seq[String] = Nil
    apply(2L) { live =>
      seen = live.get.columns.toSeq
      live.get
    }
    assert(seen == Seq("k", "n", "tag"))
    assert(spark.read.parquet(dir).as[(Long, Long, String)].collect().toSeq == Seq((1L, 5L, "x")))
  }

  test("a steady applyBatch launches no job before its merge runs") {
    val dir = fresh()
    val sink = Streaming.incrementalRollupSink("k", Seq("v"), Nil, dir) _
    val batch = Seq((1L, 2L), (2L, 3L)).toDF("k", "v")
    sink(batch, 0L)
    val c = new Profile.Collector(spark.sparkContext)
    try {
      c.drain()
      c.reset()
      var before = -1
      StateDir.applyBatch(spark, dir, "StateDirSpec", Some(1L)) { live =>
        live.get.schema
        c.drain()
        before = c.jobs.size
        live.get
      }
      assert(before == 0)
    } finally spark.sparkContext.removeSparkListener(c)
  }
}
