package graft.streaming

import java.sql.Timestamp
import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.Pipelines

/** Structured Streaming wiring for the reference's speed layer (SURVEY.md
  * §2.8). The reference consumed Kafka record-at-a-time with at-least-once
  * auto-commit (consumer1.py:41-48,155-172) and hand-rolled a batch ledger
  * (consumer2.py:300-348); here the same semantics are micro-batch
  * pipelines with `checkpointLocation` (exactly-once to idempotent sinks —
  * strictly stronger, ST1/ST4) and the hand-rolled ledger is deleted.
  *
  * Batch/stream share the SAME transform functions from [[graft.Pipelines]]
  * — the streaming wrapper only changes the source and sink, never the
  * semantics, so everything verified in batch holds on the stream.
  */
/** One-row budget relation for [[Streaming.incrementalNearDupSink]]'s
  * in-plan volume gate (top-level: DataFrame reflection needs a publicly
  * constructible class). Carrying the budget as DATA rather than a literal
  * keeps the gate's plan — and its cached codegen — identical across
  * batches. */
case class NdBudget(__slot_budget: Double)

object Streaming {

  /** Speed-layer transform on a streaming users source (E1): preprocess +
    * score. `ingestTs` fixed per run for determinism in tests. */
  def speedLayer(usersStream: DataFrame, ingestTs: Long): DataFrame =
    Pipelines.preprocessUsers(usersStream, ingestTs)

  /** E1 speed layer for ALL THREE reference topics (consumer1.py:71-109,
    * 155-172): one preprocessed stream per topic, each the exact batch
    * transform behind [[Pipelines.preprocessTopic]]. The reference's single
    * consumer loop dispatched per message; here each topic is its own
    * micro-batch pipeline, which is how a multi-topic Kafka source fans out
    * (filter on the `topic` column upstream, one sink per collection). */
  def speedLayerAll(topicStreams: Map[String, DataFrame], ingestTs: Long): Map[String, DataFrame] =
    topicStreams.map { case (topic, df) =>
      topic -> Pipelines.preprocessTopic(topic, df, ingestTs)
    }

  /** STREAM-STATIC enrichment: join each micro-batch against a broadcast
    * dimension — stateless (no watermark, no join state store: the static
    * side is re-resolvable per batch, so Spark plans an ordinary broadcast
    * hash join inside every trigger). Left-outer keeps stream rows whose
    * key misses the dim (flag-and-forward beats silent drop in a
    * pipeline); at scale the ONLY requirement is that `dim` stays
    * broadcast-able — a big dim belongs in [[streamStreamAttribution]]'s
    * stateful form or a pre-bucketed lake table instead. */
  def staticEnrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left_outer")

  /** ST5 — the event-time showcase the reference lacks: watermarked tumbling
    * window over event time. Batch twin is q_a9_engagement_series, so the
    * streaming results are checkable against a verified batch plan. */
  def windowedEngagement(events: DataFrame, watermark: String = "10 minutes",
                         win: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), win))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.Functions.orZeroD(col("value")).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("window.start").as("hour_ts"),
        col("n_events"), col("sum_value"))

  /** ST5 stretch — sliding windows: each event lands in window/slide
    * overlapping windows (e.g. hourly metrics refreshed every 15 min). */
  def slidingEngagement(events: DataFrame, watermark: String = "10 minutes",
                        win: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), win, slide))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.Functions.orZeroD(col("value")).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("window.start").as("win_start"),
        col("n_events"), col("sum_value"))

  /** ST5 stretch — session windows: activity bursts separated by `gap` of
    * silence collapse into one row per session (state closes at watermark).
    */
  def sessionEngagement(events: DataFrame, watermark: String = "10 minutes",
                        gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(graft.functions.Functions.orZeroD(col("value")).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** ST stretch — STREAM-STREAM interval join (the one join shape the
    * reference's record-at-a-time loop could never express): purchases
    * joined to the clicks that preceded them within `horizon`, on two
    * independent streams. Both sides are watermarked and the join
    * condition bounds the event-time range, so Spark provably evicts join
    * state older than the horizon — state stays O(horizon × rate), not
    * O(stream). Batch parity: the same join condition over static frames
    * gives the identical result (tested), so the streaming plan inherits
    * the batch semantics. */
  def streamStreamAttribution(purchases: DataFrame, clicks: DataFrame,
                              horizon: String = "10 minutes",
                              joinType: String = "inner"): DataFrame = {
    val p = purchases
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", horizon)
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", horizon)
    // left_outer: a purchase with NO click in its horizon still emits (with
    // null click) — but only once the watermark has passed its join window,
    // when "no match" is final. Same bounded state as the inner form.
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"), joinType)
      .select(col("user_id"), col("purchase_id"), col("p_ts"),
        col("click_id"), col("c_ts"))
  }

  /** A8 on a stream — dedup by key with bounded state:
    * dropDuplicatesWithinWatermark keeps state only for the watermark
    * horizon, the streaming analog of the insert-if-absent gate for sources
    * that can replay within a bounded window (Kafka retention). */
  def streamingDedup(df: DataFrame, keyCols: Seq[String],
                     watermark: String = "10 minutes"): DataFrame = {
    require(keyCols.nonEmpty, "streamingDedup requires at least one key column")
    df.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Per-stateDir PROCESS-LOCAL running tallies for the near-dup sink's
    * cumulative volume gate (`nDocs` ingested, `cumCand` candidates
    * admitted). The durable truth is the parquet state; the tallies only
    * save the next batch a rebuild scan. Dropped on ANY batch failure and
    * rebuilt on the next call — `nDocs` exactly (a metadata count of the
    * sigs table), `cumCand` from the persisted pair count, which is a
    * FLOOR of the true admitted volume (the gate is an audit; it never
    * owes exactness across restarts).
    *
    * Deliberately NOT a cached mirror of the state frames: a variant that
    * cluster-cached the derived band-key index (localCheckpoint layers)
    * and gated from maintained per-band statistics was built and measured
    * 2.4× SLOWER at 20k-doc batches — the extra checkpoint jobs, cache
    * scans and statistics shuffles cost more than re-deriving keys from
    * the column-pruned parquet scan with the codegen'd
    * [[graft.plans.BandKeys]].
    *
    * `lastBatchId` (round 13) powers the FRESH-BATCH FAST PATH: every
    * candidate pair contains at least one doc that entered the index
    * THIS batch (probe keys come only from staged-new docs, and new docs
    * were anti-joined against the index), so on a batch that is provably
    * not a replay — tally present from an unbroken run AND batchId
    * strictly above the last committed one — a discovered pair CANNOT
    * already exist in the pairs table, and the dedupe anti-join (plus its
    * pairs-table scan and broadcast build) is skipped. Every failure
    * path drops the tally, and a rebuilt tally carries lastBatchId = −1,
    * so a retry, restart, or crash-window replay always takes the
    * conservative anti-join — the exactly-once specs pin this.
    *
    * `lastNNew` (round 14) is the previous batch's new-doc count — the
    * predictor for the SMALL-BATCH EXECUTION PROFILE of the stage job
    * (whose plan must be chosen before this batch's size is known; the
    * pairs job keys on the exact `nNew` instead). A wrong guess changes
    * join strategy, never results. */
  private final case class NearDupTally(nDocs: Long, cumCand: Long,
                                        lastBatchId: Long = -1L,
                                        lastNNew: Long = -1L)
  private val nearDupTallies =
    new java.util.concurrent.ConcurrentHashMap[String, NearDupTally]()
  /** Test seam: simulate a process restart (tallies lost, parquet kept). */
  private[graft] def dropNearDupMirror(stateDir: String): Unit =
    nearDupTallies.remove(stateDir): Unit

  /** Incremental NEAR-DUP detection sink — MinHash+LSH dedup as a
    * STREAMING property: each micro-batch's documents are checked against
    * everything ingested so far, without ever re-pairing the history
    * against itself. Durable state is TWO append-only parquet tables under
    * `stateDir`, ONE ROW PER DOCUMENT each:
    *
    *  - `sigs`  (id, text, sig) — the ingested corpus (replay gate) WITH
    *    its fixed-width MinHash signature. Band keys are NOT stored: they
    *    are derived from `sig` at probe time (32 string concats per doc —
    *    scan-stage arithmetic), which keeps state linear in documents
    *    instead of `bands×` larger, and makes re-banding (different
    *    bands/rows tradeoff) a replan instead of a state migration.
    *  - `pairs` (doc_a, doc_b, jaccard) — verified near-dup pairs.
    *
    * Per batch the sink runs exactly TWO Spark actions (under the
    * small-batch profile below, exactly two JOBS — every other stage is
    * fused into them):
    *
    *  1. STAGE: the batch's genuinely-new rows (replay anti-join) get
    *     their signature computed once and written to
    *     `stateDir/.staging/sigs_b<batchId>` — the staged parquet IS the
    *     batch's materialization (no localCheckpoint job), and the write
    *     is `overwrite` so a retried batch replaces its own leftovers.
    *     Small batches stage as ONE file (single-partition exchange after
    *     the cluster-width minhash): the index's file count then grows
    *     per batch, not per batch×width — measured on 20×250-doc batches,
    *     the multi-file form's per-batch task time climbed 1.4→2.3 s from
    *     file accretion alone while the 1-file form stayed flat.
    *  2. PAIRS: one fused plan — band keys derived from signatures
    *     (codegen'd [[graft.plans.BandKeys]]), the in-plan pre-join volume
    *     gate, the probe join (new keys against the index keyset: the
    *     probe is bounded by the batch, the index is not), exact
    *     verify over shingle arrays, the already-known-pairs anti-join,
    *     and the append to `pairs`.
    *
    * Row counts the gate needs (new docs, admitted candidates) ride on
    * `Dataset.observe` nodes inside those jobs, each read through an
    * [[org.apache.spark.sql.Observation]] awaited for at most 10 s (a lost
    * metric falls back to a count job rather than wedging the sink) — no
    * separate count jobs. COMMIT is then a metadata move of the staged
    * part files into `sigs`, each through the checked [[StateDir.rename]].
    * This sink keeps its own commit instead of [[StateDir.publish]]
    * because its state is append-only, one row per doc: `publish` swaps
    * in a whole rebuilt dir, which would rewrite the full `sigs` table
    * every batch — O(corpus) per batch instead of O(batch).
    *
    * Exactly-once composition: ids already in `sigs` are dropped first
    * (S6 anti-join gate), so a replayed batch recomputes nothing; pairs
    * are appended BEFORE the sigs commit, and a crash between the two
    * makes the retry regenerate the same pairs and drop them in the pairs
    * anti-join — no window loses or duplicates a pair. A crash MID-move
    * leaves a prefix of the batch's sigs committed: the retry's anti-join
    * skips exactly those docs (their pairs are already complete — the
    * pairs append preceded every move) and recomputes the remainder.
    * Cross-batch completeness: a pair is found when its LATER doc arrives
    * (the earlier one's signature is already in the index); within-batch
    * pairs probe new ∪ old keys. The batch-equivalence spec asserts
    * streamed ingestion ≡ [[graft.operators.Dedup.nearDupPairs]] over the
    * full corpus, and that replay is a no-op.
    *
    * Candidate-volume gating (same default-on cap as the batch twin, but
    * CUMULATIVE — the spec-pinned "streamed ≡ batch" contract must agree
    * on the failure mode, and a per-batch-only gate could admit
    * `batches × cap` total volume): BEFORE the probe join streams a pair
    * row, an in-plan single-pass bound over the band populations —
    * `Σ_b probe_b·(index_b − 1)` pair slots, where a unique unordered
    * pair occupies at most `2·bands` slots — is compared against the
    * REMAINING cumulative budget `2·bands·(factor·nDocs − cumCand)` and
    * raises from the join's INPUT statistics (the gate is evaluated while
    * building the broadcast probe, so the index side never streams); the
    * exact candidate count then updates `cumCand` and is re-checked
    * driver-side before the sigs commit. On tally rebuild `cumCand`
    * restarts from the persisted pair count (a floor — the gate is an
    * audit, it never owes exactness across restarts).
    *
    * SMALL-BATCH EXECUTION PROFILE (round 14): at micro-batch sizes the
    * sink's wall is not rows but JOB LAUNCHES — under AQE every exchange
    * and broadcast materializes as its own stage-job with ~90 ms of
    * scheduling latency, 11 of them per steady batch. When a batch is
    * provably small (`nNew` ≤ `smallBatchDocs` for the pairs job — known
    * exactly, the stage job already counted it; the previous batch's
    * `lastNNew` for the stage job, whose plan precedes the count), the
    * sink plans WITHOUT AQE and pins join strategies itself, collapsing a
    * steady batch to THREE jobs: the staged write (shuffle-hash anti-join,
    * batch side builds), the gate-stats broadcast build, and one fused
    * pairs job (shuffle-hash probe + verify joins — never a sort, never
    * an index-side broadcast). Intra-job stage latency is
    * DAGScheduler-cheap (~ms), so the fixed cost collapses. Large batches
    * keep AQE and its runtime strategy choice (broadcast-vs-shuffle from
    * exact staged file sizes). The profile changes JOIN STRATEGY ONLY —
    * never dataflow, gate arithmetic, or state layout; the
    * streamed-≡-batch, replay, crash-window and cumulative-gate specs run
    * through both profiles, and a wrong `lastNNew` guess costs only plan
    * shape. The AQE flag is restored after every action (it is
    * session-global: a session running concurrent interactive queries
    * during a micro-batch would briefly plan them without AQE — the one
    * caveat, acceptable for a dedicated ingest session). */
  def incrementalNearDupSink(idCol: String, textCol: String, stateDir: String,
                             ngram: Int = 5, threshold: Double = 0.8,
                             bands: Int = 32, rowsPerBand: Int = 4,
                             maxCandidatesPerDoc: Option[Double] =
                               Some(graft.operators.Dedup.DefaultCandidatesPerDoc),
                             smallBatchDocs: Long = 8192L)
                            (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.register(spark)
    // runs one action under the small-batch profile (AQE off), restoring
    // the session flag even on failure; plan construction happens inside
    // the thunk so strategy resolution sees the flag
    def withProfile[T](small: Boolean)(act: => T): T =
      if (!small) act else {
        val was = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try act finally spark.conf.set("spark.sql.adaptive.enabled", was)
      }
    val (sigsDir, pairsDir) = (s"$stateDir/sigs", s"$stateDir/pairs")
    val stagingRoot = s"$stateDir/.staging"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keysOf(sigs: DataFrame): DataFrame =
      sigs.select(col(idCol), explode(call_function("band_keys",
        col("sig"), lit(bands), lit(rowsPerBand))).as("band_key"))
    try {
      val stOpt = Option(nearDupTallies.get(stateDir))
      val st = stOpt.getOrElse {
        // rebuild (first call in this process, or after a failure): exact
        // doc count from the sigs table, candidate floor from the pairs
        // table; orphaned staging from dead processes is dead weight —
        // every live batch overwrites its own staging path first.
        // lastBatchId stays -1: an unknown history must take the
        // conservative (anti-joined) pairs path.
        fs.delete(new org.apache.hadoop.fs.Path(stagingRoot), true): Unit
        NearDupTally(
          if (StateDir.hasState(spark, sigsDir)) spark.read.parquet(sigsDir).count() else 0L,
          if (StateDir.hasState(spark, pairsDir)) spark.read.parquet(pairsDir).count() else 0L)
      }
      // fresh-batch fast path (see NearDupTally scaladoc): provably not a
      // replay => a new pair cannot already be persisted, skip the dedupe
      // anti-join and never even list the pairs table this batch
      val freshBatch = stOpt.isDefined && batchId > st.lastBatchId
      // explicit schemas on every state/staged read: a schema-less
      // spark.read.parquet runs a footer-inference JOB per call (the job
      // that Tables.load's catalog and StateDir.read's recorded schema
      // remove for tables and published state). This append-only state
      // has no publish to record a schema at, so both schemas derive from
      // the batch itself (no hardcoded types): the sigs schema is the
      // staged projection's own analyzed schema
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val sigSchema = batch
        .select(col(idCol), col(textCol),
          call_function("minhash_sig",
            graft.operators.Dedup.shingleSet(col(textCol), ngram),
            lit(bands * rowsPerBand)).as("sig"))
        .schema
      val idType = sigSchema(idCol).dataType
      val pairSchema = StructType(Seq(
        StructField("doc_a", idType), StructField("doc_b", idType),
        StructField("jaccard", DoubleType)))
      val sigsState = if (StateDir.hasState(spark, sigsDir))
        Some(spark.read.schema(sigSchema).parquet(sigsDir)) else None
      val pairsState = if (!freshBatch && StateDir.hasState(spark, pairsDir))
        Some(spark.read.schema(pairSchema).parquet(pairsDir)) else None
      val incoming = graft.operators.Ops.dedupFirstWins(
        batch.select(col(idCol), col(textCol))
          // pinned to the cluster's width FIRST: the dedupe window and the
          // (broadcast) index anti-join then reuse this one exchange, and
          // the minhash projection — the sink's real CPU — inherits the
          // spread (the previous shape re-exchanged after the window)
          .repartition(spark.sparkContext.defaultParallelism, col(idCol)),
        Seq(idCol), Seq(col(textCol)))
      // job 1 — STAGE. The repartition pins the signature compute to the
      // cluster's width: minhash is the sink's real CPU, and without it a
      // large batch coalesces to however few partitions the source (or
      // AQE) produced. A shingle-less doc gets a NULL sig and simply
      // never bands (it still occupies a sigs row — the replay gate must
      // remember it).
      val staged = s"$stagingRoot/sigs_b$batchId"
      val obsNew = Observation(s"graft_nd_new_${java.util.UUID.randomUUID}")
      // the stage plan precedes this batch's count, so its profile is
      // guessed from the PREVIOUS batch's size; under the small profile
      // the anti-join is a shuffle-hash join (anti joins only support
      // build-right, so the hash is built over the index's ID column —
      // narrow — partition-sliced by the shuffle; never a sort, never a
      // whole-index broadcast, and the stage job stays ONE job)
      val guessSmall = stOpt.exists(t => t.lastNNew >= 0 &&
        t.lastNNew <= smallBatchDocs && t.nDocs <= (smallBatchDocs << 5))
      withProfile(guessSmall) {
        val sigged = sigsState.fold(incoming)(s =>
            incoming.join(
              if (guessSmall) s.select(col(idCol)).hint("shuffle_hash")
              else s.select(col(idCol)),
              Seq(idCol), "left_anti"))
          .select(col(idCol), col(textCol),
            call_function("minhash_sig",
              graft.operators.Dedup.shingleSet(col(textCol), ngram),
              lit(bands * rowsPerBand)).as("sig"))
        // small profile: ONE staged file per batch — minhash still runs
        // at cluster width, the single-partition exchange only carries
        // the batch's finished rows. Committed 1-file batches keep the
        // index's file count linear in BATCHES, not batches×width: every
        // subsequent scan of the index (4 per batch) pays per-file reader
        // setup, which at micro-batch sizes outweighs the exchange.
        (if (guessSmall) sigged.repartition(1) else sigged)
          .observe(obsNew, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(staged)
      }
      val nNew = observed(obsNew)(spark.read.parquet(staged).count())
      if (nNew == 0L) {
        fs.delete(new org.apache.hadoop.fs.Path(staged), true): Unit
        nearDupTallies.put(stateDir,
          st.copy(lastBatchId = math.max(batchId, st.lastBatchId),
            lastNNew = 0L))
        return
      }
      val nDocs = st.nDocs + nNew
      // the pairs job's profile keys on the EXACT size of this batch, and
      // on the index staying modest: the fused shuffle-hash verify join
      // shuffles corpus text once per batch, the right trade only while
      // job launches dominate rows (the AQE path instead broadcasts the
      // gate-bounded pair list and never shuffles the corpus)
      val small = nNew <= smallBatchDocs && st.nDocs <= (smallBatchDocs << 5)
      val newSigs = spark.read.schema(sigSchema).parquet(staged)
      val newKeys = keysOf(newSigs)
      val allSigs = sigsState.fold(newSigs)(newSigs.unionByName(_))
      val allKeys = keysOf(allSigs)
      // job 2 — PAIRS, one fused plan start to finish.
      // small profile: one explicit hash exchange of the index keyset,
      // shared (ReuseExchange) between the gate's band counts and the
      // probe join's stream side
      val allKeysJ =
        if (small) allKeys.repartition(col("band_key")) else allKeys
      val probe = maxCandidatesPerDoc.fold(newKeys) { f =>
        // pre-join gate: per band b with n_b probe keys and a_b index keys
        // (index ⊇ probe) the join emits n_b·(a_b − 1) non-self slots; a
        // unique unordered pair occupies at most one slot per band per
        // orientation, i.e. ≤ 2·bands slots, so slots > 2·bands·budget
        // PROVES the join would push cumulative admitted candidates over
        // factor×nDocs.
        // One hash-aggregate over the union of probe and index keys — a
        // LINEAR scan + group-by, deliberately NOT the "restrict the index
        // to probed bands first" join form: that variant was built and
        // measured 2-5x SLOWER with SUPERLINEAR per-batch growth (7 → 14 →
        // 36 s across four 20k-doc batches), because the probe-count side
        // (batch·bands rows ≈ 10 MB at 20k docs) sits right at the
        // broadcast threshold and the planner degrades to a sort-merge
        // join — fully SORTING the unbounded index keyset every batch,
        // where this form's aggregate only hashes it. At true 100 TB
        // ingest the gate input should become maintained per-band-count
        // state rather than any per-batch derivation; until then the flat
        // hash aggregate is the cheapest exact form.
        // Under the AQE profile the budget is a LocalRelation row, not a
        // literal, so the plan — and its cached codegen — is identical
        // across batches; the small profile instead folds it as a literal
        // column on the 1-row aggregate (killing the BNLJ's own broadcast
        // job — one fewer job launch, the small point's real currency;
        // the literal lives above the aggregate, so the scan/agg codegen
        // still caches).
        val budgetVal = 2.0 * bands * (f * nDocs - st.cumCand)
        val statsWithBudget = if (small) {
          // small profile: the same explicitly-partitioned index-keys
          // exchange (`allKeysJ`) feeds BOTH this band-count aggregate
          // and the probe join's stream side (ReuseExchange) — the index
          // keyset is scanned and shuffled once per batch, not twice.
          // Identical arithmetic to the union form: bands with no probe
          // key contribute 0 slots, so joining na (all keys) with np
          // (probe keys) computes the same Σ np·(na−1).
          val na = allKeysJ.groupBy(col("band_key"))
            .agg(count(lit(1)).as("__na"))
          val np = newKeys.groupBy(col("band_key"))
            .agg(count(lit(1)).as("__np"))
          na.join(np.hint("shuffle_hash"), "band_key")
            .agg(coalesce(sum(col("__np") * (col("__na") - 1)), lit(0L))
              .as("__slots"))
            // budget as a literal column, not a LocalRelation: kills the
            // BNLJ's own broadcast job (job launches are the small
            // point's currency); the literal sits above the aggregate,
            // so the scan/agg codegen still caches
            .withColumn("__slot_budget", lit(budgetVal))
        } else
          newKeys.withColumn("__new", lit(true))
            .unionByName(keysOf(sigsState.getOrElse(newSigs.limit(0)))
              .withColumn("__new", lit(false)))
            .groupBy(col("band_key"))
            .agg(count(lit(1)).as("__na"),
              sum(when(col("__new"), 1L).otherwise(0L)).as("__np"))
            .agg(coalesce(sum(col("__np") * (col("__na") - 1)), lit(0L))
              .as("__slots"))
            // LocalRelation row, not a literal: the AQE plan — and its
            // cached codegen — stays identical across batches
            .crossJoin(spark.createDataFrame(Seq(NdBudget(budgetVal))))
        // broadcast builds BLOCK the driver before the action job is even
        // submitted (executeBroadcast awaits during RDD DAG construction),
        // so under the small profile the 1-row stats side rides a
        // replicate-NL cartesian instead: its aggregate becomes ordinary
        // stages INSIDE the pairs job, scheduled concurrently with the
        // key/text scans rather than serialized ahead of them
        val gated = if (small)
          newKeys.crossJoin(statsWithBudget.hint("shuffle_replicate_nl"))
        else
          newKeys.crossJoin(broadcast(statsWithBudget))
        gated
          .filter(when(col("__slots").cast("double") <= col("__slot_budget"), lit(true))
            .otherwise(raise_error(concat(
              lit("incrementalNearDupSink: projected band-join volume ("),
              col("__slots").cast("string"),
              lit(s" pair slots over $bands bands) exceeds the cumulative " +
                s"$f x corpus cap. If this corpus is legitimately " +
                "duplicate-saturated, raise the cap (e.g. maxCandidatesPerDoc " +
                "= Some(higher)) or disable it with maxCandidatesPerDoc = " +
                "None"))).cast("boolean")))
          .select(col(idCol), col("band_key"))
      }
      val obsCand = Observation(s"graft_nd_cand_${java.util.UUID.randomUUID}")
      // probe side vs index: the probe is bounded by the batch where the
      // index is unbounded at 100 TB, so the probe is the natural build
      // side. Large batches leave the choice to AQE (which sees the
      // staged file's exact size): a forced broadcast() would OOM the
      // driver on a million-document batch, while AQE degrades to a
      // shuffle join. The small profile pins a SHUFFLE-HASH join building
      // the (provably ≤ smallBatchDocs·bands-row) probe side — the index
      // keyset streams, never sorted, never broadcast, and the whole
      // pairs plan fuses into one job.
      val probeSide = {
        val p = probe.select(col(idCol).as("ka"), col("band_key"))
        if (small) p.hint("shuffle_hash") else p
      }
      val cand = probeSide
        .join(allKeysJ.select(col(idCol).as("kb"), col("band_key")), "band_key")
        .filter(col("ka") =!= col("kb"))
        .select(least(col("ka"), col("kb")).as("doc_a"),
          greatest(col("ka"), col("kb")).as("doc_b"))
      // exact-Jaccard verify over the candidates' shingle ARRAYS in ONE
      // index scan: each pair melts into (pair, side, doc) rows, the melt
      // broadcast-joins the corpus once, and a per-pair regroup both
      // DEDUPES multi-band collisions and reassembles the two sides —
      // collapsing what used to be a separate pre-scoring distinct()
      // exchange into the aggregation's own (round 13: one fewer AQE
      // stage per batch; at the small operating point the wall is almost
      // pure stage scheduling). The regroup carries raw TEXT, not
      // shingle arrays, so shingles are still computed exactly twice per
      // unique pair — AFTER the aggregation; the trade is shuffling a
      // pair's text once per colliding band (≤ `bands`×) instead of
      // paying the extra exchange. The candidate count the cumulative
      // gate audits is observed on the aggregated (distinct-pair) rows,
      // BEFORE the jaccard filter — identical to the old distinct count,
      // because both ids of every candidate are present in allSigs by
      // construction. Arithmetic is identical to the batch twin's
      // exploded form (both count DISTINCT shared shingles over
      // shingleSet tokenization).
      val melt = cand.select(col("doc_a"), col("doc_b"),
          explode(array(
            struct(lit("a").as("side"), col("doc_a").as("doc")),
            struct(lit("b").as("side"), col("doc_b").as("doc")))).as("m"))
        .select(col("doc_a"), col("doc_b"),
          col("m.side").as("side"), col("m.doc").as(idCol))
      // small profile: build side = melt (gate-bounded pair rows); the
      // corpus text side streams
      val verified = (if (small) melt.hint("shuffle_hash") else melt)
        .join(allSigs.select(col(idCol), col(textCol)), Seq(idCol))
        // duplicate (pair, side) rows from multi-band collisions carry
        // the SAME doc text, so first() stays deterministic
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(first(when(col("side") === "a", col(textCol)), ignoreNulls = true).as("t_a"),
          first(when(col("side") === "b", col(textCol)), ignoreNulls = true).as("t_b"))
        .observe(obsCand, count(lit(1)).as("n"))
        .select(col("doc_a"), col("doc_b"),
          graft.operators.Dedup.shingleSet(col("t_a"), ngram).as("sh_a"),
          graft.operators.Dedup.shingleSet(col("t_b"), ngram).as("sh_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      // freshBatch => pairsState is None by construction and `verified`
      // appends directly; otherwise (retry/restart/replay) the anti-join
      // drops pairs a crashed predecessor already persisted
      val freshPairs = pairsState.fold(verified)(p =>
        verified.join(p.select(col("doc_a"), col("doc_b")),
          Seq("doc_a", "doc_b"), "left_anti"))
      // crash window: pairs first — a retry regenerates the same pairs
      // and the anti-join drops them; the sigs commit below is what stops
      // the docs looking new
      // small profile: the surviving pairs are a handful of rows — an
      // explicit single-partition exchange AFTER the (parallel) verify
      // keeps one write task and one file per batch (replays then
      // re-read fewer, bigger pair files); coalesce(1) would instead
      // collapse the verify itself into that one task
      withProfile(small) {
        (if (small) freshPairs.repartition(1) else freshPairs)
          .write.mode("append").parquet(pairsDir)
      }
      val cumCand = st.cumCand + observed(obsCand)(cand.distinct().count())
      maxCandidatesPerDoc.foreach { f =>
        if (cumCand > f * nDocs) throw new IllegalStateException(
          s"incrementalNearDupSink: the exact post-join candidate volume " +
          s"exceeds the cumulative $f x corpus cap ($cumCand candidates " +
          s"admitted for $nDocs docs). If this corpus is legitimately " +
          "duplicate-saturated, raise the cap (e.g. maxCandidatesPerDoc = " +
          "Some(higher)) or disable it with maxCandidatesPerDoc = None")
      }
      // COMMIT: move the staged part files into sigs (Spark part names
      // carry a per-write UUID, so moves never collide); a failed move
      // throws before the staging dir is dropped, so the batch replays
      fs.mkdirs(new org.apache.hadoop.fs.Path(sigsDir)): Unit
      fs.listStatus(new org.apache.hadoop.fs.Path(staged)).foreach { f =>
        val nm = f.getPath.getName
        if (nm.startsWith("part-"))
          StateDir.rename(fs, f.getPath, new org.apache.hadoop.fs.Path(s"$sigsDir/$nm"),
            s"incrementalNearDupSink: failed to move ${f.getPath} into $sigsDir")
      }
      fs.delete(new org.apache.hadoop.fs.Path(staged), true): Unit
      nearDupTallies.put(stateDir,
        NearDupTally(nDocs, cumCand, math.max(batchId, st.lastBatchId), nNew))
    } catch { case e: Throwable => nearDupTallies.remove(stateDir); throw e }
  }

  /** STREAMING ANN INDEX MAINTENANCE — [[graft.operators.IvfIndex]]'s
    * incremental half as a foreachBatch sink: each micro-batch's new
    * vectors are assigned to their nearest existing cell (codebook frozen
    * between rebuilds) and appended to the cell-partitioned corpus, so
    * probes see fresh vectors immediately through the same
    * partition-pruned layout. Replay-safe by the insert-if-absent gate
    * (see [[graft.operators.IvfIndex.appendBatch]]);
    * [[graft.operators.IvfIndex.maintenanceAudit]] is the staleness /
    * recall row a maintenance schedule keys rebuilds on. */
  def ivfAppendSink(idCol: String, vecCol: String, indexDir: String)
                   (batch: DataFrame, batchId: Long): Unit = {
    graft.operators.IvfIndex.appendBatch(batch, idCol, vecCol, indexDir)
  }

  /** STREAMING COMPRESSED-INDEX MAINTENANCE — [[ivfAppendSink]]'s twin
    * for the PQ/IVF-PQ layout: each micro-batch's new vectors are
    * assigned to their frozen coarse cell and encoded with the frozen
    * per-subspace codebooks, appended to the cell-partitioned codes
    * (see [[graft.operators.PqIndex.appendBatch]]); replay-safe by the
    * same insert-if-absent gate. [[graft.operators.PqIndex
    * .maintenanceAudit]] supplies the staleness / ADC-recall row a
    * rebuild schedule keys on. */
  def pqAppendSink(idCol: String, vecCol: String, indexDir: String)
                  (batch: DataFrame, batchId: Long): Unit = {
    graft.operators.PqIndex.appendBatch(batch, idCol, vecCol, indexDir)
  }

  /** S6 insert-if-absent sink as a foreachBatch append to a parquet-backed
    * state dir: [[graft.operators.Ops.insertIfAbsent]]'s rows are appended,
    * so at-least-once replay degrades to exactly-once.
    *
    * At scale the state table would be a transactional table format keyed
    * by `_id`; the anti-join-then-append shape is identical.
    */
  def insertIfAbsentSink(keyCol: String, stateDir: String)
                        (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // only "no state yet" skips the anti-join, the StateDir.applyBatch rule:
    // a swallowed failure here would append duplicates (exactly-once lost).
    // The anti-join reads only the key column, so the batch's key field is
    // the state's read schema: no footer-inference job per call
    val stored = if (StateDir.hasState(spark, stateDir))
      Some(spark.read.schema(batch.select(col(keyCol)).schema).parquet(stateDir))
    else None
    graft.operators.Ops.insertIfAbsent(batch, keyCol, stored)
      .write.mode("append").parquet(stateDir)
  }

  /** Wire a streaming DataFrame into the insert-if-absent sink with
    * checkpointing (ST4: replaces the reference's batch_status ledger). */
  def startUpsertStream(df: DataFrame, keyCol: String, stateDir: String,
                        checkpointDir: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(insertIfAbsentSink(keyCol, stateDir) _)
      .trigger(Trigger.AvailableNow())
      .start()

  /** ST3-equivalent file micro-batch source: the reference polled a dir and
    * took ≤6 files per 20 s (consumer2.py:27-28); Spark's file source with
    * maxFilesPerTrigger does the discovery, ordering and bookkeeping. */
  def fileSource(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                 path: String, maxFilesPerTrigger: Int = 6): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** S8/F4 — stamp each row with the epoch parsed from its source filename
    * (`{topic}_{epoch}.json`), the reference's filename-timestamp protocol
    * (consumer2.py:56-63). Works on batch and file-streaming frames. */
  def withFilenameEpoch(df: DataFrame): DataFrame =
    df.withColumn("file_ts", graft.functions.Functions.filenameEpoch(input_file_name()))

  /** S7 — last-write-wins upsert sink (consumer1.py:144-150): newest version
    * per key replaces state. `versionCol` orders writes (batch id, event ts,
    * …); rewrite of the key partition is modeled as read-union-dedup-write,
    * which is the foreachBatch MERGE shape for any keyed table format.
    * Applied by [[StateDir.applyBatch]] without a marker (a replay
    * re-merges the same rows to the same result); its publish stands in
    * for a transactional table commit. */
  def upsertLastWinsSink(keyCol: String, versionCol: String, stateDir: String)
                        (batch: DataFrame, batchId: Long): Unit =
    StateDir.applyBatch(batch.sparkSession, stateDir, "upsertLastWinsSink", None) { live =>
      // ties on version prefer the incoming row (the later write wins)
      val incoming = batch.withColumn("__p", lit(1))
      val merged = live.fold(incoming)(s => incoming.unionByName(s.withColumn("__p", lit(0))))
      graft.operators.Ops
        .dedupFirstWins(merged, Seq(keyCol), Seq(col(versionCol).desc, col("__p").desc))
        .drop("__p")
    }

  /** A2 ⊕ S7 — incremental MATERIALIZED-VIEW maintenance: each micro-batch
    * is aggregated to per-key partials, merged with the stored rollup via
    * the algebraic merge (`Ops`-style sum/max combine — exactly the A2
    * partial≡direct property, so state after N batches provably equals the
    * direct aggregate of all N batches' rows), and swapped in through the
    * crash-safe [[StateDir]] publish. This is the lambda architecture's
    * serving table WITHOUT the batch-layer recompute: at 100 TB you
    * maintain the rollup with per-batch work proportional to the batch,
    * not the history.
    *
    * NOT idempotent under replay by itself (counts would double), so it
    * is applied by [[StateDir.applyBatch]] with the batch-id marker: a
    * replayed batchId is skipped. */
  def incrementalRollupSink(keyCol: String, sums: Seq[String], maxes: Seq[String],
                            stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    StateDir.applyBatch(batch.sparkSession, stateDir, "incrementalRollupSink", Some(batchId)) { live =>
      val aggs = sums.map(c => sum(col(c)).as(c)) ++ maxes.map(c => max(col(c)).as(c))
      val partial = batch.groupBy(col(keyCol))
        .agg(aggs.head, aggs.tail: _*)
      live.fold(partial)(s =>
        graft.operators.Ops.mergePartials(partial.unionByName(s), Seq(keyCol), sums, maxes))
    }

  /** S7 ⊕ [[graft.operators.Dedup.goldenRecord]] — streaming GOLDEN-RECORD
    * (survivorship) maintenance: the MDM merge kept fresh as records
    * arrive. Unlike [[upsertLastWinsSink]]'s whole-row replace, each FIELD
    * independently keeps the newest non-null value across the key's whole
    * history — a fresh record with a null field must NOT erase an older
    * field value. State per key: the golden fields, each field's
    * PROVENANCE version `__v_<field>` (the version of the record that
    * supplied its surviving value — null while the field is), the max
    * `versionCol` seen, and cumulative `n_records`. The fold is
    * ASSOCIATIVE because each field survives by max-by-its-OWN-provenance
    * version, and that (version, value) pair is exactly what the state
    * row carries — so state after N batches equals the batch operator
    * over the union of all N batches' rows EVEN when records arrive
    * out of version order across batches (a late v=3 value must lose to
    * a stored v=5 value but beat a stored v=1 value; storing only the
    * key's max version would re-attribute every stored field to v=5 and
    * wrongly suppress the late arrival — ADVICE r16). Asserted in the
    * spec as the incremental-rollup partial≡direct property, including
    * an out-of-order interleaving. Versions must be NON-NULL and unique
    * per key (a same-version tie falls to the incoming row via `__p`,
    * the upsert sink's convention).
    *
    * `n_records` is a count, so the sink is NOT idempotent under replay
    * by itself: it is applied by [[StateDir.applyBatch]] with the
    * batch-id marker, and a replayed batchId is skipped. */
  def goldenRecordSink(keyCol: String, versionCol: String, fields: Seq[String],
                       stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    StateDir.applyBatch(batch.sparkSession, stateDir, "goldenRecordSink", Some(batchId)) { live =>
      // per-field provenance for fresh rows: the row's own version where
      // the field is non-null (state rows arrive with provenance already
      // attached, possibly OLDER than their key's max version)
      val incoming = fields.foldLeft(
          batch.select((keyCol +: versionCol +: fields).map(col): _*)
            .withColumn("__p", lit(1L)).withColumn("n_records", lit(1L))) {
        (d, f) => d.withColumn(s"__v_$f", when(col(f).isNotNull, col(versionCol)))
      }
      val merged = live.fold(incoming)(s => incoming.unionByName(s.withColumn("__p", lit(0L))))
      // one hash aggregation does all of it (map-side partials, no window
      // sort, no join): per field, the value whose (provenance, __p) key is
      // max among non-null values — max_by skips rows whose key expression
      // is null, so null field values never displace a survivor
      val aggs: Seq[org.apache.spark.sql.Column] =
        (max(col(versionCol)).as(versionCol) +:
          fields.flatMap { f =>
            val key = when(col(f).isNotNull, struct(col(s"__v_$f"), col("__p")))
            Seq(max_by(col(f), key).as(f), max(col(s"__v_$f")).as(s"__v_$f"))
          }) :+ sum(col("n_records")).as("n_records")
      merged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    }

  /** STREAMING φ-FREQUENT ITEMS (trending) — an incremental MISRA–GRIES
    * summary over an unbounded item stream, the streaming twin of
    * [[graft.operators.HeavyHitters.frequentItems]] and the primitive
    * behind every "trending topics" board: per micro-batch, the batch's EXACT
    * item counts (a batch-bounded aggregation) merge into the stored
    * k-counter summary, and the merged table prunes by subtracting the
    * (k+1)-th largest count (the mergeable-summaries step, Agarwal et
    * al. 2013 — the bound `true(x) − est(x) ≤ n_total/(k+1)` holds under
    * ANY merge tree, so batch boundaries never affect the guarantee).
    * State is ≤ k rows REGARDLESS of stream length or vocabulary — this
    * never stores a per-item table.
    *
    * Crash/replay discipline is [[StateDir]]'s, with the running total as
    * the marker's second field, so a replayed batch is skipped and no
    * crash point separates the summary from its total. Per batch: one
    * checkpointed merge, which also observes the batch's item total, and
    * one k+1-row collect — bounded work, bounded state. Readers
    * compare `est · (k+1) > n_total` (the marker's n) for the
    * φ-frequency decision, exactly as the batch operator's verification
    * pass does. */
  def trendingSink(itemCol: String, k: Int, stateDir: String)
                  (batch: DataFrame, batchId: Long): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = batch.sparkSession
    val state = StateDir.recovered(spark, stateDir, "trendingSink", requireMarker = true)
    val (applied, nPrev) = trendingFields(state)
    if (batchId <= applied) return // replayed batch: already merged
    val counts = batch
      .select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("item")).agg(count(lit(1)).as("est"))
    val total = coalesce(sum(col("est")), lit(0L))
    // the batch total rides the merge's checkpoint job
    val obsN = Observation(s"graft_trend_n_${java.util.UUID.randomUUID}")
    val seen = counts.observe(obsN, total.as("n"))
    val merged = state.live.fold(seen)(s =>
      seen.unionByName(s).groupBy(col("item")).agg(sum(col("est")).as("est"))
    ).localCheckpoint()
    val nBatch = observed(obsN)(counts.agg(total).collect()(0).getLong(0))
    val topK1 = merged.orderBy(col("est").desc, col("item")).limit(k + 1).collect()
    val d = if (topK1.length <= k) 0L else topK1.last.getLong(1)
    val pruned = merged.filter(col("est") > d)
      .select(col("item"), (col("est") - d).as("est"))
    state.write(pruned)
    state.publish(batchId, nPrev + nBatch)
  }

  /** An observed count, or the count job `fallback` if it never arrives. */
  private def observed(o: Observation)(fallback: => Long): Long =
    try Await.result(o.future, 10.seconds).getLong(0)
    catch { case _: java.util.concurrent.TimeoutException => fallback }

  /** The running total (for the φ threshold) and last applied batch of a
    * [[trendingSink]] state dir: (batchId, n_total). */
  def trendingMarker(spark: SparkSession, stateDir: String): (Long, Long) =
    trendingFields(new StateDir(spark, stateDir, "trendingMarker"))

  private def trendingFields(state: StateDir): (Long, Long) =
    state.marker.fold((-1L, 0L))(m => (m(0), m(1)))

  /** STREAMING PARETO FRONTIER — incremental skyline maintenance, the
    * streaming twin of [[graft.operators.Skyline.skyline2d]] (both dims
    * maximized): the dominance-merge identity
    * `skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))` (a point
    * dominated in the union is dominated by a member of its own side's
    * skyline — take a MAXIMAL dominator; transitivity) makes the frontier
    * a mergeable summary, so each micro-batch costs one batch-grain
    * skyline plus a re-skyline of (stored frontier ∪ batch survivors) —
    * batch + frontier work, never history. State is the frontier rows
    * themselves, ALL payload columns kept and duplicates of frontier
    * points preserved (the batch operator's semantics); expected
    * O(log n) rows for independent dimensions, deliberately UNCAPPED —
    * an anti-correlated stream legitimately grows it and the 2D plan
    * stays frontier-linear either way.
    *
    * Applied by [[StateDir.applyBatch]] (batch-id marker): a replayed
    * batch is skipped. */
  def skylineSink(x: String, y: String, stateDir: String)
                 (batch: DataFrame, batchId: Long): Unit =
    StateDir.applyBatch(batch.sparkSession, stateDir, "skylineSink", Some(batchId)) { live =>
      val bSky = graft.operators.Skyline.skyline2d(batch, x, y)
      // frontier-grain re-skyline: no prune stage (pruneBuckets = 1)
      live.fold(bSky)(s =>
        graft.operators.Skyline.skyline2d(bSky.unionByName(s), x, y, pruneBuckets = 1))
    }

  /** STREAMING EWMA — each key's smoothed level ([[graft.operators
    * .Profiler.ewmaSmooth]]) maintained incrementally: the recursion
    * `s += (x − s) >> shift` is a left fold, so folding each batch's
    * sorted observations FROM the stored level continues the exact
    * sequence — `fold(fold(prior), batch) = fold(prior ⊕ batch)` — and
    * per-batch cost is batch-grain aggregation plus a key-grain merge
    * join, never history. State: one (group, n_obs, ewma_fp) row per
    * key. Batches are assumed to arrive in observation order (the
    * streaming-EWMA contract: the fold order IS arrival order; within a
    * batch the `seq` columns sort).
    *
    * Applied by [[StateDir.applyBatch]] (batch-id marker); the batch's
    * series is [[graft.operators.Profiler.fixedPointSeries]], the one
    * `ewmaSmooth` folds. */
  def ewmaSink(group: String, seq: Seq[String], x: String,
               alphaShift: Int, scale: Int, stateDir: String)
              (batch: DataFrame, batchId: Long): Unit = {
    require(alphaShift >= 1 && alphaShift <= 32 && scale >= 0 && scale <= 6,
      s"ewmaSink: bad alphaShift=$alphaShift / scale=$scale")
    StateDir.applyBatch(batch.sparkSession, stateDir, "ewmaSink", Some(batchId)) { live =>
      val b = graft.operators.Profiler.fixedPointSeries(batch, group, seq, x, scale)
      val step = (acc: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) => acc + shiftright(v - acc, alphaShift)
      live.fold(b.withColumn("n_obs", lit(null).cast("long"))
          .withColumn("ewma_fp", lit(null).cast("long")))(s => b.join(s, Seq(group), "full"))
        .select(col(group),
          (coalesce(col("n_obs"), lit(0L)) +
            coalesce(size(col("__xs")), lit(0)).cast("long")).as("n_obs"),
          when(col("__xs").isNull, col("ewma_fp")) // key silent this batch
            .when(col("ewma_fp").isNull, // new key: first obs seeds the fold
              aggregate(slice(col("__xs"), lit(2), greatest(size(col("__xs")) - 1, lit(0))),
                element_at(col("__xs"), 1), step))
            .otherwise( // continuing key: stored level seeds the fold
              aggregate(col("__xs"), col("ewma_fp"), step))
            .as("ewma_fp"))
    }
  }

  /** STREAMING DISTINCT-COUNT (HLL) — per-group approximate distinct
    * cardinality over an unbounded stream, the third mergeable-summary
    * sink beside [[trendingSink]] (Misra–Gries) and [[ewmaSink]]: per
    * micro-batch one `hll_sketch_agg` aggregation at group grain, then a
    * key-grain `hll_union` merge with the stored sketches (Apache
    * DataSketches HLL — the union of sketches equals the sketch of the
    * union, under ANY merge tree, so batch boundaries never change the
    * estimate). State: one (group, sketch, n_distinct_est) row per
    * group — KBs per group regardless of stream length; this never
    * stores a per-item table, which is the entire point at 100 TB
    * ("distinct users per source, ever" costs group-grain state).
    *
    * Applied by [[StateDir.applyBatch]] (batch-id marker). HLL union
    * with itself IS idempotent, so a replay could not double-count; the
    * marker still skips replays so the discipline stays uniform with the
    * non-idempotent sinks. */
  def hllDistinctSink(group: String, item: String, stateDir: String,
                      lgConfigK: Int = 12)
                     (batch: DataFrame, batchId: Long): Unit =
    StateDir.applyBatch(batch.sparkSession, stateDir, "hllDistinctSink", Some(batchId)) { live =>
      val b = batch.filter(col(item).isNotNull)
        .groupBy(col(group))
        .agg(hll_sketch_agg(col(item), lit(lgConfigK)).as("__bs"))
      live.fold(b.withColumn("sketch", lit(null).cast("binary")))(s =>
          b.join(s.select(col(group), col("sketch")), Seq(group), "full"))
        .select(col(group),
          when(col("__bs").isNull, col("sketch"))
            .when(col("sketch").isNull, col("__bs"))
            .otherwise(hll_union(col("sketch"), col("__bs"))).as("sketch"))
        .withColumn("n_distinct_est", hll_sketch_estimate(col("sketch")))
    }

  /** STREAMING TWO-SIDED CUSUM MONITOR — the sequential change detector
    * as a sink, beside the distributional [[psiDriftSink]]: per key, the
    * classic online CUSUM against a FIXED target μ₀ (the control-chart
    * form — the retrospective per-group-mean form is
    * [[graft.operators.Profiler.cusumTwoSided]]; a stream cannot know
    * its final mean). Exactly incremental because prefix sums compose:
    * the state carries (P, min P, S_max) per direction and folding a
    * new batch's sorted observations FROM the stored state equals the
    * whole-series statistic — `S_i = P_i − min(0, min_{j≤i} P_j)` needs
    * only the running prefix and its minimum, never history. All
    * arithmetic is int64 fixed-point (the [[ewmaSink]] quantization);
    * state is ONE row per key. Batches must arrive in observation order
    * (the ewmaSink contract); within a batch the `seq` columns sort.
    *
    * Applied by [[StateDir.applyBatch]] (batch-id marker, marker-checked
    * recovery); the batch's series is [[graft.operators.Profiler
    * .fixedPointSeries]], the ewmaSink one. State/output: (group, n_obs,
    * p_pos, min_pos, smax_pos, p_neg, min_neg, smax_neg, alarm) with
    * alarm = either S_max > h. */
  def cusumSink(group: String, seq: Seq[String], x: String,
                target: Double, slack: Double, threshold: Double,
                scale: Int, stateDir: String)
               (batch: DataFrame, batchId: Long): Unit = {
    require(scale >= 0 && scale <= 6, s"cusumSink: scale $scale not in [0, 6]")
    StateDir.applyBatch(batch.sparkSession, stateDir, "cusumSink", Some(batchId)) { live =>
      val fp = graft.operators.Profiler.fixedPoint(_: Double, scale)
      val (muQ, kQ, hQ) = (fp(target), fp(slack), fp(threshold))
      val b = graft.operators.Profiler.fixedPointSeries(batch, group, seq, x, scale)
      // one fold per direction: acc = (p, minp, smax); the deviation sign
      // is the only difference, so both run the same step shape
      def stepFold(xs: org.apache.spark.sql.Column, init: org.apache.spark.sql.Column,
                   dev: (org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
        aggregate(xs, init, (acc, v) => {
          val p = acc.getField("p") + dev(v)
          val m = least(acc.getField("m"), p)
          struct(p.as("p"), m.as("m"),
            greatest(acc.getField("s"), p - least(lit(0L), m)).as("s"))
        })
      val zero = struct(lit(0L).as("p"), lit(0L).as("m"), lit(0L).as("s"))
      val stateCols = Seq("n_obs", "p_pos", "min_pos", "smax_pos",
        "p_neg", "min_neg", "smax_neg")
      live.fold(stateCols.foldLeft(b)((d, c) => d.withColumn(c, lit(null).cast("long"))))(s =>
        b.join(s.drop("alarm"), Seq(group), "full")
      ).select(col(group),
        (coalesce(col("n_obs"), lit(0L)) +
          coalesce(size(col("__xs")), lit(0)).cast("long")).as("n_obs"),
        when(col("__xs").isNull, // key silent this batch: state rides through
          struct(col("p_pos").as("p"), col("min_pos").as("m"), col("smax_pos").as("s")))
          .otherwise(stepFold(col("__xs"),
            when(col("p_pos").isNull, zero)
              .otherwise(struct(col("p_pos").as("p"), col("min_pos").as("m"),
                col("smax_pos").as("s"))),
            v => v - lit(muQ) - lit(kQ))).as("__up"),
        when(col("__xs").isNull,
          struct(col("p_neg").as("p"), col("min_neg").as("m"), col("smax_neg").as("s")))
          .otherwise(stepFold(col("__xs"),
            when(col("p_neg").isNull, zero)
              .otherwise(struct(col("p_neg").as("p"), col("min_neg").as("m"),
                col("smax_neg").as("s"))),
            v => lit(muQ) - v - lit(kQ))).as("__dn"))
        .select(col(group), col("n_obs"),
          col("__up.p").as("p_pos"), col("__up.m").as("min_pos"),
          col("__up.s").as("smax_pos"),
          col("__dn.p").as("p_neg"), col("__dn.m").as("min_neg"),
          col("__dn.s").as("smax_neg"))
        .withColumn("alarm",
          col("smax_pos") > lit(hQ) || col("smax_neg") > lit(hQ))
    }
  }

  /** STREAMING DISTRIBUTION-DRIFT MONITOR (PSI) — the model-ops staple
    * beside the rule-based [[qualityMonitorSink]]: the FIRST applied
    * batch freezes as the reference histogram (integer-width bins, the
    * [[graft.operators.Profiler.distributionDrift]] binning), and every
    * later batch appends one (batch_id, n_rows, psi) ledger row scoring
    * its own distribution against that reference through the exact same
    * Laplace-smoothed ln arithmetic ([[graft.operators.Profiler
    * .driftFromBins]] — the batch operator's bin-level core, so the
    * streamed PSI is definitionally the batch PSI of (reference, batch)).
    * The industry alarm thresholds (0.1 watch / 0.25 act) apply to the
    * ledger values downstream. State: the reference bins (value-range
    * bounded) + the ledger (one row per batch) — never raw rows.
    *
    * Crash/replay discipline is [[StateDir]]'s: the batch-id marker and
    * the swap cover the whole state dir (both frames move together — no
    * crash point separates reference, ledger, and marker). */
  def psiDriftSink(value: String, width: Long, stateDir: String)
                  (batch: DataFrame, batchId: Long): Unit = {
    require(width >= 1, s"psiDriftSink: need width >= 1, got $width")
    val spark = batch.sparkSession
    val state = StateDir.recovered(spark, stateDir, "psiDriftSink", requireMarker = true)
    if (batchId <= state.appliedBatch) return // replayed batch: no-op
    import spark.implicits._
    val bins = batch.filter(col(value).isNotNull)
      .select(expr(s"CAST($value AS BIGINT) div $width").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
    val nRows = batch.count()
    val nVals = bins.agg(coalesce(sum(col("n_b")), lit(0L))).head().getLong(0)
    if (!state.hasState) {
      // first applied batch FREEZES the reference — so an empty micro-batch
      // (foreachBatch does deliver them, e.g. at stream start before data
      // arrives) must NOT freeze: an all-null/empty reference would score
      // every later batch against uniform smoothing forever. Skip without
      // writing state or marker; the NEXT non-empty batch freezes.
      if (nVals == 0) return
      state.write(bins.select(col("bin"), col("n_b").as("n_a")), "ref")
      state.write(Seq.empty[(Long, Long, Double)].toDF("batch_id", "n_rows", "psi"), "ledger")
    } else {
      val ref = state.read("ref")
      // headOption, not head(): an empty batch vs any reference must score
      // psi = 0.0 (no observed mass, no evidence of drift) rather than
      // kill the streaming query with NoSuchElementException
      val psi =
        if (nVals == 0) 0.0
        else graft.operators.Profiler.driftFromBins(ref, bins)
          .select(col("psi")).collect().headOption.map(_.getDouble(0)).getOrElse(0.0)
      state.write(ref, "ref")
      state.write(state.read("ledger")
        .unionByName(Seq((batchId, nRows, psi)).toDF("batch_id", "n_rows", "psi")), "ledger")
    }
    state.publish(batchId)
  }

  /** STREAMING EMBEDDING-SPACE DRIFT MONITOR — [[psiDriftSink]]'s
    * vector-space twin (VERDICT r16 #6): the PSI sink watches SCALAR
    * features; this one watches the embedding distribution a retrieval /
    * dedup / mixture pipeline actually consumes. The first applied batch
    * with ≥ k vectors FREEZES the reference: a fixed-point k-means
    * ([[graft.operators.Clustering.kmeansFit]] — deterministic seeds,
    * integer centroids) plus that batch's cluster-assignment histogram.
    * Every later batch is scored against the frozen codebook with
    * map-only assignment ([[graft.operators.Clustering
    * .assignToCentroids]] — same quantization/tie-break, no retraining)
    * and appends one ledger row:
    *
    *  - `assign_psi` — PSI between the reference and batch assignment
    *    histograms through the exact [[graft.operators.Profiler
    *    .driftFromBins]] arithmetic (cluster = bin), so the industry
    *    0.1/0.25 thresholds read directly: mass moving between regions
    *    of embedding space;
    *  - `mean_shift` / `max_shift` — per-cluster Euclidean distance
    *    between the frozen centroid and the batch's members' mean
    *    ([[graft.operators.Similarity.groupCentroids]] over the batch
    *    assignment), averaged / maxed over the clusters the batch
    *    touches, round(6): WHERE the space is moving, even when the
    *    histogram is stable (all clusters keep their share while every
    *    cluster's content slides — PSI-invisible by construction).
    *
    * The scoring of one batch against the frozen state is
    * [[scoreEmbeddingBatch]], shared verbatim with the spec's direct
    * batch computation (the mergeTotals shared-semantics rule), so
    * chunked ≡ batch is an identity of code paths, asserted in-spec.
    * State: k·dim centroid rows + k histogram rows + the ledger — never
    * raw vectors. Crash/replay discipline is [[StateDir]]'s (batch-id
    * marker over the whole state dir). */
  def embeddingDriftSink(idCol: String, vecCol: String, k: Int, iters: Int,
                         stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val state = StateDir.recovered(spark, stateDir, "embeddingDriftSink", requireMarker = true)
    if (batchId <= state.appliedBatch) return // replayed batch: no-op
    import spark.implicits._
    val clean = batch.filter(col(vecCol).isNotNull)
    val nRows = clean.count()
    if (!state.hasState) {
      // freeze on the first batch that can seed k clusters — an empty or
      // sub-k batch must NOT freeze a degenerate reference (the
      // psiDriftSink empty-first-batch rule)
      if (nRows < k) return
      val (centroids, assign) = graft.operators.Clustering.kmeansFit(
        clean, idCol, vecCol, k, iters)
      state.write(centroids.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (q, di) => (ci.toLong, (di + 1).toLong, q) }
      }.toSeq.toDF("cluster", "dim", "q").coalesce(1), "centroids")
      state.write(assign.groupBy(col("cluster").cast("long").as("bin"))
        .agg(count(lit(1)).as("n_a")).coalesce(1), "hist")
      state.write(Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("batch_id", "n_rows", "assign_psi", "mean_shift", "max_shift"), "ledger")
    } else {
      // bounded metadata collect: k·dim centroid rows (the IvfIndex
      // centroid-read contract)
      val centroids = readCentroids(spark, s"$stateDir/centroids")
      val refHist = state.read("hist")
      val (psi, meanShift, maxShift) =
        scoreEmbeddingBatch(clean, idCol, vecCol, centroids, refHist)
      state.write(state.read("centroids"), "centroids")
      state.write(refHist, "hist")
      state.write(state.read("ledger")
        .unionByName(Seq((batchId, nRows, psi, meanShift, maxShift))
          .toDF("batch_id", "n_rows", "assign_psi", "mean_shift", "max_shift")), "ledger")
    }
    state.publish(batchId)
  }

  /** The frozen-centroid matrix back from its row form (k·dim rows —
    * bounded index metadata, the IvfIndex read shape). */
  private[graft] def readCentroids(spark: SparkSession, path: String): Array[Array[Long]] = {
    val rows = new StateDir(spark, path, "readCentroids").read()
      .select(col("cluster"), col("dim"), col("q")).collect()
    val k = rows.iterator.map(_.getLong(0)).max.toInt + 1
    val dim = rows.iterator.map(_.getLong(1)).max.toInt
    val m = Array.ofDim[Long](k, dim)
    rows.foreach(r => m(r.getLong(0).toInt)(r.getLong(1).toInt - 1) = r.getLong(2))
    m
  }

  /** ONE batch scored against a frozen (centroids, reference-histogram)
    * state: (assign_psi, mean_shift, max_shift). Shared verbatim between
    * [[embeddingDriftSink]] and the spec's direct computation — the
    * chunked ≡ batch claim is an identity of code paths plus the
    * round-tripped state, both asserted in-spec. An empty batch scores
    * (0.0, 0.0, 0.0): no observed mass, no evidence of drift. */
  private[graft] def scoreEmbeddingBatch(clean: DataFrame, idCol: String,
                                         vecCol: String,
                                         centroids: Array[Array[Long]],
                                         refHist: DataFrame): (Double, Double, Double) = {
    val assign = graft.operators.Clustering
      .assignToCentroids(clean, idCol, vecCol, centroids)
      .localCheckpoint() // consumed twice: histogram + per-cluster means
    val batchHist = assign.groupBy(col("cluster").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_b"))
    val psi = graft.operators.Profiler.driftFromBins(refHist, batchHist)
      .select(col("psi")).collect().headOption.map(_.getDouble(0)).getOrElse(0.0)
    val refCentroids = centroids.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (q, di) =>
        (ci.toLong, (di + 1).toLong, q.toDouble / 1e6) }
    }.toSeq
    val spark = clean.sparkSession
    import spark.implicits._
    val refC = broadcast(refCentroids.toDF("cluster", "dim", "ref_c"))
    val batchC = graft.operators.Similarity.groupCentroids(
      clean.join(assign.select(col(idCol), col("cluster")), idCol),
      "cluster", vecCol)
    val shifts = batchC.join(refC, Seq("cluster", "dim"))
      .groupBy(col("cluster"))
      .agg(sqrt(sum(pow(col("centroid") - col("ref_c"), 2))).as("shift"))
      .agg(round(avg(col("shift")), 6).as("mean_shift"),
        round(max(col("shift")), 6).as("max_shift"))
      .collect().headOption
    (psi,
      shifts.filterNot(_.isNullAt(0)).map(_.getDouble(0)).getOrElse(0.0),
      shifts.filterNot(_.isNullAt(1)).map(_.getDouble(1)).getOrElse(0.0))
  }

  /** ST6 stretch — CUSTOM-STATE sessionization via flatMapGroupsWithState
    * (the arbitrary-state API `session_window` can't replace when the
    * emitted record needs custom shape or the close condition isn't a pure
    * gap): per-user open-session state (start, last ts, count), closed by
    * event-time timeout `gapMs` past the watermark, emitting ONE record
    * per CLOSED session (flatMap: 0..n outputs per invocation — a burst
    * that reopens after a gap can close the old session and keep the new
    * one open in the same batch). State is O(open sessions); the timeout
    * guarantees eviction. Append-mode friendly: only closed sessions are
    * emitted, never revised. */
  case class OpenSession(start: Long, lastTs: Long, n: Long) // micros
  case class SessionBuf(sessions: List[OpenSession]) // kept sorted by start

  /** The ONE interval-coalescing merge both stateful session APIs share
    * (the mergeTotals rule: claimed-equivalent operators must share the
    * semantics-bearing code). Input sorted by (start, lastTs).
    * private[graft]: property-tested directly (chunking-independence is
    * the pure core of every stream≡batch session claim). */
  private[graft] def coalesceSessions(sorted: List[OpenSession], gapUs: Long): List[OpenSession] =
    sorted.foldLeft(List.empty[OpenSession]) {
      case (prev :: rest, s) if s.start - prev.lastTs <= gapUs =>
        OpenSession(prev.start, math.max(prev.lastTs, s.lastTs), prev.n + s.n) :: rest
      case (acc, s) => s :: acc
    }.reverse

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  case class ClosedSession(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long)
  def statefulSessions(events: org.apache.spark.sql.Dataset[(Long, Timestamp)],
                       watermark: String = "10 minutes",
                       gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapUs = gapMs * 1000L

    // a session is EMITTED only once the watermark has passed lastTs + gap
    // — never merely because a later event arrived in the same batch: a
    // late-but-above-watermark event may still legally belong to it, and an
    // append row is final. Until then every session stays in state, and
    // events merge by interval-coalescing (min-start/max-end — a late event
    // can extend a session BACKWARD), so out-of-order delivery within the
    // watermark horizon can never corrupt boundaries or counts. State is
    // O(sessions inside the watermark horizon) per key, evicted by timeout.
    //
    // Session arithmetic is in MICROSECONDS (unix_micros in the plan, not
    // Timestamp.getTime): the batch twin q_sessionize breaks on
    // gap_us > 30 min strictly, and a ms-truncated gap would merge a
    // boundary that batch splits whenever the excess is sub-millisecond —
    // the parity spec on the real events table holds exactly, not
    // modulo truncation. Only the TIMEOUT is ms-grain (the GroupState
    // API's unit); timeouts gate emission time, never boundaries.
    // ts rides along untouched: it carries the event-time/watermark
    // attribute the stateful operator needs (projecting it away would
    // drop the watermark and the late-row filter with it)
    events.toDF("user_id", "ts").withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Timestamp, Long)], state: GroupState[SessionBuf]) =>
          val prev = state.getOption.map(_.sessions).getOrElse(Nil)
          val incoming = rows.map(r => OpenSession(r._3, r._3, 1L)).toList
          val merged = coalesceSessions(
            (prev ++ incoming).sortBy(s => (s.start, s.lastTs)), gapUs)
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (done, keep) = merged.partition(_.lastTs + gapUs <= wm)
          if (keep.nonEmpty) {
            state.update(SessionBuf(keep))
            state.setTimeoutTimestamp(keep.map(s => (s.lastTs + gapUs) / 1000L).min)
          } else state.remove()
          done.iterator.map(s => ClosedSession(uid,
            usToTs(s.start), usToTs(s.lastTs), s.n))
      }.toDF()
  }

  /** ST6/A2 — stateful incremental per-key totals across micro-batches via
    * mapGroupsWithState: the distributed, checkpointable form of the
    * reference's Mongo `$inc`/`$max` ledger (consumer2.py:198-217). */
  case class UserTotals(user_id: Long, total_events: Long, total_value: Double, max_value: Double)

  /** The ONE ledger-merge both stateful APIs share — mapGroupsWithState and
    * transformWithState are claimed (and tested) equivalent, which only
    * stays true if the accumulation logic exists once. */
  private def mergeTotals(prev: UserTotals, vs: Seq[Double]): UserTotals =
    UserTotals(prev.user_id,
      prev.total_events + vs.size,
      prev.total_value + vs.sum,
      math.max(prev.max_value, if (vs.isEmpty) prev.max_value else vs.max))

  def statefulRunningTotals(events: org.apache.spark.sql.Dataset[(Long, Double)]): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    events.groupByKey(_._1)
      .mapGroupsWithState[UserTotals, UserTotals](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val next = mergeTotals(
            state.getOption.getOrElse(UserTotals(uid, 0L, 0.0, Double.MinValue)),
            rows.map(_._2).toSeq)
          state.update(next)
          next
      }.toDF()
  }

  /** S5 — raw lake sink (consumer1.py:112-121): JSON files partitioned by
    * topic. The reference wrote one file per record over HTTP; per-batch
    * files partitioned by topic are the semantic equivalent that scales. */
  def rawJsonSink(df: DataFrame, path: String, checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream.format("json").partitionBy("topic")
      .option("path", path).option("checkpointLocation", checkpointDir)

  // -------------------------------------------------------------------
  // Kafka wiring (S2/S4, consumer1.py:41-48 / producer.py:43-66). The
  // spark-sql-kafka connector jar is not in this container, so the
  // transport (format("kafka") + options) is a compile-level contract —
  // but the TRANSFORMS the builders apply are factored out below and
  // spec-verified over synthetic connector-shaped frames: the source
  // projection is asserted equal to the file-source path and the sink
  // envelope round-trips through the projection, so S2/S4 are
  // transform-verified, transport-untested.
  // -------------------------------------------------------------------

  /** The S4 projection over the connector's raw output frame
    * (key/value binary, topic, partition, offset, timestamp,
    * timestampType): value parsed with the fixed schema (S9 discipline —
    * no inference pass against a 100 TB topic). Pure transform —
    * testable without a broker on any frame with those columns. */
  def kafkaJsonProjection(raw: DataFrame,
                          schema: org.apache.spark.sql.types.StructType): DataFrame =
    raw.select(col("topic"),
      from_json(col("value").cast("string"), schema).as("doc"),
      col("timestamp").as("kafka_ts"))

  /** S4 — multi-topic Kafka JSON source: subscribe list, earliest
    * offsets, then [[kafkaJsonProjection]]. Untested API: no Kafka
    * connector is on the classpath, so no spec starts this source. */
  def kafkaJsonSource(spark: SparkSession, servers: String, topics: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    kafkaJsonProjection(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topics.mkString(","))
        .option("startingOffsets", "earliest")
        .load(),
      schema)

  /** ST6 on the SPARK 4 arbitrary-state API — the same per-key ledger as
    * [[statefulRunningTotals]] expressed as a `StatefulProcessor` with a
    * typed `ValueState`, via `transformWithState`: the successor API to
    * mapGroupsWithState (composable named state variables, timers, TTL,
    * state-schema evolution) and the shape new stateful operators should
    * take. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which also brings
    * changelog-checkpointed, disk-spillable state at scale — O(active
    * keys) never resident in heap. */
  class TotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserTotals] {
    import org.apache.spark.sql.Encoders
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserTotals] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserTotals]("totals",
        Encoders.product[UserTotals], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val next = mergeTotals(
        Option(state.get()).getOrElse(UserTotals(uid, 0L, 0.0, Double.MinValue)),
        rows.map(_._2).toSeq)
      state.update(next)
      Iterator.single(next)
    }
  }

  def transformWithStateTotals(events: org.apache.spark.sql.Dataset[(Long, Double)]): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** [[statefulSessions]] re-expressed on the SUCCESSOR state API — the
    * semantics are byte-shared ([[coalesceSessions]], the same
    * watermark-gated close rule), the machinery is transformWithState's:
    * a typed `ListState` holds the open-session buffer (element-wise
    * updatable on the store — no whole-value rewrite like GroupState), and
    * EVENT-TIME TIMERS replace GroupState's single timeout: one timer per
    * key at the earliest close point, re-registered on every state change,
    * with `handleExpiredTimer` closing sessions for keys that receive no
    * further input. Runs on the RocksDB provider (changelog-checkpointed,
    * disk-spillable) — the store contract for 100 TB session state. */
  class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Timestamp, Long), ClosedSession] {
    import org.apache.spark.sql.Encoders
    @transient private var open: org.apache.spark.sql.streaming.ListState[OpenSession] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getListState[OpenSession]("open",
        Encoders.product[OpenSession], org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Close what the watermark finalizes, persist the rest, keep exactly
      * one timer at the earliest remaining close point. */
    private def flush(uid: Long, merged: List[OpenSession],
                      wmUs: Long): Iterator[ClosedSession] = {
      val (done, keep) = merged.partition(_.lastTs + gapUs <= wmUs)
      open.clear()
      getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
      if (keep.nonEmpty) {
        open.put(keep.toArray)
        // Ceiling to ms: a floor here can fire the timer up to 1ms before
        // the micro-grain close point, closing nothing and re-registering
        // the same already-expired timestamp every batch until the
        // watermark crosses the boundary.
        getHandle.registerTimer(keep.map(s => (s.lastTs + gapUs + 999L) / 1000L).min)
      }
      done.sortBy(_.start).iterator.map(s =>
        ClosedSession(uid, usToTs(s.start), usToTs(s.lastTs), s.n))
    }

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Timestamp, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedSession] = {
      val prev = open.get().toList
      val incoming = rows.map(r => OpenSession(r._3, r._3, 1L)).toList
      val merged = coalesceSessions(
        (prev ++ incoming).sortBy(s => (s.start, s.lastTs)), gapUs)
      flush(uid, merged, timerValues.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] =
      flush(uid, open.get().toList.sortBy(s => (s.start, s.lastTs)),
        timerValues.getCurrentWatermarkInMs() * 1000L)
  }

  /** ST stretch — [[statefulSessions]] semantics on transformWithState
    * (see [[SessionProcessor]]); spec-pinned equal to both the
    * flatMapGroupsWithState form and the batch q_sessionize twin. */
  def sessionizeTws(events: org.apache.spark.sql.Dataset[(Long, Timestamp)],
                    watermark: String = "10 minutes",
                    gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts").withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs * 1000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** CONTINUOUS data-quality monitor: [[graft.operators.Expectations]]
    * rules evaluated per micro-batch and merged into a persisted per-rule
    * ledger through [[incrementalRollupSink]] — rule counts are plain
    * sums, so the A2 merge property makes streamed totals ≡ a batch
    * [[graft.operators.Expectations.check]] over all data ever seen, and
    * the sink's batch-id marker makes replays no-ops (exactly-once
    * counting under at-least-once delivery). State is |rules| rows;
    * read it any time with [[qualityState]] for the cumulative
    * violation rates an alerting job thresholds on. */
  def qualityMonitorSink(rules: Seq[graft.operators.Expectations.Rule],
                         stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    incrementalRollupSink("rule", Seq("n_rows", "n_violations"), Nil, stateDir)(
      graft.operators.Expectations.check(batch, rules)
        .select(col("rule"), col("n_rows"), col("n_violations")),
      batchId)

  /** The monitor's cumulative state with the derived rate — the same
    * (rule, n_rows, n_violations, violation_rate) shape as a batch
    * [[graft.operators.Expectations.check]]. */
  def qualityState(spark: SparkSession, stateDir: String): DataFrame =
    new StateDir(spark, stateDir, "qualityState").read()
      .select(col("rule"), col("n_rows"), col("n_violations"),
        // same empty-input contract as the batch Expectations.check: a
        // ledger fed only empty/startup batches has n_rows = 0, and a
        // 0/0 = NaN rate would make the downstream `rate > x` alert gate
        // NaN-silently-false instead of decidably 0.0
        when(col("n_rows") === 0, lit(0.0))
          .otherwise(col("n_violations").cast("double") / col("n_rows").cast("double"))
          .as("violation_rate"))

  /** The S2 whole-row JSON envelope — the pure transform half of the
    * sink, spec-verified to round-trip through [[kafkaJsonProjection]]
    * (produce → consume composes losslessly). */
  def kafkaJsonEnvelope(df: DataFrame): DataFrame =
    df.selectExpr("to_json(struct(*)) AS value")

  /** S2 — Kafka JSON sink: [[kafkaJsonEnvelope]], topic routed. Untested
    * API: no Kafka connector is on the classpath, so no spec starts this
    * sink. */
  def kafkaJsonSink(df: DataFrame, servers: String, topic: String): DataStreamWriter[Row] =
    kafkaJsonEnvelope(df)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
}
