package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out machinery: the knobs a 100 TB deployment turns that small-SF
  * correctness tests never force. Each helper is semantics-preserving (its
  * spec asserts equivalence with the naive plan) so it can be applied to any
  * verified query without re-verification.
  */
object Scale {

  /** Process-local memo for BUILD-ONCE plan state — a checkpointed
    * banding, its guard statistics — keyed by a caller-provided corpus
    * fingerprint (the [[graft.operators.StateCache]] discipline applied to
    * in-memory state: banding a static corpus is ingest-phase work, and
    * twin queries or steady-state re-runs should not re-scan, re-hash and
    * re-count the same rows). The CALLER owns the key contract: it must
    * encode the corpus files (fingerprint them, so changed data can never
    * hit a stale entry) AND every parameter that shapes the built value
    * (shingle width, bands, rows, seed, …) — a key that omits a parameter
    * silently serves the other configuration's table. An entry built by a
    * stopped session is rebuilt (checkpointed blocks die with their
    * session). Entries live for the process; one per (corpus, params) —
    * bounded by the corpora a session touches. */
  private val buildMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (SparkSession, Any)]()
  def memo[T](key: String, spark: SparkSession)(build: => T): T = {
    // get-then-put rather than compute(): build runs OUTSIDE the map's
    // lock, so a build may itself call memo (nested keys) without hitting
    // ConcurrentHashMap's recursive-update restriction. The race this
    // admits — two threads building the same key concurrently, last put
    // wins — is benign: builds are idempotent (a checkpointed frame of the
    // same static corpus), so losing the race only re-pays the build once.
    // The map key carries the SESSION IDENTITY, so two live sessions that
    // share a corpus key each keep their own entry instead of thrashing
    // each other's cached frames (checkpointed blocks are session-owned).
    val k = (key, System.identityHashCode(spark))
    val cur = buildMemo.get(k)
    if (cur != null && (cur._1 eq spark)) cur._2.asInstanceOf[T]
    else {
      // a miss is the cheap moment to drop entries owned by stopped
      // sessions — their checkpointed blocks are gone, and purging here
      // bounds growth across many short-lived (e.g. test) sessions
      buildMemo.forEach { (kk, vv) =>
        if (vv._1.sparkContext.isStopped) buildMemo.remove(kk, vv): Unit
      }
      val built: (SparkSession, Any) = (spark, build)
      buildMemo.put(k, built)
      built._2.asInstanceOf[T]
    }
  }

  /** Materialized 1-row `__base` corpus-count frame for the volume gates.
    * EAGER (runs the count job at call time); [[guardedBandCandidates]]
    * memoizes it per static corpus so twin queries and steady-state re-runs
    * share one count scan instead of re-counting the corpus per gate. The
    * pre-join gate broadcasts it at its join; the post-join audit only
    * reads the count (`head()`) and sees no hint. */
  def baseCountFrame(corpus: DataFrame): DataFrame =
    corpus.agg(count(lit(1)).as("__base")).localCheckpoint()

  /** Salted equi-join for skewed fact keys: fact rows get a random salt in
    * [0, salts), the dim side is exploded ×salts, and the join key becomes
    * (key, salt) — a hot key's rows spread over `salts` reducers instead of
    * one straggler. Use when AQE's skew-join split isn't available (e.g. the
    * dim side is too big to broadcast but small enough to replicate ×salts).
    *
    * Semantics-preserving for 1:N joins (each fact row still matches exactly
    * the dim rows of its key, via exactly one salt).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    // right/full outer would emit `salts` copies of unmatched dim rows (the
    // dim side is replicated) — reject rather than silently multiply.
    // semi/anti are safe: a fact row's salt always has a full dim replica,
    // so existence semantics are preserved and no dim rows are emitted.
    require(Set("inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")
        .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left/semi/anti joins only, got $joinType")
    val saltedFact = fact.withColumn("__salt",
      (rand(seed = 42) * salts).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Pre-aggregate before a skewed global aggregation: aggregate on
    * (key, salt) first — map-side-combine style — then merge partials on
    * key. Catalyst already does this for algebraic aggregates; this explicit
    * form is for aggregates where the partial state must stay bounded per
    * task (e.g. collect_set on a hot key). */
  def twoLevelAgg(df: DataFrame, key: String, salts: Int,
                  partial: Seq[Column], merge: Seq[Column]): DataFrame =
    df.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col(key))
      .agg(merge.head, merge.tail: _*)

  /** Salted SELF-join for banded candidate generation — the skew guard the
    * LSH band joins need that [[saltedJoin]] (fact×dim) can't provide. A
    * band-key self-join's task size is quadratic in the band's membership,
    * so ONE hot band (a boilerplate shingle shared corpus-wide, a
    * degenerate hyperplane region) becomes a single m²-pair straggler task
    * at scale while every other reducer idles — and AQE's skew split can't
    * help, because splitting ONE side of a self-join still replays the
    * whole other side of the key into each split.
    *
    * The guard: a first pass counts band membership (one map-side-combined
    * shuffle of (key, 1) rows); bands at or above `hotMin` members take the
    * salted route — each member lands in ONE of `salts` sub-buckets by a
    * secondary hash of its id, the right side is replicated ×`salts`, and
    * the join key becomes (band, salt), so the hot band's m² pairs spread
    * over `salts` reducers (each ~m²/salts) instead of one. Cold bands
    * join exactly as before, paying nothing.
    *
    * Pair-set identity (spec-asserted in ScaleSpec, and the gated queries
    * run against the SAME exhaustive oracles as their unsalted twins): an
    * unordered pair {a, b} in a hot band appears exactly once before the
    * final distinct — the left row for a (salt = h(a)) meets b's replica at
    * h(a); b's left row meets a's replica at h(b) but emits (b, a), which
    * the a < b filter drops — mirroring the unsalted join's own dedup.
    *
    * Cost model: the replicated side is ONLY the hot-band rows (≤ n·bands
    * rows with ≥ hotMin-member keys), so replication is bounded by
    * salts × |hot rows|, and |hot keys| ≤ |banded| / hotMin by pigeonhole —
    * which is why the hot-key list is broadcastable at production hotMin.
    * `banded` should be materialized by the caller: it feeds the size count
    * plus both the hot and cold splits (the minhashDupPairs multi-consumer
    * discipline), and [[guardedBandCandidates]] hands it over checkpointed.
    *
    * `banded` must carry one row per (idCol, keyCol) membership; output is
    * the distinct (aName < bName) candidate pairs. */
  def saltedBandSelfJoin(banded: DataFrame, idCol: String, keyCol: String,
                         aName: String, bName: String,
                         salts: Int, hotMin: Int): DataFrame = {
    require(salts >= 2 && hotMin >= 2,
      s"need salts >= 2 and hotMin >= 2, got salts=$salts hotMin=$hotMin")
    val b = banded.select(col(idCol), col(keyCol))
    // materialized: consumed by FOUR joins (hot/cold × left/right) — left
    // lazy, the count aggregate and its shuffle replay once per consumer
    // (the plan showed 4 identical HashAggregate+Exchange subtrees). The
    // frame is |keys with >= hotMin members| rows — bounded by
    // |banded|/hotMin (pigeonhole), the same bound that makes it
    // broadcastable.
    val hotKeys = b.groupBy(col(keyCol)).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") >= hotMin).select(col(keyCol)).localCheckpoint()
    val hot = b.join(broadcast(hotKeys), Seq(keyCol), "left_semi")
    val cold = b.join(broadcast(hotKeys), Seq(keyCol), "left_anti")
    val coldPairs = cold.select(col(idCol).as(aName), col(keyCol))
      .join(cold.select(col(idCol).as(bName), col(keyCol)), keyCol)
      .filter(col(aName) < col(bName))
      .select(col(aName), col(bName))
    // deterministic secondary hash — NOT rand(): both join sides must see
    // the same salt for a given id, and reruns must reproduce the pair set
    val sl = hot.withColumn("__salt", pmod(xxhash64(col(idCol)), lit(salts.toLong)))
    val sr = hot.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    // SHUFFLE_HASH is the point of the construction, so it is pinned, not
    // left to the planner: partitioning by (band, salt) is what spreads a
    // hot band's m² pairs over `salts` reducers. Left free, the planner
    // picks broadcast (replicated side under the threshold locally —
    // measured 2× slower here: one giant probe map against ~500-match keys
    // beats per-partition maps on neither cache locality nor build cost)
    // or sort-merge at scale (per-key group buffering — the exact straggler
    // shape the salt exists to break). The hint sits on the UNEXPLODED
    // side (sl): the hinted side becomes the SHJ build side, and a
    // (band, salt) partition of sl holds ~m/salts rows where the exploded
    // sr holds the full hot-band membership m — building on sl costs
    // salts× less memory for identical output.
    val hotPairs = sl.select(col(idCol).as(aName), col(keyCol), col("__salt"))
      .hint("shuffle_hash")
      .join(sr.select(col(idCol).as(bName), col(keyCol), col("__salt")),
        Seq(keyCol, "__salt"))
      .filter(col(aName) < col(bName))
      .select(col(aName), col(bName))
    coldPairs.union(hotPairs).distinct()
  }

  /** The plain band self-join: ids sharing any `keyCol` pair up, as the
    * distinct (aName < bName) pairs. A pair colliding in m bands appears m
    * times before the distinct, and deduping HERE (before any scoring or
    * verify) is the measured choice: the distinct's partial aggregate
    * dedups map-side before the shuffle, while scoring every collision row
    * and deduping survivors pays a dot + two join probes per duplicate
    * (4.5 s vs 2.65 s for the lshCosinePairs candidate build at sf0.1).
    * Distinct-early also holds at corpus scale: the shuffle is O(unique
    * candidates), the map-side hash O(collisions). */
  def bandSelfJoin(banded: DataFrame, idCol: String, keyCol: String,
                   aName: String, bName: String): DataFrame =
    banded.select(col(idCol).as(aName), col(keyCol))
      .join(banded.select(col(idCol).as(bName), col(keyCol)), keyCol)
      .filter(col(aName) < col(bName))
      .select(col(aName), col(bName)).distinct()

  /** PRE-JOIN band-population gate — the upstream half of the candidate
    * audit in [[guardedBandCandidates]]. Counting candidates AFTER the band
    * self-join on a truly all-hot 100 TB corpus means the m²-pair shuffle
    * has already run (and likely died) before the count can compare. This
    * gate reads only the BANDED rows (linear): per-band populations m give
    * Σ m(m−1)/2 pair slots, and since a unique pair collides in at most
    * `bands` bands, `slots > factor·n·bands` PROVES
    * `uniqueCandidates > factor·n` — so the raise here is sound (never
    * fires when the post-join audit wouldn't) and fires on the join's
    * INPUT rows, before any pair row exists. It under-fires when
    * collisions are sparse (slots ≈ unique), which is exactly when the
    * join is survivable and the post-join audit backstops. Callers should
    * pass a materialized `banded` (it feeds this stats pass AND both join
    * sides). `baseCount` is the 1-row `__base` corpus-count frame
    * ([[baseCountFrame]]); the two 1-row stats are materialized once and
    * broadcast, so the per-row gate is a constant comparison; `capName`
    * is the caller's cap parameter, named in the raise. Semantics-preserving
    * while silent: output ≡ input. */
  def bandVolumeGuard(banded: DataFrame, keyCol: String, baseCount: DataFrame,
                      factor: Double, bands: Int, what: String,
                      capName: String): DataFrame = {
    val outCols = banded.columns
    val slots = banded.groupBy(col(keyCol)).agg(count(lit(1)).as("__m"))
      .agg(coalesce(sum(col("__m").cast("double") * (col("__m") - 1).cast("double") / 2),
        lit(0.0)).as("__slots"))
    val stats = broadcast(slots.crossJoin(broadcast(baseCount)).localCheckpoint())
    banded.crossJoin(stats)
      .filter(when(col("__slots") <=
          lit(factor) * col("__base").cast("double") * lit(bands.toDouble), lit(true))
        .otherwise(raise_error(concat(
          lit(s"$what: projected band candidates exceed $factor x corpus "),
          lit(s"(pre-join bound over $bands bands): "),
          col("__slots").cast("string"), lit(" pair slots for "),
          col("__base").cast("string"), lit(" rows. "),
          lit(raiseHint(capName)))).cast("boolean")))
      .select(outCols.map(col): _*)
  }

  private def raiseHint(capName: String): String =
    "If this corpus is legitimately duplicate-saturated, raise the cap " +
      s"(e.g. $capName = Some(higher)) or disable it with $capName = None"

  /** The GUARDED CANDIDATE STEP of the banded-LSH pair paths
    * ([[Dedup.nearDupPairs]], [[Dedup.nearDupPairsSalted]],
    * [[Similarity.lshCosinePairs]]): the distinct (aName < bName) pairs of
    * `idCol`s sharing a `band_key` of `banding` (one row per membership;
    * None — nothing to band — passes through as None).
    *
    * The LSH scale contract is "candidate volume linear in n with a
    * constant": a degenerate band region, a duplicate-saturated corpus or
    * an under-banded configuration would otherwise regress candidate
    * generation toward all-pairs and still return correct rows, just at
    * quadratic cost (SCALE_PROBE.md's measured Tier-B blow-up). With
    * `cap = Some(factor)` the step keeps the contract, in this order:
    *  1. ONE 1-row corpus count ([[baseCountFrame]], memoized as
    *     `<cacheKey>:basecount`) feeds both gates, so the salted/unsalted
    *     twins and steady-state re-runs share a single count scan;
    *  2. the banding, memoized as `<cacheKey>` ([[memo]] — the
    *     ingest-phase-index pattern: banding a static corpus is build-once
    *     work shared by twins, consumers and re-runs; the caller
    *     fingerprints the corpus FILES and every banding parameter into the
    *     key, so changed data can never hit a stale entry), is checkpointed
    *     — it feeds the stats pass plus both join sides, and materializing
    *     n·bands narrow rows once beats three signature-projection scans —
    *     and passed through the PRE-JOIN gate [[bandVolumeGuard]], which
    *     raises before the self-join shuffles a single pair row;
    *  3. the plain [[bandSelfJoin]], or with `salt = Some((salts, hotMin))`
    *     the hot-band [[saltedBandSelfJoin]] (pair-set identical);
    *  4. the candidates are materialized — they feed the count AND the
    *     caller's verify — and the EAGER post-join audit (the exact
    *     backstop of the pre-join bound) compares their count against the
    *     corpus count on the driver and throws an IllegalStateException
    *     naming `capName`. The step therefore raises at CALL time (the
    *     [[Sketches.kmvPairwise]] contract), even for a caller that never
    *     executes the returned plan. This replaced an in-plan per-row
    *     raise_error guard riding a broadcast-stats checkpoint, whose extra
    *     stats job cost ~0.2-0.3 s per query at sf0.1 and proved nothing the
    *     eager check doesn't: the blow-up is decidable the moment the
    *     candidate frame exists.
    *
    * Uncapped (`cap = None`, deliberate measurement runs) nothing is
    * counted or gated and the candidates stay lazy; the salted join still
    * gets a checkpointed banding for its four consumers. */
  def guardedBandCandidates(corpus: DataFrame, idCol: String,
                            aName: String, bName: String, bands: Int,
                            cap: Option[Double], capName: String, what: String,
                            salt: Option[(Int, Int)], cacheKey: Option[String])(
                            banding: => Option[DataFrame]): Option[DataFrame] = {
    def memoized[T](suffix: String)(build: => T): T =
      cacheKey.fold(build)(k => memo(k + suffix, corpus.sparkSession)(build))
    val base = cap.map(_ => memoized(":basecount")(baseCountFrame(corpus)))
    val bandedOpt = memoized("")(banding.map(b => cap.fold(b)(f =>
      bandVolumeGuard(b.localCheckpoint(), "band_key", base.get, f, bands, what, capName))))
    bandedOpt.map { banded =>
      val cand = salt match {
        case Some((salts, hotMin)) =>
          saltedBandSelfJoin(if (cap.isDefined) banded else banded.localCheckpoint(),
            idCol, "band_key", aName, bName, salts, hotMin)
        case None => bandSelfJoin(banded, idCol, "band_key", aName, bName)
      }
      cap.fold(cand) { f =>
        val mat = cand.localCheckpoint()
        val nCand = mat.count()
        val nBase = base.get.head().getLong(0)
        if (nCand > f * nBase) throw new IllegalStateException(
          s"$what: band-join candidates exceed $f x corpus size: $nCand " +
            s"candidates for $nBase rows. ${raiseHint(capName)}")
        mat
      }
    }
  }

  /** Write a bucketed+sorted table: joins and aggregations on the bucket key
    * become shuffle-free (co-located) for every downstream reader — the
    * standard layout for a fact table that is joined on the same key by many
    * queries. Requires a metastore-backed table (saveAsTable). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Lake layout writer: partition pruning for free on `partitionCols`
    * (ingest date, topic, …) — the file-level analog of predicate pushdown.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Small-file compaction of an existing parquet directory — the lake
    * maintenance job every streaming sink eventually needs (a micro-batch
    * sink writing N files per trigger turns a table into millions of
    * KB-files whose open/footer cost dominates every scan). Rewrites the
    * dir to ⌈bytes/targetBytes⌉ files and publishes by the same crash-safe
    * [[graft.streaming.StateDir]] protocol as the streaming sinks (no
    * marker): readers never see a half-compacted table, and a crash at any
    * point leaves either the old or the new layout, never neither — the
    * next call repairs it first. Returns the output file count. */
  def compactDir(spark: SparkSession, path: String,
                 targetBytes: Long = 128L * 1024 * 1024): Int = {
    val state = graft.streaming.StateDir.recovered(spark, path, "compactDir",
      requireMarker = false)
    val p = new org.apache.hadoop.fs.Path(path)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path).repartition(parts)
      .write.mode("overwrite").parquet(state.next)
    state.publish()
    parts
  }

  /** Range-clustered write: rows are range-partitioned AND sorted within
    * partitions on `cols`, so each output file covers a disjoint slice of
    * the key space and its parquet min/max footer stats actually prune —
    * a point/range predicate on `cols` skips every non-overlapping file at
    * planning time (data skipping). Without the clustering, every file's
    * min/max spans the whole domain and the stats prune nothing. This is
    * the single-dimension form of Z-ordering; for multi-column skipping
    * interleave the key bits first. */
  def writeRangeClustered(df: DataFrame, path: String, cols: Seq[String],
                          files: Int): Unit =
    df.repartitionByRange(files, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Z-value of up to four numeric columns: each column is min/max-scaled
    * to a 16-bit code and the codes' bits are INTERLEAVED (Morton order),
    * so nearby z-values are nearby in EVERY dimension at once. The scaling
    * bounds come in as literals (one tiny agg upstream) so the expression
    * stays pure-codegen per row. */
  def zValue(codes: Seq[(Column, Double, Double)]): Column = {
    require(codes.nonEmpty && codes.size <= 4,
      s"zValue interleaves 1-4 columns, got ${codes.size}")
    val n = codes.size
    val scaled = codes.map { case (c, lo, hi) =>
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      // clamp handles out-of-range stragglers (e.g. data appended after
      // the bounds were sampled) instead of wrapping their bits
      least(greatest(floor((c.cast("double") - lit(lo)) / lit(span) * 65535.0)
        .cast("long"), lit(0L)), lit(65535L))
    }
    (0 until 16).flatMap { bit =>
      scaled.zipWithIndex.map { case (s, j) =>
        shiftleft(shiftright(s, bit).bitwiseAND(lit(1L)), bit * n + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** HILBERT clustering key (2 columns) — [[zValue]]'s locality-tighter
    * sibling: the same 16-bit scaled cell codes, walked by the order-16
    * Hilbert curve ([[graft.plans.HilbertXy]]) instead of bit
    * interleaving. Consecutive Hilbert indexes are always grid-ADJACENT
    * cells (unit Manhattan step — spec-pinned by exhaustive small-order
    * enumeration), where the Morton curve jumps 2^k cells at every
    * quadrant seam, so range-partitioned files cover jump-free blocks:
    * tighter per-file min/max extents on BOTH dimensions for the same
    * one-range-shuffle write cost. Per-row codegen expression; clamping
    * and bounds semantics identical to [[zValue]]. */
  def hilbertValue(xc: (Column, Double, Double), yc: (Column, Double, Double)): Column = {
    graft.plans.GraftFunctions.register(org.apache.spark.sql.SparkSession.active)
    def code(t: (Column, Double, Double)): Column = {
      val (c, lo, hi) = t
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(greatest(floor((c.cast("double") - lit(lo)) / lit(span) * 65535.0)
        .cast("long"), lit(0L)), lit(65535L))
    }
    call_function("hilbert_xy", code(xc), code(yc))
  }

  /** [[writeZOrdered]] along the Hilbert curve (2 clustering columns). */
  def writeHilbertOrdered(df: DataFrame, path: String,
                          xCol: String, yCol: String, files: Int): Unit = {
    val bounds = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    require(!bounds.anyNull,
      "writeHilbertOrdered: empty input or all-null clustering column — no bounds")
    df.withColumn("__h", hilbertValue(
        (col(xCol), bounds.getDouble(0), bounds.getDouble(1)),
        (col(yCol), bounds.getDouble(2), bounds.getDouble(3))))
      .repartitionByRange(files, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }

  /** Z-ORDERED write — multi-column data skipping: rows are clustered
    * along the Morton curve of `cols`, so each output file covers a small
    * HYPER-RECTANGLE of the key space rather than a thin slice of one
    * column. Parquet min/max footer stats then prune files for predicates
    * on ANY of the clustered columns (a single-column range-cluster prunes
    * only its own column; with F files and c columns, a z-ordered file's
    * per-dimension extent shrinks ~F^(-1/c) of the domain). Bounds are one
    * cheap min/max aggregate over the input; the z-value itself is a
    * per-row codegen expression, and the layout is one range shuffle —
    * exactly the cost of the single-column writer. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    files: Int): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    require(!bounds.anyNull,
      "writeZOrdered: empty input or all-null clustering column — no bounds")
    val codes = cols.zipWithIndex.map { case (c, i) =>
      (col(c), bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
    }
    df.withColumn("__z", zValue(codes))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
