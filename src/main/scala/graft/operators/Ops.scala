package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator layer — SURVEY.md §2.2/2.4/2.5/2.6 as
  * `DataFrame => DataFrame` combinators.
  *
  * Scale notes baked into each combinator:
  *  - Dimension joins take an explicit `broadcastDim` flag; at 100 TB the
  *    fact side never moves, only the dim ships.
  *  - Aggregations are plain `groupBy.agg` — Catalyst plans partial+final
  *    hash aggregation (map-side combine), which is the distributed form of
  *    the reference's Mongo `$inc/$max` merges (consumer2.py:198-217).
  *  - Top-k is `orderBy.limit` — planned as TakeOrderedAndProject: each
  *    partition keeps k rows, only k×partitions rows reach the driver.
  *  - First-wins dedup is a window rank, not `dropDuplicates`, so the
  *    surviving row is deterministic (required by the oracle and by
  *    exactly-once replay semantics).
  */
object Ops {

  /** NARROW-SCAN FAN-OUT for per-row-HEAVY pipelines (JSON/VARIANT
    * round-trips, regex packs, tokenizers): when the upstream scan has
    * fewer partitions than the cluster's parallelism, redistribute the
    * rows round-robin before the expensive projection — otherwise the
    * whole per-row compute runs on the scan's task count (an input too
    * small or unsplittable to split, guide §2.5 "input skew: repartition
    * immediately after the read"). SCALE-ADAPTIVE, not a local-mode
    * constant: at production scale a parquet scan already carries ≥
    * defaultParallelism splits and this is a provable NO-OP (the
    * condition reads the planned partition count, no job); on a
    * single-row-group file it buys the full core count. Use only above
    * order-insensitive consumers (per-row projections, exact
    * aggregations) — round-robin redistribution permutes row order. */
  def fanOutNarrowScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** J: equi-join with optional broadcast of the (small) dimension side.
    * Reference J1/J2 (consumer2.py:116-153, show.py:142). */
  def dimJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
              joinType: String = "inner", broadcastDim: Boolean = true): DataFrame =
    fact.join(if (broadcastDim) broadcast(dim) else dim, keys, joinType)

  /** J3 — existence anti-join (insert-if-absent gate, consumer1.py:126-131). */
  def antiJoin(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing, keys, "left_anti")

  /** Semi-join (EXISTS). */
  def semiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")

  /** A3/A4 — histogram: groupBy(key).count with null guard (consumer2.py:251-274). */
  def histogram(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNotNull).groupBy(key).agg(count(lit(1)).as("cnt"))

  /** A8 — deterministic first-wins dedup by `keys`, "first" defined by the
    * total order `tiebreak` (consumer1.py:123-133 insert-if-absent).
    * Window rank instead of dropDuplicates: survivor is deterministic, which
    * both the DuckDB oracle and replayed at-least-once delivery require. */
  def dedupFirstWins(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S6 — the insert-if-absent step (consumer1.py:123-133): the rows of
    * `batch` to append to a store keyed by `key`. One survivor per key,
    * the first row by all other columns in order (by the key itself when
    * there are none) — a total order, so a replayed batch picks the same
    * row — then a left-anti join drops the keys already in `stored`
    * (None: no state yet). Appending the result makes at-least-once
    * delivery exactly-once, first write wins. */
  def insertIfAbsent(batch: DataFrame, key: String,
                     stored: Option[DataFrame]): DataFrame = {
    val tiebreak = batch.columns.filterNot(_ == key).toSeq match {
      case Nil => Seq(col(key))
      case rest => rest.map(col)
    }
    val deduped = dedupFirstWins(batch, Seq(key), tiebreak)
    stored.fold(deduped)(s => deduped.join(s.select(col(key)), Seq(key), "left_anti"))
  }

  /** T1/T2 — top-k with deterministic tie-break; Catalyst plans
    * TakeOrderedAndProject (per-partition heap, no full sort/shuffle). */
  def topK(df: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** §2.7 — union by name, tolerating asymmetric schemas. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** RECIPROCAL-RANK FUSION — the public hybrid-retrieval combiner
    * (Cormack et al., SIGIR'09; the standard BM25 ⊕ vector-search merge):
    * each input ranking contributes `1/(kRrf + rank)` and documents are
    * re-ordered by the sum — rank-based, so the incomparable score scales
    * of lexical and vector retrieval never need calibration. Inputs are
    * (id, rank) frames, typically top-k lists (k·|rankings| rows — the
    * fusion itself is driver-scale work distributed only for uniformity);
    * ids missing from a list contribute 0 via COALESCE, never a NULL that
    * would poison the sum. The contribution sum follows input order,
    * mirrored in the oracle (IEEE adds are order-sensitive at the ulp).
    * Output: (id, rank_0..rank_n-1, rrf) ordered (rrf desc, id). */
  def rrfFuse(rankings: Seq[DataFrame], id: String, kRrf: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"rrfFuse: need >= 2 rankings, got ${rankings.size}")
    val renamed = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(id), col("rank").as(s"rank_$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq(id), "full_outer"))
    val score = rankings.indices.map { i =>
      coalesce(lit(1.0) / (lit(kRrf.toDouble) + col(s"rank_$i").cast("double")), lit(0.0))
    }.reduce(_ + _)
    joined.select(
      (col(id) +: rankings.indices.map(i => col(s"rank_$i"))) :+ round(score, 6).as("rrf"): _*)
      .orderBy(col("rrf").desc, col(id))
  }

  /** PMI CO-OCCURRENCE pairs — pointwise mutual information over baskets
    * (the public association-mining/distributional-similarity statistic):
    * for items a, b with basket counts n_a, n_b, co-occurrence count
    * n_ab over N baskets, `pmi = ln((n_ab·N) / (n_a·n_b))` — positive =
    * appear together more than independence predicts (complements,
    * related tags, collocations), negative = substitutes. `minCount`
    * prunes the noisy singleton-pair tail BEFORE the count joins.
    *
    * Plan: distinct (basket, item) pairs, one item-count aggregation,
    * one basket-keyed self-join for pair counts (fan-out bounded by
    * basket sizes — the same shape as the shingle join), the one-row
    * basket total broadcast. All counts exact longs; the PMI division's
    * operand order is mirrored in the oracle and round(6) soaks ln
    * drift. */
  def pmiPairs(df: DataFrame, basket: String, item: String,
               minCount: Long): DataFrame = {
    // the distinct (basket, item) frame feeds FOUR consumers (basket
    // total, item counts, both sides of the pair self-join); without
    // materialization each re-derives the upstream filter/join pipeline
    // (PlanAudit: 10 scans). Linear-state localCheckpoint, the pageRank
    // class; also removes the re-derivation jitter from this query's
    // documented variance band.
    val b = df.select(col(basket).as("bk"), col(item).as("it")).distinct()
      .localCheckpoint()
    val total = b.select(col("bk")).distinct()
      .agg(count(lit(1)).cast("double").as("n_baskets"))
    val cnt = b.groupBy(col("it")).agg(count(lit(1)).as("n_i"))
    val pairs = b.select(col("bk"), col("it").as("item_a"))
      .join(b.select(col("bk"), col("it").as("item_b")), "bk")
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(cnt.select(col("it").as("item_a"), col("n_i").as("n_a")), "item_a")
      .join(cnt.select(col("it").as("item_b"), col("n_i").as("n_b")), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round(log((col("n_ab").cast("double") * col("n_baskets")) /
          (col("n_a").cast("double") * col("n_b"))), 6).as("pmi"))
  }

  /** EXACT per-group discrete quantiles WITHOUT sorting the rows — the
    * frequency-histogram selection plan. `percentile`-style exact
    * quantiles sort every group's raw rows; this operator first collapses
    * to (group, value) → count grain (ONE partial+final hash aggregation —
    * map-side combine does the heavy lifting), then runs a cumulative-count
    * window over the DISTINCT values only. At 100 TB of metrics with a
    * bounded value domain (latencies in ms, scores in [0,1] at fixed
    * precision, ratings), the shuffle and sort are bounded by
    * |distinct values| per group, not |rows| — the difference between
    * sorting billions of rows and thousands of bins.
    *
    * Quantile definition: lower-rank discrete — `p_q` = the value at
    * 1-based sorted rank `floor((n−1)·q) + 1`, i.e. the smallest value
    * whose cumulative count reaches that rank (an ELEMENT of the data,
    * never an interpolation — partitioning-independent and exactly
    * mirrorable in any engine). All requested quantiles come out of the
    * same single window pass. Output: (group, p<q·100>..., n_valued);
    * null values are excluded from rank space. */
  def histogramQuantiles(df: DataFrame, group: String, value: String,
                         qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0), s"bad quantiles: $qs")
    val vc = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    quantilesFromCounts(vc, group, qs)
  }

  /** The selection half of [[histogramQuantiles]], exposed at histogram
    * grain: `vc` is (group, __v, __cnt) with distinct (group, __v) rows.
    * Lets a caller that ALREADY holds a value histogram (e.g.
    * [[Profiler.madOutliers]], which derives the |v − median| histogram
    * from the value histogram instead of re-aggregating every row) pick
    * exact lower-rank quantiles without a second full-data pass. Same
    * definition, same output columns as [[histogramQuantiles]]. */
  def quantilesFromCounts(vc: DataFrame, group: String,
                          qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0), s"bad quantiles: $qs")
    val wCum = Window.partitionBy(col(group)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(group))
    val cum = vc
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
    val picks = qs.map { q =>
      val rank = floor((col("__n") - 1) * lit(q)).cast("long") + 1
      min(when(col("__cum") >= rank, col("__v"))).as(s"p${math.round(q * 100)}")
    }
    cum.groupBy(col(group))
      .agg(picks.head, picks.tail :+ sum(col("__cnt")).as("n_valued"): _*)
  }

  /** As-of join (point-in-time lookup): for every left row, the single
    * right row with the same key and — under `direction = "backward"`
    * (the default) — the greatest `rightTs` <= `leftTs`; under
    * `direction = "forward"`, the EARLIEST `rightTs` >= `leftTs` (the
    * next-event lookup behind "first shipment after the order"). Both
    * directions are equal-ts INCLUSIVE, and in both, ties among right
    * rows on equal ts resolve to the greatest `tieBreak` value — the
    * temporal join behind purchase attribution, slowly-changing-
    * dimension lookups and market-data alignment, which plain equi-joins
    * can't express.
    *
    * Implementation is the sort-merge shape, not a range join: both sides
    * union into one frame tagged by side, ONE shuffle on the key, and a
    * running `last(right_payload, ignoreNulls)` over the (ts, side,
    * tieBreak) sort order picks each left row's match. Per-pair work is
    * O(1) after the sort — no per-key cross product (a naive
    * `l.ts >= r.ts` theta-join explodes quadratically per key at scale,
    * and Spark would plan it as BroadcastNestedLoop). Right rows at ts ==
    * leftTs are INCLUDED (side 0 sorts before side 1); ties among right
    * rows on equal ts resolve to the greatest `tieBreak` value, so results
    * are deterministic.
    *
    * Output: every left row (left outer semantics) with its matched right
    * payload as a struct column `asof` (null when no right row precedes).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               tieBreak: Seq[String] = Nil,
               direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val rPayload = right.columns.filterNot(keys.contains)
    // null-timestamp right rows can match NOTHING under as-of semantics
    // (ts <= anything is NULL) but ascending sort puts nulls FIRST, where
    // the running last() would hand them to every otherwise-unmatched left
    // row — drop them before the union. A null-ts LEFT row needs no guard:
    // it sorts before every (non-null) right row, so its running match is
    // null, exactly the oracle's LEFT JOIN result.
    val r0 = right.filter(col(rightTs).isNotNull)
      .select(keys.map(col) ++ Seq(col(rightTs).as("__ts"),
        lit(0).as("__side"), struct(rPayload.map(col): _*).as("__r")): _*)
    val l0 = left.select(keys.map(col) ++ Seq(col(leftTs).as("__ts"),
      lit(1).as("__side"), struct(left.columns.map(col): _*).as("__l")): _*)
    val lu = l0.withColumn("__r", lit(null).cast(r0.schema("__r").dataType))
    val ru = r0.withColumn("__l", lit(null).cast(l0.schema("__l").dataType))
    val cols = keys ++ Seq("__ts", "__side", "__l", "__r")
    val un = lu.select(cols.map(col): _*).unionByName(ru.select(cols.map(col): _*))
    // forward = the same running-last machinery scanning time REVERSED
    // (first right at ts >= left; equal-ts inclusive via side order; ties
    // resolve to the same "last in tie-order" rule as backward). Nulls
    // must lead the scan in BOTH directions so a null-ts left row matches
    // nothing — asc defaults to nulls-first, desc needs it explicit.
    val tsOrd = if (direction == "backward") col("__ts").asc
                else col("__ts").desc_nulls_first
    val ord = Seq(tsOrd, col("__side").asc) ++
      tieBreak.map(t => col("__r").getField(t).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    un.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*"), col("__m").as("asof"))
  }

  /** Interval (range) join: every (left, right) pair sharing `keys` with
    * `rightTs` in the half-open window `(leftTs + lowerUs, leftTs + upperUs]`
    * — the temporal join behind view→click attribution, sensor alignment
    * and session stitching. Unlike [[asofJoin]] (one match per left row)
    * this emits ALL matches in the window.
    *
    * Scale shape: a plain `keys` equi-join with the range as a residual
    * filter degenerates to a per-key cross product on hot keys (one bot
    * user with 10^6 events → 10^12 candidate pairs in one task). Instead
    * both sides are TIME-BUCKETED at the window span W = upperUs - lowerUs:
    * a right row lands in bucket floor(ts/W); a left row's window spans at
    * most two such buckets, so it is replicated to exactly those (≤2)
    * buckets. The shuffle key becomes (keys…, bucket) — a hot key's pairs
    * scatter across its time range instead of piling into one task, and
    * per-task candidate work is bounded by how many events fall in 2W of
    * wall time, not by the key's total history. The exact range predicate
    * then prunes candidates inside the join.
    *
    * Timestamps are compared at micro precision (`unix_micros`), matching
    * what [[graft.Tables]] loads and what DuckDB's `epoch_us` sees.
    * Right-side payload columns must not collide with left columns
    * (pre-select/rename at the call site). */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   lowerUs: Long, upperUs: Long): DataFrame = {
    require(upperUs > lowerUs, s"empty interval: ($lowerUs, $upperUs]")
    val w = upperUs - lowerUs
    // `div` is integer floor-division for the non-negative epochs here;
    // array_distinct collapses the two bucket ids when the window happens
    // to sit inside a single bucket.
    val l = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__bkt", explode(array_distinct(array(
        expr(s"(__lus + ${lowerUs + 1}L) div ${w}L"),
        expr(s"(__lus + ${upperUs}L) div ${w}L")))))
    val r = right
      .withColumn("__rus", unix_micros(col(rightTs)))
      .withColumn("__bkt", expr(s"__rus div ${w}L"))
    l.join(r, keys :+ "__bkt")
      .filter(col("__rus") > col("__lus") + lowerUs &&
        col("__rus") <= col("__lus") + upperUs)
      .drop("__bkt", "__lus", "__rus")
  }

  /** A2 — partial/final merge property: combining per-subkey partial
    * aggregates must equal the direct aggregate. `sum(cnt)` merges counts,
    * `max(mx)` merges maxes — exactly the reference's `$inc`/`$max`
    * (consumer2.py:198-217), but associative and therefore distributable. */
  def mergePartials(partials: DataFrame, finalKeys: Seq[String],
                    sums: Seq[String], maxes: Seq[String]): DataFrame = {
    val aggs = sums.map(c => sum(col(c)).as(c)) ++ maxes.map(c => max(col(c)).as(c))
    partials.groupBy(finalKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
