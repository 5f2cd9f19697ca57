package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Table profiling — the `ANALYZE`-style data-quality summary every
  * ingestion pipeline runs before trusting a new drop: per column, the
  * null count, exact distinct count, and a min/max envelope (the value
  * range for numeric columns, the LENGTH range for strings — a 0-length
  * min or a 10⁶-length max is the classic malformed-row smell).
  *
  * Plan shape: ONE aggregation pass over the table produces a single wide
  * row (Catalyst plans the multiple exact `countDistinct`s as one Expand —
  * each input row fans out per distinct column, map-side combines, one
  * shuffle); the wide row then melts to column-grain rows with an
  * `inline` of per-column structs — driver never sees the data, and the
  * output is #columns rows whatever the table size. Exact distincts are
  * the point of a profiling pass; for a monitoring cadence where
  * approximation is fine, swap `countDistinct` for the HLL sketch in
  * [[Sketches]].
  */
object Profiler {

  /** [[pearson]] per-row contract: |value|·10^scale at most this, so any
    * single cross-product fits a LONG (⌊√(2⁶³−1)⌋ ≈ 3.04·10⁹, kept at the
    * documented round bound). Enforced in-plan via raise_error. */
  val PearsonAbsBound: Long = 3000000000L

  /** Long-form profile of `cols` (default: every string/numeric column in
    * schema order): (column, n_rows, n_nulls, n_distinct, min_val,
    * max_val). */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val picked = (if (cols.nonEmpty) cols else df.schema.collect {
      case f if f.dataType.isInstanceOf[NumericType] || f.dataType == StringType => f.name
    }).map { n =>
      val numeric = df.schema(n).dataType.isInstanceOf[NumericType]
      (n, numeric)
    }
    require(picked.nonEmpty, "profile: no string/numeric columns to profile")
    val aggs = picked.flatMap { case (n, numeric) =>
      val envelope = if (numeric) col(n).cast("double") else length(col(n)).cast("double")
      Seq(
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"${n}__nulls"),
        countDistinct(col(n)).as(s"${n}__dist"),
        min(envelope).as(s"${n}__min"),
        max(envelope).as(s"${n}__max"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(inline(array(picked.map { case (n, _) =>
      struct(
        lit(n).as("col_name"),
        col("__rows").as("n_rows"),
        col(s"${n}__nulls").as("n_nulls"),
        col(s"${n}__dist").as("n_distinct"),
        col(s"${n}__min").as("min_val"),
        col(s"${n}__max").as("max_val"))
    }: _*)))
  }

  /** PAIRWISE PEARSON CORRELATION in ONE aggregation pass — the
    * profiling step after [[profile]]: which numeric columns move
    * together. All six moments per pair (n, Σx, Σy, Σxy, Σx², Σy²) come
    * out of a single partial+final hash aggregation.
    *
    * CONTRACT: inputs must carry at most `scale` decimal places (and
    * |value|·10^scale must stay below ~3·10⁹ so per-row products fit a
    * LONG) — the [[profile]]-era profiling targets (money, counts,
    * rates). Correlation is invariant under per-column scaling, so each
    * value is lifted EXACTLY to the integer value·10^scale (via a
    * decimal cast, never double multiplication) and every moment is pure
    * LONG arithmetic: a product sum would overflow a long, so each
    * product splits into two's-complement hi/lo halves at 2^30
    * (`hi = p >> 30`, `lo = p & (2^30−1)`, identities exact for negative
    * products too) summed as plain longs — exact, associative at any
    * partitioning, and on Spark's codegen'd long-sum fast path (both a
    * decimal(18,2)-moment form and a decimal(38,0) one were 4-6 s on the
    * bench: wide decimal sums accumulate through BigDecimal). The
    * reconstruction `hi·2^30 + lo` in double costs ONE rounding (a
    * power-of-two multiply is exact), identical in both engines.
    * Bound: n·|x·10^s|·|y·10^s| must stay below 2^63·2^30 ≈ 10^28 —
    * comfortably beyond any profiling corpus. The per-row half of the
    * contract (|value|·10^scale ≤ 3·10⁹ so a single product fits a LONG)
    * is ENFORCED in-plan: the same pass aggregates max(abs(lifted)) and
    * the query `raise_error`s when data exceeds it — out-of-contract
    * columns fail loudly instead of wrapping into silently wrong
    * correlations (the loud-failure discipline of
    * [[Sampling.negativeSampleBounded]]).
    *
    * Rows with a NULL on either side of a pair drop from THAT pair's
    * moments only. The final double formula is mirrored
    * operand-for-operand in the oracle; round(6) soaks final-ulp sqrt
    * drift. Output: (x_col, y_col, n, corr) — one row per pair. */
  def pearson(df: DataFrame, pairs: Seq[(String, String)],
              scale: Int = 2): DataFrame = {
    require(pairs.nonEmpty, "pearson: need at least one column pair")
    require(scale >= 0 && scale <= 6, s"pearson: scale must be in [0,6]: $scale")
    val mult = math.pow(10, scale).toLong
    val mask = (1L << 30) - 1
    // projection-CSE rule (SCALE.md): the double→decimal→long lift is the
    // only non-trivial per-row arithmetic and each aggregate evaluates its
    // own expression subtree — staged as ONE column per distinct input,
    // the aggregation runs on pure long ops (measured 5.4 s → sub-second
    // on the bench's widest pass when the lift ran ~9× per column)
    val cols = pairs.flatMap { case (x, y) => Seq(x, y) }.distinct
    val staged = cols.foldLeft(df.select(cols.map(col): _*)) { (acc, c) =>
      acc.withColumn(s"__l_$c",
        (col(c).cast(s"decimal(18,$scale)") * mult).cast("long"))
    }
    def lng(c: String) = col(s"__l_$c")
    def prodSums(p: Column, ok: Column, name: String) = Seq(
      sum(when(ok, shiftright(p, 30))).as(s"${name}_hi"),
      sum(when(ok, p.bitwiseAND(lit(mask)))).as(s"${name}_lo"))
    val absCols = cols.map(c => abs(lng(c)))
    val aggs = pairs.zipWithIndex.flatMap { case ((x, y), i) =>
      val ok = lng(x).isNotNull && lng(y).isNotNull
      Seq(
        count(when(ok, 1)).as(s"__n_$i"),
        sum(when(ok, lng(x))).as(s"__sx_$i"),
        sum(when(ok, lng(y))).as(s"__sy_$i")) ++
        prodSums(lng(x) * lng(y), ok, s"__sxy_$i") ++
        prodSums(lng(x) * lng(x), ok, s"__sxx_$i") ++
        prodSums(lng(y) * lng(y), ok, s"__syy_$i")
    } :+ max(if (absCols.size == 1) absCols.head else greatest(absCols: _*))
      .as("__maxabs")
    val wide = staged.agg(aggs.head, aggs.tail: _*)
    // contract guard: any |value|·10^scale beyond the single-product LONG
    // bound makes the moments garbage — fail the query, don't return them.
    // NULL __maxabs (empty/all-null input) is in-contract (coalesce to 0).
    val nGuard: Column => Column = n =>
      when(coalesce(col("__maxabs"), lit(0L)) <= lit(PearsonAbsBound), n)
        .otherwise(raise_error(concat(
          lit(s"pearson: |value|*10^$scale exceeds LONG-product bound $PearsonAbsBound: "),
          col("__maxabs").cast("string"))))
    def rebuild(name: String): Column =
      col(s"${name}_hi").cast("double") * lit(1073741824.0) +
        col(s"${name}_lo").cast("double")
    wide.select(inline(array(pairs.zipWithIndex.map { case ((x, y), i) =>
      val nd = col(s"__n_$i").cast("double")
      val sx = col(s"__sx_$i").cast("double")
      val sy = col(s"__sy_$i").cast("double")
      val num = nd * rebuild(s"__sxy_$i") - sx * sy
      val den = sqrt(nd * rebuild(s"__sxx_$i") - sx * sx) *
        sqrt(nd * rebuild(s"__syy_$i") - sy * sy)
      struct(
        lit(x).as("x_col"), lit(y).as("y_col"),
        nGuard(col(s"__n_$i")).as("n"),
        round(when(den === 0.0, lit(null).cast("double")).otherwise(num / den), 6)
          .as("corr"))
    }: _*)))
  }

  /** PER-GROUP OLS TREND — simple linear regression y = a + b·x per
    * group from the same exact DECIMAL moments as [[pearson]]:
    * `slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx·Σx)`,
    * `intercept = (Σy − slope·Σx) / n`. One partial+final hash
    * aggregation keyed by the group — the "fit a trend per key" primitive
    * (per-entity growth rate, per-source drift) without any ML runtime.
    * Deterministic: exact integer/decimal moments at any partitioning,
    * final double formula mirrored in the oracle, round(6). Groups with
    * zero x-variance (or a single row) yield NULL slope/intercept. */
  def groupTrend(df: DataFrame, group: String, x: String, y: String,
                 yScale: Int = 2): DataFrame = {
    // x is an INDEX (integral — day number, step count): scale-0 decimal.
    // Besides matching the data, this keeps every sum's internal integer
    // far below 2^53, where decimal→double conversion is exact in both
    // engines — product sums at scale 8 were one ulp apart cross-engine
    // near 2^53 and the intercept's cancellation amplified that to 1e-5.
    def dx(c: Column) = c.cast("decimal(18,0)")
    def dy(c: Column) = c.cast(s"decimal(18,$yScale)")
    val ok = col(x).isNotNull && col(y).isNotNull
    val agg = df.groupBy(col(group)).agg(
      count(when(ok, 1)).as("n"),
      sum(when(ok, dx(col(x)))).cast("double").as("sx"),
      sum(when(ok, dy(col(y)))).cast("double").as("sy"),
      sum(when(ok, dx(col(x)) * dy(col(y)))).cast("double").as("sxy"),
      sum(when(ok, dx(col(x)) * dx(col(x)))).cast("double").as("sxx"))
    val nd = col("n").cast("double")
    val den = nd * col("sxx") - col("sx") * col("sx")
    val slope = when(den === 0.0, lit(null).cast("double"))
      .otherwise((nd * col("sxy") - col("sx") * col("sy")) / den)
    agg.withColumn("slope", round(slope, 6))
      .withColumn("intercept",
        round(when(col("slope").isNull, lit(null).cast("double"))
          .otherwise((col("sy") - slope * col("sx")) / nd), 6))
      .select(col(group), col("n"), col("slope"), col("intercept"))
  }

  /** GINI CONCENTRATION per group — the inequality coefficient over a
    * non-negative measure (`gini = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n` over the
    * ascending-sorted values, the standard public formula): 0 = perfectly
    * even, →1 = one row holds everything. The corpus-audit question it
    * answers: is a source's token mass concentrated in a handful of
    * documents (scraper artifact, single-site dump) or spread evenly?
    * Ranks come from one window; tied values contribute a FIXED rank-sum
    * whatever their internal order, so the result is deterministic
    * without a tiebreak. Integer-valued measures make both sums exact
    * longs; the final two divisions are mirrored; round(6). */
  def gini(df: DataFrame, group: String, value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group)).orderBy(col(value))
    df.filter(col(value).isNotNull)
      .withColumn("__r", row_number().over(w).cast("long"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"),
        sum(col(value).cast("long")).as("__sx"),
        sum(col("__r") * col(value).cast("long")).as("__srx"))
      .select(col(group), col("n"),
        round((lit(2.0) * col("__srx").cast("double")) /
            (col("n").cast("double") * col("__sx").cast("double")) -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6).as("gini"))
  }

  /** ROBUST OUTLIER DETECTION per group — median absolute deviation, the
    * estimator that survives the outliers it hunts (a mean/stddev z-score
    * is dragged by the very rows it should flag; the median and MAD have
    * a 50% breakdown point). Both medians are the EXACT discrete
    * lower-rank element via [[Ops.histogramQuantiles]] — shuffle bounded
    * by distinct values per group, not rows, and deterministic at any
    * partitioning (no interpolation, no float accumulation).
    *
    * A row is an outlier when `|v − median| > k·MAD` and MAD > 0 (an
    * all-equal group has MAD 0 — flagging everything there would be
    * noise, flagging deviants is [[profile]]'s min/max envelope's job).
    * Output: every non-null-value row plus (med, absdev, mad,
    * is_outlier). */
  def madOutliers(df: DataFrame, group: String, value: String,
                  k: Double = 3.0): DataFrame = {
    // ONE full-data aggregation: the (group, value) histogram serves both
    // medians — the MAD histogram is the value histogram folded through
    // |v − median| (per-value counts summed where distinct values map to
    // the same absdev), so the second quantile pass runs at
    // distinct-value grain instead of re-aggregating every row, and the
    // row-grain scan happens twice (histogram + output) instead of three
    // times. Same lower-rank selection, same multiset of absdevs ⇒
    // identical med/mad and identical output rows.
    // vc's aggregation exchange is one subtree shared by every consumer
    // below (ReuseExchange dedupes it) — no checkpoint needed
    val vc = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val med = Ops.quantilesFromCounts(vc, group, Seq(0.5))
      .select(col(group), col("p50").as("med"))
    val devHist = vc.join(med, group)
      .groupBy(col(group), abs(col("__v") - col("med")).as("__v"))
      .agg(sum(col("__cnt")).as("__cnt"))
    val mad = Ops.quantilesFromCounts(devHist, group, Seq(0.5))
      .select(col(group), col("p50").as("mad"))
    df.filter(col(value).isNotNull)
      .join(med, group)
      .withColumn("absdev", abs(col(value) - col("med")))
      .join(mad, group)
      .withColumn("is_outlier", col("mad") > 0.0 && col("absdev") > lit(k) * col("mad"))
  }

  /** JOIN-KEY SKEW REPORT — the diagnostic behind every salting/AQE
    * decision in SCALE.md: for each candidate shuffle key, the hottest
    * `topN` values with their absolute count, share of rows, and skew
    * ratio (count ÷ rows-per-distinct-key mean — 1.0 = perfectly uniform;
    * the factor by which the hottest task outweighs the average one at
    * that partitioning). A key whose top value carries skew_ratio 500 is
    * the key you salt ([[Scale.saltedJoin]]) or let AQE split; this query
    * is how you find it BEFORE the 100 TB job stragglers, from one
    * aggregation per key column (map-side combined, then a topN window
    * over the tiny per-key count table).
    *
    * All counts are exact longs; share/skew divisions are mirrored and
    * round(6); ranks break ties by key value, so the report is
    * deterministic. Output: (col_name, key_value, cnt, rnk, share_pct,
    * skew_ratio) — `key_value` stringified so heterogeneous key columns
    * union into one report. */
  def skewReport(df: DataFrame, keys: Seq[String], topN: Int = 5): DataFrame = {
    require(keys.nonEmpty && topN >= 1, s"need keys and topN >= 1, got $keys, $topN")
    import org.apache.spark.sql.expressions.Window
    keys.map { k =>
      val counts = df.groupBy(col(k)).agg(count(lit(1)).as("cnt"))
      // total/distinct reduce to one broadcast row; the hottest keys come
      // from a DISTRIBUTED top-k (TakeOrderedAndProject), so a
      // billion-distinct-key column never funnels through one window
      // task — the rank window only re-ranks the ≤ topN survivors
      val stats = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nd"))
      counts.orderBy(col("cnt").desc, col(k)).limit(topN)
        .crossJoin(broadcast(stats))
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("cnt").desc, col(k))).cast("long"))
        .select(lit(k).as("col_name"), col(k).cast("string").as("key_value"),
          col("cnt"), col("rnk"),
          round(col("cnt").cast("double") * lit(100.0) / col("total").cast("double"), 6)
            .as("share_pct"),
          round(col("cnt").cast("double") * col("nd").cast("double") / col("total").cast("double"), 6)
            .as("skew_ratio"))
    }.reduce(_.unionByName(_))
  }

  /** WINSORIZED MEAN per group — the robust location estimate that CLIPS
    * instead of dropping: values below the α-quantile rise to it, values
    * above the (1−α) quantile fall to it, then the mean runs over the
    * clipped column (tail-resistant like the trimmed mean, but every row
    * still votes — the corpus-audit "typical doc length" that one crawler
    * blow-up can't drag). α is a RATIONAL 1/alphaDenom, so the clip ranks
    * are pure integer arithmetic (`klo = ⌈n/denom⌉` via `(n+denom−1) div
    * denom`, `khi = n+1−klo`) — no float quantile position that could
    * ceil() differently across engines.
    *
    * The bounds are rank-picked VALUES (row_number over the value order):
    * the value at a rank is deterministic even when tied rows aren't (the
    * discrete-quantile convention of [[Ops.histogramQuantiles]]). With an
    * integral value column every sum is an exact long; the single final
    * division is mirrored in the oracle. Two shuffles (rank window +
    * bounds aggregate) plus one group-keyed join back — no per-group state
    * beyond two scalars, any partitioning. Output: (group, n, lo, hi,
    * winsorized_mean). */
  def winsorizedMean(df: DataFrame, group: String, value: String,
                     alphaDenom: Int = 20): DataFrame = {
    require(alphaDenom >= 2, s"need alphaDenom >= 2, got $alphaDenom")
    import org.apache.spark.sql.expressions.Window
    val vals = df.filter(col(value).isNotNull)
      .select(col(group), col(value).cast("long").as("__v"))
    // rank and group-count share one partitioning: a single shuffle feeds
    // both windows, and the bounds reduce out of the same pass
    val rk = vals
      .withColumn("__rk", row_number()
        .over(Window.partitionBy(col(group)).orderBy(col("__v"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(group))))
      .withColumn("__klo", expr(s"(n + ${alphaDenom - 1}) div $alphaDenom"))
    val bounds = rk.groupBy(col(group), col("n"))
      .agg(max(when(col("__rk") === col("__klo"), col("__v"))).as("lo"),
        max(when(col("__rk") === col("n") + 1 - col("__klo"), col("__v"))).as("hi"))
    vals.join(bounds, group)
      .groupBy(col(group), col("n"), col("lo"), col("hi"))
      .agg(round(sum(least(greatest(col("__v"), col("lo")), col("hi"))).cast("double") /
        col("n").cast("double"), 6).as("winsorized_mean"))
      .select(col(group), col("n"), col("lo"), col("hi"), col("winsorized_mean"))
  }

  /** DISTRIBUTION DRIFT between two snapshots — PSI (population stability
    * index, the model-monitoring standard: <0.1 stable, >0.25 shifted) and
    * KL(a‖b) over a shared fixed-width binning of a non-negative numeric
    * column. The pipeline-health check a training-data refresh runs before
    * swapping corpora: "did the length/quality/score distribution move?"
    *
    * Determinism: bins are integer division (`div width` ≡ DuckDB `//` for
    * the documented non-negative domain); Laplace-smoothed shares use the
    * OBSERVED bin union as the category count, so both engines smooth over
    * the identical support and zero-count bins never hit ln(0). Each share
    * is one exact division; the log-ratio collapses to ONE ln of an exact
    * integer ratio (`(n_a+1)(tot_b+B) / (n_b+1)(tot_a+B)` — products stay
    * far under 2⁵³ for any realistic snapshot); per-bin contributions
    * round(6) to absorb libm ln ulps, and the headline PSI/KL totals are
    * exact decimal sums OF the rounded terms — associative, any
    * partitioning.
    *
    * Scale shape: two count-aggregates (map-side combined), a full-outer
    * equi-join on bin, one broadcast totals row. The totals window is
    * unpartitioned by construction but runs over the BIN frame — bounded by
    * value-range/width, not data size. */
  def distributionDrift(a: DataFrame, b: DataFrame, value: String,
                        width: Long): DataFrame = {
    require(width >= 1, s"need width >= 1, got $width")
    import org.apache.spark.sql.expressions.Window
    // NULL values drop BEFORE binning: a NULL bin would survive the
    // groupBy but never match across the full-outer join (NULL keys don't
    // equi-join), leaving one orphan NULL row per side and engine-specific
    // NULL ordering in the final sort — filtered here and mirrored in the
    // oracle so both engines drift over the same support.
    def binned(df: DataFrame, n: String) =
      df.filter(col(value).isNotNull)
        .select(expr(s"CAST($value AS BIGINT) div $width").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
    driftFromBins(binned(a, "n_a"), binned(b, "n_b"))
  }

  /** [[distributionDrift]]'s bin-level core — inputs are already-counted
    * `(bin, n_a)` / `(bin, n_b)` frames, so a caller holding a PERSISTED
    * reference histogram (the streaming drift sink) reuses the identical
    * smoothing/ln/rounding arithmetic without re-binning raw rows. */
  private[graft] def driftFromBins(binsA: DataFrame, binsB: DataFrame): DataFrame =
    smoothedLogRatio(binsA, binsB).drop("log_ratio")

  /** The smoothing/ln/rounding core [[driftFromBins]] and [[woeIv]]
    * share (the mergeTotals rule: IV IS the PSI sum over category bins,
    * and WOE the per-bin log-ratio — one arithmetic, two vocabularies).
    * Emits the rounded log-ratio alongside the PSI/KL terms. */
  private def smoothedLogRatio(binsA: DataFrame, binsB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = binsA.join(binsB, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val stats = joined.agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"),
      count(lit(1)).as("nbins"))
    val pa = (col("n_a") + 1).cast("double") / (col("tot_a") + col("nbins")).cast("double")
    val pb = (col("n_b") + 1).cast("double") / (col("tot_b") + col("nbins")).cast("double")
    val lr = log(((col("n_a") + 1) * (col("tot_b") + col("nbins"))).cast("double") /
      ((col("n_b") + 1) * (col("tot_a") + col("nbins"))).cast("double"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined.crossJoin(broadcast(stats))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(lr, 6).as("log_ratio"),
        round((pa - pb) * lr, 6).as("psi_term"),
        round(pa * lr, 6).as("kl_term"))
      .withColumn("psi", sum(col("psi_term").cast("decimal(18,6)")).over(w).cast("double"))
      .withColumn("kl", sum(col("kl_term").cast("decimal(18,6)")).over(w).cast("double"))
      .orderBy(col("bin"))
  }

  /** WEIGHT OF EVIDENCE / INFORMATION VALUE — the credit-scoring staple
    * for "how predictive is this categorical feature of a binary
    * label?": per category, WOE = ln(p_cat|pos / p_cat|neg) under the
    * same +1/nbins Laplace smoothing as [[distributionDrift]], and
    * IV = Σ (p − q)·WOE — which is EXACTLY the PSI sum over category
    * bins, so the implementation IS [[driftFromBins]]'s core with the
    * positive rows as side A and negative rows as side B (shared
    * arithmetic, not a re-derivation). The usual reading: IV < 0.02
    * useless, 0.1–0.3 medium, > 0.5 suspicious. Rows with a NULL label
    * or category are excluded. Category grain — bounded output.
    *
    * Output: (category, n_pos, n_neg, woe, iv_term, iv) — `iv` is the
    * feature-level total repeated per row (one frame, no second query
    * for the headline number). */
  def woeIv(df: DataFrame, category: String, label: Column): DataFrame = {
    val rows = df.filter(col(category).isNotNull)
    val pos = rows.filter(label)
      .groupBy(col(category).as("bin")).agg(count(lit(1)).as("n_a"))
    val neg = rows.filter(!label)
      .groupBy(col(category).as("bin")).agg(count(lit(1)).as("n_b"))
    smoothedLogRatio(pos, neg)
      .select(col("bin").as(category), col("n_a").as("n_pos"),
        col("n_b").as("n_neg"), col("log_ratio").as("woe"),
        col("psi_term").as("iv_term"), col("psi").as("iv"))
      .orderBy(col(category))
  }

  /** TWO-SIDED CUSUM MONITORING SUMMARY (Page 1954) — the group-grain
    * companion to [[cusumAlarms]] (which emits the per-point one-sided
    * trajectory for charting): per group, ONE summary row from the two
    * classic recursions
    * `S⁺_i = max(0, S⁺_{i-1} + (x_i − μ − k))` /
    * `S⁻_i = max(0, S⁻_{i-1} + (μ − x_i − k))` flag a sustained mean
    * shift when either statistic crosses `h`.
    *
    * DIVISION-FREE EXACT FORM: the fold is replaced by the prefix-sum
    * identity `S_i = P_i − min(0, min_{j≤i} P_j)` (P = running sum of
    * the deviations, the textbook equivalence), so the whole statistic
    * is two RUNNING WINDOWS — no sequential fold, no list collection.
    * And instead of dividing for μ = Σx/n (whose floor/truncate
    * semantics differ across engines for negative sums), everything is
    * multiplied through by n: `d_i = n·x_i − Σx − n·k` in fixed-point —
    * every quantity an exact int64, valid for negative values too. The
    * alarm compare `S > n·h` is exact; only the reported
    * `smax_{pos,neg}` value columns are one rounded double chain
    * (S / (n·10^scale)).
    *
    * Plan: one pass, windows all sharing the per-group sort — group
    * grain out. Output: (group, n_obs, smax_pos, smax_neg, first_alarm)
    * with `first_alarm` the 1-based position of the first crossing in
    * either direction (null = in control). */
  def cusumTwoSided(df: DataFrame, group: String, seq: Seq[String], x: String,
                    slack: Double, threshold: Double, scale: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(scale >= 0 && scale <= 6, s"cusum: scale $scale not in [0, 6]")
    val unit = math.pow(10, scale).toLong
    val (kFp, hFp) = (fixedPoint(slack, scale), fixedPoint(threshold, scale))
    val g = Window.partitionBy(col(group))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = Window.partitionBy(col(group)).orderBy(seq.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = Window.partitionBy(col(group)).orderBy(seq.map(col): _*)
    val rows = df.filter(col(x).isNotNull)
      .select(Seq(col(group), (col(x).cast(s"decimal(18,$scale)") * unit)
        .cast("long").as("__xq")) ++ seq.map(col): _*)
      .withColumn("__n", count(lit(1)).over(g))
      .withColumn("__tot", sum(col("__xq")).over(g))
      .withColumn("__dp", col("__n") * col("__xq") - col("__tot") - col("__n") * kFp)
      .withColumn("__dn", col("__tot") - col("__n") * col("__xq") - col("__n") * kFp)
      .withColumn("__pp", sum(col("__dp")).over(run))
      .withColumn("__pn", sum(col("__dn")).over(run))
      .withColumn("__sp", col("__pp") - least(lit(0L), min(col("__pp")).over(run)))
      .withColumn("__sn", col("__pn") - least(lit(0L), min(col("__pn")).over(run)))
      .withColumn("__rn", row_number().over(ord).cast("long"))
    val nh = col("__n") * hFp
    rows.groupBy(col(group))
      .agg(count(lit(1)).as("n_obs"),
        round(max(col("__sp")).cast("double") /
          (first(col("__n")) * unit).cast("double"), 6).as("smax_pos"),
        round(max(col("__sn")).cast("double") /
          (first(col("__n")) * unit).cast("double"), 6).as("smax_neg"),
        min(when(col("__sp") > nh || col("__sn") > nh, col("__rn")))
          .as("first_alarm"))
  }

  /** INTER-ARRIVAL BURSTINESS (Goh & Barabási 2008, the human-dynamics
    * staple): per group, B = (σ − μ)/(σ + μ) over the inter-event gap
    * distribution — B → −1 periodic, 0 Poisson, → +1 bursty. The
    * behavioral signal bot detection and capacity planning read that
    * rate alone misses (a user firing 100 events in one minute then
    * silent for a week has the same rate as a metronome).
    *
    * Exactness: gaps are integer micros from a lag over the per-group
    * (seq)-ordered series; Σg is a long and Σg² a DECIMAL(38,0) sum of
    * pre-cast products — associative at any partitioning. μ, σ and B
    * are one per-row double chain over those exact integers (mirrored
    * operand-for-operand in the oracle), rounded to 6. Groups with
    * fewer than 2 gaps (≤ 2 events) yield null B; σ + μ = 0 (all gaps
    * zero) yields null, never NaN. Group grain out; per-group windows
    * share one sort. Output: (group, n_gaps, mean_gap_us, burstiness). */
  def burstiness(df: DataFrame, group: String, seq: Seq[String],
                 ts: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col(group)).orderBy(seq.map(col): _*)
    val gaps = df.filter(col(ts).isNotNull)
      .select(Seq(col(group), unix_micros(col(ts)).as("__us")) ++ seq.map(col): _*)
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(ord))
      .filter(col("__gap").isNotNull)
    val agg = gaps.groupBy(col(group))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__sg"),
        sum(col("__gap").cast("decimal(19,0)") * col("__gap")).as("__sg2"))
    val n = col("n_gaps").cast("double")
    val mu = col("__sg").cast("double") / n
    val variance = col("__sg2").cast("double") / n - mu * mu
    val sigma = sqrt(greatest(variance, lit(0.0)))
    // floor(mu), not round(mu, 6): rounding a ~1e9-magnitude double to 6
    // decimals multiplies it to ~1e15 where engine round() paths diverge
    // by ulps (measured 7.6e-6 cross-engine); mu itself is bit-identical
    // (one exactly-rounded division), so floor is too
    agg.select(col(group), col("n_gaps"),
      floor(mu).cast("long").as("mean_gap_us"),
      when(col("n_gaps") >= 2 && (sigma + mu) > 0,
        round((sigma - mu) / (sigma + mu), 6)).as("burstiness"))
  }

  /** TIME-OF-WEEK SEASONAL PROFILE — the dashboard baseline behind every
    * "is this hour's traffic normal?" question: per (day-of-week, hour)
    * slot, event count, exact-DECIMAL mean value, and the lift of the
    * slot mean over the corpus mean. Calendar arithmetic is PURE INTEGER
    * epoch math ((epoch_day + 4) mod 7, 0 = Sunday — 1970-01-01 was a
    * Thursday; hour = (epoch_us div 3600e6) mod 24, UTC both engines),
    * never an engine's locale-dependent dayofweek(). Slot grain: ≤ 168
    * output rows at any corpus size; one aggregation, one broadcast
    * scalar join. Means and lift are single per-row double chains over
    * exact DECIMAL sums, rounded to 6. */
  def seasonalProfile(df: DataFrame, ts: String, value: String): DataFrame = {
    val slots = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .select(expr(s"((unix_micros($ts) div 86400000000) + 4) % 7").as("dow"),
        expr(s"(unix_micros($ts) div 3600000000) % 24").as("hour"),
        (col(value).cast("decimal(18,4)") * 10000).cast("long").as("vq"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("vq").cast("decimal(28,0)")).as("sq"))
    val tot = slots.agg(sum(col("n")).as("n_all"), sum(col("sq")).as("sq_all"))
    val slotMean = col("sq").cast("double") / col("n").cast("double") / 1e4
    val globMean = col("sq_all").cast("double") / col("n_all").cast("double") / 1e4
    slots.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n"),
        round(slotMean, 6).as("mean_value"),
        round(slotMean / globMean, 6).as("lift"))
      .orderBy(col("dow"), col("hour"))
  }

  /** TRAILING-WINDOW Z-SCORE anomaly flags over a per-group time series —
    * the metrics-monitoring primitive (is today's count/revenue/error-rate
    * an outlier vs the trailing `n` observations, this point included?).
    * Unlike [[madOutliers]] (static, per-group, rank-based) this is
    * sequential: each point is judged against its own local history, so a
    * regime change flags once instead of poisoning the whole group.
    *
    * Determinism: values quantize to exact 10^-`scale` units (decimal
    * cast, no rounding ambiguity), every moment is integer arithmetic in
    * the ordered frame, and z collapses to `(c·x − s) / sqrt(c·q − s²)` —
    * one int→double cast each side, one IEEE-exact sqrt, one division: z is
    * BIT-identical cross-engine, so the flag (|z| > thresh on the rounded
    * value) can never straddle engines. Warm-up rows (history < n) and
    * zero-variance windows yield NULL z / false flag. Overflow contract:
    * c·q needs |x|·10^scale < ~10^9/√n — document-scale daily sums, not
    * satellites.
    *
    * One window shuffle partitioned by group — per-group frames, any
    * group count, no driver state. */
  def rollingZscore(series: DataFrame, group: String, t: String, x: String,
                    n: Int, scale: Int = 2, zThresh: Double = 2.0): DataFrame = {
    require(n >= 2, s"need window n >= 2, got $n")
    import org.apache.spark.sql.expressions.Window
    val unit = math.pow(10, scale).toLong
    val w = Window.partitionBy(col(group)).orderBy(col(t)).rowsBetween(-(n - 1), 0)
    val z = when(col("__c") === n && col("__c") * col("__q") - col("__s") * col("__s") > 0,
      (col("__c") * col("__xu") - col("__s")).cast("double") /
        sqrt((col("__c") * col("__q") - col("__s") * col("__s")).cast("double")))
    series
      .withColumn("__xu", (col(x).cast(s"decimal(18,$scale)") * unit).cast("long"))
      // count the QUANTIZED value, not the row: a NULL observation inside
      // the frame would otherwise raise c while __s/__q skip it, yielding a
      // z from inconsistent moments — counting __xu makes NULLs extend the
      // warm-up (c < n → NULL z) instead of corrupting the statistic
      .withColumn("__c", count(col("__xu")).over(w))
      .withColumn("__s", sum(col("__xu")).over(w))
      .withColumn("__q", sum(col("__xu") * col("__xu")).over(w))
      .withColumn("z", round(z, 6))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > zThresh, lit(false)))
      .select(col(group), col(t), col(x), col("z"), col("is_anomaly"))
  }

  /** CUSUM CHANGE-POINT ALARMS (Page 1954) — the sequential drift
    * detector monitoring pipelines run beside the pointwise z-score: the
    * one-sided statistic `s_i = max(0, s_{i−1} + (x_i − μ − slack))`
    * accumulates PERSISTENT upward drift and alarms at `s_i > h`, where
    * a z-score only sees single-point spikes. The recurrence looks
    * sequential, but the classic prefix identity
    * `s_i = p_i − min(0, min_{j≤i} p_j)` (p = running sum of the
    * deviations) turns it into THREE stock windows — running sum,
    * running min, subtraction — one sort per group, no recursion, no
    * UDAF, scale-free.
    *
    * μ is each group's own mean over the series (an exact-DECIMAL sum
    * divided once — order-independent), `slack`/`h` are caller policy.
    * Running double sums accumulate left-to-right in day order on both
    * engines — identical association, so round(6) outputs hash-match.
    * Output: (group, t, x, cusum, alarm) per observed point. */
  def cusumAlarms(series: DataFrame, group: String, t: String, x: String,
                  slack: Double, h: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy(col(group))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = Window.partitionBy(col(group)).orderBy(col(t))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mu = sum(col(x).cast("decimal(18,6)")).over(all).cast("double") /
      count(lit(1)).over(all).cast("double")
    val dev = col(x).cast("double") - col("__mu") - lit(slack)
    series.select(col(group), col(t), col(x), mu.as("__mu"))
      .withColumn("__p", sum(dev).over(run))
      .withColumn("__s", col("__p") - least(lit(0.0), min(col("__p")).over(run)))
      .select(col(group), col(t), col(x),
        round(col("__s"), 6).as("cusum"),
        (col("__s") > lit(h)).as("alarm"))
  }

  /** BENFORD FIRST-DIGIT AUDIT — the classic fabricated-data detector
    * (Newcomb 1881 / Benford 1938; the standard forensic-accounting
    * screen): naturally-grown magnitude data has leading digit d with
    * probability log₁₀(1 + 1/d); uniform or hand-typed values don't.
    * Engine-exact construction: values quantize through DECIMAL(18,scale)
    * to int64 (exact — scaling by 10^k preserves the leading digit), the
    * leading digit comes from the INTEGER's decimal string (identical in
    * any engine — no log10 near a power-of-ten boundary), shares are
    * integral ppm (`div`), and the Benford expectations ship as integer
    * ppm LITERALS computed once driver-side (the z-order
    * generated-literals convention — no cross-engine libm). Nonpositive
    * values have no Benford digit and are excluded.
    *
    * Output: 9 rows max — (digit, n, observed_ppm, benford_ppm,
    * diff_ppm). The single-partition window runs on ≤ 9 rows. */
  def benfordAudit(df: DataFrame, x: String, scale: Int = 4): DataFrame = {
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got $scale")
    import org.apache.spark.sql.expressions.Window
    val unit = math.pow(10, scale).toLong
    val benfordPpm: Array[Long] =
      (1 to 9).map(d => (math.log10(1.0 + 1.0 / d) * 1e6).toLong).toArray
    val vq = (col(x).cast(s"decimal(18,$scale)") * unit).cast("long")
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.filter(col(x).isNotNull)
      .select(vq.as("__vq"))
      .filter(col("__vq") > 0)
      .groupBy(substring(col("__vq").cast("string"), 1, 1).cast("long").as("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__nt", sum(col("n")).over(all))
      .withColumn("observed_ppm", expr("(n * 1000000L) div __nt"))
      .withColumn("benford_ppm",
        element_at(typedlit(benfordPpm.toIndexedSeq), col("digit").cast("int")))
      .select(col("digit"), col("n"), col("observed_ppm"), col("benford_ppm"),
        (col("observed_ppm") - col("benford_ppm")).as("diff_ppm"))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV — the nonparametric companion to
    * [[welchTTest]] (which only sees means): D = max_x |F_a(x) − F_b(x)|
    * catches any distributional difference — shape, spread, tails. EXACT
    * by construction: at the distinct-value grain,
    * D = max |cum_a·n_b − cum_b·n_a| / (n_a·n_b) has an INTEGER
    * numerator, so the maximum is found over exact int64s and only the
    * final division (and the √(n_a·n_b/(n_a+n_b))·D normalization) is a
    * rounded double chain. Plan: one value-grain aggregation + one
    * running-sum window over DISTINCT values (value-range bounded, the
    * [[graft.operators.Ops]] histogramQuantiles contract — never row
    * grain). Ties across groups are handled by the value grain itself:
    * both CDFs step together at a shared x.
    * Output one row: (n_a, n_b, d_num, d, ks_stat). */
  def ksTest(df: DataFrame, label: String, value: String,
             a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perV = df.filter(col(value).isNotNull && col(label).isin(a, b))
      .groupBy(col(value))
      .agg(sum(when(col(label) === a, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(label) === b, 1L).otherwise(0L)).as("__cb"))
    val diffed = perV
      .withColumn("__cuma", sum(col("__ca")).over(run))
      .withColumn("__cumb", sum(col("__cb")).over(run))
      .withColumn("__na", sum(col("__ca")).over(all))
      .withColumn("__nb", sum(col("__cb")).over(all))
      .withColumn("__dn", abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na")))
    val dCol = col("d_num").cast("double") /
      (col("n_a").cast("double") * col("n_b").cast("double"))
    diffed
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(col("__dn")).as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        // same degenerate-sample guard as ks_stat: with an empty side,
        // d_num/(n_a*n_b) is 0/0 = NaN, not null — NaN must not leak
        when(col("n_a") > 0 && col("n_b") > 0, round(dCol, 6)).as("d"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(sqrt(col("n_a").cast("double") * col("n_b").cast("double") /
            (col("n_a") + col("n_b")).cast("double")) * dCol, 6)).as("ks_stat"))
  }

  /** RFM SEGMENTATION — the classic customer-value grid (recency ×
    * frequency × monetary quintiles): per key, days since last event
    * (relative to the corpus max — no wall clock), event count, and the
    * exact DECIMAL value total, each ranked into quintiles with a
    * deterministic total order (metric, then key — `ntile` ties are
    * arbitrary without it) and combined into the familiar 3-digit
    * segment code (5 = best on every axis: most recent, most frequent,
    * highest spend). One key-grain aggregation + three windows over the
    * KEY grain (bounded by key cardinality, never event grain).
    * Output: (key, r_days, f_cnt, m_fp, r_q, f_q, m_q, segment). */
  def rfmSegments(df: DataFrame, key: String, ts: String, value: String,
                  quantiles: Int = 5, scale: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val unit = math.pow(10, scale).toLong
    val byKey = df.filter(col(ts).isNotNull)
      .groupBy(col(key))
      .agg(max(unix_micros(col(ts))).as("__last"),
        count(lit(1)).as("f_cnt"),
        coalesce(sum((col(value).cast(s"decimal(18,$scale)") * unit).cast("long")),
          lit(0L)).as("m_fp"))
    val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // recency: fewer days since the corpus max ⇒ better ⇒ DESC puts the
    // stale keys in tile 1 and the freshest in tile `quantiles`
    val rW = Window.orderBy(col("r_days").desc, col(key))
    val fW = Window.orderBy(col("f_cnt"), col(key))
    val mW = Window.orderBy(col("m_fp"), col(key))
    byKey
      .withColumn("r_days",
        ((max(col("__last")).over(allW) - col("__last")) / lit(86400000000L))
          .cast("long"))
      .withColumn("r_q", ntile(quantiles).over(rW))
      .withColumn("f_q", ntile(quantiles).over(fW))
      .withColumn("m_q", ntile(quantiles).over(mW))
      .select(col(key), col("r_days"), col("f_cnt"), col("m_fp"),
        col("r_q").cast("long").as("r_q"), col("f_q").cast("long").as("f_q"),
        col("m_q").cast("long").as("m_q"),
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("long").as("segment"))
  }

  /** MARKOV TRANSITION MATRIX — the first-order behavior model every
    * sessionized event stream gets summarized into (next-action
    * prediction, anomaly scoring, funnel design): per group, consecutive
    * state pairs in `seq` order, counted into (from_state, to_state)
    * cells with integral ppm transition shares. One window per group
    * (the [[cusumAlarms]] sort) plus one cell-grain aggregation; output
    * is |states|² rows max, never event grain. Ppm uses integral `div`
    * (exact int64 counts both engines); a state's LAST event per group
    * has no successor and contributes nothing. */
  def transitionMatrix(df: DataFrame, group: String, seq: Seq[String],
                       state: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group)).orderBy(seq.map(col): _*)
    val from = Window.partitionBy(col("from_state"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.filter(col(state).isNotNull)
      .select(col(group), col(state).as("from_state"),
        lead(col(state), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__ft", sum(col("n")).over(from))
      .withColumn("p_ppm", expr("(n * 1000000L) div __ft"))
      .select(col("from_state"), col("to_state"), col("n"), col("p_ppm"))
  }

  /** WELCH'S T-TEST — the unequal-variance two-sample comparison behind
    * every A/B readout: t = (μ_a − μ_b)/√(s²_a/n_a + s²_b/n_b) with the
    * Welch–Satterthwaite degrees of freedom. Moments come from exact
    * DECIMAL sums (the [[pearson]] construction: order-independent,
    * partitioning-independent); the final statistic is one fixed
    * double-operand chain rounded to 6 places. One grouped aggregation +
    * a 2-row pivot — group grain, never row grain. Output one row:
    * (n_a, n_b, mean_a, mean_b, t_stat, welch_df). */
  def welchTTest(df: DataFrame, label: String, value: String,
                 a: String, b: String, scale: Int = 4): DataFrame = {
    val dv = col(value).cast(s"decimal(18,$scale)")
    val m = df.filter(col(value).isNotNull && col(label).isin(a, b))
      .groupBy(col(label))
      .agg(count(lit(1)).as("__n"),
        sum(dv).cast("double").as("__sx"),
        sum(dv * dv).cast("double").as("__sxx"))
    def side(l: String, suf: String) = m.filter(col(label) === l)
      .select(col("__n").as(s"n_$suf"), col("__sx").as(s"sx_$suf"),
        col("__sxx").as(s"sxx_$suf"))
    def nD(s: String) = col(s"n_$s").cast("double")
    def mean(s: String) = col(s"sx_$s") / nD(s)
    // sample variance from exact sums: (sxx − sx²/n)/(n−1)
    def va(s: String) =
      (col(s"sxx_$s") - col(s"sx_$s") * col(s"sx_$s") / nD(s)) / (nD(s) - lit(1.0))
    val se2a = va("a") / nD("a")
    val se2b = va("b") / nD("b")
    val t = (mean("a") - mean("b")) / sqrt(se2a + se2b)
    val dof = (se2a + se2b) * (se2a + se2b) /
      (se2a * se2a / (nD("a") - lit(1.0)) + se2b * se2b / (nD("b") - lit(1.0)))
    side(a, "a").crossJoin(side(b, "b"))
      .select(col("n_a"), col("n_b"),
        round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
        when(col("n_a") > 1 && col("n_b") > 1, round(t, 6)).as("t_stat"),
        when(col("n_a") > 1 && col("n_b") > 1, round(dof, 6)).as("welch_df"))
  }

  /** JOIN-SIZE ESTIMATE — the planner statistic a 100 TB engine computes
    * BEFORE committing to a join strategy: the exact output cardinality
    * of `a ⋈ b` on `key` is Σ_k cnt_a(k)·cnt_b(k), computable from two
    * key-grain aggregations and a key-grain join — it shuffles COUNT
    * rows, never fact rows, so it costs a vanishing fraction of the join
    * it sizes. Alongside the total it reports the key-frequency shape a
    * skew decision needs: distinct keys per side, common keys, and the
    * single worst key with its contribution (ties → smallest key — the
    * [[skewReport]] determinism rule). `skew_ppm` = worst key's share of
    * the output in parts-per-million (integer-exact: both operands are
    * exact int64 counts; the division result is floored).
    *
    * One summary row out: (est_rows, n_keys_left, n_keys_right,
    * n_keys_common, max_key, max_contrib, skew_ppm). */
  def joinSizeEstimate(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val ca = a.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("__ca"))
    val cb = b.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("__cb"))
    val contrib = ca.join(cb, key)
      .select(col(key), (col("__ca") * col("__cb")).as("__contrib"))
    val tot = contrib.agg(
      coalesce(sum(col("__contrib")), lit(0L)).as("est_rows"),
      count(lit(1)).as("n_keys_common"))
    val top = contrib.orderBy(col("__contrib").desc, col(key)).limit(1)
      .select(col(key).as("max_key"), col("__contrib").as("max_contrib"))
    tot
      .crossJoin(ca.agg(count(lit(1)).as("n_keys_left")))
      .crossJoin(cb.agg(count(lit(1)).as("n_keys_right")))
      // LEFT against the ≤1-row top frame: with NO common key, contrib is
      // empty and a crossJoin would annihilate the summary row — the
      // disjoint-keys answer is (est_rows=0, max_key/max_contrib null)
      .join(top, lit(true), "left")
      .select(col("est_rows"), col("n_keys_left"), col("n_keys_right"),
        col("n_keys_common"), col("max_key"), col("max_contrib"),
        // integral div on both engines (Spark `div` ≡ DuckDB `//` for
        // nonnegative counts) — no double rounding in the gate
        when(col("est_rows") > 0,
          expr("(max_contrib * 1000000L) div est_rows"))
          .otherwise(lit(0L)).as("skew_ppm"))
  }

  /** χ² TEST OF INDEPENDENCE between two categorical columns — the
    * data-quality question behind every stratified decision ("is language
    * confounded with source?"): χ² = Σ_cells (o − e)²/e with
    * e = rowTotal·colTotal/N. Exact-by-construction cross-row arithmetic:
    * every count is an exact int64, each cell's term is ONE fixed
    * double-operand chain rounded to 9 places, and the cell terms sum as
    * DECIMAL(28,9) — associative, partitioning-independent. Cells are
    * ≤ |c1|·|c2| rows (category grain, never row grain), so the plan is
    * one joint aggregation plus two broadcast marginal joins.
    *
    * ZERO cells (combinations never observed) contribute (0−e)²/e = e
    * each but never appear in the joint aggregate, so the sum uses the
    * identity Σ_all (o−e)²/e = N + Σ_observed ((o−e)²/e − e)
    * (Σ_all e = N) — no sparse-cell materialization, no |c1|×|c2|
    * cross join. A tiny negative from per-cell rounding is floored at 0
    * before the √ in Cramér's V.
    *
    * One row out: (n, n_c1, n_c2, dof, chi2, cramers_v) — Cramér's V
    * normalizes χ² to [0,1] for a scale-free association strength. */
  def chiSquareIndependence(df: DataFrame, c1: String, c2: String): DataFrame = {
    val rows = df.filter(col(c1).isNotNull && col(c2).isNotNull)
    val joint = rows.groupBy(col(c1), col(c2)).agg(count(lit(1)).as("__o"))
    val m1 = rows.groupBy(col(c1)).agg(count(lit(1)).as("__r"))
    val m2 = rows.groupBy(col(c2)).agg(count(lit(1)).as("__c"))
    val n = rows.agg(count(lit(1)).as("__n"))
    val e = col("__r").cast("double") * col("__c").cast("double") /
      col("__n").cast("double")
    val term = (col("__o").cast("double") - e) * (col("__o").cast("double") - e) / e - e
    val cells = joint.join(broadcast(m1), c1).join(broadcast(m2), c2)
      .crossJoin(broadcast(n))
      .select(round(term, 9).cast("decimal(28,9)").as("__t"), col("__n"))
    val k1 = m1.agg(count(lit(1)).as("n_c1"))
    val k2 = m2.agg(count(lit(1)).as("n_c2"))
    val chi2 = greatest(lit(0.0),
      col("n").cast("double") + col("__chi2d").cast("double"))
    cells.groupBy(col("__n").as("n"))
      .agg(sum(col("__t")).as("__chi2d"))
      .crossJoin(broadcast(k1)).crossJoin(broadcast(k2))
      .select(col("n"), col("n_c1"), col("n_c2"),
        ((col("n_c1") - 1) * (col("n_c2") - 1)).as("dof"),
        round(chi2, 6).as("chi2"),
        when(col("n") > 0 && least(col("n_c1"), col("n_c2")) > 1,
          round(sqrt(chi2 /
            (col("n").cast("double") *
              (least(col("n_c1"), col("n_c2")) - 1).cast("double"))), 6))
          .as("cramers_v"))
  }

  /** MULTI-CLASS CLASSIFICATION REPORT — the per-class companion to the
    * binary [[auc]]/[[prCurve]] eval pair: confusion-derived counts and
    * precision / recall / F1 per class, plus overall accuracy, for any
    * (actual, predicted) labeling (language-ID audits, quality-band
    * models, routing classifiers). One row per class in the UNION of
    * actual and predicted label sets (a class the model never predicts
    * still reports recall; a hallucinated class still reports
    * precision).
    *
    * Plan: ONE (actual, predicted) cell aggregation, then every join
    * and window runs at CLASS grain (broadcast-small at any corpus
    * size). Counts are exact longs (`fp = n_pred − tp`,
    * `fn = n_actual − tp`); the three ratios and accuracy are mirrored
    * double chains, round(6), null on empty denominators (never NaN).
    * Rows with a null ACTUAL label are excluded on both engines — an
    * unlabeled row can't be scored (the q_clf_auc null-alignment
    * lesson). A null PREDICTED label (an abstaining model) is a MISS:
    * the row counts toward its actual class's n_actual and fn — and
    * into the accuracy denominator — but toward no predicted class,
    * and null never becomes a class row (ADVICE r16: silently dropping
    * abstentions inflated recall/accuracy for the abstained classes;
    * callers that want abstention as a class map it to a sentinel like
    * 'und' upstream — [[graft.operators.TextAnalysis.langId]] does).
    * Output: (cls, n_actual, n_pred, tp, fp, fn, precision, recall,
    * f1, accuracy), accuracy constant across rows. */
  def classificationReport(df: DataFrame, actual: Column,
                           predicted: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = df.select(actual.as("__a"), predicted.as("__p"))
      .filter(col("__a").isNotNull)
    val cells = r.groupBy(col("__a"), col("__p")).agg(count(lit(1)).as("__n"))
    val classes = cells.select(col("__a").as("cls"))
      .union(cells.select(col("__p").as("cls")).filter(col("cls").isNotNull))
      .distinct()
    val act = cells.groupBy(col("__a").as("cls")).agg(sum(col("__n")).as("__na"))
    val prd = cells.groupBy(col("__p").as("cls")).agg(sum(col("__n")).as("__np"))
    val tp = cells.filter(col("__a") === col("__p"))
      .select(col("__a").as("cls"), col("__n").as("__tp"))
    val j = classes
      .join(broadcast(act), Seq("cls"), "left")
      .join(broadcast(prd), Seq("cls"), "left")
      .join(broadcast(tp), Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("__na"), lit(0L)).as("n_actual"),
        coalesce(col("__np"), lit(0L)).as("n_pred"),
        coalesce(col("__tp"), lit(0L)).as("tp"))
    val all = Window.partitionBy()
    def d(c: Column) = c.cast("double")
    j.select(col("cls"), col("n_actual"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_actual") - col("tp")).as("fn"),
        when(col("n_pred") > 0,
          round(d(col("tp")) / d(col("n_pred")), 6)).as("precision"),
        when(col("n_actual") > 0,
          round(d(col("tp")) / d(col("n_actual")), 6)).as("recall"),
        when(col("n_actual") + col("n_pred") > 0,
          round(d(lit(2L) * col("tp")) / d(col("n_actual") + col("n_pred")), 6))
          .as("f1"),
        when(sum(col("n_actual")).over(all) > 0,
          round(d(sum(col("tp")).over(all)) / d(sum(col("n_actual")).over(all)), 6))
          .as("accuracy"))
  }

  /** MUTUAL INFORMATION (nats) + normalized MI between two categorical
    * columns — the feature-selection measure beside
    * [[chiSquareIndependence]]'s significance test: HOW MANY BITS does
    * knowing one feature buy about the other (is `source` informative
    * of `lang`? is a metadata field worth keeping as a training
    * feature?). I(X;Y) = Σ_cells p(x,y)·ln(p(x,y)/(p(x)p(y))), and
    * NMI = I/√(H(X)·H(Y)) ∈ [0,1] for the scale-free comparison across
    * feature pairs.
    *
    * Plan: ONE cell aggregation, marginals re-aggregated FROM the cells
    * (category grain, never a second corpus pass), every join
    * broadcast at category grain, zero windows. Counts are exact
    * longs; each cell/marginal term is a mirrored double chain over
    * exact integers rounded to 9 places and DECIMAL-summed (the
    * [[chiSquareIndependence]] discipline); mi/nmi are final mirrored
    * chains, round(6). A single-category side has zero entropy: nmi
    * null (never NaN), mi 0. Output: ONE row (n, n_c1, n_c2, mi,
    * nmi). */
  def mutualInformation(df: DataFrame, c1: Column, c2: Column): DataFrame = {
    val r = df.select(c1.as("__x"), c2.as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val cells = r.groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__nxy"))
    val mx = cells.groupBy(col("__x")).agg(sum(col("__nxy")).as("__nx"))
    val my = cells.groupBy(col("__y")).agg(sum(col("__nxy")).as("__ny"))
    val nRow = cells.agg(coalesce(sum(col("__nxy")), lit(0L)).as("n"))
    def d(c: String) = col(c).cast("double")
    val zero = lit(0).cast("decimal(20,9)")
    val miTerm = (d("__nxy") / d("n")) *
      log((d("__nxy") * d("n")) / (d("__nx") * d("__ny")))
    val mi = cells.join(broadcast(mx), "__x").join(broadcast(my), "__y")
      .crossJoin(broadcast(nRow))
      .agg(coalesce(sum(round(miTerm, 9).cast("decimal(20,9)")), zero).as("__mi"))
    def entropy(m: DataFrame, cnt: String, out: String) = {
      val t = -(d(cnt) / d("n")) * log(d(cnt) / d("n"))
      m.crossJoin(broadcast(nRow))
        .agg(coalesce(sum(round(t, 9).cast("decimal(20,9)")), zero).as(out))
    }
    val miD = col("__mi").cast("double")
    val h1D = col("__h1").cast("double")
    val h2D = col("__h2").cast("double")
    nRow
      .crossJoin(broadcast(mx.agg(count(lit(1)).as("n_c1"))))
      .crossJoin(broadcast(my.agg(count(lit(1)).as("n_c2"))))
      .crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropy(mx, "__nx", "__h1")))
      .crossJoin(broadcast(entropy(my, "__ny", "__h2")))
      .select(col("n"), col("n_c1"), col("n_c2"),
        round(miD, 6).as("mi"),
        when(h1D > 0.0 && h2D > 0.0,
          round(miD / sqrt(h1D * h2D), 6)).as("nmi"))
  }

  /** COHEN'S κ — chance-corrected agreement between two labelings of
    * the same rows: the label-QUALITY statistic behind every annotation
    * audit (two annotators, annotator vs model, model vs weak rule),
    * where raw accuracy flatters agreement that class imbalance alone
    * would produce. κ = (p_o − p_e)/(1 − p_e) with p_o = observed
    * agreement and p_e = Σ_c marginal_a(c)·marginal_b(c)/n² — the
    * agreement two independent raters with these marginals would reach
    * by chance.
    *
    * Same plan skeleton as [[classificationReport]] (one cell
    * aggregation, then class-grain everything): p_o's numerator is an
    * exact long, p_e's is an exact DECIMAL(38,0) Σ n_a·n_b over the
    * classes BOTH raters use (a class only one rater uses contributes
    * zero), and κ is one mirrored double chain, round(6) — null when
    * p_e = 1 (degenerate single-class marginals), never NaN. Output:
    * ONE row (n, po, pe, kappa). */
  def cohenKappa(df: DataFrame, r1: Column, r2: Column): DataFrame = {
    val r = df.select(r1.as("__a"), r2.as("__p"))
      .filter(col("__a").isNotNull && col("__p").isNotNull)
    val cells = r.groupBy(col("__a"), col("__p")).agg(count(lit(1)).as("__n"))
    val act = cells.groupBy(col("__a").as("cls")).agg(sum(col("__n")).as("__na"))
    val prd = cells.groupBy(col("__p").as("cls")).agg(sum(col("__n")).as("__np"))
    val tot = cells.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n"),
      coalesce(sum(when(col("__a") === col("__p"), col("__n"))
        .otherwise(lit(0L))), lit(0L)).as("__agree"))
    val peNum = act.join(prd, "cls")
      .agg(coalesce(sum(col("__na").cast("decimal(38,0)") * col("__np")),
        lit(0L).cast("decimal(38,0)")).as("__pe_num"))
    def d(c: Column) = c.cast("double")
    val po = d(col("__agree")) / d(col("n"))
    val pe = d(col("__pe_num")) / (d(col("n")) * d(col("n")))
    tot.crossJoin(broadcast(peNum))
      .select(col("n"),
        when(col("n") > 0, round(po, 6)).as("po"),
        when(col("n") > 0, round(pe, 6)).as("pe"),
        when(col("n") > 0 && pe < 1.0,
          round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** SPEARMAN RANK CORRELATION with ties (midranks), exact to the final
    * division — the monotone-association companion to
    * [[chiSquareIndependence]]: does one BOUNDED-CARDINALITY feature
    * rank-track another (quantity vs discount, quality band vs source,
    * score bucket vs engagement tier)? Spearman ρ = Pearson over
    * midranks, and with ties every computation collapses to the
    * DISTINCT-VALUE grain:
    *
    *  - cell counts (x, y, w) — one aggregation, |X|·|Y| cells max;
    *  - per-value DOUBLED midranks `r2 = 2·below + count + 1` (the
    *    [[auc]] identity) from a window over each marginal's distinct
    *    values — exact integers, no division;
    *  - weighted moment sums over the cells in DECIMAL(38,0) (bounded by
    *    n·(2n+1)² — exact to n ≈ 10¹², far past any single correlation's
    *    input); the doubling cancels between numerator and denominator
    *    (both scale by 4), so ρ needs no correction.
    *
    * Only the final ρ is floating point: a mirrored double chain over
    * the six exact sums, round(6). Both marginal windows run at
    * distinct-value grain — the [[auc]]/[[ksTest]] bounded-cardinality
    * window contract: callers quantize continuous features first.
    * Output: ONE row (n, n_x, n_y, rho); single-class/degenerate inputs
    * yield null rho, never NaN. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(x.cast("long").as("__x"), y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val cells = rows.groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__w"))
    // marginals re-aggregate the CELLS (|X|·|Y| rows), never the corpus —
    // the classificationReport discipline (Σ cell counts per value ≡ the
    // direct marginal count exactly); the cells subtree appears three
    // times in the one plan and its corpus-grain exchange is REUSED
    // (ReusedExchange), so the input is scanned and shuffled once
    def midranks(c: String, r2: String) = {
      val below = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      cells.groupBy(col(c)).agg(sum(col("__w")).as("__c"))
        .withColumn(r2,
          lit(2L) * coalesce(sum(col("__c")).over(below), lit(0L)) + col("__c") + 1L)
        .drop("__c")
    }
    val rx = midranks("__x", "__r2x")
    val ry = midranks("__y", "__r2y")
    val wD = col("__w").cast("decimal(38,0)")
    val agg = cells.join(broadcast(rx), "__x").join(broadcast(ry), "__y")
      .agg(sum(col("__w")).as("n"),
        sum(wD * col("__r2x")).as("__sx"), sum(wD * col("__r2y")).as("__sy"),
        sum(wD * col("__r2x") * col("__r2y")).as("__sxy"),
        sum(wD * col("__r2x") * col("__r2x")).as("__sxx"),
        sum(wD * col("__r2y") * col("__r2y")).as("__syy"))
    def d(c: String) = col(c).cast("double")
    val varx = d("n") * d("__sxx") - d("__sx") * d("__sx")
    val vary = d("n") * d("__syy") - d("__sy") * d("__sy")
    agg
      .crossJoin(broadcast(rx.agg(count(lit(1)).as("n_x"))))
      .crossJoin(broadcast(ry.agg(count(lit(1)).as("n_y"))))
      .select(coalesce(col("n"), lit(0L)).as("n"), col("n_x"), col("n_y"),
        when(varx > 0.0 && vary > 0.0,
          round((d("n") * d("__sxy") - d("__sx") * d("__sy")) /
            (sqrt(varx) * sqrt(vary)), 6)).as("rho"))
  }

  /** EXPONENTIALLY-WEIGHTED MOVING AVERAGE, exact fixed-point — the
    * smoother behind per-key health baselines (alert thresholds, rate
    * limiters, drift baselines) where [[rollingZscore]]'s flat window
    * forgets too abruptly. Per group, over the `seq`-ordered series:
    * `s₁ = x₁`, `sᵢ = sᵢ₋₁ + ((xᵢ − sᵢ₋₁) >> alphaShift)` — i.e.
    * α = 2^−alphaShift with the division as an ARITHMETIC SHIFT, so every
    * state is an exact int64 in 10^scale fixed-point units and the whole
    * recursion is bit-identical in any engine (both Spark's `shiftright`
    * and DuckDB's `>>` floor; integer `/` would truncate-vs-floor drift on
    * negative deviations).
    *
    * The recursion is inherently sequential per key, so it runs as ONE
    * fold over the group's sorted observation array —
    * `aggregate(slice(xs, 2, …), xs[1], …)` here, `list_reduce` in the
    * oracle (both fold left with the first element as init). Per-group
    * state is the group's own series (events-per-key grain, the
    * [[graft.operators.EngagementAggregator]] contract) — bounded by key
    * cardinality design upstream, never by corpus size.
    *
    * Returns (group, n_obs, ewma_fp, ewma): the final smoothed level per
    * group in fixed-point and as a rounded double. */
  def ewmaSmooth(series: DataFrame, group: String, seq: Seq[String], x: String,
                 alphaShift: Int = 2, scale: Int = 4): DataFrame = {
    require(alphaShift >= 1 && alphaShift <= 32,
      s"alphaShift must be in [1, 32], got $alphaShift")
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6], got $scale")
    val unit = math.pow(10, scale).toLong
    fixedPointSeries(series, group, seq, x, scale)
      .select(col(group),
        size(col("__xs")).cast("long").as("n_obs"),
        aggregate(
          slice(col("__xs"), lit(2), greatest(size(col("__xs")) - 1, lit(0))),
          element_at(col("__xs"), 1),
          (acc, v) => acc + shiftright(v - acc, alphaShift)).as("ewma_fp"))
      .withColumn("ewma",
        round(col("ewma_fp").cast("double") / unit.toDouble, scale))
  }

  /** Per group, the non-null `x` values in `seq` order as one array
    * `__xs` of int64s in 10^scale fixed-point units (`x` cast to
    * decimal(18,scale) first, so the quantization is exact): (group,
    * __xs). The one series builder behind [[ewmaSmooth]] and the ewma and
    * cusum sinks of [[graft.streaming.Streaming]], so a sink folding batch
    * by batch folds exactly the series this operator folds at once. */
  private[graft] def fixedPointSeries(df: DataFrame, group: String, seq: Seq[String],
                                      x: String, scale: Int): DataFrame = {
    val xq = (col(x).cast(s"decimal(18,$scale)") * math.pow(10, scale).toLong).cast("long")
    df.filter(col(x).isNotNull)
      .select(col(group), struct(seq.map(col) :+ xq.as("__xq"): _*).as("__e"))
      .groupBy(col(group))
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .select(col(group), transform(col("__es"), v => v.getField("__xq")).as("__xs"))
  }

  /** `v` as an int64 in 10^scale fixed-point units, rounded half-up: the
    * literal side of the fixed-point arithmetic of [[cusumTwoSided]] and
    * the cusum sink. Throws when the result does not fit a long. */
  private[graft] def fixedPoint(v: Double, scale: Int): Long =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  /** PRECISION-RECALL CURVE of a scored, labeled frame — the threshold
    * calibration step between training a quality classifier and wiring
    * its cutoff into a corpus gate (every deployed fastText-style filter
    * publishes exactly this sweep). One row PER DISTINCT SCORE t:
    * counts of the `score >= t` decision (tp/fp/fn), precision, recall,
    * and F1 (computed directly as 2·tp/(2·tp+fp+fn) from the exact
    * integer counts — never from the rounded p/r).
    *
    * The full curve costs ONE aggregation keyed by score plus a window
    * over the DISTINCT-SCORE rows — bins, not rows (the
    * [[graft.operators.Ops.histogramQuantiles]] contract): cumulative
    * tp/fp at score t ≡ counts above threshold because the window runs
    * score-descending. The single-partition window is bounded by the
    * score domain (the fixed-point classifier emits ≤ FP+1 distinct
    * values), never by the corpus. */
  /** ROC AUC, exact, by the Mann–Whitney midrank identity — the
    * single-number companion to [[prCurve]]'s threshold sweep:
    * AUC = (Σ_pos midrank − n₊(n₊+1)/2) / (n₊·n₋), ties at equal scores
    * taking the average rank. Computed at the DISTINCT-SCORE grain (the
    * [[prCurve]]/ksTest window contract — bounded by score cardinality,
    * never row grain): per score, a strictly-below cumulative count
    * gives the doubled midrank `r2 = 2·below + n + 1` as an exact
    * integer, positives contribute n₊(s)·r2, and only the final
    * division is a rounded double. Degenerate single-class inputs
    * yield null AUC, never NaN ([[ksTest]]'s guard). One row out:
    * (n_pos, n_neg, auc). */
  def auc(scored: DataFrame, score: String, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val below = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    scored.filter(col(score).isNotNull && label.isNotNull)
      .groupBy(col(score).as("s"))
      .agg(count(lit(1)).as("n"), sum(when(label, 1L).otherwise(0L)).as("np"))
      .withColumn("r2",
        lit(2L) * coalesce(sum(col("n")).over(below), lit(0L)) + col("n") + 1L)
      .agg(sum(col("np")).as("n_pos"), sum(col("n") - col("np")).as("n_neg"),
        sum(col("np").cast("decimal(19,0)") * col("r2")).as("__rp2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("__rp2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")),
            6)).as("auc"))
  }

  /** RELIABILITY DIAGRAM + EXPECTED CALIBRATION ERROR — the third leg of
    * the classifier-eval family beside [[prCurve]] (threshold choice)
    * and [[auc]] (ranking): does the score MEAN what it says? Per
    * equal-width probability bin over the FIXED-POINT score: count,
    * positives, mean predicted probability (`confidence`, exact integer
    * score sum over n·fpUnit), empirical positive rate (`accuracy`),
    * the bin's weighted |gap|, and ECE = Σ_b (n_b/N)·|acc_b − conf_b|
    * as a window total over the ≤ `bins` rows (the
    * [[graft.operators.TextAnalysis.jsDivergence]] DECIMAL-sum
    * discipline). A quality gate wired at "score ≥ 0.8" silently
    * drifts if 0.8 means 60% — this row is the audit that catches it.
    *
    * Everything before the final ratios is exact integer arithmetic
    * (binning is a nonnegative integer division — `div` ≡ `//` across
    * engines on nonnegatives); the bin grain bounds every window. NULL
    * labels count as negatives (the [[prCurve]] convention — pass a
    * null-safe label). Output: (bin, n, n_pos, confidence, accuracy,
    * gap_term, ece), one row per OCCUPIED bin, ece constant. */
  def calibration(scored: DataFrame, score: String, label: Column,
                  fpUnit: Long, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2 && fpUnit >= 1, s"need bins >= 2, fpUnit >= 1")
    val binned = scored.filter(col(score).isNotNull)
      .select(least(expr(s"($score * $bins) div $fpUnit"), lit(bins - 1L))
          .cast("long").as("bin"),
        col(score).as("__fp"),
        when(label, 1L).otherwise(0L).as("__y"))
    val agg = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__fp")).as("__sfp"))
    val all = Window.partitionBy()
    val conf = col("__sfp").cast("double") /
      (col("n").cast("double") * lit(fpUnit.toDouble))
    val acc = col("n_pos").cast("double") / col("n").cast("double")
    agg.select(col("bin"), col("n"), col("n_pos"),
        round(conf, 6).as("confidence"), round(acc, 6).as("accuracy"),
        round(abs(acc - conf) *
          (col("n").cast("double") / sum(col("n")).over(all).cast("double")), 9)
          .as("gap_term"))
      .withColumn("ece",
        round(sum(col("gap_term").cast("decimal(20,9)")).over(all)
          .cast("double"), 6))
  }

  def prCurve(scored: DataFrame, score: String, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("thr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .groupBy(col(score).as("thr"))
      .agg(sum(when(label, 1L).otherwise(0L)).as("__pos"),
        sum(when(label, 0L).otherwise(1L)).as("__neg"))
      .withColumn("tp", sum(col("__pos")).over(w))
      .withColumn("fp", sum(col("__neg")).over(w))
      .withColumn("fn", sum(col("__pos")).over(all) - col("tp"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6)).as("recall"),
        round((lit(2L) * col("tp")).cast("double")
          / (lit(2L) * col("tp") + col("fp") + col("fn")), 6).as("f1"))
  }
}
