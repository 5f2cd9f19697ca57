package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a hash-groupBy — one shuffle on a 16-byte fingerprint,
  *    map-side combined.
  *  - Pair generation joins on *shingles*, which is exact candidate
  *    generation (Jaccard > 0 ⇔ at least one shared shingle) — but the join
  *    fan-out is quadratic in the hottest shingle. At corpus scale the LSH
  *    path bounds that: signatures are fixed-width (numHashes longs/doc), the
  *    band join keys are uniform hashes, and the exact verify runs only on
  *    candidate pairs via set intersection of their shingle sets.
  *  - All hashing is built-in (md5 / xxhash64) → whole-stage codegen; no UDFs.
  */
object Dedup {

  /** The shingle-set arithmetic as a built-in column chain — KEPT ONLY as
    * the parity reference for [[graft.plans.ShingleSet]] (the spec
    * property-checks the native expression against this form on
    * whitespace-adversarial inputs). Production paths use the native
    * expression: this chain's higher-order functions are CodegenFallback
    * and cost ~0.6 ms/document — it was the dominant cost of the whole
    * near-dup family at sf0.1. */
  private[graft] def shingleSetHof(text: Column, n: Int): Column = {
    val w = split(trim(text), "\\s+")
    array_distinct(
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Distinct word n-gram shingle set straight from a raw text column —
    * the ONE shingling every near-dup path shares ([[shingles]],
    * [[shingleArray]] and the streaming sink's scan projection all route
    * here, so the forms can never drift). Backed by the codegen'd
    * [[graft.plans.ShingleSet]] expression. */
  def shingleSet(text: Column, n: Int): Column = {
    // Column → Expression plumbing goes through the function registry
    // (the same seam the SQL surface uses); registration is idempotent
    call_function("shingle_set", text, lit(n))
  }

  /** Distinct word n-gram shingles, one row per (id, shingle).
    * Tokenization is `split(trim(text), "\s+")` — mirrored exactly by the
    * DuckDB oracle's `string_split_regex`.
    *
    * The generator child is deliberately the INLINE expression, not an
    * attribute from a lower projection: `InferFiltersFromGenerate` only
    * fires on attribute children, and the `size(e) > 0 AND isnotnull(e)`
    * it infers gets substituted through the projection by predicate
    * pushdown — re-evaluating the shingle expression extra times per row
    * (it mattered at ~0.6 ms/doc for the old HOF chain; the native
    * expression keeps the same inline shape on principle). */
  def shingles(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    // (r18: an Ops.fanOutNarrowScan here was measured NOT better — the
    // family's cost is the downstream joins/aggregations, not the
    // scan-stage shingle build, and the extra exchange+planning lost
    // 0.1-0.4 s per query; reverted)
    df.select(col(id), explode(shingleSet(col(text), n)).as("shingle"))
  }

  /** Distinct word n-gram shingles as ONE array column per document —
    * scan-stage compute, no explode, no shuffle. A document shorter than n
    * words gets an empty array. Feed this to projections (e.g.
    * [[minHashSignaturesArr]]); for exploded consumers use [[shingles]]. */
  def shingleArray(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(id), shingleSet(col(text), n).as("sh_set"))
  }

  /** Exact dedup: fingerprint = md5 of case/whitespace-normalized text;
    * keep the smallest id per group (deterministic survivor). */
  def exactDedup(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(lower(trim(col(text)))).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).
    * Shared-shingle join = exhaustive candidate generation; per-pair Jaccard
    * from |A∩B| (join count) and |A|,|B| (per-doc shingle counts). */
  def jaccardPairs(sh: DataFrame, id: String, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(id).as("doc_a"), col("shingle"))
    val b = sh.select(col(id).as("doc_b"), col("shingle"))
    val inter = a.join(b, "shingle").filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(id).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(id).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Positioned k-token window hashes of one document over a staged
    * word-array column `w`: one (pos, md5-of-window) struct per sliding
    * window, 1-based positions — UNLIKE [[shingleSet]] this keeps every
    * occurrence and its position (span recovery needs both; distinctness
    * would merge repeated boilerplate into one anonymous shingle). */
  private def windowHashesOf(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(1), size(w) - (k - 1)),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(w, i, lit(k)))).as("h"))))
      .otherwise(array().cast("array<struct<pos:bigint,h:string>>"))

  /** EXACT-SUBSTRING shared spans across documents — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") span-
    * grain recipe, reference-free: find every maximal run of ≥ k tokens
    * that two documents share VERBATIM. Finer than [[Corpus.paragraphDedup]]
    * (whole-paragraph fingerprints) and orthogonal to the shingle-set
    * families (which measure set overlap, not contiguous spans) — this is
    * the published-standard curation step for verbatim cross-document
    * contamination (license boilerplate, quoted chunks, eval-set leakage).
    *
    * Construction (no suffix array needed): every k-token sliding window
    * hashes to 16 bytes (md5 — mirrorable by the SQL oracle, unlike
    * xxhash64) WITH its position; a self-equi-join on the hash finds all
    * shared windows; runs of consecutive matches merge into maximal spans
    * by the gaps-and-islands trick on each (doc_a, doc_b, pa−pb) diagonal
    * (island id = pa − row_number, one window shuffle). Two spans ≥ k
    * tokens overlap iff they share a k-window, so recall is exact; md5
    * collisions (2⁻¹²⁸) are the only false-positive source.
    *
    * Scale shape: tokenize + window-hash is scan-stage per-row work; the
    * join shuffles (hash, pos) rows — ~tokens-per-corpus rows of 30
    * bytes; fan-out is quadratic ONLY in documents sharing the same
    * window (true duplicates — the thing being hunted; a boilerplate
    * window shared by millions of docs needs the hot-key guard of the
    * banded families — cap or drop windows above a document-frequency
    * ceiling before the join at that scale). The islands window
    * partitions by (doc pair, diagonal) — bounded by matched windows, not
    * corpus size.
    *
    * Output: (doc_a, doc_b, a_start, b_start, len_tokens), 1-based token
    * positions, doc_a < doc_b, one row per maximal shared span. */
  def substringSpans(df: DataFrame, id: String, text: String, k: Int,
                     maxDocFreq: Option[Int] = None,
                     winsCacheKey: Option[String] = None): DataFrame = {
    require(k >= 2, s"substringSpans: need window k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    // `winsCacheKey` memoizes the MATERIALIZED (id, pos, hash) window
    // table per corpus ([[Scale.memo]]): tokenize + k-token window
    // hashing is the expensive half of the scan stage, every spans/dedup
    // variant over the same corpus consumes the identical table, and the
    // un-capped self-join otherwise computes it once per join side.
    val winsRaw = winsCacheKey match {
      case Some(key) => Scale.memo(key, df.sparkSession)(
        df.select(col(id), split(trim(col(text)), "\\s+").as("w"))
          .select(col(id), explode(windowHashesOf(col("w"), k)).as("ph"))
          .select(col(id), col("ph.pos").as("pos"), col("ph.h").as("h"))
          .localCheckpoint())
      case None =>
        df.select(col(id), split(trim(col(text)), "\\s+").as("w"))
          .select(col(id), explode(windowHashesOf(col("w"), k)).as("ph"))
          .select(col(id), col("ph.pos").as("pos"), col("ph.h").as("h"))
    }
    val wins0 = winsRaw
    // HOT-WINDOW GUARD (the Scaladoc's document-frequency ceiling, as a
    // real parameter): a boilerplate window shared by m documents fans the
    // hash self-join out to m² rows — corpus-wide license headers at 100 TB
    // make that THE dominant cost, and those spans are boilerplate, not the
    // duplication being hunted. With a cap, windows whose DOCUMENT
    // frequency exceeds it are dropped before the join, bounding per-hash
    // fan-out at cap² at the price of missing spans shared by > cap docs
    // (the documented boilerplate-vs-dup tradeoff; purgeBoilerplate is the
    // operator for what this drops). The window list is materialized when
    // capped: BOTH the df aggregate and the semi-join's probe side consume
    // it, and tokenize + k-token window hashing is the expensive half of
    // the scan stage (measured 4.5 s vs 2.6 s at sf0.1 when recomputed).
    // The materialized grain is (id, pos, hash) — the join input a
    // production span-dedup persists anyway.
    val wins = maxDocFreq match {
      case None => wins0
      case Some(cap) =>
        // already materialized when the memo holds it — don't pay twice
        val mat = if (winsCacheKey.isDefined) wins0 else wins0.localCheckpoint()
        val ok = mat.groupBy(col("h"))
          .agg(count_distinct(col(id)).as("__df"))
          .filter(col("__df") <= cap).select(col("h"))
        mat.join(ok, Seq("h"), "left_semi")
    }
    val p = wins.select(col(id).as("doc_a"), col("pos").as("pa"), col("h"))
      .join(wins.select(col(id).as("doc_b"), col("pos").as("pb"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
    val diag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    p.withColumn("diag", col("pa") - col("pb"))
      .withColumn("g", col("pa") - row_number().over(diag))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("g"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (max(col("pa")) - min(col("pa")) + k).as("len_tokens"))
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"),
        col("len_tokens"))
  }

  /** EXACT-SUBSTRING PURGE — the cluster-resolution composition over
    * [[substringSpans]]: documents sharing any verbatim span of at least
    * `minSpanTokens` tokens form edges, [[dupGroups]] resolves connected
    * components, the min-id member of each component survives. The
    * span threshold is the Lee et al. dedup knob (k detects, minSpan
    * decides) — a 50-token license header purges, an 8-token idiom does
    * not, with both visible in the span table. */
  def substringDedup(df: DataFrame, id: String, text: String, k: Int,
                     minSpanTokens: Int,
                     winsCacheKey: Option[String] = None): DataFrame = {
    require(minSpanTokens >= k,
      s"substringDedup: minSpanTokens ($minSpanTokens) must be >= window k ($k)")
    val edges = substringSpans(df, id, text, k, winsCacheKey = winsCacheKey)
      .filter(col("len_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b")).distinct()
    val losers = dupGroups(edges)
      .filter(col("group_id") =!= col("doc_id"))
      .select(col("doc_id").as(id))
    df.join(losers, Seq(id), "left_anti")
  }

  /** PREFIX-FILTERING Jaccard join (the public all-pairs/PPJoin
    * construction, Bayardo et al. WWW'07 / Xiao et al.): the third
    * independent blocking family next to MinHash-LSH (probabilistic) and
    * FastSS (edit-distance) — and unlike LSH it is EXACT by construction:
    * with shingles globally ordered rarest-first, two sets with
    * J(A,B) ≥ t MUST share a token within their first
    * `|s| − ⌈t·|s|⌉ + 1` tokens (the prefix-filter lemma), so the
    * candidate join touches only prefix tokens — and the rarest-first
    * order makes those the LOW-frequency ones, shrinking the join's
    * fan-out exactly where a shared-shingle join explodes (stopword-like
    * shingles land in the suffix and never generate candidates).
    *
    * Plan: shingle → global (freq, shingle) rank via a DISTRIBUTED sort
    * and `monotonically_increasing_id()` — after the range-partitioned
    * sort, partition i holds strictly smaller (freq, shingle) keys than
    * partition i+1 and rows are sorted within, so the (partition << 33 |
    * offset) id is ORDER-ISOMORPHIC to the global total order. The rank
    * VALUES are not contiguous and may differ across runs (sampled range
    * boundaries), but every consumer needs only (a) rank ↔ shingle
    * bijection (intersection counts) and (b) the total order (prefix
    * selection) — both invariant, so the output is identical. Replaces
    * the round-16 `.rdd.zipWithIndex()` form: same sort, minus the
    * RDD round-trip (a codegen boundary + kryo/Java row serialization)
    * and minus zipWithIndex's extra per-partition counting JOB (a
    * `row_number` window over the whole vocabulary would be worse still —
    * a single task sorting a set that grows with the corpus), per-doc sorted rank
    * array (materialized: consumed by the prefix explode and both verify
    * sides), prefix explode + equi-join on the rank, then exact
    * verification on the full rank arrays. Same output contract and same
    * oracle as [[jaccardPairs]] — the gate proves the filter loses no
    * pair.
    *
    * Round 14: the candidate join also applies PPJoin's LENGTH and
    * POSITIONAL filters (Xiao et al.'s ppjoin over the same prefix
    * events). Length: J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|).
    * Positional: when the matching token sits at (0-based) positions
    * (pa, pb), every OTHER common token of a pair first matched here
    * lies after both (the arrays share one global order, so an earlier
    * common token would be an earlier prefix-prefix match), hence
    * |A∩B| ≤ 1 + min(|A|−pa−1, |B|−pb−1) — drop the event when that
    * bound can't reach t/(1+t)·(|A|+|B|). A pair survives if ANY of its
    * matching events survives, and its FIRST event always does for a
    * true pair, so the filter is lossless (spec + shared oracle).
    * Both comparisons carry a 1e-9 keep-side epsilon: an FP tie must
    * keep the candidate, never drop it. Measured (round-14 one-off probe,
    * since removed): on the bench corpus the rarest-first prefix alone is
    * already exact (256 candidates = 256 true pairs — the filters cost
    * nothing and cut nothing); on the adversarial overlapping-window corpus, where every
    * shingle is mid-frequency and the prefix floods, candidates drop
    * 802 321 → 557 250 (length) → 446 139 (positional) against 255 563
    * true pairs — 44% of the verification work removed exactly in the
    * regime that needs it. */
  def prefixJaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                         threshold: Double): DataFrame = {
    val sh = shingles(df, id, text, n).select(col(id).as("doc"), col("shingle"))
    val docs = sh.join(rarestFirstRanks(sh), "shingle")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(col("rk"))).as("rks"))
      .withColumn("sz", size(col("rks")))
      .withColumn("plen", (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))
      .localCheckpoint()
    val pfx = docs.select(col("doc"), col("sz"),
      posexplode(slice(col("rks"), lit(1), col("plen"))).as(Seq("p", "rk")))
    val minOverlapX2t = lit(threshold) * (col("sz_a") + col("sz_b")).cast("double")
    val posBound = (lit(1L) +
      least(col("sz_a") - col("pa") - 1, col("sz_b") - col("pb") - 1).cast("long"))
      .cast("double") * (lit(1.0) + lit(threshold))
    val cand = pfx.select(col("doc").as("doc_a"), col("sz").as("sz_a"),
        col("p").as("pa"), col("rk"))
      .join(pfx.select(col("doc").as("doc_b"), col("sz").as("sz_b"),
        col("p").as("pb"), col("rk")), "rk")
      .filter(col("doc_a") < col("doc_b"))
      // length filter: min ≥ t·max (keep on FP ties — epsilon on the drop side)
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double") - lit(1e-9))
      // positional filter: the overlap bound from this event must reach
      // t/(1+t)·(|A|+|B|); a true pair's FIRST event always passes
      .filter(posBound >= minOverlapX2t - lit(1e-9))
      .select(col("doc_a"), col("doc_b")).distinct()
    val va = docs.select(col("doc").as("doc_a"), col("rks").as("ra"), col("sz").as("sz_a"))
    val vb = docs.select(col("doc").as("doc_b"), col("rks").as("rb"), col("sz").as("sz_b"))
    cand.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("inter", size(array_intersect(col("ra"), col("rb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The rarest-first global shingle order of [[prefixJaccardPairs]] and
    * [[prefixContainmentPairs]]: one (shingle, rk) row per distinct
    * shingle of `sh` (doc, shingle), with rk strictly increasing in
    * (tf, shingle) order. rk comes from `monotonically_increasing_id()`
    * over the range-sorted frame (see [[prefixJaccardPairs]]), which
    * relies on the sort surviving the optimizer and on the id being
    * order-isomorphic to it — neither an API guarantee, so DedupSpec pins
    * the invariant on a multi-partition fixture. */
  private[graft] def rarestFirstRanks(sh: DataFrame): DataFrame =
    sh.groupBy(col("shingle")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf"), col("shingle"))
      .select(col("shingle"), monotonically_increasing_id().as("rk"))

  /** DIRECTED CONTAINMENT pairs — `|A ∩ B| / |A| ≥ t` over n-gram shingle
    * sets: "document A is (nearly) contained in document B". The signal
    * Jaccard structurally misses: a paragraph quoted verbatim inside a
    * much longer document has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0,
    * so no symmetric-similarity dedup ever pairs them — yet it is exactly
    * the partial-copy duplication a training corpus wants found. Output is
    * DIRECTED (doc_a = the contained side, no doc_a < doc_b fold; a
    * mutual near-dup emits both orientations).
    *
    * Exact by the containment form of the prefix-filter lemma: with
    * shingles globally ordered rarest-first, if `|A ∩ B| ≥ ⌈t·|A|⌉` then
    * at least one of A's first `|A| − ⌈t·|A|⌉ + 1` tokens is in B —
    * otherwise the intersection fits inside A's remaining ⌈t·|A|⌉ − 1
    * tokens. So only A-side PREFIX tokens join; the B side must expose
    * all its tokens (containment bounds nothing about |B|), which is the
    * one asymmetry vs [[prefixJaccardPairs]] — the join is
    * prefix × postings, with rarest-first keeping the probed postings
    * short. The prefix length uses floor(t·|A|), not ceil: one token
    * longer when t·|A| is integral, but immune to the FP hazard where
    * `t·sz` rounds UP across an integer and a ceil-based prefix comes out
    * one too SHORT (provably complete: floor_double(t·sz) ≤ ⌈t·sz⌉_real =
    * the minimal qualifying intersection, since t·sz_double ≤ m_min + ulp).
    *
    * Same rarest-first rank ([[rarestFirstRanks]]) as
    * [[prefixJaccardPairs]]; candidates verify on the full rank arrays. */
  def prefixContainmentPairs(df: DataFrame, id: String, text: String, n: Int,
                             threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val sh = shingles(df, id, text, n).select(col(id).as("doc"), col("shingle"))
    val docs = sh.join(rarestFirstRanks(sh), "shingle")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(col("rk"))).as("rks"))
      .withColumn("sz", size(col("rks")))
      .withColumn("plen",
        (col("sz") - floor(lit(threshold) * col("sz")) + 1).cast("int"))
      .localCheckpoint()
    val pfx = docs.select(col("doc"), col("sz"),
      posexplode(slice(col("rks"), lit(1), least(col("plen"), col("sz"))))
        .as(Seq("p", "rk")))
    val all = docs.select(col("doc"), col("sz"),
      posexplode(col("rks")).as(Seq("p", "rk")))
    val cand = pfx.select(col("doc").as("doc_a"), col("sz").as("sz_a"),
        col("p").as("pa"), col("rk"))
      .join(all.select(col("doc").as("doc_b"), col("sz").as("sz_b"),
        col("p").as("pb"), col("rk")), "rk")
      .filter(col("doc_a") =!= col("doc_b"))
      // length filter: |A∩B| ≤ |B|, so containment ≥ t needs |B| ≥ t·|A|
      .filter(col("sz_b").cast("double") >=
        lit(threshold) * col("sz_a").cast("double") - lit(1e-9))
      // positional filter (the ppjoin bound, containment form): a pair's
      // first matching event bounds the overlap by
      // 1 + min(|A|−pa−1, |B|−pb−1), which must reach t·|A|
      .filter((lit(1L) + least(col("sz_a") - col("pa") - 1,
          col("sz_b") - col("pb") - 1).cast("long")).cast("double") >=
        lit(threshold) * col("sz_a").cast("double") - lit(1e-9))
      .select(col("doc_a"), col("doc_b")).distinct()
    val va = docs.select(col("doc").as("doc_a"), col("rks").as("ra"), col("sz").as("sz_a"))
    val vb = docs.select(col("doc").as("doc_b"), col("rks").as("rb"))
    cand.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("inter", size(array_intersect(col("ra"), col("rb"))).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** MinHash signatures: the variable-length shingle is hashed ONCE
    * (xxhash64), then the numHashes permutations re-hash that fixed 8-byte
    * value with the permutation index (`xxhash64(h, i)`) — numHashes
    * fixed-width hashes per shingle instead of numHashes string hashes
    * (~5× on the LSH query; plain `a*h+b` would be cheaper still but long
    * overflow throws under ANSI mode). One shuffle (groupBy id), numHashes
    * min-aggregates, fixed-width output. */
  def minHashSignatures(sh: DataFrame, id: String, numHashes: Int): DataFrame = {
    val hashed = sh.select(col(id), xxhash64(col("shingle")).as("h"))
    val aggs = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    hashed.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
      .select(col(id), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash signatures straight from the shingle-ARRAY frame via the
    * native codegen expression [[graft.plans.MinHashSig]]: the whole
    * signature is one tight generated loop per row — no explode, no
    * aggregation buffers, no shuffle. Bit-identical to
    * [[minHashSignatures]] (same xxhash64 arithmetic), so banding yields
    * the same candidates; the equivalence is spec-asserted. Documents with
    * no shingles drop out (NULL signature), matching the aggregate form
    * where they have no rows. (The null filter here is pushed below the
    * projection and costs a second minhash_sig evaluation per row — fine
    * for direct calls; [[nearDupPairs]] skips it on the hot path and lets
    * NULLs die at the banding explode instead.) */
  def minHashSignaturesArr(arr: DataFrame, id: String, numHashes: Int): DataFrame =
    sigProjection(arr, id, numHashes).filter(col("sig").isNotNull)

  /** The one shared signature projection — both public forms route here so
    * the direct-signature and pair/streaming paths can never drift. */
  private def sigProjection(arr: DataFrame, id: String, numHashes: Int): DataFrame = {
    graft.plans.GraftFunctions.register(arr.sparkSession)
    arr.select(col(id),
      call_function("minhash_sig", col("sh_set"), lit(numHashes)).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rows` values;
    * docs sharing any band key become a candidate pair (deduped). Keys are
    * "band:index-prefixed" strings so bands never collide across indexes.
    * A NULL signature (shingle-less doc from the [[graft.plans.MinHashSig]]
    * path) yields a NULL band array and the row drops out at the explode —
    * the `when` guard also keeps the generator child non-attribute (see
    * [[shingles]] on the generate-inference trap). */
  def lshCandidatePairs(sig: DataFrame, id: String, bands: Int, rows: Int): DataFrame =
    Scale.bandSelfJoin(bandKeys(sig, id, bands, rows), id, "band_key", "doc_a", "doc_b")

  /** MinHash+LSH near-dup pairs with exact verification: candidates from
    * banding, then true Jaccard via a candidate-restricted shingle join —
    * the part of the pipeline that stays cheap at corpus scale.
    * With bands*rows = 128, bands=32: P(miss | j=0.8) ≈ 5e-8, so the output
    * matches the exhaustive [[jaccardPairs]] (and its SQL oracle).
    *
    * The verify stage carries NO per-doc collection state (an earlier
    * `collect_set`-of-shingles version held a whole document's shingle set
    * in one aggregation buffer — unbounded for long documents): intersection
    * size comes from joining the candidate pairs back to the (id, shingle)
    * rows of each side and counting matches, so memory per task stays O(1)
    * per row and the only fan-out is Σ_candidates |shingles(doc_a)|. */
  def minhashDupPairs(sh: DataFrame, id: String, threshold: Double,
                      bands: Int = 32, rows: Int = 4): DataFrame = {
    // candidate pairs are RARE relative to the corpus — that asymmetry is
    // the whole point of LSH — so everything downstream of banding is
    // restricted to candidate docs BEFORE it touches the shingle table:
    // the verify stage shuffles |shingles(candidate docs)|, never the full
    // corpus's shingles (an earlier version joined the full (id, shingle)
    // table twice and re-aggregated full per-doc sizes — ~2× the whole
    // query's cost at sf0.1, and the full-shingle shuffle would dominate
    // at corpus scale). The two small frames are localCheckpoint'ed: each
    // is needed by 2-3 downstream joins, and a checkpoint (bounded by the
    // candidate set, not the corpus) beats re-running the band join /
    // shingle scan per consumer.
    val cand = lshCandidatePairs(minHashSignatures(sh, id, bands * rows), id, bands, rows)
      .localCheckpoint()
    val candDocs = cand.select(col("doc_a").as(id))
      .union(cand.select(col("doc_b").as(id))).distinct()
    val shC = sh.join(candDocs, Seq(id), "left_semi").localCheckpoint()
    exactVerify(cand, shC, id, threshold)
  }

  /** Banded LSH keys of a signature frame, one row per (id, band_key) —
    * the join-ready (and persistable: see
    * [[graft.streaming.Streaming.incrementalNearDupSink]]) form of a
    * signature. NULL signatures drop out at the explode. */
  def bandKeys(sig: DataFrame, id: String, bands: Int, rows: Int): DataFrame =
    sig.select(col(id), explode(
      when(col("sig").isNotNull,
        transform(sequence(lit(0), lit(bands - 1)),
          j => concat(j.cast("string"), lit(":"),
            concat_ws(",", transform(slice(col("sig"), j * rows + 1, lit(rows)),
              x => x.cast("string"))))))).as("band_key"))

  /** Scan-stage MinHash signatures of a documents frame (shingle array +
    * [[graft.plans.MinHashSig]], no filter — see [[lshNearDups]] on why
    * NULL signatures are left to die at the banding explode). */
  private[graft] def scanSignatures(docs: DataFrame, id: String, text: String,
                                    n: Int, numHashes: Int): DataFrame =
    sigProjection(shingleArray(docs, id, text, n), id, numHashes)

  /** Exact-Jaccard verification of candidate pairs from the (id, shingle)
    * rows of the candidate docs only. `shC` must already be restricted to
    * docs appearing in `cand` (and checkpointed by the caller — it feeds
    * three joins). */
  private[graft] def exactVerify(cand: DataFrame, shC: DataFrame,
                                 id: String, threshold: Double): DataFrame = {
    val sizes = shC.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    // a pair sharing zero shingles (pure band collision) drops out of the
    // inner join — jaccard 0 anyway
    val inter = cand
      .join(shC.select(col(id).as("doc_a"), col("shingle")), "doc_a")
      .join(shC.select(col(id).as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(id).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(id).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Default candidate-volume cap for the registered MinHash-LSH
    * production paths: candidates must stay under 32 × |docs| or the call
    * raises ([[Scale.guardedBandCandidates]]). Real near-dup corpora sit
    * ORDERS below this (the testdata measures ~0.05 candidates/doc). The
    * trigger point depends on corpus size, since the cap is a TOTAL
    * volume bound: a single clique of c mutually-duplicate docs fires it
    * when c²/2 > 32·N, i.e. c ≈ √(64·N) — ~65 docs when the clique IS
    * the corpus (N ≈ 100), ~8 000 docs in a 1M-doc corpus. The cap
    * bounds aggregate blow-up (total work staying linear-in-N with a
    * constant), not per-clique size; duplicate-heavy-but-subquadratic
    * corpora pass, which is what a purge wants. */
  val DefaultCandidatesPerDoc = 32.0

  /** MinHash+LSH near-dup pairs straight from the documents frame — the
    * preferred entry point: shingle arrays and signatures are both
    * scan-stage ([[shingleArray]] + [[graft.plans.MinHashSig]]), so the
    * ONLY shuffles are the band join and the candidate-restricted verify.
    * The column-pipeline form ([[minhashDupPairs]]) shuffles every shingle
    * row through a 128-min-aggregate first; this one never materializes a
    * shingle row outside the candidate set. Same output, same oracle.
    *
    * Candidates come from [[Scale.guardedBandCandidates]]: with the cap on
    * (the default) an over-cap corpus raises at call time; the banding —
    * and with `bandedCacheKey` its memo entry — is shared with
    * [[nearDupPairsSalted]], the group/provenance consumers and a query's
    * steady-state re-runs. */
  def nearDupPairs(docs: DataFrame, id: String, text: String, n: Int,
                   threshold: Double, bands: Int = 32, rows: Int = 4,
                   maxCandidatesPerDoc: Option[Double] = Some(DefaultCandidatesPerDoc),
                   bandedCacheKey: Option[String] = None): DataFrame =
    lshNearDups(docs, id, text, n, threshold, bands, rows, maxCandidatesPerDoc,
      bandedCacheKey, None, "nearDupPairs")

  /** [[nearDupPairs]] with the HOT-BAND SKEW GUARD on candidate
    * generation ([[Scale.saltedBandSelfJoin]]): a band shared by ≥ hotMin
    * docs — a corpus-wide boilerplate shingle dominating every signature
    * position, or an adversarially duplicate-saturated corpus — would make
    * the plain band self-join produce one m²-pair straggler task; here its
    * pairs spread over `salts` reducers via a secondary id hash. Identical
    * output (pair-set identity is the helper's contract, spec-asserted),
    * so it registers against the SAME exact-Jaccard oracle as
    * [[nearDupPairs]] — the q_j1_linkage_salted pattern, extended from
    * fact×dim equi-joins to banded self-joins. */
  def nearDupPairsSalted(docs: DataFrame, id: String, text: String, n: Int,
                         threshold: Double, bands: Int = 32, rows: Int = 4,
                         salts: Int = 8, hotMin: Int = 4096,
                         maxCandidatesPerDoc: Option[Double] = Some(DefaultCandidatesPerDoc),
                         bandedCacheKey: Option[String] = None): DataFrame =
    lshNearDups(docs, id, text, n, threshold, bands, rows, maxCandidatesPerDoc,
      bandedCacheKey, Some((salts, hotMin)), "nearDupPairsSalted")

  /** Shared body of the two LSH pair paths: scan-stage banding → guarded
    * candidates → restrict the shingle table to candidate docs → exact
    * verify. No isNotNull filter on the signatures: a Filter over the sig
    * projection would be pushed below it, re-evaluating minhash_sig per
    * row; shingle-less docs (NULL sig) instead drop out at the banding
    * explode's when-guard. */
  private def lshNearDups(docs: DataFrame, id: String, text: String, n: Int,
                          threshold: Double, bands: Int, rows: Int,
                          cap: Option[Double], bandedCacheKey: Option[String],
                          salt: Option[(Int, Int)], what: String): DataFrame = {
    val guarded = Scale.guardedBandCandidates(docs, id, "doc_a", "doc_b", bands,
        cap, "maxCandidatesPerDoc", what, salt, bandedCacheKey)(
        Some(bandKeys(scanSignatures(docs, id, text, n, bands * rows), id, bands, rows))).get
    // materialized either way: it feeds the doc-restriction union AND the
    // verify joins (capped, the helper already checkpointed it)
    val cand = if (cap.isDefined) guarded else guarded.localCheckpoint()
    val candDocs = cand.select(col("doc_a").as(id))
      .union(cand.select(col("doc_b").as(id))).distinct()
    // verify over the exploded form (inline generator child — see shingles)
    val shC = shingles(docs, id, text, n)
      .join(candDocs, Seq(id), "left_semi").localCheckpoint()
    exactVerify(cand, shC, id, threshold)
  }

  /** Corpus-level BOILERPLATE PURGE — the C4-style curation pass that
    * removes text segments appearing (near-)verbatim across many documents
    * (navigation chrome, license headers, cookie banners): a document's
    * text is cut into fixed `segWords`-word segments, any segment present
    * in >= `minDocs` DISTINCT documents is dropped corpus-wide, and each
    * document is reassembled from its surviving segments in order.
    *
    * Scale shape: one distinct + one groupBy on the segment text (the
    * corpus-frequency pass; at 100 TB group on a 128-bit md5 of the
    * segment instead to shrink shuffle bytes), then an anti-join against
    * the common-segment set — which is TINY by construction (only segments
    * repeated across >= minDocs docs), so AQE broadcasts it. Reassembly is
    * a per-document `collect_list` + sort — state bounded by one document,
    * which any text operator already assumes fits a task.
    *
    * Output: (id, n_removed, n_kept, clean_text), one row per document;
    * a fully-boilerplate document yields clean_text = "".
    */
  def purgeBoilerplate(df: DataFrame, id: String, text: String,
                       segWords: Int = 10, minDocs: Int = 3): DataFrame = {
    require(segWords > 0 && minDocs > 1, s"need segWords > 0, minDocs > 1, got $segWords/$minDocs")
    val k = segWords
    // non-overlapping k-word windows incl. the partial tail, so
    // reassembly of an untouched doc reproduces its full word stream;
    // generator child stays inline (see shingles on the inference trap)
    val segs = df
      .select(col(id), split(trim(col(text)), "\\s+").as("w"))
      .select(col(id), posexplode(
        transform(sequence(lit(0), floor((size(col("w")) - 1) / lit(k)).cast("int")),
          j => concat_ws(" ", slice(col("w"), j * k + 1, lit(k)))))
        .as(Seq("seg_idx", "seg")))
    val common = segs.select(col("seg"), col(id)).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs).select(col("seg"))
    val kept = segs.join(common, Seq("seg"), "left_anti")
    val totals = segs.groupBy(col(id)).agg(count(lit(1)).as("n_total"))
    val cleaned = kept.groupBy(col(id)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
        x => x.getField("seg"))).as("clean_text"))
    totals.join(cleaned, Seq(id), "left")
      .select(col(id),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair list (the step after pair generation in every production dedup —
    * a survivor must be chosen PER CLUSTER, not per pair, or chains
    * A~B, B~C keep both B and C).
    *
    * Algorithm: iterative min-label propagation (the classic distributed
    * connected-components loop — Hash-to-Min family) with POINTER JUMPING:
    * every doc starts labeled with itself; each round every doc takes the
    * min of its own and its neighbors' labels, then compresses one hop
    * (label := label's label — labels always hold node ids, so the lookup
    * is a self-join). Propagation alone needs diameter rounds; the jump
    * step doubles the compressed distance per round, so convergence is
    * O(log diameter) — the difference between 7 and 100+ shuffle rounds
    * on a 100-deep dup chain at corpus scale (spec-asserted: a 120-chain
    * converges within 12 rounds). At fixpoint the label is the minimum id
    * reachable in the pair graph = the cluster's canonical survivor. The
    * loop is driver-side CONTROL only: each round is a bounded number of
    * distributed joins, labels are localCheckpoint'ed so lineage (and
    * plan size) stays O(1) per round instead of growing per iteration.
    *
    * SMALL-GRAPH FAST PATH: when the (already materialized) edge list has
    * at most `smallGraphBound` rows, components are solved with one
    * driver-side union-find pass instead of the iterative loop. This is a
    * deliberate, BOUNDED driver step, not a scale leak: the bound caps
    * driver memory explicitly (2^20 edges ≈ 16 MB of ids — index-metadata
    * sized), the distributed loop remains the automatic fallback above it,
    * and the win is real at every scale — each propagation round costs
    * ~5 scheduled jobs (joins + checkpoint + probe), pure fixed overhead
    * that dominates whenever the dup graph is small relative to the
    * cluster (measured: 2.6 s → ~0.2 s at sf0.1's 884-edge graph; on a
    * 1000-executor cluster the same rounds are multi-second barriers). A
    * near-dup edge list orders of magnitude smaller than the corpus is the
    * COMMON case for a curated lake; the loop is the insurance, not the
    * steady state. Both paths produce identical rows (min-id labels;
    * union-by-min keeps each tree's root = component min — spec-asserted
    * equivalence on random graphs).
    *
    * Output: (doc_id, group_id) for every doc appearing in >= 1 pair;
    * group_id = min doc id of the cluster. Pairs input must have columns
    * `doc_a`, `doc_b`.
    */
  def dupGroups(pairs: DataFrame, maxIter: Int = 20,
                smallGraphBound: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("id"), col("doc_b").as("nbr"))
      .union(pairs.select(col("doc_b").as("id"), col("doc_a").as("nbr")))
      .localCheckpoint()
    // count() over checkpointed blocks is a metadata-cheap job; the edge
    // list was going to be materialized for the loop regardless
    if (edges.count() <= smallGraphBound) return dupGroupsLocal(edges)
    var labels = edges.select(col("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // min over each doc's neighbors' labels, merged with its own
      val nbrMin = edges
        .join(labels.select(col("id").as("nbr"), col("lbl").as("nlbl")), "nbr")
        .groupBy(col("id")).agg(min(col("nlbl")).as("nmin"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      // pointer jump: label := label-of-label. Every label IS a node id
      // (min over node ids), so the lookup is a self-join; a node's label
      // only decreases, hence p_lbl <= lbl and least() is implicit. Left
      // join + coalesce only defends the (impossible) missing-id case.
      // One materialization per round: the checkpointed frame carries BOTH
      // the new and the previous label, so the convergence probe is a
      // filter over already-materialized blocks instead of a second
      // join+scan job per iteration
      val jumped = propagated.select(col("id").as("p_id"), col("lbl").as("p_lbl"))
      val updated = propagated
        .join(jumped, propagated("lbl") === jumped("p_id"), "left")
        .select(propagated("id"), propagated("old"),
          coalesce(col("p_lbl"), propagated("lbl")).as("lbl"))
        .localCheckpoint()
      converged = updated.filter(col("lbl") =!= col("old")).isEmpty
      labels = updated.select(col("id"), col("lbl"))
      it += 1
    }
    // partially-propagated labels are indistinguishable from a correct
    // result downstream (they just split clusters), so non-convergence must
    // be loud: a dup graph with diameter > maxIter means the threshold is
    // admitting chains and the caller should know, not silently keep extra
    // "survivors"
    if (!converged) throw new IllegalStateException(
      s"dupGroups: label propagation did not converge within $maxIter rounds " +
        "(duplicate-pair graph has a longer chain than expected — raise maxIter " +
        "or tighten the pair threshold)")
    labels.select(col("id").as("doc_id"), col("lbl").as("group_id"))
  }

  /** Driver union-find for [[dupGroups]]'s bounded fast path. Union-by-min
    * (the larger root attaches under the smaller) keeps every tree's root
    * equal to its component's minimum id, so the final find() IS the
    * group_id — byte-identical to the loop's fixpoint. Works for any
    * Comparable id type (long, string — the two id shapes in this repo).
    * String ids are compared as UTF-8 bytes (via [[UTF8String]]), NOT
    * java.lang.String's UTF-16 code-unit order: Spark's `min`/`least`
    * under UTF8_BINARY collation sorts by UTF-8 bytes, and the two orders
    * disagree when supplementary (non-BMP) characters mix with
    * U+E000–U+FFFF — surrogates sort low in UTF-16 but high in UTF-8.
    * Spec-pinned with a non-BMP case in DedupSpec. */
  private def dupGroupsLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("id").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      // match Spark's UTF8_BINARY order (UTF-8 bytes), not UTF-16 units
      case (sa: String, sb: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(sa)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(sb)) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    // edges carries both directions; processing (id, nbr) as undirected
    // unions is idempotent, so the duplication is harmless.
    // coalesce(1) first: toLocalIterator schedules ONE JOB PER PARTITION,
    // and the checkpointed edge list arrives shuffle-partitioned — on the
    // bench session that was ~30 sequential driver-side jobs of pure
    // scheduling overhead (the dominant cost of every small-graph
    // dupGroups caller, r18 JobAudit). One narrow task streams the whole
    // smallGraphBound-bounded list in a single job; memory stays
    // iterator-bounded on the driver.
    edges.select(col("id"), col("nbr")).coalesce(1).toLocalIterator().forEachRemaining { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("group_id", idType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach(id => rows.add(org.apache.spark.sql.Row(id, find(id))))
    spark.createDataFrame(rows, schema)
  }

  /** Benchmark DECONTAMINATION — the training-data hygiene pass that keeps
    * eval sets out of the corpus: per document, the fraction of its n-gram
    * shingles that also appear anywhere in a benchmark set. Scale shape:
    * the benchmark's distinct shingles are a (comparatively tiny, usually
    * broadcastable) set; the corpus side streams through one semi-join —
    * no per-doc state, no pair explosion, cost linear in corpus shingles.
    * Docs shorter than n words have no shingles and are absent (nothing to
    * contaminate). Flag threshold is the caller's policy (typically drop
    * at ratio ≥ 0.8, audit at ≥ 0.1). */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
                         id: String, text: String, n: Int = 5): DataFrame = {
    // ONE pass over the corpus shingles: a left join against the (tiny,
    // distinct, broadcastable) benchmark set marks each shingle, and a
    // single aggregation produces both the total and the hit count —
    // count(col) counts non-nulls, so unmatched shingles contribute to
    // n_shingles only. (A semi-join + separate size aggregation would
    // execute the corpus scan + explode twice, the dominant cost.)
    val cs = shingles(corpus, id, text, n)
    val bs = shingles(benchmark, id, text, n).select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    cs.join(bs, Seq("shingle"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"), count(col("__hit")).as("contaminated"))
      .select(col(id), col("contaminated"), col("n_shingles"),
        (col("contaminated").cast("double") / col("n_shingles")).as("contamination"))
  }

  /** 32-bit SimHash over distinct whitespace tokens. Token hash = first 8
    * hex chars of md5 (portable: the DuckDB oracle computes the identical
    * value), bit b of the fingerprint = majority vote of token bits. 32 bits
    * keeps the fingerprint inside a signed long on both engines. */
  def simhash32(df: DataFrame, id: String, text: String): DataFrame = {
    // ONE aggregation with 32 codegen bit-sum accumulators, not a 32×
    // (id, h, bit) row explosion through TWO aggregations: the majority
    // vote per bit only needs Σ bit_i(h) and n per doc, and
    // s_i = Σ(2·bit_i − 1) = 2·Σbit_i − n > 0  ⟺  2·Σbit_i > n — the
    // identical fingerprint. The old plan multiplied every token row by 32
    // before the first shuffle (guide §2.3: shuffle fewer bytes — here
    // 32× fewer rows into partial aggregation; measured 2× on the
    // fingerprint stage at sf0.1).
    val bitSums = (0 until 32).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i"))
    df.select(col(id),
        explode(array_distinct(split(trim(col(text)), "\\s+"))).as("tok"))
      .select(col(id), conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col(id), (0 until 32).map(i =>
          when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two simhash fingerprints (for pairing). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup PAIRS (hamming <= maxHamming) via pigeonhole
    * bucketing — the constant-memory pairing the fingerprint exists for:
    * split the 32-bit fingerprint into `maxHamming + 1` chunks; two
    * fingerprints within the hamming budget MUST agree exactly on at
    * least one chunk (pigeonhole), so candidate generation is an
    * equi-join on (chunk_idx, chunk_val) — never an all-pairs scan — and
    * only candidates pay the exact hamming check. The registered query
    * verifies this plan against the brute-force self-join SQL oracle. */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"need 0 <= maxHamming < 32, got $maxHamming")
    val chunks = maxHamming + 1
    val width = 32 / chunks
    val sh = simhash32(df, id, text)
    // chunk c = bits [c*width, (c+1)*width), last chunk absorbs the
    // remainder to bit 31; generator child inline (see shingles)
    val chunked = sh.select(col(id), col("simhash"), posexplode(
      array((0 until chunks).map { c =>
        val hi = if (c == chunks - 1) 32 else (c + 1) * width
        shiftright(col("simhash"), c * width)
          .bitwiseAND(lit((1L << (hi - c * width)) - 1))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
    val a = chunked.select(col(id).as("doc_a"), col("simhash").as("sh_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(col(id).as("doc_b"), col("simhash").as("sh_b"),
      col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b")).distinct()
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** MULTI-PASS SORTED-NEIGHBORHOOD record linkage (Hernández–Stolfo):
    * sort records by a key, compare only rows within a sliding rank
    * window — the classic entity-resolution BLOCKING that trades the
    * all-pairs square for O(n·window) comparisons. One sort order misses
    * typos that perturb the sort PREFIX (a head edit teleports the row),
    * so the standard multi-pass fix runs a second pass over the REVERSED
    * string (head edits become tail edits) and unions the candidates.
    * Complementary to [[graft.operators.Fuzzy.fuzzySelfMatch]]: FastSS is
    * exhaustive within its distance bound; SNM is recall-bounded by the
    * window but costs no variant explosion — the cheap first screen on a
    * corpus too hot-keyed for variant joins.
    *
    * Scale shape: passes partition by a BLOCK key (the key's first
    * `blockLen` chars), so each window ranks within a block — a
    * distributed per-block window, never a single global-sort task; block
    * granularity is the parallelism knob, and cross-block pairs are out
    * of reach by construction (mirrored in the oracle — the recall
    * contract is explicit, as with every LSH-family gate). Candidates
    * carry IDS ONLY through the distinct (the Fuzzy shuffle lesson);
    * strings re-attach for one BANDED thresholded levenshtein pass.
    * Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist. */
  def sortedNeighborhoodPairs(df: DataFrame, id: String, str: String,
                              window: Int = 4, maxDist: Int = 2,
                              blockLen: Int = 1): DataFrame = {
    require(window >= 2 && maxDist >= 0 && blockLen >= 1,
      s"need window >= 2, maxDist >= 0, blockLen >= 1; got $window, $maxDist, $blockLen")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(str).isNotNull).select(col(id), col(str))
    def pass(key: Column): DataFrame = {
      val ranked = base
        .select(col(id), substring(key, 1, blockLen).as("__blk"), key.as("__key"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__blk")).orderBy(col("__key"), col(id))).cast("long"))
        .select(col(id), col("__blk"), col("__rk"))
      ranked
        .withColumn("__j", explode(sequence(lit(1), lit(window - 1))))
        .select(col(id).as("__ia"), col("__blk"), (col("__rk") + col("__j")).as("__rk"))
        .join(ranked.select(col(id).as("__ib"), col("__blk"), col("__rk")),
          Seq("__blk", "__rk"))
        .select(least(col("__ia"), col("__ib")).as("id_a"),
          greatest(col("__ia"), col("__ib")).as("id_b"))
    }
    pass(col(str)).union(pass(reverse(col(str)))).distinct()
      .join(base.select(col(id).as("id_a"), col(str).as("__sa")), "id_a")
      .join(base.select(col(id).as("id_b"), col(str).as("__sb")), "id_b")
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** GOLDEN-RECORD SURVIVORSHIP — the merge step every dedup pipeline
    * needs AFTER [[dupGroups]] finds the clusters: collapse each group
    * to ONE record whose every field independently takes the group's
    * best value. "Best" = FIRST NON-NULL in one total recency/priority
    * order (the standard MDM most-recent-non-null rule) — so a newer
    * record with a null phone keeps the older record's phone while
    * contributing its own fresher address: fields survive
    * INDEPENDENTLY, which is what separates survivorship from plain
    * keep-newest.
    *
    * One window sort per group serves everything: each field is a
    * `first(col, ignoreNulls) OVER` the full-frame window, the group's
    * representative row is `row_number() = 1` on the same ordering, and
    * `n_records` rides along as a count — Catalyst plans ONE
    * Exchange+Sort on the group key for all of it. Group grain: dup
    * clusters are small by construction (a giant cluster is a dedup
    * bug upstream, the [[dupGroups]] contract), so per-group state
    * never exceeds cluster size.
    *
    * DETERMINISM: `order` must be a TOTAL order within each group (end
    * it with a unique id) and its keys must be null-free — Spark sorts
    * NULLS FIRST where DuckDB sorts NULLS LAST, the cross-engine trap
    * every ordered operator here documents; filter null order keys
    * upstream. Survivor VALUES are copied, never computed, so output
    * hashes are exact on any engine. Output: (group, fields…,
    * n_records), one row per group. */
  def goldenRecord(df: DataFrame, group: String, order: Seq[Column],
                   fields: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fields.nonEmpty, "goldenRecord: need at least one field")
    val full = Window.partitionBy(col(group)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rank = Window.partitionBy(col(group)).orderBy(order: _*)
    val survivors = fields.map(f => first(col(f), ignoreNulls = true).over(full).as(f))
    df.select(col(group) +: survivors :+
        count(lit(1)).over(full).as("n_records") :+
        row_number().over(rank).as("__rn"): _*)
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
