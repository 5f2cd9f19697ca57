package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the ANN memory-compression path: each
  * vector is split into `m` subvectors, each subvector quantized to one of
  * `k` codebook centroids, so a d-dim float vector becomes `m` small codes
  * (m bytes for k ≤ 256). At 100 TB this is the difference between
  * scanning 256-byte embeddings and scanning 8-byte codes — the codes (and
  * the tiny codebooks) fit where raw vectors cannot, and queries score
  * against a per-query lookup table instead of touching raw floats.
  *
  * Spark-first shape mirroring [[IvfIndex]]:
  *  - '''train''' (offline, bounded): one spherical-ish k-means per
  *    subspace over a deterministic corpus prefix — codebooks are
  *    `m × k × dsub` doubles, pure metadata.
  *  - '''encode''' (scan-stage, no shuffle): per-row argmin over centroid
  *    literals per subspace (the [[IvfIndex.cellOf]] pattern ×m) — the
  *    encoded table is what you persist.
  *  - '''search''' (per query): the anchor's distance to every centroid of
  *    every subspace is an `m × k` literal lookup table; a row's
  *    approximate squared L2 is Σ_m LUT[m][code_m] — element_at on
  *    literal arrays, whole-stage codegen, then TakeOrderedAndProject.
  *
  * Approximate by construction (quantization error), so no SQL oracle —
  * verified by spec instead: lossless when the corpus lies ON the
  * codebook (PQ distance degenerates to exact distance ⇒ top-k must equal
  * brute force), plus a recall floor on clustered data.
  */
object PqIndex {

  /** codebooks(sub)(code) = centroid of subspace `sub` for code `code`.
    * Codebook sizes may legitimately DIFFER per subspace (train caps each
    * at its distinct-subvector count), so `k` is the maximum — per-subspace
    * width is `centroids(s).length`. */
  case class Codebooks(dsub: Int, centroids: Array[Array[Array[Double]]]) {
    def m: Int = centroids.length
    def k: Int = if (centroids.isEmpty) 0 else centroids.map(_.length).max
    def dim: Int = m * dsub
  }

  /** Offline codebook training: one k-means per subspace on a bounded,
    * deterministic prefix (TakeOrdered on the id — scan-order independent).
    * Subspaces with fewer distinct subvectors than k get the distinct set
    * (k-means would throw); codes stay dense in [0, k). */
  def train(emb: DataFrame, id: String, vec: String, m: Int, k: Int,
            trainLimit: Int = 10000, dim: Option[Int] = None): Codebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // dim from table metadata when known (skips a full scan — the
    // injectable-dim convention of Similarity.annTopK); training on an
    // empty/all-null corpus is a caller error, not an empty result
    val d = dim.getOrElse {
      val dimRow = emb.select(max(size(col(vec)))).head()
      require(!dimRow.isNullAt(0), "PqIndex.train: corpus has no non-null vectors")
      dimRow.getInt(0)
    }
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    // cached: every subspace runs a distinct-count job AND a KMeans fit
    // over this prefix — uncached, the filter+sort+limit lineage would
    // re-execute 2m+ times
    val train = emb.filter(col(vec).isNotNull && size(col(vec)) === d)
      .orderBy(col(id)).limit(trainLimit)
      .select(col(vec).cast("array<double>").as("v"))
      .cache()
    try {
      val books = (0 until m).map { s =>
        val sub = train.select(array_to_vector(
          slice(col("v"), s * dsub + 1, dsub)).as("features"))
        val distinctSub = sub.distinct().limit(k + 1).count().toInt
        require(distinctSub > 0,
          "PqIndex.train: no full-dimension vectors in the training prefix")
        val kk = math.min(k, distinctSub)
        if (kk < 2)
          // KMeans requires k >= 2; a constant subspace's codebook IS its
          // single distinct subvector (code 0 for every row, zero error)
          Array(sub.head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray)
        else
          new KMeans().setK(kk).setSeed(42L + s).setMaxIter(10).fit(sub)
            .clusterCenters.map(_.toArray)
      }.toArray
      Codebooks(dsub, books)
    } finally train.unpersist(): Unit
  }

  private def sqDist(a: Column, centroid: Array[Double]): Column =
    centroid.zipWithIndex.map { case (c, i) =>
      val diff = element_at(a, i + 1) - lit(c)
      diff * diff
    }.reduce(_ + _)

  /** Scan-stage encoding: argmin centroid per subspace → `code` array<int>.
    * No shuffle, no UDF; ties resolve to the first (lowest) code.
    *
    * Null and RAGGED vectors are EXCLUDED, not fake-encoded (the LSH
    * convention): a short vector would make the fixed-position element_at
    * throw under ANSI mode — one malformed row must not abort a corpus
    * encode — and a null one would produce a null code that ascending
    * distance sorts FIRST, displacing real neighbors from every top-k.
    * Each subspace's slice and distance array are staged as columns so
    * the k·dsub arithmetic runs once per code, not once per reference
    * (the projection-CSE rule). */
  def encode(emb: DataFrame, id: String, vec: String, cb: Codebooks): DataFrame = {
    val v = col(vec).cast("array<double>")
    val base = emb.filter(col(vec).isNotNull && size(col(vec)) === cb.dim)
      .withColumn("__v", v)
    val withSubs = (0 until cb.m).foldLeft(base) { (acc, s) =>
      acc.withColumn(s"__sub$s", slice(col("__v"), s * cb.dsub + 1, cb.dsub))
    }
    val staged = (0 until cb.m).foldLeft(withSubs) { (acc, s) =>
      acc.withColumn(s"__d$s",
        array(cb.centroids(s).map(ct => sqDist(col(s"__sub$s"), ct)): _*))
    }
    val codes = (0 until cb.m).map { s =>
      (array_position(col(s"__d$s"), array_min(col(s"__d$s"))) - 1).cast("int")
    }
    staged.select(col(id), array(codes: _*).as("code"))
  }

  /** IVF-PQ composition — the production ANN index shape (coarse cells
    * prune WHICH rows are scanned, PQ codes compress WHAT is scanned):
    * assign every vector to its [[IvfIndex]]-style coarse cell AND encode
    * it, persist partitioned by cell, and a query probes nprobe cells
    * (partition pruning) scoring only codes via the LUT. Composes the two
    * verified pieces; with nprobe = nlist and a lossless codebook it
    * degenerates to exact search (the testable regime). */
  def ivfPqTopK(emb: DataFrame, id: String, vec: String, cb: Codebooks,
                coarse: Array[Array[Double]], anchor: Array[Double],
                topK: Int, nprobe: Int): DataFrame = {
    require(coarse.forall(_.length == cb.dim),
      s"coarse centroid dim != codebook dim ${cb.dim}")
    val v = col(vec).cast("array<double>")
    // coarse cell = argmin squared L2 to the coarse centroids (expression
    // literals, scan-stage — the IvfIndex.cellOf pattern on raw distance).
    // Null/ragged vectors are excluded BEFORE the fixed-position distance
    // arithmetic (same ANSI-safety rule as encode).
    val cellDists = array(coarse.map(ct => sqDist(v, ct)): _*)
    val cell = (array_position(cellDists, array_min(cellDists)) - 1).cast("int")
    val probed = coarse.zipWithIndex
      .map { case (ct, i) =>
        (i, ct.zip(anchor).map { case (c, a) => (c - a) * (c - a) }.sum) }
      .sortBy { case (i, dSq) => (dSq, i) }.take(nprobe).map(_._1)
    val pruned = emb
      .filter(col(vec).isNotNull && size(col(vec)) === cb.dim)
      .withColumn("__cell", cell)
      .filter(col("__cell").isin(probed.map(Integer.valueOf): _*))
    // persisted form: write `pruned`'s encoding partitioned by __cell once
    // (Scale.writePartitioned) and this filter becomes partition pruning;
    // computed inline here so the operator is self-contained and testable
    searchTopK(encode(pruned, id, vec, cb), id, cb, anchor, topK)
  }

  /** Offline PQ/IVF-PQ index build via [[StateCache]] (the
    * [[IvfIndex.ensure]] discipline — codebook training and corpus
    * encoding are ingest-phase work, done once per (corpus, params)):
    *  - `codebooks`: (sub, code, centroid) — m×k rows of metadata
    *  - `coarse`: (cell, centroid) — the IVF-PQ coarse quantizer (an m=1
    *    codebook over the full vector)
    *  - `codes`: (id, code, cell), PARTITIONED BY cell — the compressed
    *    corpus; a probe-limited query reads only its nprobe cell dirs */
  def ensure(emb: DataFrame, id: String, vec: String, sfDir: String,
             m: Int, k: Int, coarseNlist: Int, trainLimit: Int = 10000): String =
    StateCache.ensure(emb.sparkSession, s"$sfDir/embeddings.parquet",
      s"$sfDir|pq|$m|$k|$coarseNlist|$trainLimit", s"graft-pq-m$m",
      Seq("codebooks", "coarse", "codes"))(
      tmp => build(emb, id, vec, tmp, m, k, coarseNlist, trainLimit))

  /** The offline build [[ensure]] publishes — also the standalone entry
    * for a non-cached index dir (the [[IvfIndex.build]] symmetry the
    * streaming append path needs a base index from). */
  def build(emb: DataFrame, id: String, vec: String, indexDir: String,
            m: Int, k: Int, coarseNlist: Int, trainLimit: Int = 10000): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = train(emb, id, vec, m, k, trainLimit)
    val coarse = train(emb, id, vec, 1, coarseNlist, trainLimit).centroids(0)
    cb.centroids.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (ct, c) => (s, c, ct.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    coarse.zipWithIndex.map { case (ct, i) => (i, ct.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/coarse")
    encodeWithCell(emb, id, vec, cb, coarse)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/codes")
  }

  /** The build's exact cell-assign + encode pipeline (frozen-parameter
    * form shared verbatim with [[appendBatch]] — the mergeTotals rule:
    * maintenance must encode THROUGH the same expressions as the build,
    * or appended rows drift from rebuilt ones). */
  private def encodeWithCell(emb: DataFrame, id: String, vec: String,
                             cb: Codebooks,
                             coarse: Array[Array[Double]]): DataFrame = {
    val v = col(vec).cast("array<double>")
    val cellDists = array(coarse.map(ct => sqDist(v, ct)): _*)
    val withCell = emb
      .filter(col(vec).isNotNull && size(col(vec)) === cb.dim)
      .withColumn("__cell", (array_position(cellDists, array_min(cellDists)) - 1).cast("int"))
    encode(withCell, id, vec, cb)
      .join(withCell.select(col(id), col("__cell").as("cell")), id)
  }

  /** STREAMING MAINTENANCE — [[IvfIndex.appendBatch]]'s shape for the
    * compressed index: new vectors are assigned to their frozen coarse
    * cell and encoded with the FROZEN per-subspace codebooks (codebooks
    * only change at rebuild), then appended to the cell-partitioned codes
    * layout, so probes see fresh vectors immediately through the same
    * partition pruning. Replay-safe by the S6 step
    * ([[Ops.insertIfAbsent]]) against the stored code ids — re-delivered
    * batches append nothing. The appended ids also land in an `appended`
    * sidecar for [[maintenanceAudit]] (see [[IvfIndex.appendAbsent]]). */
  def appendBatch(batch: DataFrame, id: String, vec: String,
                  indexDir: String): Unit = {
    val spark = batch.sparkSession
    val cb = loadCodebooks(spark, indexDir)
    val coarseRows = spark.read.parquet(s"$indexDir/coarse")
      .orderBy(col("cell")).collect()
    require(coarseRows.nonEmpty,
      s"PqIndex.appendBatch: no coarse table under $indexDir — build() first")
    val coarse = coarseRows.map(_.getSeq[Double](1).toArray)
    IvfIndex.appendAbsent(batch, id, indexDir, "codes")(
      encodeWithCell(_, id, vec, cb, coarse))
  }

  /** Staleness / ADC-recall audit of a maintained compressed index — the
    * [[IvfIndex.maintenanceAudit]] twin, extended to the two-stage query:
    * one row with `n_total`, `n_appended`, `staleness_frac`, and
    * `recall_at_k` — mean [[topKReranked]]-vs-exact-cosine recall@k at
    * the given (nprobe, shortlist) over the `anchors` LOWEST appended ids
    * (deterministic sample; appended vectors are exactly the ones
    * codebook drift can hurt — they were never trained on). Needs the
    * full-vector table `emb` (codes don't retain vectors); the exact
    * reference restricts to ids the index actually holds, so the audit
    * measures the index, not ingest lag. Driver cost bounded by
    * `anchors`; with no appended rows recall is null and staleness 0. */
  def maintenanceAudit(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, emb: DataFrame, id: String,
                       vec: String, k: Int, nprobe: Int, shortlist: Int,
                       anchors: Int = 8): DataFrame = {
    import spark.implicits._
    val codes = spark.read.parquet(s"$indexDir/codes")
    val corpus = emb.join(codes.select(col(id)), Seq(id), "left_semi")
    IvfIndex.auditRow(spark, indexDir, id, codes.count(), anchors) { a =>
      val anchor = emb.filter(col(id) === a)
        .select(col(vec).cast("array<double>")).head().getSeq[Double](0).toArray
      (topKReranked(spark, indexDir, emb, id, vec, anchor, a, k, shortlist, nprobe)
          .select(col(id)).as[Long].collect().toSet,
        Similarity.scoreTopK(corpus,
            corpus.filter(col(id) === a).select(col(vec).as("q_vec")),
            id, vec, a, k)
          .select(col(id)).as[Long].collect().toSet)
    }
  }

  /** Read the published codebooks back (bounded metadata: m×k rows). */
  private def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Codebooks = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val books = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => g.sortBy(_._2).map(_._3) }.toArray
    Codebooks(books.head.head.length, books)
  }

  /** Probe-only query over a published index: nearest `nprobe` coarse
    * cells by the anchor's distance to the (collected, bounded) centroid
    * table, then LUT-score ONLY those cells' codes — the cell filter is
    * partition pruning on the codes layout. `nprobe` = the coarse cell
    * count scans every code (pure-PQ mode). The anchor row itself is
    * excluded (ANN-query convention, as [[Similarity.scoreTopK]]). */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    id: String, anchor: Array[Double], anchorId: Long,
                    topK: Int, nprobe: Int): DataFrame = {
    val cb = loadCodebooks(spark, dir)
    val coarse = spark.read.parquet(s"$dir/coarse")
      .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    val probed = coarse.zipWithIndex
      .map { case (ct, i) =>
        (i, ct.zip(anchor).map { case (c, a) => (c - a) * (c - a) }.sum) }
      .sortBy { case (i, dSq) => (dSq, i) }.take(nprobe).map(_._1)
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .filter(col(id) =!= anchorId)
    searchTopK(codes, id, cb, anchor, topK)
  }

  /** RETRIEVE-THEN-RERANK over a published index — the production PQ
    * query shape (the public two-stage recipe every PQ paper and vector
    * store ships): the compressed codes produce a `shortlist`-sized
    * candidate set by asymmetric LUT distance, then ONLY those ids are
    * reranked by exact cosine against their full vectors. Recall@k
    * becomes a property of the shortlist (10·k absorbs the quantization
    * noise that scrambles fine ranks, the observable failure of raw ADC
    * top-k on a corpus whose neighbor gaps are smaller than the PQ cell
    * radius), while scan volume stays codes + |shortlist| full rows —
    * the semi-join on ids is broadcast-able at any corpus size. Returned
    * cosines are EXACT (shared [[Similarity.scoreTopK]] arithmetic). */
  def topKReranked(spark: org.apache.spark.sql.SparkSession, dir: String,
                   emb: DataFrame, id: String, vec: String,
                   anchor: Array[Double], anchorId: Long,
                   topK: Int, shortlist: Int, nprobe: Int): DataFrame = {
    val ids = topKFromIndex(spark, dir, id, anchor, anchorId, shortlist, nprobe)
      .select(col(id))
    val cand = emb.join(broadcast(ids), Seq(id), "left_semi")
    val anchorDf = emb.filter(col(id) === anchorId).select(col(vec).as("q_vec"))
    Similarity.scoreTopK(cand, anchorDf, id, vec, anchorId, topK)
  }

  /** EXACT-ARITHMETIC PQ twin — the hash-gateable form of [[topKReranked]].
    * Same retrieve-then-rerank pipeline (per-subspace codebooks → argmin
    * encode → asymmetric-distance shortlist → exact cosine rerank), but
    * every stage is deterministic fixed-point arithmetic so a SQL engine
    * can replay it bit-identically:
    *
    *  - codebooks: [[Clustering.kmeansFit]] per subspace (quantized int64
    *    Lloyd from id-ordered seeds — the q_kmeans_assign construction)
    *    instead of MLlib's float k-means (whose k-means|| init no SQL
    *    engine can reproduce);
    *  - encode: the final Lloyd assignment IS the PQ code — argmin over
    *    the codebook with ties to the smallest code, exact int distances;
    *  - ADC: the anchor's quantized subvector distance to every centroid
    *    is an m×k int64 lookup table (driver-side, query metadata), so a
    *    row's approximate distance Σ_s LUT[s][code_s] is exact and the
    *    (distance, id)-ordered shortlist is deterministic;
    *  - rerank: [[Similarity.scoreTopK]] — byte-shared with the gated
    *    brute-force path.
    *
    * The MLlib path ([[topKReranked]]) stays the production build (better
    * codebooks per iteration); this twin gates the pipeline SHAPE — proof
    * that encode/LUT/shortlist/rerank compose correctly — the way
    * q_dedup_minhash_lsh's oracle gates the banded join. Scale shape is
    * identical to the production path: codebook metadata broadcast as
    * literals, scan-stage encode, TakeOrderedAndProject shortlist,
    * broadcast-semi-join rerank; the m id-joins materialize one narrow
    * (id, code) frame per subspace. */
  def exactTopKReranked(emb: DataFrame, id: String, vec: String,
                        m: Int, k: Int, iters: Int, dim: Int,
                        anchorId: Long, topK: Int, shortlist: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val base = emb.filter(col(vec).isNotNull)
    val anchorQ = quantizedAnchor(base, id, vec, anchorId, dim)
    exactAdcRerank(base, id, vec, m, dim / m, k, iters, anchorQ,
      restrict = None, anchorId, topK, shortlist)
  }

  /** Anchor quantized via the SAME Spark expression the codebook training
    * quantizes with (trunc-toward-zero ·1e6) — one bounded 1-row collect. */
  private def quantizedAnchor(base: DataFrame, id: String, vec: String,
                              anchorId: Long, dim: Int): Array[Long] = {
    val aq = base.filter(col(id) === anchorId)
      .select(transform(col(vec).cast("array<double>"), x => (x * 1e6).cast("long")))
      .head().getSeq[Long](0).toArray
    require(aq.length == dim, s"anchor dim ${aq.length} != $dim")
    aq
  }

  /** Shared tail of the exact twins: per-subspace fixed-point codebooks →
    * argmin encode → int64 ADC shortlist (optionally `restrict`-ed to a
    * probed-cell id set first) → exact cosine rerank. */
  private def exactAdcRerank(base: DataFrame, id: String, vec: String,
                             m: Int, dsub: Int, k: Int, iters: Int,
                             anchorQ: Array[Long], restrict: Option[DataFrame],
                             anchorId: Long, topK: Int, shortlist: Int): DataFrame = {
    val v = col(vec).cast("array<double>")
    val subs = (0 until m).map { s =>
      val sub = base.select(col(id), slice(v, s * dsub + 1, dsub).as("__sub"))
      val (centroids, assign) = Clustering.kmeansFit(sub, id, "__sub", k, iters)
      (centroids, assign.select(col(id), col("cluster").as(s"__code$s")))
    }
    val joined = subs.map(_._2).reduce((a, b) => a.join(b, id))
    val codes = restrict.fold(joined)(r => joined.join(r, Seq(id), "left_semi"))
    val adc = (0 until m).map { s =>
      val aq = anchorQ.slice(s * dsub, (s + 1) * dsub)
      val lut = subs(s)._1.map(ct =>
        aq.zip(ct).map { case (x, y) => val dr = x - y; dr * dr }.sum)
      element_at(typedlit(lut.toIndexedSeq), col(s"__code$s") + 1)
    }.reduce(_ + _)
    val ids = codes.filter(col(id) =!= anchorId)
      .select(col(id), adc.as("__adc"))
      .orderBy(col("__adc").asc, col(id)).limit(shortlist)
      .select(col(id))
    val cand = base.join(broadcast(ids), Seq(id), "left_semi")
    val anchorDf = base.filter(col(id) === anchorId).select(col(vec).as("q_vec"))
    Similarity.scoreTopK(cand, anchorDf, id, vec, anchorId, topK)
  }

  /** EXACT-ARITHMETIC IVF-PQ twin — [[exactTopKReranked]] plus the coarse
    * stage: a fixed-point k-means over the FULL vector assigns every row a
    * coarse cell, the query probes the `nprobe` cells nearest the anchor
    * (exact int distance to the coarse centroids, ties to the smaller
    * cell), and ONLY rows in probed cells enter the ADC shortlist. In the
    * persisted layout the cell filter is partition pruning on the codes
    * dir ([[ensure]]'s `partitionBy(cell)`); composed inline here so the
    * pipeline is one self-contained gateable query. Deterministic
    * end-to-end for the same reasons as the PQ twin, so cell pruning —
    * the one stage the PQ twin doesn't cover — gets a hash gate too. */
  def exactIvfPqTopKReranked(emb: DataFrame, id: String, vec: String,
                             m: Int, k: Int, iters: Int, dim: Int,
                             coarseK: Int, nprobe: Int,
                             anchorId: Long, topK: Int, shortlist: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(nprobe >= 1 && nprobe <= coarseK, s"nprobe $nprobe not in [1, $coarseK]")
    val dsub = dim / m
    val v = col(vec).cast("array<double>")
    val base = emb.filter(col(vec).isNotNull)
    val (coarse, cellAssign) =
      Clustering.kmeansFit(base.select(col(id), v.as("__full")), id, "__full", coarseK, iters)
    val anchorQ = quantizedAnchor(base, id, vec, anchorId, dim)
    val probed: Seq[Int] = coarse.zipWithIndex
      .map { case (ct, c) =>
        (c, anchorQ.zip(ct).map { case (x, y) => val dr = x - y; dr * dr }.sum) }
      .sortBy { case (c, d2) => (d2, c) }.take(nprobe).map(_._1).toSeq
    val pruned = cellAssign.filter(col("cluster").isin(probed.map(Integer.valueOf): _*))
      .select(col(id))
    exactAdcRerank(base, id, vec, m, dsub, k, iters, anchorQ,
      restrict = Some(pruned), anchorId, topK, shortlist)
  }

  /** Asymmetric-distance top-k: LUT(sub)(code) = ||anchor_sub − centroid||²
    * computed once driver-side from the codebooks (m × k doubles — query
    * metadata), then every encoded row costs m array lookups + m-1 adds.
    * Returns (id, approx_sq_dist) ascending with id tie-break. */
  def searchTopK(encoded: DataFrame, id: String, cb: Codebooks,
                 anchor: Array[Double], topK: Int): DataFrame = {
    require(anchor.length == cb.m * cb.dsub,
      s"anchor dim ${anchor.length} != ${cb.m}×${cb.dsub}")
    val lut: Array[Array[Double]] = Array.tabulate(cb.m) { s =>
      val sub = anchor.slice(s * cb.dsub, (s + 1) * cb.dsub)
      cb.centroids(s).map(ct =>
        sub.zip(ct).map { case (x, c) => (x - c) * (x - c) }.sum)
    }
    val dist = (0 until cb.m).map { s =>
      element_at(typedlit(lut(s).toIndexedSeq),
        element_at(col("code"), s + 1) + 1)
    }.reduce(_ + _)
    encoded.select(col(id), dist.as("approx_sq_dist"))
      // nulls LAST defensively: our encode never emits null codes, but a
      // caller-built encoded frame might, and asc's default NULLS FIRST
      // would rank them as the nearest neighbors
      .orderBy(col("approx_sq_dist").asc_nulls_last, col(id))
      .limit(topK)
  }
}
