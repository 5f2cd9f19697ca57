package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF ANN split into its two real phases (the shape
  * [[Similarity.ivfTopK]]'s own Scaladoc prescribes for scale):
  *
  *  - '''build''' (offline, once per corpus): train the spherical k-means
  *    coarse quantizer on a bounded deterministic prefix, assign every
  *    vector to its nearest-centroid cell, and persist the corpus
  *    PARTITIONED BY cell plus a tiny centroid table. At 100 TB this is an
  *    ingest-time job; the cell layout is what makes every later query
  *    touch ~nprobe/nlist of the data.
  *  - '''query''' (online, per anchor): read the centroid table (nlist rows
  *    — index METADATA, the one driver-side collect, bounded by nlist never
  *    the corpus), pick the nprobe nearest cells, and scan ONLY those cell
  *    partitions via a broadcast join on the partition column (dynamic
  *    partition pruning skips the other cell directories at the source).
  *
  * Scoring goes through [[Similarity.scoreTopK]], so the indexed path
  * carries the exact oracle arithmetic of the brute-force baseline; with
  * nprobe = nlist it is provably identical to it (the correctness-gate
  * configuration).
  */
object IvfIndex {

  /** Nearest-centroid cell id over unit vectors: argmax of dot with each
    * centroid literal (|v|=|c|≈1 ⇒ argmin L2 == argmax dot); pure
    * expression, first index wins ties deterministically. */
  private[graft] def cellOf(c: Column, centroids: Array[Array[Double]]): Column = {
    val dots = array(centroids.map(ct =>
      Similarity.dot(Similarity.normalizedSafe(c), array(ct.map(lit): _*))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Offline index build: writes `indexDir/corpus` (all columns + `cell`,
    * partitioned by cell) and `indexDir/centroids` (nlist rows). */
  def build(emb: DataFrame, id: String, vec: String, indexDir: String,
            nlist: Int = 16, trainLimit: Int = 10000): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    // deterministic training prefix (TakeOrdered, not bare limit); null
    // vectors excluded — KMeans.fit dies on null features
    val train = emb.filter(col(vec).isNotNull).orderBy(col(id)).limit(trainLimit)
      .select(array_to_vector(Similarity.normalizedSafe(col(vec))).as("features"))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10).fit(train)
    val centroids = model.clusterCenters.map(_.toArray)
    emb.withColumn("cell", cellOf(col(vec), centroids))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/corpus")
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (ct, i) => (i, ct.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Online probe: top-k by cosine against the anchor, scanning only the
    * nprobe cells nearest the anchor. nprobe = nlist degenerates to exact
    * search (still through the index layout). */
  def topK(spark: SparkSession, indexDir: String, id: String, vec: String,
           anchorId: Long, k: Int, nprobe: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    // anchor lookup is a pushed-down point filter on the id column (a
    // production query would carry the vector itself and skip this scan)
    val anchorRow = corpus.filter(col(id) === anchorId)
      .select(col(vec).as("q_vec"))
    // the generator child stays the INLINE dots expression — an attribute
    // child would trigger InferFiltersFromGenerate and push the whole
    // centroid-dot array into the anchor filter (benign on a one-row
    // branch, but the audit flags the pattern; see Dedup.shingles)
    val probeCells = anchorRow
      .select(posexplode(array(centroids.map(ct =>
        Similarity.dot(Similarity.normalizedSafe(col("q_vec")),
          array(ct.map(lit): _*))): _*)).as(Seq("cell", "d")))
      .orderBy(col("d").desc, col("cell")).limit(nprobe)
      .select(col("cell"))
    Similarity.scoreTopK(
      corpus.join(broadcast(probeCells), "cell").drop("cell"),
      anchorRow, id, vec, anchorId, k)
  }

  /** INCREMENTAL INDEX MAINTENANCE (round 14) — the gap between the
    * offline [[build]] and a lake that ingests continuously: new vectors
    * are assigned to their nearest EXISTING cell (the codebook stays
    * frozen between rebuilds — the standard IVF maintenance contract:
    * assignments stay centroid-consistent, only cell balance drifts) and
    * appended to the cell-partitioned corpus, so every probe immediately
    * sees them through the same partition-pruned layout. Ids already in
    * the corpus are dropped first by the S6 step
    * ([[Ops.insertIfAbsent]]), which makes a replayed micro-batch a
    * no-op — at-least-once delivery degrades to exactly-once, same
    * discipline as the near-dup sink.
    *
    * Appended ids are also recorded in an `appended/` sidecar (the corpus
    * schema stays byte-identical to [[build]]'s, so every existing probe
    * and the q_ann_ivf_topk gate are untouched); [[maintenanceAudit]]
    * reads it for the staleness/recall row (see [[appendAbsent]]). */
  def appendBatch(batch: DataFrame, id: String, vec: String,
                  indexDir: String): Unit = {
    val centRows = batch.sparkSession.read.parquet(s"$indexDir/centroids")
      .orderBy(col("cell")).collect()
    require(centRows.nonEmpty,
      s"IvfIndex.appendBatch: no centroid table under $indexDir — build() first")
    val centroids = centRows.map(_.getSeq[Double](1).toArray)
    appendAbsent(batch, id, indexDir, "corpus")(
      _.withColumn("cell", cellOf(col(vec), centroids)))
  }

  /** The append of both maintained indexes ([[PqIndex.appendBatch]] too):
    * the batch's absent rows ([[Ops.insertIfAbsent]] against `store`) get
    * their `cell` from the frozen `assign` and are appended to `store`
    * partitioned by cell, their ids to the `appended` sidecar. The sidecar
    * append comes second, so a crash between the two undercounts
    * staleness — the audit is advisory, never load-bearing. Both appends
    * run the same anti-joined plan (its file listing is fixed when the
    * plan is built). */
  private[operators] def appendAbsent(batch: DataFrame, id: String,
                                      indexDir: String, store: String)
                                     (assign: DataFrame => DataFrame): Unit = {
    val storeDir = s"$indexDir/$store"
    val fresh = assign(Ops.insertIfAbsent(batch, id,
      Some(batch.sparkSession.read.parquet(storeDir))))
    fresh.write.mode("append").partitionBy("cell").parquet(storeDir)
    fresh.select(col(id)).write.mode("append").parquet(s"$indexDir/appended")
  }

  /** Staleness / recall audit of a maintained index — the maintenance
    * job's decision row for "rebuild the codebook yet?": one row with
    * `n_total`, `n_appended`, `staleness_frac` (share of the corpus the
    * frozen codebook never trained on), and `recall_at_k` — the mean
    * probe-vs-exhaustive recall@k at the given `nprobe` over the
    * `anchors` LOWEST appended ids (deterministic sample; appended
    * vectors are exactly the ones cell drift can hurt). Driver cost is
    * bounded by `anchors` (2 bounded top-k jobs each), never the corpus;
    * with no appended rows recall is null and staleness 0. */
  def maintenanceAudit(spark: SparkSession, indexDir: String, id: String,
                       vec: String, k: Int, nprobe: Int,
                       anchors: Int = 8): DataFrame = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$indexDir/corpus")
    auditRow(spark, indexDir, id, corpus.count(), anchors) { a =>
      (topK(spark, indexDir, id, vec, a, k, nprobe).select(col(id)).as[Long].collect().toSet,
        Similarity.scoreTopK(corpus.drop("cell"),
            corpus.filter(col(id) === a).select(col(vec).as("q_vec")),
            id, vec, a, k)
          .select(col(id)).as[Long].collect().toSet)
    }
  }

  /** The audit row of both maintained indexes: `(n_total, n_appended,
    * staleness_frac, recall_at_k)`, fractions rounded to 6 decimals.
    * `recall_at_k` averages |probe ∩ exact| / |exact| over the `anchors`
    * lowest appended ids (an empty exact set scores 1.0; null when none
    * are appended); `probeExact` gives one anchor's two id sets. */
  private[operators] def auditRow(spark: SparkSession, indexDir: String,
                                  id: String, nTotal: Long, anchors: Int)
                                 (probeExact: Long => (Set[Long], Set[Long])): DataFrame = {
    import spark.implicits._
    val appendedDir = s"$indexDir/appended"
    val path = new org.apache.hadoop.fs.Path(appendedDir)
    val appended =
      if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
        Some(spark.read.parquet(appendedDir)) else None
    val nApp = appended.fold(0L)(_.count())
    val recall = if (nApp == 0L) None else appended.map { app =>
      val hits = app.orderBy(col(id)).limit(anchors).collect().map { r =>
        val (probe, exact) = probeExact(r.getLong(0))
        if (exact.isEmpty) 1.0
        else probe.intersect(exact).size.toDouble / exact.size
      }
      hits.sum / hits.length
    }
    def r6(x: Double): Double = math.rint(1e6 * x) / 1e6
    Seq((nTotal, nApp, r6(nApp.toDouble / nTotal), recall.map(r6)))
      .toDF("n_total", "n_appended", "staleness_frac", "recall_at_k")
  }

  // -------------------------------------------------------------------
  // Registry plumbing: the correctness gate and bench call queries as
  // (session, sfDir) pairs with no setup hook, so the offline build runs
  // lazily once per (corpus, params) into a content-addressed temp dir and
  // is reused across calls AND across JVMs (Verify then Bench). Bench
  // additionally pre-builds during its warmup phase so the timed run
  // measures the probe, which is the honest split: index build is ingest.
  // -------------------------------------------------------------------

  /** Build-if-absent; returns the index dir. Content fingerprint, atomic
    * publish, and concurrent-builder safety all come from [[StateCache]]
    * (one publish protocol for every cached-state user). */
  def ensure(emb: DataFrame, id: String, vec: String, sfDir: String,
             nlist: Int = 16, trainLimit: Int = 10000): String =
    StateCache.ensure(emb.sparkSession, s"$sfDir/embeddings.parquet",
      s"$sfDir|$nlist|$trainLimit", s"graft-ivf-n$nlist",
      Seq("corpus", "centroids"))(
      tmp => build(emb, id, vec, tmp, nlist, trainLimit))
}
