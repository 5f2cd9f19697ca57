package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 10x corpus behind the scale claims: correctness gates run at sf0.01
  * and the bench at sf0.1, so every 100 TB claim above that needs a larger
  * corpus whose structure is known. [[synth]] writes one:
  *
  *   sbt "runMain graft.ScaleProbe <baseDir> <outDir>"   (10 replicas)
  *
  * and the registered queries are then profiled at both scales with
  * `graft.Profile`, once with `SPARK_GRAFT_SF_DIR=<baseDir>` and once with
  * `SPARK_GRAFT_SF_DIR=<outDir>` (SCALE_PROBE.md).
  *
  * SYNTHESIS preserves each family's within-corpus structure exactly while
  * keeping replicas disjoint, so the predicted scaling of every pair-
  * generating family is linear (x replicas), not quadratic:
  *   - documents: every token of replica r > 0 gets a `~r<r>` suffix — a
  *     bijective shingle remap, so within-replica Jaccard/MinHash/prefix
  *     structure is IDENTICAL to the base corpus and cross-replica shingle
  *     overlap is zero.
  *   - embeddings: replica r > 0 is a signed circular shift (an orthogonal
  *     transform) of the base vectors — within-replica cosines preserved
  *     exactly (up to float reassociation), cross-replica cosines
  *     pseudo-random.
  *   - orders/lineitem/part: join keys offset per replica — ten disjoint
  *     trade graphs / basket universes.
  *   - events and customer: see the comments in [[synth]].
  *   - region/nation/supplier: copied once.
  */
object ScaleProbe {
  private val Off = 10000000L
  private val Dim = 64

  /** Offset `keys` by r*Off — replica key spaces are disjoint. */
  private def offsetKeys(df: DataFrame, r: Int, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * Off)))

  private def replicate(base: DataFrame, replicas: Int)(mk: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until replicas).map(r => if (r == 0) base else mk(base, r)).reduce(_ unionByName _)

  def synth(spark: SparkSession, baseDir: String, outDir: String, replicas: Int): Unit = {
    val t0 = System.nanoTime()
    val docs = Tables.load(spark, baseDir, "documents")
    // bijective token remap: suffix every token with ~r<r> (no whitespace,
    // survives the repo-wide split(trim(text), "\\s+") tokenizer)
    replicate(docs, replicas) { (b, r) =>
      offsetKeys(b, r, Seq("doc_id"))
        .withColumn("text",
          array_join(transform(split(trim(col("text")), "\\s+"),
            t => concat(t, lit(s"~r$r"))), " "))
        .withColumn("n_chars", length(col("text")))
    }.repartition(16).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.load(spark, baseDir, "embeddings")
    // signed circular shift: orthogonal, so within-replica cosines are the
    // base corpus's; the shift stride and sign pattern differ per replica
    replicate(emb, replicas) { (b, r) =>
      val shift = (r * 7) % Dim
      offsetKeys(b, r, Seq("vec_id"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(Dim - 1)), i =>
            element_at(col("embedding"), (pmod(i + lit(shift), lit(Dim)) + 1).cast("int")) *
              when(pmod(xxhash64(lit(r), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
            .cast("array<float>"))
    }.repartition(16).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    replicate(Tables.load(spark, baseDir, "orders"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("o_orderkey", "o_custkey"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    replicate(Tables.load(spark, baseDir, "lineitem"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("l_orderkey", "l_partkey", "l_suppkey"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    replicate(Tables.load(spark, baseDir, "part"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("p_partkey"))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/part.parquet")

    // events: user universes disjoint per replica, timestamps untouched —
    // so per-user day spans (recursion DEPTH) are scale-invariant and only
    // the user count (recursion FRONTIER) grows with replicas
    replicate(Tables.load(spark, baseDir, "events"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("event_id", "user_id"))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // customer (round 11, for the fuzzy-match family): keys offset AND
    // names suffixed "~<r><r><r>" — a common suffix preserves every
    // within-replica pairwise levenshtein EXACTLY, while any two replicas'
    // suffixes differ in 3 positions, so cross-replica distances exceed
    // the family's maxDist and FastSS (complete blocking + exact verify)
    // emits exactly 10x the base pair rows
    replicate(Tables.load(spark, baseDir, "customer"), replicas) { (b, r) =>
      offsetKeys(b, r, Seq("c_custkey"))
        .withColumn("c_name", concat(col("c_name"), lit(s"~$r$r$r")))
    }.repartition(8).write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // dimension tables stay 1x (the realistic 100 TB shape: dims grow
    // slower than facts), so every table and registry query loads here
    Seq("region", "nation", "supplier").foreach { t =>
      Tables.load(spark, baseDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    val secs = (System.nanoTime() - t0) / 1e9
    Tables.names.foreach { t =>
      println(s"[synth] $t ${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    }
    println(f"[synth] $replicas replicas in $secs%.1f s")
  }

  /** nPairs chain pairs in components of `chainLen` nodes: component c has
    * nodes c*chainLen .. c*chainLen+chainLen-1 and pairs (j, j+1). Known
    * components, diameter chainLen-1, ids disjoint across components. */
  private[graft] def chainPairs(spark: SparkSession, nPairs: Long, chainLen: Int): DataFrame = {
    val per = (chainLen - 1).toLong
    spark.range(nPairs)
      .select(
        (expr(s"id div $per") * chainLen + pmod(col("id"), lit(per))).as("doc_a"),
        (expr(s"id div $per") * chainLen + pmod(col("id"), lit(per)) + 1).as("doc_b"))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/probe/sf1")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    synth(spark, baseDir, outDir, replicas = 10)
    spark.stop()
  }
}
