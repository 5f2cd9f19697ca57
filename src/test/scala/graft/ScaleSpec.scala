package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EngagementAggregator, Scale, Similarity}

class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Scale.memo: one build per (key, session); keys isolate; a new session rebuilds") {
    var builds = 0
    def build(): org.apache.spark.sql.DataFrame = { builds += 1; Seq(builds).toDF("b") }
    val a1 = graft.operators.Scale.memo("scalespec-memo-a", spark)(build())
    val a2 = graft.operators.Scale.memo("scalespec-memo-a", spark)(build())
    assert((a1 eq a2) && builds == 1, "same key + session must reuse the built value")
    graft.operators.Scale.memo("scalespec-memo-b", spark)(build()): Unit
    assert(builds == 2, "a different key must build its own value")
    // a different SparkSession (same context) must NOT see the old entry:
    // its checkpointed blocks may be gone, so the memo rebuilds
    val s2 = spark.newSession()
    graft.operators.Scale.memo("scalespec-memo-a", s2)(build()): Unit
    assert(builds == 3, "a new session must rebuild, not reuse")
  }

  test("salted join ≡ plain join (skewed fact, 1:N)") {
    // hot key "k0" holds 80% of fact rows
    val fact = ((1 to 400).map(i => ("k0", i)) ++ (1 to 100).map(i => (s"k${i % 7 + 1}", i)))
      .toDF("key", "v")
    val dim = (0 to 7).map(i => (s"k$i", s"dim$i")).toDF("key", "name")
    val plain = fact.join(dim, Seq("key")).select($"key", $"v", $"name")
      .orderBy($"key", $"v").collect()
    val salted = Scale.saltedJoin(fact, dim, "key", salts = 8)
      .select($"key", $"v", $"name").orderBy($"key", $"v").collect()
    assert(salted sameElements plain)
  }

  test("salted band self-join ≡ plain band self-join (hot band)") {
    // band "B0" holds 60 members (one m²-task straggler unsalted), plus a
    // spread of cold bands and overlap members so pairs repeat across
    // bands and exercise the final distinct; ids share bands irregularly
    val banded = (
      (1 to 60).map(i => (i.toLong, "B0")) ++
      (30 to 80).map(i => (i.toLong, s"b${i % 5}")) ++
      (1 to 20).map(i => (i.toLong, s"b${i % 3}"))
    ).toDF("id", "band_key")
    def plain = {
      val l = banded.select($"id".as("a"), $"band_key")
      l.join(banded.select($"id".as("b"), $"band_key"), "band_key")
        .filter($"a" < $"b").select($"a", $"b").distinct()
        .orderBy($"a", $"b").as[(Long, Long)].collect()
    }
    val salted = Scale.saltedBandSelfJoin(banded, "id", "band_key",
        "a", "b", salts = 4, hotMin = 10)
      .orderBy($"a", $"b").as[(Long, Long)].collect()
    assert(salted sameElements plain)
    // degenerate corners: every band hot / every band cold — same pair set
    val allHot = Scale.saltedBandSelfJoin(banded, "id", "band_key",
        "a", "b", salts = 3, hotMin = 2)
      .orderBy($"a", $"b").as[(Long, Long)].collect()
    assert(allHot sameElements plain)
    val allCold = Scale.saltedBandSelfJoin(banded, "id", "band_key",
        "a", "b", salts = 3, hotMin = 1000)
      .orderBy($"a", $"b").as[(Long, Long)].collect()
    assert(allCold sameElements plain)
  }

  test("guardedBandCandidates: plain and salted joins under the cap, pre-join gate, post-join audit") {
    val corpus = (1L to 10L).toDF("id")
    // hot band B0 plus cold bands, (1, 2) repeating across bands: 8 pair
    // slots and 7 unique pairs, under 1.0 x 10 rows at bands = 1
    val sparse = (Seq((1L, "B0"), (2L, "B0"), (3L, "B0"), (4L, "B0"),
      (3L, "b1"), (5L, "b1"), (1L, "b2"), (2L, "b2"), (6L, "b3"))).toDF("id", "band_key")
    val expected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (3L, 5L))
    // 10 ids in one band: 45 pair slots > 1.0 x 10 rows x 1 band
    val clique = (1L to 10L).map(i => (i, "B0")).toDF("id", "band_key")
    // 20 distinct pairs, each alone in its band: 20 slots <= 1.0 x 10 rows
    // x 4 bands keeps the pre-join gate silent, yet 20 unique pairs > 10
    val allPairs = for (a <- 1L to 10L; b <- a + 1 to 10L) yield (a, b)
    val spread = allPairs.take(20)
      .zipWithIndex.flatMap { case ((a, b), k) => Seq((a, s"p$k"), (b, s"p$k")) }
      .toDF("id", "band_key")
    def pairs(df: DataFrame): Seq[(Long, Long)] =
      df.orderBy($"a", $"b").as[(Long, Long)].collect().toSeq
    assert(pairs(Scale.bandSelfJoin(sparse, "id", "band_key", "a", "b")) == expected)
    assert(pairs(Scale.saltedBandSelfJoin(sparse, "id", "band_key", "a", "b",
      salts = 2, hotMin = 3)) == expected)
    val preJoin = "projected band candidates exceed"
    val postJoin = "band-join candidates exceed"
    val salted = Some((2, 3))
    // (case, banding, cap, salt, bands, expected pairs | raise message)
    val cases = Seq[(String, DataFrame, Option[Double],
        Option[(Int, Int)], Int, Either[String, Seq[(Long, Long)]])](
      ("under cap, plain", sparse, Some(1.0), None, 1, Right(expected)),
      ("under cap, salted", sparse, Some(1.0), salted, 1, Right(expected)),
      ("uncapped clique, plain", clique, None, None, 1, Right(allPairs)),
      ("uncapped clique, salted", clique, None, salted, 1, Right(allPairs)),
      ("clique, plain", clique, Some(1.0), None, 1, Left(preJoin)),
      ("clique, salted", clique, Some(1.0), salted, 1, Left(preJoin)),
      ("one pair per band, plain", spread, Some(1.0), None, 4, Left(postJoin)),
      ("one pair per band, salted", spread, Some(1.0), salted, 4, Left(postJoin)))
    cases.foreach { case (name, banded, cap, salt, bands, want) =>
      def call() = Scale.guardedBandCandidates(corpus, "id", "a", "b", bands,
        cap, "maxCandidatesPerRow", "t", salt, None)(Some(banded)).get
      want match {
        case Right(exp) => assert(pairs(call()) == exp, name)
        case Left(msg) =>
          // no action on the returned frame: the call itself must raise
          val e = intercept[Exception](call(): Unit)
          val m = e.getMessage
          assert(m.contains(msg) && m.contains("candidates exceed") &&
            m.contains("maxCandidatesPerRow = None"), s"$name: $m")
          if (msg == postJoin)
            assert(e.isInstanceOf[IllegalStateException] && !m.contains(preJoin), s"$name: $m")
      }
    }
    // memo keys: the corpus count under <key>:basecount, the banding under <key>
    val key = "scalespec-guarded"
    assert(pairs(Scale.guardedBandCandidates(corpus, "id", "a", "b", 1, Some(1.0),
      "maxCandidatesPerRow", "t", None, Some(key))(Some(sparse)).get) == expected)
    assert(Scale.memo[DataFrame](s"$key:basecount", spark)(
      fail("corpus count not memoized")).head().getLong(0) == 10L)
    assert(Scale.memo[Option[DataFrame]](key, spark)(
      fail("banding not memoized")).exists(_.count() == 9L))
  }

  test("pre-join gate names the caller's cap: lshCosinePairs raises with maxCandidatesPerVec") {
    // SimilaritySpec's all-hot corpus: 4200 identical vectors through one
    // 1-bit band are ~8.8M pair slots > 2048 x 4200 rows x 1 band, so the
    // PRE-JOIN gate is the one that fires
    val hot = spark.range(4200)
      .select($"id".as("vec_id"), typedLit(Array(1.0f, 0.5f)).as("embedding"))
    val e = intercept[Exception] {
      Similarity.lshCosinePairs(hot, "vec_id", "embedding", 0.9,
        bands = 1, rowsPerBand = 1): Unit
    }
    val m = e.getMessage
    assert(m.contains("projected band candidates exceed"), m)
    assert(m.contains("maxCandidatesPerVec") && !m.contains("maxCandidatesPerDoc"), m)
  }

  test("bandVolumeGuard: sound pre-join gate — silent when the post-gate would be, raises on a clique") {
    // 10 ids sharing one band: 45 pair slots over 1 band. factor 1.0 x 10
    // rows x 1 band = bound 10 < 45 -> raise BEFORE any join consumes it
    val clique = (1L to 10L).map(i => (i, "B0")).toDF("id", "band_key")
    val corpus = (1L to 10L).toDF("id")
    val e = intercept[Exception] {
      Scale.bandVolumeGuard(clique, "band_key", Scale.baseCountFrame(corpus), 1.0, 1, "t",
        "maxCandidatesPerDoc").collect()
    }
    assert(e.getMessage.contains("candidates exceed"), e.getMessage)
    // soundness: slots <= factor x n x bands -> pass-through identity,
    // even though collisions mean slots > unique candidates
    val sparse = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "band_key")
    val kept = Scale.bandVolumeGuard(sparse, "band_key", Scale.baseCountFrame(corpus),
      1.0, 2, "t", "maxCandidatesPerDoc")
    assert(kept.orderBy($"id").as[(Long, String)].collect()
      sameElements sparse.orderBy($"id").as[(Long, String)].collect())
  }

  test("two-level salted agg ≡ direct agg") {
    val df = (1 to 1000).map(i => (s"k${i % 3}", i.toLong)).toDF("key", "v")
    val direct = df.groupBy($"key").agg(count(lit(1)).as("n"), max($"v").as("mx"))
      .orderBy($"key").as[(String, Long, Long)].collect()
    val two = Scale.twoLevelAgg(df, "key", salts = 16,
        partial = Seq(count(lit(1)).as("n"), max($"v").as("mx")),
        merge = Seq(sum($"n").as("n"), max($"mx").as("mx")))
      .orderBy($"key").as[(String, Long, Long)].collect()
    assert(two sameElements direct)
  }

  test("bucketed table joins without exchange on the bucket key") {
    val a = (1L to 500L).map(i => (i, s"a$i")).toDF("k", "av")
    val b = (1L to 500L).map(i => (i, s"b$i")).toDF("k", "bv")
    Scale.writeBucketed(a, "bk_a", "k", buckets = 4)
    Scale.writeBucketed(b, "bk_b", "k", buckets = 4)
    // force the sort-merge path (tiny fixtures would broadcast otherwise) to
    // observe that bucketing removes the shuffle on both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing not used:\n$plan")
      assert(joined.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed embeddings lake removes the vector-side exchanges from candidate re-score") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    Scale.writeBucketed(emb, "emb_bk", "vec_id", buckets = 4)
    val cand = Seq((0L, 1L), (0L, 2L), (3L, 9L), (5L, 7L)).toDF("vec_a", "vec_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
      val lake = Similarity.rescoreCandidates(cand, emb, "vec_id", "embedding")
      val bk = Similarity.rescoreCandidates(cand, spark.table("emb_bk"),
        "vec_id", "embedding")
      val lakePlan = lake.queryExecution.executedPlan.toString
      val bkPlan = bk.queryExecution.executedPlan.toString
      // plain lake: candidates + both wide vector sides shuffle (4 total:
      // cand, va, intermediate-for-vec_b, vb). Bucketed: ONLY the narrow
      // candidate side and the join-1 intermediate move — both vector
      // scans serve their join from bucket partitioning.
      assert(exchanges(lakePlan) == 4, s"lake plan:\n$lakePlan")
      assert(exchanges(bkPlan) == 2, s"bucketed plan:\n$bkPlan")
      assert("Bucketed: true".r.findAllIn(bkPlan).size == 2,
        s"both embedding scans should be bucketed:\n$bkPlan")
      // same rows either way
      val a = lake.orderBy($"vec_a", $"vec_b").as[(Long, Long, Double)].collect()
      val b = bk.orderBy($"vec_a", $"vec_b").as[(Long, Long, Double)].collect()
      assert(a.length == 4 && (a sameElements b))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned lake write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString + "/events"
    val df = Seq(("tweets", 1), ("tweets", 2), ("users", 3)).toDF("topic", "v")
    Scale.writePartitioned(df, dir, Seq("topic"))
    val pruned = spark.read.parquet(dir).filter($"topic" === "users")
    assert(pruned.count() == 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("topic=tweets"))
  }

  test("compactDir collapses a many-small-file table, preserving data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (1L to 2000L).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(64).write.parquet(dir) // the streaming-sink debris shape
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(dataFiles == 64)
    val parts = Scale.compactDir(spark, dir) // default target >> total size
    assert(parts == 1 && dataFiles == 1)
    val got = spark.read.parquet(dir).orderBy($"id").as[(Long, String)].collect()
    assert(got.length == 2000 && got.head == ((1L, "row1")) && got.last == ((2000L, "row2000")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_next")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + "_old")))
  }

  test("compactDir recovers a crash between the swap renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString + "/t"
    val df = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v")
    df.repartition(8).write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate: compacted copy written to _next, table moved aside, crash
    spark.read.parquet(dir).repartition(1).write.parquet(dir + "_next")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_old")))
    // next invocation must first publish the stranded _next, then compact
    Scale.compactDir(spark, dir)
    val got = spark.read.parquet(dir).orderBy($"id").as[(Long, String)].collect()
    assert(got.length == 100 && got.head == ((1L, "r1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(dir + "_next")))
  }

  test("range-clustered write yields files with disjoint key ranges (data skipping)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/t"
    val rnd = new scala.util.Random(7)
    val df = (1 to 4000).map(_ => rnd.nextInt(100000).toLong).toDF("k")
    Scale.writeRangeClustered(df, dir, Seq("k"), files = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
    assert(files.length == 4)
    // per-file min/max must not overlap — that disjointness is exactly what
    // lets parquet footer stats prune files under a range predicate
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"k"), max($"k")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // STRICTLY disjoint: a shared boundary key would force a point
    // predicate on it to read both files — the range partitioner assigns
    // each key to exactly one partition, so strict inequality must hold
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, ranges.mkString(","))
      case _ =>
    }
  }

  test("z-ordered write shrinks per-file extent on BOTH dimensions (multi-column skipping)") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 8000).map(_ => (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .toDF("x", "y")
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileExtents(dir: String): Array[(Double, Double)] = {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(max($"x") - min($"x"), max($"y") - min($"y")).head()
        (r.getLong(0).toDouble, r.getLong(1).toDouble)
      }
    }
    val zDir = java.nio.file.Files.createTempDirectory("graft_z2").toString + "/z"
    val rDir = java.nio.file.Files.createTempDirectory("graft_z2").toString + "/r"
    Scale.writeZOrdered(df, zDir, Seq("x", "y"), files = 16)
    Scale.writeRangeClustered(df, rDir, Seq("x"), files = 16)
    val zExt = fileExtents(zDir)
    val rExt = fileExtents(rDir)
    assert(zExt.length == 16)
    def avg(a: Array[Double]) = a.sum / a.length
    val (zx, zy) = (avg(zExt.map(_._1)), avg(zExt.map(_._2)))
    val (rx, ry) = (avg(rExt.map(_._1)), avg(rExt.map(_._2)))
    // 16 files over a 2-D Morton curve → per-file extent ~1/4 of the domain
    // on EACH axis (F^(-1/c)); give it slack to 45%
    assert(zx < 65536 * 0.45 && zy < 65536 * 0.45, s"z extents: $zx, $zy")
    // the single-column clustering prunes x hard but leaves y unclustered —
    // exactly the failure mode z-order exists to fix
    assert(rx < 65536 * 0.15, s"range-clustered x extent: $rx")
    assert(ry > 65536 * 0.8, s"range-clustered y should span the domain: $ry")
    assert(zy < ry * 0.5, s"z-order must beat single-column clustering on y: $zy vs $ry")
  }

  test("z-ordered layout round-trips the data unchanged") {
    val rnd = new scala.util.Random(13)
    val df = (1 to 3000).map(i => (i.toLong, rnd.nextInt(1000).toDouble, rnd.nextInt(1000).toLong))
      .toDF("id", "a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft_z3").toString + "/t"
    Scale.writeZOrdered(df, dir, Seq("a", "b"), files = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 3000)
    assert(df.exceptAll(back).isEmpty && back.exceptAll(df).isEmpty)
  }

  test("A9 Aggregator builds the engagement map in one pass, merge-safe") {
    val rows = Seq(
      ("u1", (100L, 1L, 2L, 3L)), ("u1", (100L, 1L, 0L, 0L)), ("u1", (200L, 5L, 5L, 5L)),
      ("u2", (100L, 9L, 9L, 9L)))
      .toDF("author", "e").as[(String, EngagementAggregator.In)]
    val got = rows.groupByKey(_._1).mapValues(_._2)
      .agg(EngagementAggregator.aggregator.toColumn.name("log"))
      .collect().toMap
    assert(got("u1")(100L) == Seq(2L, 2L, 3L) && got("u1")(200L) == Seq(5L, 5L, 5L))
    assert(got("u2")(100L) == Seq(9L, 9L, 9L))
  }
}
