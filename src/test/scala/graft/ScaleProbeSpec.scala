package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 10x corpus the scale probe measures against is only evidence if the
  * synthesis preserves each family's within-replica structure EXACTLY while
  * keeping replicas disjoint — otherwise the measured curves answer a
  * different question than "the base workload at 10x the rows". These
  * tests pin the three synthesis invariants SCALE_PROBE.md relies on.
  */
class ScaleProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val outDir = {
    val dir = java.nio.file.Files.createTempDirectory("probe_synth").toString
    // keep spec smoke lines out of the canonical measurement file
    sys.props("graft.probe.results") = s"$dir/probe_results.jsonl"
    ScaleProbe.synth(spark, "/root/testdata/sf0.001", dir, replicas = 2)
    dir
  }
  private val Off = 10000000L

  test("document token remap is a shingle bijection: within-replica Jaccard preserved, cross-replica overlap zero") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    def shingles(idLo: Long, idHi: Long) = docs
      .filter(col("doc_id") >= idLo && col("doc_id") < idHi)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(split(trim(text), '\\\\s+')) - 4, 0)), " +
          "i -> array_join(slice(split(trim(text), '\\\\s+'), i, 5), ' '))")).as("g"))
    val base = shingles(0L, Off).localCheckpoint()
    val rep = shingles(Off, 2 * Off).localCheckpoint()
    // per-doc shingle-set size identical to its replica image (bijection)
    val szBase = base.groupBy(col("doc_id")).agg(count_distinct(col("g")).as("n"))
    val szRep = rep.groupBy((col("doc_id") - Off).as("doc_id"))
      .agg(count_distinct(col("g")).as("n"))
    assert(szBase.join(szRep, Seq("doc_id")).filter(szBase("n") =!= szRep("n")).isEmpty)
    // pairwise shared-shingle counts identical (Jaccard numerators): the
    // dedup families' candidate structure is exactly the base corpus's
    def pairCounts(sh: org.apache.spark.sql.DataFrame, off: Long) = sh
      .select((col("doc_id") - off).as("a"), col("g"))
      .join(sh.select((col("doc_id") - off).as("b"), col("g")), "g")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    val pb = pairCounts(base, 0L)
    val pr = pairCounts(rep, Off)
    assert(pb.exceptAll(pr).isEmpty && pr.exceptAll(pb).isEmpty)
    // replicas share no shingle at all — pair generation cannot cross
    assert(base.select(col("g")).intersect(rep.select(col("g"))).isEmpty)
  }

  test("embedding replica transform is orthogonal: within-replica cosines and norms preserved") {
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    def dots(lo: Long, off: Long) = {
      val a = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 50)
        .select((col("vec_id") - off).as("a"), col("e").as("ea"))
      val b = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 50)
        .select((col("vec_id") - off).as("b"), col("e").as("eb"))
      a.crossJoin(b).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x).as("dot"))
    }
    val joined = dots(0L, 0L).withColumnRenamed("dot", "d0")
      .join(dots(Off, Off).withColumnRenamed("dot", "d1"), Seq("a", "b"))
    assert(joined.count() == 50L * 49 / 2)
    // signed permutation reorders the float products; tolerance covers the
    // reassociation, and unit-scale dots make it absolute
    assert(joined.filter(abs(col("d0") - col("d1")) > 1e-5).isEmpty)
    val norms = emb.select(pmod(col("vec_id"), lit(Off)).as("k"),
        (col("vec_id") >= Off).as("rep"),
        aggregate(col("e"), lit(0.0), (acc, x) => acc + x * x).as("n2"))
      .groupBy(col("k")).agg(max(col("n2")).as("hi"), min(col("n2")).as("lo"))
    assert(norms.filter(col("hi") - col("lo") > 1e-5).isEmpty)
  }

  test("relational replicas are key-disjoint and row-exact") {
    for ((t, n) <- Seq("orders" -> 1500L, "lineitem" -> 6000L, "part" -> 200L)) {
      val df = spark.read.parquet(s"$outDir/$t.parquet")
      assert(df.count() == 2 * n, s"$t row count")
    }
    val ords = spark.read.parquet(s"$outDir/orders.parquet")
    assert(ords.filter(col("o_orderkey") >= Off).count() ==
      ords.filter(col("o_orderkey") < Off).count())
    // replica key spaces must not collide (disjoint trade graphs)
    assert(ords.select(col("o_orderkey")).distinct().count() == ords.count())
  }

  test("events replicas: user universes disjoint, per-user day structure preserved") {
    val ev = spark.read.parquet(s"$outDir/events.parquet")
    val base = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(ev.count() == 2 * base.count())
    // user spaces disjoint (frontier grows): the offset clears the whole
    // base id range, so raw replica ids can never collide with base ids;
    // event ids stay globally unique
    assert(ev.select(col("event_id")).distinct().count() == ev.count())
    val maxBaseUser = base.agg(max(col("user_id"))).head().getLong(0)
    assert(maxBaseUser < Off, "base user ids must fit under the replica offset")
    assert(ev.filter(col("user_id") >= Off).count() == base.count())
    // timestamps untouched: each replica user's day-span equals its base
    // image's — recursion DEPTH is scale-invariant by construction
    def spans(df: org.apache.spark.sql.DataFrame, off: Long) = df
      .filter(col("user_id") >= off && col("user_id") < off + Off)
      .groupBy((col("user_id") - off).as("u"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    val d = spans(ev, 0L).alias("b").join(spans(ev, Off).alias("r"), "u")
      .filter(col("b.lo") =!= col("r.lo") || col("b.hi") =!= col("r.hi"))
    assert(d.isEmpty, "replica user day spans drifted from base")
  }

  test("synth writes a complete sf dir: every table loads, dims stay 1x, registry queries run") {
    val base = "/root/testdata/sf0.001"
    Tables.names.foreach(t => assert(!Tables.load(spark, outDir, t).isEmpty, t))
    for (t <- Seq("region", "nation", "supplier"))
      assert(Tables.load(spark, outDir, t).count() == Tables.load(spark, base, t).count(),
        s"$t row count")
    assert(!SparkEntry.queries("q5_region_revenue")(spark, outDir).isEmpty)
  }

  test("chainPairs builds known components and dupGroups resolves them to the component min") {
    val pairs = ScaleProbe.chainPairs(spark, nPairs = 700, chainLen = 8)
    val groups = graft.operators.Dedup.dupGroups(pairs)
    // every node's group is its chain's first node: id div 8 * 8
    val wrong = groups.filter(col("group_id") =!= expr("doc_id div 8") * 8)
    assert(wrong.isEmpty)
    assert(groups.count() == 800) // 100 chains x 8 nodes
  }

  test("customer name remap: within-replica levenshtein preserved exactly, cross-replica beyond maxDist") {
    val cust = spark.read.parquet(s"$outDir/customer.parquet")
    val base = cust.filter(col("c_custkey") < Off)
      .select(col("c_custkey").as("k"), col("c_name").as("n")).localCheckpoint()
    val rep = cust.filter(col("c_custkey") >= Off)
      .select((col("c_custkey") - Off).as("k"), col("c_name").as("n")).localCheckpoint()
    assert(base.count() == rep.count())
    // a common suffix is levenshtein-invariant: every base pair's distance
    // equals its replica image's — the fuzzy family's candidate AND
    // verify structure is exactly the base corpus's (sampled pairs; the
    // suffix argument is positional, so a sample is representative)
    def pairDists(df: org.apache.spark.sql.DataFrame) = df.filter(col("k") < 40)
      .select(col("k").as("a"), col("n").as("na"))
      .join(df.filter(col("k") < 40).select(col("k").as("b"), col("n").as("nb")),
        col("a") < col("b"))
      .select(col("a"), col("b"), levenshtein(col("na"), col("nb")).as("d"))
    val drift = pairDists(base).withColumnRenamed("d", "db")
      .join(pairDists(rep).withColumnRenamed("d", "dr"), Seq("a", "b"))
      .filter(col("db") =!= col("dr"))
    assert(drift.isEmpty, "suffix remap changed a within-replica levenshtein")
    // cross-replica distances exceed the family's maxDist (1): base vs
    // replica suffixes differ by a 4-char insertion
    val minCross = base.select(col("n").as("na")).limit(30)
      .crossJoin(rep.select(col("n").as("nb")).limit(30))
      .agg(min(levenshtein(col("na"), col("nb")))).head().getInt(0)
    assert(minCross >= 2, s"cross-replica names reachable at maxDist: $minCross")
  }
}
