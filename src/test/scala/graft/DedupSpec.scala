package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
    (3L, "completely different words appear in this other document here"),
    (4L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (5L, "short text")                                            // < n words
  ).toDF("doc_id", "text")

  test("shingles: w-grams, distinct, short docs yield none") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val counts = sh.groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    assert(counts(1L) == 6) // 10 words -> 6 5-grams
    assert(!counts.contains(5L))
  }

  test("exact dedup groups identical normalized text, min id survives") {
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy($"keep_id").select($"keep_id", $"n_copies").as[(Long, Long)].collect()
    assert(got sameElements Array((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("jaccard pairs find planted near-dup and exact dup, not the distinct doc") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val pairs = Dedup.jaccardPairs(sh, "doc_id", 0.5)
      .orderBy($"doc_a", $"doc_b")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs sameElements Array((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhash+LSH returns the same verified pairs as the exhaustive path") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val exact = Dedup.jaccardPairs(sh, "doc_id", 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    val lsh = Dedup.minhashDupPairs(sh, "doc_id", 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    assert(lsh sameElements exact)
  }

  test("minhash_sig expression ≡ aggregate-pipeline signatures, bit for bit") {
    // the codegen expression must reproduce the column pipeline's exact
    // xxhash64 arithmetic — same signatures ⇒ same bands ⇒ same candidates
    val viaAgg = Dedup.minHashSignatures(
        Dedup.shingles(docs, "doc_id", "text", 5), "doc_id", 32)
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = Dedup.minHashSignaturesArr(
        Dedup.shingleArray(docs, "doc_id", "text", 5), "doc_id", 32)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr == viaAgg)
    assert(!viaExpr.contains(5L)) // shingle-less doc absent on both paths
  }

  test("prefixJaccardPairs ≡ exhaustive jaccard pairs (filter loses nothing)") {
    val exhaustive = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 5), "doc_id", 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    val prefix = Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    assert(prefix sameElements exhaustive)
    assert(exhaustive.nonEmpty) // the planted pairs must actually be found
  }

  test("rarestFirstRanks: rk strictly increasing in (tf, shingle) order across partitions") {
    // 600 shingles, shingle i in (i % 6) + 1 docs, over 8 input partitions
    val sh = (0 until 600).flatMap(i => (0 to i % 6).map(d => (d.toLong, f"s$i%04d")))
      .toDF("doc", "shingle").repartition(8)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false") // keep the range sort on several partitions
    try {
      val rk = Dedup.rarestFirstRanks(sh).as[(String, Long)].collect().toMap
      val order = (0 until 600).map(i => (i % 6 + 1, f"s$i%04d")).sorted.map(_._2)
      assert(rk.size == 600)
      val ranks = order.map(rk)
      assert(ranks.zip(ranks.tail).forall { case (a, b) => a < b })
      // the ids really come from more than one partition (partition << 33)
      assert(rk.values.map(_ >> 33).toSet.size > 1)
    } finally spark.conf.set(key, was)
  }

  test("prefixContainmentPairs: directed, catches subset-copies Jaccard misses") {
    // doc 20 is doc 10's text VERBATIM inside a much longer document:
    // containment(20 -> 21) = 1.0 while jaccard is far below threshold
    val sub = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "alpha beta gamma delta epsilon zeta " +
        "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen seventeen"),
      (22L, "totally unrelated filler content goes right here now")
    ).toDF("doc_id", "text")
    val got = Dedup.prefixContainmentPairs(sub, "doc_id", "text", n = 5,
        threshold = 0.8)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    // exactly the one DIRECTED pair: 20 contained in 21, never the reverse
    assert(got sameElements Array((20L, 21L, 1.0)))
    val j = Dedup.jaccardPairs(Dedup.shingles(sub, "doc_id", "text", 5),
      "doc_id", 0.8)
    assert(j.count() == 0, "jaccard at the same threshold must miss it")
  }

  test("prefixContainmentPairs ≡ exhaustive directed containment (filter loses nothing)") {
    // exhaustive twin: directed shared-shingle join, inter/|A|
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
      .select($"doc_id".as("doc"), $"shingle")
    val sz = sh.groupBy($"doc").count().withColumnRenamed("count", "sz")
    val exhaustive = sh.select($"doc".as("doc_a"), $"shingle")
      .join(sh.select($"doc".as("doc_b"), $"shingle"), "shingle")
      .filter($"doc_a" =!= $"doc_b")
      .groupBy($"doc_a", $"doc_b").count()
      .join(sz.select($"doc".as("doc_a"), $"sz"), "doc_a")
      .select($"doc_a", $"doc_b",
        ($"count".cast("double") / $"sz".cast("double")).as("containment"))
      .filter($"containment" >= 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    val prefix = Dedup.prefixContainmentPairs(docs, "doc_id", "text", n = 5,
        threshold = 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    assert(prefix sameElements exhaustive)
    assert(exhaustive.nonEmpty)
    // the symmetric dups appear in BOTH orientations (directed output)
    assert(prefix.exists(p => p._1 == 1L && p._2 == 4L) &&
      prefix.exists(p => p._1 == 4L && p._2 == 1L))
  }

  test("prefixContainmentPairs property: ≡ exhaustive on a random collision-heavy corpus") {
    // tiny vocabulary => heavy shingle collisions => many boundary pairs,
    // including integral t·|A| at t = 0.5/1.0 — exactly the FP boundary
    // the floor-based prefix length exists for (a ceil prefix can come
    // out one too short when t·sz FP-rounds up across an integer)
    val rnd = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val corpus = (1L to 40L).map { i =>
      val len = 6 + rnd.nextInt(20)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus, "doc_id", "text", 5)
      .select($"doc_id".as("doc"), $"shingle")
    val sz = sh.groupBy($"doc").count().withColumnRenamed("count", "sz")
    for (t <- Seq(0.5, 0.7, 1.0)) {
      val exhaustive = sh.select($"doc".as("doc_a"), $"shingle")
        .join(sh.select($"doc".as("doc_b"), $"shingle"), "shingle")
        .filter($"doc_a" =!= $"doc_b")
        .groupBy($"doc_a", $"doc_b").count()
        .join(sz.select($"doc".as("doc_a"), $"sz"), "doc_a")
        .select($"doc_a", $"doc_b",
          ($"count".cast("double") / $"sz".cast("double")).as("c"))
        .filter($"c" >= t)
        .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
      val prefix = Dedup.prefixContainmentPairs(corpus, "doc_id", "text",
          n = 5, threshold = t)
        .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
      assert(prefix sameElements exhaustive, s"divergence at threshold $t")
    }
  }

  test("nearDupPairs (scan-stage signatures) ≡ exhaustive jaccard pairs") {
    val exact = Dedup.jaccardPairs(
        Dedup.shingles(docs, "doc_id", "text", 5), "doc_id", 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    val fast = Dedup.nearDupPairs(docs, "doc_id", "text", 5, 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    assert(fast sameElements exact)
  }

  test("nearDupPairs default candidate cap: silent on a sane corpus, raises on a saturated one") {
    // silent: with the default cap ON, output ≡ the explicitly-uncapped
    // path (the audit is a guard, not a filter)
    val capped = Dedup.nearDupPairs(docs, "doc_id", "text", 5, 0.5)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    val uncapped = Dedup.nearDupPairs(docs, "doc_id", "text", 5, 0.5,
        maxCandidatesPerDoc = None)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Double)].collect()
    assert(capped sameElements uncapped)
    // ALL-HOT corpus: 100 mutually-identical docs make every pair a band
    // candidate (4950 pairs > 32 x 100) — the registered production form
    // (default args) must raise in-plan, not silently run quadratic
    val hot = (1L to 100L).map(i =>
      (i, "the same boilerplate sentence repeated in every single document"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.nearDupPairs(hot, "doc_id", "text", 5, 0.8).collect()
    }
    assert(e.getMessage.contains("candidates exceed"), e.getMessage)
    // the salted twin ships the same default-on audit
    val e2 = intercept[Exception] {
      Dedup.nearDupPairsSalted(hot, "doc_id", "text", 5, 0.8,
        salts = 4, hotMin = 4).collect()
    }
    assert(e2.getMessage.contains("candidates exceed"), e2.getMessage)
    // round-12 eager contract: construction ALONE raises — a caller that
    // never executes the returned plan still hears about the blow-up
    val e3 = intercept[Exception] {
      Dedup.nearDupPairs(hot, "doc_id", "text", 5, 0.8): Unit
    }
    assert(e3.getMessage.contains("candidates exceed"), e3.getMessage)
  }

  test("dupGroups: chained clusters A~B, B~C collapse to one group") {
    // 1-2 and 2-3 are pairs but 1-3 is NOT: only transitive closure merges
    // them; a per-pair survivor would wrongly keep doc 3
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupGroups(pairs).orderBy($"doc_id")
      .as[(Long, Long)].collect()
    assert(got sameElements Array(
      (1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("dupGroups: long chain converges; too-low maxIter fails loudly") {
    // path graph 1-2-3-...-8: min label must walk the whole chain.
    // smallGraphBound = 0 forces the distributed loop — these properties
    // are about the loop, which the fast path would otherwise shadow
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupGroups(chain, smallGraphBound = 0).as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L) && got.length == 8)
    // with maxIter below the chain diameter the result would be silently
    // split clusters — the operator must throw instead
    intercept[IllegalStateException] {
      Dedup.dupGroups(chain, maxIter = 2, smallGraphBound = 0)
    }
  }

  test("dupGroups: pointer jumping converges a 120-chain in O(log d) rounds") {
    // plain propagation needs ~119 rounds on a 120-path; the jump step
    // must land it within 12 (2^12 >> 120) — this is the 100 TB property:
    // shuffle rounds scale with log(diameter), not diameter
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupGroups(chain, maxIter = 12, smallGraphBound = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 120 && got.forall(_._2 == 1L))
  }

  test("dupGroups ≡ driver-side union-find on seeded random pair graphs (both paths)") {
    val rnd = new scala.util.Random(99)
    for (bound <- Seq(0L, 1L << 20); _ <- 1 to 5) {
      val pairs = (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.dupGroups(pairs.toDF("doc_a", "doc_b"), smallGraphBound = bound)
        .as[(Long, Long)].collect().toMap
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = parent.keys.map(x => x -> find(x)).toMap
      assert(got == expect, s"pairs=$pairs")
    }
  }

  test("dupGroups: string ids order lexicographically on both paths") {
    // the fast path compares ids via Comparable — must agree with the
    // loop's Spark `min`/`least` (binary/lexicographic for strings)
    val pairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("doc_a", "doc_b")
    for (bound <- Seq(0L, 1L << 20)) {
      val got = Dedup.dupGroups(pairs, smallGraphBound = bound)
        .as[(String, String)].collect().toMap
      assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"),
        s"bound=$bound: $got")
    }
  }

  test("dupGroups: non-BMP string ids agree across paths (UTF-8 vs UTF-16 order)") {
    // U+10000 (surrogate pair D800 DC00; UTF-8 F0 90 80 80) vs U+E000
    // (UTF-16 unit E000; UTF-8 EE 80 80): UTF-16 code-unit order says
    // supp < pua (D800 < E000), UTF-8 byte order says pua < supp
    // (EE < F0). Spark's min/least uses UTF-8 bytes, so both dupGroups
    // paths must pick pua as the group id; a UTF-16 comparator (plain
    // String.compareTo) would pick supp on the fast path only.
    val supp = "\uD800\uDC00" // U+10000
    val pua = "\uE000"
    val pairs = Seq((supp, pua), ("a", "b")).toDF("doc_a", "doc_b")
    for (bound <- Seq(0L, 1L << 20)) {
      val got = Dedup.dupGroups(pairs, smallGraphBound = bound)
        .as[(String, String)].collect().toMap
      assert(got == Map(supp -> pua, pua -> pua, "a" -> "a", "b" -> "a"),
        s"bound=$bound: $got")
    }
  }

  test("contamination: verbatim leak -> 1.0, clean doc -> 0.0, partial in between") {
    val benchmark = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),      // verbatim
      (2L, "completely different words appear in this other document"), // clean
      (3L, "prefix words then the quick brown fox jumps over the lazy dog today")) // suffix leak
      .toDF("doc_id", "text")
    val got = Dedup.contaminationScore(corpus, benchmark, "doc_id", "text", n = 5)
      .orderBy($"doc_id")
      .select($"doc_id", $"contamination").as[(Long, Double)].collect()
    assert(got(0) == ((1L, 1.0)))
    assert(got(1) == ((2L, 0.0)))
    assert(got(2)._2 > 0.5 && got(2)._2 < 1.0, got(2).toString)
  }

  test("simhashPairs: bucketed plan ≡ brute-force hamming pairs") {
    // brute-force reference over the same fingerprints
    val sh = Dedup.simhash32(docs, "doc_id", "text")
    val a = sh.select($"doc_id".as("doc_a"), $"simhash".as("sa"))
    val b = sh.select($"doc_id".as("doc_b"), $"simhash".as("sb"))
    val brute = a.crossJoin(b).filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        Dedup.hamming($"sa", $"sb").cast("long").as("hamming"))
      .filter($"hamming" <= 4)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Long)].collect()
    val bucketed = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4)
      .orderBy($"doc_a", $"doc_b").as[(Long, Long, Long)].collect()
    assert(bucketed sameElements brute)
    // the exact-dup pair (1,4) sits at hamming 0 and must be present
    assert(bucketed.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
  }

  test("purgeBoilerplate: corpus-wide common segments removed, docs reassembled in order") {
    val corpus = Seq(
      (1L, "aaa bbb ccc one two three"),   // shared 3-word banner + unique tail
      (2L, "aaa bbb ccc four five six"),
      (3L, "aaa bbb ccc seven eight nine"),
      (4L, "aaa bbb ccc"),                  // pure boilerplate -> empty survivor
      (5L, "totally unique words here")     // untouched, incl. partial tail segment
    ).toDF("doc_id", "text")
    val got = Dedup.purgeBoilerplate(corpus, "doc_id", "text", segWords = 3, minDocs = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, String)].collect()
    assert(got sameElements Array(
      (1L, 1L, 1L, "one two three"),
      (2L, 1L, 1L, "four five six"),
      (3L, 1L, 1L, "seven eight nine"),
      (4L, 1L, 0L, ""),
      (5L, 0L, 2L, "totally unique words here")))
  }

  test("simhash: identical text -> identical hash; near-dup -> small hamming") {
    val hs = Dedup.simhash32(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(4L))
    val near = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    val far = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    assert(near < far, s"near=$near far=$far")
    assert(hs.values.forall(h => h >= 0 && h <= 0xffffffffL)) // 32-bit range
  }

  test("sortedNeighborhoodPairs: tail typo via forward pass, head typo via reverse, window bounds recall") {
    val names = Seq(
      (1L, "alpha widget"),
      (2L, "alpha widgex"),  // tail typo of 1: adjacent in FORWARD sort
      (3L, "blpha widget"),  // head typo of 1: adjacent only in REVERSE sort
      (4L, "alpha widget"),  // exact dup of 1
      (5L, "zzz unrelated"),
      (6L, null)             // null never matches
    ).toDF("id", "nm")
    val got = Dedup.sortedNeighborhoodPairs(names, "id", "nm",
        window = 4, maxDist = 2)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Long)].collect()
    val pairs = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((1L, 2L)).contains(1L)) // forward-pass tail typo
    assert(pairs.get((1L, 3L)).contains(1L)) // reverse-pass head typo
    assert(pairs.get((1L, 4L)).contains(0L)) // exact dup
    assert(got.forall(r => r._1 < r._2 && r._3 <= 2))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L))
    // no duplicate pairs across the two passes
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length)
    // window bound: with window=2 the head-typo pair needs the reverse
    // pass AND direct adjacency there; widen only the count assertion —
    // the pair set must be a subset of the window-4 run
    val narrow = Dedup.sortedNeighborhoodPairs(names, "id", "nm",
        window = 2, maxDist = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(narrow.subsetOf(got.map(r => (r._1, r._2)).toSet))
  }

  test("substringSpans: maximal spans, positions, disjoint repeats, sub-k misses") {
    // doc 1/2 share "a b c d e" (5 tokens) at different offsets; doc 1/3
    // share two DISJOINT 3-token runs (separate diagonals -> separate
    // spans); doc 4 shares only 2 consecutive tokens with doc 1 (< k)
    val docs = Seq(
      (1L, "x a b c d e y p q r"),
      (2L, "m n a b c d e z"),
      (3L, "a b c w p q r"),
      (4L, "a b k k k k k k k k")
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(docs, "doc_id", "text", k = 3)
      .orderBy($"doc_a", $"doc_b", $"a_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got sameElements Array(
      (1L, 2L, 2L, 3L, 5L),   // "a b c d e": doc1 pos 2, doc2 pos 3
      (1L, 3L, 2L, 1L, 3L),   // "a b c"
      (1L, 3L, 8L, 5L, 3L),   // "p q r" — distinct diagonal, own span
      (2L, 3L, 3L, 1L, 3L)),  // "a b c" shared by 2 and 3 as well
      got.mkString(","))
    // within-doc repetition ("k k k ..." in doc 4) must not self-pair,
    // and the 2-token overlap with doc 1 stays below k
    assert(!got.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("substringSpans maxDocFreq: boilerplate window dropped, pairwise span kept") {
    // "a b c" appears in docs 1, 2, 3 (df = 3 > cap 2) — the boilerplate
    // regime the cap exists for; "p q r" is a genuine pairwise dup (df = 2)
    val docs = Seq(
      (1L, "a b c x p q r"),
      (2L, "a b c y p q r"),
      (3L, "a b c z z z z")
    ).toDF("doc_id", "text")
    val capped = Dedup.substringSpans(docs, "doc_id", "text", k = 3, maxDocFreq = Some(2))
      .orderBy($"doc_a", $"doc_b", $"a_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(capped sameElements Array((1L, 2L, 5L, 5L, 3L)), capped.mkString(","))
    // uncapped sees the boilerplate window in every pair
    val full = Dedup.substringSpans(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(full.length == 4, full.mkString(","))
    // a generous cap is a no-op: identical rows to the uncapped form
    val generous = Dedup.substringSpans(docs, "doc_id", "text", k = 3, maxDocFreq = Some(99))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(generous.sorted sameElements full.sorted)
  }

  test("substringDedup: span >= minSpanTokens purges transitively, min id survives") {
    // 1-2 share 5 tokens, 2-5 share 5 tokens (chain -> one component);
    // 1-3 share only 3 (< minSpan): 3 survives
    val docs = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c d e q r s t u"),
      (5L, "h h q r s t u"),
      (3L, "a b c w w w w")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 3, minSpanTokens = 5)
      .select($"doc_id").orderBy($"doc_id").as[Long].collect()
    assert(got sameElements Array(1L, 3L), got.mkString(","))
  }

  test("goldenRecord: fields survive INDEPENDENTLY (first non-null per field), not keep-newest") {
    // group 10: newest record (prio 3) has null phone, mid record has
    // null city, oldest has both — the golden record mixes rows
    val recs = Seq(
      (10L, 3L, null.asInstanceOf[String], "berlin"),
      (10L, 2L, "555-1", null.asInstanceOf[String]),
      (10L, 1L, "555-0", "munich"),
      // group 20: single record, nulls stay null
      (20L, 1L, null.asInstanceOf[String], "rome")
    ).toDF("grp", "prio", "phone", "city")
    val got = Dedup.goldenRecord(recs, "grp",
        order = Seq($"prio".desc), fields = Seq("phone", "city"))
      .orderBy($"grp").collect()
    assert(got.length == 2)
    // newest non-null phone is prio 2's; newest city is prio 3's own
    assert(got(0).getLong(0) == 10L && got(0).getString(1) == "555-1" &&
      got(0).getString(2) == "berlin" && got(0).getLong(3) == 3L)
    assert(got(1).getLong(0) == 20L && got(1).isNullAt(1) &&
      got(1).getString(2) == "rome" && got(1).getLong(3) == 1L)
    // partition-independence: the window order is total, so repartition
    // changes nothing
    val re = Dedup.goldenRecord(recs.repartition(7), "grp",
        order = Seq($"prio".desc), fields = Seq("phone", "city"))
      .orderBy($"grp").collect()
    assert(re.map(_.toString) sameElements got.map(_.toString))
    // empty input -> empty output, schema intact
    assert(Dedup.goldenRecord(recs.limit(0), "grp",
      order = Seq($"prio".desc), fields = Seq("phone", "city")).count() == 0)
  }

  test("goldenRecord == driver-side survivorship fold on random null-riddled groups") {
    import org.apache.spark.sql.functions.col
    for (seed <- Seq(7, 31, 553)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 120).map { i =>
        (rnd.nextInt(12).toLong, i.toLong,
          if (rnd.nextInt(3) == 0) null else s"f1_${rnd.nextInt(5)}",
          if (rnd.nextInt(3) == 0) null else s"f2_${rnd.nextInt(5)}")
      }
      val got = Dedup.goldenRecord(rows.toDF("grp", "id", "f1", "f2"),
          "grp", order = Seq(col("id").desc), fields = Seq("f1", "f2"))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(1)), Option(r.getString(2)),
          r.getLong(3)))).toMap
      val direct = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.sortBy(-_._2) // id desc = the total order
        g -> ((sorted.map(r => Option(r._3)).collectFirst { case Some(v) => v },
          sorted.map(r => Option(r._4)).collectFirst { case Some(v) => v },
          rs.size.toLong))
      }
      assert(got == direct, s"seed=$seed")
    }
  }
}
