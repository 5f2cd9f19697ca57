package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Clustering, Profiler, Skyline, TextAnalysis, TopK}

/** Round-14 analytics pack: skyline family vs brute-force dominance,
  * EWMA fold vs the naive sequential recursion, min-k% prob cut math,
  * simplified silhouette vs hand arithmetic, Top2Dist2 interpreted eval. */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force maximal vectors (all dims maximized, duplicates kept). */
  private def bruteSkyline(rows: Seq[Seq[Long]]): Set[Seq[Long]] =
    rows.filter { a =>
      !rows.exists(b => b.zip(a).forall { case (x, y) => x >= y } &&
        b.zip(a).exists { case (x, y) => x > y })
    }.toSet

  private def randRows(n: Int, d: Int, seed: Long, domain: Int): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => Seq.fill(d)(rnd.nextInt(domain).toLong))
  }

  test("skyline2d ≡ brute force, keeps duplicate frontier points, partition-independent") {
    // small domain forces same-x ties and exact duplicate points
    val rows = randRows(400, 2, seed = 7, domain = 12) ++
      Seq(Seq(11L, 11L), Seq(11L, 11L)) // planted duplicate maximal point
    val df = rows.map(r => (r(0), r(1))).toDF("x", "y")
    val got = Skyline.skyline2d(df, "x", "y")
      .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    val exp = bruteSkyline(rows)
    assert(got.toSet == exp)
    // duplicates preserved row-for-row (both planted copies survive)
    assert(got.count(_ == Seq(11L, 11L)) == rows.count(_ == Seq(11L, 11L)))
    val reparted = Skyline.skyline2d(df.repartition(7), "x", "y")
      .collect().map(r => Seq(r.getLong(0), r.getLong(1))).sortBy(_.mkString(","))
    assert(reparted.toSeq == got.sortBy(_.mkString(",")).toSeq)
    // null dims never reach the frontier
    val withNull = df.union(Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(99L)))
      .toDF("x", "y"))
    assert(Skyline.skyline2d(withNull, "x", "y").collect()
      .forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("skylineNd ≡ brute force across bucket counts; cap throws loudly") {
    val rows = randRows(300, 3, seed = 11, domain = 9) :+ Seq(8L, 8L, 8L)
    val df = rows.map(r => (r(0), r(1), r(2))).toDF("a", "b", "c")
    val exp = bruteSkyline(rows)
    for (target <- Seq(16L, 4096L)) { // many small buckets vs one bucket
      val got = Skyline.skylineNd(df, Seq("a", "b", "c"), bucketTargetRows = target)
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exp, s"bucketTargetRows=$target")
    }
    // an anti-correlated frontier larger than the cap must throw at
    // construction (the eager volume-gate contract), not melt the refine
    val anti = (1 to 50).map(i => (i.toLong, (100 - i).toLong, 0L)).toDF("a", "b", "c")
    val e = intercept[IllegalArgumentException] {
      Skyline.skylineNd(anti, Seq("a", "b", "c"), maxCandidates = 10L)
    }
    assert(e.getMessage.contains("candidates exceed cap"))
  }

  test("ewmaSmooth ≡ the naive sequential recursion, incl. negative deviations") {
    val series = Seq(
      (1L, 1L, 3.5), (1L, 2L, 0.01), (1L, 3L, 490.02), (1L, 4L, 1.0),
      (2L, 1L, 42.42), // single observation: ewma = x
      (3L, 1L, 0.07), (3L, 2L, 0.03), (3L, 3L, 0.11))
    val df = series.toDF("g", "ord", "x")
    def ref(xs: Seq[Double]): Long = {
      val q = xs.map(x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValue)
      q.tail.foldLeft(q.head)((acc, v) => acc + ((v - acc) >> 2))
    }
    val got = Profiler.ewmaSmooth(df, "g", Seq("ord"), "x", alphaShift = 2, scale = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = series.groupBy(_._1).map { case (g, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      (g, xs.size.toLong, ref(xs))
    }.toSet
    assert(got == exp)
    // null observations are dropped, not zero-filled
    val withNull = df.union(Seq((1L, 0L, null.asInstanceOf[java.lang.Double]))
      .toDF("g", "ord", "x"))
    assert(Profiler.ewmaSmooth(withNull, "g", Seq("ord"), "x")
      .filter(col("g") === 1L).head().getLong(1) == 4L)
  }

  test("minKProb: exact ceil cut, memorized text scores higher than rare-tail text") {
    // 'common' appears everywhere; doc 2 carries a unique rare tail token
    val docs = Seq(
      (1L, "common common common common common"),
      (2L, "common common common common rareonly"),
      (3L, "common common")).toDF("doc_id", "text")
    val got = TextAnalysis.minKProb(docs, "doc_id", "text", kDen = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1)._1 == 5L && got(1)._2 == 1L) // ceil(5/5) = 1
    assert(got(3)._1 == 2L && got(3)._2 == 1L) // ceil(2/5) = 1
    // doc 2's worst token is the rare one → lower min-k score than doc 1
    assert(got(2)._3 < got(1)._3)
    // doc 1's min-k token is 'common' on both docs 1 and 3 → equal scores
    assert(got(1)._3 == got(3)._3)
  }

  test("silhouette: two tight clusters score near 1, per-point arithmetic exact") {
    // k=2: cluster A around (0,0), cluster B around (10,10); seeds = two
    // smallest ids, one in each cluster
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(0.0f, 0.1f)),
      (5L, Seq(10.1f, 10.0f)), (6L, Seq(10.0f, 10.1f))).toDF("vec_id", "embedding")
    val got = Clustering.silhouette(emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(0, 1))
    assert(got.values.map(_._1).sum == 6L)
    // tight, well-separated clusters: average silhouette close to 1
    assert(got.values.forall(_._2 > 0.95))
    assert(intercept[IllegalArgumentException] {
      Clustering.silhouette(emb, "vec_id", "embedding", k = 1, iters = 1)
    }.getMessage.contains("k >= 2"))
  }

  test("RandProj: exact vs driver fold; JL distance preservation on random vectors") {
    val rnd = new scala.util.Random(5)
    val vecs = (1 to 60).map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val m = 16
    val s = graft.operators.RandProj.signs(m, 64)
    val got = graft.operators.RandProj.project(df, "vec_id", "embedding", m = m, d = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // exact reference: quantize trunc(x*1e6), signed integer sum
    def ref(v: Seq[Float], j: Int): Long = {
      val q = v.map(x => (x.toDouble * 1e6).toLong)
      q.zipWithIndex.map { case (x, i) => x * s(j)(i) }.sum
    }
    assert(got.size == vecs.size * m)
    vecs.take(5).foreach { case (id, v) =>
      (0 until m).foreach(j => assert(got((id, j)) == ref(v, j), s"id=$id j=$j"))
    }
    // JL property: E[||Py1 − Py2||² / m] = ||y1 − y2||² — the per-pair
    // ratio concentrates near 1 for m = 16; assert the mean over pairs
    val pairs = for (a <- vecs.indices; b <- a + 1 until vecs.size if (a + b) % 7 == 0)
      yield (vecs(a), vecs(b))
    val ratios = pairs.map { case ((ia, va), (ib, vb)) =>
      val d2 = va.zip(vb).map { case (x, y) =>
        val dd = (x.toDouble * 1e6).toLong - (y.toDouble * 1e6).toLong; dd.toDouble * dd
      }.sum
      val p2 = (0 until m).map(j => {
        val dj = (got((ia, j)) - got((ib, j))).toDouble; dj * dj
      }).sum / m
      p2 / d2
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.2, s"JL mean ratio $mean")
  }

  test("joinSizeEstimate: exact cardinality, worst key, integral skew share") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("jk")
    val b = Seq(1L, 1L, 2L, 4L).toDF("jk")
    val r = Profiler.joinSizeEstimate(a, b, "jk").head()
    assert(r.getLong(0) == 7L)  // 3·2 + 1·1
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 1L && r.getLong(5) == 6L)
    assert(r.getLong(6) == 857142L) // floor(6e6 / 7)
    assert(a.join(b, "jk").count() == 7L) // the estimate IS the cardinality
  }

  test("joinSizeEstimate: disjoint key sets still produce the one summary row") {
    val a = Seq(1L, 2L).toDF("jk")
    val b = Seq(3L, 4L).toDF("jk")
    val r = Profiler.joinSizeEstimate(a, b, "jk").head()
    assert(r.getLong(0) == 0L)                      // est_rows
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getLong(3) == 0L)
    assert(r.isNullAt(4) && r.isNullAt(5))          // no worst key exists
    assert(r.getLong(6) == 0L)                      // skew_ppm
  }

  test("chiSquareIndependence: 0 on a product distribution, n·(k−1) on a diagonal") {
    val ind = (for (i <- 0 until 4; j <- 0 until 3; _ <- 0 until 5)
      yield (s"a$i", s"b$j")).toDF("c1", "c2")
    val r0 = Profiler.chiSquareIndependence(ind, "c1", "c2").head()
    assert(r0.getLong(0) == 60L && r0.getLong(3) == 6L)
    assert(r0.getDouble(4) == 0.0)
    val dep = (for (i <- 0 until 3; _ <- 0 until 7)
      yield (s"x$i", s"y$i")).toDF("c1", "c2")
    val r1 = Profiler.chiSquareIndependence(dep, "c1", "c2").head()
    assert(math.abs(r1.getDouble(4) - 42.0) < 1e-6) // n·(k−1) = 21·2
    assert(math.abs(r1.getDouble(5) - 1.0) < 1e-6)  // Cramér's V = 1
  }

  test("HilbertXy: bijective onto [0,4^order) with unit steps; Morton jumps, Hilbert never") {
    for (order <- Seq(1, 2, 4, 6)) {
      val n = 1 << order
      val cells = for (x <- 0 until n; y <- 0 until n)
        yield ((x.toLong, y.toLong), graft.plans.HilbertXy.encode(x.toLong, y.toLong, order))
      val ds = cells.map(_._2)
      assert(ds.distinct.size == n * n && ds.min == 0L && ds.max == n.toLong * n - 1,
        s"order=$order not bijective-onto")
      val byD = cells.map(_.swap).toMap
      (0L until (n.toLong * n - 1)).foreach { d =>
        val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1L, s"order=$order jump at d=$d")
      }
    }
    // the Morton walk (zValue's bit interleave) takes multi-cell jumps at
    // quadrant seams — the locality gap the Hilbert key exists to close
    def morton(x: Long, y: Long, order: Int): Long =
      (0 until order).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).reduce(_ | _)
    val n = 16L
    val mCells = (for (x <- 0L until n; y <- 0L until n)
      yield (morton(x, y, 4), (x, y))).toMap
    val mJumps = (0L until (n * n - 1)).map { d =>
      val (x1, y1) = mCells(d); val (x2, y2) = mCells(d + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }
    assert(mJumps.max > 1L)
    // codegen expression ≡ the helper; out-of-range codes null out
    val df = Seq((3L, 5L), (65535L, 0L), (70000L, 1L)).toDF("cx", "cy")
    val got = df.select(call_function("hilbert_xy", col("cx"), col("cy"))).collect()
    assert(got(0).getLong(0) == graft.plans.HilbertXy.encode(3L, 5L))
    assert(got(1).getLong(0) == graft.plans.HilbertXy.encode(65535L, 0L))
    assert(got(2).isNullAt(0))
  }

  test("scriptProfile: exact per-script counts, priority tie-break, scriptless → latin") {
    val docs = Seq(
      (1L, "中文 data"),        // 2 han + 4 latin → latin wins? no: han priority on ties needs >=; 2 < 4 → latin
      (2L, "中文中文 ok"),       // 4 han > 2 latin → han
      (3L, "яя αα"),            // 2 cyrillic, 2 greek → tie → cyrillic (priority)
      (4L, "한글만"),            // hangul only
      (5L, "123 .,!"),          // no script chars at all → latin fall-through
      (6L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))))
      .toMap
    assert(got(1) == ((2L, 0L, 0L, 0L, 4L, "latin")))
    assert(got(2) == ((4L, 0L, 0L, 0L, 2L, "han")))
    assert(got(3) == ((0L, 2L, 2L, 0L, 0L, "cyrillic")))
    assert(got(4) == ((0L, 0L, 0L, 3L, 0L, "hangul")))
    assert(got(5)._6 == "latin" && got(6)._6 == "latin")
  }

  test("benfordAudit: exact digits, integral ppm, literal expectations") {
    // leading digits: 1 (0.01→100? no: 0.01*1e4 = 100 → digit 1), 4 (490.02), 9, 1, 2
    val df = Seq(0.01, 490.02, 9.0, 1.5, 0.25, -3.0).toDF("x") // -3 excluded
    val got = Profiler.benfordAudit(df, "x")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // digits: 0.01→100→'1'; 490.02→4900200→'4'; 9.0→90000→'9'; 1.5→15000→'1'; 0.25→2500→'2'
    assert(got.keySet == Set(1L, 2L, 4L, 9L))
    assert(got(1)._1 == 2L && got(1)._2 == 400000L) // 2/5 → 400000 ppm
    assert(got(2)._1 == 1L && got(2)._2 == 200000L)
    assert(got(1)._3 == 301029L) // floor(log10(2)·1e6)
    assert(got(9)._3 == 45757L)  // floor(log10(10/9)·1e6)
  }

  test("transitionMatrix: lead pairs per group, integral per-from shares") {
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (2L, 1L, "a"), (2L, 2L, "a")).toDF("g", "ord", "s")
    val got = Profiler.transitionMatrix(ev, "g", Seq("ord"), "s")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // from a: a->b twice, a->a once (of 3); from b: b->a once (of 1)
    assert(got == Map(
      ("a", "b") -> ((2L, 666666L)),
      ("a", "a") -> ((1L, 333333L)),
      ("b", "a") -> ((1L, 1000000L))))
  }

  test("welchTTest matches the textbook computation") {
    val xs = Seq(27.5, 21.0, 19.0, 23.6, 17.0, 17.9, 16.9, 20.1, 21.9, 22.6, 23.1, 19.6, 19.0, 21.7, 21.4)
    val ys = Seq(27.1, 22.0, 20.8, 23.4, 23.4, 23.5, 25.8, 22.0, 24.8, 20.2, 21.9, 22.1, 22.9, 30.0, 23.9)
    val df = (xs.map(("ctl", _)) ++ ys.map(("trt", _))).toDF("grp", "v")
    val r = Profiler.welchTTest(df, "grp", "v", a = "ctl", b = "trt", scale = 4).head()
    def stats(v: Seq[Double]) = {
      val n = v.size; val m = v.sum / n
      (n, m, v.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (na, ma, va) = stats(xs); val (nb, mb, vb) = stats(ys)
    val t = (ma - mb) / math.sqrt(va / na + vb / nb)
    val dof = math.pow(va / na + vb / nb, 2) /
      (math.pow(va / na, 2) / (na - 1) + math.pow(vb / nb, 2) / (nb - 1))
    assert(r.getLong(0) == 15L && r.getLong(1) == 15L)
    assert(math.abs(r.getDouble(4) - t) < 1e-5, s"${r.getDouble(4)} vs $t")
    assert(math.abs(r.getDouble(5) - dof) < 1e-4)
  }

  test("mojibake: exact hit counts; repair inverts the damage; clean text untouched") {
    import graft.operators.TextAnalysis.{MojibakeTable, fixMojibake, mojibakeHits}
    val orig = "héllo – “quoted’ süß ño çédille ó á è"
    // damage = render each true char through the Latin-1 lens
    val damaged = MojibakeTable.foldLeft(orig) { case (s, (p, r)) => s.replace(r, p) }
    val expHits = MojibakeTable.map { case (p, _) =>
      (damaged.length - damaged.replace(p, "").length) / p.length
    }.sum
    assert(expHits >= 10) // the plant really damaged the text
    val df = Seq((1L, damaged), (2L, "plain ascii, no damage")).toDF("id", "t")
    val got = df.select(col("id"), mojibakeHits(col("t")).as("h"),
        fixMojibake(col("t")).as("f"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1)._1 == expHits.toLong && got(1)._2 == orig)
    assert(got(2)._1 == 0L && got(2)._2 == "plain ascii, no damage")
  }

  test("poissonBootstrapMeans: deterministic, unbiased-ish, CI brackets the mean") {
    import graft.operators.Sampling
    val rnd = new scala.util.Random(3)
    val vals = (1 to 2000).map(i => (i.toLong, 50.0 + rnd.nextGaussian() * 10))
    val df = vals.toDF("id", "v")
    val means = Sampling.poissonBootstrapMeans(df, "id", "v", draws = 32)
      .orderBy(col("b")).collect().map(r => r.getDouble(2))
    assert(means.length == 32)
    // deterministic: a second run reproduces every mean bit for bit
    val again = Sampling.poissonBootstrapMeans(df, "id", "v", draws = 32)
      .orderBy(col("b")).collect().map(r => r.getDouble(2))
    assert(means sameElements again)
    // the resampling distribution concentrates near the sample mean
    val trueMean = vals.map(_._2).sum / vals.size
    val sorted = means.sorted
    assert(sorted.head < trueMean && trueMean < sorted.last,
      s"CI [${sorted.head}, ${sorted.last}] vs $trueMean")
    assert(math.abs(means.sum / 32 - trueMean) < 1.0)
    // Poisson(1) multiplicities: each draw pulls ~n rows
    val nDrawn = Sampling.poissonBootstrapMeans(df, "id", "v", draws = 32)
      .agg(avg(col("n_drawn"))).head().getDouble(0)
    assert(math.abs(nDrawn - 2000.0) < 100.0)
  }

  test("rfmSegments: deterministic tertiles, 5-is-best orientation, segment code") {
    import java.sql.Timestamp
    def ts(day: Int) = Timestamp.valueOf(f"2026-01-${day}%02d 00:00:00")
    // user 1: recent, frequent, big spender; user 6: stale, rare, small
    val ev = Seq(
      (1L, ts(30), 100.0), (1L, ts(29), 100.0), (1L, ts(28), 100.0),
      (2L, ts(25), 50.0), (2L, ts(24), 50.0), (2L, ts(23), 10.0),
      (3L, ts(20), 30.0), (3L, ts(19), 5.0),
      (4L, ts(15), 20.0), (4L, ts(14), 1.0),
      (5L, ts(10), 8.0),
      (6L, ts(1), 1.0)).toDF("u", "ts", "v")
    val got = Profiler.rfmSegments(ev, "u", "ts", "v", quantiles = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(7)))).toMap
    // recency in whole days from the corpus max (user 1's day 30)
    assert(got(1)._1 == 0L && got(6)._1 == 29L)
    assert(got(1)._2 == 3L && got(1)._3 == 3000000L) // f_cnt, m_fp exact
    // user 1 best on every axis, user 6 worst on every axis
    assert(got(1)._4 == 333L && got(6)._4 == 111L)
    // deterministic under repartition
    val again = Profiler.rfmSegments(ev.repartition(5), "u", "ts", "v", quantiles = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(7)).toMap
    assert(again == got.map { case (k, v) => k -> v._4 })
  }

  test("ksTest: exact integer-numerator D on a hand-computed case; 0 on identical samples") {
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 3.0, 4.0, 4.0).map(("b", _)))
      .toDF("g", "v")
    val r = Profiler.ksTest(df, "g", "v", a = "a", b = "b").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 6L)           // max |cum_a·n_b − cum_b·n_a| at x = 3
    assert(r.getDouble(3) == 0.5)        // D = 6 / (3·4); F_a(3)=1 vs F_b(3)=0.5
    val same = (Seq(1.0, 2.0, 5.0).map(("a", _)) ++ Seq(1.0, 2.0, 5.0).map(("b", _)))
      .toDF("g", "v")
    assert(Profiler.ksTest(same, "g", "v", "a", "b").head().getLong(2) == 0L)
  }

  test("ksTest: an empty side yields null d and ks_stat, never NaN") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val r = Profiler.ksTest(df, "g", "v", a = "a", b = "b").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 0L)
    assert(r.isNullAt(3) && r.isNullAt(4)) // d was 0/0 = NaN before the guard
  }

  test("Top2Dist2.eval: best + runner-up, ties, ragged null; matches ArgminDist2") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val centroids = new GenericArrayData(Array[Long](0L, 0L, 10L, 10L, 3L, 4L))
    def ev(v: Array[Long]) = graft.plans.Top2Dist2(
      Literal(new GenericArrayData(v), ArrayType(LongType)),
      Literal(centroids, ArrayType(LongType)), Literal(3)).eval(InternalRow.empty)
    val r = ev(Array(1L, 1L)).asInstanceOf[InternalRow]
    assert(r.getInt(0) == 0 && r.getLong(1) == 2L && r.getLong(2) == 13L)
    assert(ev(Array(1L)) == null) // ragged
    // exact tie: best = smallest index, runner-up carries the SAME distance
    val tie = graft.plans.Top2Dist2(
      Literal(new GenericArrayData(Array(5L, 5L)), ArrayType(LongType)),
      Literal(new GenericArrayData(Array[Long](0L, 0L, 10L, 10L)), ArrayType(LongType)),
      Literal(2)).eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(tie.getInt(0) == 0 && tie.getLong(1) == 50L && tie.getLong(2) == 50L)
  }

  test("frequentPairs: A-priori prune, set semantics, fractional threshold, lift") {
    import graft.operators.Itemsets
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "a"), // duplicate a: sets, not bags
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "a")).toDF("b", "i")
    val got = Itemsets.frequentPairs(rows, "b", "i", minNum = 1, minDen = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // supports: a=4, b=2, c=2 of 4 baskets; pairs ≥ 2: (a,b)=2, (a,c)=2
    assert(got.keySet == Set(("a", "b"), ("a", "c"))) // (b,c)=1 pruned
    assert(got(("a", "b")) == ((2L, 4L, 2L, 1.0)))    // lift 2·4/(4·2) = 1
    assert(got(("a", "c")) == ((2L, 4L, 2L, 1.0)))
    // at 3/4 the L1 prune alone kills every pair (only 'a' is frequent)
    assert(Itemsets.frequentPairs(rows, "b", "i", 3, 4).count() == 0L)
  }

  test("woeIv: hand-computed WOE/IV; IV is the PSI of pos-vs-neg over categories") {
    val docs = (Seq.fill(3)(("X", true)) ++ Seq(("X", false)) ++
      Seq(("Y", true)) ++ Seq.fill(3)(("Y", false)))
      .toDF("cat", "l")
    val got = Profiler.woeIv(docs, "cat", col("l"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5)))).toMap
    // totals: pos 4, neg 4, nbins 2 → smoothed (n+1)/(tot+2)
    val ln2 = math.rint(math.log(2.0) * 1e6) / 1e6
    assert(got("X")._1 == 3L && got("X")._2 == 1L)
    assert(got("X")._3 == ln2 && got("Y")._3 == -ln2) // woe = ±ln 2
    val ivTerm = math.rint((4.0 / 6 - 2.0 / 6) * math.log(2.0) * 1e6) / 1e6
    assert(got("X")._4 == 2 * ivTerm) // iv total repeated per row
    assert(got("X")._4 == got("Y")._4)
  }

  test("seasonalProfile: integer epoch calendar, exact means, lift vs global") {
    val us = (d: Long, h: Long, m: Long) => d * 86400000000L + h * 3600000000L + m
    def ts(v: Long) = new java.sql.Timestamp(v / 1000)
    // epoch day 0 = Thursday → dow 4; two slots, values 1.0 and 3.0
    val ev = Seq(
      (ts(us(0, 0, 0)), 1.0), (ts(us(7, 0, 1000000L)), 1.0), // Thu 00 twice
      (ts(us(0, 5, 0)), 3.0), (ts(us(14, 5, 0)), 3.0))       // Thu 05 twice
      .toDF("ts", "value")
    val got = Profiler.seasonalProfile(ev, "ts", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((4L, 0L), (4L, 5L)))
    assert(got((4L, 0L)) == ((2L, 1.0, 0.5)))  // global mean 2.0 → lift 0.5
    assert(got((4L, 5L)) == ((2L, 3.0, 1.5)))
    // null values and null ts are excluded, not zero-filled
    val withNull = ev.union(Seq((ts(0L), null.asInstanceOf[java.lang.Double]))
      .toDF("ts", "value"))
    assert(Profiler.seasonalProfile(withNull, "ts", "value")
      .agg(sum($"n")).head().getLong(0) == 4L)
  }

  test("auc: Mann–Whitney midrank with ties; perfect separation; single-class null") {
    // ascending ranks: 0.3→1, {0.8,0.8}→midrank 2.5, 0.9→4
    // R_pos = 2.5 + 4 = 6.5 → AUC = (6.5 − 3) / (2·2) = 0.875
    val scored = Seq((0.9, true), (0.8, false), (0.8, true), (0.3, false))
      .toDF("s", "l")
    val r = Profiler.auc(scored, "s", col("l")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getDouble(2) == 0.875)
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false)).toDF("s", "l")
    assert(Profiler.auc(perfect, "s", col("l")).head().getDouble(2) == 1.0)
    val oneClass = Seq((0.9, true), (0.2, true)).toDF("s", "l")
    assert(Profiler.auc(oneClass, "s", col("l")).head().isNullAt(2))
  }

  test("readability: hand-computed Flesch; vowel-less floor; empty doc null") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "The cat sat. It ran!"), // 5 words, 2 sentences, 5 syllables
      (2L, "tsk tsk"),              // vowel-less words floor at 1 syllable each
      (3L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    assert(got(1L)._1 == 5L && got(1L)._2 == 2L && got(1L)._3 == 5L)
    // 206.835 − 1.015·(5/2) − 84.6·(5/5) = 119.6975
    assert(got(1L)._4 == 119.6975)
    assert(got(2L) == ((2L, 1L, 2L, 120.205))) // round(6) of the raw chain
    assert(got(3L)._1 == 0L && got(3L)._4.isNaN) // empty: null score
  }

  test("burstiness: periodic → −1, symmetric pair → 0, single gap → null") {
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000); t.setNanos((us % 1000000L).toInt * 1000); t
    }
    val ev = // user 1: perfectly periodic; user 2: gaps {0, 10}; user 3: one gap
      (1 to 5).map(i => (1L, ts(i * 1000000L), i.toLong)) ++
      Seq((2L, ts(0L), 1L), (2L, ts(0L), 2L), (2L, ts(10L), 3L)) ++
      Seq((3L, ts(0L), 1L), (3L, ts(5L), 2L))
    val df = ev.toDF("user_id", "ts", "event_id")
      .select($"user_id", $"ts", unix_micros($"ts").as("us"), $"event_id")
    val got = Profiler.burstiness(df, "user_id", Seq("us", "event_id"), "ts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1000000L, -1.0))) // σ = 0 → periodic extreme
    assert(got(2L) == ((2L, 5L, 0.0)))        // μ = σ = 5 → Poisson-like 0
    assert(got(3L)._1 == 1L && got(3L)._3.isNaN) // < 2 gaps: null
  }

  test("cusum: hand-computed mean shift; in-control series never alarms") {
    // group 1: 4 lows then 4 highs, mu = 5, k = 1 → classic S+ series
    // 0,0,0,0,4,8,12,16 and S- series 4,8,12,16,10,4,0,0; h = 10 →
    // S- crosses first at position 3 (12 > 10)
    val series = (1 to 4).map(i => (1L, i.toLong, 0.0)) ++
      (5 to 8).map(i => (1L, i.toLong, 10.0)) ++
      (1 to 5).map(i => (2L, i.toLong, 7.0)) // in-control constant
    val got = Profiler.cusumTwoSided(series.toDF("g", "i", "x"),
        "g", Seq("i"), "x", slack = 1.0, threshold = 10.0, scale = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(1L) == ((8L, 16.0, 16.0, 3L)))
    assert(got(2L) == ((5L, 0.0, 0.0, -1L))) // constant: S ≡ 0, no alarm
    // order-insensitivity of the input frame: repartition changes nothing
    val re = Profiler.cusumTwoSided(series.toDF("g", "i", "x").repartition(7),
        "g", Seq("i"), "x", slack = 1.0, threshold = 10.0, scale = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re(1L) == 16.0)
  }

  test("calibration: hand-computed bins and ECE; top score clamps; perfect calibration -> 0") {
    // fpUnit 100, 4 bins of width 25; bin 2 left empty on purpose
    val rows = Seq((10L, false), (20L, true), (30L, false),
      (80L, true), (100L, true)).toDF("s", "l")
    val got = Profiler.calibration(rows, "s", col("l"), fpUnit = 100L, bins = 4)
      .orderBy(col("bin")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 3L), "occupied bins only; 100 clamps into bin 3")
    val b0 = got(0) // n=2, pos=1, conf=30/200=.15, acc=.5
    assert(b0.getLong(1) == 2 && b0.getLong(2) == 1 &&
      b0.getDouble(3) == 0.15 && b0.getDouble(4) == 0.5)
    // ECE = .35*2/5 + .3*1/5 + .1*2/5 = .24 exactly
    assert(got.forall(r => math.abs(r.getDouble(6) - 0.24) < 1e-9))
    // perfectly calibrated bin: conf == acc -> ece 0
    val perfect = Seq((50L, true), (50L, false)).toDF("s", "l")
    val p = Profiler.calibration(perfect, "s", col("l"), fpUnit = 100L, bins = 4)
      .collect()
    assert(p.length == 1 && p.head.getDouble(6) == 0.0)
    // null labels count as negatives (the prCurve convention)
    val withNull = Seq((90L, java.lang.Boolean.TRUE),
      (90L, null.asInstanceOf[java.lang.Boolean])).toDF("s", "l")
    val w = Profiler.calibration(withNull, "s", col("l"), fpUnit = 100L, bins = 4)
      .collect().head
    assert(w.getLong(1) == 2 && w.getLong(2) == 1)
  }

  test("classificationReport: hand-computed confusion; unpredicted and hallucinated classes") {
    // actual:  a a a b b c   predicted: a b a b b d
    val rows = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"),
      ("b", "b"), ("c", "d")).toDF("y", "p")
    val got = Profiler.classificationReport(rows, col("y"), col("p"))
      .orderBy(col("cls")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b", "c", "d"))
    val a = got("a") // tp=2, n_actual=3, n_pred=2
    assert(a.getLong(1) == 3 && a.getLong(2) == 2 && a.getLong(3) == 2)
    assert(a.getDouble(6) == 1.0 && math.abs(a.getDouble(7) - 2.0 / 3) < 1e-6)
    assert(math.abs(a.getDouble(8) - 0.8) < 1e-6) // f1 = 4/(3+2)
    val b = got("b") // tp=2, n_actual=2, n_pred=3
    assert(math.abs(b.getDouble(6) - 2.0 / 3) < 1e-6 && b.getDouble(7) == 1.0)
    // c: never predicted -> precision null, recall 0; d: hallucinated ->
    // precision 0, recall null
    assert(got("c").isNullAt(6) && got("c").getDouble(7) == 0.0)
    assert(got("d").getDouble(6) == 0.0 && got("d").isNullAt(7))
    // accuracy 4/6 on every row
    assert(got.values.forall(r => math.abs(r.getDouble(9) - 4.0 / 6) < 1e-6))
    // null actual labels are excluded, not counted as a class
    val withNull = rows.union(Seq((null: String, "a")).toDF("y", "p"))
    assert(Profiler.classificationReport(withNull, col("y"), col("p"))
      .count() == 4)
  }

  test("classificationReport: a null PREDICTION is a miss, not a dropped row (ADVICE r16)") {
    // class a: 2 labeled rows, the model abstains (null) on one and gets
    // the other right. Abstention must count toward n_actual/fn and the
    // accuracy denominator — dropping it would report recall 1.0.
    val rows = Seq(("a", "a"), ("a", null: String), ("b", "b")).toDF("y", "p")
    val got = Profiler.classificationReport(rows, col("y"), col("p"))
      .orderBy(col("cls")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "b"), "null never becomes a class row")
    val a = got("a")
    assert(a.getLong(1) == 2 && a.getLong(2) == 1 && a.getLong(3) == 1,
      s"n_actual counts the abstained row: $a")
    assert(a.getLong(5) == 1, "the abstained row is a false negative")
    assert(a.getDouble(6) == 1.0 && math.abs(a.getDouble(7) - 0.5) < 1e-6,
      "precision over predictions only; recall pays for the abstention")
    assert(got.values.forall(r => math.abs(r.getDouble(9) - 2.0 / 3) < 1e-6),
      "accuracy denominator includes the abstained row")
  }

  test("r16 eval operators == driver definitions on random inputs (seeded property loops)") {
    import graft.operators.TextAnalysis
    for (seed <- Seq(5, 42, 977)) {
      val rnd = new scala.util.Random(seed)
      // --- jsDivergence vs the driver definition over a random corpus
      val vocab = Vector("v1", "v2", "v3", "v4", "v5", "v6")
      val docs = (1 to 30 + rnd.nextInt(40)).map { _ =>
        (rnd.nextBoolean(),
          Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val cp = docs.filter(_._1).flatMap(_._2.split(" ")).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val cq = docs.filterNot(_._1).flatMap(_._2.split(" ")).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val (np, nq) = (cp.values.sum.toDouble, cq.values.sum.toDouble)
      if (np > 0 && nq > 0) {
        val direct = (cp.keySet ++ cq.keySet).toSeq.map { t =>
          val p = cp.getOrElse(t, 0L) / np; val q = cq.getOrElse(t, 0L) / nq
          val m = (p + q) / 2
          (if (p > 0) p * math.log(p / m) else 0.0) / 2 +
            (if (q > 0) q * math.log(q / m) else 0.0) / 2
        }.sum
        val got = TextAnalysis.jsDivergence(docs.toDF("s", "text"), "text", col("s"))
          .collect().head.getDouble(4)
        assert(math.abs(got - direct) < 1e-6, s"jsd seed=$seed: $got vs $direct")
      }
      // --- classificationReport vs driver counts over random labelings
      val labels = Vector("x", "y", "z", "w")
      val pairs = (1 to 50 + rnd.nextInt(50)).map { _ =>
        (labels(rnd.nextInt(labels.size)), labels(rnd.nextInt(labels.size)))
      }
      val rep = Profiler.classificationReport(pairs.toDF("a", "p"), col("a"), col("p"))
        .collect().map(r => r.getString(0) -> r).toMap
      val classes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
      assert(rep.keySet == classes.toSet)
      classes.foreach { c =>
        val na = pairs.count(_._1 == c); val npr = pairs.count(_._2 == c)
        val tp = pairs.count(p => p._1 == c && p._2 == c)
        val r = rep(c)
        assert(r.getLong(1) == na && r.getLong(2) == npr && r.getLong(3) == tp,
          s"report seed=$seed class=$c")
      }
      // --- calibration vs driver binning over random fixed-point scores
      val scored = (1 to 60).map(_ => (rnd.nextInt(101).toLong, rnd.nextBoolean()))
      val cal = Profiler.calibration(scored.toDF("s", "l"), "s", col("l"),
        fpUnit = 100L, bins = 5).collect()
      val byBin = scored.groupBy { case (s, _) => math.min(s * 5 / 100, 4L) }
      assert(cal.map(_.getLong(0)).toSet == byBin.keySet)
      cal.foreach { r =>
        val b = byBin(r.getLong(0))
        assert(r.getLong(1) == b.size && r.getLong(2) == b.count(_._2),
          s"calibration seed=$seed bin=${r.getLong(0)}")
        val conf = b.map(_._1).sum.toDouble / (b.size * 100.0)
        assert(math.abs(r.getDouble(3) - conf) < 1e-5)
      }
    }
  }

  test("mutualInformation: ln k on identity, exact 0 on independence, driver-checked skew") {
    def run(rows: Seq[(String, String)]) = {
      val r = Profiler.mutualInformation(rows.toDF("a", "b"), col("a"), col("b")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }
    // X = Y uniform over two classes: MI = ln 2, NMI = 1
    val ident = run(Seq(("a", "a"), ("b", "b"), ("a", "a"), ("b", "b")))
    assert(ident._1 == 4 && ident._2 == 2 && ident._3 == 2)
    assert(math.abs(ident._4.get - math.log(2.0)) < 1e-6)
    assert(math.abs(ident._5.get - 1.0) < 1e-6)
    // exact product distribution: every cell term is ln(1) = 0 exactly
    val indep = run(Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")))
    assert(indep._4.contains(0.0) && indep._5.contains(0.0))
    // skewed dependent case vs the driver-side definition
    val skew = Seq(("a", "c"), ("a", "c"), ("a", "d"), ("b", "d"))
    val n = 4.0
    val direct = Seq((2.0, 3.0, 2.0), (1.0, 3.0, 2.0), (1.0, 1.0, 2.0))
      .map { case (nxy, nx, ny) => (nxy / n) * math.log(nxy * n / (nx * ny)) }.sum
    assert(math.abs(run(skew)._4.get - direct) < 1e-6)
    // one side constant: zero entropy -> nmi null, mi 0
    val const = run(Seq(("a", "c"), ("a", "d")))
    assert(const._4.contains(0.0) && const._5.isEmpty)
    // empty -> n 0, mi 0, nmi null
    val e = run(Seq.empty)
    assert(e._1 == 0 && e._4.contains(0.0) && e._5.isEmpty)
  }

  test("cohenKappa: hand-computed, perfect disagreement -1, single-class null, empty null") {
    def run(rows: Seq[(String, String)]) = {
      val r = Profiler.cohenKappa(rows.toDF("a", "b"), col("a"), col("b")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
    // po = 3/4, pe = (2*1 + 2*3)/16 = 1/2, kappa = .25/.5 = .5
    assert(run(Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"))) ==
      ((4L, Some(0.75), Some(0.5), Some(0.5))))
    // systematic disagreement with symmetric marginals: kappa = -1
    assert(run(Seq(("a", "b"), ("b", "a")))._4.contains(-1.0))
    // both raters constant on one class: pe = 1, kappa undefined -> null
    assert(run(Seq(("a", "a"), ("a", "a")))._4.isEmpty)
    // empty input: one row, n = 0, all null
    assert(run(Seq.empty) == ((0L, None, None, None)))
  }

  /** Driver-side Spearman with ties (midrank Pearson) for the property
    * checks — plain double arithmetic over the full rows. */
  private def directSpearman(rows: Seq[(Long, Long)]): Option[Double] = {
    def midranks(vs: Seq[Long]): Map[Long, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val below = sorted.count(_ < v); val c = sorted.count(_ == v)
        v -> (below + (c + 1) / 2.0)
      }.toMap
    }
    val rx = midranks(rows.map(_._1)); val ry = midranks(rows.map(_._2))
    val xs = rows.map(r => rx(r._1)); val ys = rows.map(r => ry(r._2))
    val n = rows.size.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (xs.map(a => a * a).sum, ys.map(a => a * a).sum)
    val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
    if (vx > 0 && vy > 0) Some((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
    else None
  }

  test("spearman: monotone ±1, ties match the driver midrank form, degenerate null") {
    def run(rows: Seq[(Long, Long)], parts: Int = 4): (Long, Option[Double]) = {
      val r = Profiler.spearman(rows.toDF("x", "y").repartition(parts),
        col("x"), col("y")).collect().head
      (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
    // strictly monotone (nonlinear is fine — rank correlation): exactly ±1
    assert(run((1L to 10L).map(i => (i, i * i)))._2.contains(1.0))
    assert(run((1L to 10L).map(i => (i, 100L - i * i)))._2.contains(-1.0))
    // heavy ties: exact match vs the driver midrank-Pearson computation
    val tied = Seq((1L, 5L), (1L, 5L), (2L, 5L), (2L, 7L), (3L, 7L),
      (3L, 9L), (3L, 9L), (4L, 9L), (4L, 11L), (5L, 11L))
    val (n, rho) = run(tied)
    assert(n == 10L)
    assert(math.abs(rho.get - directSpearman(tied).get) < 5e-7,
      s"got $rho vs direct ${directSpearman(tied)}")
    // partition-independence (the exact-integer-sums argument)
    assert(run(tied, parts = 1) == run(tied, parts = 7))
    // degenerate: constant y has zero rank variance -> null, never NaN
    assert(run((1L to 5L).map(i => (i, 3L)))._2.isEmpty)
  }

  test("jsDivergence: 0 on identical slices, ln 2 on disjoint vocabularies, empty slice null") {
    import graft.operators.TextAnalysis
    // identical token distributions on both sides -> every term 0
    val same = Seq((true, "a b c"), (false, "a b c"), (true, "a b c"),
      (false, "a b c")).toDF("s", "text")
    val r0 = TextAnalysis.jsDivergence(same, "text", col("s")).collect()
    assert(r0.forall(_.getDouble(4) == 0.0))
    // disjoint vocabularies: JSD = ln 2 exactly (max divergence)
    val disj = Seq((true, "a b"), (false, "c d")).toDF("s", "text")
    val r1 = TextAnalysis.jsDivergence(disj, "text", col("s")).collect()
    assert(math.abs(r1.head.getDouble(4) - math.log(2.0)) < 1e-6)
    // hand case: P = {a: 2/3, b: 1/3}, Q = {a: 1/3, b: 2/3}
    val mix = Seq((true, "a a b"), (false, "a b b")).toDF("s", "text")
    val p = 2.0 / 3; val q = 1.0 / 3; val m = (p + q) / 2
    val expect = 2 * (p * math.log(p / m) / 2 + q * math.log(q / m) / 2)
    val r2 = TextAnalysis.jsDivergence(mix, "text", col("s")).collect()
    assert(math.abs(r2.head.getDouble(4) - expect) < 1e-6)
    // one side empty: nothing to diverge from -> null terms and total
    val solo = Seq((true, "a b")).toDF("s", "text")
    val r3 = TextAnalysis.jsDivergence(solo, "text", col("s")).collect()
    assert(r3.forall(_.isNullAt(3)) && r3.forall(_.isNullAt(4)))
  }

  test("zipfFit: exact OLS vs driver arithmetic on a planted spectrum; single type null") {
    import graft.operators.TextAnalysis
    // frequencies 8, 4, 2, 1 over four types (one doc per token instance)
    val docs = (Seq.fill(8)("t1") ++ Seq.fill(4)("t2") ++ Seq.fill(2)("t3") ++
      Seq("t4")).map(Tuple1(_)).toDF("text")
    val got = TextAnalysis.zipfFit(docs, "text").collect().head
    assert(got.getLong(0) == 4L && got.getLong(1) == 15L)
    val pts = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L))
      .map { case (r, c) => (math.log(r.toDouble), math.log(c.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(math.abs(got.getDouble(2) - slope) < 1e-5, s"slope ${got.getDouble(2)} vs $slope")
    assert(math.abs(got.getDouble(3) - intercept) < 1e-5)
    // a geometric spectrum is steeper than Zipf's -1 on log-rank axes
    assert(slope < -1.0 && slope > -2.0, s"slope $slope out of the sane band")
    // single type: zero rank variance -> null slope/intercept
    val one = Seq(Tuple1("solo solo solo")).toDF("text")
    val g1 = TextAnalysis.zipfFit(one, "text").collect().head
    assert(g1.getLong(0) == 1L && g1.isNullAt(2) && g1.isNullAt(3))
  }

  test("globalTopK: skew prunes candidates to ~k of 50 keys; exact; partition-independent") {
    // Zipf-ish: key i's total ~ 1000/i — heavy head, long tail
    val rows = (1 to 2000).map { i =>
      val key = 1L + (i % 50)
      (key, (1000L / key) * 10L + 7L)
    }
    val direct = rows.groupBy(_._1).map { case (k, rs) => (k, rs.map(_._2).sum) }
      .toSeq.sortBy { case (k, s) => (-s, k) }.take(5)
    for (parts <- Seq(3, 8)) {
      val (got, audit) = TopK.globalTopKWithAudit(
        rows.toDF("k", "m").repartition(parts), col("k"), col("m"), k = 5)
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == direct)
      // the TPUT prune: far fewer candidates than the 50-key aggregate,
      // and never more than the ≤ k·P phase-1 emission grain
      assert(audit.numCandidates <= 5L * audit.numPartitions, audit.toString)
      assert(audit.numCandidates <= 10L, audit.toString)
      // L is a sound lower bound of the k-th total (heads may miss some
      // partials of the k-th key under uneven splits, never overcount)
      assert(audit.lowerBound > 0L && audit.lowerBound <= direct.last._2)
    }
  }

  test("globalTopK production path pays no audit job: pinned count, WithAudit strictly more") {
    // Job-count the two variants via job groups (round 15's production
    // path ran the audit's cands.count() unconditionally — a 4th full
    // scan per call whose only output the caller discarded).
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // the status store is fed by an async listener bus: poll until the
      // group's job count is stable
      var last = -1; var stable = 0; var waited = 0
      while (stable < 3 && waited < 10000) {
        val n = sc.statusTracker.getJobIdsForGroup(group).length
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100); waited += 100
      }
      last
    }
    val rows = (1 to 2000).map(i => (1L + (i % 50), (1000L / (1 + i % 50)) + 3L))
    val df = rows.toDF("k", "m").repartition(6).localCheckpoint()
    // warm both paths once so codegen/broadcast-init jobs don't skew counts
    TopK.globalTopK(df, col("k"), col("m"), 5).collect()
    TopK.globalTopKWithAudit(df, col("k"), col("m"), 5)._1.collect()
    val plain = jobsIn("topk_plain") {
      TopK.globalTopK(df, col("k"), col("m"), 5).collect(): Unit
    }
    val audited = jobsIn("topk_audit") {
      val (out, audit) = TopK.globalTopKWithAudit(df, col("k"), col("m"), 5)
      out.collect(); assert(audit.numCandidates > 0)
    }
    // Structural pin (the shuffles_pinned discipline): the production
    // path's job count is the algorithm's inherent shape — heads collect,
    // then the AQE-staged candidate broadcast + final aggregate. The
    // audit variant pays the cands.count() on top (multiple jobs under
    // AQE staging) — strictly more, and only there.
    assert(plain == 5, s"plain=$plain — production job count moved")
    assert(audited > plain,
      s"plain=$plain audited=$audited — audit job(s) must be extra-only")
  }

  test("globalTopK == driver-side direct top-k on random corpora (seeded property loop)") {
    for (seed <- Seq(3, 19, 101)) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(60)
      val rows = (1 to 300 + rnd.nextInt(700)).map { _ =>
        // mixed regimes: some seeds heavy-tailed, some near-uniform
        val key = (math.pow(rnd.nextDouble(), 1 + seed % 3) * nKeys).toLong
        (key, rnd.nextInt(1000).toLong)
      }
      val k = 1 + rnd.nextInt(8)
      val direct = rows.groupBy(_._1).map { case (kk, rs) => (kk, rs.map(_._2).sum) }
        .toSeq.sortBy { case (kk, s) => (-s, kk) }.take(k)
      val got = TopK.globalTopK(
          rows.toDF("k", "m").repartition(1 + rnd.nextInt(9)), col("k"), col("m"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == direct, s"seed=$seed k=$k nKeys=$nKeys")
    }
  }

  test("globalTopK: uniform totals degrade to full candidacy but stay exact; contract") {
    // every key has the SAME total → nothing CAN prune (no TA algorithm
    // separates equals); candidates degrade to the full key set, exactly
    val uni = (1 to 400).map(i => ((i % 100).toLong, 5L))
    val (gotU, auditU) = TopK.globalTopKWithAudit(
      uni.toDF("k", "m").repartition(8), col("k"), col("m"), k = 3)
    assert(auditU.numCandidates == 100L)
    assert(gotU.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 20L), (1L, 20L), (2L, 20L))) // ties break on key ascending
    // fewer distinct keys than k: L = 0, every key a candidate, exact
    val tiny = Seq((1L, 2L), (2L, 9L), (1L, 1L)).toDF("k", "m")
    val (gotT, auditT) = TopK.globalTopKWithAudit(tiny, col("k"), col("m"), k = 10)
    assert(auditT.lowerBound == 0L && auditT.numCandidates == 2L)
    assert(gotT.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 9L), (1L, 3L)))
    // negative measures would break the pruning bound — loud executor failure
    assertThrows[org.apache.spark.SparkException] {
      TopK.globalTopK(Seq((1L, -1L)).toDF("k", "m"), col("k"), col("m"), 1).collect()
    }
  }
}
