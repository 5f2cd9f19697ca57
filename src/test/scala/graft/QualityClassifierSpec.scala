package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.QualityClassifier

class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val clean = Seq(
    "the quick brown fox jumps over the lazy dog near the quiet river",
    "a measured paragraph with ordinary words and a normal sentence shape",
    "training data pipelines filter documents by learned quality scores",
    "spark catalyst plans the aggregation and prunes unused columns early",
    "readable prose tends to reuse common trigrams of the language")
  private val junk = Seq(
    "zzz zzz zzzz zz zzzzz zzz zz zzzz zzz zz zzz zzzz zz zzz",
    "qqq xqx qxq xxqq qqxx qxqx xqxq qqqx xqqq qxxq qqxx xqqx",
    "kkkk kkk kk kkkkk kkk kk kkkk kkk kk kkk kkkk kk kkk kkk",
    "wwww xxxx wwxx xxww wxwx xwxw wwwx xwww wxxw wwxx xwwx ww",
    "jjj zjz jzj zzjj jjzz jzjz zjzj jjjz zjjj jzzj jjzz zjjz")

  /** 40 labeled docs: 20 clean (label true), 20 junk (label false),
    * cycling the five exemplars so per-class trigram mass is stable. */
  private def corpus = (
    (0 until 20).map(i => (i.toLong, clean(i % clean.length), true)) ++
    (20 until 40).map(i => (i.toLong, junk(i % junk.length), false))
  ).toDF("doc_id", "text", "label")

  test("learned boundary separates planted junk from clean text") {
    val scored = QualityClassifier
      .trainScore(corpus, "doc_id", "text", col("label"), buckets = 256, epochs = 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scored.size == 40)
    val cleanScores = (0 until 20).map(i => scored(i.toLong))
    val junkScores = (20 until 40).map(i => scored(i.toLong))
    assert(cleanScores.forall(_._2), s"every clean doc must score >= 1/2: $cleanScores")
    assert(junkScores.forall(!_._2), s"every junk doc must score < 1/2: $junkScores")
    // the margin is real, not a knife-edge rounding artifact (3 epochs at
    // lr 4/n move scores ~1e3 FP units per epoch around the FP/2 pivot)
    assert(cleanScores.map(_._1).min > junkScores.map(_._1).max + QualityClassifier.FP / 100)
  }

  test("rowScore ≡ score bit-for-bit, with a shuffle-free plan") {
    val model = QualityClassifier.train(corpus, "doc_id", "text",
      col("label"), buckets = 256, epochs = 3)
    val viaFeats = QualityClassifier.score(corpus, "doc_id", "text",
        col("label"), model)
      .orderBy($"doc_id").as[(Long, Long, Boolean)].collect()
    val viaRow = QualityClassifier.rowScore(corpus, "doc_id", "text", model)
      .orderBy($"doc_id").as[(Long, Long, Boolean)].collect()
    assert(viaRow sameElements viaFeats)
    // empty and sub-trigram docs ride the bias feature identically
    val edge = Seq((1L, ""), (2L, "ab")).toDF("doc_id", "text")
    val a = QualityClassifier.rowScore(edge, "doc_id", "text", model)
      .orderBy($"doc_id").as[(Long, Long, Boolean)].collect()
    val b = QualityClassifier.score(edge, "doc_id", "text", lit(false), model)
      .orderBy($"doc_id").as[(Long, Long, Boolean)].collect()
    assert(a sameElements b)
    // the scorer is one projection: no Exchange anywhere in the plan
    val plan = QualityClassifier.rowScore(corpus, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("rowScore is streaming-safe: frozen model scores a stream, no state") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val model = QualityClassifier.train(corpus, "doc_id", "text",
      col("label"), buckets = 256, epochs = 3)
    val mem = MemoryStream[(Long, String)]
    val q = QualityClassifier.rowScore(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.outputMode("append").format("memory")
      .queryName("clf_stream").start()
    try {
      mem.addData((0L, clean(0)), (20L, junk(0)))
      q.processAllAvailable()
      val got = spark.table("clf_stream")
        .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
      assert(got == Map(0L -> true, 20L -> false), got.toString)
    } finally q.stop()
  }

  test("generalizes: held-out docs score on the right side") {
    val model = QualityClassifier
      .train(corpus, "doc_id", "text", col("label"), buckets = 256, epochs = 3)
    val heldOut = Seq(
      (100L, "the lazy dog naps by the quiet river under a brown tree", true),
      (101L, "zz qqq zzzz xqx kk zzz wwww jjj zz qxq kkk zzzz", false)
    ).toDF("doc_id", "text", "label")
    val s = QualityClassifier.score(heldOut, "doc_id", "text", col("label"), model)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(s(100L) && !s(101L), s"held-out separation failed: $s")
  }

  test("training is partitioning-independent (fixed-point exactness)") {
    val a = QualityClassifier
      .train(corpus.repartition(1), "doc_id", "text", col("label"), 256, 3)
    val b = QualityClassifier
      .train(corpus.repartition(7, col("text")), "doc_id", "text", col("label"), 256, 3)
    assert(a.weights.sameElements(b.weights),
      "weights must be bit-identical at any partitioning")
    assert(a.weights.exists(_ != 0L), "training must actually move weights")
  }

  test("guards: empty corpus, bad lr, gradient bound message") {
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.train(corpus.limit(0), "doc_id", "text", col("label"), 16, 1)
    }
    assert(e.getMessage.contains("empty corpus"))
    val lr = intercept[IllegalArgumentException] {
      QualityClassifier.train(corpus, "doc_id", "text", col("label"), 16, 1, lrNum = 9L)
    }
    assert(lr.getMessage.contains("lrNum"))
  }

  test("char_gram_buckets ≡ the relational md5-bucket form") {
    val texts = Seq("hello world", "aaa", "ab", "", "ünïcødé grams héré",
      // non-BMP: 😀 is TWO UTF-16 units but ONE codepoint — the gram
      // walk must agree with substring()/length() codepoint semantics
      // (a UTF-16 walk emits extra grams and mis-normalizes features)
      "😀😀😀 non-bmp 😀 grams", "😀a", "a😀b",
      "the quick brown fox") ++
      (1 to 30).map(i => scala.util.Random.javaRandomToRandom(
        new java.util.Random(i)).alphanumeric.take(40).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = df.select($"doc_id",
        explode(call_function("char_gram_buckets", $"text", lit(3), lit(64))).as("e"))
      .select($"doc_id", $"e.b", $"e.cnt")
      .as[(Long, Long, Long)].collect().toSet
    val want = df.select($"doc_id",
        explode(sequence(lit(1), greatest(length($"text") - 2, lit(0)))).as("pos"), $"text")
      .filter(length($"text") >= 3)
      .select($"doc_id",
        graft.operators.Dsir.featureBucket(expr("substring(text, pos, 3)"), 64).as("b"))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"histogram mismatch: ${got.diff(want)} vs ${want.diff(got)}")
  }

  test("training survives non-BMP docs, including sub-3-codepoint ones") {
    // "😀a" is 3 UTF-16 units but 2 codepoints: a UTF-16 gram count with
    // a codepoint normalizer made __tot = 0 here → floor(cnt·FP/0.0) =
    // Infinity → Long.MaxValue feature → ANSI sum overflow in training.
    // With codepoint-consistent grams the doc simply contributes only
    // its bias row and training stays finite.
    val emoji = Seq(
      (1L, "😀a", true), (2L, "😀😀😀 good doc with words 😀", true),
      (3L, "bad 😀 doc full of junk", false), (4L, "plain ascii text here", false))
      .toDF("doc_id", "text", "label")
    val m = QualityClassifier.train(emoji, "doc_id", "text", col("label"), 64, 2)
    assert(m.weights.forall(w => w > Long.MinValue / 2 && w < Long.MaxValue / 2))
    val scored = QualityClassifier.rowScore(emoji, "doc_id", "text", m)
    assert(scored.count() == 4L)
  }

  test("prCurve: hand-computed sweep, exact counts, F1 from raw counts") {
    // scores desc: 90(+) 80(-) 70(+) 70(+) 60(-)  => 3 pos, 2 neg
    val df = Seq((90L, true), (80L, false), (70L, true), (70L, true), (60L, false))
      .toDF("s", "y")
    val got = graft.operators.Profiler.prCurve(df, "s", $"y")
      .orderBy($"thr".desc)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (90L, 1L, 0L, 2L, 1.0, round6(1.0 / 3), 0.5),
      (80L, 1L, 1L, 2L, 0.5, round6(1.0 / 3), round6(2.0 / 5)),
      (70L, 3L, 1L, 0L, 0.75, 1.0, round6(6.0 / 7)),
      (60L, 3L, 2L, 0L, 0.6, 1.0, 0.75)), s"got $got")
    // all-negative corpus: recall is null, precision still defined
    val neg = graft.operators.Profiler.prCurve(
        Seq((10L, false)).toDF("s", "y"), "s", $"y")
      .select($"tp", $"recall").collect().head
    assert(neg.getLong(0) == 0L && neg.isNullAt(1))
  }
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("docs shorter than one trigram still score via the bias feature") {
    val tiny = Seq((1L, "ab", true), (2L, "xy", false)).toDF("doc_id", "text", "label")
    val model = QualityClassifier.Model(Array.fill(17)(0L), 16)
    val s = QualityClassifier.score(tiny, "doc_id", "text", col("label"), model)
      .as[(Long, Long, Boolean)].collect()
    // zero weights ⇒ margin 0 ⇒ exactly FP/2 for both rows
    assert(s.length == 2 && s.forall(_._2 == QualityClassifier.FP / 2))
  }
}
