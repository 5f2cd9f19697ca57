package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** Text-operator semantics: chunking, packing, quality rules, LM scores,
  * entropy/OOV/compression signals, normalization, segmentation, span
  * corruption. (Moved out of SamplingSpec so coverage lives next to the
  * module under test.) */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunk: overlap continuity, full coverage, no redundant tail chunk") {
    val text = ("abcdefghij" * 30) // 300 chars
    val docs = Seq((1L, text), (2L, "tiny")).toDF("doc_id", "text")
    val chunks = graft.operators.TextAnalysis.chunk(docs, "doc_id", "text",
        size = 100, overlap = 20)
      .orderBy($"doc_id", $"chunk_id").as[(Long, Long, String)].collect()
    val d1 = chunks.filter(_._1 == 1L).map(_._3)
    // starts at 1, 81, 161, 241 (bound: len-overlap = 280)
    assert(d1.length == 4)
    assert(d1(0) == text.substring(0, 100) && d1(1) == text.substring(80, 180))
    // consecutive chunks share exactly `overlap` chars
    assert(d1(0).takeRight(20) == d1(1).take(20))
    // union of chunks reconstructs the document (dedup the overlaps)
    assert(d1.head + d1.tail.map(_.drop(20)).mkString == text)
    // short doc -> one whole-doc chunk
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq == Seq("tiny"))
  }

  test("packSequences: packs cut at the budget, ids reproducible across partitionings") {
    val docs = (1L to 100L).map(i => (i, "w " * 40, "g")).toDF("doc_id", "text", "lang")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.packSequences(df, "doc_id",
        size(split(trim($"text"), "\\s+")), budget = 100L, groupCol = "lang")
        .orderBy($"doc_id").as[(String, Long, Long, Long, Long)].collect()
    val got = run(docs)
    // 40 tokens/doc, budget 100: packs hold docs starting at offsets 0,40,80 ->
    // pack 0 gets 3 docs (starts 0/40/80), then the stream continues
    assert(got.take(3).map(_._5).toSeq == Seq(0L, 0L, 0L))
    assert(got(3)._5 == 1L) // starts at cum 120 -> pack 1
    // deterministic under repartitioning (window order is the contract)
    assert(run(docs.repartition(7)) sameElements got)
  }

  test("qualityFlags: each rule trips on its own pathology") {
    // 24 distinct words: unique bigrams, stopwords present, mean len ~4.8
    val good = "the quick brown fox jumps over lazy dogs and runs into green " +
      "fields while birds sing songs about bright morning sunshine near quiet rivers"
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "too short to keep"),                    // word count
      (3L, ("a b c d " * 20).trim),                 // mean word length < 3
      (4L, good + " " + ("$$$ ###" * 40)),          // symbol share > 10%
      (5L, ("lorem ipsum dolor " * 20).trim),       // no English stopwords
      (6L, good + " " + ("spam spam " * 60).trim))  // bigram repetition
      .toDF("doc_id", "text")
    val flags = graft.operators.TextAnalysis.qualityFlags(docs, "doc_id", "text", minWords = 20)
      .orderBy($"doc_id")
      .select($"doc_id", $"ok_word_count", $"ok_word_len", $"ok_symbols",
        $"ok_stopwords", $"ok_repetition", $"keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(flags(0) == ((1L, true, true, true, true, true, true)))
    assert(!flags(1)._2 && !flags(1)._7) // short
    assert(!flags(2)._3)                 // tiny words
    assert(!flags(3)._4)                 // symbol-heavy
    assert(!flags(4)._5)                 // stopword-free
    assert(!flags(5)._6 && !flags(5)._7) // repetitive
  }

  test("unigramLogProb: rare-token gibberish scores below typical text") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "the cat and the dog sat"),
      (4L, "zqxv jkwp mbfg tyhn qplz")) // tokens seen nowhere else
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    assert(got.map(_._2).forall(_ >= 5L)) // token counts carried through
    val scores = got.map(r => r._1 -> r._3).toMap
    assert(scores(4L) < scores(1L) && scores(4L) < scores(2L) && scores(4L) < scores(3L),
      scores.toString)
    // sanity: probabilities, so every avg log-prob is negative
    assert(scores.values.forall(_ < 0))
  }

  test("compressionRatio: repetitive < prose < random; empty is null; deterministic") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(11)
    val random = rnd.alphanumeric.take(400).mkString
    val df = Seq(
      (1L, "spam ham " * 50),                               // repetitive
      (2L, ("the quick brown fox jumps over the lazy dog " +
        "a stitch in time saves nine all that glitters is not gold ") * 4),
      (3L, random),                                          // incompressible-ish
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Option[Double])].collect()
    val r = got.map(x => x._1 -> x._3).toMap
    assert(r(1L).get < r(2L).get && r(2L).get < r(3L).get, r.toString)
    assert(r(4L).isEmpty)
    // pure per-row function: repartitioning changes nothing
    val again = TextAnalysis.compressionRatio(df.repartition(5), "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Option[Double])].collect()
    assert(again sameElements got)
  }

  test("compressionRatioAudited: ratios pass through unchanged, order audit broadcasts true") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "spam ham " * 50),
      (2L, "mixed prose with some repetition some repetition indeed"),
      (3L, "")).toDF("doc_id", "text")
    val plain = TextAnalysis.compressionRatio(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Option[Double])].collect()
    val audited = TextAnalysis.compressionRatioAudited(df, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Option[Double], Boolean)].collect()
    assert(audited.map(r => (r._1, r._2, r._3)) sameElements plain)
    assert(audited.forall(_._4), "deflate_order_ok must broadcast true")
  }

  test("spanCorrupt: lossless reassembly, sentinel placement, short docs dropped") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "one two three"), // 3 tokens <= spanLen+1 -> dropped
      (3L, "w x y z q r s t")).toDF("doc_id", "text")
    val got = TextAnalysis.spanCorrupt(df, "doc_id", "text", spanLen = 2)
      .orderBy($"doc_id").as[(Long, Long, Long, String, String)].collect()
    assert(got.map(_._1) sameElements Array(1L, 3L))
    got.foreach { case (_, n, st, input, target) =>
      assert(st >= 0 && st <= n - 2 - 1)
      val masked = target.split(" ").drop(1) // after the sentinel
      assert(masked.length == 2)
      // splicing the target back into the sentinel recovers the original
      val rebuilt = input.replace("<extra_id_0>", masked.mkString(" "))
      assert(rebuilt.split(" ").length == n)
    }
    // deterministic: same ids -> same spans on any partitioning
    val again = TextAnalysis.spanCorrupt(df.repartition(3), "doc_id", "text", spanLen = 2)
      .orderBy($"doc_id").as[(Long, Long, Long, String, String)].collect()
    assert(again sameElements got)
  }

  test("tokenEntropy: repeated token ~0, uniform distinct = ln(n)") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect()
    assert(got(0) == ((1L, 4L, 1L, -0.0)) || got(0) == ((1L, 4L, 1L, 0.0)))
    assert(got(1)._2 == 4L && got(1)._3 == 4L)
    assert(math.abs(got(1)._4 - math.log(4.0)) < 1e-5)
  }

  test("oovRate counts token instances outside the vocabulary") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "known known rare"),
      (2L, "known known known")).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, "doc_id", "text", minCount = 3L)
    // only 'known' (5 instances) clears minCount=3; 'rare' is OOV
    val got = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
      .orderBy($"doc_id").as[(Long, Long, Long, Double)].collect()
    assert(got sameElements Array((1L, 3L, 1L, 1.0 / 3.0), (2L, 3L, 0L, 0.0)))
  }

  test("normalizeText folds typography, case, and whitespace runs") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "  “Hello—World”\t\tIt’s   FINE \n"),
      (2L, "already clean"),
      (3L, "")).toDF("id", "t")
    val got = df.select($"id", TextAnalysis.normalizeText($"t").as("n"))
      .orderBy($"id").as[(Long, String)].collect()
    assert(got sameElements Array(
      (1L, "\"hello-world\" it's fine"), (2L, "already clean"), (3L, "")))
  }

  test("sentences splits on terminator runs and keeps the unterminated tail") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "One. Two!! Three?  tail no dot"),
      (2L, "no punctuation at all"),
      (3L, "...")).toDF("id", "t")
    val got = TextAnalysis.sentences(df, "id", "t")
      .orderBy($"id", $"sent_idx").as[(Long, Long, String)].collect()
    assert(got sameElements Array(
      (1L, 0L, "One."), (1L, 1L, "Two!!"), (1L, 2L, "Three?"), (1L, 3L, "tail no dot"),
      (2L, 0L, "no punctuation at all"), (3L, 0L, "...")))
  }

  test("bigramLogProb: shuffled word order scores below natural order") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the hat"),
      (4L, "mat the on sat cat the"), // same unigrams, unseen-order bigrams
      (5L, "solo")) // single token: no bigram, absent from output
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    assert(got.map(_._1) sameElements Array(1L, 2L, 3L, 4L))
    assert(got.forall(_._2 == 5L)) // 6 tokens -> 5 bigram instances
    val scores = got.map(r => r._1 -> r._3).toMap
    // doc 4 shares every unigram with docs 1-3 but none of the common
    // bigrams: only the interpolated back-off saves it from -inf, and it
    // must score strictly below the naturally-ordered docs
    assert(scores(4L) < scores(1L) && scores(4L) < scores(2L) && scores(4L) < scores(3L),
      scores.toString)
    assert(scores.values.forall(_ < 0))
  }

  test("knLogProb: exact KN arithmetic on a hand-derivable model") {
    import graft.operators.TextAnalysis
    // train slice = doc 1 only: bigrams (a,b)x2, (b,a)x1
    //   bi: (a,b)=2, (b,a)=1; ctx: a->(c1=2,n1p=1), b->(c1=1,n1p=1)
    //   pred: a<-{b}=1, b<-{a}=1; T=2 distinct pairs; V=2
    val corpus = Seq(
      (1L, "a b a b", "en"),
      (2L, "a b", "fr"),   // seen pair
      (3L, "c a", "fr"),   // unseen context -> pure continuation
      (4L, "a z", "fr"),   // unseen successor -> uniform floor only
      (5L, "x", "fr"))     // one token: unscorable, absent
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.knLogProb(corpus, "doc_id", "text",
        ref = col("lang") === "en")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pcontB = 1.0 / 2.0
    val floor = 0.1 / (2.0 + 1.0)
    val seen = 0.9 * (math.max(2.0 - 0.75, 0.0) / 2.0 + 0.75 * 1.0 / 2.0 * pcontB) + floor
    val unseenCtx = 0.9 * (1.0 / 2.0) + floor          // p_cont(a) = 1/2
    val unseenSucc = 0.9 * (0.75 * 1.0 / 2.0 * 0.0) + floor // max(-D,0)=0, pcont(z)=0
    val expect = Map(
      2L -> r6(math.log(seen)), 3L -> r6(math.log(unseenCtx)),
      4L -> r6(math.log(unseenSucc)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L)) // doc 5 absent
    assert(got.forall(_._2 >= 1L))
    got.filter(_._1 >= 2L).foreach { case (id, n, lp) =>
      assert(n == 1L)
      assert(lp == expect(id), s"doc $id: $lp != ${expect(id)}")
    }
    // the in-domain doc must outscore both fallback regimes
    val s = got.map(r => r._1 -> r._3).toMap
    assert(s(2L) > s(3L) && s(3L) > s(4L))
  }

  test("knLogProb: empty training slice raises loudly instead of NaN") {
    import graft.operators.TextAnalysis
    val corpus = Seq((1L, "a b c", "fr"), (2L, "d e", "fr"))
      .toDF("doc_id", "text", "lang")
    // ref matches nothing => t_bigrams = 0; without the in-plan guard
    // every kn_logprob silently came out NaN
    val e = intercept[Throwable] {
      TextAnalysis.knLogProb(corpus, "doc_id", "text",
        ref = col("lang") === "en").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("training slice is empty"), msgs)
  }

  test("knLogProb: reference-trained model ranks shuffled text below natural") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat on the rug", "en"),
      (3L, "the dog sat on the mat", "en"),
      (4L, "the cat sat on the hat", "fr"), // held out, natural order
      (5L, "mat the on sat cat the", "fr")) // same unigrams, soup order
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.knLogProb(corpus, "doc_id", "text",
        ref = col("lang") === "en")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(4L) > got(5L), got.toString) // natural order wins
    assert(got.values.forall(_ < 0))
  }

  test("htmlExtract: blocks drop with content, tags space-separate, entities decode") {
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "<html><head><title>My Page</title><style>p{x}</style></head>" +
        "<body><p>a</p><p>b</p><script>var s=\"</p>\"; 1 < 2;</script>" +
        "Tom &amp; Jerry &lt;3 &amp;lt; &quot;q&quot; &#39;s&#39;&nbsp;end</body></html>"),
      (2L, "no markup at all"),
      (3L, "<p>unclosed <script>alert(1)"), // unclosed block: tags-only degradation
      (4L, "<header>kept</header><head>gone</head>tail")) // head != header

      .toDF("id", "h")
    val (t2, b) = TextAnalysis.htmlExtract($"h")
    val got = df.select($"id", t2.as("t"), b.as("b"))
      .orderBy($"id").as[(Long, String, String)].collect()
    assert(got(0)._2 == "My Page")
    // <p>a</p><p>b</p> -> "a b" (tag = space); script content (with its
    // decoy </p> and bare <) is GONE; &amp;lt; decodes to the literal
    // four chars "&lt;" (amp decoded last), quotes/apostrophes/nbsp fold
    assert(got(0)._3 == "a b Tom & Jerry <3 &lt; \"q\" 's' end", got(0)._3)
    assert(got(1) == ((2L, "", "no markup at all")))
    // unclosed script: block rule can't fire, tag rule still strips tags
    assert(got(2)._3 == "unclosed alert(1)")
    // <header> is a CONTENT tag — only the <head> block drops
    assert(got(3)._3 == "kept tail")
  }

  test("bm25TopK: term-bearing docs only, rare-term boost, length penalty") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "spark spark spark"),                         // high tf, short
      (2L, "spark and a lot of other padding words here"), // tf=1, long
      (3L, "quartz spark"),                              // rare term + spark
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "quartz"), k = 10)
      .as[(Long, Long, Double)].collect()
    // doc 4 contains no query term: absent
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L))
    val byId = got.map(r => r._1 -> r._3).toMap
    // doc 3 matches the rare term (df=1) plus spark: highest score
    assert(got.head._1 == 3L && got.head._2 == 2L)
    // same single term, higher tf and shorter doc wins
    assert(byId(1L) > byId(2L))
    // descending score order throughout
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq)
  }

  test("tfIdfTopTerms ranks rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "common zebra zebra"),
      (2L, "common quartz quartz"),
      (3L, "common plain words here")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 1)
      .select($"doc_id", $"term").as[(Long, String)].collect().toMap
    // 'common' appears in every doc (df=3); the doc-unique terms win even
    // against tf=2 'common'
    assert(top(1L) == "zebra")
    assert(top(2L) == "quartz")
  }

  test("rougeN: clipped multiset overlap, hand-computed; edge pairs score 0") {
    val pairs = Seq(
      // cand bigrams: {ab,bc,ca,ab} ref: {ab,bd} -> clipped: min(2,1)[ab]=1
      // p = 1/4, r = 1/2, f = 2*(1/4)*(1/2)/(3/4) = 1/3
      (1L, "a b c a b", "a b d"),
      // identical texts -> perfect score
      (2L, "x y z w", "x y z w"),
      // candidate shorter than n=2 -> zero cand grams -> p=r=f=0
      (3L, "solo", "x y z"),
      // both sides empty -> the join-back path; all zeros
      (4L, "", "")
    ).toDF("pair_id", "cand", "ref").withColumn("ref_id", $"pair_id")
    val got = TextAnalysis.rougeN(pairs, Seq("pair_id"), "cand", "ref", n = 2)
      .orderBy($"pair_id").as[(Long, Double, Double, Double)].collect()
    assert(got(0) == ((1L, 0.25, 0.5, 0.333333)))
    assert(got(1) == ((2L, 1.0, 1.0, 1.0)))
    assert(got(2) == ((3L, 0.0, 0.0, 0.0)))
    assert(got(3) == ((4L, 0.0, 0.0, 0.0)))
  }

  test("rougeN: native rouge_clip kernel matches the exploded-aggregation form " +
       "on whitespace-adversarial pairs") {
    // the r18 per-row kernel replaced melt → (pair,gram) count agg →
    // per-pair rollup → join-back; this parity pins the replaced plan's
    // arithmetic (clipped = Σ_g min(cc, rc), totals = gram counts) on
    // inputs that stress the tokenization contract: tabs/newlines at the
    // ends (trim strips 0x20 only), multi-space runs, repeated grams
    // (multiset clipping), null sides, sub-n docs, multibyte UTF-8
    val pairs = Seq(
      (1L, "a b c a b", "a b d"),
      (2L, "  x\ty z  ", "x y\nz"),            // trim vs \t\n boundaries
      (3L, "p q p q p q", "p q p q"),          // clipped multiset min
      (4L, null, "a b c"),                     // null cand
      (5L, "a b", null),                       // null ref
      (6L, "solo", "x y"),                     // cand shorter than n
      (7L, "", " "),                           // empties
      (8L, "héé wörld héé wörld", "héé wörld"),// multibyte
      (9L, "a  b   c", "a b c")                // space runs collapse
    ).toDF("pair_id", "cand", "ref")
    def tokArr(c: org.apache.spark.sql.Column) =
      filter(split(trim(c), "\\s+"), t => t =!= "")
    def gramsOf(tc: org.apache.spark.sql.Column) =
      when(size(tc) >= 2,
        transform(sequence(lit(0), size(tc) - 2),
          i => concat_ws(" ", slice(tc, i + lit(1), lit(2)))))
        .otherwise(array().cast("array<string>"))
    // reference clip via the exploded column chain (the pre-r18 melt form)
    val withToks = pairs.select($"pair_id",
      tokArr($"cand").as("ct"), tokArr($"ref").as("rt"))
    val melted = withToks.select($"pair_id", explode(concat(
      transform(gramsOf($"ct"), g => struct(g.as("g"), lit(1L).as("c"), lit(0L).as("r"))),
      transform(gramsOf($"rt"), g => struct(g.as("g"), lit(0L).as("c"), lit(1L).as("r"))))).as("m"))
    val expected = melted.groupBy($"pair_id", $"m.g")
      .agg(sum($"m.c").as("cc"), sum($"m.r").as("rc"))
      .groupBy($"pair_id")
      .agg(sum(least($"cc", $"rc")).as("clipped"),
        sum($"cc").as("ct"), sum($"rc").as("rt"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val got = pairs.select($"pair_id",
        call_function("rouge_clip", $"cand", $"ref", lit(2)).as("m"))
      .select($"pair_id", $"m.clipped", $"m.cand_total", $"m.ref_total")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    (1L to 9L).foreach { id =>
      assert(got(id) == expected.getOrElse(id, (0L, 0L, 0L)),
        s"pair $id: got ${got(id)}, expected ${expected.getOrElse(id, (0L, 0L, 0L))}")
    }
  }
}
