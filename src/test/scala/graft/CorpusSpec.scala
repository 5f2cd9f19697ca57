package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}

class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ngramScrub: only benchmark-covered spans drop; overlaps merge; short docs survive") {
    import graft.operators.Corpus
    val corpus = Seq(
      (1L, "a b c d e f g"),  // benchmark gram "c d e" -> drop positions 3-5
      (2L, "x c d e c d e y"), // two overlapping matches -> 2..7 covered
      (3L, "p q r s"),         // no match: untouched
      (4L, "c d e"),           // fully covered -> empty
      (5L, "c d"))             // shorter than n: no gram, untouched
      .toDF("doc_id", "text")
    val bench = Seq((100L, "z z c d e z")).toDF("doc_id", "text")
    val got = Corpus.ngramScrub(corpus, bench, "doc_id", "text", n = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, Long, String)].collect()
    assert(got.toSeq == Seq(
      (1L, 7L, 4L, 3L, "a b f g"),
      (2L, 8L, 2L, 6L, "x y"),
      (3L, 4L, 4L, 0L, "p q r s"),
      (4L, 3L, 0L, 3L, ""),
      (5L, 2L, 2L, 0L, "c d")))
  }

  test("ngramScrub: zero-token and repeated-gram docs through the doc-grain span path") {
    // r18 rewired stages 3-4 to per-row array arithmetic (array_except over
    // sequence(1, n_tokens)); these inputs pin its edges: the empty doc
    // (sequence(1, 0) would count DOWN without the guard), a doc that is
    // one repeated benchmark gram (hit starts dedup through collect_set),
    // and a doc whose only match sits at the exact tail boundary
    val corpus = Seq(
      (1L, ""),                  // zero tokens: 0/0/0, empty text
      (2L, "c d e c d e c d e"), // overlapping repeats of the same gram -> all covered
      (3L, "a b c d e"))         // match flush at the tail (positions 3-5)
      .toDF("doc_id", "text")
    val bench = Seq((100L, "c d e")).toDF("doc_id", "text")
    val got = Corpus.ngramScrub(corpus, bench, "doc_id", "text", n = 3)
      .orderBy($"doc_id").as[(Long, Long, Long, Long, String)].collect()
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 0L, ""),
      (2L, 9L, 0L, 9L, ""),
      (3L, 5L, 2L, 3L, "a b")))
  }

  test("repetitionStats: native gram_stats kernel matches the exploded-aggregation form " +
       "on tokenizer-adversarial docs") {
    // r18 moved the bigram/trigram multiset aggregates per-row (GramStats
    // kernel); this parity rebuilds the replaced exploded plan inline and
    // pins the tokenizer contract edges: split(trim(text), "\\s+") keeps a
    // LEADING and a TRAILING empty token after non-space whitespace at
    // either end, maps "" to [""], and repetition counts are multiset-exact
    val docs = Seq(
      (1L, "a b a b a"),            // overlapping repeats
      (2L, "\tx y x y"),            // leading tab -> leading empty token
      (3L, ""),                     // empty -> [""]
      (4L, "   "),                  // spaces only -> trim -> [""]
      (5L, "solo"),                 // 1 token: no grams
      (6L, "p q"),                  // exactly one bigram, no trigram
      (7L, "héé wörld héé wörld héé"), // multibyte repeats
      (8L, "x y\tx y\t"),           // trailing tab -> trailing empty token
      (9L, "a b\n")                 // trailing newline -> trailing empty token
    ).toDF("doc_id", "text")
    def wordsOf(c: org.apache.spark.sql.Column) = split(trim(c), "\\s+")
    def gramsOf(w: org.apache.spark.sql.Column, n: Int) =
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    def refStats(n: Int) = docs.select($"doc_id", wordsOf($"text").as("w"))
      .select($"doc_id", explode(gramsOf($"w", n)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("max_c"), sum($"c").as("tot"),
        sum(when($"c" > 1, $"c").otherwise(lit(0L))).as("dup"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    Seq(2, 3).foreach { n =>
      val expected = refStats(n)
      val got = docs.select($"doc_id",
          call_function("gram_stats", $"text", lit(n)).as("m"))
        .select($"doc_id", $"m.max_c", $"m.tot", $"m.dup")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      (1L to 9L).foreach { id =>
        assert(got(id) == expected.getOrElse(id, (0L, 0L, 0L)),
          s"n=$n doc $id: got ${got(id)}, expected ${expected.getOrElse(id, (0L, 0L, 0L))}")
      }
    }
    // and the full operator output shape on the same docs
    val full = Corpus.repetitionStats(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double, Double, Double)].collect()
    assert(full.length == 9)
    // "a b a b a": bigrams {a b: 2, b a: 2} -> max 2, frac 0.8; trigrams
    // {a b a: 2, b a b: 1} -> dup 2 of 3
    assert(full(0) == ((1L, 5L, 0.4, 0.8, 2.0 / 3)), full(0).toString)
    assert(full(4) == ((5L, 1L, 1.0, 0.0, 0.0)), full(4).toString) // "solo"
  }

  test("paragraphDedup: first occurrence survives corpus-wide, docs rebuilt in order") {
    // size=2 paragraphs; "a b" appears in docs 1 (pos 0) and 2 (pos 1) and
    // twice inside doc 3
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "x y a b"),
      (3L, "a b a b"),
      (4L, "c d")
    ).toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(docs, "doc_id", "text", size = 2)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got sameElements Array(
      (1L, 2L, 2L, "a b c d"),   // both paragraphs first seen here
      (2L, 2L, 1L, "x y"),       // "a b" already taken by doc 1
      (3L, 2L, 0L, ""),          // both paragraphs are copies
      (4L, 1L, 0L, "")))         // "c d" taken by doc 1 pos 1
  }

  test("paragraphDedup: ragged tail chunk is its own paragraph") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = Corpus.paragraphDedup(docs, "doc_id", "text", size = 2)
      .select($"n_chunks", $"clean_text").as[(Long, String)].collect()
    assert(got sameElements Array((2L, "a b c")))
  }

  test("repetitionStats: repeated grams raise the gates, clean doc stays low") {
    val docs = Seq(
      (1L, "a a a a"),                       // top bigram "a a" x3
      (2L, "p q r s t u v w"),               // all distinct
      (3L, "x y")                            // too short for trigrams
    ).toDF("doc_id", "text")
    val got = Corpus.repetitionStats(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    val (_, n1, dr1, top1, dup1) = (got(0)._1, got(0)._2, got(0)._3, got(0)._4, got(0)._5)
    assert(n1 == 4 && dr1 == 0.25 && top1 == 1.5 && dup1 == 1.0)
    val (_, n2, dr2, top2, dup2) = (got(1)._1, got(1)._2, got(1)._3, got(1)._4, got(1)._5)
    assert(n2 == 8 && dr2 == 1.0 && top2 == 0.25 && dup2 == 0.0)
    // bigram "x y" occurs once -> 2/2 words covered; no trigrams -> 0
    val (_, n3, dr3, top3, dup3) = (got(2)._1, got(2)._2, got(2)._3, got(2)._4, got(2)._5)
    assert(n3 == 2 && dr3 == 1.0 && top3 == 1.0 && dup3 == 0.0)
  }

  test("bloom: no false negatives, and a too-small filter still only over-approximates") {
    val members = (0 until 200).map(i => s"member_$i").toDF("s")
    val bm = Corpus.bloomBitmap(members, "s", numBits = 1 << 12, k = 4)
    val probes = ((0 until 200).map(i => s"member_$i") ++
      (0 until 200).map(i => s"absent_$i")).toDF("s")
    val kept = probes.crossJoin(broadcast(bm))
      .filter(Corpus.bloomMightContain($"s", $"bm", 1 << 12, 4))
      .select($"s").as[String].collect().toSet
    assert((0 until 200).forall(i => kept(s"member_$i")), "bloom dropped a true member")
    // 4096 bits / 200 keys: essentially all non-members must be rejected
    assert((0 until 200).count(i => kept(s"absent_$i")) < 50)
  }

  test("bloom bitmap of an empty set rejects everything") {
    val bm = Corpus.bloomBitmap(Seq.empty[String].toDF("s"), "s", 1 << 8, 4)
    assert(bm.count() == 1)
    val kept = Seq("x").toDF("s").crossJoin(broadcast(bm))
      .filter(Corpus.bloomMightContain($"s", $"bm", 1 << 8, 4)).count()
    assert(kept == 0)
  }

  test("decontaminate ≡ exact anti-join on the testdata corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter($"source" =!= "src0")
      .select($"doc_id", $"source", $"lang", $"text")
    val bench = docs.filter($"source" === "src0")
    val got = Corpus.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .select($"doc_id").as[Long].collect().toSet
    val bs = Dedup.shingles(bench, "doc_id", "text", 5).select($"shingle").distinct()
    val exact = corpus.join(
        Dedup.shingles(corpus, "doc_id", "text", 5)
          .join(bs, Seq("shingle"), "left_semi").select($"doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(got == exact)
    // sanity: the pass keeps most of the corpus but does drop something
    assert(got.nonEmpty && got.size < corpus.count())
  }

  test("nearDupPurge keeps one canonical per cluster and every singleton") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // ~ 1
      (3L, "completely different words appear in this other document here"),
      (4L, "the quick brown fox jumps over the lazy dog today")    // = 1
    ).toDF("doc_id", "text")
    val kept = Corpus.nearDupPurge(docs, "doc_id", "text", n = 5, threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept sameElements Array(1L, 3L))
  }
}
