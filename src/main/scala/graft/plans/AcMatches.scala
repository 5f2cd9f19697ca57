package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: multi-pattern substring search via an
  * AHO–CORASICK automaton (Aho & Corasick, CACM 1975) in ONE scan-stage
  * pass — the C4-style badword / domain-blocklist gate of a corpus
  * pipeline.
  *
  * `ac_matches(text, patterns)` → `array<string>`: the DISTINCT patterns
  * that occur in `text` as substrings, sorted lexicographically (a
  * deterministic canonical form the oracle mirrors with
  * `string_agg(p, '|' ORDER BY p)`). `patterns` must be a FOLDABLE
  * `array<string>` literal — the blocklist ships once into the plan, the
  * automaton is built ONCE per expression instance from it (the
  * [[Kernel]] prepared object), and each row pays a single O(len(text))
  * walk REGARDLESS OF LEXICON SIZE. The composed alternative — one
  * `contains()` column per pattern — is O(len·patterns) per row and
  * rebuilds the plan every time the list changes; a join against an
  * exploded pattern table pays a corpus×patterns shuffle. This is the
  * (b)-tier custom-expression case of the build rules: iterative
  * per-row state (the automaton's failure links) that no built-in
  * composition expresses.
  *
  * Matching is case-SENSITIVE and substring-grained (the automaton's
  * native semantics); compose with `lower()` for case-folding, or pad
  * patterns with spaces for word-boundary semantics. NULL text → NULL;
  * empty patterns are rejected at build (an empty needle matches
  * everything and usually signals a broken blocklist file).
  */
case class AcMatches(text: Expression, patterns: Expression) extends Kernel[AcMatcher] {

  protected def signature = Seq(Kernel.input(StringType), Kernel.literal(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def prepare(params: IndexedSeq[Any]): AcMatcher = {
    val arr = params(0).asInstanceOf[ArrayData]
    new AcMatcher(Array.tabulate(arr.numElements()) { i =>
      val p = arr.getUTF8String(i)
      require(p != null, s"ac_matches: pattern $i is null")
      p.toString
    })
  }

  override def compute(text: Any): Any = prepared.matches(text.asInstanceOf[UTF8String])
}

/** The automaton: goto trie + BFS failure links with output sets merged
  * through the failure chain at build time, so the match walk does no
  * chain-chasing per character. Shared by eval and codegen. */
final class AcMatcher(patternsIn: Array[String]) extends Serializable {

  // distinct patterns, lexicographically sorted — the output order, so a
  // hit set materializes by index scan with zero per-row sorting
  private val patterns: Array[String] = {
    patternsIn.foreach(p =>
      require(p.nonEmpty, "ac_matches: empty pattern in blocklist"))
    patternsIn.distinct.sorted
  }

  // trie nodes: per-node char→child map, failure link, and the sorted
  // pattern indices terminating at (or reachable by failure from) it
  private val (children, fail, out) = {
    val ch = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Char, Integer]())
    val outSets = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.SortedSet.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var v = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        val nxt = ch(v).get(c)
        if (nxt == null) {
          ch += new java.util.HashMap[Char, Integer]()
          outSets += scala.collection.mutable.SortedSet.empty[Int]
          ch(v).put(c, Integer.valueOf(ch.length - 1))
          v = ch.length - 1
        } else v = nxt.intValue()
        i += 1
      }
      outSets(v) += pi
    }
    val f = new Array[Int](ch.length)
    val queue = new java.util.ArrayDeque[Int]()
    ch(0).forEach { (_, u) => f(u.intValue()) = 0; queue.add(u.intValue()): Unit }
    while (!queue.isEmpty) {
      val v = queue.poll()
      outSets(v) ++= outSets(f(v)) // merge suffix outputs once, at build
      ch(v).forEach { (c, u) =>
        var w = f(v)
        while (w != 0 && !ch(w).containsKey(c)) w = f(w)
        val t = ch(w).get(c)
        f(u.intValue()) = if (t != null && t.intValue() != u.intValue()) t.intValue() else 0
        queue.add(u.intValue()): Unit
      }
    }
    (ch.map(m => m).toArray, f, outSets.map(_.toArray).toArray)
  }

  private val utf8Patterns: Array[UTF8String] =
    patterns.map(UTF8String.fromString)

  /** One O(len) walk; returns the DISTINCT matched patterns sorted
    * lexicographically (index order ≡ sorted order by construction). */
  def matches(text: UTF8String): ArrayData = {
    val s = text.toString
    val found = new Array[Boolean](patterns.length)
    var nFound = 0
    var v = 0
    var i = 0
    while (i < s.length && nFound < patterns.length) {
      val c = s.charAt(i)
      while (v != 0 && !children(v).containsKey(c)) v = fail(v)
      val nxt = children(v).get(c)
      v = if (nxt != null) nxt.intValue() else 0
      val o = out(v)
      var j = 0
      while (j < o.length) {
        if (!found(o(j))) { found(o(j)) = true; nFound += 1 }
        j += 1
      }
      i += 1
    }
    val res = new Array[AnyRef](nFound)
    var k = 0
    var pi = 0
    while (pi < patterns.length) {
      if (found(pi)) { res(k) = utf8Patterns(pi); k += 1 }
      pi += 1
    }
    new GenericArrayData(res)
  }
}
