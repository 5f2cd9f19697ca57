package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the clipped word-n-gram multiset overlap of
  * a (candidate, reference) text pair in ONE per-row pass — the ROUGE-N
  * numerator and both denominators (Lin 2004).
  *
  * `rouge_clip(cand, ref, n)` → `struct<clipped, cand_total, ref_total>`
  * (all BIGINT, never null):
  *  - tokens: the non-empty [[Tokens]], i.e.
  *    `filter(split(trim(text), "\s+"), t => t <> "")`; a NULL text has
  *    zero tokens;
  *  - grams: every n-token window joined by a single space, as a MULTISET
  *    (every occurrence counts — ROUGE is a multiset metric, unlike the
  *    distinct [[ShingleSet]]); fewer than n tokens → zero grams;
  *  - `clipped = Σ_g min(count_cand(g), count_ref(g))`,
  *    `cand_total`/`ref_total` = the two gram counts.
  *
  * Bit-identical to the exploded form it replaces (melt both sides to
  * (gram, side) rows → per-gram count aggregation → Σ least(cc, rc)): the
  * counts are exact integers, so any evaluation order yields the same
  * three numbers. What changes is the PLAN: the exploded form shuffled
  * every gram occurrence twice (gram-grain exchange + pair-grain rollup)
  * and joined back to the pair universe for zero-gram rows; this
  * expression computes the identical triple where the texts already sit —
  * zero exchanges, zero joins, O(grams) hash-counting per row (guide §1.1:
  * every decision depends only on the two texts of one row, so the
  * theoretically cheapest execution is a single scan). */
case class RougeClip(cand: Expression, ref: Expression, n: Expression) extends Kernel[Int] {

  protected def signature =
    Seq(Kernel.input(StringType), Kernel.input(StringType), Kernel.literal(IntegerType))
  protected def prepare(params: IndexedSeq[Any]): Int = Kernel.positive("rouge_clip: n", params(0))
  override def dataType: DataType = StructType(Seq(
    StructField("clipped", LongType, nullable = false),
    StructField("cand_total", LongType, nullable = false),
    StructField("ref_total", LongType, nullable = false)))
  // a NULL side simply has zero grams (the exploded form's when().otherwise
  // (empty-array) path), so the output struct itself is never null
  override def nullable: Boolean = false

  override def compute(c: Any, r: Any): Any =
    RougeClip.clip(c.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String], prepared)
}

object RougeClip {

  /** The n-gram MULTISET of one text under the rougeN tokenization
    * (the non-empty [[Tokens]]), or null for "zero grams" (null text or
    * fewer than n tokens). */
  private def grams(text: UTF8String, n: Int): Array[UTF8String] = {
    if (text == null) return null
    val toks = new Tokens(text.getBytes, dropEmpty = true)
    if (toks.count < n) return null
    Array.tabulate(toks.count - n + 1)(toks.gram(_, n))
  }

  /** See the class scaladoc for the exact semantics contract. */
  private def clip(cand: UTF8String, ref: UTF8String, n: Int): InternalRow = {
    val cg = grams(cand, n)
    val rg = grams(ref, n)
    val candTotal = if (cg == null) 0L else cg.length.toLong
    val refTotal = if (rg == null) 0L else rg.length.toLong
    var clipped = 0L
    if (cg != null && rg != null) {
      val counts = new java.util.HashMap[UTF8String, Array[Int]](cg.length * 2)
      var i = 0
      while (i < cg.length) {
        val c = counts.get(cg(i))
        if (c == null) counts.put(cg(i), Array(1)) else c(0) += 1
        i += 1
      }
      i = 0
      while (i < rg.length) {
        val c = counts.get(rg(i))
        if (c != null && c(0) > 0) { c(0) -= 1; clipped += 1L }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](clipped, candTotal, refTotal))
  }
}
