package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-document word-n-gram repetition
  * aggregates in ONE per-row pass — the Gopher repetition-gate numbers
  * that [[graft.operators.Corpus.repetitionStats]] previously derived by
  * exploding every gram occurrence through TWO aggregations per gram size
  * (gram-grain count, doc-grain rollup) plus a doc-grain join back.
  *
  * `gram_stats(text, n)` → `struct<max_c, tot, dup>` (all BIGINT, never
  * null):
  *  - tokens: [[Tokens]], `split(trim(text), "\s+")` semantics exactly,
  *    empty leading and trailing tokens included (the
  *    [[graft.operators.Corpus]] `wordsOf` tokenizer, mirrored by the
  *    oracle's `string_split_regex`); a NULL text has zero tokens;
  *  - grams: every n-token window joined by one space, as a MULTISET
  *    (occurrences count); fewer than n tokens → zero grams;
  *  - `max_c` = count of the most frequent gram, `tot` = total gram
  *    occurrences, `dup` = occurrences of grams appearing more than once
  *    (all 0 when there are no grams).
  *
  * Bit-identical to the exploded form (exact integer counts, any
  * evaluation order); what changes is the PLAN — the stats are computed
  * where the text already sits, zero exchanges and zero joins where the
  * exploded form shuffled every gram occurrence of every size (guide
  * §1.1: every output depends only on the one row's text). */
case class GramStats(text: Expression, n: Expression) extends Kernel[Int] {

  protected def signature = Seq(Kernel.input(StringType), Kernel.literal(IntegerType))
  override def dataType: DataType = StructType(Seq(
    StructField("max_c", LongType, nullable = false),
    StructField("tot", LongType, nullable = false),
    StructField("dup", LongType, nullable = false)))
  override def nullable: Boolean = false // a NULL text has zero tokens

  protected def prepare(params: IndexedSeq[Any]): Int = Kernel.positive("gram_stats: n", params(0))

  override def compute(t: Any): Any = {
    val text = t.asInstanceOf[UTF8String]
    val n = prepared
    if (text == null) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val toks = new Tokens(text.getBytes, dropEmpty = false)
    if (toks.count < n) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val nGrams = toks.count - n + 1
    val counts = new java.util.HashMap[UTF8String, Array[Long]](nGrams * 2)
    var w = 0
    while (w < nGrams) {
      val key = toks.gram(w, n)
      val c = counts.get(key)
      if (c == null) counts.put(key, Array(1L)) else c(0) += 1L
      w += 1
    }
    var maxC = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > maxC) maxC = c
      if (c > 1L) dup += c
    }
    new GenericInternalRow(Array[Any](maxC, nGrams.toLong, dup))
  }
}
