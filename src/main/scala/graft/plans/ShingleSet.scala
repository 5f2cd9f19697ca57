package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the distinct word-n-gram shingle set of a
  * document in ONE scan-stage pass.
  *
  * `shingle_set(text, n)` → `array<string>`: tokenize with [[Tokens]],
  * emit every n-word window joined by a single space, first occurrence
  * order, duplicates dropped. Bit-identical output to the column-expression
  * chain it replaces — `array_distinct(transform(sequence(...), i =>
  * concat_ws(" ", slice(split(trim(text), "\s+"), i, n))))` — including
  * its edge cases:
  *  - the empty tokens of [[Tokens]] (leading and trailing whitespace runs
  *    other than spaces, the empty string) take part in the windows,
  *  - fewer than n tokens (including the null-text path) → EMPTY array,
  *    never null — `size(null_array) >= n` is null, so the replaced
  *    `when(...).otherwise(array())` fell through to the empty array.
  * The parity spec (ShingleSetSpec) property-checks the expression against
  * the original column chain on whitespace-adversarial inputs.
  *
  * Why a native expression: the chain above is built from higher-order
  * functions (`transform`, `slice` lambdas), which are CodegenFallback —
  * every element evaluation walks an interpreted expression tree. Measured
  * at sf0.1: ~0.6 ms/document, which made SHINGLING (not joins, not
  * shuffles, not minhash) the dominant cost of the entire near-dup family.
  * Here the whole set is one tight loop over the string's bytes
  * (~micro-seconds per document), and the hot paths
  * ([[graft.operators.Dedup.shingles]] and friends) inherit it. */
case class ShingleSet(text: Expression, n: Expression) extends Kernel[Int] {

  protected def signature = Seq(Kernel.input(StringType), Kernel.literal(IntegerType))
  protected def prepare(params: IndexedSeq[Any]): Int = Kernel.positive("shingle_set: n", params(0))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // the null-text path yields an empty array (see scaladoc), so the output
  // itself is never null
  override def nullable: Boolean = false

  override def compute(t: Any): Any = {
    val text = t.asInstanceOf[UTF8String]
    val n = prepared
    if (text == null) return ShingleSet.EMPTY
    val toks = new Tokens(text.getBytes, dropEmpty = false)
    if (toks.count < n) return ShingleSet.EMPTY
    // n-word windows, deduped first-occurrence
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var w = 0
    while (w <= toks.count - n) { seen.add(toks.gram(w, n)): Unit; w += 1 }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}

object ShingleSet {
  private val EMPTY = new GenericArrayData(Array.empty[Any])
}
