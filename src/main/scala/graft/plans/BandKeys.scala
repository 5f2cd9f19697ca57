package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the LSH band keys of a MinHash signature in
  * ONE scan-stage pass.
  *
  * `band_keys(sig, bands, rows)` → `array<string>` of length `bands` where
  * `key[j] = "<j>:" || sig[j·rows] || "," || … || sig[j·rows + rows − 1]`
  * — bit-identical to the column chain it replaces
  * ([[graft.operators.Dedup.bandKeys]]):
  * `transform(sequence(0, bands−1), j => concat(j, ":", concat_ws(",",
  * transform(slice(sig, j·rows+1, rows), x => x.cast("string")))))`,
  * including the short-signature edge (a slice past the end joins the
  * elements that exist; signatures are always `bands·rows` long in
  * production so this matters only to the parity spec). A NULL signature
  * (shingle-less document) yields NULL — the row drops out at the
  * banding explode, exactly like the `when(isNotNull…)` guard it replaces.
  *
  * Why a native expression: the chain above is higher-order functions —
  * CodegenFallback, an interpreted expression-tree walk per element. Band
  * keys are derived AT PROBE TIME from stored signatures in the streaming
  * near-dup sink (state stays one row per document instead of `bands×`
  * larger), which re-derives the index side every micro-batch — the
  * interpreted cost was the dominant term of the fused probe job. Here
  * the whole key array is one tight loop over the signature's longs. */
case class BandKeys(sig: Expression, bands: Expression, rows: Expression)
    extends Kernel[(Int, Int)] {

  protected def signature =
    Seq(Kernel.input(ArrayType(LongType)), Kernel.literal(IntegerType), Kernel.literal(IntegerType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def prepare(params: IndexedSeq[Any]): (Int, Int) =
    (Kernel.positive("band_keys: bands", params(0)), Kernel.positive("band_keys: rows", params(1)))

  override def compute(v: Any): Any = {
    val sig = v.asInstanceOf[ArrayData]
    val (bands, rows) = prepared
    val len = sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(24 * rows)
    var j = 0
    while (j < bands) {
      sb.setLength(0)
      sb.append(j).append(':')
      val from = j * rows
      val until = math.min(len, from + rows)
      var i = from
      while (i < until) {
        if (i > from) sb.append(',')
        sb.append(sig.getLong(i)): Unit
        i += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }
}
