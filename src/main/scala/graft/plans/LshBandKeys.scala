package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression: all banded-LSH keys of a vector in ONE pass.
  *
  * `lsh_band_keys(vec, planes_flat, bands, rowsPerBand)` → `array<long>` of
  * `bands` keys, key j = (j << rowsPerBand) | sign-bits of the band's
  * hyperplane dots. `planes_flat` is the (bands*rowsPerBand) × dim plane
  * matrix flattened row-major and must be foldable (a literal), as must
  * `bands`/`rowsPerBand`.
  *
  * Why not `bands*rowsPerBand` separate `array_dot` columns: a projection
  * with ~200 array-literal dot subtrees blows the JVM's 64 KB method limit,
  * falls back to interpreted evaluation, and re-materializes each plane
  * literal per row — measured ~5 s for 2 000 rows at sf0.1, dominating the
  * whole near-dup query. Here the plane matrix is resolved once per
  * instance and each row runs one tight triple loop (~0.1 s for the
  * same input).
  *
  * Null/ragged semantics: a NULL vector, or one whose length differs from
  * the plane dim, yields NULL (the row drops out of candidate generation
  * rather than polluting bucket 0 — same contract as
  * [[graft.operators.Similarity.withLshBucket]]).
  */
case class LshBandKeys(vec: Expression, planes: Expression,
                       bands: Expression, rows: Expression) extends Kernel[LshBandKeys.Planes] {

  protected def signature = Seq(Kernel.input(ArrayType(DoubleType)),
    Kernel.literal(ArrayType(DoubleType)), Kernel.literal(IntegerType), Kernel.literal(IntegerType))
  protected def prepare(params: IndexedSeq[Any]) = new LshBandKeys.Planes(
    params(0).asInstanceOf[ArrayData].toDoubleArray(), params(1).asInstanceOf[Int],
    params(2).asInstanceOf[Int])
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def compute(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val p = prepared
    val planes = p.flat
    val bands = p.bands
    val rows = p.rows
    val dim = p.dim
    if (a.numElements() != dim) return null
    val keys = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var bits = 0L
      var i = 0
      while (i < rows) {
        val off = (j * rows + i) * dim
        var s = 0.0
        var k = 0
        while (k < dim) { s += a.getDouble(k) * planes(off + k); k += 1 }
        if (s >= 0.0) bits |= (1L << i)
        i += 1
      }
      keys(j) = bits | (j.toLong << rows)
      j += 1
    }
    new GenericArrayData(keys)
  }
}

object LshBandKeys {
  /** The (bands·rows) × dim hyperplane matrix, flattened row-major. */
  final class Planes(val flat: Array[Double], val bands: Int, val rows: Int) {
    val dim: Int = flat.length / (bands * rows)
  }
}
