package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native expression: int8 symmetric quantization of one vector in ONE
  * loop per row — `int8_quantize(vec)` →
  * `struct<scale:double, codes:array<long>, max_abs_err:double>` with
  * `scale = max|x|/127`, `codes_i = trunc(x_i/scale)` (Java's double→long
  * cast truncates toward zero, the cross-engine [[ArgminDist2]]/kmeans
  * convention) and the max reconstruction error. A zero vector yields
  * scale 0, all-zero codes, error 0 (no division executes).
  *
  * Why not three `transform`/`zip_with` columns: higher-order functions
  * run interpreted and allocate per row — the Column form made
  * `q_emb_quantize` one of the slowest scans in the bench (2.5 s at
  * sf0.1 for a shuffle-free query). Identical arithmetic, so the same
  * DuckDB oracle verifies both forms. A NULL vector or a vector with a
  * NULL element yields NULL (the replaced HOF chain's null propagation).
  */
case class Int8Quantize(child: Expression) extends Kernel[Unit] {

  protected def signature = Seq(Kernel.input(ArrayType(DoubleType)))
  protected def prepare(params: IndexedSeq[Any]): Unit = ()
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("max_abs_err", DoubleType, nullable = false)))

  override def compute(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    // null element → null result (the null-propagation contract of the
    // transform/zip_with chain this replaced — a null component must not
    // silently quantize as 0)
    var j = 0
    while (j < n) { if (a.isNullAt(j)) return null; j += 1 }
    var am = 0.0
    var i = 0
    while (i < n) { val v = math.abs(a.getDouble(i)); if (v > am) am = v; i += 1 }
    val scale = am / 127.0
    val codes = new Array[Long](n)
    var err = 0.0
    if (am != 0.0) {
      i = 0
      while (i < n) {
        val x = a.getDouble(i)
        val c = (x / scale).toLong
        codes(i) = c
        val e = math.abs(x - c.toDouble * scale)
        if (e > err) err = e
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](scale, new GenericArrayData(codes), err))
  }
}
