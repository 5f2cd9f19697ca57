package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 2D Hilbert-curve index of a pair of 16-bit
  * cell codes — `hilbert_xy(x, y)` → the cell's position d ∈ [0, 2³²) on
  * the order-16 Hilbert curve.
  *
  * Companion to [[graft.operators.Scale.zValue]]'s Morton interleave and
  * consumed through the same scaled-code front end: the Hilbert walk is
  * the locality-tighter clustering key (consecutive d are always
  * grid-ADJACENT cells — |Δx|+|Δy| = 1 — where the Morton curve takes
  * 2^k-cell jumps at every quadrant seam), so range-partitioned files
  * cover jump-free blocks of the key plane.
  *
  * The transform is the classic level-local xy→d walk (16 unrolled
  * levels of quadrant classify + rotate); the variant is property-PINNED
  * by spec — bijective onto [0, 4^order) with unit steps — rather than
  * cited, since published versions differ in the rotation's frame.
  * Inputs outside [0, 65536) yield NULL (the zValue scaler clamps, so a
  * null here means the caller skipped the scaler — loud, not wrapped).
  * Sequential per-level integer arithmetic, identical two's-complement
  * semantics in Java longs and DuckDB BIGINTs, so the SQL oracle unrolls
  * the same 16 levels as MATERIALIZED CTEs and hash-matches every bit. */
case class HilbertXy(left: Expression, right: Expression) extends Kernel[Unit] {

  protected def signature = Seq(Kernel.input(LongType), Kernel.input(LongType))
  protected def prepare(params: IndexedSeq[Any]): Unit = ()
  override def dataType: DataType = LongType // out-of-range codes → null

  override def compute(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    if (x < 0L || x > 65535L || y < 0L || y > 65535L) null
    else HilbertXy.encode(x, y)
  }
}

object HilbertXy {
  /** Order-16 xy→d walk; see the class doc for the variant contract. */
  def encode(x0: Long, y0: Long): Long = encode(x0, y0, 16)

  /** General-order form — the spec enumerates small orders to pin the
    * bijective-onto + unit-step properties of the exact recurrence the
    * order-16 production walk runs. */
  def encode(x0: Long, y0: Long, order: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0L) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
