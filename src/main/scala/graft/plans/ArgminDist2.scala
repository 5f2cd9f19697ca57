package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest centroid of a quantized vector.
  *
  * `argmin_dist2(vec, centroids_flat, k)` → `struct<cluster:int, dist2:long>`
  * where `vec` is `array<long>` (fixed-point quantized, see
  * [[graft.operators.Clustering]]), `centroids_flat` is the k × dim centroid
  * matrix flattened row-major as a foldable `array<long>` literal, and the
  * result is the 0-based index of the centroid with the smallest exact
  * integer squared L2 distance (ties → smallest index, the
  * `array_position(ds, array_min(ds))` semantics this replaces).
  *
  * Why not k `aggregate(zip_with(...))` columns: higher-order functions are
  * interpreted (no whole-stage codegen) and allocate an intermediate array
  * per row per centroid — with k=8, dim=64 that is ~24 interpreted
  * array-lambda evaluations per row across the assignment's three uses, and
  * it made `q_kmeans_assign` the most expensive query in the bench (14.5 s
  * at sf0.1 — 8× the median). Here the centroid matrix is resolved once
  * per instance and the whole argmin is a tight two-level loop inside
  * the codegen'd stage (the [[LshBandKeys]] construction): the
  * [[Top2Dist2]] loop, of whose result this is the first two fields.
  *
  * Null/ragged semantics: a NULL vector, one whose length differs from
  * the centroid dim, or one containing a NULL element yields NULL —
  * never a fake assignment to cluster 0 (the null-propagation contract
  * of the fold this replaced). Distance overflow raises ArithmeticException
  * loudly instead of wrapping into a wrong assignment.
  */
case class ArgminDist2(vec: Expression, centroids: Expression, k: Expression)
    extends Kernel[Top2Dist2.Centroids] {

  protected def signature = Top2Dist2.signature
  protected def prepare(params: IndexedSeq[Any]) = new Top2Dist2.Centroids(params)
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist2", LongType, nullable = false)))

  override def compute(v: Any): Any = {
    val t = Top2Dist2.nearestTwo(v, prepared)
    if (t == null) null else new GenericInternalRow(t.take(2))
  }
}
