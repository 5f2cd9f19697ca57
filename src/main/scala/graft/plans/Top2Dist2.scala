package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest + runner-up centroid distances of a
  * quantized vector — the [[ArgminDist2]] loop tracking the best TWO exact
  * integer squared L2 distances in one pass.
  *
  * `top2_dist2(vec, centroids_flat, k)` →
  * `struct<cluster:int, dist2:long, dist2b:long>` where `cluster`/`dist2`
  * are exactly [[ArgminDist2]]'s result (ties → smallest index) and
  * `dist2b` is the smallest distance over the OTHER k−1 centroids (the
  * second-smallest distance overall; a tie with `dist2` is a legitimate
  * runner-up). Consumers: the simplified-silhouette audit
  * ([[graft.operators.Clustering.silhouette]]), where a(i) = √dist2 and
  * b(i) = √dist2b — one codegen'd scan instead of a k-way explode-join.
  *
  * `k ≥ 2` is required (a runner-up must exist). Null/ragged/overflow
  * semantics are [[ArgminDist2]]'s: null in → null out, overflow raises.
  */
case class Top2Dist2(vec: Expression, centroids: Expression, k: Expression)
    extends Kernel[Top2Dist2.Centroids] {

  protected def signature = Top2Dist2.signature
  protected def prepare(params: IndexedSeq[Any]) = {
    val c = new Top2Dist2.Centroids(params)
    require(c.k >= 2, "top2_dist2: k must be >= 2 (a runner-up must exist)")
    c
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist2", LongType, nullable = false),
    StructField("dist2b", LongType, nullable = false)))

  override def compute(v: Any): Any = {
    val t = Top2Dist2.nearestTwo(v, prepared)
    if (t == null) null else new GenericInternalRow(t)
  }
}

object Top2Dist2 {
  /** `(vec array<long>, foldable centroids_flat array<long>, foldable k int)`,
    * shared with [[ArgminDist2]]. */
  val signature: Seq[Kernel.Arg] = Seq(Kernel.input(ArrayType(LongType)),
    Kernel.literal(ArrayType(LongType)), Kernel.literal(IntegerType))

  /** The k × dim centroid matrix, flattened row-major, from the
    * `(centroids_flat, k)` literals. */
  final class Centroids(params: IndexedSeq[Any]) {
    val flat: Array[Long] = params(0).asInstanceOf[ArrayData].toLongArray()
    val k: Int = params(1).asInstanceOf[Int]
    val dim: Int = flat.length / k
  }

  /** `[cluster, dist2, dist2b]`: the nearest centroid (ties → smallest
    * index), its exact squared L2 distance and the smallest distance over
    * the other k − 1 centroids (Long.MaxValue when k = 1); null for a
    * vector whose length differs from the centroid dim or that holds a
    * NULL element. */
  def nearestTwo(v: Any, c: Centroids): Array[Any] = {
    val a = v.asInstanceOf[ArrayData]
    val flat = c.flat
    val dim = c.dim
    if (a.numElements() != dim) return null
    // null element → null result (the null-propagation semantics of the
    // zip_with fold this replaced — a null component must not silently
    // score as 0)
    var i = 0
    while (i < dim) { if (a.isNullAt(i)) return null; i += 1 }
    var best = 0
    var bestD = Long.MaxValue
    var secondD = Long.MaxValue
    var j = 0
    while (j < c.k) {
      var s = 0L
      i = 0
      val off = j * dim
      while (i < dim) {
        val d = a.getLong(i) - flat(off + i)
        // exact arithmetic: wrap-around would deterministically pick a
        // WRONG centroid; overflow must be loud (the ANSI-mode contract
        // of the fold this replaced)
        s = Math.addExact(s, Math.multiplyExact(d, d))
        i += 1
      }
      if (s < bestD) { secondD = bestD; bestD = s; best = j }
      else if (s < secondD) secondD = s
      j += 1
    }
    Array[Any](best, bestD, secondD)
  }
}
