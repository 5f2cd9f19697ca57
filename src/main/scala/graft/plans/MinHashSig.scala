package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: the full MinHash signature of a document's
  * shingle set in ONE scan-stage pass.
  *
  * `minhash_sig(shingles, numHashes)` → `array<long>` of length `numHashes`
  * where `sig[i] = min over shingles s of xxhash64(xxhash64(s), i)` — the
  * exact arithmetic of the column-expression pipeline
  * ([[graft.operators.Dedup.minHashSignatures]]): shingle hashed once with
  * Spark's `xxhash64` seed 42, then each permutation re-hashes that fixed
  * 8-byte value with the permutation index. Bit-identical signatures, so
  * banding produces the same candidate pairs.
  *
  * Why an expression instead of the explode → 128-min-aggregate pipeline:
  * the aggregate form materializes |shingles| rows per document, evaluates
  * 128 separate hash expression trees per row, and shuffles for the
  * per-document groupBy. Here the whole signature is a tight loop
  * over the in-row shingle array — no explode, no aggregation buffers, no
  * shuffle: at 100 TB the signature step becomes pure scan-stage compute
  * that pipelines into banding.
  *
  * Null semantics: a NULL array, or one with no shingles (document shorter
  * than the shingle width), yields NULL — the document drops out of
  * candidate generation, matching the aggregate pipeline where such a
  * document simply has no shingle rows. NULL elements are skipped.
  */
case class MinHashSig(shingles: Expression, numHashes: Expression) extends Kernel[Int] {

  protected def signature = Seq(Kernel.input(ArrayType(StringType)), Kernel.literal(IntegerType))
  protected def prepare(params: IndexedSeq[Any]): Int =
    Kernel.positive("minhash_sig: numHashes", params(0))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** sig[i] = min_s xxhash64(xxhash64(s), i), Spark seed 42 throughout;
    * null for an empty (or all-null) shingle array. */
  override def compute(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val numHashes = prepared
    val n = arr.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var any = false
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        any = true
        // xxhash64(shingle) = hashUTF8String(s, 42); xxhash64(h, i) hashes
        // the long child then the int child, each seeding the next
        val base = XXH64.hashLong(XXH64.hashUTF8String(s, 42L), 42L)
        var i = 0
        while (i < numHashes) {
          val v = XXH64.hashInt(i, base)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else new GenericArrayData(sig)
  }
}
