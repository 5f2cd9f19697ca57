package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: Deflate compression ratio of a string column —
  * `deflate_ratio(text)` → compressed_bytes / raw_bytes (UTF-8).
  *
  * The classic model-free redundancy signal for corpus curation (used by
  * public web-corpus pipelines alongside the Gopher rules): highly
  * compressible text is repetitive (boilerplate, keyword stuffing, spam),
  * near-incompressible text is random noise; natural prose sits in a
  * stable band. Complements [[graft.operators.TextAnalysis.tokenEntropy]]
  * (which sees only unigram repetition — a repeated PARAGRAPH has high
  * token entropy but compresses extremely well).
  *
  * Level-6 raw Deflate with a fresh Deflater per row (no shared state →
  * thread-safe, partition-order-independent). Deterministic for a given
  * zlib implementation; JVMs bundle their own zlib, so results are stable
  * across a homogeneous cluster but NOT contractually identical across
  * JVM vendors — and no SQL engine can mirror it, so the gate registers
  * rows-only (the q_ann_lsh_topk precedent) and the spec pins the
  * ordering contracts. Empty/NULL input → NULL (a ratio of nothing is
  * undefined, not 0 — keeps empty docs out of ratio-band filters).
  */
case class DeflateRatio(child: Expression) extends Kernel[Unit] {

  protected def signature = Seq(Kernel.input(StringType))
  protected def prepare(params: IndexedSeq[Any]): Unit = ()
  override def dataType: DataType = DoubleType

  /** Level-6 Deflate size over raw size; null for empty input. */
  override def compute(text: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    if (bytes.length == 0) return null
    val d = new java.util.zip.Deflater(6, /*nowrap=*/ true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }
}
