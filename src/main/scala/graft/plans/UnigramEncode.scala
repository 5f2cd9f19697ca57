package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: VITERBI-segment a document's word array
  * with a trained unigram-LM piece table in ONE scan-stage pass — the
  * application half of [[graft.operators.UnigramLm]] (SentencePiece's
  * unigram model, Kudo ACL 2018), the trainable counterpart to
  * [[BpeEncode]].
  *
  * `unigram_encode(words, pieces, costs)` → `array<string>` of subword
  * pieces, where `pieces`/`costs` are FOLDABLE aligned literals (the
  * trained vocabulary and its integer costs). Each word is segmented
  * independently by exact dynamic programming: minimize the total piece
  * cost, ties broken by FEWER pieces, then by the lexicographically
  * smaller `'|'`-joined piece path — a total order, so the segmentation
  * is a pure function of (word, model) that a SQL engine can replay
  * with `row_number() OVER (ORDER BY cost, np, path)`.
  *
  * A character absent from the vocabulary falls back to a synthetic
  * single-char piece at cost [[UnigramCodec.OovCost]] (= the cost of a
  * frequency-1 piece) — byte-fallback semantics, no <unk> loss.
  *
  * Why an expression: the DP is an inherently iterative per-row loop
  * (each position's best state depends on earlier positions through the
  * evolving tie-break path), inexpressible as built-in columns without
  * unrolling positions into the plan. The piece table is built ONCE per
  * expression instance from the literal (the [[Kernel]] prepared object).
  *
  * Null semantics: NULL word array → NULL; NULL / empty words skipped.
  */
case class UnigramEncode(words: Expression, pieces: Expression, costs: Expression)
    extends Kernel[UnigramCodec] {

  protected def signature = Seq(Kernel.input(ArrayType(StringType)),
    Kernel.literal(ArrayType(StringType)), Kernel.literal(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def prepare(params: IndexedSeq[Any]): UnigramCodec = {
    val ps = params(0).asInstanceOf[ArrayData]
    val cs = params(1).asInstanceOf[ArrayData]
    require(ps.numElements() == cs.numElements(),
      s"unigram_encode: ${ps.numElements()} pieces vs ${cs.numElements()} costs")
    new UnigramCodec(Array.tabulate(ps.numElements()) { i =>
      val p = ps.getUTF8String(i)
      require(p != null && p.numBytes() > 0, s"unigram_encode: piece $i null/empty")
      (p.toString, cs.getLong(i))
    })
  }

  override def compute(words: Any): Any = prepared.encode(words.asInstanceOf[ArrayData])
}

object UnigramCodec {
  /** Fallback cost for a character outside the vocabulary — the cost of
    * a frequency-1 piece (64 − ⌊log₂1⌋). */
  val OovCost: Long = 64L
}

/** The Viterbi kernel: piece→cost lookup, exact min-(cost, n, path) DP
  * per word. Shared by eval and codegen. */
final class UnigramCodec(table: Array[(String, Long)]) extends Serializable {

  private val costOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](table.length * 2)
    table.foreach { case (p, c) =>
      // first occurrence wins, mirroring BpeCodec's duplicate rule
      m.putIfAbsent(p, java.lang.Long.valueOf(c)): Unit
    }
    m
  }
  private val maxPieceLen: Int =
    if (table.isEmpty) 1 else table.map(_._1.length).max

  /** Segment one word; appends its pieces to `out`. */
  private def encodeWord(word: String,
                         out: scala.collection.mutable.ArrayBuffer[UTF8String]): Unit = {
    val n = word.length
    if (n == 0) return
    val cost = new Array[Long](n + 1)
    val np = new Array[Int](n + 1)
    val path = new Array[String](n + 1) // tie-break identity ONLY
    val bestL = new Array[Int](n + 1)   // chosen piece length (reconstruction)
    path(0) = ""
    var j = 1
    while (j <= n) {
      var bestC = Long.MaxValue
      var bestN = Int.MaxValue
      var bestP: String = null
      var bl = 0
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        val piece = word.substring(j - l, j)
        var pc = costOf.get(piece)
        if (pc == null && l == 1) pc = java.lang.Long.valueOf(UnigramCodec.OovCost)
        if (pc != null) {
          val c = cost(j - l) + pc.longValue()
          val k = np(j - l) + 1
          val p = if (path(j - l).isEmpty) piece else path(j - l) + "|" + piece
          val better = c < bestC || (c == bestC && (k < bestN ||
            (k == bestN && p.compareTo(bestP) < 0)))
          if (better) { bestC = c; bestN = k; bestP = p; bl = l }
        }
        l += 1
      }
      cost(j) = bestC; np(j) = bestN; path(j) = bestP; bestL(j) = bl
      j += 1
    }
    // reconstruct the winning pieces from the chosen lengths (the path
    // string is compare-only, so a '|' inside a word cannot corrupt it)
    val rev = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var pos = n
    while (pos > 0) {
      rev += UTF8String.fromString(word.substring(pos - bestL(pos), pos))
      pos -= bestL(pos)
    }
    var r = rev.length - 1
    while (r >= 0) { out += rev(r); r -= 1 }
  }

  def encode(words: ArrayData): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < words.numElements()) {
      if (!words.isNullAt(i)) encodeWord(words.getUTF8String(i).toString, out)
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** The per-word segmentation as (pieces, cost) — for specs and the
    * driver-side EM recount in [[graft.operators.UnigramLm.train]]. */
  def segmentWord(word: String): (Seq[String], Long) = {
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    encodeWord(word, out)
    val pieces = out.map(_.toString).toSeq
    (pieces, pieces.map { p =>
      val c = costOf.get(p)
      if (c == null) UnigramCodec.OovCost else c.longValue()
    }.sum)
  }
}
