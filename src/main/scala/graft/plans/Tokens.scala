package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The word tokens of one text, as byte spans of its UTF-8 encoding — the
  * tokenizer of the n-gram kernels [[ShingleSet]], [[GramStats]] and
  * [[RougeClip]], with Spark's `split(trim(text), "\s+")` semantics:
  *  - `trim` strips 0x20 SPACE only, so tabs and newlines at the ends
  *    survive into tokenization;
  *  - tokens are the substrings between maximal `\s` runs (`\s` is the
  *    ASCII class `[ \t\n\x0B\f\r]`, single bytes in UTF-8, so the byte
  *    scan is exact for any multibyte content). As in Java
  *    `split(regex, -1)`, a leading run yields a leading empty token, a
  *    trailing run a trailing empty token, and the empty string one empty
  *    token;
  *  - with `dropEmpty` those empty tokens are skipped, which is
  *    `filter(split(trim(text), "\s+"), t => t <> "")`. */
private[plans] final class Tokens(bytes: Array[Byte], dropEmpty: Boolean) {
  private var offs = new Array[Int](16)
  private var lens = new Array[Int](16)
  private var n = 0

  private def add(off: Int, len: Int): Unit = if (len > 0 || !dropEmpty) {
    if (n == offs.length) {
      offs = java.util.Arrays.copyOf(offs, n * 2)
      lens = java.util.Arrays.copyOf(lens, n * 2)
    }
    offs(n) = off; lens(n) = len; n += 1
  }

  locally {
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == 0x20) lo += 1
    while (hi > lo && bytes(hi - 1) == 0x20) hi -= 1
    var i = lo
    var start = lo
    while (i < hi) {
      if (Tokens.isWs(bytes(i))) {
        add(start, i - start)
        while (i < hi && Tokens.isWs(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    add(start, hi - start)
  }

  /** The number of tokens. */
  def count: Int = n

  /** Tokens `first until first + size` joined by single spaces. */
  def gram(first: Int, size: Int): UTF8String = {
    var len = size - 1
    var j = first
    while (j < first + size) { len += lens(j); j += 1 }
    val out = new Array[Byte](len)
    var pos = 0
    j = first
    while (j < first + size) {
      if (j > first) { out(pos) = 0x20; pos += 1 }
      System.arraycopy(bytes, offs(j), out, pos, lens(j))
      pos += lens(j)
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

private[plans] object Tokens {
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d
}
