package graft.core

import java.util.zip.{DataFormatException, Inflater}

/** A decoder's output: a growable byte array with a hard cap, the one place
  * where a decoded stream grows and where it stops (tika-core's
  * `SecureContentHandler` bomb policy, applied to bytes).
  *
  * The first array holds `min(hint, cap)` bytes; growth doubles but never
  * past `cap`, and a write that would cross `cap` throws
  * `graft.engine.ZipBombDetected` (`ensure`, `put`, `write`, `copyBack`).
  * `inflate` is the exception: it reports reaching the cap and leaves the
  * verdict to its caller. `buf` holds the written bytes in `[0, len)`.
  *
  * Back-references count `dist` back from the last written byte (0 = that
  * byte); one that reaches before the start throws `outOfRange()`, so each
  * format keeps its own error.
  */
final class OutBuf(cap: Long, hint: Int = 1 << 16,
    outOfRange: () => Exception = OutBuf.NoBackRefs) {
  import OutBuf._

  private[this] val limit: Int = math.min(cap, MaxArray).toInt
  private[this] var b = new Array[Byte](math.max(0, math.min(hint, limit)))
  private[this] var n = 0

  def buf: Array[Byte] = b
  def len: Int = n

  /** Make room for `extra` more bytes, or throw if they would cross the cap. */
  def ensure(extra: Int): Unit =
    if (n.toLong + extra > b.length && !grow(extra)) throw new graft.engine.ZipBombDetected

  def put(v: Int): Unit = {
    if (n == b.length) ensure(1)
    b(n) = v.toByte; n += 1
  }

  def write(src: Array[Byte], off: Int, k: Int): Unit = {
    ensure(k); System.arraycopy(src, off, b, n, k); n += k
  }

  /** Append `k` bytes copied from `dist` back; the source may overlap
    * what the copy itself writes (an LZ77 match).
    */
  def copyBack(dist: Int, k: Int): Unit = {
    if (dist < 0 || dist >= n) throw outOfRange()
    ensure(k)
    val d = dist + 1
    if (d >= k) System.arraycopy(b, n - d, b, n, k)
    else { var i = 0; while (i < k) { b(n + i) = b(n + i - d); i += 1 } }
    n += k
  }

  /** The byte `dist` back from the last written one, unsigned. */
  def at(dist: Int): Int = {
    if (dist < 0 || dist >= n) throw outOfRange()
    b(n - dist - 1) & 0xff
  }

  /** The written bytes: the array itself when it is full, so write
    * nothing after taking it.
    */
  def result: Array[Byte] = if (n == b.length) b else java.util.Arrays.copyOf(b, n)

  /** Inflate `src(off, off + k)` straight into this buffer: zlib-wrapped,
    * or bare DEFLATE when `raw`. `dict` is the preset dictionary: set up
    * front on a raw stream, on request on a zlib one. Output is taken in
    * `Step`-aligned calls, so a corrupt stream throws `DataFormatException`
    * with `len` at the last whole step before the damage, whatever the
    * buffer's size.
    */
  def inflate(src: Array[Byte], off: Int, k: Int, raw: Boolean,
      dict: Array[Byte] = null): End = {
    val inf = new Inflater(raw)
    try {
      inf.setInput(src, off, k)
      if (raw && dict != null) inf.setDictionary(dict)
      var end: End = null
      while (end == null) {
        if (n == b.length && !grow(1)) {
          // full at the cap: a zero-length call still reads an end of
          // stream that needs no more output
          try inf.inflate(b, n, 0) catch { case _: DataFormatException => }
          end = if (inf.finished()) Finished else Capped
        } else {
          val r =
            try inf.inflate(b, n, math.min(b.length - n, Step - n % Step))
            catch { case e: DataFormatException => n -= n % Step; throw e }
          n += r
          if (inf.finished()) end = Finished
          else if (r == 0) {
            if (inf.needsDictionary()) {
              if (dict == null) end = NeedsDict else inf.setDictionary(dict)
            } else if (inf.needsInput()) end = NeedsInput
          }
        }
      }
      end
    } finally inf.end()
  }

  /** Grow to hold `extra` more bytes, doubling up to the cap; false when
    * they do not fit under it.
    */
  private def grow(extra: Int): Boolean = {
    val need = n.toLong + extra
    need <= limit && {
      val size = math.min(limit.toLong, math.max(need, math.max(b.length * 2L, 64L)))
      b = java.util.Arrays.copyOf(b, size.toInt)
      true
    }
  }
}

object OutBuf {

  /** The one decoded-output budget: what a single document may inflate to
    * before it is recorded as a decompression bomb.
    */
  val MaxBytes: Long = 256L << 20

  /** How an `inflate` stopped. */
  sealed abstract class End
  case object Finished extends End
  /** The input ran out before the end of the stream (truncated). */
  case object NeedsInput extends End
  /** A zlib stream asked for a preset dictionary that was not given. */
  case object NeedsDict extends End
  /** The buffer is full at its cap and the stream has not ended. */
  case object Capped extends End

  /** Output granule of `inflate`. */
  val Step = 8192

  private val MaxArray = Int.MaxValue - 8L
  private val NoBackRefs: () => Exception =
    () => new IndexOutOfBoundsException("back-reference before the output start")
}
