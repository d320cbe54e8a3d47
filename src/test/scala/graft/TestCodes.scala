package graft

/** Test-side prefix-code writer shared by the RAR and LZX fixture
  * encoders: an MSB-first bit writer, a canonical code emitter and a
  * length-limited Huffman length builder. Written from RFC 1951 §3.2.2
  * alone and never calling the engine, so a decoder under test is not
  * its own oracle.
  */
object TestCodes {

  /** MSB-first bits packed into bytes. */
  final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var n = 0
    def put(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1)
        n += 1
        if (n == 8) { buf += cur.toByte; cur = 0; n = 0 }
        i -= 1
      }
    }
    /** zero-pad to the next byte boundary */
    def align(): Unit = if (n != 0) put(0, 8 - n)
    def bitLength: Int = buf.length * 8 + n
    def toBytes: Array[Byte] = {
      val b = buf.toArray
      if (n > 0) b :+ (cur << (8 - n)).toByte else b
    }
  }

  /** Canonical codes (RFC 1951 §3.2.2): by increasing length, then by
    * symbol order; length 0 means the symbol has no code.
    */
  final class HuffEnc(val lengths: Array[Int]) {
    private val codes = new Array[Int](lengths.length)
    locally {
      val maxLen = if (lengths.isEmpty) 0 else lengths.max
      val cnt = new Array[Int](maxLen + 1)
      lengths.foreach(l => if (l > 0) cnt(l) += 1)
      val first = new Array[Int](maxLen + 1)
      var code = 0
      var len = 1
      while (len <= maxLen) { first(len) = code; code = (code + cnt(len)) << 1; len += 1 }
      val next = new Array[Int](maxLen + 1)
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l > 0) { codes(i) = first(l) + next(l); next(l) += 1 }
        i += 1
      }
    }
    def code(sym: Int): Int = codes(sym)
    def emit(bw: BitWriter, sym: Int): Unit = {
      require(lengths(sym) > 0, s"symbol $sym has no code")
      bw.put(codes(sym), lengths(sym))
    }
  }

  /** Huffman code lengths for the symbols with a nonzero count, none
    * longer than `maxLen`: halve the counts and rebuild until the tree
    * fits. A lone symbol gets length 1; unused symbols get 0.
    */
  def huffmanLengths(freq: Array[Long], maxLen: Int): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    val lens = new Array[Int](freq.length)
    if (used.size == 1) lens(used.head) = 1
    if (used.size <= 1) return lens
    var w = used.map(freq(_)).toArray
    while (true) {
      // node ids: leaves 0 until k, inner nodes after; parent links give depths
      val k = used.size
      val parent = new Array[Int](2 * k)
      val weight = new Array[Long](2 * k)
      val order = Ordering.by[Int, (Long, Int)](i => (weight(i), i)).reverse
      val pq = scala.collection.mutable.PriorityQueue.empty[Int](order)
      (0 until k).foreach { i => weight(i) = w(i); pq += i }
      var next = k
      while (pq.size > 1) {
        val a = pq.dequeue(); val b = pq.dequeue()
        weight(next) = weight(a) + weight(b)
        parent(a) = next; parent(b) = next
        pq += next
        next += 1
      }
      val root = pq.dequeue()
      val depth = (0 until k).map { i =>
        var d = 0; var p = i
        while (p != root) { p = parent(p); d += 1 }
        d
      }
      if (depth.max <= maxLen) {
        (0 until k).foreach(i => lens(used(i)) = depth(i))
        return lens
      }
      w = w.map(f => f / 2 + 1)
    }
    lens
  }
}
