package graft.pkgx

import graft.core.Endian

/** PPMd variant H ("PPMdH") adaptive context model with a Subbotin
  * carry-less range coder — the statistical codec RAR 3.x selects for
  * text-heavy blocks (stream bit 15 set at table-read time inside a
  * version-29 entry).
  *
  * Written from the public algorithm: Dmitry Shkarin's PPMd var. H
  * (public-domain reference design, described in his DCC'02 paper
  * "PPM: one step to practicality") — the context tree over a
  * fixed-size suballocated heap, binary contexts with a 128x64
  * adaptive escape table, SEE (secondary escape estimation) contexts,
  * inherited-frequency successor creation, and the rescale-with-escape
  * redistribution. The RAR embedding (flag byte, escape-code protocol)
  * follows the RARLAB technote as documented by independent readers
  * (ClamAV, The Unarchiver). NOT derived from the unrar sources, whose
  * license restricts reuse.
  *
  * Reference behavior: tika pkg-module RarParser extracts PPMd-packed
  * entries via junrar; this class gives [[Rar29]] the same capability.
  *
  * Both the decoder and the encoder side of the model are implemented;
  * the encoder exists so the test suite can synthesize real PPMd
  * streams (no PPMd-producing tool ships in this environment) and
  * round-trip them bit-exactly. Model state transitions are shared by
  * both directions, so an encode/decode pair exercises every model
  * path symmetrically.
  *
  * Memory model: one `Array[Byte]` heap addressed by Int offsets
  * (0 = null; offsets 0..15 reserved, 4 doubles as the glue-pass
  * sentinel node). A context takes 12 bytes (NumStats u16, union of
  * {SummFreq u16, Stats i32} / inline one-state, Suffix i32); a state
  * takes 6 (Symbol u8, Freq u8, Successor i32) — the 32-bit layout the
  * format's allocation strategy is defined over.
  */
object PpmdH {

  final class Corrupt(msg: String) extends Exception(msg)

  private[pkgx] val MaxFreq = 124
  private[pkgx] val PeriodBits = 7
  private[pkgx] val TotBits = 14 // INT_BITS + PERIOD_BITS
  private[pkgx] val Interval = 1 << PeriodBits
  private[pkgx] val BinScale = 1 << TotBits

  private val Top = 1L << 24
  private val Bot = 1L << 15
  private val M32 = 0xFFFFFFFFL

  private val ExpEscape =
    Array(25, 14, 9, 7, 5, 5, 4, 4, 4, 3, 3, 3, 2, 2, 2, 2)
  private val InitBinEsc = Array(0x3CDD, 0x1F3F, 0x59BF, 0x48F3, 0x64A1,
    0x5ABC, 0x6632, 0x6051)

  /** escape-context quantization of (symbols-left - 1) */
  private val NS2Indx: Array[Int] = {
    val a = new Array[Int](256)
    var i = 0
    while (i < 3) { a(i) = i; i += 1 }
    var m = 3
    var k = 1
    while (i < 256) {
      a(i) = m
      k -= 1
      if (k == 0) { m += 1; k = m - 2 }
      i += 1
    }
    a
  }

  /** binary-context bucket by suffix breadth */
  private val NS2BSIndx: Array[Int] = {
    val a = new Array[Int](256)
    a(0) = 0
    a(1) = 2
    var i = 2
    while (i < 11) { a(i) = 4; i += 1 }
    while (i < 256) { a(i) = 6; i += 1 }
    a
  }

  /** high-bits flag: symbols >= 0x40 steer separate statistics */
  private val HB2Flag: Array[Int] = {
    val a = new Array[Int](256)
    var i = 0x40
    while (i < 256) { a(i) = 8; i += 1 }
    a
  }

  @inline private def mean(summ: Int): Int =
    (summ + (1 << (PeriodBits - 2))) >>> PeriodBits

  // sub-allocator sizing: 38 free-list bins over 12-byte units
  private val N1 = 4
  private val N2 = 4
  private val N3 = 4
  private val N4 = (128 + 3 - 1 * N1 - 2 * N2 - 3 * N3) / 4
  private val NIndexes = N1 + N2 + N3 + N4
  private val Unit = 12

  /** Carry-less range decoder over a byte supplier. `bindScale` /
    * `bindShift` narrow the range for the next interval and return the
    * running count; `commit` applies the chosen interval and
    * renormalizes (one supplier byte per shifted-out byte).
    */
  final class Dec(nextByte: () => Int) {
    private var low = 0L
    private var code = 0L
    private var range = M32
    var scale = 0L
    var lowCount = 0L
    var highCount = 0L
    def init(): Unit = {
      low = 0; code = 0; range = M32
      var i = 0
      while (i < 4) { code = ((code << 8) | (nextByte() & 0xff)) & M32; i += 1 }
    }
    def bindScale(): Long = {
      range = range / scale
      if (range == 0) range = 1
      ((code - low) & M32) / range
    }
    def bindShift(shift: Int): Long = {
      range = range >>> shift
      if (range == 0) range = 1
      ((code - low) & M32) / range
    }
    def commit(): Unit = {
      low = (low + range * lowCount) & M32
      range = (range * (highCount - lowCount)) & M32
      while ((((low ^ (low + range)) & M32) < Top) ||
          (range < Bot && { range = (-low) & (Bot - 1); true })) {
        code = ((code << 8) | (nextByte() & 0xff)) & M32
        range = (range << 8) & M32
        low = (low << 8) & M32
      }
    }
  }

  /** Encoder mirror of [[Dec]]: identical low/range transforms, one
    * output byte per renormalization shift, 4-byte flush.
    */
  final class Enc(out: java.io.ByteArrayOutputStream) {
    private var low = 0L
    private var range = M32
    var scale = 0L
    var lowCount = 0L
    var highCount = 0L
    def bindScale(): Unit = {
      range = range / scale
      if (range == 0) range = 1
    }
    def bindShift(shift: Int): Unit = {
      range = range >>> shift
      if (range == 0) range = 1
    }
    def commit(): Unit = {
      low = (low + range * lowCount) & M32
      range = (range * (highCount - lowCount)) & M32
      while ((((low ^ (low + range)) & M32) < Top) ||
          (range < Bot && { range = (-low) & (Bot - 1); true })) {
        out.write((low >>> 24).toInt)
        range = (range << 8) & M32
        low = (low << 8) & M32
      }
    }
    def flush(): Unit = {
      var i = 0
      while (i < 4) { out.write((low >>> 24).toInt); low = (low << 8) & M32; i += 1 }
    }
  }
}

/** One PPMd var. H model instance: `heapMB` megabytes of context heap,
  * maximum order `maxOrder` (2..64 after RAR's >16 expansion mapping).
  */
final class PpmdH(heapMB: Int, val maxOrder: Int) {
  import PpmdH._

  require(heapMB >= 1 && heapMB <= 256, s"ppmd heap $heapMB MB")
  require(maxOrder >= 2 && maxOrder <= 64, s"ppmd order $maxOrder")

  private val size = heapMB << 20
  private val base = 16
  private val heapEnd = base + size
  // +4 pad: the glue pass peeks the (stamp, nu) u16 pair one unit past
  // a block that may end exactly at the heap top
  private val mem = new Array[Byte](heapEnd + 4)

  // --- raw heap accessors (little-endian, unsigned reads) -----------
  @inline private def gb(o: Int): Int = mem(o) & 0xff
  @inline private def sb(o: Int, v: Int): Unit = mem(o) = v.toByte
  @inline private def gs(o: Int): Int = Endian.le16(mem, o)
  @inline private def ss(o: Int, v: Int): Unit = Endian.putLe16(mem, o, v)
  @inline private def gi(o: Int): Int = Endian.leInt(mem, o)
  @inline private def si(o: Int, v: Int): Unit = Endian.putLe32(mem, o, v)

  // --- context / state field views ----------------------------------
  @inline private def numStats(c: Int): Int = gs(c)
  @inline private def setNumStats(c: Int, v: Int): Unit = ss(c, v)
  @inline private def summFreq(c: Int): Int = gs(c + 2)
  @inline private def setSummFreq(c: Int, v: Int): Unit = ss(c + 2, v)
  @inline private def stats(c: Int): Int = gi(c + 4)
  @inline private def setStats(c: Int, v: Int): Unit = si(c + 4, v)
  @inline private def suffix(c: Int): Int = gi(c + 8)
  @inline private def setSuffix(c: Int, v: Int): Unit = si(c + 8, v)
  @inline private def oneState(c: Int): Int = c + 2
  @inline private def sym(s: Int): Int = gb(s)
  @inline private def freq(s: Int): Int = gb(s + 1)
  @inline private def setFreq(s: Int, v: Int): Unit = sb(s + 1, v)
  @inline private def succ(s: Int): Int = gi(s + 2)
  @inline private def setSucc(s: Int, v: Int): Unit = si(s + 2, v)
  @inline private def swapStates(a: Int, b: Int): Unit = {
    var i = 0
    while (i < 6) {
      val t = mem(a + i); mem(a + i) = mem(b + i); mem(b + i) = t; i += 1
    }
  }
  @inline private def copyState(dst: Int, src: Int): Unit =
    System.arraycopy(mem, src, mem, dst, 6)

  // --- sub-allocator -------------------------------------------------
  private var pText = 0
  private var unitsStart = 0
  private var loUnit = 0
  private var hiUnit = 0
  private var glueCount = 0
  private val freeList = new Array[Int](NIndexes)
  // bin sizes in units: 1,2,3,4, 6,8,10,12, 15,18,21,24, 28,32,...,128
  private val indx2Units: Array[Int] = {
    val a = new Array[Int](NIndexes)
    var i = 0
    var k = 1
    while (i < N1) { a(i) = k; k += 1; i += 1 }
    k += 1
    while (i < N1 + N2) { a(i) = k; k += 2; i += 1 }
    k += 1
    while (i < N1 + N2 + N3) { a(i) = k; k += 3; i += 1 }
    k += 1
    while (i < NIndexes) { a(i) = k; k += 4; i += 1 }
    a
  }
  private val units2Indx: Array[Int] = {
    val a = new Array[Int](128)
    var i = 0
    var k = 0
    while (i < 128) {
      if (indx2Units(k) < i + 1) k += 1
      a(i) = k
      i += 1
    }
    a
  }

  @inline private def u2b(nu: Int): Int = Unit * nu

  private def insertNode(p: Int, indx: Int): Unit = {
    si(p, freeList(indx))
    freeList(indx) = p
  }
  private def removeNode(indx: Int): Int = {
    val r = freeList(indx)
    freeList(indx) = gi(r)
    r
  }

  private def splitBlock(pv: Int, oldIndx: Int, newIndx: Int): Unit = {
    var uDiff = indx2Units(oldIndx) - indx2Units(newIndx)
    var p = pv + u2b(indx2Units(newIndx))
    var i = units2Indx(uDiff - 1)
    if (indx2Units(i) != uDiff) {
      i -= 1
      insertNode(p, i)
      val k = indx2Units(i)
      p += u2b(k)
      uDiff -= k
    }
    insertNode(p, units2Indx(uDiff - 1))
  }

  private def initSubAllocator(): Unit = {
    java.util.Arrays.fill(freeList, 0)
    pText = base
    val size2 = Unit * (size / 8 / Unit * 7)
    val size1 = size - size2
    unitsStart = base + size1
    loUnit = unitsStart
    hiUnit = loUnit + size2
    glueCount = 0
  }

  // freed-block record reused during the glue pass:
  // stamp u16 @0, nu u16 @2, next i32 @4, prev i32 @8
  private def glueFreeBlocks(): Unit = {
    val s0 = 4 // sentinel in the reserved prefix
    si(s0 + 4, s0); si(s0 + 8, s0)
    if (loUnit != hiUnit) sb(loUnit, 0)
    var i = 0
    while (i < NIndexes) {
      while (freeList(i) != 0) {
        val p = removeNode(i)
        val nx = gi(s0 + 4)
        si(p + 8, s0); si(p + 4, nx); si(s0 + 4, p); si(nx + 8, p)
        ss(p, 0xFFFF)
        ss(p + 2, indx2Units(i))
      }
      i += 1
    }
    // coalesce physically adjacent freed blocks
    var p = gi(s0 + 4)
    while (p != s0) {
      var next = p + u2b(gs(p + 2))
      while (next <= heapEnd && gs(next) == 0xFFFF &&
          gs(p + 2) + gs(next + 2) < 0x10000) {
        val pn = gi(next + 4)
        val pp = gi(next + 8)
        si(pp + 4, pn); si(pn + 8, pp)
        ss(p + 2, gs(p + 2) + gs(next + 2))
        next = p + u2b(gs(p + 2))
      }
      p = gi(p + 4)
    }
    // redistribute into bins
    p = gi(s0 + 4)
    while (p != s0) {
      val pn = gi(p + 4)
      val pp = gi(p + 8)
      si(pp + 4, pn); si(pn + 8, pp)
      var sz = gs(p + 2)
      var q = p
      while (sz > 128) {
        insertNode(q, NIndexes - 1)
        sz -= 128
        q += u2b(128)
      }
      var i2 = units2Indx(sz - 1)
      if (indx2Units(i2) != sz) {
        i2 -= 1
        val k = sz - indx2Units(i2)
        insertNode(q + u2b(sz - k), k - 1)
      }
      insertNode(q, i2)
      p = gi(s0 + 4)
    }
  }

  private def allocUnitsRare(indx: Int): Int = {
    if (glueCount == 0) {
      glueCount = 255
      glueFreeBlocks()
      if (freeList(indx) != 0) return removeNode(indx)
    }
    var i = indx
    while ({ i += 1; i != NIndexes }) {
      if (freeList(i) != 0) {
        val r = removeNode(i)
        splitBlock(r, i, indx)
        return r
      }
    }
    // no larger bin: carve below the units floor, shrinking text room
    glueCount -= 1
    val bytes = u2b(indx2Units(indx))
    if (unitsStart - pText > bytes) {
      unitsStart -= bytes
      unitsStart
    } else 0
  }

  private def allocUnits(nu: Int): Int = {
    val indx = units2Indx(nu - 1)
    if (freeList(indx) != 0) return removeNode(indx)
    val r = loUnit
    loUnit += u2b(indx2Units(indx))
    if (loUnit <= hiUnit) r
    else {
      loUnit -= u2b(indx2Units(indx))
      allocUnitsRare(indx)
    }
  }

  private def allocContext(): Int =
    if (hiUnit != loUnit) { hiUnit -= Unit; hiUnit }
    else if (freeList(0) != 0) removeNode(0)
    else allocUnitsRare(0)

  private def shrinkUnits(old: Int, oldNU: Int, newNU: Int): Int = {
    val i0 = units2Indx(oldNU - 1)
    val i1 = units2Indx(newNU - 1)
    if (i0 == i1) old
    else if (freeList(i1) != 0) {
      val p = removeNode(i1)
      System.arraycopy(mem, old, mem, p, u2b(newNU))
      insertNode(old, i0)
      p
    } else {
      splitBlock(old, i0, i1)
      old
    }
  }

  private def expandUnits(old: Int, oldNU: Int): Int = {
    val i0 = units2Indx(oldNU - 1)
    val i1 = units2Indx(oldNU)
    if (i0 == i1) return old
    val p = allocUnits(oldNU + 1)
    if (p != 0) {
      System.arraycopy(mem, old, mem, p, u2b(oldNU))
      insertNode(old, i0)
    }
    p
  }

  private def freeUnits(p: Int, oldNU: Int): Unit =
    insertNode(p, units2Indx(oldNU - 1))

  // --- model state ----------------------------------------------------
  private var minContext = 0
  private var maxContext = 0
  private var foundState = 0
  private var orderFall = 0
  private var initEsc = 0
  private var runLength = 0
  private var initRL = 0
  private var numMasked = 0
  private var prevSuccess = 0
  private var hiBitsFlag = 0
  private var escCount = 1
  private val charMask = new Array[Byte](256)
  private val binSumm = new Array[Int](128 * 64)
  // SEE2: 25x16 learned contexts + one frozen dummy at index 400
  private val seeSumm = new Array[Int](401)
  private val seeShift = new Array[Int](401)
  private val seeCount = new Array[Int](401)
  private val SeeDummy = 400
  private val psBuf = new Array[Int](64)
  private val ps2 = new Array[Int](256)

  /** model was restarted mid-stream on heap exhaustion (statistics
    * discarded, stream format unaffected) — exposed for tests */
  var restarts = 0

  restartModel()

  @inline private def escB: Byte = escCount.toByte

  private def clearMask(): Unit = {
    escCount = 1
    java.util.Arrays.fill(charMask, 0.toByte)
  }

  private def restartModel(): Unit = {
    java.util.Arrays.fill(charMask, 0.toByte)
    initSubAllocator()
    initRL = -(if (maxOrder < 12) maxOrder else 12) - 1
    runLength = initRL
    prevSuccess = 0
    minContext = allocContext()
    maxContext = minContext
    setSuffix(minContext, 0)
    orderFall = maxOrder
    setNumStats(minContext, 256)
    setSummFreq(minContext, 256 + 1)
    val st = allocUnits(256 / 2)
    setStats(minContext, st)
    foundState = st
    var i = 0
    while (i < 256) {
      val s = st + 6 * i
      sb(s, i); setFreq(s, 1); setSucc(s, 0)
      i += 1
    }
    i = 0
    while (i < 128) {
      var k = 0
      while (k < 8) {
        val v = BinScale - InitBinEsc(k) / (i + 2)
        var m = 0
        while (m < 64) { binSumm(i * 64 + k + m) = v; m += 8 }
        k += 1
      }
      i += 1
    }
    i = 0
    while (i < 25) {
      var k = 0
      while (k < 16) {
        val idx = i * 16 + k
        seeShift(idx) = PeriodBits - 4
        seeSumm(idx) = (5 * i + 10) << seeShift(idx)
        seeCount(idx) = 4
        k += 1
      }
      i += 1
    }
    seeShift(SeeDummy) = PeriodBits
    seeSumm(SeeDummy) = 0
    seeCount(SeeDummy) = 64
  }

  private def restartOnFailure(): Unit = {
    restartModel()
    escCount = 0
    restarts += 1
  }

  @inline private def seeMean(idx: Int): Int = {
    val r = seeSumm(idx) >>> seeShift(idx)
    seeSumm(idx) -= r
    if (r == 0) 1 else r
  }
  @inline private def seeUpdate(idx: Int): Unit =
    if (seeShift(idx) < PeriodBits) {
      seeCount(idx) -= 1
      if (seeCount(idx) == 0) {
        seeSumm(idx) = (seeSumm(idx) + seeSumm(idx)) & 0xFFFF
        seeCount(idx) = 3 << seeShift(idx)
        seeShift(idx) += 1
      }
    }

  // --- successor creation / model update ------------------------------

  private def createSuccessors(skip: Boolean, p1: Int): Int = {
    var pc = minContext
    val upBranch = succ(foundState)
    var nPs = 0
    var walking = true
    if (!skip) {
      psBuf(nPs) = foundState; nPs += 1
      if (suffix(pc) == 0) walking = false
    }
    var p = p1
    var haveP = p1 != 0
    if (walking && haveP) pc = suffix(pc)
    while (walking) {
      if (!haveP) {
        pc = suffix(pc)
        if (pc == 0) return 0 // corrupt chain guard
        if (numStats(pc) != 1) {
          p = stats(pc)
          if (sym(p) != sym(foundState)) {
            do { p += 6 } while (sym(p) != sym(foundState))
          }
        } else p = oneState(pc)
      }
      haveP = false
      if (succ(p) != upBranch) {
        pc = succ(p)
        walking = false
      } else {
        psBuf(nPs) = p; nPs += 1
        if (suffix(pc) == 0) walking = false
        else if (nPs >= psBuf.length) return 0 // corrupt chain guard
      }
    }
    if (nPs == 0) return pc
    // synthesize the branch head state from the first pending text byte
    val upSym = gb(upBranch)
    val upSucc = upBranch + 1
    var upFreq = 0
    if (numStats(pc) != 1) {
      if (pc <= pText) return 0
      var q = stats(pc)
      while (sym(q) != upSym) q += 6
      val cf = freq(q) - 1
      val s0 = summFreq(pc) - numStats(pc) - cf
      upFreq = 1 + (if (2 * cf <= s0) (if (5 * cf > s0) 1 else 0)
                    else (2 * cf + 3 * s0 - 1) / (2 * s0))
    } else upFreq = freq(oneState(pc))
    while (nPs != 0) {
      nPs -= 1
      val nc = allocContext()
      if (nc == 0) return 0
      setNumStats(nc, 1)
      val os = oneState(nc)
      sb(os, upSym); setFreq(os, upFreq); setSucc(os, upSucc)
      setSuffix(nc, pc)
      setSucc(psBuf(nPs), nc)
      pc = nc
    }
    pc
  }

  private def updateModel(): Unit = {
    val fsSym = sym(foundState)
    val fsFreq = freq(foundState)
    var fsSucc = succ(foundState)
    var p = 0
    var pc = 0
    if (fsFreq < MaxFreq / 4 && { pc = suffix(minContext); pc != 0 }) {
      if (numStats(pc) != 1) {
        p = stats(pc)
        if (sym(p) != fsSym) {
          do { p += 6 } while (sym(p) != fsSym)
          if (freq(p) >= freq(p - 6)) {
            swapStates(p, p - 6)
            p -= 6
          }
        }
        if (freq(p) < MaxFreq - 9) {
          setFreq(p, freq(p) + 2)
          setSummFreq(pc, summFreq(pc) + 2)
        }
      } else {
        p = oneState(pc)
        if (freq(p) < 32) setFreq(p, freq(p) + 1)
      }
    }
    if (orderFall == 0) {
      val c = createSuccessors(skip = true, p)
      if (c == 0) { restartOnFailure(); return }
      minContext = c
      maxContext = c
      setSucc(foundState, c)
      return
    }
    sb(pText, fsSym)
    pText += 1
    var successor = pText
    if (pText >= unitsStart) { restartOnFailure(); return }
    if (fsSucc != 0) {
      if (fsSucc <= pText) {
        val c = createSuccessors(skip = false, p)
        if (c == 0) { restartOnFailure(); return }
        fsSucc = c
      }
      orderFall -= 1
      if (orderFall == 0) {
        successor = fsSucc
        if (maxContext != minContext) pText -= 1
      }
    } else {
      setSucc(foundState, successor)
      fsSucc = minContext
    }
    val ns = numStats(minContext)
    val s0 = summFreq(minContext) - ns - (fsFreq - 1)
    pc = maxContext
    while (pc != minContext) {
      val ns1 = numStats(pc)
      if (ns1 != 1) {
        if ((ns1 & 1) == 0) {
          val st = expandUnits(stats(pc), ns1 >> 1)
          if (st == 0) { restartOnFailure(); return }
          setStats(pc, st)
        }
        setSummFreq(pc, summFreq(pc) + (if (2 * ns1 < ns) 1 else 0) +
          2 * (if (4 * ns1 <= ns && summFreq(pc) <= 8 * ns1) 1 else 0))
      } else {
        val st = allocUnits(1)
        if (st == 0) { restartOnFailure(); return }
        copyState(st, oneState(pc))
        setStats(pc, st)
        var f = freq(st)
        if (f < MaxFreq / 4 - 1) f += f else f = MaxFreq - 4
        setFreq(st, f)
        setSummFreq(pc, f + initEsc + (if (ns > 3) 1 else 0))
      }
      val cf0 = 2 * fsFreq * (summFreq(pc) + 6)
      val sf = s0 + summFreq(pc)
      var cf = 0
      if (cf0 < 6 * sf) {
        cf = 1 + (if (cf0 > sf) 1 else 0) + (if (cf0 >= 4 * sf) 1 else 0)
        setSummFreq(pc, summFreq(pc) + 3)
      } else {
        cf = 4 + (if (cf0 >= 9 * sf) 1 else 0) +
          (if (cf0 >= 12 * sf) 1 else 0) + (if (cf0 >= 15 * sf) 1 else 0)
        setSummFreq(pc, summFreq(pc) + cf)
      }
      val p2 = stats(pc) + 6 * ns1
      setSucc(p2, successor)
      sb(p2, fsSym)
      setFreq(p2, cf)
      setNumStats(pc, ns1 + 1)
      pc = suffix(pc)
    }
    maxContext = fsSucc
    minContext = fsSucc
  }

  private def rescale(c: Int): Unit = {
    val oldNS = numStats(c)
    var p = foundState
    while (p != stats(c)) { swapStates(p, p - 6); p -= 6 }
    setFreq(p, freq(p) + 4)
    setSummFreq(c, summFreq(c) + 4)
    var escFreq = summFreq(c) - freq(p)
    val adder = if (orderFall != 0) 1 else 0
    setFreq(p, (freq(p) + adder) >> 1)
    var summ = freq(p)
    var i = oldNS - 1
    while (i > 0) {
      p += 6
      escFreq -= freq(p)
      setFreq(p, (freq(p) + adder) >> 1)
      summ += freq(p)
      if (freq(p) > freq(p - 6)) {
        var p1 = p
        val tS = sym(p); val tF = freq(p); val tSc = succ(p)
        while (p1 != stats(c) && tF > freq(p1 - 6)) {
          copyState(p1, p1 - 6)
          p1 -= 6
        }
        sb(p1, tS); setFreq(p1, tF); setSucc(p1, tSc)
      }
      i -= 1
    }
    if (freq(p) == 0) {
      var cnt = 0
      do { cnt += 1; p -= 6 } while (freq(p) == 0)
      escFreq += cnt
      val newNS = oldNS - cnt
      setNumStats(c, newNS)
      if (newNS == 1) {
        val st = stats(c)
        var tF = freq(st)
        do { tF -= tF >> 1; escFreq >>= 1 } while (escFreq > 1)
        freeUnits(st, (oldNS + 1) >> 1)
        val os = oneState(c)
        sb(os, sym(st)); setFreq(os, tF); setSucc(os, succ(st))
        foundState = os
        return
      }
    }
    escFreq -= escFreq >> 1
    setSummFreq(c, summ + escFreq)
    val n0 = (oldNS + 1) >> 1
    val n1 = (numStats(c) + 1) >> 1
    if (n0 != n1) setStats(c, shrinkUnits(stats(c), n0, n1))
    foundState = stats(c)
  }

  private def update1(c: Int, p0: Int): Unit = {
    var p = p0
    foundState = p
    setFreq(p, freq(p) + 4)
    setSummFreq(c, summFreq(c) + 4)
    if (freq(p) > freq(p - 6)) {
      swapStates(p, p - 6)
      p -= 6
      foundState = p
      if (freq(p) > MaxFreq) rescale(c)
    }
  }

  private def update2(c: Int, p: Int): Unit = {
    foundState = p
    setFreq(p, freq(p) + 4)
    setSummFreq(c, summFreq(c) + 4)
    if (freq(p) > MaxFreq) rescale(c)
    escCount = (escCount + 1) & 0xff
    runLength = initRL
  }

  @inline private def binIndex(c: Int): Int = {
    val rs = oneState(c)
    (freq(rs) - 1) * 64 + prevSuccess + NS2BSIndx(numStats(suffix(c)) - 1) +
      hiBitsFlag + 2 * HB2Flag(sym(rs)) + ((runLength >> 26) & 0x20)
  }

  @inline private def binHit(bIdx: Int, rs: Int): Unit = {
    foundState = rs
    if (freq(rs) < 128) setFreq(rs, freq(rs) + 1)
    binSumm(bIdx) = (binSumm(bIdx) + Interval - mean(binSumm(bIdx))) & 0xFFFF
    prevSuccess = 1
    runLength += 1
  }

  @inline private def binMiss(bIdx: Int, rs: Int): Unit = {
    binSumm(bIdx) = (binSumm(bIdx) - mean(binSumm(bIdx))) & 0xFFFF
    initEsc = ExpEscape(binSumm(bIdx) >> 10)
    numMasked = 1
    charMask(sym(rs)) = escB
    prevSuccess = 0
    foundState = 0
  }

  /** SEE bucket for an escape from `c` with `diff` unmasked symbols;
    * sets `scaleOut` via the returned (mean, index) pair. */
  @inline private def escFreqIndex(c: Int, diff: Int): Int =
    if (numStats(c) != 256)
      NS2Indx(diff - 1) * 16 +
        (if (diff < numStats(suffix(c)) - numStats(c)) 1 else 0) +
        2 * (if (summFreq(c) < 11 * numStats(c)) 1 else 0) +
        4 * (if (numMasked > diff) 1 else 0) + hiBitsFlag
    else SeeDummy

  /** collect unmasked states of `c` into ps2; returns (count, freq sum)
    * packed as (n << 20) | hiCnt — bounded walks only. */
  private def gatherUnmasked(c: Int, diff: Int): Int = {
    var p = stats(c) - 6
    var n = 0
    var hiCnt = 0
    var i = diff
    val limit = stats(c) + 6 * numStats(c)
    while (i > 0) {
      do {
        p += 6
        if (p >= limit) throw new Corrupt("ppmd mask walk overrun")
      } while (charMask(sym(p)) == escB)
      hiCnt += freq(p)
      ps2(n) = p
      n += 1
      i -= 1
    }
    (n << 20) | hiCnt
  }

  // --- decode side ----------------------------------------------------

  private def decodeSymbol1(rc: Dec): Boolean = {
    val c = minContext
    rc.scale = summFreq(c)
    var p = stats(c)
    val count = rc.bindScale()
    if (count >= rc.scale) return false
    var hiCnt = freq(p)
    if (count < hiCnt) {
      rc.highCount = hiCnt
      prevSuccess = if (2 * hiCnt > rc.scale) 1 else 0
      runLength += prevSuccess
      foundState = p
      hiCnt += 4
      setFreq(p, hiCnt)
      setSummFreq(c, summFreq(c) + 4)
      if (hiCnt > MaxFreq) rescale(c)
      rc.lowCount = 0
      return true
    }
    if (foundState == 0) return false
    prevSuccess = 0
    var i = numStats(c) - 1
    var escaped = false
    while (!escaped && { p += 6; hiCnt += freq(p); hiCnt <= count }) {
      i -= 1
      if (i == 0) {
        hiBitsFlag = HB2Flag(sym(foundState))
        rc.lowCount = hiCnt
        charMask(sym(p)) = escB
        numMasked = numStats(c)
        i = numMasked - 1
        foundState = 0
        do { p -= 6; charMask(sym(p)) = escB; i -= 1 } while (i != 0)
        rc.highCount = rc.scale
        escaped = true
      }
    }
    if (!escaped) {
      rc.highCount = hiCnt
      rc.lowCount = hiCnt - freq(p)
      update1(c, p)
    }
    true
  }

  private def decodeBinSymbol(rc: Dec): Unit = {
    val c = minContext
    val rs = oneState(c)
    hiBitsFlag = HB2Flag(sym(foundState))
    val bIdx = binIndex(c)
    val bs = binSumm(bIdx)
    val count = rc.bindShift(TotBits)
    if (count < bs) {
      rc.lowCount = 0
      rc.highCount = bs
      binHit(bIdx, rs)
    } else {
      rc.lowCount = bs
      rc.highCount = BinScale
      binMiss(bIdx, rs)
    }
  }

  private def decodeSymbol2(rc: Dec): Boolean = {
    val c = minContext
    val diff = numStats(c) - numMasked
    val seeIdx = escFreqIndex(c, diff)
    rc.scale = if (seeIdx == SeeDummy) 1 else seeMean(seeIdx)
    val packed = gatherUnmasked(c, diff)
    val n = packed >>> 20
    val hiCnt = packed & 0xFFFFF
    rc.scale += hiCnt
    val count = rc.bindScale()
    if (count >= rc.scale) return false
    if (count < hiCnt) {
      var acc = 0
      var j = 0
      var p = 0
      do { p = ps2(j); acc += freq(p); j += 1 } while (acc <= count)
      rc.highCount = acc
      rc.lowCount = acc - freq(p)
      seeUpdate(seeIdx)
      update2(c, p)
    } else {
      rc.lowCount = hiCnt
      rc.highCount = rc.scale
      var j = 0
      while (j < n) { charMask(sym(ps2(j))) = escB; j += 1 }
      seeSumm(seeIdx) = (seeSumm(seeIdx) + rc.scale.toInt) & 0xFFFF
      numMasked = numStats(c)
    }
    true
  }

  /** Decode one symbol; -1 signals a corrupt stream. */
  def decodeChar(rc: Dec): Int = {
    if (minContext <= pText || minContext > heapEnd) return -1
    if (numStats(minContext) != 1) {
      val st = stats(minContext)
      if (st <= pText || st > heapEnd) return -1
      if (!decodeSymbol1(rc)) return -1
    } else decodeBinSymbol(rc)
    rc.commit()
    while (foundState == 0) {
      do {
        orderFall += 1
        minContext = suffix(minContext)
        if (minContext <= pText || minContext > heapEnd) return -1
      } while (numStats(minContext) == numMasked)
      if (!decodeSymbol2(rc)) return -1
      rc.commit()
    }
    val symbol = sym(foundState)
    if (orderFall == 0 && succ(foundState) > pText) {
      minContext = succ(foundState)
      maxContext = minContext
    } else {
      updateModel()
      if (escCount == 0) clearMask()
    }
    symbol
  }

  // --- encode side (fixture generation; mirrors decode exactly) -------

  private def encodeSymbol1(rc: Enc, s: Int): Unit = {
    val c = minContext
    rc.scale = summFreq(c)
    rc.bindScale()
    var p = stats(c)
    var hiCnt = freq(p)
    if (sym(p) == s) {
      rc.lowCount = 0
      rc.highCount = hiCnt
      prevSuccess = if (2 * hiCnt > rc.scale) 1 else 0
      runLength += prevSuccess
      foundState = p
      hiCnt += 4
      setFreq(p, hiCnt)
      setSummFreq(c, summFreq(c) + 4)
      if (hiCnt > MaxFreq) rescale(c)
      return
    }
    prevSuccess = 0
    var i = numStats(c) - 1
    var found = false
    while (i > 0 && !found) {
      p += 6
      if (sym(p) == s) found = true
      else {
        hiCnt += freq(p)
        i -= 1
      }
    }
    if (found) {
      rc.lowCount = hiCnt
      rc.highCount = hiCnt + freq(p)
      update1(c, p)
    } else {
      hiBitsFlag = HB2Flag(sym(foundState))
      rc.lowCount = hiCnt
      rc.highCount = rc.scale
      val ns = numStats(c)
      var q = stats(c)
      var j = 0
      while (j < ns) { charMask(sym(q)) = escB; q += 6; j += 1 }
      numMasked = ns
      foundState = 0
    }
  }

  private def encodeBinSymbol(rc: Enc, s: Int): Unit = {
    val c = minContext
    val rs = oneState(c)
    hiBitsFlag = HB2Flag(sym(foundState))
    val bIdx = binIndex(c)
    val bs = binSumm(bIdx)
    rc.bindShift(TotBits)
    if (sym(rs) == s) {
      rc.lowCount = 0
      rc.highCount = bs
      binHit(bIdx, rs)
    } else {
      rc.lowCount = bs
      rc.highCount = BinScale
      binMiss(bIdx, rs)
    }
  }

  private def encodeSymbol2(rc: Enc, s: Int): Unit = {
    val c = minContext
    val diff = numStats(c) - numMasked
    val seeIdx = escFreqIndex(c, diff)
    rc.scale = if (seeIdx == SeeDummy) 1 else seeMean(seeIdx)
    val packed = gatherUnmasked(c, diff)
    val n = packed >>> 20
    val hiCnt = packed & 0xFFFFF
    rc.scale += hiCnt
    rc.bindScale()
    var acc = 0
    var j = 0
    var p = 0
    var found = false
    while (j < n && !found) {
      p = ps2(j)
      acc += freq(p)
      if (sym(p) == s) found = true
      j += 1
    }
    if (found) {
      rc.highCount = acc
      rc.lowCount = acc - freq(p)
      seeUpdate(seeIdx)
      update2(c, p)
    } else {
      rc.lowCount = hiCnt
      rc.highCount = rc.scale
      j = 0
      while (j < n) { charMask(sym(ps2(j))) = escB; j += 1 }
      seeSumm(seeIdx) = (seeSumm(seeIdx) + rc.scale.toInt) & 0xFFFF
      numMasked = numStats(c)
    }
    rc.commit()
  }

  /** Encode one symbol (0..255); throws [[PpmdH.Corrupt]] only on
    * internal inconsistency. */
  def encodeChar(rc: Enc, s: Int): Unit = {
    if (minContext <= pText || minContext > heapEnd)
      throw new Corrupt("ppmd encode context")
    if (numStats(minContext) != 1) encodeSymbol1(rc, s)
    else encodeBinSymbol(rc, s)
    rc.commit()
    while (foundState == 0) {
      var guard = 0
      do {
        orderFall += 1
        minContext = suffix(minContext)
        if (minContext <= pText || minContext > heapEnd)
          throw new Corrupt("ppmd encode suffix")
        guard += 1
        if (guard > 66) throw new Corrupt("ppmd encode suffix loop")
      } while (numStats(minContext) == numMasked)
      encodeSymbol2(rc, s)
    }
    if (orderFall == 0 && succ(foundState) > pText) {
      minContext = succ(foundState)
      maxContext = minContext
    } else {
      updateModel()
      if (escCount == 0) clearMask()
    }
  }
}
