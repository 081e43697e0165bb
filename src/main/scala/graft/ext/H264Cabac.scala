package graft.ext

/** CABAC arithmetic engine (Rec. ITU-T H.264 9.3.3.2 decoder, 9.3.4
  * encoder, both table pinned to Tables 9-44/9-45) and its
  * context-state pool. HEVC (9.3.4.3) inherited the engine unchanged,
  * and [[Hevc]] is its one user: H.264's own CABAC slice syntax is
  * outside the decoded H.264 tier (a PPS with
  * entropy_coding_mode_flag = 1 is refused), so the pool carries no
  * H.264 init table; each caller passes its own.
  *
  * Provenance + honesty bounds:
  *  - The engine constants (rangeTabLPS, transIdxLPS/MPS) are
  *    transcribed from the public spec. With no conformance
  *    bitstreams and no reference decoder at hand, the transcription
  *    is validated structurally (shape/range/monotonicity asserts
  *    below) and end-to-end against the [[Hevc]] fixture encoder,
  *    which shares the engine: that proves the engine and the context
  *    machinery, not table-vs-spec fidelity for wild streams.
  *  - The terminate context is not table initialized: pStateIdx = 63,
  *    valMPS = 0 fixed (9.3.1.1), and [[Dec.terminate]]/
  *    [[Enc.terminate]] never touch its state.
  */
private[graft] object H264Cabac {

  /** Table 9-44: rangeTabLPS[pStateIdx][qCodIRangeIdx]. */
  val RangeLps: Array[Array[Int]] = Array(
    Array(128, 176, 208, 240), Array(128, 167, 197, 227),
    Array(128, 158, 187, 216), Array(123, 150, 178, 205),
    Array(116, 142, 169, 195), Array(111, 135, 160, 185),
    Array(105, 128, 152, 175), Array(100, 122, 144, 166),
    Array(95, 116, 137, 158), Array(90, 110, 130, 150),
    Array(85, 104, 123, 142), Array(81, 99, 117, 135),
    Array(77, 94, 111, 128), Array(73, 89, 105, 122),
    Array(69, 85, 100, 116), Array(66, 80, 95, 110),
    Array(62, 76, 90, 104), Array(59, 72, 86, 99),
    Array(56, 69, 81, 94), Array(53, 65, 77, 89),
    Array(51, 62, 73, 85), Array(48, 59, 69, 80),
    Array(46, 56, 66, 76), Array(43, 53, 63, 72),
    Array(41, 50, 59, 69), Array(39, 48, 56, 65),
    Array(37, 45, 54, 62), Array(35, 43, 51, 59),
    Array(33, 41, 48, 56), Array(32, 39, 46, 53),
    Array(30, 37, 43, 50), Array(29, 35, 41, 48),
    Array(27, 33, 39, 45), Array(26, 31, 37, 43),
    Array(24, 30, 35, 41), Array(23, 28, 33, 39),
    Array(22, 27, 32, 37), Array(21, 26, 30, 35),
    Array(20, 24, 29, 33), Array(19, 23, 27, 31),
    Array(18, 22, 26, 30), Array(17, 21, 25, 28),
    Array(16, 20, 23, 27), Array(15, 19, 22, 25),
    Array(14, 18, 21, 24), Array(14, 17, 20, 23),
    Array(13, 16, 19, 22), Array(12, 15, 18, 21),
    Array(12, 14, 17, 20), Array(11, 14, 16, 19),
    Array(11, 13, 15, 18), Array(10, 12, 15, 17),
    Array(10, 12, 14, 16), Array(9, 11, 13, 15),
    Array(9, 11, 12, 14), Array(8, 10, 12, 14),
    Array(8, 9, 11, 13), Array(7, 9, 11, 12),
    Array(7, 9, 10, 12), Array(7, 8, 10, 11),
    Array(6, 8, 9, 11), Array(6, 7, 9, 10),
    Array(6, 7, 8, 9), Array(2, 2, 2, 2))

  /** Table 9-45: transIdxLPS. */
  val TransLps: Array[Int] = Array(
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 22, 23, 24,
    24, 25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33,
    33, 33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 63)

  /** Table 9-45: transIdxMPS (i -> min(i+1, 62); 63 stays 63). */
  def transMps(s: Int): Int = if (s >= 62) s else s + 1

  // structural pins on the transcription: the checks an offline build
  // CAN make. A violated assert is a build-time transcription bug,
  // never a runtime degrade.
  assert(RangeLps.length == 64 && RangeLps.forall(_.length == 4))
  assert(RangeLps(63).sameElements(Array(2, 2, 2, 2)))
  assert((0 until 63).forall(i => (0 until 4).forall(q =>
    RangeLps(i)(q) >= RangeLps(i + 1)(q))), "rangeTabLPS rows must decay")
  assert(RangeLps.forall(r => r(0) <= r(1) && r(1) <= r(2) && r(2) <= r(3)),
    "rangeTabLPS columns must grow with qCodIRangeIdx")
  assert(TransLps.length == 64 && TransLps(63) == 63 &&
    TransLps.zipWithIndex.forall { case (t, i) => i == 63 || t <= i },
    "transIdxLPS must not increase state (except the 63 fixpoint)")

  /** Context-state pool for one slice: pStateIdx + valMPS per ctxIdx,
    * initialized per 9.3.1.1 (the same formula HEVC 9.3.2.2 uses —
    * round 14: the pool is init-table generic so [[Hevc]] reuses this
    * exact engine) from flattened (m, n) pairs at SliceQPY. Shared
    * shape between encode and decode — the fixture encoders build the
    * SAME pool so round-trip is by construction. */
  final class Ctx(qp: Int, init: Array[Int]) {
    private val pairs = init.length / 2
    val state = new Array[Int](pairs + 1)
    val mps = new Array[Boolean](pairs + 1)
    private val q = if (qp < 0) 0 else if (qp > 51) 51 else qp
    var i = 0
    while (i < pairs) {
      val m = init(i * 2)
      val n = init(i * 2 + 1)
      var pre = ((m * q) >> 4) + n
      if (pre < 1) pre = 1 else if (pre > 126) pre = 126
      if (pre <= 63) { state(i) = 63 - pre; mps(i) = false }
      else { state(i) = pre - 64; mps(i) = true }
      i += 1
    }
    state(pairs) = 63 // the fixed terminate slot (9.3.1.1: ctx 276
    mps(pairs) = false // in H.264); never read by terminate() itself
  }

  /** Arithmetic DECODER (9.3.3.2) over an RBSP byte array, starting
    * at byte-aligned bit position `startPos` (after the slice
    * header's cabac_alignment_one_bit run). Reads past the buffer
    * yield zero bits (the spec's cabac_zero_word tail discipline);
    * the slice walk's own bounds stop a truncated stream, and
    * `overrun` lets the caller refuse one that leaned on phantom
    * bits. */
  final class Dec(bytes: Array[Byte], startPos: Int) {
    private val limit = bytes.length * 8
    private var pos = startPos
    var overrun = 0
    private var range = 510
    private var offset = {
      var v = 0
      var i = 0
      while (i < 9) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Initialization validity (9.3.1.2: codIOffset shall not be 510
      * or 511) — callers degrade when false. */
    def valid: Boolean = offset < 510
    private def bit(): Int =
      if (pos >= limit) { overrun += 1; 0 }
      else {
        val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
        pos += 1
        b
      }
    /** DecodeDecision(ctxIdx). */
    def decision(c: Ctx, ctxIdx: Int): Boolean = {
      val s = c.state(ctxIdx)
      val lps = RangeLps(s)((range >> 6) & 3)
      range -= lps
      val bin =
        if (offset >= range) {
          offset -= range
          range = lps
          val wasMps = c.mps(ctxIdx)
          if (s == 0) c.mps(ctxIdx) = !wasMps
          c.state(ctxIdx) = TransLps(s)
          !wasMps
        } else {
          c.state(ctxIdx) = transMps(s)
          c.mps(ctxIdx)
        }
      while (range < 256) { range <<= 1; offset = (offset << 1) | bit() }
      bin
    }
    /** DecodeBypass. */
    def bypass(): Boolean = {
      offset = (offset << 1) | bit()
      if (offset >= range) { offset -= range; true } else false
    }
    /** DecodeTerminate (end_of_slice_flag, the I_PCM escape). */
    def terminate(): Boolean = {
      range -= 2
      if (offset >= range) true
      else {
        while (range < 256) { range <<= 1; offset = (offset << 1) | bit() }
        false
      }
    }
    /** Current bit position (byte-align before I_PCM reads). */
    def bitPos: Int = pos
    /** Re-enter after an aligned raw-byte run (I_PCM): the engine
      * re-initializes per 9.3.1.2. */
    def reinit(newPos: Int): Boolean = {
      pos = newPos
      range = 510
      var v = 0
      var i = 0
      while (i < 9) { v = (v << 1) | bit(); i += 1 }
      offset = v
      offset < 510
    }
  }

  /** Arithmetic ENCODER (9.3.4): the fixture generators' twin of
    * [[Dec]]. Emits into a local bit buffer; [[finish]] runs
    * EncodeFlush (9.3.4.1.5) whose trailing '1' IS the
    * rbsp_stop_one_bit — the caller only byte-aligns with zeros. */
  final class Enc {
    private val out = new scala.collection.mutable.ArrayBuffer[Int]
    private var low = 0
    private var range = 510
    private var firstBit = true
    private var outstanding = 0
    private def put(b: Int): Unit = {
      if (firstBit) firstBit = false else out += b
      while (outstanding > 0) { out += (1 - b); outstanding -= 1 }
    }
    private def renorm(): Unit = {
      while (range < 256) {
        if (low >= 512) { put(1); low -= 512 }
        else if (low < 256) put(0)
        else { outstanding += 1; low -= 256 }
        range <<= 1
        low <<= 1
      }
    }
    def decision(c: Ctx, ctxIdx: Int, bin: Boolean): Unit = {
      val s = c.state(ctxIdx)
      val lps = RangeLps(s)((range >> 6) & 3)
      range -= lps
      if (bin != c.mps(ctxIdx)) {
        low += range
        range = lps
        if (s == 0) c.mps(ctxIdx) = !c.mps(ctxIdx)
        c.state(ctxIdx) = TransLps(s)
      } else c.state(ctxIdx) = transMps(s)
      renorm()
    }
    def bypass(bin: Boolean): Unit = {
      low <<= 1
      if (bin) low += range
      if (low >= 1024) { put(1); low -= 1024 }
      else if (low < 512) put(0)
      else { outstanding += 1; low -= 512 }
    }
    /** EncodeTerminate (9.3.4.1.4); bin = true runs EncodeFlush
      * (9.3.4.1.5) inline, after which the emitted bit count equals
      * the decoder's consumed bit count EXACTLY (renorms are in
      * lockstep: E = R + 10 - 1 = D = R + 9) — the invariant the
      * I_PCM byte alignment and the end-of-slice stop bit rely on.
      * The flush's forced final '1' is the rbsp_stop_one_bit at
      * slice end; mid-slice (I_PCM) it is just flush payload and the
      * caller byte-aligns with zeros after it. */
    def terminate(bin: Boolean): Unit = {
      range -= 2
      if (bin) {
        low += range
        // EncodeFlush: range = 2, one renorm, then the 3 tail bits
        range = 2
        renorm()
        put((low >> 9) & 1)
        // WriteBits(((low >> 7) & 3) | 1, 2): direct, not PutBit
        val tail = ((low >> 7) & 3) | 1
        out += (tail >> 1) & 1
        out += tail & 1
      } else renorm()
    }
    /** Drain the encoded bits into a [[H264]] BitWriter-compatible
      * sink via the callback (bit at a time; small fixtures). */
    def drain(sink: Int => Unit): Unit = { out.foreach(sink); out.clear() }
    def bitCount: Int = out.length
  }
}
