package graft.ext

/** MPEG-1 video (ISO/IEC 11172-2, public spec) FULL-codec decoder —
  * the round-12 narrowings of the predictive-codec fence
  * (VERDICT r11 #7): first intra frames (sequence/picture/slice
  * headers, macroblock and DC/AC VLCs, intra dequantization with
  * oddification, 8×8 IDCT), then INTER: P-pictures with forward
  * motion compensation (motion-vector VLC + differential
  * reconstruction, half-pel interpolation with MPEG's round-half-
  * away-from-zero `//`, skipped-macroblock copy, non-intra
  * dequantization and residual add), then B-pictures (bidirectional
  * MC against both anchors with the rounded interpolated average,
  * Table-B.2c types, skip-inherits-previous-prediction semantics) —
  * all pure-JVM, every picture type of the codec. H.264 outside its
  * CAVLC I/P tier (B slices, CABAC, High profile tools) and HEVC
  * beyond its starter remain behind the byte-histogram fence — those
  * need a native decoder.
  *
  * Honesty bounds, all degrade-to-None (the caller falls back to the
  * fence, never a wrong decode):
  *  - I-, P-, B- AND D-pictures (round 13: picture_coding_type 4,
  *    the DC-only fast-forward type — §2.4.4.3's one-bit macroblock
  *    type, DC-only blocks with no EOB, end_of_macroblock bit — now
  *    decodes instead of stopping the walk; reserved coding types
  *    5-7 still stop cleanly with prior frames kept and exact).
  *    Frames are emitted in DECODE order (anchors before their Bs),
  *    with the type label carrying the reorder information.
  *  - The AC coefficient table covers the unambiguous short-code
  *    classes (through 7-bit codes) plus the UNIVERSAL 6-bit escape —
  *    every (run, level) pair is expressible through the escape, so
  *    any encoder (including [[encodeIFrame]]/[[encodeIPStream]]) can
  *    emit fully decodable streams; a stream using longer VLC classes
  *    returns None rather than risking a misremembered table entry.
  *  - coded_block_pattern (Table B.3) covers the unambiguous 3/4-bit
  *    classes (all-luma 60 = '111'; single-block 32/16/8/4 =
  *    '1010'/'1011'/'1100'/'1101'); deeper classes degrade.
  *  - Motion vectors must land inside the reference plane; a stream
  *    whose MC window leaves the picture degrades rather than
  *    guessing an edge-extension policy.
  *
  * Chroma blocks are fully PARSED (bitstream sync requires it) but
  * only luma is reconstructed — the consumers are gray-statistics
  * features.
  */
object Mpeg1 {

  /** Default intra quantizer matrix (ISO 11172-2 §2.4.3.1), raster
    * order. */
  private val DefaultIntraQ: Array[Int] = Array(
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83)

  /** Zigzag scan order: zigzag index → raster index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // ---------------------------------------------------------------- bits

  private final class BitReader(bytes: Array[Byte]) {
    var pos: Long = 0L // bit position
    val limit: Long = bytes.length.toLong * 8
    def remaining: Long = limit - pos
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bp = pos + i
        val b = (bytes((bp >> 3).toInt) >> (7 - (bp & 7)).toInt) & 1
        v = (v << 1) | b
        i += 1
      }
      pos += n
      v
    }
    def peek(n: Int): Int = { val p = pos; val v = bits(n); pos = p; v }
    /** Advance to the next byte-aligned start code 0x000001xx at or
      * after the current position; returns the xx byte or -1. Leaves
      * pos just AFTER the 4-byte code. */
    def nextStartCode(): Int = {
      var bp = ((pos + 7) / 8).toInt
      while (bp + 3 < bytes.length) {
        if (bytes(bp) == 0 && bytes(bp + 1) == 0 && bytes(bp + 2) == 1) {
          pos = (bp + 4).toLong * 8
          return bytes(bp + 3) & 0xFF
        }
        bp += 1
      }
      pos = limit
      -1
    }
  }

  // ---------------------------------------------------------------- VLCs

  /** dct_dc_size_luminance (Table B.5a: 100→0, 00→1, 01→2, 101→3,
    * 110→4, 1110→5, …, 1111110→8): returns size or -1. */
  private def dcSizeLuma(br: BitReader): Int = {
    if (br.remaining < 2) return -1
    br.bits(2) match {
      case 0 => 1 // 00
      case 1 => 2 // 01
      case 2 => // 10x
        if (br.remaining < 1) -1
        else if (br.bits(1) == 0) 0 else 3 // 100 / 101
      case _ => // 11 + k ones + terminating 0 → size 4+k (k ≤ 4)
        var k = 0
        while (k <= 4 && br.remaining >= 1 && br.bits(1) == 1) k += 1
        if (k > 4 || br.remaining < 0) -1 else 4 + k
    }
  }

  /** dct_dc_size_chrominance (Table B.5b: 00→0, 01→1, 10→2, 110→3,
    * …, 11111110→8). */
  private def dcSizeChroma(br: BitReader): Int = {
    if (br.remaining < 2) return -1
    br.bits(2) match {
      case 0 => 0
      case 1 => 1
      case 2 => 2
      case _ => // 11 + k ones + terminating 0 → size 3+k (k ≤ 5)
        var k = 0
        while (k <= 5 && br.remaining >= 1 && br.bits(1) == 1) k += 1
        if (k > 5 || br.remaining < 0) -1 else 3 + k
    }
  }

  /** dct_dc_differential from size. */
  private def dcDiff(br: BitReader, size: Int): Int = {
    if (size == 0) 0
    else if (br.remaining < size) Int.MinValue
    else {
      val v = br.bits(size)
      if ((v & (1 << (size - 1))) != 0) v else v - ((1 << size) - 1)
    }
  }

  /** dct_coeff_next (Table B.14, short-code classes + escape).
    * Returns (run, signedLevel), (-1, 0) for EOB, (-2, 0) on error. */
  private def acCoeff(br: BitReader): (Int, Int) = {
    def signed(run: Int, level: Int): (Int, Int) =
      if (br.remaining < 1) (-2, 0)
      else if (br.bits(1) == 0) (run, level) else (run, -level)
    if (br.remaining < 2) return (-2, 0)
    val b2 = br.bits(2)
    b2 match {
      case 2 => (-1, 0) // '10' EOB
      case 3 => signed(0, 1) // '11' s
      case 1 => // '01...'
        if (br.remaining < 1) (-2, 0)
        else if (br.bits(1) == 1) signed(1, 1) // '011'
        else if (br.remaining < 1) (-2, 0)
        else if (br.bits(1) == 0) signed(0, 2) // '0100'
        else signed(2, 1) // '0101'
      case 0 => // '00...'
        if (br.remaining < 2) return (-2, 0)
        br.bits(2) match {
          case 2 => // '0010' + 1
            if (br.remaining < 1) (-2, 0)
            else if (br.bits(1) == 1) signed(0, 3) // '00101'
            else (-2, 0) // '00100...' = 8-bit class, not implemented
          case 3 => // '0011' + 1
            if (br.remaining < 1) (-2, 0)
            else if (br.bits(1) == 1) signed(3, 1) // '00111'
            else signed(4, 1) // '00110'
          case 1 => // '0001' + 2
            if (br.remaining < 2) (-2, 0)
            else br.bits(2) match {
              case 2 => signed(1, 2) // '000110'
              case 3 => signed(5, 1) // '000111'
              case 1 => signed(6, 1) // '000101'
              case 0 => signed(7, 1) // '000100'
            }
          case 0 => // '0000' + …
            if (br.remaining < 2) return (-2, 0)
            br.bits(2) match {
              case 1 => // '000001' ESCAPE: 6-bit run + level
                if (br.remaining < 6 + 8) return (-2, 0)
                val run = br.bits(6)
                val l8 = br.bits(8)
                if (l8 == 0) { // +128..255 in next 8
                  if (br.remaining < 8) (-2, 0) else (run, br.bits(8))
                } else if (l8 == 128) { // −256..−129 in next 8
                  if (br.remaining < 8) (-2, 0) else (run, br.bits(8) - 256)
                } else if (l8 > 128) (run, l8 - 256)
                else (run, l8)
              case 3 => // '000011' + 1
                if (br.remaining < 1) (-2, 0)
                else if (br.bits(1) == 0) signed(0, 4) // '0000110'
                else signed(8, 1) // '0000111'
              case 2 => // '000010' + 1
                if (br.remaining < 1) (-2, 0)
                else if (br.bits(1) == 0) signed(2, 2) // '0000100'
                else signed(9, 1) // '0000101'
              case 0 => (-2, 0) // deeper classes: not implemented
            }
        }
    }
  }

  /** dct_coeff_first (Table B.14 note 2): identical to
    * [[acCoeff]] except the leading code '1s' means (run 0, level ±1)
    * — EOB cannot occur first, so the '1' prefix is unambiguous. */
  private def acCoeffFirst(br: BitReader): (Int, Int) = {
    if (br.remaining < 1) return (-2, 0)
    if (br.peek(1) == 1) {
      br.bits(1)
      if (br.remaining < 1) (-2, 0)
      else if (br.bits(1) == 0) (0, 1) else (0, -1)
    } else acCoeff(br)
  }

  /** motion_code VLC (Table B.4): magnitude classes 0..16 plus a sign
    * bit (0 = positive). Returns the signed code or Int.MinValue on
    * an unsupported/corrupt prefix. */
  private def motionCode(br: BitReader): Int = {
    def signed(mag: Int): Int =
      if (br.remaining < 1) Int.MinValue
      else if (br.bits(1) == 0) mag else -mag
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) return 0 // '1'
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) return signed(1) // '01s'
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) return signed(2) // '001s'
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) return signed(3) // '0001s'
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) { // '00001…'
      if (br.remaining < 1) return Int.MinValue
      if (br.bits(1) == 1) return signed(4) // '000011s'
      if (br.remaining < 1) return Int.MinValue
      return if (br.bits(1) == 1) signed(5) else signed(6) // '0000101s'/'0000100s'
    }
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) == 1) { // '000001…'
      if (br.remaining < 1) return Int.MinValue
      if (br.bits(1) == 1) return signed(7) // '0000011s'
      // '0000010…': magnitudes 8..12. Table B.4 is the Table-B.1
      // (macroblock_address_increment) code for value 2m (negative)
      // / 2m+1 (positive) — the rule holds exactly for EVERY
      // magnitude 1..7 above (e.g. +4 = '0000110' = B.1's code for
      // 9, +5 = '00001010' = B.1's 11), so 8..16 continue it
      // (review r12: an earlier version used codes that are not in
      // B.4; encoder and decoder shared the error, so round-trips
      // passed while both diverged from the standard).
      if (br.remaining < 1) return Int.MinValue
      if (br.bits(1) == 1) { // '00000101x' → ±8 / ±9 (B.1 16..19)
        if (br.remaining < 1) return Int.MinValue
        return if (br.bits(1) == 1) signed(8) else signed(9)
      }
      if (br.remaining < 1) return Int.MinValue
      if (br.bits(1) == 1) return signed(10) // '000001001'+s (B.1 20/21)
      if (br.remaining < 1) return Int.MinValue
      // '0000010001'+s → ±11, '0000010000'+s → ±12 (B.1 22..25)
      return if (br.bits(1) == 1) signed(11) else signed(12)
    }
    // '0000001…': magnitudes 13..16 (B.1 codes 26..33): prefixes
    // '0000001111' ↓ '0000001100'; '00000010xx' and 7+ leading zeros
    // are unassigned in B.4 → degrade
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) != 1) return Int.MinValue // 7+ zeros
    if (br.remaining < 1) return Int.MinValue
    if (br.bits(1) != 1) return Int.MinValue // '00000010…'
    if (br.remaining < 2) return Int.MinValue
    br.bits(2) match {
      case 3 => signed(13) // '0000001111'+s
      case 2 => signed(14) // '0000001110'+s
      case 1 => signed(15) // '0000001101'+s
      case _ => signed(16) // '0000001100'+s
    }
  }

  /** coded_block_pattern (Table B.3), unambiguous short classes only:
    * '111'→60 (all four luma), '1010'/'1011'/'1100'/'1101'→32/16/8/4
    * (single luma block). −1 for anything deeper (degrade). */
  private def cbpDecode(br: BitReader): Int = {
    if (br.remaining < 3) return -1
    if (br.bits(1) == 1) {
      if (br.remaining < 2) return -1
      br.bits(2) match {
        case 3 => 60 // '111'
        case 2 => // '110x'
          if (br.remaining < 1) -1
          else if (br.bits(1) == 1) 4 else 8 // '1101'/'1100'
        case 1 => // '101x'
          if (br.remaining < 1) -1
          else if (br.bits(1) == 1) 16 else 32 // '1011'/'1010'
        case _ => -1 // '100…': 5-bit classes, not supported
      }
    } else -1 // '0…': deeper classes, not supported
  }

  /** Parse + dequantize ONE non-intra block (dct_coeff_first, then
    * dct_coeff_next until EOB) into `block` (raster order). Non-intra
    * reconstruction: f = ((2·level + sign)·qscale·niQ)/16, oddified,
    * clamped (ISO 11172-2 §2.4.4.3). Returns false on error. */
  private def nonIntraBlock(br: BitReader, qscale: Int,
      niQ: Array[Int], block: Array[Int]): Boolean = {
    java.util.Arrays.fill(block, 0)
    var idx = -1
    var first = true
    while (true) {
      val (run, level) = if (first) acCoeffFirst(br) else acCoeff(br)
      if (run == -1 && !first) return true // EOB
      if (run < 0 || level == 0) return false
      idx = if (first) run else idx + run + 1
      first = false
      if (idx > 63) return false
      val sgn = if (level > 0) 1 else -1
      var f = ((2 * level + sgn) * qscale * niQ(Zigzag(idx))) / 16
      if ((f & 1) == 0) f = if (f > 0) f - 1 else if (f < 0) f + 1 else f
      if (f > 2047) f = 2047
      if (f < -2048) f = -2048
      block(Zigzag(idx)) = f
    }
    false // unreachable
  }

  /** Forward-MC prediction of one 16×16 luma macroblock from the
    * reference plane: `mv*` in half-pel units (full_pel streams pass
    * doubled vectors), half-pel samples use MPEG-1's `//` (round half
    * AWAY from zero — operands are non-negative, so (a+b+1)>>1 /
    * (a+b+c+d+2)>>2). False when the MC window leaves the plane. */
  private def predictLuma(ref: Array[Int], stride: Int, planeH: Int,
      mbX: Int, mbY: Int, mvx: Int, mvy: Int, out: Array[Int]): Boolean = {
    val ix = (mvx >> 1) + mbX * 16
    val iy = (mvy >> 1) + mbY * 16
    val hx = mvx & 1
    val hy = mvy & 1
    if (ix < 0 || iy < 0 || ix + 15 + hx >= stride || iy + 15 + hy >= planeH)
      return false
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val base = (iy + y) * stride + ix + x
        val p =
          if (hx == 0 && hy == 0) ref(base)
          else if (hy == 0) (ref(base) + ref(base + 1) + 1) >> 1
          else if (hx == 0) (ref(base) + ref(base + stride) + 1) >> 1
          else (ref(base) + ref(base + 1) +
            ref(base + stride) + ref(base + stride + 1) + 2) >> 2
        out(y * 16 + x) = p
        x += 1
      }
      y += 1
    }
    true
  }

  // ---------------------------------------------------------------- IDCT

  /** Direct 8×8 type-III DCT (the decoding transform), double
    * precision. [[idctResidual]] is the SIGNED form (non-intra
    * residuals: the caller adds it to the MC prediction and clamps
    * the SUM — clamping the residual itself would bias negative
    * corrections); [[idct]] clamps it to the intra sample range. */
  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }
  /** c(0)=1/√2, c(1..7)=1 — hoisted out of [[idctResidual]] (r18: it
    * was rebuilt, sqrt included, once per coded block). */
  private val IdctC: Array[Double] = {
    val c = new Array[Double](8)
    c(0) = 1.0 / math.sqrt(2.0)
    var i = 1
    while (i < 8) { c(i) = 1.0; i += 1 }
    c
  }
  private def idctResidual(block: Array[Int], out: Array[Int]): Unit = {
    val c = IdctC
    // r18 perf: residual blocks are sparse — gather the nonzero
    // coefficients ONCE in the same ascending (v,u) order the per-pixel
    // scan visited them, then fold only those per pixel. Each pixel's
    // float sum runs the IDENTICAL multiply chain in the IDENTICAL
    // order as the dense loop, so the rounded output is bit-equal;
    // only the zero-term compares are skipped (64·64 → 64 + 64·nnz).
    val nzPos = new Array[Int](64)
    var nnz = 0
    var k = 0
    while (k < 64) { if (block(k) != 0) { nzPos(nnz) = k; nnz += 1 }; k += 1 }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var i = 0
        while (i < nnz) {
          val k2 = nzPos(i)
          val u = k2 & 7
          val v = k2 >> 3
          s += c(u) * c(v) * block(k2) * CosTab(x * 8 + u) * CosTab(y * 8 + v)
          i += 1
        }
        out(y * 8 + x) = math.rint(s / 4.0).toInt
        x += 1
      }
      y += 1
    }
  }

  /** Intra IDCT = the signed transform clamped to the sample range
    * (one numeric kernel — review r12: two verbatim copies of the
    * rounding-sensitive loop would desynchronize under a future
    * tweak). */
  private def idct(block: Array[Int], out: Array[Int]): Unit = {
    idctResidual(block, out)
    var i = 0
    while (i < 64) {
      val p = out(i)
      out(i) = if (p < 0) 0 else if (p > 255) 255 else p
      i += 1
    }
  }

  // ---------------------------------------------------------------- decode

  /** Decode the FIRST I-picture of an MPEG-1 video elementary stream:
    * (width, height, luma plane raster, row stride = coded width).
    * None on anything unsupported/corrupt — the caller degrades to its
    * fence, a wrong decode is never returned. */
  def decodeIFrameLuma(es: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeFramesLuma(es, 1).headOption.collect {
      case (w, h, l, 'I') => (w, h, l)
    }

  /** Decode up to `maxFrames` pictures of an MPEG-1 elementary stream
    * in DECODE order: (width, height, cropped luma, type) with type
    * one of 'I'/'P'/'B'. P-pictures reconstruct via forward MC
    * against the last anchor; B-pictures bidirectionally against
    * both anchors. Decode stops cleanly (keeping earlier frames) at
    * the first unsupported element — everything returned is exact,
    * nothing after the stop is guessed. */
  def decodeFramesLuma(es: Array[Byte],
      maxFrames: Int): Seq[(Int, Int, Array[Int], Char)] =
    decodeFramesLumaClean(es, maxFrames)._1

  /** Like [[decodeFramesLuma]] but also reporting whether the decode
    * ended CLEANLY: true iff it stopped at end-of-stream, a
    * sequence_end_code, or the frame limit — false iff it degraded
    * mid-stream (unsupported/corrupt element after zero or more exact
    * frames). Lets sample-walking callers distinguish "this payload
    * was fully decoded" from "a nonempty prefix decoded, the rest is
    * opaque" and stop their walk instead of compacting frame indices
    * across the gap (ADVICE r13). */
  private[graft] def decodeFramesLumaClean(es: Array[Byte],
      maxFrames: Int): (Seq[(Int, Int, Array[Int], Char)], Boolean) = {
    try decodeStream(es, maxFrames)
    catch { case _: Exception => (Seq.empty, false) }
  }

  /** Parse a sequence header at the current position (start code
    * already consumed). Returns (w, h) and fills the two quantizer
    * matrices, or null on error. */
  private def parseSeqHeader(br: BitReader, intraQ: Array[Int],
      nonIntraQ: Array[Int]): (Int, Int) = {
    if (br.remaining < 12 + 12 + 4 + 4 + 18 + 1 + 10 + 1 + 2) return null
    val width = br.bits(12)
    val height = br.bits(12)
    if (width == 0 || height == 0 || width > 4096 || height > 4096) return null
    br.bits(4); br.bits(4) // aspect, frame rate
    br.bits(18); br.bits(1) // bit rate, marker
    br.bits(10); br.bits(1) // vbv, constrained
    if (br.bits(1) == 1) { // load_intra_quantiser_matrix (zigzag order)
      if (br.remaining < 64 * 8) return null
      var i = 0
      while (i < 64) { intraQ(Zigzag(i)) = br.bits(8); i += 1 }
    } else System.arraycopy(DefaultIntraQ, 0, intraQ, 0, 64)
    if (br.bits(1) == 1) { // load_non_intra_quantiser_matrix
      if (br.remaining < 64 * 8) return null
      var i = 0
      while (i < 64) { nonIntraQ(Zigzag(i)) = br.bits(8); i += 1 }
    } else java.util.Arrays.fill(nonIntraQ, 16)
    (width, height)
  }

  /** macroblock_address_increment (Table B.1): values 1..9 plus the
    * +33 escape and stuffing; −1 on unsupported/corrupt. */
  private def readAddrInc(br: BitReader): Int = {
    var inc = 0
    while (true) {
      if (br.remaining < 1) return -1
      if (br.peek(1) == 1) { br.bits(1); return inc + 1 }
      else if (br.remaining >= 3 && br.peek(3) == 3) { br.bits(3); return inc + 2 } // '011'
      else if (br.remaining >= 3 && br.peek(3) == 2) { br.bits(3); return inc + 3 } // '010'
      else if (br.remaining >= 4 && br.peek(4) == 3) { br.bits(4); return inc + 4 } // '0011'
      else if (br.remaining >= 4 && br.peek(4) == 2) { br.bits(4); return inc + 5 } // '0010'
      else if (br.remaining >= 5 && br.peek(5) == 3) { br.bits(5); return inc + 6 } // '00011'
      else if (br.remaining >= 5 && br.peek(5) == 2) { br.bits(5); return inc + 7 } // '00010'
      else if (br.remaining >= 7 && br.peek(7) == 7) { br.bits(7); return inc + 8 } // '0000111'
      else if (br.remaining >= 7 && br.peek(7) == 6) { br.bits(7); return inc + 9 } // '0000110'
      else if (br.remaining >= 11 && br.peek(11) == 0x0F) { br.bits(11) } // stuffing
      else if (br.remaining >= 11 && br.peek(11) == 0x08) { br.bits(11); inc += 33 } // escape
      else return -1
    }
    -1
  }

  private def decodeStream(es: Array[Byte],
      maxFrames: Int): (Seq[(Int, Int, Array[Int], Char)], Boolean) = {
    if (maxFrames <= 0) return (Seq.empty, true)
    val br = new BitReader(es)
    var sc = br.nextStartCode()
    while (sc != -1 && sc != 0xB3) sc = br.nextStartCode()
    if (sc != 0xB3) return (Seq.empty, false)
    val intraQ = new Array[Int](64)
    val nonIntraQ = new Array[Int](64)
    val wh = parseSeqHeader(br, intraQ, nonIntraQ)
    if (wh == null) return (Seq.empty, false)
    val (width, height) = wh
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    val frames =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Int], Char)]
    // anchor bookkeeping (decode order): a B-picture follows BOTH of
    // its anchors in the stream — forward ref = the older anchor,
    // backward ref = the most recent one. B planes are never anchors.
    var anchorPrev: Array[Int] = null
    var anchorLast: Array[Int] = null
    var done = false
    var seqEnd = false
    sc = br.nextStartCode()
    while (!done && frames.size < maxFrames && sc != -1) {
      if (sc == 0xB8 || sc == 0xB2 || sc == 0xB5) sc = br.nextStartCode()
      else if (sc == 0xB3) { // repeated sequence header: sizes must hold
        val wh2 = parseSeqHeader(br, intraQ, nonIntraQ)
        if (wh2 == null || wh2 != wh) done = true else sc = br.nextStartCode()
      } else if (sc == 0x00) { // picture
        if (br.remaining < 10 + 3 + 16) done = true
        else {
          br.bits(10) // temporal reference
          val ptype = br.bits(3)
          br.bits(16) // vbv_delay
          if (ptype < 1 || ptype > 4) done = true // reserved types: stop
          else if (ptype == 2 && anchorLast == null) done = true
          else if (ptype == 3 && (anchorPrev == null || anchorLast == null))
            done = true // a B needs both anchors
          else {
            var fullPelF = false
            var fCodeF = 1
            var fullPelB = false
            var fCodeB = 1
            if (ptype == 2 || ptype == 3) { // D (4) has no f_code fields
              if (br.remaining < 4) done = true
              else {
                fullPelF = br.bits(1) == 1
                fCodeF = br.bits(3)
                if (fCodeF < 1 || fCodeF > 7) done = true
              }
            }
            if (!done && ptype == 3) {
              if (br.remaining < 4) done = true
              else {
                fullPelB = br.bits(1) == 1
                fCodeB = br.bits(3)
                if (fCodeB < 1 || fCodeB > 7) done = true
              }
            }
            if (!done) {
              while (br.remaining >= 9 && br.peek(1) == 1) { br.bits(1); br.bits(8) }
              if (br.remaining < 1) done = true
              else {
                br.bits(1) // extra_bit_picture == 0
                // contain per-picture failures: a truncated/corrupt
                // LATER picture must not discard the exact frames
                // already decoded (the walk stops, it doesn't rewind)
                val (plane, nextSc) =
                  try decodePicture(br, es, ptype,
                    fullPelF, fCodeF, fullPelB, fCodeB, mbW, mbH,
                    intraQ, nonIntraQ, anchorLast, anchorPrev)
                  catch { case _: Exception => (null, -1) }
                if (plane == null) done = true
                else {
                  // B never anchors; neither does D (the fast-forward
                  // type lives in D-only sequences, §2.4.4.3)
                  if (ptype == 1 || ptype == 2) {
                    anchorPrev = anchorLast; anchorLast = plane
                  }
                  frames += ((width, height,
                    // no defensive clone: cropLuma copies when it
                    // crops, and an uncropped alias is safe — anchors
                    // are never mutated (P clones its ref before
                    // writing)
                    cropLuma(plane, mbW * 16, width, height),
                    ptype match {
                      case 1 => 'I'; case 2 => 'P'; case 4 => 'D'
                      case _ => 'B'
                    }))
                  sc = nextSc
                }
              }
            }
          }
        }
      } else { // unknown element; 0xB7 sequence end is a CLEAN stop
        seqEnd = sc == 0xB7
        done = true
      }
    }
    (frames.toSeq, !done || seqEnd)
  }

  /** Decode ONE picture's slices (picture header already consumed).
    * `ptype` 1/2/3 = I/P/B. For P-pictures the plane starts as a copy
    * of the last anchor — skipped macroblocks are exactly the
    * co-located copy; B skipped macroblocks re-apply the PREVIOUS
    * macroblock's prediction (direction flags + vectors, §2.4.4.4).
    * Forward reference: last anchor (P) / older anchor (B); backward
    * reference (B only): last anchor. Returns (plane, next start
    * code) or (null, _) on error. */
  private def decodePicture(br: BitReader, es: Array[Byte], ptype: Int,
      fullPelF: Boolean, fCodeF: Int, fullPelB: Boolean, fCodeB: Int,
      mbW: Int, mbH: Int, intraQ: Array[Int], nonIntraQ: Array[Int],
      refLast: Array[Int], refPrev: Array[Int]): (Array[Int], Int) = {
    val isP = ptype == 2
    val isB = ptype == 3
    val stride = mbW * 16
    val planeH = mbH * 16
    val fwdRef = if (isB) refPrev else refLast
    val bwdRef = refLast
    val luma = if (isP) refLast.clone() else new Array[Int](stride * planeH)
    val block = new Array[Int](64)
    val pix = new Array[Int](64)
    val pred16 = new Array[Int](256)
    val predB16 = new Array[Int](256)
    val fail = (null, -1)
    var decodedMBs = 0
    var maxAddr = -1 // last macroblock address reached (skips included)
    var sc = br.nextStartCode()
    while (sc >= 0x01 && sc <= 0xAF && maxAddr < mbW * mbH - 1) {
      val sliceRow = sc - 1
      if (sliceRow >= mbH || br.remaining < 6) return fail
      var qscale = br.bits(5)
      if (qscale == 0) return fail
      while (br.remaining >= 9 && br.peek(1) == 1) { br.bits(1); br.bits(8) }
      if (br.remaining < 1) return fail
      br.bits(1)
      var mbAddr = sliceRow * mbW - 1
      var predY = 1024; var predCb = 1024; var predCr = 1024
      var pmvX = 0; var pmvY = 0 // forward predictor
      var pmvBX = 0; var pmvBY = 0 // backward predictor (B only)
      // skip-inheritance state (B): the previous macroblock's
      // direction flags — its vectors ARE the predictors
      var lastFwd = false; var lastBwd = false
      var sliceDone = false
      while (!sliceDone) {
        val inc = readAddrInc(br)
        if (inc <= 0) return fail
        if (inc > 1) {
          // skipped MBs: DC predictors always reset
          predY = 1024; predCb = 1024; predCr = 1024
          if (isB) {
            // B: re-apply the previous MB's prediction at each skipped
            // address (motion predictors are left UNCHANGED)
            if (!lastFwd && !lastBwd) return fail // skip after intra: illegal
            var s = 1
            while (s < inc) {
              val a = mbAddr + s
              if (a < 0 || a >= mbW * mbH) return fail
              val sx = a % mbW
              val sy = a / mbW
              if (lastFwd && !predictLuma(fwdRef, stride, planeH, sx, sy,
                  if (fullPelF) pmvX * 2 else pmvX,
                  if (fullPelF) pmvY * 2 else pmvY, pred16)) return fail
              if (lastBwd && !predictLuma(bwdRef, stride, planeH, sx, sy,
                  if (fullPelB) pmvBX * 2 else pmvBX,
                  if (fullPelB) pmvBY * 2 else pmvBY, predB16)) return fail
              var k = 0
              while (k < 256) {
                val v =
                  if (lastFwd && lastBwd) (pred16(k) + predB16(k) + 1) >> 1
                  else if (lastFwd) pred16(k)
                  else predB16(k)
                luma((sy * 16 + k / 16) * stride + sx * 16 + k % 16) =
                  if (v < 0) 0 else if (v > 255) 255 else v
                k += 1
              }
              s += 1
            }
          } else { pmvX = 0; pmvY = 0 } // P: vectors reset; co-located
          // pixels are already in place via refLast.clone()
        }
        mbAddr += inc
        if (mbAddr >= mbW * mbH) return fail
        maxAddr = mbAddr
        // macroblock_type: Table B.2a (I) / B.2b (P) / B.2c (B)
        var intra = false; var fwd = false; var bwd = false
        var pat = false; var quant = false
        if (ptype == 1) {
          if (br.remaining < 1) return fail
          if (br.bits(1) == 1) intra = true // '1' intra-d
          else {
            if (br.remaining < 1) return fail
            if (br.bits(1) != 1) return fail // '01' intra-q
            intra = true; quant = true
          }
        } else if (ptype == 4) { // D, Table B.2d: the single code '1'
          if (br.remaining < 1) return fail
          if (br.bits(1) != 1) return fail
          intra = true
        } else if (isP) {
          if (br.remaining < 1) return fail
          if (br.bits(1) == 1) { fwd = true; pat = true } // '1' pred-mc
          else {
            if (br.remaining < 1) return fail
            if (br.bits(1) == 1) pat = true // '01' pred-c
            else {
              if (br.remaining < 1) return fail
              if (br.bits(1) == 1) fwd = true // '001' pred-m
              else {
                if (br.remaining < 2) return fail
                br.bits(2) match {
                  case 3 => intra = true // '00011'
                  case 2 => quant = true; fwd = true; pat = true // '00010'
                  case 1 => quant = true; pat = true // '00001'
                  case _ => // '000001' intra-q
                    if (br.remaining < 1) return fail
                    if (br.bits(1) != 1) return fail
                    intra = true; quant = true
                }
              }
            }
          }
        } else { // B, Table B.2c
          if (br.remaining < 2) return fail
          if (br.bits(1) == 1) { // '1x': interpolated
            fwd = true; bwd = true
            pat = br.bits(1) == 1 // '11' coded / '10' not
          } else if (br.bits(1) == 1) { // '01x': backward
            if (br.remaining < 1) return fail
            bwd = true
            pat = br.bits(1) == 1 // '011' / '010'
          } else { // '00…'
            if (br.remaining < 1) return fail
            if (br.bits(1) == 1) { // '001x': forward
              if (br.remaining < 1) return fail
              fwd = true
              pat = br.bits(1) == 1 // '0011' / '0010'
            } else {
              if (br.remaining < 2) return fail
              br.bits(2) match {
                case 3 => intra = true // '00011'
                case 2 => quant = true; fwd = true; bwd = true; pat = true // '00010'
                case 1 => // '00001x'
                  if (br.remaining < 1) return fail
                  quant = true; pat = true
                  if (br.bits(1) == 1) fwd = true // '000011'
                  else bwd = true // '000010'
                case _ => // '000001' intra-q
                  if (br.remaining < 1) return fail
                  if (br.bits(1) != 1) return fail
                  intra = true; quant = true
              }
            }
          }
        }
        if (quant) {
          if (br.remaining < 5) return fail
          qscale = br.bits(5)
          if (qscale == 0) return fail
        }
        // motion vectors (coded units: half-pel, or full-pel when the
        // picture's full_pel flag is set); forward then backward
        def reconComp(pred: Int, fCode: Int): Int = {
          val f = 1 << (fCode - 1)
          val code = motionCode(br)
          if (code == Int.MinValue) return Int.MinValue
          val diff =
            if (f == 1 || code == 0) code
            else {
              if (br.remaining < fCode - 1) return Int.MinValue
              val r = br.bits(fCode - 1)
              val mag = (math.abs(code) - 1) * f + r + 1
              if (code < 0) -mag else mag
            }
          var v = pred + diff
          if (v < -16 * f) v += 32 * f
          if (v > 16 * f - 1) v -= 32 * f
          v
        }
        var mvX = 0; var mvY = 0
        var mvBX = 0; var mvBY = 0
        if (fwd) {
          mvX = reconComp(pmvX, fCodeF)
          if (mvX == Int.MinValue) return fail
          mvY = reconComp(pmvY, fCodeF)
          if (mvY == Int.MinValue) return fail
          pmvX = mvX; pmvY = mvY
        } else if (isP && !intra) { pmvX = 0; pmvY = 0 } // P pred-c: MV 0 + reset
        if (bwd) {
          mvBX = reconComp(pmvBX, fCodeB)
          if (mvBX == Int.MinValue) return fail
          mvBY = reconComp(pmvBY, fCodeB)
          if (mvBY == Int.MinValue) return fail
          pmvBX = mvBX; pmvBY = mvBY
        }
        // B: an unused direction's predictor stays UNCHANGED (unlike P)
        if (intra) { pmvX = 0; pmvY = 0; pmvBX = 0; pmvBY = 0 }
        if (!intra) { lastFwd = fwd; lastBwd = bwd }
        else { lastFwd = false; lastBwd = false }
        val cbp =
          if (intra) 63
          else if (pat) {
            val c = cbpDecode(br)
            if (c <= 0) return fail
            c
          } else 0
        val mbX = mbAddr % mbW
        val mbY = mbAddr / mbW
        if (intra) {
          var blk = 0
          while (blk < 6) {
            java.util.Arrays.fill(block, 0)
            val size = if (blk < 4) dcSizeLuma(br) else dcSizeChroma(br)
            if (size < 0) return fail
            val diff = dcDiff(br, size)
            if (diff == Int.MinValue) return fail
            val dc = (if (blk < 4) predY else if (blk == 4) predCb else predCr) + diff * 8
            if (blk < 4) predY = dc else if (blk == 4) predCb = dc else predCr = dc
            block(0) = dc
            // AC loop — D-pictures (§2.4.4.3) carry the DC only: no
            // AC coefficients and no End-of-Block code
            if (ptype != 4) {
              var idx = 0
              var eob = false
              while (!eob) {
                val (run, level) = acCoeff(br)
                if (run == -1) eob = true
                else if (run == -2 || level == 0) return fail
                else {
                  idx += run + 1
                  if (idx > 63) return fail
                  var fq = (2 * level * qscale * intraQ(Zigzag(idx))) / 16
                  // oddification (mismatch control, §2.4.4.1): if even,
                  // pull one step toward zero
                  if ((fq & 1) == 0) fq = if (fq > 0) fq - 1 else if (fq < 0) fq + 1 else fq
                  if (fq > 2047) fq = 2047
                  if (fq < -2048) fq = -2048
                  block(Zigzag(idx)) = fq
                }
              }
            }
            if (blk < 4) {
              idct(block, pix)
              val ox = mbX * 16 + (blk % 2) * 8
              val oy = mbY * 16 + (blk / 2) * 8
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  luma((oy + y) * stride + ox + x) = pix(y * 8 + x)
                  x += 1
                }
                y += 1
              }
            }
            // chroma blocks: parsed for sync, reconstruction discarded
            blk += 1
          }
          // D-pictures close each macroblock with end_of_macroblock '1'
          if (ptype == 4) {
            if (br.remaining < 1) return fail
            if (br.bits(1) != 1) return fail
          }
        } else {
          // non-intra: MC prediction (forward / backward / rounded
          // average of both), then per-block residual. A P macroblock
          // without forward MC predicts co-located zero-MV (mvX = 0).
          val useFwd = fwd || isP
          if (useFwd && !predictLuma(fwdRef, stride, planeH, mbX, mbY,
              if (fullPelF) mvX * 2 else mvX,
              if (fullPelF) mvY * 2 else mvY, pred16)) return fail
          if (bwd && !predictLuma(bwdRef, stride, planeH, mbX, mbY,
              if (fullPelB) mvBX * 2 else mvBX,
              if (fullPelB) mvBY * 2 else mvBY, predB16)) return fail
          if (useFwd && bwd) {
            var k = 0
            while (k < 256) {
              pred16(k) = (pred16(k) + predB16(k) + 1) >> 1
              k += 1
            }
          } else if (bwd) System.arraycopy(predB16, 0, pred16, 0, 256)
          else if (!useFwd) return fail // B MB with neither direction
          var blk = 0
          while (blk < 6) {
            if (((cbp >> (5 - blk)) & 1) == 1) {
              if (!nonIntraBlock(br, qscale, nonIntraQ, block)) return fail
              if (blk < 4) {
                idctResidual(block, pix)
                val bx = (blk % 2) * 8
                val by = (blk / 2) * 8
                var y = 0
                while (y < 8) {
                  var x = 0
                  while (x < 8) {
                    val p = (by + y) * 16 + bx + x
                    pred16(p) = pred16(p) + pix(y * 8 + x)
                    x += 1
                  }
                  y += 1
                }
              } // coded chroma: parsed above, reconstruction discarded
            }
            blk += 1
          }
          val ox = mbX * 16
          val oy = mbY * 16
          var y = 0
          while (y < 16) {
            val rowOff = (oy + y) * stride + ox // hoisted (r18 perf)
            val srcOff = y * 16
            var x = 0
            while (x < 16) {
              val v = pred16(srcOff + x)
              luma(rowOff + x) =
                if (v < 0) 0 else if (v > 255) 255 else v
              x += 1
            }
            y += 1
          }
          predY = 1024; predCb = 1024; predCr = 1024 // non-intra resets DC
        }
        decodedMBs += 1
        // end of slice: byte-aligned 23+ zero bits ahead (next start
        // code) — peek for it; otherwise the next MB follows
        val save = br.pos
        val aligned = (br.pos + 7) / 8 * 8
        if (br.remaining <= 0) sliceDone = true
        else {
          var allZero = true
          var p = br.pos
          while (p < aligned && allZero) {
            if (((es((p >> 3).toInt) >> (7 - (p & 7)).toInt) & 1) != 0) allZero = false
            p += 1
          }
          val bi = (aligned / 8).toInt
          if (allZero && bi + 3 < es.length &&
              es(bi) == 0 && es(bi + 1) == 0 && es(bi + 2) == 1) sliceDone = true
          else br.pos = save
        }
        // the picture ends at its LAST macroblock address — coded-MB
        // count undercounts when macroblocks were skipped (P)
        if (mbAddr >= mbW * mbH - 1) sliceDone = true
      }
      sc = br.nextStartCode()
    }
    if (decodedMBs == 0) fail else (luma, sc)
  }

  private def cropLuma(full: Array[Int], stride: Int, w: Int, h: Int): Array[Int] =
    if (stride == w && full.length == w * h) full
    else {
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(full, y * stride, out, y * w, w)
        y += 1
      }
      out
    }

  // ---------------------------------------------------------------- encode

  private final class BitWriter {
    private val buf = new scala.collection.mutable.ArrayBuffer[Byte]
    private var cur = 0
    private var nb = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nb += 1
        if (nb == 8) { buf += cur.toByte; cur = 0; nb = 0 }
        i -= 1
      }
    }
    def alignZero(): Unit = while (nb != 0) put(0, 1)
    def bytes(bs: Array[Byte]): Unit = { alignZero(); bs.foreach(buf += _) }
    def result(): Array[Byte] = { alignZero(); buf.toArray }
  }

  private def putDcLuma(bw: BitWriter, diff: Int): Unit = {
    val size = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    require(size <= 8, s"dc diff out of range: $diff")
    // Table B.5a (width, code)
    val (w, v) = size match {
      case 0 => (3, 4) // 100
      case 1 => (2, 0) // 00
      case 2 => (2, 1) // 01
      case 3 => (3, 5) // 101
      case 4 => (3, 6) // 110
      case 5 => (4, 14) // 1110
      case 6 => (5, 30) // 11110
      case 7 => (6, 62) // 111110
      case 8 => (7, 126) // 1111110
    }
    bw.put(v, w)
    if (size > 0) {
      val bitsVal = if (diff > 0) diff else diff + (1 << size) - 1
      bw.put(bitsVal, size)
    }
  }

  private def putDcChroma(bw: BitWriter, diff: Int): Unit = {
    val size = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    require(size <= 8, s"dc diff out of range: $diff")
    val (w, v) = size match {
      case 0 => (2, 0) // 00
      case 1 => (2, 1) // 01
      case 2 => (2, 2) // 10
      case 3 => (3, 6) // 110
      case 4 => (4, 14) // 1110
      case 5 => (5, 30)
      case 6 => (6, 62)
      case 7 => (7, 126)
      case 8 => (8, 254)
    }
    bw.put(v, w)
    if (size > 0) {
      val bitsVal = if (diff > 0) diff else diff + (1 << size) - 1
      bw.put(bitsVal, size)
    }
  }

  /** AC coefficient via the UNIVERSAL escape (always legal, always in
    * the decoder's table). level in [-255, 255] \ {0} (8/16-bit escape
    * forms). */
  private def putAcEscape(bw: BitWriter, run: Int, level: Int): Unit = {
    require(run >= 0 && run <= 63 && level != 0 && level >= -255 && level <= 255)
    bw.put(1, 6) // 000001
    bw.put(run, 6)
    if (level >= 128) { bw.put(0, 8); bw.put(level, 8) }
    else if (level <= -128) { bw.put(128, 8); bw.put(level + 256, 8) }
    else bw.put(level & 0xFF, 8)
  }

  private def writeSeqHeader(bw: BitWriter, mbW: Int, mbH: Int): Unit = {
    bw.bytes(Array[Byte](0, 0, 1, 0xB3.toByte))
    bw.put(mbW * 16, 12); bw.put(mbH * 16, 12)
    bw.put(1, 4) // aspect 1:1
    bw.put(1, 4) // frame rate code (23.976)
    bw.put(0x3FFFF, 18) // variable bitrate
    bw.put(1, 1) // marker
    bw.put(0, 10) // vbv
    bw.put(0, 1) // constrained
    bw.put(0, 1) // no custom intra matrix
    bw.put(0, 1) // no custom non-intra matrix
  }

  /** One intra macroblock's six blocks (shared by the I-frame encoder
    * and intra-in-P): returns the updated luma DC predictor. Chroma
    * carries zero differentials against its own predictors (neutral
    * when fresh). */
  private def writeIntraBlocks(bw: BitWriter, predY0: Int,
      lumaDc: Int => Int, ac: Int => Seq[(Int, Int)]): Int = {
    var predY = predY0
    var blk = 0
    while (blk < 6) {
      if (blk < 4) {
        val target = lumaDc(blk) * 8
        val diff = (target - predY) / 8
        putDcLuma(bw, diff)
        predY = predY + diff * 8
        ac(blk).foreach { case (run, level) => putAcEscape(bw, run, level) }
      } else putDcChroma(bw, 0) // chroma stays at its predictor
      bw.put(2, 2) // EOB '10'
      blk += 1
    }
    predY
  }

  /** Encode ONE I-frame: 16·mbW × 16·mbH, one slice, all macroblocks
    * intra-d at quantizer_scale `qscale`. Per LUMA block b (raster MB
    * order, 4 blocks each), `lumaDc(mbIndex, b)` gives the block's
    * flat pixel value 0..255 and `ac(mbIndex, b)` optional extra
    * (zigzagRun, level) coefficients written via the escape code.
    * Chroma blocks carry zero differentials (neutral 128). The
    * resulting stream exercises exactly the paths [[decodeIFrameLuma]]
    * implements — the closed-form fixture discipline. */
  def encodeIFrame(mbW: Int, mbH: Int,
      lumaDc: (Int, Int) => Int,
      ac: (Int, Int) => Seq[(Int, Int)] = (_, _) => Nil,
      qscale: Int = 8): Array[Byte] = {
    require(mbW >= 1 && mbH >= 1 && qscale >= 1 && qscale <= 31)
    val bw = new BitWriter
    writeSeqHeader(bw, mbW, mbH)
    writeIPicture(bw, mbW, mbH, lumaDc, ac, qscale, 0)
    bw.result()
  }

  private def writeIPicture(bw: BitWriter, mbW: Int, mbH: Int,
      lumaDc: (Int, Int) => Int, ac: (Int, Int) => Seq[(Int, Int)],
      qscale: Int, temporalRef: Int): Unit = {
    bw.bytes(Array[Byte](0, 0, 1, 0))
    bw.put(temporalRef & 0x3FF, 10)
    bw.put(1, 3) // I-picture
    bw.put(0xFFFF, 16) // vbv_delay
    bw.put(0, 1) // extra_bit_picture
    // one slice at MB row 1
    bw.bytes(Array[Byte](0, 0, 1, 1))
    bw.put(qscale, 5)
    bw.put(0, 1) // extra_bit_slice
    var predY = 1024
    var mb = 0
    while (mb < mbW * mbH) {
      bw.put(1, 1) // address increment 1
      bw.put(1, 1) // intra-d
      predY = writeIntraBlocks(bw, predY, b => lumaDc(mb, b), b => ac(mb, b))
      mb += 1
    }
  }

  // ------------------------------------------------------------ P encode

  /** One P-picture macroblock spec for [[encodeIPStream]] — the
    * closed-form fixture vocabulary for the inter paths. Motion
    * vectors are in HALF-pel units, values in [-16, 15] (f_code 1). */
  sealed trait PMb
  object PMb {
    /** Co-located copy (macroblock skipped in the bitstream). The
      * first and last macroblock of a slice must not be skipped
      * (ISO 11172-2 §2.4.3.4). */
    case object Skip extends PMb
    /** Intra refresh: per-luma-block flat DC, as in [[encodeIFrame]]. */
    final case class Intra(lumaDc: Int => Int) extends PMb
    /** Forward MC only ('001' pred-m): no residual. */
    final case class Move(mvx: Int, mvy: Int) extends PMb
    /** Forward MC + coded luma residual ('1' pred-mc): per luma block
      * 0..3 a list of (zigzagRun, level) written via the universal
      * escape; blocks with an empty list are left uncoded. The coded
      * set must map to a supported cbp class: all four, or exactly
      * one. */
    final case class MoveCoded(mvx: Int, mvy: Int,
        resid: Int => Seq[(Int, Int)]) extends PMb
  }

  /** Differential against the predictor, wrapped into f_code-1's
    * [-16, 15] window (the decoder un-wraps) — any target vector is
    * reachable from any predictor. */
  private def putMotionDiff(bw: BitWriter, mv: Int, pred: Int): Unit = {
    var d = mv - pred
    if (d < -16) d += 32
    if (d > 15) d -= 32
    putMotion(bw, d)
  }

  /** motion_code (Table B.4): magnitude VLC + sign bit. |code| ≤ 16. */
  private def putMotion(bw: BitWriter, code: Int): Unit = {
    val mag = math.abs(code)
    require(mag <= 16, s"motion code out of range: $code")
    mag match {
      case 0 => bw.put(1, 1)
      case 1 => bw.put(1, 2) // '01'
      case 2 => bw.put(1, 3) // '001'
      case 3 => bw.put(1, 4) // '0001'
      case 4 => bw.put(3, 6) // '000011'
      case 5 => bw.put(5, 7) // '0000101'
      case 6 => bw.put(4, 7) // '0000100'
      case 7 => bw.put(3, 7) // '0000011'
      // 8..16: Table-B.1 codes for 2m/2m+1 with the sign as the final
      // bit (the same correspondence magnitudes 1..7 follow)
      case 8 => bw.put(11, 9) // '000001011'
      case 9 => bw.put(10, 9) // '000001010'
      case 10 => bw.put(9, 9) // '000001001'
      case 11 => bw.put(17, 10) // '0000010001'
      case 12 => bw.put(16, 10) // '0000010000'
      case 13 => bw.put(15, 10) // '0000001111'
      case 14 => bw.put(14, 10) // '0000001110'
      case 15 => bw.put(13, 10) // '0000001101'
      case _ => bw.put(12, 10) // 16: '0000001100'
    }
    if (mag != 0) bw.put(if (code < 0) 1 else 0, 1)
  }

  /** macroblock_address_increment values 1..9 (+33 escapes beyond):
    * expressible values are 33k + r with r in 1..9. */
  private def putMbIncrement(bw: BitWriter, inc0: Int): Unit = {
    require(inc0 >= 1, s"increment must be >= 1, got $inc0")
    val k = (inc0 - 1) / 33
    val rem = inc0 - 33 * k
    require(rem >= 1 && rem <= 9,
      s"increment $inc0 not expressible with the 1..9 + escape subset")
    var inc = inc0
    while (inc > 9) { bw.put(0x08, 11); inc -= 33 }
    inc match {
      case 1 => bw.put(1, 1)
      case 2 => bw.put(3, 3) // '011'
      case 3 => bw.put(2, 3) // '010'
      case 4 => bw.put(3, 4) // '0011'
      case 5 => bw.put(2, 4) // '0010'
      case 6 => bw.put(3, 5) // '00011'
      case 7 => bw.put(2, 5) // '00010'
      case 8 => bw.put(7, 7) // '0000111'
      case _ => bw.put(6, 7) // 9: '0000110'
    }
  }

  private def putCbp(bw: BitWriter, cbp: Int): Unit = cbp match {
    case 60 => bw.put(7, 3) // '111'
    case 32 => bw.put(10, 4) // '1010'
    case 16 => bw.put(11, 4) // '1011'
    case 8  => bw.put(12, 4) // '1100'
    case 4  => bw.put(13, 4) // '1101'
    case _  => throw new IllegalArgumentException(
      s"cbp $cbp outside the supported subset {60, 32, 16, 8, 4}")
  }

  /** One B-picture macroblock spec for [[encodeSequence]]. Vectors in
    * HALF-pel units, [-16, 15] (f_codes 1). */
  sealed trait BMb
  object BMb {
    /** Re-apply the previous macroblock's prediction (B-skip). Must
      * not be first/last in the slice nor follow an intra MB. */
    case object Skip extends BMb
    final case class Intra(lumaDc: Int => Int) extends BMb
    /** Forward-only MC ('0010'), no residual. */
    final case class Fwd(mvx: Int, mvy: Int) extends BMb
    /** Backward-only MC ('010'), no residual. */
    final case class Bwd(mvx: Int, mvy: Int) extends BMb
    /** Interpolated fwd+bwd MC ('10'), no residual. */
    final case class Bi(fx: Int, fy: Int, bx: Int, by: Int) extends BMb
    /** Forward MC + coded luma residual ('0011'); same residual
      * vocabulary as [[PMb.MoveCoded]]. */
    final case class FwdCoded(mvx: Int, mvy: Int,
        resid: Int => Seq[(Int, Int)]) extends BMb
  }

  /** One non-I picture of [[encodeSequence]]. */
  sealed trait PicSpec
  final case class PPic(mb: Int => PMb) extends PicSpec
  final case class BPic(mb: Int => BMb) extends PicSpec
  /** D-picture (round 13, §2.4.4.3): every macroblock intra with the
    * DC coefficient only — `dc(mbIndex, blk)` gives each luma block's
    * flat value 0..255, chroma stays at its predictor. */
  final case class DPic(dc: (Int, Int) => Int) extends PicSpec

  /** Encode a SEQUENCE: one I-frame (as [[encodeIFrame]]) followed by
    * P- and B-pictures in DECODE order (each B after both its
    * anchors), each described macroblock-by-macroblock (raster order,
    * mbW·mbH entries) — the closed-form fixture generator for the
    * inter decode paths ([[decodeFramesLuma]]). All f_codes are 1
    * (motion differentials within ±16 half-pels), one slice per
    * picture. */
  def encodeSequence(mbW: Int, mbH: Int,
      iLumaDc: (Int, Int) => Int,
      pics: Seq[PicSpec],
      qscale: Int = 8,
      iAc: (Int, Int) => Seq[(Int, Int)] = (_, _) => Nil): Array[Byte] = {
    require(mbW >= 1 && mbH >= 1 && qscale >= 1 && qscale <= 31)
    val bw = new BitWriter
    writeSeqHeader(bw, mbW, mbH)
    writeIPicture(bw, mbW, mbH, iLumaDc, iAc, qscale, 0)
    val nMB = mbW * mbH
    def requireMv(x: Int, y: Int): Unit =
      require(x >= -16 && x <= 15 && y >= -16 && y <= 15,
        s"mv out of f_code-1 range: ($x, $y)")
    def putResid(resid: Int => Seq[(Int, Int)]): Unit = {
      val codedBlocks = (0 until 4).filter(b => resid(b).nonEmpty)
      val cbp = codedBlocks.map(b => 32 >> b).sum
      putCbp(bw, cbp)
      codedBlocks.foreach { b =>
        resid(b).foreach { case (run, level) => putAcEscape(bw, run, level) }
        bw.put(2, 2) // EOB
      }
    }
    pics.zipWithIndex.foreach { case (pic, fi) =>
      bw.bytes(Array[Byte](0, 0, 1, 0))
      bw.put((fi + 1) & 0x3FF, 10)
      val ptCode = pic match {
        case _: BPic => 3
        case _: DPic => 4
        case _ => 2
      }
      bw.put(ptCode, 3) // picture type
      bw.put(0xFFFF, 16) // vbv_delay
      if (ptCode != 4) { // D-pictures carry no motion fields
        bw.put(0, 1) // full_pel_forward_vector = 0 (half-pel units)
        bw.put(1, 3) // forward_f_code = 1
      }
      if (ptCode == 3) {
        bw.put(0, 1) // full_pel_backward_vector = 0
        bw.put(1, 3) // backward_f_code = 1
      }
      bw.put(0, 1) // extra_bit_picture
      bw.bytes(Array[Byte](0, 0, 1, 1)) // one slice at MB row 1
      bw.put(qscale, 5)
      bw.put(0, 1) // extra_bit_slice
      var predY = 1024
      var pmvX = 0; var pmvY = 0
      var pmvBX = 0; var pmvBY = 0
      var pending = 0 // run of skipped MBs
      var lastIntra = true // slice start counts as "no prediction to inherit"
      pic match {
        case PPic(mbSpec) =>
          require(mbSpec(0) != PMb.Skip && mbSpec(nMB - 1) != PMb.Skip,
            "first/last macroblock of a slice must not be skipped")
          var mb = 0
          while (mb < nMB) {
            mbSpec(mb) match {
              case PMb.Skip => pending += 1
              case spec =>
                putMbIncrement(bw, pending + 1)
                if (pending > 0) { predY = 1024; pmvX = 0; pmvY = 0 }
                pending = 0
                spec match {
                  case PMb.Intra(dc) =>
                    bw.put(3, 5) // '00011' intra
                    predY = writeIntraBlocks(bw, predY, dc, _ => Nil)
                    pmvX = 0; pmvY = 0
                  case PMb.Move(mvx, mvy) =>
                    requireMv(mvx, mvy)
                    bw.put(1, 3) // '001' pred-m
                    putMotionDiff(bw, mvx, pmvX)
                    putMotionDiff(bw, mvy, pmvY)
                    pmvX = mvx; pmvY = mvy
                    predY = 1024
                  case PMb.MoveCoded(mvx, mvy, resid) =>
                    requireMv(mvx, mvy)
                    bw.put(1, 1) // '1' pred-mc
                    putMotionDiff(bw, mvx, pmvX)
                    putMotionDiff(bw, mvy, pmvY)
                    pmvX = mvx; pmvY = mvy
                    putResid(resid)
                    predY = 1024
                  case PMb.Skip => () // unreachable
                }
            }
            mb += 1
          }
          require(pending == 0, "internal: trailing skip not allowed")
        case BPic(mbSpec) =>
          require(mbSpec(0) != BMb.Skip && mbSpec(nMB - 1) != BMb.Skip,
            "first/last macroblock of a slice must not be skipped")
          var mb = 0
          while (mb < nMB) {
            mbSpec(mb) match {
              case BMb.Skip =>
                require(!lastIntra,
                  "a skipped B macroblock must not follow an intra one")
                pending += 1
              case spec =>
                putMbIncrement(bw, pending + 1)
                if (pending > 0) predY = 1024 // B skip: vectors KEPT
                pending = 0
                spec match {
                  case BMb.Intra(dc) =>
                    bw.put(3, 5) // '00011' intra
                    predY = writeIntraBlocks(bw, predY, dc, _ => Nil)
                    pmvX = 0; pmvY = 0; pmvBX = 0; pmvBY = 0
                    lastIntra = true
                  case BMb.Fwd(mvx, mvy) =>
                    requireMv(mvx, mvy)
                    bw.put(2, 4) // '0010' fwd, not coded
                    putMotionDiff(bw, mvx, pmvX)
                    putMotionDiff(bw, mvy, pmvY)
                    pmvX = mvx; pmvY = mvy
                    predY = 1024; lastIntra = false
                  case BMb.Bwd(mvx, mvy) =>
                    requireMv(mvx, mvy)
                    bw.put(2, 3) // '010' bwd, not coded
                    putMotionDiff(bw, mvx, pmvBX)
                    putMotionDiff(bw, mvy, pmvBY)
                    pmvBX = mvx; pmvBY = mvy
                    predY = 1024; lastIntra = false
                  case BMb.Bi(fx, fy, bx, by) =>
                    requireMv(fx, fy); requireMv(bx, by)
                    bw.put(2, 2) // '10' interpolated, not coded
                    putMotionDiff(bw, fx, pmvX)
                    putMotionDiff(bw, fy, pmvY)
                    putMotionDiff(bw, bx, pmvBX)
                    putMotionDiff(bw, by, pmvBY)
                    pmvX = fx; pmvY = fy; pmvBX = bx; pmvBY = by
                    predY = 1024; lastIntra = false
                  case BMb.FwdCoded(mvx, mvy, resid) =>
                    requireMv(mvx, mvy)
                    bw.put(3, 4) // '0011' fwd + coded
                    putMotionDiff(bw, mvx, pmvX)
                    putMotionDiff(bw, mvy, pmvY)
                    pmvX = mvx; pmvY = mvy
                    putResid(resid)
                    predY = 1024; lastIntra = false
                  case BMb.Skip => () // unreachable
                }
            }
            mb += 1
          }
          require(pending == 0, "internal: trailing skip not allowed")
        case DPic(dc) =>
          // §2.4.4.3: every macroblock present (increment 1), the
          // one-bit type '1', six DC-only blocks (no EOB), then the
          // end_of_macroblock bit
          var mb = 0
          while (mb < nMB) {
            putMbIncrement(bw, 1)
            bw.put(1, 1) // macroblock_type, Table B.2d
            var blk = 0
            while (blk < 6) {
              if (blk < 4) {
                val target = dc(mb, blk) * 8
                val diff = (target - predY) / 8
                putDcLuma(bw, diff)
                predY = predY + diff * 8
              } else putDcChroma(bw, 0)
              blk += 1
            }
            bw.put(1, 1) // end_of_macroblock
            mb += 1
          }
      }
    }
    bw.result()
  }

  /** Back-compat wrapper: one I-frame then P-pictures only. */
  def encodeIPStream(mbW: Int, mbH: Int,
      iLumaDc: (Int, Int) => Int,
      pFrames: Seq[Int => PMb],
      qscale: Int = 8,
      iAc: (Int, Int) => Seq[(Int, Int)] = (_, _) => Nil): Array[Byte] =
    encodeSequence(mbW, mbH, iLumaDc, pFrames.map(PPic.apply), qscale, iAc)
}
