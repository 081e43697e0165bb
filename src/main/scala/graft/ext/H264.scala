package graft.ext

/** H.264/AVC (ITU-T Rec. H.264 / ISO-IEC 14496-10, public spec)
  * decoder for the CAVLC I/P tier, plus the fixture encoder that
  * produces its test streams. Reference behavior: the reference app
  * never decodes video at all (app.py has no video path); this tier
  * serves the curation pipeline's per-frame luma consumers (scene
  * cuts, dHash/pHash), where avc1 is the most common payload codec.
  *
  * Decoded for real (bit-exact per the spec):
  *  - NAL syntax: Annex-B start-code streams AND pre-split NAL lists
  *    (the avcC length-prefixed form), emulation-prevention removal,
  *    Exp-Golomb ue(v)/se(v); parameter sets selected by id.
  *  - I slices: I_PCM (raw samples), Intra_16x16 (all four modes,
  *    8.3.3) and Intra_4x4 (all nine modes, 8.3.1.2, with the 8.3.1.1
  *    mode prediction). CAVLC residuals through the ALGORITHMIC parts
  *    of 9.2 (level prefix/suffix with suffixLength adaptation, the
  *    nC >= 8 fixed-length coeff_token) plus the short-code
  *    coeff_token / total_zeros / run_before entries reproduced from
  *    the spec tables; flat-weight dequant (8.5.9-12), the 4x4 DC
  *    Hadamard and the 4x4 core transform.
  *  - P slices: every partition shape (P_L0_16x16, 16x8 and 8x16 with
  *    their 8.4.1.3 directional predictors, P_8x8 / P_8x8ref0 with
  *    all four sub_mb_types), P_Skip (8.4.1.1), quarter-pel luma and
  *    eighth-pel chroma MC, inter residuals, intra refresh, and
  *    EXPLICIT WEIGHTED prediction (luma and chroma, 8.4.2.3.2).
  *  - Reference management: a sliding-window DPB sized by
  *    max_num_ref_frames, multi-reference list 0, explicit list
  *    reordering (8.2.4.3, short- and long-term ops), the full MMCO
  *    set (8.2.5.4 ops 1-6) with long-term references, and the IDR
  *    long_term_reference_flag. Only reference pictures enter the
  *    DPB; a frame_num gap degrades.
  *  - Multi-slice pictures: slices decode in order into one picture
  *    state, with prediction availability gated to the slice; an
  *    incompletely covered picture never emits.
  *  - In-loop deblocking (8.7): luma and chroma filters, bS per
  *    8.7.2.1, Table 8-16/8-17 thresholds, slice alpha/beta offsets,
  *    disable_deblocking_filter_idc 0/1/2, I_PCM's qp-0 rule.
  *  - 4:2:0 chroma: intra prediction (8.3.4), the 2x2 DC transform +
  *    QPc dequant, I_PCM chroma samples and chroma deblocking;
  *    [[decodeFramesYuv]] exposes the planes.
  *
  * The fence. Everything else degrades: the walk stops and keeps the
  * frames decoded so far, so a caller falls back to the byte-histogram
  * path and never sees a WRONG frame.
  *  - A High-profile SPS (`HighProfiles`) that turns on a High tool
  *    (seq scaling matrices, non-4:2:0, >8-bit, lossless bypass) is
  *    refused, as is any SPS with field coding (frame_mbs_only_flag
  *    = 0). A High SPS that turns none on decodes like Main.
  *  - A PPS that selects CABAC (entropy_coding_mode_flag = 1), carries
  *    the High tail (transform_8x8_mode, scaling matrices, a second
  *    chroma QP offset) or uses slice groups is refused.
  *  - A slice that references a refused parameter set, or a B slice
  *    (slice_type 1 or 6), returns None.
  *  - VLC tables are PARTIAL: only the table entries this file is
  *    certain of are present; an unlisted code returns None rather
  *    than risking a misremembered table row. [[encodeIFrame]] and
  *    [[pNal]] emit only listed codes, so fixture streams are fully
  *    decodable.
  *  - Constrained intra prediction in a P slice, >8-bit and non-4:2:0
  *    streams degrade too. */
object H264 {

  /** 4x4 zigzag: scan index -> raster index (8.5.6 / figure 8-8). */
  private val Zig4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** normAdjust4x4 (table 8-15, qp%6 x position class): class 0 =
    * (even,even), 1 = (odd,odd), 2 = mixed. */
  private val NormAdjust: Array[Array[Int]] = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))

  private def posClass(raster: Int): Int = {
    val r = raster >> 2; val c = raster & 3
    if ((r & 1) == 0 && (c & 1) == 0) 0
    else if ((r & 1) == 1 && (c & 1) == 1) 1
    else 2
  }

  /** Table 9-4: codeNum -> coded_block_pattern for Intra_4x4
    * macroblocks (ChromaArrayType 1). */
  private val CbpIntra: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)

  /** cbp -> codeNum (encoder side of Table 9-4). */
  private lazy val CbpIntraInv: Array[Int] = {
    val inv = new Array[Int](48)
    var i = 0
    while (i < 48) { inv(CbpIntra(i)) = i; i += 1 }
    inv
  }

  /** Table 9-4: codeNum -> coded_block_pattern for Inter macroblocks
    * (ChromaArrayType 1). */
  private val CbpInter: Array[Int] = Array(
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41)

  /** cbp -> codeNum (encoder side, inter column). */
  private lazy val CbpInterInv: Array[Int] = {
    val inv = new Array[Int](48)
    var i = 0
    while (i < 48) { inv(CbpInter(i)) = i; i += 1 }
    inv
  }

  private def clip3(lo: Int, hi: Int, v: Int): Int =
    if (v < lo) lo else if (v > hi) hi else v

  /** Table 8-15 qPi -> QPc (identity below 30). */
  private val QpcTab: Array[Int] = Array(
    29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37,
    38, 38, 38, 39, 39, 39, 39)

  /** Chroma QP from the luma QP and a PPS offset (8.5.8). */
  private def qpChroma(qpY: Int, off: Int): Int = {
    val qPi = clip3(0, 51, qpY + off)
    if (qPi < 30) qPi else QpcTab(qPi - 30)
  }

  // ---- deblocking thresholds (8.7.2.2), by index 0..51 ----

  /** Table 8-16 alpha. */
  private val AlphaT: Array[Int] = Array.fill(16)(0) ++ Array(
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28,
    32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144,
    162, 182, 203, 226, 255, 255)

  /** Table 8-16 beta. */
  private val BetaT: Array[Int] = Array.fill(16)(0) ++ Array(
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16,
    17, 17, 18, 18)

  /** Table 8-17 tC0, rows bS = 1, 2, 3. */
  private val Tc0T: Array[Array[Int]] = Array(
    Array.fill(16)(0) ++ Array(
      0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1,
      1, 2, 2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8,
      9, 10, 11, 13),
    Array.fill(16)(0) ++ Array(
      0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2,
      2, 3, 3, 3, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11, 12, 13,
      15, 17, 19, 23),
    Array.fill(16)(0) ++ Array(
      0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3,
      3, 3, 4, 4, 4, 5, 6, 6, 7, 9, 10, 11, 13, 14, 16, 18,
      20, 23, 25, 27))

  // ---------------------------------------------------------------- bits

  private object ParseFail extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private final class BitReader(val bytes: Array[Byte]) {
    var pos: Int = 0 // bit position
    val limit: Int = bytes.length * 8
    def remaining: Int = limit - pos
    def bit(): Int = {
      if (pos >= limit) throw ParseFail
      val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      b
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (bit() == 0) { zeros += 1; if (zeros > 31) throw ParseFail }
      if (zeros == 0) 0 else (1 << zeros) - 1 + bits(zeros)
    }
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
    def byteAlign(): Unit = while ((pos & 7) != 0) { bit(); () }
    def byteAt(): Int = { // aligned byte read
      if ((pos & 7) != 0 || pos + 8 > limit) throw ParseFail
      val v = bytes(pos >> 3) & 0xFF
      pos += 8
      v
    }
    /** more_rbsp_data(): true iff data bits remain BEFORE the
      * rbsp_stop_one_bit (7.4.1: the stop bit is the last 1-bit of
      * the RBSP; everything after it is alignment zeros). The stop
      * bit is a constant of the buffer — computed once (round 13:
      * multi-slice decoding calls this per macroblock; a per-call
      * backward scan would be quadratic). */
    private var stopBit = Int.MinValue
    def moreRbspData(): Boolean = {
      if (stopBit == Int.MinValue) {
        var last = limit - 1
        while (last >= 0 &&
            ((bytes(last >> 3) >> (7 - (last & 7))) & 1) == 0) last -= 1
        stopBit = last
      }
      stopBit > pos
    }
  }

  /** Strip emulation-prevention bytes: 00 00 03 -> 00 00 (7.4.1.1). */
  private def unescape(nal: Array[Byte], from: Int): Array[Byte] = {
    val out = new Array[Byte](nal.length - from)
    var i = from; var o = 0; var zeros = 0
    while (i < nal.length) {
      val b = nal(i)
      if (zeros >= 2 && b == 3 && i + 1 < nal.length && (nal(i + 1) & 0xFC) == 0) {
        zeros = 0 // skip the escape byte
      } else {
        out(o) = b; o += 1
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Split an Annex-B byte stream (00 00 01 / 00 00 00 01 delimited)
    * into NAL units (headers included, escapes NOT yet removed). */
  private[ext] def splitAnnexB(es: Array[Byte]): Seq[Array[Byte]] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 3 <= es.length) {
      if (es(i) == 0 && es(i + 1) == 0 && es(i + 2) == 1) { starts += i + 3; i += 3 }
      else i += 1
    }
    starts.toSeq.zipWithIndex.map { case (s, idx) =>
      var e = if (idx + 1 < starts.length) starts(idx + 1) - 3 else es.length
      // a 4-byte start code leaves one extra trailing zero on the prev NAL
      while (e > s && es(e - 1) == 0 && idx + 1 < starts.length) e -= 1
      java.util.Arrays.copyOfRange(es, s, e)
    }.filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------- headers

  /** Memory-management control operations (8.2.5.4, round 15),
    * resolved to DPB indices at slice-header parse time against the
    * window the slice actually sees; applied in order when the
    * picture enters the DPB. */
  private sealed trait Mmco
  /** op 1 / op 2: mark a short-term / long-term picture unused. */
  private final case class MmcoDrop(dpbIdx: Int) extends Mmco
  /** op 3: assign LongTermFrameIdx to a short-term picture. */
  private final case class MmcoMakeLong(dpbIdx: Int, lt: Int) extends Mmco
  /** op 4: MaxLongTermFrameIdx = value - 1 (0 = no long-terms). */
  private final case class MmcoMaxLt(maxPlus1: Int) extends Mmco
  /** op 5: mark ALL unused + re-base frame_num / POC. */
  private case object MmcoReset extends Mmco
  /** op 6 (and the IDR long_term_reference_flag): the CURRENT
    * picture enters the DPB long-term at this index. */
  private final case class MmcoCurLong(lt: Int) extends Mmco

  /** One DPB entry: luma + both chroma planes. */
  private final case class RefPic(y: Array[Int], cb: Array[Int],
      cr: Array[Int])

  private final case class Sps(
      id: Int, mbW: Int, mbH: Int,
      cropL: Int, cropR: Int, cropT: Int, cropB: Int,
      log2MaxFrameNum: Int, pocType: Int, log2MaxPocLsb: Int,
      deltaPocAlwaysZero: Boolean, maxRefFrames: Int)

  private final case class Pps(
      id: Int, spsId: Int,
      picInitQp: Int, deblockPresent: Boolean, redundantPresent: Boolean,
      bottomFieldPoc: Boolean, numRefIdxL0Default: Int,
      weightedPred: Boolean, constrainedIntra: Boolean,
      chromaQpOff: Int)

  /** Profiles whose SPS carries the chroma/bit-depth/scaling block
    * (High and above). The block's tools (scaling matrices, non-4:2:0,
    * >8-bit, lossless bypass) are outside the decoded tier: an SPS
    * that turns one on is refused, one that turns none on decodes
    * like Main. */
  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  private def parseSps(rbsp: Array[Byte]): Sps = {
    val br = new BitReader(rbsp)
    val profile = br.bits(8)
    br.bits(8) // constraint flags + reserved
    br.bits(8) // level_idc
    val spsId = br.ue()
    if (HighProfiles.contains(profile)) {
      if (br.ue() != 1) throw ParseFail // chroma_format_idc: 4:2:0 only
      if (br.ue() != 0) throw ParseFail // bit_depth_luma_minus8
      if (br.ue() != 0) throw ParseFail // bit_depth_chroma_minus8
      if (br.bit() == 1) throw ParseFail // qpprime_y_zero_transform_bypass
      if (br.bit() == 1) throw ParseFail // seq_scaling_matrix_present
    }
    val log2MaxFrameNum = br.ue() + 4
    if (log2MaxFrameNum > 16) throw ParseFail // spec bound (7.4.2.1)
    val pocType = br.ue()
    var log2MaxPocLsb = 0
    var deltaPocAlwaysZero = false
    if (pocType == 0) {
      log2MaxPocLsb = br.ue() + 4
      if (log2MaxPocLsb > 16) throw ParseFail
    }
    if (pocType == 1) { // 8.2.1.2 cycle parameters: parsed, unused —
      // picture order only orders B-slice lists, which are refused
      deltaPocAlwaysZero = br.bit() == 1
      br.se() // offset_for_non_ref_pic
      br.se() // offset_for_top_to_bottom_field
      val n = br.ue()
      if (n > 255) throw ParseFail
      var i = 0
      while (i < n) { br.se(); i += 1 } // offset_for_ref_frame
    } else if (pocType != 0 && pocType != 2) throw ParseFail
    val maxRefFrames = br.ue() // sliding-window DPB capacity
    if (maxRefFrames > 16) throw ParseFail // spec bound (7.4.2.1.1)
    br.bit() // gaps_in_frame_num_allowed
    val mbW = br.ue() + 1
    val mbH = br.ue() + 1
    if (br.bit() != 1) throw ParseFail // frame_mbs_only required
    br.bit() // direct_8x8_inference (B-slice direct modes only)
    var cl = 0; var cr = 0; var ct = 0; var cb = 0
    if (br.bit() == 1) { cl = br.ue(); cr = br.ue(); ct = br.ue(); cb = br.ue() }
    // vui ignored (everything needed is parsed)
    // 32768 MBs (e.g. 4096x2048 px) caps the luma buffer at ~33 MB —
    // a crafted ue(v) frame size must cost a degrade, not a task OOM
    if (mbW <= 0 || mbH <= 0 || mbW.toLong * mbH > 32768L) throw ParseFail
    Sps(spsId, mbW, mbH, cl, cr, ct, cb, log2MaxFrameNum, pocType,
      log2MaxPocLsb, deltaPocAlwaysZero, math.max(1, maxRefFrames))
  }

  /** PPS parse. CABAC (entropy_coding_mode_flag = 1) and the High
    * tail (transform_8x8_mode, pic scaling matrices, the second chroma
    * QP offset) are outside the decoded tier: either refuses the PPS,
    * and every slice that references it degrades. */
  private def parsePps(rbsp: Array[Byte]): Pps = {
    val br = new BitReader(rbsp)
    val ppsId = br.ue()
    val spsId = br.ue()
    if (br.bit() == 1) throw ParseFail // entropy_coding_mode_flag
    val bottomFieldPoc = br.bit() == 1
    if (br.ue() != 0) throw ParseFail // num_slice_groups_minus1
    val numRefIdxL0Default = br.ue() + 1
    br.ue() // num_ref_idx_l1_default_active_minus1 (B only)
    val weightedPred = br.bit() == 1
    br.bits(2) // weighted_bipred_idc (B only)
    val picInitQp = 26 + br.se()
    br.se() // pic_init_qs
    val chromaQpOff = br.se() // chroma_qp_index_offset
    if (chromaQpOff < -12 || chromaQpOff > 12) throw ParseFail
    val deblockPresent = br.bit() == 1
    val constrainedIntra = br.bit() == 1
    val redundantPresent = br.bit() == 1
    if (br.moreRbspData()) throw ParseFail // the High tail
    Pps(ppsId, spsId, picInitQp, deblockPresent, redundantPresent,
      bottomFieldPoc, numRefIdxL0Default, weightedPred, constrainedIntra,
      chromaQpOff)
  }

  // ---------------------------------------------------------------- CAVLC

  /** coeff_token for 0 <= nC < 2 — the short-code rows of table 9-5
    * this file is certain of; (TotalCoeff, TrailingOnes) by code. An
    * unlisted code -> None-degrade (never guess). */
  private def coeffTokenNc01(br: BitReader): (Int, Int) = {
    if (br.bit() == 1) return (0, 0) // '1'
    if (br.bit() == 1) return (1, 1) // '01'
    if (br.bit() == 1) return (2, 2) // '001'
    // '000' consumed; certain rows: '00011' (3,3), '000101' (1,0),
    // '000100' (2,1)
    if (br.bit() == 1) {
      if (br.bit() == 1) (3, 3) // '00011'
      else if (br.bit() == 1) (1, 0) // '000101'
      else (2, 1) // '000100'
    } else throw ParseFail // '0000...': rows not reproduced
  }

  /** coeff_token, chroma-DC nC == -1 (table 9-5 last column, the
    * certain subset). */
  private def coeffTokenChromaDc(br: BitReader): (Int, Int) = {
    if (br.bit() == 1) return (1, 1) // '1'
    if (br.bit() == 1) return (0, 0) // '01'
    if (br.bit() == 1) return (2, 2) // '001'
    if (br.remaining >= 3 && br.bits(3) == 7) return (1, 0) // '000111'
    throw ParseFail
  }

  /** coeff_token, nC >= 8: 6-bit FLC (complete by construction —
    * code 3 is (0,0); otherwise TotalCoeff = (code>>2)+1,
    * TrailingOnes = code&3). */
  private def coeffTokenFlc(br: BitReader): (Int, Int) = {
    val v = br.bits(6)
    if (v == 3) (0, 0)
    else {
      val tc = (v >> 2) + 1
      val t1 = v & 3
      if (t1 > math.min(3, tc) || tc > 16) throw ParseFail
      (tc, t1)
    }
  }

  /** total_zeros for 4x4 blocks (table 9-7), TotalCoeff == 1 column —
    * the column [[encodeIFrame]] uses and the one reproduced with
    * certainty. Other columns -> None-degrade. */
  private def totalZerosTc1(br: BitReader): Int = {
    if (br.bit() == 1) return 0 // '1'
    if (br.bit() == 1) { return if (br.bit() == 1) 1 else 2 } // '011' / '010'
    if (br.bit() == 1) { return if (br.bit() == 1) 3 else 4 } // '0011' / '0010'
    if (br.bit() == 1) { return if (br.bit() == 1) 5 else 6 } // '00011' / '00010'
    if (br.bit() == 1) { return if (br.bit() == 1) 7 else 8 } // '000011' / '000010'
    if (br.bit() == 1) { return if (br.bit() == 1) 9 else 10 } // 7 bits
    if (br.bit() == 1) { return if (br.bit() == 1) 11 else 12 } // 8 bits
    if (br.bit() == 1) { return if (br.bit() == 1) 13 else 14 } // 9 bits
    if (br.bit() == 1) return 15 // '000000001'
    throw ParseFail
  }

  /** total_zeros for chroma-DC 2x2 blocks (table 9-9(a)) — a DIFFERENT
    * table from the 4x4 one: tc=1: {1, 01, 001, 000}, tc=2: {1, 01,
    * 00}, tc=3: {1, 0}. Small enough to reproduce completely. */
  private def totalZerosChromaDc(br: BitReader, tc: Int): Int = tc match {
    case 1 =>
      if (br.bit() == 1) 0
      else if (br.bit() == 1) 1
      else if (br.bit() == 1) 2
      else 3
    case 2 =>
      if (br.bit() == 1) 0
      else if (br.bit() == 1) 1
      else 2
    case 3 => if (br.bit() == 1) 0 else 1
    case _ => throw ParseFail
  }

  /** run_before (table 9-10): zerosLeft == 1 plus the zerosLeft > 6
    * unary tail are reproduced with certainty; other columns degrade. */
  private def runBefore(br: BitReader, zerosLeft: Int): Int = {
    if (zerosLeft <= 0) 0
    else if (zerosLeft == 1) { if (br.bit() == 1) 0 else 1 }
    else if (zerosLeft > 6) {
      val v = br.bits(3)
      if (v != 0) 7 - v
      else {
        var run = 7
        var guard = 0
        while (br.bit() == 0) { run += 1; guard += 1; if (guard > 8) throw ParseFail }
        run
      }
    } else throw ParseFail // zerosLeft 2..6 columns: not reproduced
  }

  /** One CAVLC residual block (9.2): returns scan-order coefficients
    * (length maxNumCoeff) and TotalCoeff. nC selects the coeff_token
    * table (-1 = chroma DC). */
  private def residualCavlc(br: BitReader, nC: Int, maxNumCoeff: Int): (Array[Int], Int) = {
    val (tc, t1s) =
      if (nC == -1) coeffTokenChromaDc(br)
      else if (nC < 2) coeffTokenNc01(br)
      else if (nC >= 8) coeffTokenFlc(br)
      else throw ParseFail // nC 2..7 tables: not reproduced
    val out = new Array[Int](maxNumCoeff)
    if (tc == 0) return (out, 0)
    if (tc > maxNumCoeff) throw ParseFail
    val levels = new Array[Int](tc)
    var i = 0
    while (i < t1s) { levels(i) = if (br.bit() == 1) -1 else 1; i += 1 }
    var suffixLength = if (tc > 10 && t1s < 3) 1 else 0
    while (i < tc) {
      var prefix = 0
      while (br.bit() == 0) { prefix += 1; if (prefix > 31) throw ParseFail }
      var suffixSize = suffixLength
      if (prefix == 14 && suffixLength == 0) suffixSize = 4
      else if (prefix >= 15) suffixSize = prefix - 3
      var levelCode = (math.min(15, prefix) << suffixLength) +
        (if (suffixSize > 0) br.bits(suffixSize) else 0)
      if (prefix >= 15 && suffixLength == 0) levelCode += 15
      if (prefix >= 16) levelCode += (1 << (prefix - 3)) - 4096
      if (i == t1s && t1s < 3) levelCode += 2
      levels(i) =
        if ((levelCode & 1) == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(levels(i)) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    val totalZeros =
      if (tc == maxNumCoeff) 0
      else if (nC == -1) totalZerosChromaDc(br, tc) // 2x2 table 9-9(a)
      else if (tc == 1) totalZerosTc1(br)
      else throw ParseFail // 4x4 total_zeros columns tc >= 2: not reproduced
    if (totalZeros > maxNumCoeff - tc) throw ParseFail
    var zerosLeft = totalZeros
    var scanIdx = tc - 1 + totalZeros
    i = 0
    while (i < tc) {
      if (scanIdx < 0 || scanIdx >= maxNumCoeff) throw ParseFail
      out(scanIdx) = levels(i)
      val run = if (i < tc - 1) runBefore(br, zerosLeft) else zerosLeft
      if (run > zerosLeft) throw ParseFail
      zerosLeft -= run
      scanIdx -= 1 + run
      i += 1
    }
    (out, tc)
  }

  // ---------------------------------------------------------------- transform

  /** Inverse 4x4 core transform + rounding (8.5.12.2): raster-order
    * coefficients in, raster-order residual out. */
  private def invTransform4x4(d: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var r = 0
    while (r < 4) {
      val d0 = d(r * 4); val d1 = d(r * 4 + 1); val d2 = d(r * 4 + 2); val d3 = d(r * 4 + 3)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      t(r * 4) = e0 + e3; t(r * 4 + 1) = e1 + e2
      t(r * 4 + 2) = e1 - e2; t(r * 4 + 3) = e0 - e3
      r += 1
    }
    val out = new Array[Int](16)
    var c = 0
    while (c < 4) {
      val d0 = t(c); val d1 = t(4 + c); val d2 = t(8 + c); val d3 = t(12 + c)
      val e0 = d0 + d2; val e1 = d0 - d2
      val e2 = (d1 >> 1) - d3; val e3 = d1 + (d3 >> 1)
      out(c) = (e0 + e3 + 32) >> 6; out(4 + c) = (e1 + e2 + 32) >> 6
      out(8 + c) = (e1 - e2 + 32) >> 6; out(12 + c) = (e0 - e3 + 32) >> 6
      c += 1
    }
    out
  }

  /** Inverse 4x4 Hadamard for the Intra_16x16 luma DC block (8.5.10),
    * no rounding (scaling happens after). */
  private def invHadamard4(c: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var r = 0
    while (r < 4) {
      val d0 = c(r * 4); val d1 = c(r * 4 + 1); val d2 = c(r * 4 + 2); val d3 = c(r * 4 + 3)
      val e0 = d0 + d2; val e1 = d0 - d2; val e2 = d1 - d3; val e3 = d1 + d3
      t(r * 4) = e0 + e3; t(r * 4 + 1) = e1 + e2
      t(r * 4 + 2) = e1 - e2; t(r * 4 + 3) = e0 - e3
      r += 1
    }
    val out = new Array[Int](16)
    var cc = 0
    while (cc < 4) {
      val d0 = t(cc); val d1 = t(4 + cc); val d2 = t(8 + cc); val d3 = t(12 + cc)
      val e0 = d0 + d2; val e1 = d0 - d2; val e2 = d1 - d3; val e3 = d1 + d3
      out(cc) = e0 + e3; out(4 + cc) = e1 + e2
      out(8 + cc) = e1 - e2; out(12 + cc) = e0 - e3
      cc += 1
    }
    out
  }

  /** Luma-DC scaling (8.5.10) under the flat weight scale (16): no
    * profile this decoder accepts carries a scaling matrix. */
  private def scaleDc(f: Int, qp: Int): Int = {
    val ls = 16 * NormAdjust(qp % 6)(0)
    if (qp >= 36) (f * ls) << (qp / 6 - 6)
    else (f * ls + (1 << (5 - qp / 6))) >> (6 - qp / 6)
  }

  /** AC coefficient dequant (8.5.12.1) under the flat weight scale. */
  private def scaleAc(c: Int, raster: Int, qp: Int): Int = {
    val ls = 16 * NormAdjust(qp % 6)(posClass(raster))
    if (qp >= 24) (c * ls) << (qp / 6 - 4)
    else (c * ls + (1 << (3 - qp / 6))) >> (4 - qp / 6)
  }

  // ---------------------------------------------------------------- nC grid

  /** Per-4x4-block TotalCoeff bookkeeping for nC derivation (9.2.1) —
    * shared by decode AND [[encodeIFrame]] so the two always agree on
    * which coeff_token table a block lands in. */
  private final class NzCtx(val bw: Int, val bh: Int) {
    private val nz = new Array[Int](bw * bh)
    /** Optional availability gate over CELL coords (round 13,
      * multi-slice: 9.2.1 treats a neighbor in another slice as
      * unavailable). null = position-only availability (single-slice
      * and the fixture encoder's full-slice paths). */
    var gate: (Int, Int) => Boolean = null
    def set(bx: Int, by: Int, v: Int): Unit = nz(by * bw + bx) = v
    def get(bx: Int, by: Int): Int = nz(by * bw + bx)
    def nC(bx: Int, by: Int): Int = {
      val hasA = bx > 0 && (gate == null || gate(bx - 1, by))
      val hasB = by > 0 && (gate == null || gate(bx, by - 1))
      if (hasA && hasB) (nz(by * bw + bx - 1) + nz((by - 1) * bw + bx) + 1) >> 1
      else if (hasA) nz(by * bw + bx - 1)
      else if (hasB) nz((by - 1) * bw + bx)
      else 0
    }
  }

  /** Z-order luma 4x4 block index -> (gridRow, gridCol) inside the MB. */
  private def blkRow(blkIdx: Int): Int = 2 * ((blkIdx >> 2) >> 1) + ((blkIdx & 3) >> 1)
  private def blkCol(blkIdx: Int): Int = 2 * ((blkIdx >> 2) & 1) + (blkIdx & 1)

  /** Inverse of [[blkRow]]/[[blkCol]]: (gridRow, gridCol) -> z index. */
  private def zIdxOf(r: Int, c: Int): Int =
    ((r >> 1) * 2 + (c >> 1)) * 4 + ((r & 1) * 2 + (c & 1))

  // ------------------------------------------------------- Intra_4x4

  /** Intra_4x4 prediction (8.3.1.2.1-9) of the block at 4x4 grid
    * (bx, by), mode 0..8. `curMb`/`curBlk` identify the block being
    * decoded so top-right availability follows DECODE order (a
    * neighbor is available iff it lies in the picture and was decoded
    * earlier — raster MBs, z-order blocks within an MB). Unavailable
    * p[x,-1] x=4..7 substitute p[3,-1] per 8.3.1.2. Returns the 4x4
    * prediction (row-major) or null when a required neighbor is
    * unavailable (corrupt stream -> degrade). */
  private def predict4x4(luma: Array[Int], stride: Int, mbW: Int, mbH: Int,
      bx: Int, by: Int, mode: Int, curMb: Int, curBlk: Int,
      sliceOk: Int => Boolean): Array[Int] = {
    val gw = mbW * 4
    val gh = mbH * 4
    def decodedBefore(bx2: Int, by2: Int): Boolean = {
      if (bx2 < 0 || by2 < 0 || bx2 >= gw || by2 >= gh) false
      else {
        val m2 = (by2 >> 2) * mbW + (bx2 >> 2)
        if (m2 < curMb) sliceOk(m2) // another slice is unavailable
        else if (m2 > curMb) false
        else zIdxOf(by2 & 3, bx2 & 3) < curBlk
      }
    }
    val availLeft = decodedBefore(bx - 1, by)
    val availTop = decodedBefore(bx, by - 1)
    val availTL = decodedBefore(bx - 1, by - 1)
    val availTR = decodedBefore(bx + 1, by - 1)
    val need = mode match {
      case 0 | 3 | 7 => availTop
      case 1 | 8 => availLeft
      case 2 => true
      case 4 | 5 | 6 => availLeft && availTop && availTL
      case _ => false
    }
    if (!need) return null
    val x0 = bx * 4
    val y0 = by * 4
    // t(0) = p[-1,-1], t(1+i) = p[i,-1] i = 0..7; l(j) = p[-1, j]
    val t = new Array[Int](9)
    val l = new Array[Int](4)
    if (availTL) t(0) = luma((y0 - 1) * stride + x0 - 1)
    if (availTop) {
      var i = 0
      while (i < 4) { t(1 + i) = luma((y0 - 1) * stride + x0 + i); i += 1 }
      if (availTR) {
        i = 4
        while (i < 8) { t(1 + i) = luma((y0 - 1) * stride + x0 + i); i += 1 }
      } else {
        i = 4
        while (i < 8) { t(1 + i) = t(4); i += 1 } // duplicate p[3,-1]
      }
    }
    if (availLeft) {
      var j = 0
      while (j < 4) { l(j) = luma((y0 + j) * stride + x0 - 1); j += 1 }
    }
    // accessors with the -1 -> corner convention
    def pt(i: Int): Int = t(1 + i) // p[i, -1], i may be -1 (corner)
    def pl(j: Int): Int = if (j < 0) t(0) else l(j) // p[-1, j]
    val out = new Array[Int](16)
    var y = 0
    while (y < 4) {
      var x = 0
      while (x < 4) {
        val v = mode match {
          case 0 => pt(x)
          case 1 => pl(y)
          case 2 =>
            if (availLeft && availTop)
              (pt(0) + pt(1) + pt(2) + pt(3) + pl(0) + pl(1) + pl(2) + pl(3) + 4) >> 3
            else if (availLeft) (pl(0) + pl(1) + pl(2) + pl(3) + 2) >> 2
            else if (availTop) (pt(0) + pt(1) + pt(2) + pt(3) + 2) >> 2
            else 128
          case 3 => // diagonal down-left
            if (x == 3 && y == 3) (pt(6) + 3 * pt(7) + 2) >> 2
            else (pt(x + y) + 2 * pt(x + y + 1) + pt(x + y + 2) + 2) >> 2
          case 4 => // diagonal down-right
            if (x > y) (pt(x - y - 2) + 2 * pt(x - y - 1) + pt(x - y) + 2) >> 2
            else if (x < y) (pl(y - x - 2) + 2 * pl(y - x - 1) + pl(y - x) + 2) >> 2
            else (pt(0) + 2 * t(0) + pl(0) + 2) >> 2
          case 5 => // vertical right
            val zVR = 2 * x - y
            if (zVR >= 0 && (zVR & 1) == 0)
              (pt(x - (y >> 1) - 1) + pt(x - (y >> 1)) + 1) >> 1
            else if (zVR >= 0)
              (pt(x - (y >> 1) - 2) + 2 * pt(x - (y >> 1) - 1) + pt(x - (y >> 1)) + 2) >> 2
            else if (zVR == -1) (pl(0) + 2 * t(0) + pt(0) + 2) >> 2
            else (pl(y - 2 * x - 1) + 2 * pl(y - 2 * x - 2) + pl(y - 2 * x - 3) + 2) >> 2
          case 6 => // horizontal down
            val zHD = 2 * y - x
            if (zHD >= 0 && (zHD & 1) == 0)
              (pl(y - (x >> 1) - 1) + pl(y - (x >> 1)) + 1) >> 1
            else if (zHD >= 0)
              (pl(y - (x >> 1) - 2) + 2 * pl(y - (x >> 1) - 1) + pl(y - (x >> 1)) + 2) >> 2
            else if (zHD == -1) (pl(0) + 2 * t(0) + pt(0) + 2) >> 2
            else (pt(x - 2 * y - 1) + 2 * pt(x - 2 * y - 2) + pt(x - 2 * y - 3) + 2) >> 2
          case 7 => // vertical left
            if ((y & 1) == 0) (pt(x + (y >> 1)) + pt(x + (y >> 1) + 1) + 1) >> 1
            else (pt(x + (y >> 1)) + 2 * pt(x + (y >> 1) + 1) + pt(x + (y >> 1) + 2) + 2) >> 2
          case _ => // 8: horizontal up
            val zHU = x + 2 * y
            if (zHU <= 4 && (zHU & 1) == 0)
              (pl(y + (x >> 1)) + pl(y + (x >> 1) + 1) + 1) >> 1
            else if (zHU <= 3) // odd 1, 3
              (pl(y + (x >> 1)) + 2 * pl(y + (x >> 1) + 1) + pl(y + (x >> 1) + 2) + 2) >> 2
            else if (zHU == 5) (pl(2) + 3 * pl(3) + 2) >> 2
            else pl(3) // zHU > 5
        }
        out(y * 4 + x) = v
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------- deblocking

  /** In-loop deblocking (8.7), frame coding, 4x4 transform: per MB
    * in raster order, the four vertical edges left-to-right, then the
    * four horizontal edges top-to-bottom. bS per 8.7.2.1 for a
    * single-list picture (intra flags; per-4x4 coefficient presence;
    * per-4x4 reference picture and motion vector). I_PCM macroblocks
    * filter with QP 0 (8.7.2). Chroma edges filter alongside. */
  private def deblockLuma(luma: Array[Int], stride: Int, mbW: Int, mbH: Int,
      mbIntra: Array[Boolean], qpMb: Array[Int], lumaNz: NzCtx,
      mv: MvCtx, sliceOf: Array[Int],
      sliceParams: Array[(Int, Int, Int)],
      cbPlane: Array[Int], crPlane: Array[Int], cqpOff: Int): Unit = {
    val strideC = mbW * 8
    // 8.7.2.1 motion-based bS. Reference comparison is by PICTURE
    // (the per-cell DPB id), never by per-slice index.
    def mvDiff4(ax: Int, ay: Int, bx: Int, by: Int): Boolean = {
      val dx = ax - bx; val dy = ay - by
      dx <= -4 || dx >= 4 || dy <= -4 || dy >= 4
    }
    def bS(mbP: Int, mbQ: Int, bxP: Int, byP: Int, bxQ: Int, byQ: Int,
        mbEdge: Boolean): Int = {
      if (mbIntra(mbP) || mbIntra(mbQ)) { if (mbEdge) 4 else 3 }
      else if (lumaNz.get(bxP, byP) > 0 || lumaNz.get(bxQ, byQ) > 0) 2
      else {
        val kp = byP * mv.gw + bxP
        val kq = byQ * mv.gw + bxQ
        if (mv.inter(kp) != mv.inter(kq)) 1 // different number of vectors
        else if (!mv.inter(kp)) 0
        else if (mv.pic(kp) != mv.pic(kq) ||
          mvDiff4(mv.mvx(kp), mv.mvy(kp), mv.mvx(kq), mv.mvy(kq))) 1
        else 0
      }
    }
    // filter one line across an edge: q0 at `pos`, p0 at `pos - step`
    def filterLine(pos: Int, step: Int, bSv: Int, indexA: Int,
        indexB: Int): Unit = {
      val alpha = AlphaT(indexA)
      val beta = BetaT(indexB)
      val q0 = luma(pos); val q1 = luma(pos + step)
      val q2 = luma(pos + 2 * step); val q3 = luma(pos + 3 * step)
      val p0 = luma(pos - step); val p1 = luma(pos - 2 * step)
      val p2 = luma(pos - 3 * step); val p3 = luma(pos - 4 * step)
      if (math.abs(p0 - q0) >= alpha || math.abs(p1 - p0) >= beta ||
        math.abs(q1 - q0) >= beta) return
      val ap = math.abs(p2 - p0) < beta
      val aq = math.abs(q2 - q0) < beta
      if (bSv == 4) {
        val strong = math.abs(p0 - q0) < (alpha >> 2) + 2
        if (ap && strong) {
          luma(pos - step) = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
          luma(pos - 2 * step) = (p2 + p1 + p0 + q0 + 2) >> 2
          luma(pos - 3 * step) = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
        } else luma(pos - step) = (2 * p1 + p0 + q1 + 2) >> 2
        if (aq && strong) {
          luma(pos) = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
          luma(pos + step) = (q2 + q1 + q0 + p0 + 2) >> 2
          luma(pos + 2 * step) = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
        } else luma(pos) = (2 * q1 + q0 + p1 + 2) >> 2
      } else {
        val tc0 = Tc0T(bSv - 1)(indexA)
        val tc = tc0 + (if (ap) 1 else 0) + (if (aq) 1 else 0)
        val delta = clip3(-tc, tc, (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3)
        luma(pos - step) = clip255(p0 + delta)
        luma(pos) = clip255(q0 - delta)
        if (ap) luma(pos - 2 * step) =
          p1 + clip3(-tc0, tc0, (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1)
        if (aq) luma(pos + step) =
          q1 + clip3(-tc0, tc0, (q2 + ((q0 + p0 + 1) >> 1) - 2 * q1) >> 1)
      }
    }
    // chroma edge filter (8.7.2.4, round 14): p0/q0 only; tC = tC0+1
    def filterLineC(plane: Array[Int], pos: Int, step: Int, bSv: Int,
        indexA: Int, indexB: Int): Unit = {
      val alpha = AlphaT(indexA)
      val beta = BetaT(indexB)
      val q0 = plane(pos); val q1 = plane(pos + step)
      val p0 = plane(pos - step); val p1 = plane(pos - 2 * step)
      if (math.abs(p0 - q0) >= alpha || math.abs(p1 - p0) >= beta ||
        math.abs(q1 - q0) >= beta) return
      if (bSv == 4) {
        plane(pos - step) = (2 * p1 + p0 + q1 + 2) >> 2
        plane(pos) = (2 * q1 + q0 + p1 + 2) >> 2
      } else {
        val tc = Tc0T(bSv - 1)(indexA) + 1
        val delta = clip3(-tc, tc, (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3)
        plane(pos - step) = clip255(p0 + delta)
        plane(pos) = clip255(q0 - delta)
      }
    }
    var mb = 0
    while (mb < mbW * mbH) {
      val mbX = mb % mbW
      val mbY = mb / mbW
      val qpQ = qpMb(mb)
      // the controlling slice is the CURRENT macroblock's (8.7): idc 1
      // disables its edges entirely; idc 2 skips macroblock-boundary
      // edges whose other side lies in a different slice
      val (idcQ, offA, offB) = sliceParams(sliceOf(mb))
      var vert = 0
      while (vert < 2 && idcQ != 1) { // 0 = vertical, 1 = horizontal
        var k = 0
        while (k < 4) {
          val boundary = k == 0
          val exists = if (vert == 0) !boundary || mbX > 0
            else !boundary || mbY > 0
          val mbP = if (!boundary) mb
            else if (vert == 0) mb - 1 else mb - mbW
          // idc 2: this slice's cross-slice macroblock-boundary edges
          // are exempt (8.7)
          val skip = !exists ||
            (boundary && idcQ == 2 && sliceOf(mbP) != sliceOf(mb))
          if (!skip) {
            val qpAv = (qpMb(mbP) + qpQ + 1) >> 1
            val indexA = clip3(0, 51, qpAv + offA)
            val indexB = clip3(0, 51, qpAv + offB)
            // luma and chroma gate on their OWN alpha thresholds:
            // with a low luma QP and a large positive
            // chroma_qp_index_offset, QPc-derived chroma alpha can be
            // nonzero while luma alpha is zero (8.7.2.4), so the
            // chroma edge walk must not hide under the luma gate
            val lumaOn = AlphaT(indexA) > 0
            val chromaOn = (k & 1) == 0
            if (lumaOn || chromaOn) {
              var g = 0 // 4-sample groups along the edge
              while (g < 4) {
                val (bxQ, byQ) =
                  if (vert == 0) (mbX * 4 + k, mbY * 4 + g)
                  else (mbX * 4 + g, mbY * 4 + k)
                val (bxP, byP) =
                  if (vert == 0) (bxQ - 1, byQ) else (bxQ, byQ - 1)
                val bs = bS(mbP, mb, bxP, byP, bxQ, byQ, boundary)
                if (bs > 0) {
                  if (lumaOn) {
                    var s = 0
                    while (s < 4) {
                      val pos =
                        if (vert == 0)
                          (byQ * 4 + s) * stride + bxQ * 4
                        else byQ * 4 * stride + bxQ * 4 + s
                      filterLine(pos, if (vert == 0) 1 else stride,
                        bs, indexA, indexB)
                      s += 1
                    }
                  }
                  // chroma edges exist at every OTHER luma edge
                  // (4:2:0: k = 0, 2 -> chroma 0, 4); 2 chroma lines
                  // per 4-luma-line group; thresholds from QPc
                  if (chromaOn) {
                    val qpAvC = (qpChroma(qpMb(mbP), cqpOff) +
                      qpChroma(qpQ, cqpOff) + 1) >> 1
                    val iA = clip3(0, 51, qpAvC + offA)
                    val iB = clip3(0, 51, qpAvC + offB)
                    var comp = 0
                    while (comp < 2 && AlphaT(iA) > 0) {
                      val plane = if (comp == 0) cbPlane else crPlane
                      var sc = 0
                      while (sc < 2) {
                        val pos =
                          if (vert == 0)
                            (byQ * 2 + sc) * strideC + bxQ * 2
                          else byQ * 2 * strideC + bxQ * 2 + sc
                        filterLineC(plane, pos,
                          if (vert == 0) 1 else strideC, bs, iA, iB)
                        sc += 1
                      }
                      comp += 1
                    }
                  }
                }
                g += 1
              }
            }
          }
          k += 1
        }
        vert += 1
      }
      mb += 1
    }
  }

  // ---------------------------------------------------------------- inter

  /** Quarter-pel luma sample interpolation (8.4.2.2.1/2): 6-tap
    * (1,-5,20,20,-5,1) half-pel filter, un-rounded intermediates for
    * the center position j, bilinear (+1)>>1 averages for the quarter
    * positions (Table 8-12). Out-of-picture integer fetches clamp to
    * the edge (the spec's Clip3 on sample coordinates), so motion
    * vectors may legally point outside the frame. */
  private def qpelSample(ref: Array[Int], stride: Int, planeH: Int,
      xInt: Int, yInt: Int, fx: Int, fy: Int): Int = {
    def at(x: Int, y: Int): Int = {
      val cx = if (x < 0) 0 else if (x >= stride) stride - 1 else x
      val cy = if (y < 0) 0 else if (y >= planeH) planeH - 1 else y
      ref(cy * stride + cx)
    }
    // un-rounded horizontal half-sum between (x, y) and (x+1, y)
    def b1(x: Int, y: Int): Int =
      at(x - 2, y) - 5 * at(x - 1, y) + 20 * at(x, y) +
        20 * at(x + 1, y) - 5 * at(x + 2, y) + at(x + 3, y)
    // un-rounded vertical half-sum between (x, y) and (x, y+1)
    def h1(x: Int, y: Int): Int =
      at(x, y - 2) - 5 * at(x, y - 1) + 20 * at(x, y) +
        20 * at(x, y + 1) - 5 * at(x, y + 2) + at(x, y + 3)
    def hb(x: Int, y: Int): Int = clip255((b1(x, y) + 16) >> 5)
    def hh(x: Int, y: Int): Int = clip255((h1(x, y) + 16) >> 5)
    def jj(x: Int, y: Int): Int = {
      // 6-tap over the un-rounded vertical sums, horizontally
      val j1 = h1(x - 2, y) - 5 * h1(x - 1, y) + 20 * h1(x, y) +
        20 * h1(x + 1, y) - 5 * h1(x + 2, y) + h1(x + 3, y)
      clip255((j1 + 512) >> 10)
    }
    def avg(a: Int, b: Int): Int = (a + b + 1) >> 1
    val x = xInt; val y = yInt
    (fx, fy) match {
      case (0, 0) => at(x, y)
      case (1, 0) => avg(at(x, y), hb(x, y)) // a
      case (2, 0) => hb(x, y) // b
      case (3, 0) => avg(hb(x, y), at(x + 1, y)) // c
      case (0, 1) => avg(at(x, y), hh(x, y)) // d
      case (0, 2) => hh(x, y) // h
      case (0, 3) => avg(hh(x, y), at(x, y + 1)) // n
      case (2, 2) => jj(x, y) // j
      case (1, 1) => avg(hb(x, y), hh(x, y)) // e
      case (3, 1) => avg(hb(x, y), hh(x + 1, y)) // g
      case (1, 3) => avg(hh(x, y), hb(x, y + 1)) // p
      case (3, 3) => avg(hb(x, y + 1), hh(x + 1, y)) // r
      case (2, 1) => avg(hb(x, y), jj(x, y)) // f
      case (2, 3) => avg(jj(x, y), hb(x, y + 1)) // q
      case (1, 2) => avg(hh(x, y), jj(x, y)) // i
      case _ => avg(jj(x, y), hh(x + 1, y)) // (3, 2) k
    }
  }

  /** 16×16 forward MC: `mv*` in quarter-pel units. */
  private def interPredict16x16(ref: Array[Int], stride: Int, planeH: Int,
      ox: Int, oy: Int, mvx: Int, mvy: Int, out: Array[Int]): Unit =
    interPredictRect(ref, stride, planeH, ox, oy, 16, 16, mvx, mvy,
      out, 0, 16)

  /** Quarter-pel MC of a w×h luma partition at picture offset
    * (ox, oy), written into `out` at `outOff` with row stride
    * `outStride` (round 13: partitions generalized the 16x16-only
    * path; the arguments let every partition of one macroblock land
    * in a single 16x16 buffer). */
  private def interPredictRect(ref: Array[Int], stride: Int, planeH: Int,
      ox: Int, oy: Int, w: Int, h: Int, mvx: Int, mvy: Int,
      out: Array[Int], outOff: Int, outStride: Int): Unit = {
    val fx = mvx & 3
    val fy = mvy & 3
    val bx = ox + (mvx >> 2)
    val by = oy + (mvy >> 2)
    if (fx == 0 && fy == 0 && bx >= 0 && by >= 0 &&
      bx + w - 1 < stride && by + h - 1 < planeH) {
      // integer vector fully in-plane (the common case: zero-MV
      // copies, P_Skip, fixtures): plain row copies, no per-pixel
      // clamp or dispatch
      var y = 0
      while (y < h) {
        System.arraycopy(ref, (by + y) * stride + bx,
          out, outOff + y * outStride, w)
        y += 1
      }
      return
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(outOff + y * outStride + x) =
          qpelSample(ref, stride, planeH, bx + x, by + y, fx, fy)
        x += 1
      }
      y += 1
    }
  }

  /** Per-4x4 motion state of the CURRENT picture (round 13: partition
    * support made the old per-MB arrays too coarse). `done` marks
    * cells whose macroblock/partition has been decoded — neighbor
    * availability in 8.4.1.3 is "exists in the picture AND decoded
    * earlier", which covers earlier partitions of the SAME macroblock
    * (e.g. an 8x16 right half predicting from the left half). Intra
    * and PCM macroblocks mark their cells done but not inter. Shared
    * verbatim by the decoder and the fixture encoder so both derive
    * identical predictors. */
  private final class MvCtx(mbW: Int, mbH: Int) {
    val gw: Int = mbW * 4
    val gh: Int = mbH * 4
    val done = new Array[Boolean](gw * gh)
    val inter = new Array[Boolean](gw * gh)
    val mvx = new Array[Int](gw * gh)
    val mvy = new Array[Int](gw * gh)
    /** list-0 reference index per cell; -1 = intra/unset. */
    val ref = new Array[Int](gw * gh)
    /** DPB picture id per cell (refIdx resolved through the slice's
      * own list) — the loop filter's "same reference PICTURE" test
      * (8.7.2.1) must compare pictures, not per-slice indices. -1 =
      * intra/unset. */
    val pic = new Array[Int](gw * gh)
    def fill(x4: Int, y4: Int, w4: Int, h4: Int, isInter: Boolean,
        mx: Int, my: Int, refIdx: Int = 0, picId: Int = -1): Unit = {
      var y = y4
      while (y < y4 + h4) {
        var x = x4
        while (x < x4 + w4) {
          val k = y * gw + x
          done(k) = true; inter(k) = isInter; mvx(k) = mx; mvy(k) = my
          ref(k) = if (isInter) refIdx else -1
          pic(k) = if (isInter) picId else -1
          x += 1
        }
        y += 1
      }
    }
    /** Optional availability gate over 4x4 cell coords (round 13,
      * multi-slice: neighbors in another slice are unavailable for
      * prediction; the loop filter reads the raw arrays and is NOT
      * gated — it runs after the whole picture). */
    var gate: (Int, Int) => Boolean = null
    /** (available-and-inter, refIdx, mvx, mvy); available = in-picture
      * + decoded (+ same slice under the gate). Unavailable/intra:
      * (false, -1, 0, 0). */
    def info(x4: Int, y4: Int): (Boolean, Int, Int, Int) =
      if (!available(x4, y4)) (false, -1, 0, 0)
      else {
        val k = y4 * gw + x4
        if (inter(k)) (true, ref(k), mvx(k), mvy(k))
        else (false, -1, 0, 0)
      }
    def available(x4: Int, y4: Int): Boolean =
      x4 >= 0 && y4 >= 0 && x4 < gw && y4 < gh && done(y4 * gw + x4) &&
        (gate == null || gate(x4, y4))
    def zeroRef0(x4: Int, y4: Int): Boolean = {
      if (x4 < 0 || y4 < 0 || x4 >= gw || y4 >= gh) return false
      val k = y4 * gw + x4
      done(k) && inter(k) && ref(k) == 0 && mvx(k) == 0 && mvy(k) == 0
    }
  }

  /** Partition shapes for the 8.4.1.3 directional rules. */
  private val ShapeMedian = 0
  private val Shape16x8Top = 1
  private val Shape16x8Bot = 2
  private val Shape8x16Left = 3
  private val Shape8x16Right = 4

  /** Luma motion-vector prediction (8.4.1.3) for the partition whose
    * top-left 4x4 cell is (x4, y4) with width `w4` cells and list-0
    * reference `refIdx`: neighbors A (x4-1, y4), B (x4, y4-1),
    * C (x4+w4, y4-1) falling back to D (x4-1, y4-1), each contributing
    * mv (0,0) when unavailable or intra (available different-ref
    * neighbors contribute their actual MV to the median). 16x8/8x16
    * partitions use their directional neighbor when it carries the
    * SAME refIdx (top->B, bottom->A, left->A, right->C); everything
    * else (and directional fallback) runs the median process: the
    * only-A rule when B, C and D are all unavailable, the
    * exactly-one-neighbor-shares-refIdx shortcut, else the
    * component-wise median. */
  private def mvPredPart(ctx: MvCtx, x4: Int, y4: Int, w4: Int,
      shape: Int, refIdx: Int = 0): (Int, Int) = {
    val hasA = ctx.available(x4 - 1, y4)
    val hasB = ctx.available(x4, y4 - 1)
    val hasC0 = ctx.available(x4 + w4, y4 - 1)
    val hasD = ctx.available(x4 - 1, y4 - 1)
    val (ia, ra, ax, ay) = ctx.info(x4 - 1, y4)
    val (ib, rb, bx, by) = ctx.info(x4, y4 - 1)
    val (ic, rc, cx, cy) =
      if (hasC0) ctx.info(x4 + w4, y4 - 1) else ctx.info(x4 - 1, y4 - 1)
    val sa = ia && ra == refIdx
    val sb = ib && rb == refIdx
    val sc = ic && rc == refIdx
    shape match {
      case Shape16x8Top if sb => return (bx, by)
      case Shape16x8Bot if sa => return (ax, ay)
      case Shape8x16Left if sa => return (ax, ay)
      case Shape8x16Right if sc => return (cx, cy)
      case _ => ()
    }
    if (!hasB && !hasC0 && !hasD && hasA) // only A available: mvp = mvA
      return (ax, ay)
    val nSame = (if (sa) 1 else 0) + (if (sb) 1 else 0) + (if (sc) 1 else 0)
    if (nSame == 1) {
      if (sa) (ax, ay) else if (sb) (bx, by) else (cx, cy)
    } else {
      def med(a: Int, b: Int, c: Int): Int =
        math.max(math.min(a, b), math.min(math.max(a, b), c))
      (med(ax, bx, cx), med(ay, by, cy))
    }
  }

  /** P_Skip motion (8.4.1.1): zero when the left or top neighbor is
    * unavailable or is inter with refIdx 0 and mv (0,0); otherwise
    * the 16×16 prediction. */
  private def skipMv(ctx: MvCtx, mbX: Int, mbY: Int): (Int, Int) = {
    val x4 = mbX * 4
    val y4 = mbY * 4
    if (!ctx.available(x4 - 1, y4) || !ctx.available(x4, y4 - 1))
      return (0, 0)
    if (ctx.zeroRef0(x4 - 1, y4) || ctx.zeroRef0(x4, y4 - 1)) return (0, 0)
    mvPredPart(ctx, x4, y4, 4, ShapeMedian)
  }

  // ---------------------------------------------------------------- decode

  /** Decode the first I frame from a list of NAL units (headers
    * included, emulation-prevention still present). Returns
    * (width, height, luma row-major) or None — the 1-frame case of
    * [[decodeFramesLumaNals]] (review r12: the parameter-set walk
    * used to be duplicated here). */
  def decodeIFrameLumaNals(nals: Seq[Array[Byte]]): Option[(Int, Int, Array[Int])] =
    decodeFramesLumaNals(nals, 1).headOption.collect {
      case (w, h, l, 'I') => (w, h, l)
    }

  /** Decode the first I frame of an Annex-B elementary stream. */
  def decodeIFrameLuma(es: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeIFrameLumaNals(splitAnnexB(es))

  /** Decode up to `maxFrames` frames of an Annex-B stream in decode
    * order: (width, height, cropped luma, 'I'|'P'). P slices
    * reconstruct via list-0 MC against the DPB's reference pictures.
    * The walk stops cleanly at the first element outside the tier
    * (see the fence in the object's header), keeping the exact frames
    * decoded so far. */
  def decodeFramesLuma(es: Array[Byte],
      maxFrames: Int): Seq[(Int, Int, Array[Int], Char)] =
    decodeFramesLumaNals(splitAnnexB(es), maxFrames)

  /** NAL-list form of [[decodeFramesLuma]] (avcC / length-prefixed
    * callers). */
  def decodeFramesLumaNals(nals: Seq[Array[Byte]],
      maxFrames: Int): Seq[(Int, Int, Array[Int], Char)] =
    decodeFramesYuvNals(nals, maxFrames)
      .map { case (w, h, y, _, _, t) => (w, h, y, t) }

  /** Full 4:2:0 decode (round 14): (width, height, luma, cb, cr,
    * type) per frame in decode order — chroma planes are w/2 x h/2.
    * Same walk, same degrade discipline as the luma form. */
  def decodeFramesYuv(es: Array[Byte], maxFrames: Int): Seq[(Int, Int, Array[Int], Array[Int], Array[Int], Char)] =
    decodeFramesYuvNals(splitAnnexB(es), maxFrames)

  /** NAL-list form of [[decodeFramesYuv]]. */
  def decodeFramesYuvNals(nals: Seq[Array[Byte]],
      maxFrames: Int): Seq[(Int, Int, Array[Int], Array[Int], Array[Int], Char)] = {
    val frames = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Array[Int], Array[Int], Array[Int], Char)]
    if (maxFrames <= 0) return frames.toSeq
    try {
      val spsById = scala.collection.mutable.Map.empty[Int, Sps]
      val ppsById = scala.collection.mutable.Map.empty[Int, Pps]
      val poisoned = scala.collection.mutable.Set.empty[(Int, Int)]
      def idOf(rbsp: Array[Byte], skip: Int): Int = {
        val br = new BitReader(rbsp)
        var i = 0
        while (i < skip) { br.bits(8); i += 1 }
        br.ue()
      }
      // sliding-window DPB (round 13, multi-reference): most recent
      // reference first; capped at the SPS's max_num_ref_frames. An
      // IDR resets it (8.2.5.1); a geometry change invalidates it.
      var refList: Vector[RefPic] = Vector.empty
      var refFns: Vector[Int] = Vector.empty // frame_num per entry
      var refLongs: Vector[Int] = Vector.empty // LongTermFrameIdx;
      // -1 = short-term
      var refMbW = -1
      var refMbH = -1
      var prevRefFn = -1
      // the picture whose slices are still arriving
      var pending: PicState = null
      var pendingRefIdc = 0
      var pendingIdr = false
      // finish + emit the pending picture; false stops the walk
      def flushPending(): Boolean = {
        if (pending == null) return true
        val st = pending
        pending = null
        if (!finishPicture(st)) return false
        val sps = st.sps
        val frameNum = st.frameNum
        cropFrame(sps, st.luma) match {
          case Some((w, h, cropped)) =>
            // only REFERENCE pictures enter the DPB: a
            // nal_ref_idc == 0 frame is emitted but never
            // referenced (8.2.5; review r12). An IDR resets
            // the window; a geometry change invalidates the
            // old planes (their strides differ).
            if (pendingRefIdc != 0) {
              if (pendingIdr || refMbW != sps.mbW ||
                  refMbH != sps.mbH) {
                refList = Vector.empty
                refFns = Vector.empty
                refLongs = Vector.empty
              }
              // MMCO (round 15, full 8.2.5.4 set): ops apply in
              // decode order over the ORIGINAL window indexing the
              // slice header resolved against, before the current
              // picture enters
              var reset = false
              var curLong = -1
              if (st.mmcoOps.nonEmpty) {
                val n = refList.length
                val alive = Array.fill(n)(true)
                val lt = Array.tabulate(n)(i =>
                  if (i < refLongs.length) refLongs(i) else -1)
                st.mmcoOps.foreach {
                  case MmcoDrop(i) =>
                    if (i < n) alive(i) = false
                  case MmcoMakeLong(i, v) =>
                    if (i < n && alive(i)) { // no resurrecting a
                      // picture an earlier op already dropped
                      var j = 0 // an existing holder of v drops first
                      while (j < n) {
                        if (j != i && lt(j) == v) alive(j) = false
                        j += 1
                      }
                      lt(i) = v
                    }
                  case MmcoMaxLt(maxPlus1) =>
                    var j = 0
                    while (j < n) {
                      if (lt(j) >= 0 && lt(j) > maxPlus1 - 1)
                        alive(j) = false
                      j += 1
                    }
                  case MmcoReset =>
                    var j = 0
                    while (j < n) { alive(j) = false; j += 1 }
                    reset = true
                  case MmcoCurLong(v) =>
                    var j = 0
                    while (j < n) {
                      if (lt(j) == v) alive(j) = false
                      j += 1
                    }
                    curLong = v
                }
                val keepIdx = (0 until n).filter(alive)
                refList = keepIdx.map(refList).toVector
                refFns = keepIdx.map(refFns).toVector
                refLongs = keepIdx.map(lt).toVector
              } else if (refLongs.length != refList.length)
                refLongs = Vector.fill(refList.length)(-1)
              // mmco5 re-base (8.2.5.4.5): the current picture's
              // frame_num reads as 0 from here on
              val fnStored = if (reset) 0 else frameNum
              val cap = math.max(1, sps.maxRefFrames)
              refList = RefPic(st.luma, st.cb, st.cr) +: refList
              refFns = fnStored +: refFns
              refLongs = curLong +: refLongs
              // sliding window (8.2.5.3): only SHORT-TERM pictures
              // slide out; a window of nothing but long-terms over
              // the cap is a non-conforming stream — degrade
              while (refList.length > cap) {
                val victim = refLongs.lastIndexWhere(_ < 0)
                if (victim < 0) return false
                def rm[T](v: Vector[T]): Vector[T] =
                  v.patch(victim, Nil, 1)
                refList = rm(refList)
                refFns = rm(refFns)
                refLongs = rm(refLongs)
              }
              refMbW = sps.mbW
              refMbH = sps.mbH
              prevRefFn = fnStored
            }
            frames += ((w, h, cropped, cropFrameC(sps, st.cb),
              cropFrameC(sps, st.cr),
              if (st.allIntra) 'I' else 'P'))
            true
          case None => false
        }
      }
      nals.foreach { nal =>
        if (frames.size >= maxFrames) return frames.toSeq
        if (nal.nonEmpty && (nal(0) & 0x80) == 0) {
          val typ = nal(0) & 0x1F
          typ match {
            case 7 =>
              val rbsp = unescape(nal, 1)
              try { val s = parseSps(rbsp); spsById(s.id) = s }
              catch { case ParseFail =>
                try poisoned += ((7, idOf(rbsp, 3)))
                catch { case ParseFail => () }
              }
            case 8 =>
              val rbsp = unescape(nal, 1)
              try { val p = parsePps(rbsp); ppsById(p.id) = p }
              catch { case ParseFail =>
                try poisoned += ((8, idOf(rbsp, 0)))
                catch { case ParseFail => () }
              }
            case 5 | 1 =>
              // contain per-slice failures: earlier exact frames stay.
              // Multi-slice (round 13): a slice with first_mb 0 starts
              // a new picture — the PENDING one (if any) finishes and
              // emits first; continuation slices decode into the
              // pending state. An incomplete or failed picture is
              // dropped and the walk stops, keeping prior frames.
              val refIdc = (nal(0) >> 5) & 3
              val rbsp = unescape(nal, 1)
              val firstMb =
                try new BitReader(rbsp).ue()
                catch { case ParseFail =>
                  // a COMPLETE pending picture still emits before the
                  // walk stops (round-13 review: the old emit-per-
                  // slice walk kept it; an incomplete one is dropped
                  // by flushPending itself)
                  flushPending()
                  return frames.toSeq
                }
              if (firstMb == 0 && !flushPending()) return frames.toSeq
              if (frames.size >= maxFrames) return frames.toSeq
              val dec =
                try decodeSliceInto(rbsp, spsById.toMap,
                  ppsById.toMap, poisoned.toSet,
                  nalRefIdc = refIdc, isIdr = typ == 5,
                  refs = refList, refMbW = refMbW, refMbH = refMbH,
                  prevRefFrameNum = prevRefFn, refFrameNums = refFns,
                  refLongIdx = refLongs,
                  stateIn = if (firstMb == 0) null else pending)
                catch {
                  case ParseFail => None
                  case _: ArrayIndexOutOfBoundsException => None
                }
              dec match {
                case Some(st) =>
                  pending = st
                  pendingRefIdc = if (firstMb == 0) refIdc else pendingRefIdc
                  pendingIdr = if (firstMb == 0) typ == 5 else pendingIdr
                case None =>
                  // same rule: a complete pending picture (e.g. this
                  // was an orphan continuation of the NEXT picture)
                  // emits; an incomplete or slice-corrupted one drops
                  flushPending()
                  return frames.toSeq
              }
            case _ => () // SEI/AUD/filler: skip
          }
        }
      }
      flushPending()
      frames.toSeq
    } catch {
      case ParseFail => frames.toSeq
      case _: ArrayIndexOutOfBoundsException => frames.toSeq
    }
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Crop per 7.4.2.1.1 (CropUnit 2 for 4:2:0 frame coding). */
  private def cropFrame(sps: Sps, luma: Array[Int]): Option[(Int, Int, Array[Int])] = {
    val stride = sps.mbW * 16
    val w = stride - 2 * (sps.cropL + sps.cropR)
    val h = sps.mbH * 16 - 2 * (sps.cropT + sps.cropB)
    if (w <= 0 || h <= 0) return None
    val out =
      if (w == stride && h == sps.mbH * 16) luma
      else {
        val o = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          System.arraycopy(luma, (y + 2 * sps.cropT) * stride + 2 * sps.cropL,
            o, y * w, w)
          y += 1
        }
        o
      }
    Some((w, h, out))
  }

  /** Chroma twin of [[cropFrame]]: CropUnit is 1 chroma sample per
    * unit (7.4.2.1.1, 4:2:0 frame), so the offsets apply directly on
    * the half-resolution plane. */
  private def cropFrameC(sps: Sps, plane: Array[Int]): Array[Int] = {
    val strideC = sps.mbW * 8
    val w = strideC - (sps.cropL + sps.cropR)
    val h = sps.mbH * 8 - (sps.cropT + sps.cropB)
    if (w == strideC && h == sps.mbH * 8) plane
    else {
      val o = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        System.arraycopy(plane, (y + sps.cropT) * strideC + sps.cropL,
          o, y * w, w)
        y += 1
      }
      o
    }
  }

  /** Per-PICTURE decode state (round 13, multi-slice): every slice of
    * one coded picture decodes into the same plane and contexts, with
    * prediction availability gated to the slice being decoded (9.2.1 /
    * 8.3 / 8.4: a neighbor in another slice is unavailable); the loop
    * filter runs once per finished picture and is NOT gated (8.7 —
    * except idc 2 slices, whose macroblock-boundary edges against
    * another slice are skipped). */
  private final class PicState(val sps: Sps, val isIdr: Boolean,
      val frameNum: Int, val ppsId: Int) {
    val mbW: Int = sps.mbW
    val mbH: Int = sps.mbH
    val nMbs: Int = mbW * mbH
    val stride: Int = mbW * 16
    val luma = new Array[Int](stride * mbH * 16)
    /** 4:2:0 chroma planes (round 14: reconstructed for real). */
    val strideC: Int = mbW * 8
    val cb = new Array[Int](strideC * mbH * 8)
    val cr = new Array[Int](strideC * mbH * 8)
    val lumaNz = new NzCtx(mbW * 4, mbH * 4)
    val cbNz = new NzCtx(mbW * 2, mbH * 2)
    val crNz = new NzCtx(mbW * 2, mbH * 2)
    val mv = new MvCtx(mbW, mbH)
    val mbIntraA = new Array[Boolean](nMbs)
    val qpMbA = new Array[Int](nMbs)
    val i4mode: Array[Int] = Array.fill(mbW * 4 * mbH * 4)(-1)
    /** slice index per decoded macroblock; -1 = not yet decoded. */
    val sliceOf: Array[Int] = Array.fill(nMbs)(-1)
    /** per-slice (deblocking idc, alpha offset, beta offset). */
    val sliceParams =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var mbNext = 0
    var allIntra = true
    var curSlice = -1
    /** MMCO ops (the full 8.2.5.4 set), resolved at slice-header
      * parse time against the passed DPB and applied by the walk when
      * THIS picture enters the window. */
    var mmcoOps: List[Mmco] = Nil
    /** the picture's PPS chroma QP offset (one PPS per picture) — the
      * loop filter derives chroma thresholds from it. */
    var cqpOff = 0
    lumaNz.gate = (bx, by) => sliceOf((by >> 2) * mbW + (bx >> 2)) == curSlice
    cbNz.gate = (bx, by) => sliceOf((by >> 1) * mbW + (bx >> 1)) == curSlice
    crNz.gate = (bx, by) => sliceOf((by >> 1) * mbW + (bx >> 1)) == curSlice
    mv.gate = (x4, y4) => sliceOf((y4 >> 2) * mbW + (x4 >> 2)) == curSlice
  }

  /** Finish a fully-covered picture: run the loop filter per each
    * slice's own control values. An incompletely covered picture (a
    * slice degraded or the stream ended mid-picture) yields false —
    * never a partial frame. */
  private def finishPicture(st: PicState): Boolean = {
    if (st.mbNext != st.nMbs) return false
    st.curSlice = -2 // close the prediction gates
    if (st.sliceParams.exists(_._1 != 1))
      deblockLuma(st.luma, st.stride, st.mbW, st.mbH, st.mbIntraA,
        st.qpMbA, st.lumaNz, st.mv, st.sliceOf, st.sliceParams.toArray,
        st.cb, st.cr, st.cqpOff)
    true
  }

  /** ref_pic_list_modification (7.3.3.1 -> 8.2.4.3.1, round 14):
    * consume the op list from `br` and reorder `init` (DPB indices,
    * truncated/validated to `numActive`). Short-term ops (idc 0/1)
    * address a PicNum, idc 2 a long_term_pic_num; one naming no DPB
    * picture returns None. PicNum of a frame = FrameNumWrap
    * (8.2.4.1). */
  private def applyReorder(br: BitReader, init: IndexedSeq[Int],
      numActive: Int, dpbFrameNums: IndexedSeq[Int], curPicNum: Int,
      maxPicNum: Int, longOf: Int => Int = _ => -1
      ): Option[IndexedSeq[Int]] = {
    if (init.length < numActive) return None
    val lst = scala.collection.mutable.ArrayBuffer(init.take(numActive): _*)
    def picNumOf(dpbIdx: Int): Int = {
      val fn = dpbFrameNums(dpbIdx)
      if (fn > curPicNum) fn - maxPicNum else fn
    }
    var pred = curPicNum
    var insertPos = 0
    var idc = br.ue()
    var guard = 0
    while (idc != 3) {
      if (idc > 2) return None
      val di =
        if (idc == 2) { // long-term op (round 15): by long_term_pic_num
          val lt = br.ue()
          dpbFrameNums.indices.find(longOf(_) == lt)
            .getOrElse(return None)
        } else {
          val absDiff = br.ue() + 1
          var noWrap = if (idc == 0) pred - absDiff else pred + absDiff
          if (noWrap < 0) noWrap += maxPicNum
          else if (noWrap >= maxPicNum) noWrap -= maxPicNum
          pred = noWrap // long-term ops do NOT touch the prediction
          val picNum = if (noWrap > curPicNum) noWrap - maxPicNum
            else noWrap
          dpbFrameNums.indices.find(i =>
            longOf(i) < 0 && picNumOf(i) == picNum)
            .getOrElse(return None)
        }
      // 8.2.4.3.1 shuffle: insert at insertPos, drop the later
      // duplicate (or the overflow tail)
      lst.insert(insertPos, di)
      insertPos += 1
      val dup = lst.indexOf(di, insertPos)
      if (dup >= 0) lst.remove(dup) else lst.remove(lst.length - 1)
      guard += 1
      if (guard > 48) return None
      idc = br.ue()
    }
    Some(lst.toIndexedSeq)
  }

  /** Decode ONE slice into its picture's state. `stateIn` is null for
    * the first slice of a picture (first_mb_in_slice must be 0);
    * continuation slices must agree on geometry, IDR-ness and
    * frame_num and arrive in macroblock order (no FMO/ASO — the PPS
    * parser already refuses slice groups). Returns the (possibly
    * fresh) picture state, or None on degrade — a B slice (type 1 or
    * 6) always degrades. */
  private def decodeSliceInto(rbsp: Array[Byte], spsById: Map[Int, Sps],
      ppsById: Map[Int, Pps], poisoned: Set[(Int, Int)],
      nalRefIdc: Int, isIdr: Boolean,
      refs: IndexedSeq[RefPic], refMbW: Int = -1,
      refMbH: Int = -1,
      prevRefFrameNum: Int = -1,
      refFrameNums: IndexedSeq[Int] = IndexedSeq.empty,
      refLongIdx: IndexedSeq[Int] = IndexedSeq.empty,
      stateIn: PicState = null): Option[PicState] = {
    val br = new BitReader(rbsp)
    val startMb = br.ue() // first_mb_in_slice
    val sliceType = br.ue()
    val isP = sliceType == 0 || sliceType == 5
    if (!isP && sliceType != 2 && sliceType != 7) return None
    if (isP && isIdr) return None // an IDR slice cannot be P
    val ppsId = br.ue()
    if (poisoned((8, ppsId))) return None // referenced PPS unparseable
    val pps = ppsById.getOrElse(ppsId, return None)
    if (poisoned((7, pps.spsId))) return None
    val sps = spsById.getOrElse(pps.spsId, return None)
    if (isP && (refs.isEmpty ||
        refMbW != sps.mbW || refMbH != sps.mbH ||
        refs.exists(_.y.length != sps.mbW * 16 * sps.mbH * 16)))
      return None // no reference, or one with a DIFFERENT geometry: a
    // same-area different-shape SPS switch would MC with the wrong
    // stride (review r12) — compare dimensions, not just length
    if (isP && pps.constrainedIntra) return None // intra-in-P would
    // have to treat inter neighbors as unavailable (8.3.3): not done
    val frameNum = br.bits(sps.log2MaxFrameNum)
    // frame_num continuity (7.4.3, round 13 review): with a
    // multi-picture DPB a GAP means un-decoded reference frames the
    // sliding window knows nothing about — degrade rather than MC
    // against the wrong list. IDR pictures carry frame_num 0;
    // every later picture (reference or not) carries
    // (PrevRefFrameNum + 1) mod MaxFrameNum in a gap-free stream.
    if (stateIn == null) {
      if (isIdr) { if (frameNum != 0) return None }
      else if (prevRefFrameNum >= 0 &&
        frameNum != ((prevRefFrameNum + 1) & ((1 << sps.log2MaxFrameNum) - 1)))
        return None
    }
    val st =
      if (stateIn == null) {
        if (startMb != 0) return None // a picture starts at MB 0
        new PicState(sps, isIdr, frameNum, ppsId)
      } else {
        // 7.4.3: every slice of a picture must reference the SAME
        // PPS — a crafted stream mixing PPSes (e.g. weighted_pred on
        // in one slice, off in the next) must degrade, not emit under
        // inconsistent parameters (ADVICE r13).
        if (stateIn.ppsId != ppsId) return None
        if (stateIn.sps != sps || stateIn.isIdr != isIdr ||
          stateIn.frameNum != frameNum) return None
        if (startMb != stateIn.mbNext || startMb >= stateIn.nMbs)
          return None // in-order slices only (no FMO/ASO)
        stateIn
      }
    // long-term status per DPB index; -1 = short-term
    def longOf(i: Int): Int =
      if (i < refLongIdx.length) refLongIdx(i) else -1
    if (isIdr) br.ue() // idr_pic_id
    // picture order count syntax (7.3.3): parsed for sync only —
    // frames emit in decode order and P lists order by PicNum
    if (sps.pocType == 0) {
      br.bits(sps.log2MaxPocLsb) // pic_order_cnt_lsb
      if (pps.bottomFieldPoc) br.se() // delta_pic_order_cnt_bottom
    } else if (sps.pocType == 1 && !sps.deltaPocAlwaysZero) {
      br.se() // delta_pic_order_cnt[0]
      if (pps.bottomFieldPoc) br.se() // delta_pic_order_cnt[1]
    }
    if (pps.redundantPresent) br.ue()
    var numRefL0 = 1
    var listL0: IndexedSeq[Int] = null // indices into refs
    if (isP) {
      // list 0 = the last numRefL0 decoded reference pictures in
      // decode order (sliding window — 8.2.4.2's initial P list IS
      // most-recent-first by descending PicNum with no frame_num
      // gaps); a list longer than the pictures actually held degrades
      // rather than padding
      numRefL0 =
        if (br.bit() == 1) br.ue() + 1 // num_ref_idx_active_override
        else pps.numRefIdxL0Default
      if (numRefL0 < 1 || numRefL0 > refs.length || numRefL0 > 32)
        return None
      // 8.2.4.2.1: short-term window (most recent first = descending
      // PicNum in a gap-free stream), then long-term entries by
      // ascending LongTermFrameIdx
      listL0 = refs.indices.filter(longOf(_) < 0) ++
        refs.indices.filter(longOf(_) >= 0).sortBy(longOf)
      if (br.bit() == 1) { // ref_pic_list_modification_flag_l0
        // explicit reordering (8.2.4.3.1, long-term ops too)
        if (refFrameNums.length != refs.length) return None
        listL0 = applyReorder(br, listL0, numRefL0, refFrameNums,
          frameNum, 1 << sps.log2MaxFrameNum, longOf)
          .getOrElse(return None)
      }
    }
    // explicit weighted prediction (7.3.3.2 / 8.4.2.3.2), luma and
    // chroma. Default = identity (no table).
    var wpDenom = 0
    var wpDenomC = 0
    var wpW: Array[Int] = null
    var wpO: Array[Int] = null
    // chroma weights per component: (wCb, oCb, wCr, oCr)
    var wpC: Array[Array[Int]] = null
    if (isP && pps.weightedPred) {
      wpDenom = br.ue()
      if (wpDenom > 7) return None
      wpDenomC = br.ue() // chroma_log2_weight_denom
      if (wpDenomC > 7) return None
      wpW = Array.fill(numRefL0)(1 << wpDenom)
      wpO = new Array[Int](numRefL0)
      wpC = Array(Array.fill(numRefL0)(1 << wpDenomC),
        new Array[Int](numRefL0), Array.fill(numRefL0)(1 << wpDenomC),
        new Array[Int](numRefL0))
      var i = 0
      while (i < numRefL0) {
        if (br.bit() == 1) { // luma_weight_l0_flag
          wpW(i) = br.se()
          wpO(i) = br.se()
          if (wpW(i) < -128 || wpW(i) > 127 ||
            wpO(i) < -128 || wpO(i) > 127) throw ParseFail
        }
        if (br.bit() == 1) { // chroma_weight_l0_flag
          var c = 0
          while (c < 4) {
            wpC(c)(i) = br.se()
            if (wpC(c)(i) < -128 || wpC(c)(i) > 127) throw ParseFail
            c += 1
          }
        }
        i += 1
      }
    }
    // weight one rect in place (8.4.2.3.2 single-list), generic over
    // buffer stride and weight table
    def weightRectG(out: Array[Int], off: Int, w: Int, h: Int,
        stride: Int, ww: Int, oo: Int, denom: Int): Unit = {
      val rnd = if (denom > 0) 1 << (denom - 1) else 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val k = off + y * stride + x
          val v =
            if (denom > 0) ((out(k) * ww + rnd) >> denom) + oo
            else out(k) * ww + oo
          out(k) = clip255(v)
          x += 1
        }
        y += 1
      }
    }
    def weightRect(out: Array[Int], off: Int, w: Int, h: Int,
        refIdx: Int): Unit =
      if (wpW != null)
        weightRectG(out, off, w, h, 16, wpW(refIdx), wpO(refIdx), wpDenom)
    /** chroma weight: comp 0 = Cb, 1 = Cr; 8-stride. */
    def weightRectC(out: Array[Int], off: Int, w: Int, h: Int,
        refIdx: Int, comp: Int): Unit =
      if (wpC != null)
        weightRectG(out, off, w, h, 8, wpC(comp * 2)(refIdx),
          wpC(comp * 2 + 1)(refIdx), wpDenomC)
    if (nalRefIdc != 0) {
      if (isIdr) {
        br.bit() // no_output_of_prior_pics_flag
        // long_term_reference_flag (round 15): the IDR enters the DPB
        // as LongTermFrameIdx 0 instead of degrading
        if (br.bit() == 1) st.mmcoOps = List(MmcoCurLong(0))
      }
      else if (br.bit() == 1) {
        // adaptive_ref_pic_marking (8.2.5.4; round 15: the FULL op
        // set). Ops resolve to DPB indices HERE, against the window
        // this slice actually sees; the walk applies them in order
        // when the picture enters the DPB. Long-term entries are
        // excluded from PicNum searches (8.2.4.1 derives PicNum for
        // short-term pictures only).
        val maxPicNum = 1 << sps.log2MaxFrameNum
        if (refLongIdx.length != refs.length && refs.nonEmpty)
          return None
        def shortByPicNum(picNumX: Int): Option[Int] =
          refFrameNums.indices.find { i =>
            val fn = refFrameNums(i)
            refLongIdx(i) < 0 &&
              (if (fn > frameNum) fn - maxPicNum else fn) == picNumX
          }
        var ops = List.empty[Mmco]
        var opIdc = br.ue()
        var guard = 0
        while (opIdc != 0) {
          opIdc match {
            case 1 => // mark short-term unused
              val di = shortByPicNum(frameNum - (br.ue() + 1))
                .getOrElse(return None)
              ops ::= MmcoDrop(di)
            case 2 => // mark long-term unused (by long_term_pic_num)
              val lt = br.ue()
              val di = refLongIdx.indices
                .find(refLongIdx(_) == lt).getOrElse(return None)
              ops ::= MmcoDrop(di)
            case 3 => // short-term -> long-term at the given index
              val di = shortByPicNum(frameNum - (br.ue() + 1))
                .getOrElse(return None)
              val lt = br.ue()
              if (lt > 15) return None
              ops ::= MmcoMakeLong(di, lt)
            case 4 => // max_long_term_frame_idx_plus1
              val v = br.ue()
              if (v > 16) return None
              ops ::= MmcoMaxLt(v)
            case 5 => // mark all unused + frame_num / POC re-base
              ops ::= MmcoReset
            case 6 => // the CURRENT picture becomes long-term
              val lt = br.ue()
              if (lt > 15) return None
              ops ::= MmcoCurLong(lt)
            case _ => return None
          }
          guard += 1
          if (guard > 48) return None
          opIdc = br.ue()
        }
        st.mmcoOps = ops.reverse // decode order matters (op 4 vs 3/6)
      }
    }
    var qp = pps.picInitQp + br.se()
    if (qp < 0 || qp > 51) return None
    // in-loop deblocking (round 13): idc 1 disables this slice's
    // edges; idc 0 filters everything; idc 2 filters all but this
    // slice's cross-slice macroblock-boundary edges (honored in
    // finishPicture/deblockLuma); absent control syntax means ON
    // with zero offsets
    var deblockIdc = 0
    var offA = 0
    var offB = 0
    if (pps.deblockPresent) {
      deblockIdc = br.ue()
      if (deblockIdc > 2) return None
      if (deblockIdc != 1) {
        offA = br.se() * 2
        offB = br.se() * 2
        if (offA < -12 || offA > 12 || offB < -12 || offB > 12) return None
      }
    }
    val mbW = sps.mbW; val mbH = sps.mbH
    val stride = mbW * 16
    val luma = st.luma
    val lumaNz = st.lumaNz
    val cbNz = st.cbNz
    val crNz = st.crNz
    val nMbs = mbW * mbH
    val planeH = mbH * 16
    val mv = st.mv
    val mc16 = new Array[Int](256)
    val mcCb = new Array[Int](64) // MB chroma prediction (round 14)
    val mcCr = new Array[Int](64)
    val strideC = st.strideC
    val planeHC = mbH * 8
    val mbIntraA = st.mbIntraA
    val qpMbA = st.qpMbA
    val i4mode = st.i4mode
    val sliceIdx = st.sliceParams.length
    st.curSlice = sliceIdx
    st.sliceParams += ((deblockIdc, offA, offB))
    st.cqpOff = pps.chromaQpOff
    def i4ModeAt(bx: Int, by: Int): Int =
      if (bx < 0 || by < 0) 2
      else if (st.sliceOf((by >> 2) * mbW + (bx >> 2)) != sliceIdx) 2
      else { val m = i4mode(by * (mbW * 4) + bx); if (m < 0) 2 else m }
    // chroma residual parse (sync + nz bookkeeping only; chroma is
    // not reconstructed) — shared by the Intra_16x16 and Intra_4x4
    // branches, identical cbpChroma semantics
    def parseChroma(cbpChroma: Int, mbX: Int, mbY: Int): ChromaCoeffs = {
      val cc = new ChromaCoeffs
      if (cbpChroma > 0) {
        val (dcb, _) = residualCavlc(br, -1, 4)
        System.arraycopy(dcb, 0, cc.dcCb, 0, 4)
        val (dcr, _) = residualCavlc(br, -1, 4)
        System.arraycopy(dcr, 0, cc.dcCr, 0, 4)
        if (cbpChroma == 2) {
          var comp = 0
          while (comp < 2) {
            val ctx = if (comp == 0) cbNz else crNz
            val acArr = if (comp == 0) cc.acCb else cc.acCr
            var cblk = 0
            while (cblk < 4) {
              val (coeffs, tc) = residualCavlc(br,
                ctx.nC(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1)), 15)
              acArr(cblk) = coeffs
              ctx.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), tc)
              cblk += 1
            }
            comp += 1
          }
        } else {
          var cblk = 0
          while (cblk < 4) {
            cbNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
            crNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
            cblk += 1
          }
        }
      } else {
        var cblk = 0
        while (cblk < 4) {
          cbNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
          crNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
          cblk += 1
        }
      }
      cc
    }
    // intra chroma prediction + reconstruction for the CURRENT MB
    // (round 14); availability slice-gated like luma
    def intraChromaRecon(mb: Int, mbX: Int, mbY: Int, mode: Int,
        cc: ChromaCoeffs, qpY: Int): Boolean = {
      val hasL = mbX > 0 && st.sliceOf(mb - 1) == sliceIdx
      val hasT = mbY > 0 && st.sliceOf(mb - mbW) == sliceIdx
      val hasTL = mbX > 0 && mbY > 0 &&
        st.sliceOf(mb - mbW - 1) == sliceIdx
      val pcb = predictChroma(st.cb, st.strideC, mbX * 8, mbY * 8,
        mode, hasL, hasT, hasTL)
      val pcr = predictChroma(st.cr, st.strideC, mbX * 8, mbY * 8,
        mode, hasL, hasT, hasTL)
      if (pcb == null || pcr == null) return false
      reconChromaMb(st, mb, qpY, pps.chromaQpOff, cc, pcb, pcr)
      true
    }
    def zeroNz(mbX: Int, mbY: Int): Unit = {
      var blk = 0
      while (blk < 16) {
        lumaNz.set(mbX * 4 + blkCol(blk), mbY * 4 + blkRow(blk), 0)
        blk += 1
      }
      var cblk = 0
      while (cblk < 4) {
        cbNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
        crNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 0)
        cblk += 1
      }
    }
    def writeMc(ox: Int, oy: Int): Unit = {
      var y = 0
      while (y < 16) {
        System.arraycopy(mc16, y * 16, luma, (oy + y) * stride + ox, 16)
        y += 1
      }
    }
    // coded_block_pattern + mb_qp_delta + per-8x8-gated luma CAVLC
    // residuals dequantized onto the MB prediction in mc16. Throws
    // ParseFail upstream; returns null on an out-of-range cbp code.
    def interResiduals(mb: Int, mbX: Int, mbY: Int): ChromaCoeffs = {
      val cbpCode = br.ue()
      if (cbpCode > 47) return null
      val cbp = CbpInter(cbpCode)
      val cbpLuma = cbp & 15
      val cbpChroma = cbp >> 4
      if (cbp != 0) qp = (qp + br.se() + 52) % 52 // mb_qp_delta (7.3.5)
      qpMbA(mb) = qp
      if (cbp == 0) { zeroNz(mbX, mbY); new ChromaCoeffs }
      else {
        val d4 = new Array[Int](16)
        var blk = 0
        while (blk < 16) {
          val r = blkRow(blk); val c = blkCol(blk)
          if ((cbpLuma & (1 << (blk >> 2))) != 0) {
            val (cf, tc) =
              residualCavlc(br, lumaNz.nC(mbX * 4 + c, mbY * 4 + r), 16)
            lumaNz.set(mbX * 4 + c, mbY * 4 + r, tc)
            if (tc > 0) {
              java.util.Arrays.fill(d4, 0)
              var si = 0
              while (si < 16) {
                if (cf(si) != 0) {
                  val raster = Zig4(si)
                  d4(raster) = scaleAc(cf(si), raster, qp)
                }
                si += 1
              }
              val res = invTransform4x4(d4)
              var y = 0
              while (y < 4) {
                var x = 0
                while (x < 4) {
                  val k = (r * 4 + y) * 16 + c * 4 + x
                  mc16(k) = clip255(mc16(k) + res(y * 4 + x))
                  x += 1
                }
                y += 1
              }
            }
          } else lumaNz.set(mbX * 4 + c, mbY * 4 + r, 0)
          blk += 1
        }
        parseChroma(cbpChroma, mbX, mbY)
      }
    }
    var mb = startMb
    var ended = false // slice data exhausted (or trailing skip run)
    while (mb < nMbs && !ended) {
      if (isP) {
        // mb_skip_run precedes every coded macroblock (7.3.4);
        // skipped MBs reconstruct with the P_Skip vector (8.4.1.1)
        val run = br.ue()
        if (run < 0 || mb + run > nMbs) return None
        var s = 0
        while (s < run) {
          st.sliceOf(mb) = sliceIdx
          val (mx, my) = skipMv(mv, mb % mbW, mb / mbW)
          mv.fill((mb % mbW) * 4, (mb / mbW) * 4, 4, 4, isInter = true,
            mx, my, refIdx = 0, picId = listL0(0))
          qpMbA(mb) = qp
          interPredict16x16(refs(listL0(0)).y, stride, planeH,
            (mb % mbW) * 16, (mb / mbW) * 16, mx, my, mc16)
          weightRect(mc16, 0, 16, 16, 0)
          writeMc((mb % mbW) * 16, (mb / mbW) * 16)
          interPredictRectChroma(refs(listL0(0)).cb, strideC, planeHC,
            (mb % mbW) * 8, (mb / mbW) * 8, 8, 8, mx, my, mcCb, 0, 8)
          interPredictRectChroma(refs(listL0(0)).cr, strideC, planeHC,
            (mb % mbW) * 8, (mb / mbW) * 8, 8, 8, mx, my, mcCr, 0, 8)
          weightRectC(mcCb, 0, 8, 8, 0, 0)
          weightRectC(mcCr, 0, 8, 8, 0, 1)
          reconChromaMb(st, mb, qp, pps.chromaQpOff, new ChromaCoeffs,
            mcCb, mcCr)
          zeroNz(mb % mbW, mb / mbW)
          mb += 1
          s += 1
        }
        // a slice may end on a trailing skip run (7.3.4: slice_data
        // stops when more_rbsp_data() is false)
        if (mb >= nMbs || !br.moreRbspData()) ended = true
      }
      if (!ended) {
      st.sliceOf(mb) = sliceIdx
      val mbX = mb % mbW
      val mbY = mb / mbW
      val ox = mbX * 16
      val oy = mbY * 16
      val rawType = br.ue()
      // P slices: 0..4 = inter partition types (7.4.5: P_L0_16x16,
      // P_L0_L0_16x8, P_L0_L0_8x16, P_8x8, P_8x8ref0 — the last two
      // identical with one reference); >= 5 = intra types shifted by 5.
      val mbType =
        if (isP) { if (rawType <= 4) -1 - rawType else rawType - 5 }
        else rawType
      if (mbType <= -1 && mbType >= -5) {
        // ---- inter macroblock (round 13: all P partition shapes).
        // ref_idx_l0 is absent throughout (list length 1, te(v) with
        // cMax 0). Each partition: 8.4.1.3 prediction at its own
        // geometry -> mvd -> per-4x4 fill (later partitions of the
        // SAME macroblock see earlier ones) -> quarter-pel MC into the
        // shared 16x16 buffer. Then coded_block_pattern through the
        // Table 9-4 inter column, mb_qp_delta when cbp > 0, and
        // per-8x8-gated 4x4 CAVLC luma residuals (straight dequant,
        // no DC Hadamard) added onto the prediction; chroma parsed
        // for sync only.
        val x4 = mbX * 4
        val y4 = mbY * 4
        // ref_idx_l0, te(v) against numRefL0 (absent when 1)
        def readRefIdx(): Int =
          if (numRefL0 == 1) 0
          else if (numRefL0 == 2) 1 - br.bit()
          else br.ue()
        // one partition: predict at (cx4, cy4, w4, h4) with the given
        // directional shape and reference, read mvd, fill, MC
        def part(cx4: Int, cy4: Int, w4: Int, h4: Int, shape: Int,
            refIdx: Int): Boolean = {
          if (refIdx < 0 || refIdx >= numRefL0) return false
          val (px, py) = mvPredPart(mv, x4 + cx4, y4 + cy4, w4, shape, refIdx)
          val mx = px + br.se()
          val my = py + br.se()
          // level-bound guard: a crafted mvd must not walk the clamp
          // arbitrarily far from the plane
          if (mx < -2048 * 4 || mx > 2048 * 4 ||
            my < -2048 * 4 || my > 2048 * 4) return false
          mv.fill(x4 + cx4, y4 + cy4, w4, h4, isInter = true, mx, my,
            refIdx, picId = listL0(refIdx))
          interPredictRect(refs(listL0(refIdx)).y, stride, planeH,
            ox + cx4 * 4, oy + cy4 * 4, w4 * 4, h4 * 4, mx, my,
            mc16, cy4 * 4 * 16 + cx4 * 4, 16)
          weightRect(mc16, cy4 * 4 * 16 + cx4 * 4, w4 * 4, h4 * 4, refIdx)
          val offC = cy4 * 2 * 8 + cx4 * 2
          interPredictRectChroma(refs(listL0(refIdx)).cb, strideC,
            planeHC, (ox >> 1) + cx4 * 2, (oy >> 1) + cy4 * 2,
            w4 * 2, h4 * 2, mx, my, mcCb, offC, 8)
          interPredictRectChroma(refs(listL0(refIdx)).cr, strideC,
            planeHC, (ox >> 1) + cx4 * 2, (oy >> 1) + cy4 * 2,
            w4 * 2, h4 * 2, mx, my, mcCr, offC, 8)
          weightRectC(mcCb, offC, w4 * 2, h4 * 2, refIdx, 0)
          weightRectC(mcCr, offC, w4 * 2, h4 * 2, refIdx, 1)
          true
        }
        mbType match {
          case -1 => // P_L0_16x16
            val r0 = readRefIdx()
            if (!part(0, 0, 4, 4, ShapeMedian, r0)) return None
          case -2 => // P_L0_L0_16x8: both ref_idx, then both mvd (7.3.5.1)
            val r0 = readRefIdx()
            val r1 = readRefIdx()
            if (!part(0, 0, 4, 2, Shape16x8Top, r0)) return None
            if (!part(0, 2, 4, 2, Shape16x8Bot, r1)) return None
          case -3 => // P_L0_L0_8x16: left then right
            val r0 = readRefIdx()
            val r1 = readRefIdx()
            if (!part(0, 0, 2, 4, Shape8x16Left, r0)) return None
            if (!part(2, 0, 2, 4, Shape8x16Right, r1)) return None
          case t => // P_8x8 / P_8x8ref0: sub_mb_type[4], then ref_idx
            // per 8x8 (absent in P_8x8ref0), then mvds (7.3.5.2)
            val subT = new Array[Int](4)
            var p8 = 0
            while (p8 < 4) {
              subT(p8) = br.ue()
              if (subT(p8) > 3) return None
              p8 += 1
            }
            val r8 = new Array[Int](4)
            if (t == -4) { // P_8x8: ref_idx coded; P_8x8ref0 (-5): all 0
              p8 = 0
              while (p8 < 4) { r8(p8) = readRefIdx(); p8 += 1 }
            }
            p8 = 0
            while (p8 < 4) {
              val bx8 = (p8 & 1) * 2
              val by8 = (p8 >> 1) * 2
              val rr = r8(p8)
              val ok = subT(p8) match {
                case 0 => part(bx8, by8, 2, 2, ShapeMedian, rr) // 8x8
                case 1 => part(bx8, by8, 2, 1, ShapeMedian, rr) && // 8x4
                  part(bx8, by8 + 1, 2, 1, ShapeMedian, rr)
                case 2 => part(bx8, by8, 1, 2, ShapeMedian, rr) && // 4x8
                  part(bx8 + 1, by8, 1, 2, ShapeMedian, rr)
                case _ => part(bx8, by8, 1, 1, ShapeMedian, rr) && // 4x4
                  part(bx8 + 1, by8, 1, 1, ShapeMedian, rr) &&
                  part(bx8, by8 + 1, 1, 1, ShapeMedian, rr) &&
                  part(bx8 + 1, by8 + 1, 1, 1, ShapeMedian, rr)
              }
              if (!ok) return None
              p8 += 1
            }
        }
        val ccP = interResiduals(mb, mbX, mbY)
        if (ccP == null) return None
        writeMc(ox, oy)
        reconChromaMb(st, mb, qp, pps.chromaQpOff, ccP, mcCb, mcCr)
      } else if (mbType == 25) {
        // ---- I_PCM: raw samples (always exact)
        mbIntraA(mb) = true
        mv.fill(mbX * 4, mbY * 4, 4, 4, isInter = false, 0, 0)
        qpMbA(mb) = 0 // the loop filter treats I_PCM as QP 0 (8.7.2)
        br.byteAlign()
        // bulk aligned read (r18 perf): the samples are 384 consecutive
        // aligned bytes — one bounds check and a raw-byte row copy per
        // plane row instead of a byteAt() call per sample. Bytes, order
        // and the final bit position are identical to the per-sample
        // loop (JFR showed this loop at ~9% of the multimodal tier).
        if ((br.pos & 7) != 0 || br.pos + 384 * 8 > br.limit)
          throw ParseFail // same signal byteAt() raised on overrun
        var pcmB = br.pos >> 3
        val pcmBytes = br.bytes
        var y = 0
        while (y < 16) {
          val rowOff = (oy + y) * stride + ox
          var x = 0
          while (x < 16) {
            luma(rowOff + x) = pcmBytes(pcmB) & 0xFF; pcmB += 1; x += 1
          }
          y += 1
        }
        var comp = 0
        while (comp < 2) { // Cb then Cr, 8x8 each (4:2:0) — stored now
          val plane = if (comp == 0) st.cb else st.cr
          var cy = 0
          while (cy < 8) {
            val rowOffC = ((oy >> 1) + cy) * strideC + (ox >> 1)
            var cx = 0
            while (cx < 8) {
              plane(rowOffC + cx) = pcmBytes(pcmB) & 0xFF; pcmB += 1; cx += 1
            }
            cy += 1
          }
          comp += 1
        }
        br.pos = pcmB << 3
        var blk = 0
        while (blk < 16) {
          lumaNz.set(mbX * 4 + blkCol(blk), mbY * 4 + blkRow(blk), 16)
          blk += 1
        }
        var cblk = 0
        while (cblk < 4) {
          cbNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 16)
          crNz.set(mbX * 2 + (cblk & 1), mbY * 2 + (cblk >> 1), 16)
          cblk += 1
        }
      } else if (mbType >= 1 && mbType <= 24) {
        // ---- Intra_16x16 (table 7-11 derivation)
        val predMode = (mbType - 1) % 4
        val cbpChroma = ((mbType - 1) / 4) % 3
        val cbpLumaAc = (mbType - 1) / 12 // 0 or 1 (means all 16 blocks)
        val chromaMode = br.ue() // intra_chroma_pred_mode (round 14)
        if (chromaMode > 3) return None
        qp = (qp + br.se() + 52) % 52 // mb_qp_delta
        mbIntraA(mb) = true
        mv.fill(mbX * 4, mbY * 4, 4, 4, isInter = false, 0, 0)
        qpMbA(mb) = qp
        // luma DC: CAVLC with nC as for blkIdx 0 (9.2.1)
        val (dcCoeffs, _) =
          residualCavlc(br, lumaNz.nC(mbX * 4, mbY * 4), 16)
        // per-4x4 AC
        val acCoeffs = new Array[Array[Int]](16)
        var blk = 0
        while (blk < 16) {
          val r = blkRow(blk); val c = blkCol(blk)
          if (cbpLumaAc == 1) {
            val (coeffs, tc) = residualCavlc(br, lumaNz.nC(mbX * 4 + c, mbY * 4 + r), 15)
            acCoeffs(blk) = coeffs
            lumaNz.set(mbX * 4 + c, mbY * 4 + r, tc)
          } else {
            acCoeffs(blk) = null
            lumaNz.set(mbX * 4 + c, mbY * 4 + r, 0)
          }
          blk += 1
        }
        val ccI = parseChroma(cbpChroma, mbX, mbY)
        if (!reconI16(st, sliceIdx, mb, qp, predMode, dcCoeffs, acCoeffs))
          return None
        if (!intraChromaRecon(mb, mbX, mbY, chromaMode, ccI, qp))
          return None
      } else if (mbType == 0) {
        // ---- Intra_4x4 (I_NxN, round 13).
        // 16 prediction modes, bitstream order = z-order; prediction
        // per 8.3.1.1: min(modeA, modeB), DC (2) for unavailable or
        // non-Intra_4x4 neighbors
        val modes = new Array[Int](16)
        var blk = 0
        while (blk < 16) {
          val r = blkRow(blk); val c = blkCol(blk)
          val bx = mbX * 4 + c; val by = mbY * 4 + r
          val predMode = math.min(i4ModeAt(bx - 1, by), i4ModeAt(bx, by - 1))
          val mode =
            if (br.bit() == 1) predMode
            else { val rem = br.bits(3); if (rem < predMode) rem else rem + 1 }
          if (mode < 0 || mode > 8) return None
          modes(blk) = mode
          i4mode(by * (mbW * 4) + bx) = mode
          blk += 1
        }
        val chromaMode = br.ue() // intra_chroma_pred_mode (round 14)
        if (chromaMode > 3) return None
        val cbpCode = br.ue()
        if (cbpCode > 47) return None
        val cbp = CbpIntra(cbpCode)
        val cbpLuma = cbp & 15
        val cbpChroma = cbp >> 4
        if (cbp != 0) qp = (qp + br.se() + 52) % 52 // mb_qp_delta (7.3.5)
        mbIntraA(mb) = true
        mv.fill(mbX * 4, mbY * 4, 4, 4, isInter = false, 0, 0)
        qpMbA(mb) = qp
        // residuals: the 16 luma 4x4 blocks in z-order, gated per-8x8
        // group (7.3.5.3); blocks in an uncoded group carry zero
        // coefficients without any bits
        val coeffs = new Array[Array[Int]](16)
        blk = 0
        while (blk < 16) {
          val r = blkRow(blk); val c = blkCol(blk)
          if ((cbpLuma & (1 << (blk >> 2))) != 0) {
            val (cf, tc) =
              residualCavlc(br, lumaNz.nC(mbX * 4 + c, mbY * 4 + r), 16)
            coeffs(blk) = cf
            lumaNz.set(mbX * 4 + c, mbY * 4 + r, tc)
          } else {
            coeffs(blk) = null
            lumaNz.set(mbX * 4 + c, mbY * 4 + r, 0)
          }
          blk += 1
        }
        val ccI4 = parseChroma(cbpChroma, mbX, mbY)
        if (!reconI4(st, sliceIdx, mb, qp, modes, coeffs)) return None
        if (!intraChromaRecon(mb, mbX, mbY, chromaMode, ccI4, qp))
          return None
      } else return None // out-of-range mb_type
      mb += 1
      if (!br.moreRbspData()) ended = true
      }
    }
    st.mbNext = mb
    if (isP) st.allIntra = false
    Some(st)
  }

  /** Intra_16x16 prediction (8.3.3): mode 0 = V, 1 = H, 2 = DC,
    * 3 = Plane. Returns the 16x16 prediction (row-major) or null when
    * a required neighbor is unavailable. */
  private def predict16x16(luma: Array[Int], stride: Int, ox: Int, oy: Int,
      mode: Int, hasLeft: Boolean, hasTop: Boolean,
      hasTopLeft: Boolean): Array[Int] = {
    val pred = new Array[Int](256)
    mode match {
      case 0 => // vertical
        if (!hasTop) return null
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) { pred(y * 16 + x) = luma((oy - 1) * stride + ox + x); x += 1 }
          y += 1
        }
      case 1 => // horizontal
        if (!hasLeft) return null
        var y = 0
        while (y < 16) {
          val v = luma((oy + y) * stride + ox - 1)
          var x = 0
          while (x < 16) { pred(y * 16 + x) = v; x += 1 }
          y += 1
        }
      case 2 => // DC
        var sum = 0; var n = 0
        if (hasTop) { var x = 0; while (x < 16) { sum += luma((oy - 1) * stride + ox + x); x += 1 }; n += 16 }
        if (hasLeft) { var y = 0; while (y < 16) { sum += luma((oy + y) * stride + ox - 1); y += 1 }; n += 16 }
        val dc =
          if (n == 32) (sum + 16) >> 5
          else if (n == 16) (sum + 8) >> 4
          else 128
        java.util.Arrays.fill(pred, dc)
      case 3 => // plane
        // 8.3.3.4 also reads the corner p[-1,-1] — in a multi-slice
        // picture the above-left MB can belong to ANOTHER slice even
        // when left and top are in this one (round-13 review)
        if (!hasTop || !hasLeft || !hasTopLeft) return null
        var hAcc = 0; var vAcc = 0
        var i = 0
        while (i < 8) {
          hAcc += (i + 1) * (luma((oy - 1) * stride + ox + 8 + i) -
            luma((oy - 1) * stride + ox + 6 - i))
          vAcc += (i + 1) * (luma((oy + 8 + i) * stride + ox - 1) -
            luma((oy + 6 - i) * stride + ox - 1))
          i += 1
        }
        val a = 16 * (luma((oy + 15) * stride + ox - 1) +
          luma((oy - 1) * stride + ox + 15))
        val b = (5 * hAcc + 32) >> 6
        val c = (5 * vAcc + 32) >> 6
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            pred(y * 16 + x) = clip255((a + b * (x - 7) + c * (y - 7) + 16) >> 5)
            x += 1
          }
          y += 1
        }
      case _ => return null
    }
    pred
  }

  /** Reconstruct one Intra_16x16 macroblock (8.3.3 + 8.5.10-12) from
    * SCAN-order DC coefficients (16) and per-4x4-block scan-order AC
    * coefficients (15 each; null = uncoded block). Returns false
    * when a required prediction neighbor is unavailable. */
  private def reconI16(st: PicState, sliceIdx: Int, mb: Int, qp: Int,
      predMode: Int, dcCoeffsScan: Array[Int],
      acCoeffs: Array[Array[Int]]): Boolean = {
    val mbW = st.mbW
    val stride = st.stride
    val luma = st.luma
    val mbX = mb % mbW
    val mbY = mb / mbW
    val ox = mbX * 16
    val oy = mbY * 16
    val pred = predict16x16(luma, stride, ox, oy, predMode,
      hasLeft = mbX > 0 && st.sliceOf(mb - 1) == sliceIdx,
      hasTop = mbY > 0 && st.sliceOf(mb - mbW) == sliceIdx,
      hasTopLeft = mbX > 0 && mbY > 0 &&
        st.sliceOf(mb - mbW - 1) == sliceIdx)
    if (pred == null) return false
    val dcScan = new Array[Int](16)
    var s = 0
    while (s < 16) { dcScan(Zig4(s)) = dcCoeffsScan(s); s += 1 }
    val dcF = invHadamard4(dcScan)
    val d = new Array[Int](16)
    var blk = 0
    while (blk < 16) {
      val r = blkRow(blk); val c = blkCol(blk)
      java.util.Arrays.fill(d, 0)
      d(0) = scaleDc(dcF(r * 4 + c), qp)
      val ac = acCoeffs(blk)
      if (ac != null) {
        var si = 0
        while (si < 15) {
          if (ac(si) != 0) {
            val raster = Zig4(si + 1)
            d(raster) = scaleAc(ac(si), raster, qp)
          }
          si += 1
        }
      }
      val res = invTransform4x4(d)
      var y = 0
      while (y < 4) {
        var x = 0
        while (x < 4) {
          val px = ox + c * 4 + x
          val py = oy + r * 4 + y
          luma(py * stride + px) =
            clip255(pred((r * 4 + y) * 16 + (c * 4 + x)) + res(y * 4 + x))
          x += 1
        }
        y += 1
      }
      blk += 1
    }
    true
  }

  /** Reconstruct one Intra_4x4 macroblock (8.3.1 + 8.5.12) from the
    * 16 z-order prediction modes and per-block scan-order
    * coefficients (16 each; null = uncoded). Z-order: each block's
    * prediction reads neighbors reconstructed earlier (unfiltered,
    * 8.3.1). */
  private def reconI4(st: PicState, sliceIdx: Int, mb: Int, qp: Int,
      modes: Array[Int], coeffs: Array[Array[Int]]): Boolean = {
    val mbW = st.mbW
    val stride = st.stride
    val luma = st.luma
    val mbX = mb % mbW
    val mbY = mb / mbW
    var blk = 0
    val d4 = new Array[Int](16)
    while (blk < 16) {
      val r = blkRow(blk); val c = blkCol(blk)
      val bx = mbX * 4 + c; val by = mbY * 4 + r
      val pred = predict4x4(luma, stride, mbW, st.mbH, bx, by,
        modes(blk), mb, blk, m2 => st.sliceOf(m2) == sliceIdx)
      if (pred == null) return false
      java.util.Arrays.fill(d4, 0)
      val cf = coeffs(blk)
      if (cf != null) {
        var si = 0
        while (si < 16) {
          if (cf(si) != 0) {
            val raster = Zig4(si)
            d4(raster) = scaleAc(cf(si), raster, qp)
          }
          si += 1
        }
      }
      val res = invTransform4x4(d4)
      var y = 0
      while (y < 4) {
        var x = 0
        while (x < 4) {
          luma((by * 4 + y) * stride + bx * 4 + x) =
            clip255(pred(y * 4 + x) + res(y * 4 + x))
          x += 1
        }
        y += 1
      }
      blk += 1
    }
    true
  }

  /** Intra chroma prediction (8.3.4, round 14): one 8x8 component at
    * (oxC, oyC) on its half-resolution plane. Mode 0 = DC (per-4x4
    * sub-block edge rules, 8.3.4.1), 1 = Horizontal, 2 = Vertical,
    * 3 = Plane (8.3.4.4). Returns 64 row-major samples or null when
    * a required neighbor is unavailable. */
  private def predictChroma(plane: Array[Int], strideC: Int, oxC: Int,
      oyC: Int, mode: Int, hasLeft: Boolean, hasTop: Boolean,
      hasTopLeft: Boolean): Array[Int] = {
    val pred = new Array[Int](64)
    def sumTop(x0: Int): Int = {
      var s = 0; var i = 0
      while (i < 4) { s += plane((oyC - 1) * strideC + oxC + x0 + i); i += 1 }
      s
    }
    def sumLeft(y0: Int): Int = {
      var s = 0; var i = 0
      while (i < 4) { s += plane((oyC + y0 + i) * strideC + oxC - 1); i += 1 }
      s
    }
    mode match {
      case 0 => // DC, per 4x4 sub-block
        def fill(bx: Int, by: Int, dc: Int): Unit = {
          var y = 0
          while (y < 4) {
            var x = 0
            while (x < 4) { pred((by * 4 + y) * 8 + bx * 4 + x) = dc; x += 1 }
            y += 1
          }
        }
        def corner(x0: Int, y0: Int): Int = // blocks (0,0) and (1,1)
          if (hasTop && hasLeft) (sumTop(x0) + sumLeft(y0) + 4) >> 3
          else if (hasTop) (sumTop(x0) + 2) >> 2
          else if (hasLeft) (sumLeft(y0) + 2) >> 2
          else 128
        fill(0, 0, corner(0, 0))
        fill(1, 1, corner(4, 4))
        fill(1, 0, // top-right: prefer TOP
          if (hasTop) (sumTop(4) + 2) >> 2
          else if (hasLeft) (sumLeft(0) + 2) >> 2
          else 128)
        fill(0, 1, // bottom-left: prefer LEFT
          if (hasLeft) (sumLeft(4) + 2) >> 2
          else if (hasTop) (sumTop(0) + 2) >> 2
          else 128)
      case 1 => // horizontal
        if (!hasLeft) return null
        var y = 0
        while (y < 8) {
          val v = plane((oyC + y) * strideC + oxC - 1)
          var x = 0
          while (x < 8) { pred(y * 8 + x) = v; x += 1 }
          y += 1
        }
      case 2 => // vertical
        if (!hasTop) return null
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            pred(y * 8 + x) = plane((oyC - 1) * strideC + oxC + x)
            x += 1
          }
          y += 1
        }
      case 3 => // plane (8.3.4.4, 4:2:0)
        if (!hasTop || !hasLeft || !hasTopLeft) return null
        var hAcc = 0; var vAcc = 0
        var i = 0
        while (i < 3) {
          hAcc += (i + 1) * (plane((oyC - 1) * strideC + oxC + 4 + i) -
            plane((oyC - 1) * strideC + oxC + 2 - i))
          vAcc += (i + 1) * (plane((oyC + 4 + i) * strideC + oxC - 1) -
            plane((oyC + 2 - i) * strideC + oxC - 1))
          i += 1
        }
        hAcc += 4 * (plane((oyC - 1) * strideC + oxC + 7) -
          plane((oyC - 1) * strideC + oxC - 1))
        vAcc += 4 * (plane((oyC + 7) * strideC + oxC - 1) -
          plane((oyC - 1) * strideC + oxC - 1))
        val a = 16 * (plane((oyC + 7) * strideC + oxC - 1) +
          plane((oyC - 1) * strideC + oxC + 7))
        val b = (34 * hAcc + 32) >> 6
        val c = (34 * vAcc + 32) >> 6
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            pred(y * 8 + x) = clip255((a + b * (x - 3) + c * (y - 3) + 16) >> 5)
            x += 1
          }
          y += 1
        }
      case _ => return null
    }
    pred
  }

  /** Chroma residual coefficients of ONE macroblock, both components:
    * 2x2 DC (scan order) + per-4x4-block AC (15 scan coeffs, null =
    * uncoded). */
  private final class ChromaCoeffs {
    val dcCb = new Array[Int](4)
    val dcCr = new Array[Int](4)
    val acCb = new Array[Array[Int]](4)
    val acCr = new Array[Array[Int]](4)
  }

  /** Reconstruct one macroblock's chroma (8.5.11 2x2 DC transform +
    * AC dequant at QPc) onto the 8x8 PREDICTION buffers already in
    * `predCb`/`predCr` (row-major 8-stride), writing the planes. */
  private def reconChromaMb(st: PicState, mb: Int, qpY: Int,
      chromaQpOff: Int, cc: ChromaCoeffs,
      predCb: Array[Int], predCr: Array[Int]): Unit = {
    val mbW = st.mbW
    val strideC = st.strideC
    val oxC = (mb % mbW) * 8
    val oyC = (mb / mbW) * 8
    val qpc = qpChroma(qpY, chromaQpOff)
    var comp = 0
    while (comp < 2) {
      val plane = if (comp == 0) st.cb else st.cr
      val pred = if (comp == 0) predCb else predCr
      val dc = if (comp == 0) cc.dcCb else cc.dcCr
      val ac = if (comp == 0) cc.acCb else cc.acCr
      // 2x2 DC transform + scaling (8.5.11)
      val f0 = dc(0) + dc(1) + dc(2) + dc(3)
      val f1 = dc(0) - dc(1) + dc(2) - dc(3)
      val f2 = dc(0) + dc(1) - dc(2) - dc(3)
      val f3 = dc(0) - dc(1) - dc(2) + dc(3)
      val ls = 16 * NormAdjust(qpc % 6)(0)
      def dcScaleC(f: Int): Int = ((f * ls) << (qpc / 6)) >> 5
      val dcC = Array(dcScaleC(f0), dcScaleC(f1), dcScaleC(f2), dcScaleC(f3))
      val d = new Array[Int](16)
      var blk = 0
      while (blk < 4) {
        val bx = blk & 1
        val by = blk >> 1
        java.util.Arrays.fill(d, 0)
        d(0) = dcC(blk)
        val a = ac(blk)
        if (a != null) {
          var si = 0
          while (si < 15) {
            if (a(si) != 0) {
              val raster = Zig4(si + 1)
              d(raster) = scaleAc(a(si), raster, qpc)
            }
            si += 1
          }
        }
        val res = invTransform4x4(d)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val px = oxC + bx * 4 + x
            val py = oyC + by * 4 + y
            plane(py * strideC + px) =
              clip255(pred((by * 4 + y) * 8 + bx * 4 + x) + res(y * 4 + x))
            x += 1
          }
          y += 1
        }
        blk += 1
      }
      comp += 1
    }
  }

  /** Eighth-pel bilinear chroma MC (8.4.2.2.2): a wC x hC rect of the
    * half-resolution reference at chroma offset (oxC, oyC), luma
    * quarter-pel vector (mvx, mvy). */
  private def interPredictRectChroma(ref: Array[Int], strideC: Int,
      planeHC: Int, oxC: Int, oyC: Int, wC: Int, hC: Int, mvx: Int,
      mvy: Int, out: Array[Int], outOff: Int, outStride: Int): Unit = {
    val xF = mvx & 7
    val yF = mvy & 7
    val bx = oxC + (mvx >> 3)
    val by = oyC + (mvy >> 3)
    def s(x: Int, y: Int): Int = {
      val cx = if (x < 0) 0 else if (x >= strideC) strideC - 1 else x
      val cy = if (y < 0) 0 else if (y >= planeHC) planeHC - 1 else y
      ref(cy * strideC + cx)
    }
    var y = 0
    while (y < hC) {
      var x = 0
      while (x < wC) {
        val a = s(bx + x, by + y)
        val b = s(bx + x + 1, by + y)
        val c = s(bx + x, by + y + 1)
        val dd = s(bx + x + 1, by + y + 1)
        out(outOff + y * outStride + x) =
          ((8 - xF) * (8 - yF) * a + xF * (8 - yF) * b +
            (8 - xF) * yF * c + xF * yF * dd + 32) >> 6
        x += 1
      }
      y += 1
    }
  }

  // ---------------------------------------------------------------- encode

  /** Macroblock spec for [[encodeIFrame]]. */
  sealed trait Mb
  /** I_PCM: raw 16x16 luma, `pix(x, y)` in 0..255; chroma from
    * `cbPix`/`crPix` (8x8 each; default neutral 128 — round 14:
    * stored for real now that chroma reconstructs). */
  final case class Pcm(pix: (Int, Int) => Int,
      cbPix: (Int, Int) => Int = (_, _) => 128,
      crPix: (Int, Int) => Int = (_, _) => 128) extends Mb
  /** Intra_16x16 with a single luma-DC coefficient `z` (|z| <= 7) and
    * optionally one trailing-one AC coefficient (`ac0` in -1..1, scan
    * position 0 of luma block 0; turns on cbp_luma = 15, i.e. all 16
    * AC blocks are coded). `pred` is the Intra16x16PredMode (8.3.3):
    * 0 = V, 1 = H, 2 = DC (default; the only mode legal without
    * neighbors), 3 = Plane — the caller must place non-DC modes where
    * the needed neighbors exist, or the decoder refuses the stream.
    * `chromaDcTz` >= 0 turns on cbp_chroma = 1 and writes one
    * trailing-one chroma-DC coefficient per component at total_zeros
    * = chromaDcTz (0..3) — luma output is unaffected (chroma is
    * parse-only), but the stream exercises the 2x2 chroma-DC
    * coeff_token + total_zeros tables end-to-end. */
  final case class I16Dc(z: Int, ac0: Int = 0, pred: Int = 2,
      chromaDcTz: Int = -1, chromaPred: Int = 0) extends Mb

  /** One Intra_4x4 macroblock (round 13 fixture vocabulary):
    * `mode(blkIdx)` gives each 4x4 block's prediction mode 0..8
    * (z-order index), `dcRes(blkIdx)` an optional single DC residual
    * coefficient (0 = none; at qp 28 a coefficient c adds exactly 4c
    * to all 16 pixels — 256c dequant, (256c+32)>>6 per sample). The
    * encoder enforces the same availability rules the decoder
    * checks. */
  final case class I4x4(mode: Int => Int,
      dcRes: Int => Int = _ => 0) extends Mb

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
    def putUe(k: Int): Unit = {
      require(k >= 0)
      val v = k + 1
      val bits = 32 - Integer.numberOfLeadingZeros(v)
      put(0, bits - 1)
      put(v, bits)
    }
    def putSe(k: Int): Unit = putUe(if (k > 0) 2 * k - 1 else -2 * k)
    def alignZero(): Unit = while (nb != 0) put(0, 1)
    def putByte(b: Int): Unit = { require(nb == 0); buf += b.toByte }
    def rbspTrailing(): Unit = { put(1, 1); alignZero() }
    def result(): Array[Byte] = { require(nb == 0, "unaligned"); buf.toArray }
  }

  /** Emulation-prevention insertion (7.4.1.1). */
  private def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](rbsp.length + 8)
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xFC) == 0) { out += 3; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  private def nalUnit(header: Int, rbsp: Array[Byte]): Array[Byte] =
    header.toByte +: escapeRbsp(rbsp)

  /** SPS NAL (baseline profile 66, level 1.0, poc type 0,
    * frame_mbs_only; log2 sizes 4 for frame_num and the POC lsb). */
  def spsNal(mbW: Int, mbH: Int, maxRef: Int = 1): Array[Byte] = {
    val bw = new BitWriter
    bw.put(66, 8) // profile_idc (Baseline)
    bw.put(0, 8) // constraint flags
    bw.put(10, 8) // level 1.0
    bw.putUe(0) // sps_id
    bw.putUe(0) // log2_max_frame_num_minus4
    bw.putUe(0) // pic_order_cnt_type 0
    bw.putUe(0) // log2_max_pic_order_cnt_lsb_minus4
    bw.putUe(maxRef) // max_num_ref_frames
    bw.put(0, 1) // gaps_in_frame_num
    bw.putUe(mbW - 1)
    bw.putUe(mbH - 1)
    bw.put(1, 1) // frame_mbs_only
    bw.put(1, 1) // direct_8x8_inference
    bw.put(0, 1) // frame_cropping
    bw.put(0, 1) // vui
    bw.rbspTrailing()
    nalUnit(0x67, bw.result())
  }

  /** PPS NAL (CAVLC, single slice group, deblocking control present —
    * the encoder's slices disable the loop filter). `id` lets tests
    * exercise the by-id parameter-set selection (slices reference
    * pps_id 0). */
  def ppsNal(qp: Int, id: Int = 0, weighted: Boolean = false): Array[Byte] = {
    val bw = new BitWriter
    bw.putUe(id) // pps_id
    bw.putUe(0) // sps_id
    bw.put(0, 1) // entropy_coding_mode_flag (CAVLC)
    bw.put(0, 1) // bottom_field_pic_order
    bw.putUe(0) // num_slice_groups_minus1
    bw.putUe(0); bw.putUe(0) // num_ref_idx defaults
    bw.put(if (weighted) 1 else 0, 1) // weighted_pred
    bw.put(0, 2) // weighted_bipred_idc
    bw.putSe(qp - 26) // pic_init_qp_minus26
    bw.putSe(0) // pic_init_qs
    bw.putSe(0) // chroma_qp_index_offset
    bw.put(1, 1) // deblocking_filter_control_present
    bw.put(0, 1) // constrained_intra_pred
    bw.put(0, 1) // redundant_pic_cnt_present
    bw.rbspTrailing()
    nalUnit(0x68, bw.result())
  }

  /** IDR slice NAL: single I slice covering all mbW*mbH macroblocks,
    * loop filter disabled. Each MB comes from `mb(index)` (raster
    * order). Emits ONLY the VLC codes the decoder's tables list, so
    * encode->decode round-trips by construction; an [[I16Dc]] whose
    * neighbor state would need an unlisted coeff_token table throws
    * IllegalArgumentException at encode time (fixture contract, not a
    * runtime degrade). */
  def idrNal(mbW: Int, mbH: Int, mb: Int => Mb, qp: Int,
      deblock: Boolean = false, firstMb: Int = 0, mbCount: Int = -1,
      idcOverride: Int = -1, longTermRef: Boolean = false): Array[Byte] = {
    require(qp >= 0 && qp <= 51, s"qp out of range: $qp")
    // round 13 multi-slice fixtures: emit ONE slice covering
    // [firstMb, firstMb+count); default = the whole picture. The
    // encoder's own neighbor contexts are slice-gated exactly like
    // the decoder's, so nC and mode prediction agree at boundaries.
    val count = if (mbCount < 0) mbW * mbH - firstMb else mbCount
    require(firstMb >= 0 && count >= 1 && firstMb + count <= mbW * mbH,
      s"slice range out of picture: $firstMb+$count")
    val bw = new BitWriter
    bw.putUe(firstMb) // first_mb_in_slice
    bw.putUe(7) // slice_type: I (all)
    bw.putUe(0) // pps_id
    bw.put(0, 4) // frame_num (log2 = 4)
    bw.putUe(0) // idr_pic_id
    bw.put(0, 4) // pic_order_cnt_lsb (log2 = 4)
    bw.put(0, 1) // no_output_of_prior_pics
    bw.put(if (longTermRef) 1 else 0, 1) // long_term_reference_flag
    bw.putSe(0) // slice_qp_delta (QP = pic_init_qp)
    val idc = if (idcOverride >= 0) idcOverride else if (deblock) 0 else 1
    bw.putUe(idc) // disable_deblocking_filter_idc
    if (idc != 1) {
      bw.putSe(0) // slice_alpha_c0_offset_div2
      bw.putSe(0) // slice_beta_offset_div2
    }
    val lumaNz = new NzCtx(mbW * 4, mbH * 4)
    lumaNz.gate = (bx, by) => {
      val m = (by >> 2) * mbW + (bx >> 2)
      m >= firstMb && m < firstMb + count
    }
    val i4grid = Array.fill(mbW * 4 * mbH * 4)(-1)
    def i4At(bx: Int, by: Int): Int =
      if (bx < 0 || by < 0) 2
      else {
        val m = (by >> 2) * mbW + (bx >> 2)
        if (m < firstMb || m >= firstMb + count) 2
        else { val mo = i4grid(by * (mbW * 4) + bx); if (mo < 0) 2 else mo }
      }
    var i = firstMb
    while (i < firstMb + count) {
      val mbX = i % mbW
      val mbY = i / mbW
      mb(i) match {
        case Pcm(pix, cbPix, crPix) =>
          bw.putUe(25)
          bw.alignZero()
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) {
              val v = pix(x, y)
              require(v >= 0 && v <= 255, s"pcm pixel out of range: $v")
              bw.putByte(v)
              x += 1
            }
            y += 1
          }
          Seq(cbPix, crPix).foreach { cp =>
            var cy = 0
            while (cy < 8) {
              var cx = 0
              while (cx < 8) {
                val v = cp(cx, cy)
                require(v >= 0 && v <= 255, s"pcm chroma out of range: $v")
                bw.putByte(v)
                cx += 1
              }
              cy += 1
            }
          }
          var blk = 0
          while (blk < 16) {
            lumaNz.set(mbX * 4 + blkCol(blk), mbY * 4 + blkRow(blk), 16)
            blk += 1
          }
        case spec: I16Dc =>
          writeI16Dc(bw, lumaNz, mbX, mbY, spec, typeOffset = 0)
        case I4x4(modeOf, dcOf) =>
          bw.putUe(0) // mb_type I_NxN
          var blk = 0
          while (blk < 16) {
            val r = blkRow(blk); val c = blkCol(blk)
            val bx = mbX * 4 + c; val by = mbY * 4 + r
            val m = modeOf(blk)
            require(m >= 0 && m <= 8, s"i4x4 mode out of range: $m")
            val predMode = math.min(i4At(bx - 1, by), i4At(bx, by - 1))
            if (m == predMode) bw.put(1, 1)
            else {
              bw.put(0, 1)
              bw.put(if (m < predMode) m else m - 1, 3)
            }
            i4grid(by * (mbW * 4) + bx) = m
            blk += 1
          }
          bw.putUe(0) // intra_chroma_pred_mode DC
          val cbpLuma = (0 until 4).map { g =>
            if ((0 until 4).exists(b => dcOf(g * 4 + b) != 0)) 1 << g else 0
          }.sum
          bw.putUe(CbpIntraInv(cbpLuma)) // cbp (chroma 0)
          if (cbpLuma != 0) bw.putSe(0) // mb_qp_delta
          blk = 0
          while (blk < 16) {
            val r = blkRow(blk); val c = blkCol(blk)
            if ((cbpLuma & (1 << (blk >> 2))) != 0) {
              val lvl = dcOf(blk)
              putCavlcSingle(bw, lumaNz.nC(mbX * 4 + c, mbY * 4 + r),
                lvl, maxNumCoeff = 16)
              lumaNz.set(mbX * 4 + c, mbY * 4 + r, if (lvl != 0) 1 else 0)
            } else lumaNz.set(mbX * 4 + c, mbY * 4 + r, 0)
            blk += 1
          }
      }
      i += 1
    }
    bw.rbspTrailing()
    nalUnit(0x65, bw.result())
  }

  /** One Intra_16x16 macroblock (shared by the IDR and P-slice
    * encoders; `typeOffset` = 5 inside P slices, 7.4.5). */
  private def writeI16Dc(bw: BitWriter, lumaNz: NzCtx, mbX: Int, mbY: Int,
      spec: I16Dc, typeOffset: Int): Unit = {
    val I16Dc(z, ac0, pred, chromaDcTz, chromaPred) = spec
    require(z >= -7 && z <= 7, s"dc level out of range: $z")
    require(ac0 >= -1 && ac0 <= 1, s"ac0 out of range: $ac0")
    require(pred >= 0 && pred <= 3, s"pred mode out of range: $pred")
    require(chromaDcTz >= -1 && chromaDcTz <= 3,
      s"chromaDcTz out of range: $chromaDcTz")
    require(chromaPred >= 0 && chromaPred <= 3,
      s"chroma pred mode out of range: $chromaPred")
    val cbpAc = if (ac0 != 0) 1 else 0
    val cbpCh = if (chromaDcTz >= 0) 1 else 0
    bw.putUe(typeOffset + 1 + pred + cbpCh * 4 + cbpAc * 12) // I_16x16
    bw.putUe(chromaPred) // intra_chroma_pred_mode
    bw.putSe(0) // mb_qp_delta
    // luma DC block
    putCavlcSingle(bw, lumaNz.nC(mbX * 4, mbY * 4), z, maxNumCoeff = 16)
    // AC blocks (all 16 when cbpAc): block 0 carries ac0, rest empty
    if (cbpAc == 1) {
      var blk = 0
      while (blk < 16) {
        val r = blkRow(blk); val c = blkCol(blk)
        val lvl = if (blk == 0) ac0 else 0
        putCavlcSingle(bw, lumaNz.nC(mbX * 4 + c, mbY * 4 + r), lvl,
          maxNumCoeff = 15)
        lumaNz.set(mbX * 4 + c, mbY * 4 + r, if (lvl != 0) 1 else 0)
        blk += 1
      }
    } else {
      var blk = 0
      while (blk < 16) {
        lumaNz.set(mbX * 4 + blkCol(blk), mbY * 4 + blkRow(blk), 0)
        blk += 1
      }
    }
    if (cbpCh == 1) {
      // one trailing-one (+1) chroma-DC coefficient per component
      // at total_zeros = chromaDcTz: coeff_token (1,1) = '1' in
      // the nC=-1 table, sign 0, then table 9-9(a) tc=1
      var comp = 0
      while (comp < 2) {
        bw.put(1, 1) // coeff_token (1,1)
        bw.put(0, 1) // sign: +1
        chromaDcTz match {
          case 0 => bw.put(1, 1) // '1'
          case 1 => bw.put(1, 2) // '01'
          case 2 => bw.put(1, 3) // '001'
          case 3 => bw.put(0, 3) // '000'
        }
        comp += 1
      }
    }
  }

  /** Macroblock spec for [[pNal]] P slices. Vectors in QUARTER-pel
    * units. */
  sealed trait MbP
  /** P_Skip: the decoder derives the vector (8.4.1.1) — co-located
    * copy when a left/top neighbor is missing or stationary,
    * otherwise the median prediction. */
  case object PSkip extends MbP
  /** P_L0_16x16 with no residual (cbp 0): pure MC at `(mvx, mvy)`
    * from list-0 reference `refIdx` (round 13: multi-reference). */
  final case class PMove(mvx: Int, mvy: Int, refIdx: Int = 0) extends MbP
  /** P_L0_16x16 WITH a luma residual (round 13): MC at `(mvx, mvy)`
    * plus one DC coefficient per 4x4 block from `dcRes(blkIdx)`
    * (z-order; 0 = none — at qp 28 a coefficient c adds exactly 4c to
    * the block's 16 predicted samples). */
  final case class PMoveCoded(mvx: Int, mvy: Int,
      dcRes: Int => Int) extends MbP
  /** P_L0_L0_16x8 (round 13): top and bottom 16x8 partitions, each
    * with its own quarter-pel MV. */
  final case class P16x8(top: (Int, Int), bot: (Int, Int)) extends MbP
  /** P_L0_L0_8x16 (round 13): left and right 8x16 partitions. */
  final case class P8x16(left: (Int, Int), right: (Int, Int)) extends MbP
  /** P_8x8 (round 13) with every sub_mb_type = 8x8: four MVs in
    * raster 8x8 order. */
  final case class P8x8(subs: Seq[(Int, Int)]) extends MbP
  /** Intra_16x16 refresh inside the P slice. */
  final case class PIntra(spec: I16Dc) extends MbP

  /** Non-IDR P slice NAL: single slice, every macroblock from
    * `mb(index)`, one reference (the previously decoded picture),
    * loop filter disabled. Motion differentials are computed against
    * the same 8.4.1.3 predictor the decoder derives. */
  def pNal(mbW: Int, mbH: Int, mb: Int => MbP, qp: Int,
      frameNum: Int = 1, refIdc: Int = 2, numRef: Int = 1,
      weight: Option[(Int, Int, Int)] = None,
      reorder: Seq[(Int, Int)] = Nil,
      mmcoDrop: Seq[Int] = Nil,
      mmcoOps: Seq[Seq[Int]] = Nil): Array[Byte] = {
    require(qp >= 0 && qp <= 51, s"qp out of range: $qp")
    require(refIdc >= 0 && refIdc <= 3, s"refIdc out of range: $refIdc")
    require(numRef >= 1 && numRef <= 16, s"numRef out of range: $numRef")
    require(mmcoDrop.isEmpty || refIdc != 0,
      "MMCO lives in dec_ref_pic_marking: reference slices only")
    val bw = new BitWriter
    bw.putUe(0) // first_mb_in_slice
    bw.putUe(5) // slice_type: P (all)
    bw.putUe(0) // pps_id
    bw.put(frameNum & 15, 4) // frame_num (log2 = 4)
    bw.put((frameNum * 2) & 15, 4) // pic_order_cnt_lsb (log2 = 4)
    if (numRef == 1)
      bw.put(0, 1) // num_ref_idx_active_override (PPS default = 1 ref)
    else {
      bw.put(1, 1) // override: numRef references active
      bw.putUe(numRef - 1)
    }
    // explicit list-0 reordering (round 14): (idc 0/1,
    // abs_diff_pic_num_minus1) ops; after them refIdx means a slot in
    // the REORDERED list — the MbP vocabulary is unchanged
    if (reorder.isEmpty) bw.put(0, 1)
    else {
      bw.put(1, 1) // ref_pic_list_modification_flag_l0
      reorder.foreach { case (idc, v) =>
        // idc 0/1: abs_diff_pic_num_minus1; idc 2 (round 15):
        // long_term_pic_num
        require(idc >= 0 && idc <= 2, s"reorder idc $idc")
        bw.putUe(idc)
        bw.putUe(v)
      }
      bw.putUe(3) // end
    }
    // explicit weighted prediction (only against a weighted PPS):
    // (log2 denom, luma weight, luma offset) applied to refIdx 0,
    // defaults for any further references
    weight.foreach { case (denom, w0, o0) =>
      bw.putUe(denom) // luma_log2_weight_denom
      bw.putUe(0) // chroma_log2_weight_denom
      bw.put(1, 1) // luma_weight_l0_flag[0]
      bw.putSe(w0)
      bw.putSe(o0)
      bw.put(0, 1) // chroma_weight_l0_flag[0]
      var i = 1
      while (i < numRef) {
        bw.put(0, 1); bw.put(0, 1) // default weights for ref i
        i += 1
      }
    }
    if (refIdc != 0) {
      val rawOps = mmcoOps ++ mmcoDrop.map(d => Seq(1, d))
      if (rawOps.isEmpty) bw.put(0, 1) // adaptive marking off
      else {
        bw.put(1, 1) // adaptive_ref_pic_marking_mode_flag
        // raw op encoding (round 15): Seq(op, operands...) — op 1/3
        // carry difference_of_pic_nums_minus1 (+ idx for 3), op 2
        // long_term_pic_num, op 4 max+1, op 5 none, op 6 idx
        rawOps.foreach { op =>
          require(op.nonEmpty && op.head >= 1 && op.head <= 6,
            s"mmco op ${op.headOption}")
          op.foreach(bw.putUe)
        }
        bw.putUe(0) // end
      }
    }
    bw.putSe(0) // slice_qp_delta
    bw.putUe(1) // disable_deblocking_filter_idc = 1
    val lumaNz = new NzCtx(mbW * 4, mbH * 4)
    val nMbs = mbW * mbH
    val mvc = new MvCtx(mbW, mbH)
    var skipRun = 0
    var i = 0
    while (i < nMbs) {
      val mbX = i % mbW
      val mbY = i / mbW
      val x4 = mbX * 4
      val y4 = mbY * 4
      def zeroLumaNz(): Unit = {
        var blk = 0
        while (blk < 16) {
          lumaNz.set(mbX * 4 + blkCol(blk), mbY * 4 + blkRow(blk), 0)
          blk += 1
        }
      }
      // one encoded partition: derive the same 8.4.1.3 predictor the
      // decoder will, emit the differential, record the cells
      def putPart(cx4: Int, cy4: Int, w4: Int, h4: Int, shape: Int,
          mvx: Int, mvy: Int, refIdx: Int = 0): Unit = {
        val (px, py) = mvPredPart(mvc, x4 + cx4, y4 + cy4, w4, shape, refIdx)
        bw.putSe(mvx - px)
        bw.putSe(mvy - py)
        mvc.fill(x4 + cx4, y4 + cy4, w4, h4, isInter = true, mvx, mvy, refIdx)
      }
      // ref_idx_l0, te(v) against numRef (absent when 1)
      def putRefIdx(r: Int): Unit = {
        require(r >= 0 && r < numRef, s"refIdx $r out of numRef $numRef")
        if (numRef == 2) bw.put(1 - r, 1)
        else if (numRef > 2) bw.putUe(r)
      }
      mb(i) match {
        case PSkip =>
          val (mx, my) = skipMv(mvc, mbX, mbY)
          mvc.fill(x4, y4, 4, 4, isInter = true, mx, my)
          zeroLumaNz()
          skipRun += 1
        case PMove(mvx, mvy, refIdx) =>
          bw.putUe(skipRun); skipRun = 0 // mb_skip_run
          bw.putUe(0) // mb_type P_L0_16x16
          putRefIdx(refIdx)
          putPart(0, 0, 4, 4, ShapeMedian, mvx, mvy, refIdx)
          bw.putUe(0) // coded_block_pattern: cbp 0
          zeroLumaNz()
        case PMoveCoded(mvx, mvy, dcOf) =>
          bw.putUe(skipRun); skipRun = 0 // mb_skip_run
          bw.putUe(0) // mb_type P_L0_16x16
          putRefIdx(0)
          putPart(0, 0, 4, 4, ShapeMedian, mvx, mvy)
          val cbpLuma = (0 until 4).map { g =>
            if ((0 until 4).exists(b => dcOf(g * 4 + b) != 0)) 1 << g else 0
          }.sum
          bw.putUe(CbpInterInv(cbpLuma)) // coded_block_pattern (chroma 0)
          if (cbpLuma != 0) bw.putSe(0) // mb_qp_delta
          var blk = 0
          while (blk < 16) {
            val r = blkRow(blk); val c = blkCol(blk)
            if ((cbpLuma & (1 << (blk >> 2))) != 0) {
              val lvl = dcOf(blk)
              putCavlcSingle(bw, lumaNz.nC(mbX * 4 + c, mbY * 4 + r),
                lvl, maxNumCoeff = 16)
              lumaNz.set(mbX * 4 + c, mbY * 4 + r, if (lvl != 0) 1 else 0)
            } else lumaNz.set(mbX * 4 + c, mbY * 4 + r, 0)
            blk += 1
          }
        case P16x8(top, bot) =>
          bw.putUe(skipRun); skipRun = 0
          bw.putUe(1) // mb_type P_L0_L0_16x8
          putRefIdx(0); putRefIdx(0)
          putPart(0, 0, 4, 2, Shape16x8Top, top._1, top._2)
          putPart(0, 2, 4, 2, Shape16x8Bot, bot._1, bot._2)
          bw.putUe(0) // cbp 0
          zeroLumaNz()
        case P8x16(left, right) =>
          bw.putUe(skipRun); skipRun = 0
          bw.putUe(2) // mb_type P_L0_L0_8x16
          putRefIdx(0); putRefIdx(0)
          putPart(0, 0, 2, 4, Shape8x16Left, left._1, left._2)
          putPart(2, 0, 2, 4, Shape8x16Right, right._1, right._2)
          bw.putUe(0) // cbp 0
          zeroLumaNz()
        case P8x8(subs) =>
          require(subs.length == 4, "P8x8 needs 4 sub-MV pairs")
          bw.putUe(skipRun); skipRun = 0
          bw.putUe(3) // mb_type P_8x8
          var p8 = 0
          while (p8 < 4) { bw.putUe(0); p8 += 1 } // sub_mb_type all 8x8
          p8 = 0
          while (p8 < 4) { putRefIdx(0); p8 += 1 } // ref_idx_l0 per 8x8
          p8 = 0
          while (p8 < 4) {
            val (mx, my) = subs(p8)
            putPart((p8 & 1) * 2, (p8 >> 1) * 2, 2, 2, ShapeMedian, mx, my)
            p8 += 1
          }
          bw.putUe(0) // cbp 0
          zeroLumaNz()
        case PIntra(spec) =>
          bw.putUe(skipRun); skipRun = 0 // mb_skip_run
          writeI16Dc(bw, lumaNz, mbX, mbY, spec, typeOffset = 5)
          mvc.fill(x4, y4, 4, 4, isInter = false, 0, 0)
      }
      i += 1
    }
    if (skipRun > 0) bw.putUe(skipRun) // trailing skipped macroblocks
    bw.rbspTrailing()
    nalUnit((refIdc << 5) | 1, bw.result()) // non-IDR slice
  }

  /** CAVLC block with AT MOST one coefficient, at scan position 0 —
    * the encoder's residual vocabulary (coeff_token (0,0)/(1,1)/(1,0),
    * total_zeros = 0, no runs), against the same nC tables the
    * decoder implements. */
  private def putCavlcSingle(bw: BitWriter, nC: Int, level: Int,
      maxNumCoeff: Int): Unit = {
    require(nC >= 0 && (nC < 2 || nC >= 8),
      s"encoder fixture hit nC = $nC (table not reproduced); " +
        "restructure the macroblock mix")
    if (level == 0) {
      if (nC >= 8) bw.put(3, 6) // FLC (0,0)
      else bw.put(1, 1) // '1'
    } else if (level == 1 || level == -1) {
      if (nC >= 8) bw.put((0 << 2) | 1, 6) // FLC (1,1)
      else bw.put(1, 2) // '01'
      bw.put(if (level < 0) 1 else 0, 1) // trailing-one sign
      bw.put(1, 1) // total_zeros(tc=1) = 0
    } else {
      if (nC >= 8) bw.put((0 << 2) | 0, 6) // FLC (1,0)
      else bw.put(5, 6) // '000101'
      // level, suffixLength 0, first coeff with t1s<3 -> +2 offset
      val lc = (if (level > 0) 2 * level - 2 else -2 * level - 1) - 2
      require(lc >= 0 && lc <= 13, s"level out of the no-suffix range: $level")
      bw.put(0, lc); bw.put(1, 1) // unary prefix
      bw.put(1, 1) // total_zeros(tc=1) = 0
    }
  }

  /** Annex-B I-frame: SPS + PPS + IDR. qp = 28 makes the DC path
    * EXACT: dequant((z,0,..)) has LevelScale 256, shift 2, so the
    * flat residual is (64z + 32) >> 6 = z — pixel = clip(128 + z) for
    * a lone macroblock (DC prediction with no neighbors), closed-form
    * for an external oracle. */
  def encodeIFrame(mbW: Int, mbH: Int, mb: Int => Mb, qp: Int = 28,
      deblock: Boolean = false): Array[Byte] = {
    val sep = Array[Byte](0, 0, 0, 1)
    sep ++ spsNal(mbW, mbH) ++ sep ++ ppsNal(qp) ++ sep ++
      idrNal(mbW, mbH, mb, qp, deblock)
  }

  /** Annex-B I + P stream: SPS + PPS + IDR + one P slice per entry of
    * `pFrames` (each in decode order, referencing the previous
    * picture) — the closed-form fixture generator for the inter
    * decode paths ([[decodeFramesLuma]]). */
  def encodeIPStream(mbW: Int, mbH: Int, iMb: Int => Mb,
      pFrames: Seq[Int => MbP], qp: Int = 28): Array[Byte] = {
    val sep = Array[Byte](0, 0, 0, 1)
    encodeIFrame(mbW, mbH, iMb, qp) ++
      pFrames.zipWithIndex.flatMap { case (f, k) =>
        sep ++ pNal(mbW, mbH, f, qp, frameNum = k + 1)
      }
  }
}
