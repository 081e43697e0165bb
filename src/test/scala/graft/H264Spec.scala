package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.H264
import graft.ext.H264.{I16Dc, Pcm}

/** H.264 intra codec contracts. Expected pixels are HAND-COMPUTED
  * from the spec formulas (never from the decoder under test):
  *  - I_PCM is raw samples: output == input pattern, bit-exact.
  *  - Intra_16x16 DC-only at qp=28: dequant LevelScale(4,0,0) = 256,
  *    shift (6-4)=2 -> dcY = 64z exactly; core inverse transform of a
  *    lone DC d gives (d+32)>>6 everywhere -> flat residual == z.
  *  - qp=36: dcY = 160z -> residual (160z+32)>>6 (arithmetic shift).
  *  - AC trailing-one at scan 1, qp=28: LevelScale(4, class mixed)
  *    = 320, shift 0 -> d1 = 320·a; the row transform of
  *    (128, 320, 0, 0) is f = (448, 288, -32, -192) and each column
  *    collapses to (f_c+32)>>6 -> columns (7, 5, 0, -3) on top of
  *    pred 128 + nothing else (z=2 contributes the 128 = 64·2 DC).
  */
class H264Spec extends AnyFunSuite {

  private def pattern(id: Int)(x: Int, y: Int): Int =
    (id * 31 + x * 7 + y * 13) % 256

  test("I_PCM round-trip: 2x2 macroblocks, arbitrary pattern, bit-exact") {
    val es = H264.encodeIFrame(2, 2, mb => {
      val bx = (mb % 2) * 16; val by = (mb / 2) * 16
      Pcm((x, y) => pattern(7)(bx + x, by + y))
    })
    val Some((w, h, luma)) = H264.decodeIFrameLuma(es)
    assert(w == 32 && h == 32)
    for (y <- 0 until 32; x <- 0 until 32)
      assert(luma(y * 32 + x) == pattern(7)(x, y), s"($x,$y)")
  }

  test("I_PCM with zero bytes forces emulation-prevention escapes and survives them") {
    val es = H264.encodeIFrame(1, 1, _ => Pcm((_, _) => 0))
    // raw zero runs MUST have been escaped: no 00 00 00/01/02/03 runs
    // inside a NAL payload
    val Some((w, h, luma)) = H264.decodeIFrameLuma(es)
    assert(w == 16 && h == 16)
    assert(luma.forall(_ == 0))
  }

  test("Intra_16x16 DC-only at qp=28 is exactly 128+z for every z in -7..7") {
    for (z <- -7 to 7) {
      val es = H264.encodeIFrame(1, 1, _ => I16Dc(z), qp = 28)
      val Some((w, h, luma)) = H264.decodeIFrameLuma(es)
      assert(w == 16 && h == 16)
      assert(luma.forall(_ == 128 + z), s"z=$z: got ${luma.distinct.toSeq}")
    }
  }

  test("Intra_16x16 DC-only at qp=36: residual (160z+32)>>6, incl. negative floor") {
    for (z <- Seq(-7, -2, -1, 0, 1, 2, 7)) {
      val es = H264.encodeIFrame(1, 1, _ => I16Dc(z), qp = 36)
      val Some((_, _, luma)) = H264.decodeIFrameLuma(es)
      val expect = 128 + ((160 * z + 32) >> 6)
      assert(luma.forall(_ == expect), s"z=$z")
    }
  }

  test("trailing-one AC coefficient: block-0 columns (7,5,0,-3) over DC z=2, qp=28") {
    val es = H264.encodeIFrame(1, 1, _ => I16Dc(2, ac0 = 1), qp = 28)
    val Some((_, _, luma)) = H264.decodeIFrameLuma(es)
    val colRes = Array(7, 5, 0, -3)
    for (y <- 0 until 16; x <- 0 until 16) {
      val expect =
        if (x < 4 && y < 4) 128 + colRes(x) // block 0 carries the AC
        else 130 // every other block: DC-only, 128 + z
      assert(luma(y * 16 + x) == expect, s"($x,$y)")
    }
  }

  test("PCM neighbor drives the nC>=8 FLC table and DC prediction from the left") {
    // MB0 flat PCM 100; MB1 I16 DC-mode: pred = (16*100+8)>>4 = 100,
    // pixels 100+z; the DC block's nC = left nz 16 -> FLC coeff_token
    val es = H264.encodeIFrame(2, 1, mb =>
      if (mb == 0) Pcm((_, _) => 100) else I16Dc(3), qp = 28)
    val Some((w, h, luma)) = H264.decodeIFrameLuma(es)
    assert(w == 32 && h == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      assert(luma(y * 32 + x) == 100)
      assert(luma(y * 32 + 16 + x) == 103, s"($x,$y)")
    }
  }

  test("top+left DC prediction averages both edges") {
    // 2x2 grid: three flat PCM MBs (60, 200, 90), bottom-right I16 DC:
    // pred = (16*90 + 16*200 + 16)>>5 = (1440+3200+16)>>5 = 145
    val es = H264.encodeIFrame(2, 2, {
      case 0 => Pcm((_, _) => 60)
      case 1 => Pcm((_, _) => 200) // top neighbor of MB3
      case 2 => Pcm((_, _) => 90) // left neighbor of MB3
      case _ => I16Dc(-4)
    }, qp = 28)
    val Some((_, _, luma)) = H264.decodeIFrameLuma(es)
    for (y <- 16 until 32; x <- 16 until 32)
      assert(luma(y * 32 + x) == 145 - 4, s"($x,$y)")
  }

  test("vertical and horizontal prediction modes copy the neighbor edge") {
    // V: 1x2 grid, MB0 PCM with per-column values, MB1 V-mode z=0 ->
    // every row repeats MB0's bottom row
    val esV = H264.encodeIFrame(1, 2, {
      case 0 => Pcm((x, _) => 50 + x * 3)
      case _ => I16Dc(0, pred = 0)
    }, qp = 28)
    val Some((_, _, lv)) = H264.decodeIFrameLuma(esV)
    for (y <- 16 until 32; x <- 0 until 16)
      assert(lv(y * 16 + x) == 50 + x * 3, s"V ($x,$y)")
    // H: 2x1 grid, MB0 PCM with per-row values, MB1 H-mode z=0 ->
    // every column repeats MB0's right column
    val esH = H264.encodeIFrame(2, 1, {
      case 0 => Pcm((_, y) => 40 + y * 5)
      case _ => I16Dc(0, pred = 1)
    }, qp = 28)
    val Some((_, _, lh)) = H264.decodeIFrameLuma(esH)
    for (y <- 0 until 16; x <- 16 until 32)
      assert(lh(y * 32 + x) == 40 + y * 5, s"H ($x,$y)")
  }

  test("plane prediction on flat neighbors reproduces the flat value") {
    // all-flat 100 PCM top/left => H = V = 0, a = 16*(100+100),
    // pred = (3200+16)>>5 = 100 everywhere
    val es = H264.encodeIFrame(2, 2, {
      case 3 => I16Dc(0, pred = 3)
      case _ => Pcm((_, _) => 100)
    }, qp = 28)
    val Some((_, _, luma)) = H264.decodeIFrameLuma(es)
    for (y <- 16 until 32; x <- 16 until 32)
      assert(luma(y * 32 + x) == 100, s"($x,$y)")
  }

  test("chroma-DC residuals parse through the 2x2 tables at every total_zeros; luma unaffected") {
    // the 2x2 chroma-DC total_zeros table (9-9a) differs from the 4x4
    // one — a tz>0 chroma coefficient must keep bitstream sync (the
    // MB after it decodes correctly) and leave luma untouched
    val base = H264.decodeIFrameLuma(
      H264.encodeIFrame(2, 1, _ => I16Dc(4), qp = 28)).get._3
    for (tz <- 0 to 3) {
      val es = H264.encodeIFrame(2, 1, mb =>
        if (mb == 0) I16Dc(4, chromaDcTz = tz) else I16Dc(4), qp = 28)
      val got = H264.decodeIFrameLuma(es)
      assert(got.isDefined, s"tz=$tz failed to decode")
      assert(got.get._3.toSeq == base.toSeq, s"tz=$tz changed luma")
    }
  }

  test("NAL-list decode (the avcC/length-prefixed form) matches Annex-B") {
    val mb: Int => H264.Mb = _ => I16Dc(5)
    val fromList = H264.decodeIFrameLumaNals(Seq(
      H264.spsNal(1, 1), H264.ppsNal(28), H264.idrNal(1, 1, mb, 28)))
    val fromAnnexB = H264.decodeIFrameLuma(H264.encodeIFrame(1, 1, mb, 28))
    assert(fromList.isDefined && fromAnnexB.isDefined)
    assert(fromList.get._3.toSeq == fromAnnexB.get._3.toSeq)
  }

  test("parameter sets select by id: a later unrelated PPS must not shadow the referenced one") {
    val mb: Int => H264.Mb = _ => I16Dc(4)
    val expect = H264.decodeIFrameLumaNals(Seq(
      H264.spsNal(1, 1), H264.ppsNal(28), H264.idrNal(1, 1, mb, 28)))
    assert(expect.isDefined && expect.get._3.forall(_ == 132)) // 128 + 4 at qp 28
    // pps id 1 carries qp 36 — decoding against it would read 138;
    // the slice references pps_id 0, so id 1 must be ignored
    val got = H264.decodeIFrameLumaNals(Seq(
      H264.spsNal(1, 1), H264.ppsNal(28), H264.ppsNal(36, id = 1),
      H264.idrNal(1, 1, mb, 28)))
    assert(got.isDefined, "multi-PPS stream refused")
    assert(got.get._3.toSeq == expect.get._3.toSeq,
      "slice decoded against the wrong (last-parsed) PPS")
  }

  test("degrade-to-None: truncation, garbage, cross-codec, missing SPS/PPS") {
    val es = H264.encodeIFrame(1, 1, _ => Pcm((x, y) => (x * y) % 256))
    assert(H264.decodeIFrameLuma(es.take(es.length - 20)).isEmpty, "truncated")
    assert(H264.decodeIFrameLuma(Array.fill[Byte](64)(0x42)).isEmpty, "garbage")
    assert(H264.decodeIFrameLuma(
      graft.ext.Mpeg1.encodeIFrame(1, 1, (_, _) => 99)).isEmpty, "mpeg1 stream")
    // slice without its parameter sets
    val idrOnly = Array[Byte](0, 0, 0, 1) ++ H264.idrNal(1, 1, _ => I16Dc(1), 28)
    assert(H264.decodeIFrameLuma(idrOnly).isEmpty, "no sps/pps")
  }

  test("avc1-in-MP4 fixture: avcC config + length-prefixed samples decode to the quadrant formula") {
    import graft.ext.Multimodal
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val mp4 = Multimodal.syntheticAvcMp4(id, nFrames = 3)
      val frames = Multimodal.decodeAvcFrames(mp4, 8)
      assert(frames.size == 3, s"id=$id")
      frames.foreach { case (f, w, h, mean, std) =>
        assert(w == 16 && h == 16)
        val g = (0 until 4).map(q =>
          ((id * (31 + 6 * q) + 11 + 5 * q + 29L * (f - 1)) % 256).toDouble)
        val em = g.sum / 4
        val esd = math.sqrt(g.map(v => v * v).sum / 4 - em * em)
        assert(math.abs(mean - em) < 1e-9, s"id=$id f=$f mean")
        assert(math.abs(std - esd) < 1e-9, s"id=$id f=$f std")
      }
    }
  }

  test("decode dispatch marks avc1 fixtures decoded=true; hev1-ish payloads stay fenced") {
    import graft.ext.Multimodal
    val (w, h, feat, decoded) = Multimodal.decode(Multimodal.syntheticAvcMp4(5L))
    assert(decoded && w == 16 && h == 16 && feat.length == 2)
    // the metadata-only fixture (no real avc samples) still degrades
    val (_, _, _, fenced) = Multimodal.decode(Multimodal.syntheticMp4(5L))
    assert(!fenced)
  }

  test("decode is deterministic and re-runnable on the same bytes") {
    val es = H264.encodeIFrame(2, 1, mb =>
      if (mb == 0) Pcm((x, y) => pattern(3)(x, y)) else I16Dc(-6), qp = 28)
    val a = H264.decodeIFrameLuma(es).get._3
    val b = H264.decodeIFrameLuma(es).get._3
    assert(a.toSeq == b.toSeq)
  }

  // ------------------------------------------------------- P slices (12b)

  import graft.ext.H264.{PSkip, PMove, PIntra}

  test("P zero-MV copy and all-skip both reproduce the I frame exactly") {
    val es0 = H264.encodeIPStream(2, 1, mb => Pcm(pattern(mb + 1)),
      Seq(_ => PMove(0, 0)))
    val f0 = H264.decodeFramesLuma(es0, 4)
    assert(f0.map(_._4) == Seq('I', 'P'), s"types: ${f0.map(_._4)}")
    assert(f0(0)._3.toSeq == f0(1)._3.toSeq, "zero-MV P must equal I")
    val es1 = H264.encodeIPStream(2, 1, mb => Pcm(pattern(mb + 1)),
      Seq(_ => PSkip))
    val f1 = H264.decodeFramesLuma(es1, 4)
    assert(f1.map(_._4) == Seq('I', 'P'))
    assert(f1(0)._3.toSeq == f1(1)._3.toSeq, "all-skip P must equal I")
  }

  test("P integer motion copies the shifted reference; out-of-plane " +
      "fetches clamp to the picture edge (8.4.2.2 Clip3)") {
    val es = H264.encodeIPStream(3, 1, mb => Pcm(pattern(mb + 3)), Seq({
      case 0 => PMove(-32, 0) // 8 px left: clamps at column 0
      case 1 => PMove(-32, 0) // fully in-plane: true shift
      case _ => PMove(32, 0) // 8 px right: clamps at the last column
    }))
    val fs = H264.decodeFramesLuma(es, 2)
    assert(fs.map(_._4) == Seq('I', 'P'))
    val i = fs(0)._3
    val p = fs(1)._3
    for (y <- 0 until 16; x <- 0 until 48) {
      val src = // clamped integer source column per the MB's vector
        if (x < 16) math.max(0, x - 8)
        else if (x < 32) x - 8
        else math.min(47, x + 8)
      assert(p(y * 48 + x) == i(y * 48 + src), s"pixel ($x,$y)")
    }
  }

  test("P half/quarter-pel interpolation matches an independent 6-tap " +
      "computation on the decoded reference") {
    // single MB so prediction has no in-frame neighbors; vector kept
    // small and negative-free via a +clamp-free interior: use mv with
    // fractional parts over a frame wide enough that taps stay inside
    val es = H264.encodeIPStream(3, 1, mb => Pcm(pattern(mb + 5)), Seq({
      case 1 => PMove(2, 0) // half-pel b between x and x+1 (interior MB)
      case 2 => PMove(1, 0) // quarter a = avg(G, b)
      case _ => PMove(0, 0)
    }))
    val fs = H264.decodeFramesLuma(es, 2)
    val i = fs(0)._3
    val p = fs(1)._3
    def at(x: Int, y: Int): Int =
      i(y * 48 + math.max(0, math.min(47, x)))
    def b(x: Int, y: Int): Int = {
      val s = at(x - 2, y) - 5 * at(x - 1, y) + 20 * at(x, y) +
        20 * at(x + 1, y) - 5 * at(x + 2, y) + at(x + 3, y)
      math.max(0, math.min(255, (s + 16) >> 5))
    }
    for (y <- 0 until 16; x <- 16 until 32)
      assert(p(y * 48 + x) == b(x, y), s"half-pel pixel ($x,$y)")
    for (y <- 0 until 16; x <- 32 until 48)
      assert(p(y * 48 + x) == ((at(x, y) + b(x, y) + 1) >> 1),
        s"quarter-pel pixel ($x,$y)")
  }

  test("P_Skip vector derivation: stationary/missing neighbors give the " +
      "co-located copy; moving neighbors give the median (incl. C->D " +
      "fallback at the right edge)") {
    // 2x2: top row moves, bottom-left moves, bottom-right SKIPS.
    // Skip neighbors: A=(0,1) mv(4,0), B=(1,0) mv(8,4), C unavailable
    // -> D=(0,0) mv(4,0); none stationary, both A/B present ->
    // mv = median((4,0),(8,4),(4,0)) = (4,0): one pixel right.
    val es = H264.encodeIPStream(2, 2, mb => Pcm(pattern(mb + 7)), Seq({
      case 0 => PMove(4, 0)
      case 1 => PMove(8, 4)
      case 2 => PMove(4, 0)
      case _ => PSkip
    }))
    val fs = H264.decodeFramesLuma(es, 2)
    assert(fs.size == 2)
    val i = fs(0)._3
    val p = fs(1)._3
    for (y <- 16 until 32; x <- 16 until 32) {
      val sx = math.min(31, x + 1)
      assert(p(y * 32 + x) == i(y * 32 + sx), s"skip-MB pixel ($x,$y)")
    }
  }

  test("P intra refresh: Intra_16x16 DC predicts from the inter " +
      "neighbor's reconstructed edge; exact at qp 28") {
    val es = H264.encodeIPStream(2, 1, mb => Pcm(pattern(mb + 9)), Seq({
      case 0 => PMove(0, 0)
      case _ => PIntra(I16Dc(5))
    }))
    val fs = H264.decodeFramesLuma(es, 2)
    val i = fs(0)._3
    val p = fs(1)._3
    var sum = 0
    for (y <- 0 until 16) sum += i(y * 32 + 15) // MB0's right edge
    val want = math.max(0, math.min(255, ((sum + 8) >> 4) + 5))
    for (y <- 0 until 16; x <- 16 until 32)
      assert(p(y * 32 + x) == want, s"intra-in-P pixel ($x,$y)")
  }

  test("P chain: the second P references the FIRST P's decoded frame") {
    val es = H264.encodeIPStream(2, 1, mb => Pcm(pattern(mb + 2)), Seq(
      { case 0 => PMove(0, 0); case _ => PIntra(I16Dc(7)) },
      _ => PMove(-32, 0))) // shift P1 right by 8 px (left-clamped)
    val fs = H264.decodeFramesLuma(es, 4)
    assert(fs.map(_._4) == Seq('I', 'P', 'P'))
    val p1 = fs(1)._3
    val p2 = fs(2)._3
    for (y <- 0 until 16; x <- 0 until 32)
      assert(p2(y * 32 + x) == p1(y * 32 + math.max(0, x - 8)),
        s"P2 pixel ($x,$y)")
  }

  test("a non-reference P (nal_ref_idc 0) never enters the DPB: the " +
      "next P motion-compensates against the I, not the non-ref frame") {
    // I (PCM) -> P1 all-intra-refresh (different pixels) -> P2 zero-MV
    val base = H264.decodeFramesLuma(
      H264.encodeIPStream(1, 1, _ => Pcm((x, y) => 60 + x + 2 * y),
        Seq(_ => PIntra(I16Dc(6)), _ => PMove(0, 0))), 4)
    // same stream with P1 a NON-reference picture (nal_ref_idc 0 — no
    // dec_ref_pic_marking in its header)
    val sep = Array[Byte](0, 0, 0, 1)
    val demoted = H264.encodeIFrame(1, 1, _ => Pcm((x, y) => 60 + x + 2 * y)) ++
      sep ++ H264.pNal(1, 1, _ => PIntra(I16Dc(6)), 28, frameNum = 1, refIdc = 0) ++
      sep ++ H264.pNal(1, 1, _ => PMove(0, 0), 28, frameNum = 1)
    val fs = H264.decodeFramesLuma(demoted, 4)
    assert(fs.map(_._4) == Seq('I', 'P', 'P'))
    assert(base(2)._3.toSeq == base(1)._3.toSeq,
      "reference chain: P2 copies P1 when P1 IS a reference")
    assert(fs(2)._3.toSeq == fs(0)._3.toSeq,
      "P2 must copy the I — the demoted P1 never entered the DPB")
    assert(fs(1)._3.toSeq != fs(0)._3.toSeq, "P1 itself still decodes")
  }

  test("P degrade: a P slice with no reference yields nothing; a " +
      "truncated P keeps the exact I; decodeIFrameLuma still returns " +
      "only the I") {
    val sep = Array[Byte](0, 0, 0, 1)
    val noRef = sep ++ H264.spsNal(1, 1) ++ sep ++ H264.ppsNal(28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28)
    assert(H264.decodeFramesLuma(noRef, 4).isEmpty)
    val es = H264.encodeIPStream(1, 1, _ => Pcm((x, y) => 64 + x + y),
      Seq(_ => PMove(0, 0)))
    val cut = H264.decodeFramesLuma(es.dropRight(2), 4)
    assert(cut.map(_._4) == Seq('I'))
    val first = H264.decodeIFrameLuma(es)
    assert(first.isDefined)
    assert(first.get._3.toSeq == H264.decodeFramesLuma(es, 4).head._3.toSeq)
  }

  // ---- round 13: Intra_4x4 + in-loop deblocking --------------------

  test("Intra_4x4 directional modes against hand-computed 8.3.1.2 " +
      "formulas on nonflat PCM neighbors") {
    // 2x2 MBs: MB0/MB1/MB2 PCM set up so MB3's block neighbors are
    // known ramps; MB3 = I_NxN, block z0 DDR, z1 VL, z2 HU, rest DC.
    // Top row above MB3 (MB1 bottom row, y=15): T[x] = 100 + x.
    // Left col (MB2 right col, x=15): L[y] = 200 - y. Corner
    // (MB0 at (15,15)) = 50. Hand-computed (no filter):
    //  DDR (0,0): x==y -> (T0 + 2*corner + L0 + 2)>>2
    //           = (100 + 100 + 200 + 2)>>2 = 100
    //  DDR (1,0): x>y -> (corner + 2*T0 + T1 + 2)>>2
    //           = (50 + 200 + 101 + 2)>>2 = 88
    //  DDR (0,1): x<y -> (corner + 2*L0 + L1 + 2)>>2
    //           = (50 + 400 + 199 + 2)>>2 = 162
    //  VL on z1 (top = T[4..7] = 104..107): (0,0) = (104+105+1)>>1 = 105
    //  HU on z2 (left = L[4..7] = 196..193): (0,0) = (196+195+1)>>1 = 196
    val es = H264.encodeIFrame(2, 2, {
      case 0 => Pcm((_, _) => 50)
      case 1 => Pcm((x, _) => 100 + x)
      case 2 => Pcm((_, y) => 200 - y)
      case _ => H264.I4x4({
        case 0 => 4 // DDR
        case 1 => 7 // VL
        case 2 => 8 // HU
        case _ => 2 // DC
      })
    })
    val Some((w, _, luma)) = H264.decodeIFrameLuma(es): @unchecked
    assert(w == 32)
    assert(luma(16 * 32 + 16) == 100, "DDR (0,0)")
    assert(luma(16 * 32 + 17) == 88, "DDR (1,0)")
    assert(luma(17 * 32 + 16) == 162, "DDR (0,1)")
    assert(luma(16 * 32 + 20) == 105, "VL (0,0) on z1")
    assert(luma(20 * 32 + 16) == 196, "HU (0,0) on z2")
  }

  test("Intra_4x4 DC/H/V cascade with residuals: column step, no filter") {
    // one MB: block z0 DC(none)=128 + 4c, z1 DC(left) - 4c = 128,
    // z4/z5 H, rows 1..3 V -> columns 0..3 = 128+4c, 4..15 = 128,
    // every row identical
    val c = 2
    val es = H264.encodeIFrame(1, 1, _ => H264.I4x4(
      blk => blk match {
        case 0 | 1 => 2 // DC
        case 4 | 5 => 1 // H
        case _ => 0 // V
      },
      blk => blk match { case 0 => c; case 1 => -c; case _ => 0 }))
    val Some((_, _, luma)) = H264.decodeIFrameLuma(es): @unchecked
    for (y <- 0 until 16; x <- 0 until 16)
      assert(luma(y * 16 + x) == (if (x < 4) 128 + 4 * c else 128),
        s"pixel ($x,$y)")
  }

  test("deblocking, bS=3 weak filter: hand-computed row profile " +
      "including the x=8-edge p1 cascade (tC0[bS3][28] = 2)") {
    // same column-step fixture with the loop filter ON (qp 28,
    // offsets 0 -> alpha 20, beta 7, tC0 2). Hand-computed per row:
    //  x=4 edge (X=136, Y=128): delta = ((Y-X)*4 + (X-Y) + 4)>>3 = -3
    //   (|delta| <= tc = tc0+ap+aq = 4); p0'=133, q0'=131;
    //   p1' = X + clip3(+-2, (X + avg - 2X)>>1) = 134 (avg = 132);
    //   q1' = Y + clip3(+-2, (Y + avg - 2Y)>>1) = 130
    //  x=8 edge: p2 = 130 (already filtered), all else flat 128 ->
    //   delta 0, ap -> p1' = 128 + ((130 + 128 - 256)>>1) = 129
    //  everything else: flat, no-op; horizontal edges: rows equal, no-op
    val c = 2
    val es = H264.encodeIFrame(1, 1, _ => H264.I4x4(
      blk => blk match {
        case 0 | 1 => 2
        case 4 | 5 => 1
        case _ => 0
      },
      blk => blk match { case 0 => c; case 1 => -c; case _ => 0 }),
      qp = 28, deblock = true)
    val Some((_, _, luma)) = H264.decodeIFrameLuma(es): @unchecked
    val want = Seq(136, 136, 134, 133, 131, 130, 129,
      128, 128, 128, 128, 128, 128, 128, 128, 128)
    for (y <- Seq(0, 7, 15))
      assert((0 until 16).map(x => luma(y * 16 + x)) == want, s"row $y")
  }

  test("deblocking, bS=4 strong filter across an intra MB edge: " +
      "hand-computed 6-column transition (table-independent path)") {
    // MB0 = I_NxN flat A = 128 + 4c, MB1 = Intra_16x16 DC (left-only
    // pred = A) + z2 -> flat B. |A-B| = |z2| <= 2 < (alpha>>2)+2 = 7
    // -> strong filter on the x=16 MB edge, both sides; closed forms:
    //  p2' = (2A+3A+A+A+B+4)>>3, p1' = (3A+B+2)>>2, p0' = (5A+3B+4)>>3
    //  q0' = (5B+3A+4)>>3, q1' = (3B+A+2)>>2, q2' = (7B+A+4)>>3
    // |z2| <= 2 keeps the NEIGHBOR internal edges (x=12, x=20) exact
    // no-ops: their p1/q1 adjustments see |p2-p0| <= 1 whose >>1 is 0
    // only when the difference is +1 or 0 — at |z2| = 3 one side's
    // difference is -1 and floors to -1, a real second-order nudge
    // this closed form deliberately avoids (the weak-filter test
    // covers the cascade class).
    for (z2 <- -2 to 2) {
      val c = 3
      val a = 128 + 4 * c
      val b = a + z2
      val es = H264.encodeIFrame(2, 1, {
        case 0 => H264.I4x4(
          blk => blk match {
            case 0 => 2
            case 1 | 4 | 5 => 1
            case 2 | 8 | 10 => 0
            case 3 => 3; case 6 => 4; case 7 => 5
            case 9 => 6; case 12 => 7; case 13 => 8
            case _ => 4
          },
          blk => if (blk == 0) c else 0)
        case _ => I16Dc(z2, pred = 2)
      }, qp = 28, deblock = true)
      val Some((w, _, luma)) = H264.decodeIFrameLuma(es): @unchecked
      assert(w == 32)
      val want = (0 until 32).map {
        case x if x <= 12 => a
        case 13 => (7 * a + b + 4) >> 3
        case 14 => (3 * a + b + 2) >> 2
        case 15 => (5 * a + 3 * b + 4) >> 3
        case 16 => (5 * b + 3 * a + 4) >> 3
        case 17 => (3 * b + a + 2) >> 2
        case 18 => (7 * b + a + 4) >> 3
        case _ => b
      }
      for (y <- Seq(0, 8, 15))
        assert((0 until 32).map(x => luma(y * 32 + x)) == want,
          s"z2=$z2 row $y")
    }
  }

  test("P inter residuals (round 13): per-4x4 DC over zero-MV copy " +
      "adds exactly 4c per block; with real motion the residual rides " +
      "the shifted reference") {
    // I = flat PCM 100; P1 = zero-MV + per-block DC c_blk -> each 4x4
    // block is 100 + 4*c_blk exactly (qp 28 dequant: 256c, (256c+32)>>6)
    val cOf: Int => Int = blk => (blk % 3) - 1
    val es = H264.encodeIPStream(1, 1, _ => Pcm((_, _) => 100),
      Seq(_ => H264.PMoveCoded(0, 0, cOf)))
    val fs = H264.decodeFramesLuma(es, 4)
    assert(fs.map(_._4) == Seq('I', 'P'))
    val p = fs(1)._3
    for (blk <- 0 until 16; y <- 0 until 4; x <- 0 until 4) {
      val r = 2 * ((blk >> 2) >> 1) + ((blk & 3) >> 1)
      val c = 2 * ((blk >> 2) & 1) + (blk & 1)
      assert(p((r * 4 + y) * 16 + c * 4 + x) == 100 + 4 * cOf(blk),
        s"blk $blk ($x,$y)")
    }
    // real motion: P shifted left 4 px (mv -16 quarter-pel) + one DC
    // on block z0; reference column x -> pixel 100 + x, edge clamp
    val es2 = H264.encodeIPStream(1, 1, _ => Pcm((x, _) => 100 + x),
      Seq(_ => H264.PMoveCoded(-16, 0, blk => if (blk == 0) 2 else 0)))
    val p2 = H264.decodeFramesLuma(es2, 4)(1)._3
    for (y <- 0 until 16; x <- 0 until 16) {
      val base = 100 + math.max(0, x - 4) // clamp at the left edge
      val want = base + (if (x < 4 && y < 4) 8 else 0)
      assert(p2(y * 16 + x) == want, s"motion+resid ($x,$y)")
    }
  }

  test("P partitions (round 13): 16x8, 8x16 and 8x8 sub-blocks each " +
      "motion-compensate their own region with the edge clamp") {
    // reference gradient 50 + 3x + 7y (max 200, clip-free)
    def refPix(x: Int, y: Int): Int = 50 + 3 * x + 7 * y
    def cl(v: Int): Int = math.max(0, math.min(15, v))
    // 16x8: top <- 4 px left (clamped), bottom <- 4 px up
    val es1 = H264.encodeIPStream(1, 1, _ => Pcm(refPix),
      Seq(_ => H264.P16x8((-16, 0), (0, -16))))
    val p1 = H264.decodeFramesLuma(es1, 4)(1)._3
    for (y <- 0 until 16; x <- 0 until 16) {
      val want = if (y < 8) refPix(cl(x - 4), y) else refPix(x, cl(y - 4))
      assert(p1(y * 16 + x) == want, s"16x8 ($x,$y)")
    }
    // 8x16: left copy, right <- (4 left, 4 up) both clamped
    val es2 = H264.encodeIPStream(1, 1, _ => Pcm(refPix),
      Seq(_ => H264.P8x16((0, 0), (-16, -16))))
    val p2 = H264.decodeFramesLuma(es2, 4)(1)._3
    for (y <- 0 until 16; x <- 0 until 16) {
      val want = if (x < 8) refPix(x, y) else refPix(cl(x - 4), cl(y - 4))
      assert(p2(y * 16 + x) == want, s"8x16 ($x,$y)")
    }
    // 8x8: quadrant-wise (0,0) / left / up / both
    val es3 = H264.encodeIPStream(1, 1, _ => Pcm(refPix),
      Seq(_ => H264.P8x8(Seq((0, 0), (-16, 0), (0, -16), (-16, -16)))))
    val p3 = H264.decodeFramesLuma(es3, 4)(1)._3
    for (y <- 0 until 16; x <- 0 until 16) {
      val want = (x < 8, y < 8) match {
        case (true, true) => refPix(x, y)
        case (false, true) => refPix(cl(x - 4), y)
        case (true, false) => refPix(x, cl(y - 4))
        case (false, false) => refPix(cl(x - 4), cl(y - 4))
      }
      assert(p3(y * 16 + x) == want, s"8x8 ($x,$y)")
    }
    // quarter-pel inside a partition: right 8x16 half at (-2, 0) =
    // half-pel between x-1 and x; 6-tap on the gradient interior
    // equals the midpoint (linear signal), asserted away from clamps
    val es4 = H264.encodeIPStream(1, 1, _ => Pcm(refPix),
      Seq(_ => H264.P8x16((0, 0), (-2, 0))))
    val p4 = H264.decodeFramesLuma(es4, 4)(1)._3
    for (y <- 0 until 16; x <- 10 until 13) {
      val a = refPix(x - 1, y); val b = refPix(x, y)
      assert(math.abs(p4(y * 16 + x) - ((a + b + 1) / 2)) <= 1,
        s"qpel 8x16 ($x,$y)")
    }
  }

  test("P partition MV prediction: a following 16x16 MB medians over " +
      "partition-granular neighbors (per-4x4 grid, not per-MB)") {
    // 2x1 picture: MB0 = 8x16 with very different left/right MVs;
    // MB1 = PMove((-16,0)). MB1's predictor A = MB0's RIGHT half
    // (mv (-16,0)), B/C unavailable (mbY 0) -> only-A rule. If the
    // grid were per-MB (old code recorded the LAST partition write,
    // here right = (-16,0) too) the distinction needs the LEFT cell:
    // so flip: right half carries (+16,0) and MB1 moves (16,0) —
    // predictor must be the right HALF's (+16,0), making the mvd 0;
    // a per-MB store of the first partition (0,0) would emit mvd 16
    // and a decoder disagreeing on granularity would mis-decode.
    def refPix(x: Int, y: Int): Int = 40 + 5 * x + 3 * y
    val es = H264.encodeIPStream(2, 1, mbi => Pcm((x, y) =>
        refPix((mbi % 2) * 16 + x, y)),
      Seq({
        case 0 => H264.P8x16((0, 0), (16, 0))
        case _ => H264.PMove(16, 0)
      }))
    val fs = H264.decodeFramesLuma(es, 4)
    assert(fs.map(_._4) == Seq('I', 'P'))
    val p = fs(1)._3
    // MB1 shifted right by 4 px: reads ref x-?? mv +16 quarter-pel =
    // +4 px -> p(x, y) = ref(x + 4) clamped to the 32-wide plane
    for (y <- 0 until 16; x <- 16 until 32) {
      val sx = math.min(31, x + 4)
      assert(p(y * 32 + x) == refPix(sx, y), s"MB1 ($x,$y)")
    }
  }

  test("multi-reference P (round 13): ref_idx selects the older " +
      "picture from the sliding window; over-long lists degrade") {
    def refPix(mbi: Int)(x: Int, y: Int): Int = 50 + 3 * (mbi * 16 + x) + 7 * y
    val sep = Array[Byte](0, 0, 0, 1)
    val es = sep ++ H264.spsNal(2, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(2, 1, mbi => Pcm(refPix(mbi)), 28) ++
      sep ++ H264.pNal(2, 1, _ => H264.PMove(-16, 0), 28, frameNum = 1) ++
      sep ++ H264.pNal(2, 1, {
        case 0 => H264.PMove(0, 0, refIdx = 1) // <- the I, two back
        case _ => H264.PMove(0, 0, refIdx = 0) // <- P1
      }, 28, frameNum = 2, numRef = 2)
    val fs = H264.decodeFramesLuma(es, 8)
    assert(fs.map(_._4) == Seq('I', 'P', 'P'), s"types ${fs.map(_._4)}")
    val i0 = fs(0)._3
    val p1 = fs(1)._3
    val p2 = fs(2)._3
    // MB0 of P2 copies the I (refIdx 1); MB1 copies P1 (refIdx 0)
    for (y <- 0 until 16; x <- 0 until 16) {
      assert(p2(y * 32 + x) == i0(y * 32 + x), s"MB0 ($x,$y) must be the I")
      assert(p2(y * 32 + 16 + x) == p1(y * 32 + 16 + x),
        s"MB1 ($x,$y) must be P1")
    }
    assert(p1.toSeq != i0.toSeq, "P1 must differ from I for the pin to bite")
    // a P asking for 2 references when only the I is decoded: degrade,
    // keeping the I
    val bad = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm((x, y) => 60 + x + y), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28,
        frameNum = 1, numRef = 2)
    assert(H264.decodeFramesLuma(bad, 8).map(_._4) == Seq('I'))
  }

  test("explicit reference reordering (round 14): an op-0 modification " +
      "puts the OLDER picture at refIdx 0; naming a missing picNum " +
      "degrades") {
    def refPix(mbi: Int)(x: Int, y: Int): Int = 50 + 3 * (mbi * 16 + x) + 7 * y
    val sep = Array[Byte](0, 0, 0, 1)
    def stream(withReorder: Boolean) =
      sep ++ H264.spsNal(1, 1, maxRef = 2) ++
        sep ++ H264.ppsNal(28) ++
        sep ++ H264.idrNal(1, 1, _ => Pcm(refPix(0)), 28) ++
        sep ++ H264.pNal(1, 1, _ => H264.PMoveCoded(0, 0,
          blk => blk % 3 - 1), 28, frameNum = 1) ++
        // P2, one active ref: default list head is P1; the reorder op
        // (idc 0, abs_diff 2 -> picNum 0 = the I) swaps the I in front
        sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 2,
          reorder = if (withReorder) Seq((0, 1)) else Nil)
    val plain = H264.decodeFramesLuma(stream(withReorder = false), 8)
    val reord = H264.decodeFramesLuma(stream(withReorder = true), 8)
    assert(plain.map(_._4) == Seq('I', 'P', 'P'))
    assert(reord.map(_._4) == Seq('I', 'P', 'P'))
    assert(plain(2)._3.sameElements(plain(1)._3), "default: P2 copies P1")
    assert(reord(2)._3.sameElements(reord(0)._3), "reordered: P2 copies the I")
    assert(!plain(1)._3.sameElements(plain(0)._3), "P1 differs (pin bites)")
    // an op naming picNum -1 (no such picture): the P slice degrades,
    // earlier frames stay
    val bad = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm(refPix(0)), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 1,
        reorder = Seq((0, 2)))
    assert(H264.decodeFramesLuma(bad, 8).map(_._4) == Seq('I'))
  }

  test("MMCO op 1 (round 14): marking the I unused evicts it — a later " +
      "two-ref P degrades where the sliding window alone would decode") {
    def refPix(x: Int, y: Int): Int = 50 + 3 * x + 7 * y
    val sep = Array[Byte](0, 0, 0, 1)
    def stream(drop: Boolean) =
      sep ++ H264.spsNal(1, 1, maxRef = 2) ++
        sep ++ H264.ppsNal(28) ++
        sep ++ H264.idrNal(1, 1, _ => Pcm(refPix), 28) ++
        // P1 marks the I (picNum 0 = CurrPicNum 1 - 1) unused
        sep ++ H264.pNal(1, 1, _ => H264.PMoveCoded(0, 0,
          blk => blk % 3 - 1), 28, frameNum = 1,
          mmcoDrop = if (drop) Seq(0) else Nil) ++
        // P2 wants BOTH the I and P1 in its list
        sep ++ H264.pNal(1, 1, {
          _ => H264.PMove(0, 0, refIdx = 1)
        }, 28, frameNum = 2, numRef = 2)
    val kept = H264.decodeFramesLuma(stream(drop = false), 8)
    assert(kept.map(_._4) == Seq('I', 'P', 'P'))
    assert(kept(2)._3.sameElements(kept(0)._3), "refIdx 1 reaches the I")
    val dropped = H264.decodeFramesLuma(stream(drop = true), 8)
    assert(dropped.map(_._4) == Seq('I', 'P'),
      s"after MMCO the 2-ref P must degrade: ${dropped.map(_._4)}")
    // single-ref continuation still decodes against P1 after the drop
    val ok = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm(refPix), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMoveCoded(0, 0,
        blk => blk % 3 - 1), 28, frameNum = 1, mmcoDrop = Seq(0)) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 2)
    val fs = H264.decodeFramesLuma(ok, 8)
    assert(fs.map(_._4) == Seq('I', 'P', 'P'))
    assert(fs(2)._3.sameElements(fs(1)._3), "P2 copies P1, the sole ref")
    // MMCO naming a picture not in the window degrades the P itself
    val bad = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm(refPix), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 1,
        mmcoDrop = Seq(3))
    assert(H264.decodeFramesLuma(bad, 8).map(_._4) == Seq('I'))
  }

  test("explicit weighted prediction (round 13): w=3 denom=1 o=10 " +
      "applies ((g*3+1)>>1)+10 clipped; skip MBs weight too") {
    def refPix(x: Int, y: Int): Int = 40 + 3 * x + 7 * y
    def wp(g: Int): Int =
      math.max(0, math.min(255, ((g * 3 + 1) >> 1) + 10))
    val sep = Array[Byte](0, 0, 0, 1)
    val es = sep ++ H264.spsNal(1, 1) ++
      sep ++ H264.ppsNal(28, weighted = true) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm(refPix), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28,
        frameNum = 1, weight = Some((1, 3, 10))) ++
      sep ++ H264.pNal(1, 1, _ => H264.PSkip, 28,
        frameNum = 2, weight = Some((1, 3, 10)))
    val fs = H264.decodeFramesLuma(es, 8)
    assert(fs.map(_._4) == Seq('I', 'P', 'P'))
    val p1 = fs(1)._3
    val p2 = fs(2)._3
    for (y <- 0 until 16; x <- 0 until 16) {
      assert(p1(y * 16 + x) == wp(refPix(x, y)), s"P1 ($x,$y)")
      // the skip P weights its reference (= P1) again
      assert(p2(y * 16 + x) == wp(p1(y * 16 + x)), s"P2 skip ($x,$y)")
    }
    // identity weights leave the frame bit-exact
    val esId = sep ++ H264.spsNal(1, 1) ++
      sep ++ H264.ppsNal(28, weighted = true) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm(refPix), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28,
        frameNum = 1, weight = Some((1, 2, 0))) // 1<<denom, offset 0
    val fsId = H264.decodeFramesLuma(esId, 8)
    assert(fsId(1)._3.sameElements(fsId(0)._3))
  }

  test("multi-slice pictures (round 13): prediction never crosses the " +
      "slice boundary; idc 2 exempts the boundary from the loop filter") {
    val sep = Array[Byte](0, 0, 0, 1)
    // 1x2 picture, one slice per MB row, I16 DC in both. In a SINGLE
    // slice MB1's DC predicts from MB0's bottom edge (133) -> 136;
    // across a slice boundary the top neighbor is UNAVAILABLE -> DC
    // falls back to 128 -> 131.
    def stream(slices: Boolean): Array[Byte] = {
      val head = sep ++ H264.spsNal(1, 2) ++ sep ++ H264.ppsNal(28)
      if (slices)
        head ++ sep ++ H264.idrNal(1, 2, _ => I16Dc(5), 28,
            firstMb = 0, mbCount = 1) ++
          sep ++ H264.idrNal(1, 2, _ => I16Dc(3), 28,
            firstMb = 1, mbCount = 1)
      else head ++ sep ++ H264.idrNal(1, 2,
        mbi => I16Dc(if (mbi == 0) 5 else 3), 28)
    }
    val two = H264.decodeFramesLuma(stream(slices = true), 4)
    val one = H264.decodeFramesLuma(stream(slices = false), 4)
    assert(two.map(_._4) == Seq('I') && one.map(_._4) == Seq('I'),
      "both forms decode one picture")
    val l2 = two.head._3
    val l1 = one.head._3
    assert(l2(0) == 133 && l1(0) == 133, "MB0 identical in both")
    assert(l1(16 * 16) == 136, "single slice: MB1 predicts from MB0")
    assert(l2(16 * 16) == 131,
      "two slices: MB1's top neighbor is another slice -> DC 128 + 3")
    // deblocking across the boundary: flat 133-vs-131 step at y=16.
    // idc 0 filters it (bS 4 strong, both sides flat); idc 2 must NOT
    // filter the cross-slice MB edge and leaves the step bit-exact.
    def deblocked(idc: Int): Array[Int] = {
      val es = sep ++ H264.spsNal(1, 2) ++ sep ++ H264.ppsNal(28) ++
        sep ++ H264.idrNal(1, 2, _ => I16Dc(5), 28,
          firstMb = 0, mbCount = 1, idcOverride = idc) ++
        sep ++ H264.idrNal(1, 2, _ => I16Dc(3), 28,
          firstMb = 1, mbCount = 1, idcOverride = idc)
      H264.decodeFramesLuma(es, 4).head._3
    }
    val f0 = deblocked(0)
    val f2 = deblocked(2)
    assert(f2.sameElements(l2),
      "idc 2: the only active edge is cross-slice -> picture unchanged")
    val a = 133; val b = 131
    assert(f0(15 * 16) == (5 * a + 3 * b + 4) >> 3, "idc 0: p0' filtered")
    assert(f0(16 * 16) == (5 * b + 3 * a + 4) >> 3, "idc 0: q0' filtered")
    // an incomplete picture (second slice missing) yields NO frame
    val cut = sep ++ H264.spsNal(1, 2) ++ sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 2, _ => I16Dc(5), 28, firstMb = 0, mbCount = 1)
    assert(H264.decodeFramesLuma(cut, 4).isEmpty,
      "half-covered picture must not emit")
    // a COMPLETE pending picture still emits when a LATER slice NAL is
    // garbage (round-13 review: the walk must flush, not drop)
    val goodThenBad = sep ++ H264.spsNal(1, 1) ++ sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => I16Dc(5), 28) ++
      sep ++ Array[Byte](0x65, 0x00) // truncated IDR slice NAL
    val flushed = H264.decodeFramesLuma(goodThenBad, 4)
    assert(flushed.map(_._4) == Seq('I'),
      "complete picture before the bad NAL must emit")
    assert(flushed.head._3(0) == 133)
  }

  // ---- round 15: long-term references + MMCO ops 2-6 ---------------

  test("MMCO op 6: a self-marked long-term picture survives the " +
      "sliding window and op 2 evicts it") {
    val sep = Array[Byte](0, 0, 0, 1)
    def res1(blk: Int): Int = blk % 3 - 1
    val es = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm((x, y) => 60 + x + 2 * y), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMoveCoded(0, 0, res1), 28,
        frameNum = 1, mmcoOps = Seq(Seq(6, 0))) ++ // P1 long-term 0
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 2) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 3) ++
      // P4: window holds [P3 short, P1 long] — refIdx 1 hits the
      // long-term P1 even though P2 already slid out
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0, refIdx = 1), 28,
        frameNum = 4, numRef = 2) ++
      // P5 drops the long-term (op 2, long_term_pic_num 0)
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 5,
        mmcoOps = Seq(Seq(2, 0))) ++
      // P6: [P5, P4] — refIdx 1 is now P4, not P1
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0, refIdx = 1), 28,
        frameNum = 6, numRef = 2)
    val fs = H264.decodeFramesLuma(es, 8)
    assert(fs.map(_._4) == Seq('I', 'P', 'P', 'P', 'P', 'P', 'P'),
      s"${fs.map(_._4)}")
    assert(fs(4)._3.sameElements(fs(1)._3),
      "P4 must reproduce the long-term P1 exactly")
    assert(fs(6)._3.sameElements(fs(4)._3),
      "after op 2 the second list slot is P4")
  }

  test("MMCO op 3 converts a short-term to long-term; reorder idc 2 " +
      "addresses it by long_term_pic_num; op 4 evicts it") {
    val sep = Array[Byte](0, 0, 0, 1)
    def res1(blk: Int): Int = (blk + 1) % 3 - 1
    val es = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm((x, y) => 70 + 2 * x + y), 28) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMoveCoded(0, 0, res1), 28,
        frameNum = 1) ++
      // P2 converts P1 (picNumX = 1) to LongTermFrameIdx 0
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 2,
        mmcoOps = Seq(Seq(3, 0, 0))) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 3) ++
      // P4 reorders the long-term to the FRONT of its list
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 4,
        reorder = Seq((2, 0))) ++
      // P5 drops every long-term via op 4 (max_long_term+1 = 0), then
      // P6's two-slot list is short-terms only
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 5,
        mmcoOps = Seq(Seq(4, 0))) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0, refIdx = 1), 28,
        frameNum = 6, numRef = 2)
    val fs = H264.decodeFramesLuma(es, 8)
    assert(fs.map(_._4) == Seq('I', 'P', 'P', 'P', 'P', 'P', 'P'),
      s"${fs.map(_._4)}")
    assert(fs(4)._3.sameElements(fs(1)._3),
      "reorder idc 2 must front the converted long-term P1")
    assert(fs(6)._3.sameElements(fs(4)._3),
      "after op 4 the second slot is the short-term P4")
  }

  test("MMCO op 5 resets the window and re-bases frame_num: the next " +
      "picture carries frame_num 1 and sees only the reset picture") {
    val sep = Array[Byte](0, 0, 0, 1)
    def head = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm((x, y) => 90 + x + y), 28) ++
      sep ++ H264.pNal(1, 1,
        _ => H264.PMoveCoded(0, 0, blk => blk % 3 - 1), 28,
        frameNum = 1)
    val withReset = head ++
      sep ++ H264.pNal(1, 1,
        _ => H264.PMoveCoded(0, 0, blk => (blk + 1) % 3 - 1), 28,
        frameNum = 2, mmcoOps = Seq(Seq(5))) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 1)
    val fs = H264.decodeFramesLuma(withReset, 6)
    assert(fs.map(_._4) == Seq('I', 'P', 'P', 'P'), s"${fs.map(_._4)}")
    assert(fs(3)._3.sameElements(fs(2)._3),
      "post-reset P copies the mmco5 picture")
    // control: the same frame_num-1 continuation WITHOUT the reset
    // violates frame_num continuity and degrades
    val without = head ++
      sep ++ H264.pNal(1, 1,
        _ => H264.PMoveCoded(0, 0, blk => (blk + 1) % 3 - 1), 28,
        frameNum = 2) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 1)
    assert(H264.decodeFramesLuma(without, 6).map(_._4) ==
      Seq('I', 'P', 'P'), "no reset -> fn gap degrade")
  }

  test("IDR long_term_reference_flag: the IDR persists as long-term " +
      "index 0 past the sliding window") {
    val sep = Array[Byte](0, 0, 0, 1)
    val es = sep ++ H264.spsNal(1, 1, maxRef = 2) ++
      sep ++ H264.ppsNal(28) ++
      sep ++ H264.idrNal(1, 1, _ => Pcm((x, y) => 45 + 3 * x + y), 28,
        longTermRef = true) ++
      sep ++ H264.pNal(1, 1,
        _ => H264.PMoveCoded(0, 0, blk => blk % 5 - 2), 28,
        frameNum = 1) ++
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0), 28, frameNum = 2) ++
      // window: [P2 short, IDR long] — P1 slid out; refIdx 1 = IDR
      sep ++ H264.pNal(1, 1, _ => H264.PMove(0, 0, refIdx = 1), 28,
        frameNum = 3, numRef = 2)
    val fs = H264.decodeFramesLuma(es, 6)
    assert(fs.map(_._4) == Seq('I', 'P', 'P', 'P'), s"${fs.map(_._4)}")
    assert(fs(3)._3.sameElements(fs(0)._3),
      "P3's second list slot must be the long-term IDR")
  }

  test("corruption fuzz: bit flips and truncations over a stream using " +
      "every decoded feature degrade, never throw, never over-emit") {
    // one stream exercising multi-slice, I_4x4, deblocking, P
    // partitions, residuals, multi-reference and weighted prediction
    val sep = Array[Byte](0, 0, 0, 1)
    val base = sep ++ H264.spsNal(2, 2, maxRef = 2) ++
      sep ++ H264.ppsNal(28, weighted = true) ++
      sep ++ H264.idrNal(2, 2, {
        case 0 => H264.I4x4(_ => 2, blk => if (blk == 0) 2 else 0)
        case 1 => Pcm((x, y) => 60 + x + 2 * y)
        case _ => I16Dc(3)
      }, 28, deblock = true, firstMb = 0, mbCount = 2) ++
      sep ++ H264.idrNal(2, 2, {
        case 2 => I16Dc(-2)
        case _ => H264.I4x4(_ => 2)
      }, 28, deblock = true, firstMb = 2, mbCount = 2) ++
      sep ++ H264.pNal(2, 2, {
        case 0 => H264.P16x8((0, 0), (4, 0))
        case 1 => H264.P8x8(Seq((0, 0), (-4, 0), (0, -4), (0, 0)))
        case 2 => H264.PMoveCoded(0, 0, blk => blk % 3 - 1)
        case _ => H264.PSkip
      }, 28, frameNum = 1, weight = Some((1, 3, 4))) ++
      sep ++ H264.pNal(2, 2, {
        case 0 => H264.PMove(0, 0, refIdx = 1)
        case _ => H264.PMove(0, 0)
        // identity weights: a weighted PPS makes the table mandatory
      }, 28, frameNum = 2, numRef = 2, weight = Some((1, 2, 0))) ++
      // an explicitly REORDERED P (op 0 swaps the older ref in front)
      // and an MMCO op-1 P (evicts picNum 3) join the fuzz surface
      sep ++ H264.pNal(2, 2, _ => H264.PMove(0, 0), 28, frameNum = 3,
        reorder = Seq((0, 1)), weight = Some((1, 2, 0))) ++
      sep ++ H264.pNal(2, 2, _ => H264.PMove(0, 0), 28, frameNum = 4,
        mmcoDrop = Seq(0), weight = Some((1, 2, 0))) ++
      // round 15: long-term ops join the fuzz surface — op 6
      // self-marking, then a reorder-to-long (idc 2) + op-2 drop
      sep ++ H264.pNal(2, 2, _ => H264.PMove(0, 0), 28, frameNum = 5,
        mmcoOps = Seq(Seq(6, 0)), weight = Some((1, 2, 0))) ++
      sep ++ H264.pNal(2, 2, _ => H264.PMove(0, 0, refIdx = 1), 28,
        frameNum = 6, numRef = 2, reorder = Seq((2, 0)),
        mmcoOps = Seq(Seq(2, 0)), weight = Some((1, 2, 0)))
    // sanity: the clean stream decodes fully
    assert(H264.decodeFramesLuma(base, 10).map(_._4) ==
      Seq('I', 'P', 'P', 'P', 'P', 'P', 'P'))
    val rnd = new java.util.Random(20260816L)
    var trials = 0
    while (trials < 300) {
      val mutated = base.clone()
      val kind = trials % 3
      if (kind == 0) { // flip 1-4 bits anywhere
        var f = 0
        val nf = 1 + rnd.nextInt(4)
        while (f < nf) {
          val i = rnd.nextInt(mutated.length)
          mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
          f += 1
        }
        val out = H264.decodeFramesLuma(mutated, 10)
        assert(out.length <= 10)
      } else if (kind == 1) { // truncate
        val cut = 1 + rnd.nextInt(mutated.length - 1)
        val out = H264.decodeFramesLuma(mutated.take(cut), 10)
        assert(out.length <= 10)
      } else { // splice a garbage run
        val at = rnd.nextInt(mutated.length)
        val len = math.min(1 + rnd.nextInt(16), mutated.length - at)
        var i = 0
        while (i < len) { mutated(at + i) = rnd.nextInt(256).toByte; i += 1 }
        val out = H264.decodeFramesLuma(mutated, 10)
        assert(out.length <= 10)
      }
      trials += 1
    }
  }

  test("deblocking no-op cases: flat picture unchanged; PCM edges " +
      "filter at QP 0 (alpha 0) and stay bit-exact") {
    // flat I_4x4 picture, filter on: every edge has p0 == q0
    val flat = H264.encodeIFrame(1, 1,
      _ => H264.I4x4(_ => 2, blk => if (blk == 0) 3 else 0),
      qp = 28, deblock = true)
    val noF = H264.encodeIFrame(1, 1,
      _ => H264.I4x4(_ => 2, blk => if (blk == 0) 3 else 0), qp = 28)
    val Some((_, _, l1)) = H264.decodeIFrameLuma(flat): @unchecked
    val Some((_, _, l2)) = H264.decodeIFrameLuma(noF): @unchecked
    assert(l1.sameElements(l2))
    // PCM quadrants with the filter on: I_PCM filters at QP 0 ->
    // alpha(0) = 0 -> untouched even across hard edges
    val pcmOn = H264.encodeIFrame(2, 2, mb =>
      Pcm((_, _) => 40 + 60 * mb), qp = 28, deblock = true)
    val pcmOff = H264.encodeIFrame(2, 2, mb =>
      Pcm((_, _) => 40 + 60 * mb), qp = 28)
    val Some((_, _, p1)) = H264.decodeIFrameLuma(pcmOn): @unchecked
    val Some((_, _, p2)) = H264.decodeIFrameLuma(pcmOff): @unchecked
    assert(p1.sameElements(p2))
  }

  // ---- out-of-tier streams degrade ---------------------------------
  // (the High-profile cases are in H264HighSpec) Each fixture below is the byte-exact output of an encoder this
  // decoder's tier no longer carries (named per test), captured once
  // from the commit that still had it. That commit decoded every one
  // of them exactly, so each test proves a clean refusal of a
  // well-formed stream, not a refusal of garbage.

  import H264Spec.unhex

  test("out-of-tier: a CABAC I frame decodes to nothing and the " +
      "dispatch falls back") {
    // encodeIFrameCabac(1, 1, _ => I16Dc(5)): flat 133 when decoded
    val es = unhex(
      "000000016742000af4f20000000168ee09c8000000016588840afd09" +
      "cc87")
    assert(H264.decodeFramesLuma(es, 4).isEmpty)
    assert(!graft.ext.Multimodal.decode(es)._4)
  }

  test("out-of-tier: an I-P-B-P CAVLC stream keeps exactly its I and " +
      "P frames and nothing from the B onward") {
    // encodeIPBStream(1, 1, _ => I16Dc(2), Seq(
    //   Pf(_ => PMoveCoded(0, 0, blk => blk % 3 - 1)),
    //   Bf(_ => BFwd(0, 0), pocLsb = 1), Pf(_ => PMove(0, 0))))
    val es = unhex(
      "000000016742000af6f20000000168ce09c8000000016588840a262f" +
      "00000001419a242bc65eaf57abd5eaf000000001019e43155e000000" +
      "01419a482bf0")
    // the I and P luma planes that stream decoded to, byte for byte
    val iLuma = Array.fill(256)(130)
    val pLuma = unhex(
      "7e7e7e7e8282828282828282868686867e7e7e7e8282828282828282" +
      "868686867e7e7e7e8282828282828282868686867e7e7e7e82828282" +
      "8282828286868686868686867e7e7e7e7e7e7e7e8282828286868686" +
      "7e7e7e7e7e7e7e7e82828282868686867e7e7e7e7e7e7e7e82828282" +
      "868686867e7e7e7e7e7e7e7e82828282868686867e7e7e7e7e7e7e7e" +
      "82828282868686867e7e7e7e7e7e7e7e82828282868686867e7e7e7e" +
      "7e7e7e7e82828282868686867e7e7e7e7e7e7e7e8282828282828282" +
      "86868686868686867e7e7e7e8282828286868686868686867e7e7e7e" +
      "8282828286868686868686867e7e7e7e828282828686868686868686" +
      "7e7e7e7e").map(_ & 0xFF)
    val fs = H264.decodeFramesLuma(es, 8)
    assert(fs.map(_._4) == Seq('I', 'P'), s"${fs.map(_._4)}")
    assert(fs(0)._3.sameElements(iLuma))
    assert(fs(1)._3.sameElements(pLuma))
  }
}

object H264Spec {
  /** Bytes of a hex literal: the out-of-tier stream fixtures. */
  def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
