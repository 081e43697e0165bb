package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.H264
import graft.ext.H264.{I16Dc, Pcm, PMove}

/** H.264 chroma reconstruction contracts (round 14). Expected values
  * are HAND-COMPUTED from the spec formulas:
  *  - I_PCM chroma is raw samples, bit-exact.
  *  - I16 chroma DC residual at qp 28 (QPc = 28): a lone +1 chroma DC
  *    coefficient at scan position tz dequantizes to f * 256 << 4 >> 5
  *    = ±128 per 2x2 DC slot, and a lone-DC 4x4 block adds
  *    (±128 + 32) >> 6 = +2 / −2 to every sample of its quadrant.
  *    Quadrant sign pattern by tz: 0 -> ++++ ; 1 -> left + / right − ;
  *    2 -> top + / bottom − ; 3 -> diag + / anti −.
  *  - Inter chroma MC is eighth-pel bilinear (8.4.2.2.2); integer
  *    chroma vectors copy exactly, xFrac = 2 blends (6a + 2b)/8 with
  *    the +32 >> 6 rounding.
  *  - Chroma deblock (8.7.2.4): bS 4 at an intra MB edge applies the
  *    2-tap strong filter to p0/q0 only. */
class H264ChromaSpec extends AnyFunSuite {

  private def yuv(es: Array[Byte], n: Int = 4) = H264.decodeFramesYuv(es, n)

  test("I_PCM chroma round-trips bit-exactly") {
    def cbP(x: Int, y: Int) = (40 + 3 * x + 11 * y) % 256
    def crP(x: Int, y: Int) = (200 - 5 * x - 7 * y + 256) % 256
    val es = H264.encodeIFrame(1, 1, _ => Pcm((x, y) => 77, cbP, crP))
    val Seq((w, h, _, cb, cr, 'I')) = yuv(es)
    assert(w == 16 && h == 16)
    for (y <- 0 until 8; x <- 0 until 8) {
      assert(cb(y * 8 + x) == cbP(x, y), s"cb($x,$y)")
      assert(cr(y * 8 + x) == crP(x, y), s"cr($x,$y)")
    }
  }

  test("I16 chroma DC residual: the four tz quadrant sign patterns " +
      "match the hand formula") {
    val signs = Map(
      0 -> ((bx: Int, by: Int) => 1),
      1 -> ((bx: Int, by: Int) => 1 - 2 * bx),
      2 -> ((bx: Int, by: Int) => 1 - 2 * by),
      3 -> ((bx: Int, by: Int) => (1 - 2 * bx) * (1 - 2 * by)))
    for (tz <- 0 to 3) {
      val fs = yuv(H264.encodeIFrame(1, 1, _ => I16Dc(3, chromaDcTz = tz)))
      assert(fs.nonEmpty, s"tz $tz")
      val (_, _, luma, cb, cr, _) = fs.head
      assert(luma.forall(_ == 131), s"tz $tz luma flat 131")
      for (y <- 0 until 8; x <- 0 until 8) {
        val exp = 128 + 2 * signs(tz)(x / 4, y / 4)
        assert(cb(y * 8 + x) == exp, s"tz $tz cb($x,$y)")
        assert(cr(y * 8 + x) == exp, s"tz $tz cr($x,$y)")
      }
    }
  }

  test("intra chroma horizontal prediction reads the left neighbor's " +
      "reconstructed column") {
    def cbP(x: Int, y: Int) = 40 + x + 10 * y
    val es = H264.encodeIFrame(2, 1, {
      case 0 => Pcm((_, _) => 90, cbP, (x, y) => 30 + 2 * x + 5 * y)
      case _ => I16Dc(0, chromaPred = 1) // horizontal, from the PCM MB
    })
    val Seq((_, _, _, cb, cr, _)) = yuv(es)
    for (y <- 0 until 8; x <- 8 until 16) {
      assert(cb(y * 16 + x) == cbP(7, y), s"cb($x,$y)")
      assert(cr(y * 16 + x) == 30 + 2 * 7 + 5 * y, s"cr($x,$y)")
    }
  }

  test("inter chroma: zero-MV P copies; -64 quarter-pel shifts chroma " +
      "8 left with edge clamp; xFrac 2 bilinear blends exactly") {
    def cbP(x: Int, y: Int) = 40 + 4 * x // slope 4 so the blend shows
    val base = H264.encodeIPStream(1, 1,
      _ => Pcm((_, _) => 90, cbP, (x, _) => 200 - 4 * x),
      Seq(_ => PMove(0, 0)))
    val f0 = yuv(base)
    assert(f0.length == 2)
    assert(f0(1)._4.sameElements(f0(0)._4) && f0(1)._5.sameElements(f0(0)._5),
      "zero-MV P copies chroma exactly")
    // quarter-pel -64 = chroma -8 integer: every chroma col clamps to
    // the plane's left edge column (col 0)
    val shifted = yuv(H264.encodeIPStream(1, 1,
      _ => Pcm((_, _) => 90, cbP, (x, _) => 200 - 4 * x),
      Seq(_ => PMove(-64, 0))))
    val cbS = shifted(1)._4
    for (y <- 0 until 8; x <- 0 until 8)
      assert(cbS(y * 8 + x) == cbP(0, y), s"clamped cb($x,$y)")
    // luma +2 quarter-pel -> chroma xFrac 2: (48a + 16b + 32) >> 6
    val blend = yuv(H264.encodeIPStream(1, 1,
      _ => Pcm((_, _) => 90, cbP, (x, _) => 200 - 4 * x),
      Seq(_ => PMove(2, 0))))
    val cbB = blend(1)._4
    for (y <- 0 until 8; x <- 0 until 8) {
      val a = cbP(math.min(x, 7), 0)
      val b = cbP(math.min(x + 1, 7), 0)
      assert(cbB(y * 8 + x) == (48 * a + 16 * b + 32) >> 6,
        s"blend cb($x,$y)")
    }
  }

  test("chroma deblock: bS 4 strong filter across an intra MB edge " +
      "touches exactly p0/q0 with the 2-tap formula") {
    // MB0 chroma 130 (tz 0 residual +2), MB1 chroma pred 130 + 2 =
    // 132: a step of 2 at chroma col 8. qp 28 -> QPc 28, alpha 20,
    // beta 7: filterable. p0' = (2*130+130+132+2)>>2 = 131,
    // q0' = (2*132+132+130+2)>>2 = 132 (unchanged).
    val es = H264.encodeIFrame(2, 1, {
      case 0 => I16Dc(0, chromaDcTz = 0)
      case _ => I16Dc(0, chromaDcTz = 0)
    }, deblock = true)
    val Seq((_, _, _, cb, _, _)) = yuv(es)
    for (y <- 0 until 8) {
      assert(cb(y * 16 + 7) == 131, s"p0 row $y: ${cb(y * 16 + 7)}")
      assert(cb(y * 16 + 8) == 132, s"q0 row $y: ${cb(y * 16 + 8)}")
      assert(cb(y * 16 + 6) == 130, s"p1 untouched row $y")
      assert(cb(y * 16 + 9) == 132, s"q1 untouched row $y")
    }
  }
}
