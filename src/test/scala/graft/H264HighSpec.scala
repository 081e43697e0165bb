package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.H264
import graft.ext.H264.I4x4
import graft.H264Spec.unhex

/** High-profile contract: an SPS with profile_idc 100 that turns on no
  * High tool (4:2:0, 8-bit, no lossless bypass, no scaling matrices)
  * decodes like Main; an SPS or PPS that turns one on is refused, so
  * the stream decodes to nothing. The fixtures are the byte-exact
  * output of the High-profile fixture encoder (`encodeIFrameHigh`,
  * since deleted), captured from the commit that still had it and
  * decoded every one of them exactly.
  */
class H264HighSpec extends AnyFunSuite {

  test("High-profile SPS without matrices decodes exactly like baseline") {
    val mb = (_: Int) => I4x4(_ => 2, blk => if (blk == 0) 3 else 0)
    val base = H264.decodeFramesLuma(H264.encodeIFrame(1, 1, mb), 2)
    // the same picture behind a profile-100 SPS (4:2:0, 8-bit, no
    // seq_scaling_matrix); only the SPS differs from the baseline
    // stream above
    val high = H264.decodeFramesLuma(unhex(
      "000000016764000aace9e40000000168ce09c8000000016588840aff" +
      "ffc3d14fc0"), 2)
    assert(base.length == 1 && high.length == 1)
    assert(high.head._3.sameElements(base.head._3))
    // qp 28, flat weight 16: a lone 4x4 DC coefficient c = 3 adds
    // (16·16·c + 32) >> 6 = 4c = 12 to every sample
    assert(base.head._3.forall(_ == 128 + 12))
  }

  test("out-of-tier: a High SPS with seq scaling matrices is refused " +
      "even under a plain CAVLC PPS") {
    // encodeIFrameHigh(1, 1, _ => I4x4(_ => 2, b => if (b == 0) 3 else 0),
    //   seqScal4 = 6 x flat 20, seqScal8 = 2 x flat 20): flat 143 when
    // decoded; without the SPS matrices the same slice decodes to 140
    val es = unhex(
      "000000016764000aad863fffc31fffe18ffff0c7fff863fffc31fffe18" +
      "ffffffffffffffff0c7fffffffffffffffe9e40000000168ce09c800" +
      "0000016588840affffc3d14fc0")
    assert(H264.decodeFramesLuma(es, 4).isEmpty)
    assert(!graft.ext.Multimodal.decode(es)._4)
  }

  test("out-of-tier: a High-profile Intra_8x8 frame decodes to nothing") {
    // encodeIFrameHigh(1, 1, _ => I8x8(_ => 2, b => b - 1),
    //   transform8x8 = true)
    val es = unhex(
      "000000016764000aace9e40000000168ce09cb000000016588840afe" +
      "2efd78bf80")
    assert(H264.decodeFramesLuma(es, 4).isEmpty)
  }
}
