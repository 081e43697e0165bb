package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** CABAC arithmetic engine contracts: arbitrary bin sequences
  * round-trip bit-exactly through [[H264Cabac.Enc]] and
  * [[H264Cabac.Dec]], and the flush leaves encoder and decoder at the
  * same bit position. [[Hevc]]'s slice data rides this engine. */
class H264CabacSpec extends AnyFunSuite {

  // Any int8 (m, n) table exercises the engine: 276 seeded random
  // pairs, so every ctxIdx below has its own init state.
  private val Init: Array[Int] = {
    val rnd = new java.util.Random(276)
    Array.fill(276 * 2)(rnd.nextInt(256) - 128)
  }

  test("arithmetic engine: seeded random decision/bypass/terminate " +
      "sequences round-trip bit-exactly") {
    val rnd = new java.util.Random(0xCABAC)
    var trial = 0
    while (trial < 50) {
      val qp = rnd.nextInt(52)
      val n = 50 + rnd.nextInt(400)
      // op: 0 = decision(ctx), 1 = bypass; terminate(false) sprinkled;
      // final terminate(true) flushes
      val ops = Array.fill(n)(rnd.nextInt(10))
      val ctxs = Array.fill(n)(rnd.nextInt(276))
      val bins = Array.fill(n)(rnd.nextBoolean())
      val encCtx = new H264Cabac.Ctx(qp, Init)
      val enc = new H264Cabac.Enc
      var i = 0
      while (i < n) {
        if (ops(i) == 0) enc.terminate(bin = false)
        else if (ops(i) <= 5) enc.decision(encCtx, ctxs(i), bins(i))
        else enc.bypass(bins(i))
        i += 1
      }
      enc.terminate(bin = true)
      val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
      enc.drain(bits += _)
      // pack to bytes (zero-pad tail like rbsp alignment)
      val bytes = new Array[Byte]((bits.length + 7) / 8)
      bits.zipWithIndex.foreach { case (b, k) =>
        if (b == 1) bytes(k >> 3) = (bytes(k >> 3) | (1 << (7 - (k & 7)))).toByte
      }
      val decCtx = new H264Cabac.Ctx(qp, Init)
      val dec = new H264Cabac.Dec(bytes, 0)
      assert(dec.valid, s"trial $trial: invalid init")
      i = 0
      while (i < n) {
        if (ops(i) == 0) assert(!dec.terminate(), s"trial $trial op $i")
        else if (ops(i) <= 5)
          assert(dec.decision(decCtx, ctxs(i)) == bins(i),
            s"trial $trial decision $i (ctx ${ctxs(i)})")
        else assert(dec.bypass() == bins(i), s"trial $trial bypass $i")
        i += 1
      }
      assert(dec.terminate(), s"trial $trial: final terminate")
      assert(dec.overrun == 0, s"trial $trial: overrun ${dec.overrun}")
      // context pools must track identically (same adaptation path)
      assert(encCtx.state.sameElements(decCtx.state) &&
        encCtx.mps.sameElements(decCtx.mps),
        s"trial $trial: context pools diverged")
      trial += 1
    }
  }

  test("engine flush invariant: emitted bits == decoder-consumed bits " +
      "(the I_PCM alignment contract)") {
    val rnd = new java.util.Random(99)
    for (n <- Seq(0, 1, 7, 64, 257)) {
      val cx = new H264Cabac.Ctx(28, Init)
      val enc = new H264Cabac.Enc
      val bins = Array.fill(n)(rnd.nextBoolean())
      bins.foreach(b => enc.decision(cx, 3 + (n % 270), b))
      enc.terminate(bin = true)
      val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
      enc.drain(bits += _)
      val bytes = new Array[Byte]((bits.length + 7) / 8)
      bits.zipWithIndex.foreach { case (b, k) =>
        if (b == 1) bytes(k >> 3) = (bytes(k >> 3) | (1 << (7 - (k & 7)))).toByte
      }
      val cx2 = new H264Cabac.Ctx(28, Init)
      val dec = new H264Cabac.Dec(bytes, 0)
      bins.foreach(b => assert(dec.decision(cx2, 3 + (n % 270)) == b))
      assert(dec.terminate())
      assert(dec.bitPos == bits.length,
        s"n=$n: E=${bits.length} D=${dec.bitPos}")
    }
  }
}
