package graft

import java.nio.file.Files
import graft.ext.Multimodal
import graft.sources.CsvSeries

/** Multimodal binary plumbing + CSV source/sink surface. */
class MultimodalSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("asBinaryTable produces binary payload + byte metadata") {
    val df = Seq((1L, "héllo")).toDF("doc_id", "text")
    val row = Multimodal.asBinaryTable(df, "doc_id", "text", "text/plain").head()
    assert(row.getAs[Array[Byte]]("content").length == 6) // é is 2 bytes utf-8
    assert(row.getAs[Long]("n_bytes") == 6)
    assert(row.getAs[String]("media_type") == "text/plain")
  }

  test("extractFeatures is deterministic, batched per partition, normalized") {
    val media = Seq(
      Multimodal.MediaRow(1L, Array[Byte](0, 1, 2, 3)),
      Multimodal.MediaRow(2L, Array[Byte](0, 1, 2, 3)),
      Multimodal.MediaRow(3L, Array.fill[Byte](100)(-1))).toDS().repartition(2)
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.id)
    assert(out(0).feature.toSeq == out(1).feature.toSeq) // deterministic
    assert(math.abs(out(2).feature.sum - 1.0) < 1e-9)    // histogram normalized
    assert(out(2).width == 10 && out(2).height == 10)    // sqrt(100)
  }

  test("real image decode: BMP round-trip reproduces closed-form pixel stats; PNG too") {
    // syntheticBmp pixel channels are pure functions of (id, x, y) —
    // recompute the expected moments directly and compare to the
    // decoded values (BMP is lossless, so equality is exact)
    val id = 42L
    val decoded = Multimodal.decodeImage(Multimodal.syntheticBmp(id))
    assert(decoded.isDefined)
    val (w, h, feat) = decoded.get
    assert(w == 8 && h == 8)
    val rs = for (y <- 0 until 8; x <- 0 until 8) yield ((id * 31 + x * 7 + y * 13) % 256).toDouble
    val meanR = rs.sum / 64.0
    val stdR = math.sqrt(rs.map(v => v * v).sum / 64.0 - meanR * meanR)
    assert(feat(0) == meanR && feat(3) == stdR)

    // PNG path (lossless too): re-encode the same pattern as PNG
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.syntheticBmp(id)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = Multimodal.decodeImage(bos.toByteArray)
    assert(png.isDefined && png.get._3.toSeq == feat.toSeq)

    // non-image payloads fall back to the byte-histogram stub
    assert(Multimodal.decodeImage("plain text, not an image".getBytes("UTF-8")).isEmpty)

    // recognized-but-corrupt payload (valid BMP header, truncated body):
    // must degrade to None, never throw — one bad record can't be
    // allowed to kill a job
    val truncated = Multimodal.syntheticBmp(7L).take(20)
    assert(Multimodal.decodeImage(truncated).isEmpty)
  }

  test("real audio decode: WAV round-trip reproduces closed-form sample stats") {
    // syntheticWav samples are pure functions of (id, t) — recompute
    // the expected amplitude stats directly and compare to the decoded
    // values (PCM is lossless; n=64 is a power of two, so the moment
    // divisions are exact in doubles)
    val id = 42L
    val decoded = Multimodal.decodeAudio(Multimodal.syntheticWav(id))
    assert(decoded.isDefined)
    val (rate, channels, n, st) = decoded.get
    assert(rate == 8000f && channels == 1 && n == 64L)
    val ss = (0 until 64).map(t => Multimodal.syntheticWavSample(id, t).toDouble)
    assert(st(0) == ss.sum / 64.0)
    assert(st(1) == math.sqrt(ss.map(v => v * v).sum / 64.0))
    val zc = (1 until 64).count(t => (ss(t) >= 0) != (ss(t - 1) >= 0))
    assert(st(2) == zc.toDouble && st(3) == ss.min && st(4) == ss.max)

    // non-audio payloads: None, never throw (bad record ≠ dead job)
    assert(Multimodal.decodeAudio("plain text, not audio".getBytes("UTF-8")).isEmpty)
    val truncated = Multimodal.syntheticWav(7L).take(30)
    assert(Multimodal.decodeAudio(truncated).isEmpty)
  }

  test("audioEnergyWindows: PCM windows match closed form, silence flag exact, bad bytes degrade") {
    // quiet doc (mod=16): every 16-sample window's integer sum-of-squares
    // is bounded by 16*15^2 = 3600 < threshold -> all silent; loud doc
    // keeps the full +/-2000 swing -> none silent
    val media = Seq(
      Multimodal.MediaRow(14L, Multimodal.syntheticWav(14L, mod = 16)), // 14 % 7 == 0
      Multimodal.MediaRow(3L, Multimodal.syntheticWav(3L)),
      Multimodal.MediaRow(9L, "not audio at all".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.audioEnergyWindows(media, 16, 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(r => (r._1, r._2))
    assert(rows.map(_._1).distinct.toSeq == Seq(3L, 14L)) // bad bytes -> no rows, no throw
    assert(rows.count(_._1 == 14L) == 4 && rows.count(_._1 == 3L) == 4) // 64/16 windows
    for ((id, win, ss, rms, silent) <- rows) {
      val mod = if (id % 7 == 0) 16 else 0
      val exp = (win.toInt * 16 until win.toInt * 16 + 16).map { t =>
        val s0 = Multimodal.syntheticWavSample(id, t)
        val s = if (mod > 0) s0 % mod else s0
        s.toLong * s
      }.sum
      assert(ss == exp && rms == math.sqrt(exp.toDouble / 16) && silent == (exp < 100000L))
    }
    assert(rows.filter(_._1 == 14L).forall(_._5) && !rows.filter(_._1 == 3L).exists(_._5))
    // trailing partial window dropped: 40 samples at window 16 -> 2 windows
    val short = Seq(Multimodal.MediaRow(5L, Multimodal.syntheticWav(5L, n = 40))).toDS()
    assert(Multimodal.audioEnergyWindows(short, 16, 100000L).count() == 2)

    // silence-trim intervention: all-silent clip -> 0 kept samples and a
    // NULL kept_rms (drop candidate, not a divide-by-zero); loud clip
    // keeps everything and its kept_rms spans exactly the kept windows
    val trimmed = Multimodal.audioTrimSilence(
        Multimodal.audioEnergyWindows(media, 16, 100000L), 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(trimmed(14L) == ((4L, 4L, 0L, None)))
    val loudSs = rows.filter(_._1 == 3L).map(_._3).sum
    val expRms = BigDecimal(math.sqrt(loudSs.toDouble / 64))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(trimmed(3L) == ((4L, 0L, 64L, Some(expRms))))
  }

  test("audioFingerprintGroups: planted contours group exactly, singletons drop, 1-window guard") {
    // hand-built energy frame: level = sum_sq div 4194304 (cap 15),
    // trits compare consecutive windows
    val b = 4194304L
    def e(id: Long, ss: Seq[Long]) =
      ss.zipWithIndex.map { case (s, w) =>
        (id, w.toLong, s, math.sqrt(s.toDouble / 16), s < 100000L) }
    val energy = (
      e(1L, Seq(10L * b, 20L * b, 20L * b, 5L * b)) ++  // 10|15|15|5#210 (20 capped at 15)
      e(2L, Seq(10L * b, 20L * b, 20L * b, 5L * b)) ++  // same contour -> same group
      e(3L, Seq(1L * b, 1L * b, 1L * b, 1L * b))        // singleton -> filtered
    ).toDF("id", "win", "sum_sq", "rms", "silent")
    val out = Multimodal.audioFingerprintGroups(energy)
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("10|15|15|5#210", 2L, 1L)), s"got ${out.toSeq}")
    // single-window clips produce an empty trit tail, not an error
    val one = e(7L, Seq(2L * b)).++(e(8L, Seq(2L * b)))
      .toDF("id", "win", "sum_sq", "rms", "silent")
    val g1 = Multimodal.audioFingerprintGroups(one)
      .as[(String, Long, Long)].collect()
    assert(g1.toSeq == Seq(("2#", 2L, 7L)))
  }

  test("MP4 box walk: synthetic container parses to closed-form metadata; malformed -> None") {
    // syntheticMp4 fields are pure functions of the id
    val codecNames = Seq("avc1", "hev1", "mp4v")
    for (id <- Seq(0L, 5L, 41L, 1234L)) {
      val m = Multimodal.parseMp4Metadata(Multimodal.syntheticMp4(id))
      assert(m.isDefined, s"id=$id should parse")
      val k = 1 + (id % 3).toInt
      val expCodecs = (0 until k).map(i => codecNames(((id + i) % 3).toInt))
      val expKf = (0 until k).map(i => (id * 13 + 7 * i) % 20 + 1).sum
      assert(m.get == Multimodal.Mp4Meta("isom", 1000L,
        (id * 97 + 41) % 100000, k, expCodecs, expKf, id % 5 + 1),
        s"id=$id got ${m.get}")
    }
    // stsz sample-size tables: per-track closed-form sizes round-trip
    for (id <- Seq(0L, 5L, 41L, 1234L)) {
      val szs = Multimodal.parseMp4SampleSizes(Multimodal.syntheticMp4(id)).get
      val k = 1 + (id % 3).toInt
      assert(szs.length == k, s"id=$id expected $k tracks")
      for (i <- 0 until k) {
        val ns = ((id * 11 + 5 * i) % 30 + 2).toInt
        assert(szs(i).toSeq ==
          (0 until ns).map(j => (id * 7 + i * 3 + j.toLong * j) % 900 + 100),
          s"id=$id track=$i")
      }
    }
    // constant-size shorthand (sample_size != 0, no table): expands to
    // sample_count copies
    def be32(v: Long) = Array[Byte](((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def bx(t: String, p: Array[Byte]) = be32(8L + p.length) ++ t.getBytes("US-ASCII") ++ p
    val fixedMp4 = bx("ftyp", "isom".getBytes("US-ASCII") ++ be32(0)) ++
      bx("moov", bx("trak", bx("mdia", bx("minf", bx("stbl",
        bx("stsz", be32(0) ++ be32(512) ++ be32(3)))))))
    assert(Multimodal.parseMp4SampleSizes(fixedMp4).get.map(_.toSeq) ==
      Seq(Seq(512L, 512L, 512L)))
    assert(Multimodal.parseMp4SampleSizes("garbage".getBytes("UTF-8")).isEmpty)

    // malformed payloads: None, never throw (bad record != dead job)
    assert(Multimodal.parseMp4Metadata("plain text, not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseMp4Metadata(Multimodal.syntheticMp4(9L).take(40)).isEmpty)
    assert(Multimodal.parseMp4Metadata(Array.emptyByteArray).isEmpty)
    // a WAV is a valid container for ANOTHER format — no ftyp, so None
    assert(Multimodal.parseMp4Metadata(Multimodal.syntheticWav(3L)).isEmpty)
  }

  test("MJPEG-in-MP4: first-sample locate + real pixel decode match closed form; degrade paths hold") {
    // decoded quadrant stats are exact: constant 8×8 blocks are DC-only
    // under the DCT, and quality 1.0 quant tables are all ones
    for (id <- Seq(0L, 7L, 63L, 255L, 1234L)) {
      val mp4 = Multimodal.syntheticMjpegMp4(id)
      // container locates exactly one 'jpeg' track with an in-range sample
      val tracks = Multimodal.firstSamples(mp4).get
      assert(tracks.length == 1 && tracks.head._1 == "jpeg", s"id=$id $tracks")
      val g = (0 until 4).map(q => ((id * (31 + 6 * q) + 11 + 5 * q) % 256).toDouble)
      val mean = g.sum * 64 / 256
      val std = math.sqrt(g.map(v => v * v).sum * 64 / 256 - mean * mean)
      val (w, h, feat) = Multimodal.decodeMjpegFirstFrame(mp4).get
      assert(w == 16 && h == 16, s"id=$id ${w}x$h")
      assert(feat(0) == mean, s"id=$id mean ${feat(0)} != $mean")
      assert(math.abs(feat(1) - std) < 1e-12, s"id=$id std ${feat(1)} != $std")
      // shared dispatch reaches the same numbers (operator path) and
      // flags real pixels as decoded
      val d = Multimodal.decode(mp4)
      assert(d._3.sameElements(feat) && d._4, s"id=$id $d")
    }
    // a non-MJPEG container (avc1/hev1/mp4v tracks, no sample data)
    // falls through to the documented histogram stub, never throws —
    // and carries decoded = false, the permanent-fence degrade flag
    val avc = Multimodal.syntheticMp4(3L)
    assert(Multimodal.decodeMjpegFirstFrame(avc).isEmpty)
    assert(Multimodal.decode(avc)._3.length == 16) // histogram shape
    assert(!Multimodal.decode(avc)._4, "fallback must flag decoded=false")
    // truncation inside mdat: sample range exceeds file -> no track
    val cut = Multimodal.syntheticMjpegMp4(5L)
    assert(Multimodal.decodeMjpegFirstFrame(cut.take(60)).isEmpty)
    assert(Multimodal.decodeMjpegFirstFrame("not mp4".getBytes("UTF-8")).isEmpty)
  }

  test("MPEG-1 motion fixture: I/P/P chain decodes to the closed-form " +
      "means the DuckDB oracle computes (inter paths end-to-end)") {
    for (id <- Seq(0L, 1L, 7L, 63L, 254L)) {
      def g(mb: Int, b: Int): Double =
        ((id * 7 + mb * 16 + b * 4 + 50) % 200 + 10).toDouble
      val delta = (2 * (id % 5 + 1) + 1).toDouble
      val meanI = (for (mb <- 0 to 3; b <- 0 to 3) yield g(mb, b)).sum / 16
      val r00 = (0 to 3).map(g(0, _)).sum / 4
      val r10 = (g(0, 1) + g(0, 3) + g(1, 0) + g(1, 2)) / 4
      val r01 = (g(0, 2) + g(0, 3) + g(2, 0) + g(2, 1)) / 4
      val r11 = (0 to 3).map(g(3, _)).sum / 4
      val mean2 = (r00 + r10 + r01 + r11) / 4 + delta + delta / 4
      // frame 4 (B): fwd<-P1 MB0, bwd<-P2 MB1, Bi-rounded MB2 quadrants
      // (P1's g(2,b)+d against P2's shifted g(0,2)/g(0,3)/g(2,0)/g(2,1)+d),
      // fwd+residual MB3
      def biQ(a: Double, b: Double): Double =
        ((a + b + 2 * delta + 1) / 2).floor
      val meanB = ((r00 + delta) + (r10 + delta) +
        (biQ(g(2, 0), g(0, 2)) + biQ(g(2, 1), g(0, 3)) +
          biQ(g(2, 2), g(2, 0)) + biQ(g(2, 3), g(2, 1))) / 4 +
        (r11 + 2 * delta)) / 4
      val es = Multimodal.syntheticMpeg1MotionEs(id)
      val fs = Multimodal.decodeMpeg1FramesTyped(es, 8)
      assert(fs.map(f => (f._1, f._2, f._3, f._4)) ==
        Seq((1, 'I', 32, 32), (2, 'P', 32, 32), (3, 'P', 32, 32),
          (4, 'B', 32, 32)),
        s"id $id shape: $fs")
      assert(fs(0)._5 == meanI, s"id $id frame 1: ${fs(0)._5} want $meanI")
      assert(fs(1)._5 == meanI + delta, s"id $id frame 2: ${fs(1)._5}")
      assert(fs(2)._5 == mean2, s"id $id frame 3: ${fs(2)._5} want $mean2")
      assert(fs(3)._5 == meanB, s"id $id frame 4: ${fs(3)._5} want $meanB")
    }
  }

  test("H.264 motion fixture: I/P/P chain decodes to the closed-form " +
      "means the DuckDB oracle computes (inter + edge-clamp paths)") {
    for (id <- Seq(0L, 3L, 44L, 178L, 255L)) {
      def g(mb: Int, q: Int): Double =
        ((id * 11 + mb * 16 + q * 4 + 60) % 180 + 20).toDouble
      val z = (id % 15).toDouble - 7
      val iv = ((8 * g(0, 1) + 8 * g(0, 3) + 8) / 16).floor + z
      val meanI = (for (mb <- 0 to 1; q <- 0 to 3) yield g(mb, q)).sum / 8
      val mean1 = ((0 to 3).map(g(0, _)).sum / 4 + iv) / 2
      val mean2 = ((g(0, 0) + g(0, 2)) / 2 + iv) / 2
      val fs = Multimodal.decodeAvcFramesTyped(
        Multimodal.syntheticAvcMotionEs(id), 8)
      assert(fs.map(f => (f._1, f._2, f._3, f._4)) ==
        Seq((1, 'I', 32, 16), (2, 'P', 32, 16), (3, 'P', 32, 16)),
        s"id $id shape: $fs")
      assert(fs(0)._5 == meanI, s"id $id frame 1: ${fs(0)._5} want $meanI")
      assert(fs(1)._5 == mean1, s"id $id frame 2: ${fs(1)._5} want $mean1")
      assert(fs(2)._5 == mean2, s"id $id frame 3: ${fs(2)._5} want $mean2")
    }
  }

  test("MJPEG multi-frame: every keyframe decodes to closed form; bound + degrade hold") {
    for (id <- Seq(0L, 7L, 63L, 255L)) {
      val n = 3 + (id % 2).toInt
      val mp4 = Multimodal.syntheticMjpegMp4(id, n)
      val frames = Multimodal.decodeMjpegFrames(mp4, 8)
      assert(frames.length == n, s"id=$id expected $n frames, got ${frames.length}")
      frames.foreach { case (f, w, h, mean, std) =>
        val g = (0 until 4).map(q =>
          ((id * (31 + 6 * q) + 11 + 5 * q + 29L * (f - 1)) % 256).toDouble)
        val em = g.sum * 64 / 256
        val es = math.sqrt(g.map(v => v * v).sum * 64 / 256 - em * em)
        assert(w == 16 && h == 16 && mean == em && math.abs(std - es) < 1e-12,
          s"id=$id frame=$f got ($w,$h,$mean,$std) expected ($em,$es)")
      }
      // the bound truncates, never over-decodes
      assert(Multimodal.decodeMjpegFrames(mp4, 2).length == 2)
      // frame 1 of the multi-sample track == the single-frame fixture's
      // frame (the dispatch's first-frame hook sees the same pixels) —
      // compared element-wise (tuple == on an Array is reference
      // equality and proves nothing)
      val ff = Multimodal.decodeMjpegFirstFrame(mp4).get
      val single = Multimodal.decodeMjpegFirstFrame(Multimodal.syntheticMjpegMp4(id)).get
      assert(ff._1 == single._1 && ff._2 == single._2 &&
        ff._3.sameElements(single._3),
        s"id=$id first frame of multi-sample track != single-frame fixture")
    }
    // corrupt tail sample: moov sits at the END of the fixture, so a
    // plain cut loses the tables — instead keep all headers and zero
    // the LAST sample's bytes mid-mdat (ImageIO fails on it); the
    // decodable prefix must survive, the bad frame is skipped
    val mp4 = Multimodal.syntheticMjpegMp4(9L, 3)
    val full = Multimodal.decodeMjpegFrames(mp4, 8)
    assert(full.length == 3)
    val Some(Seq((codec, off, sizes))) = Multimodal.trackSamples(mp4): @unchecked
    assert(codec == "jpeg" && sizes.length == 3)
    val corrupt = mp4.clone()
    val lastStart = (off + sizes(0) + sizes(1)).toInt
    java.util.Arrays.fill(corrupt, lastStart, lastStart + sizes(2).toInt, 0.toByte)
    val dec = Multimodal.decodeMjpegFrames(corrupt, 8)
    assert(dec.map(_._1) == Seq(1, 2),
      s"decodable prefix must survive a corrupt tail sample, got ${dec.map(_._1)}")
    assert(dec.map(t => (t._2, t._3, t._4, t._5)) ==
      full.take(2).map(t => (t._2, t._3, t._4, t._5)),
      "surviving frames must be byte-identical to the intact decode")
    assert(Multimodal.decodeMjpegFrames("not mp4".getBytes("UTF-8"), 8).isEmpty)
    // multi-chunk guard: patch the fixture's stco entry_count to 2 —
    // the contiguous formula is only valid within chunk 1, so the
    // track must degrade to its FIRST sample (always correct), never
    // decode wrong offsets for the rest
    val patched = mp4.clone()
    val stcoAt = (0 until patched.length - 4).find(i =>
      patched(i) == 's' && patched(i + 1) == 't' && patched(i + 2) == 'c' &&
        patched(i + 3) == 'o').get
    patched(stcoAt + 11) = 2 // entry_count LSB (version/flags occupy +4..+7)
    val multiChunk = Multimodal.decodeMjpegFrames(patched, 8)
    assert(multiChunk.map(_._1) == Seq(1),
      s"multi-chunk track must expose only sample 1, got ${multiChunk.map(_._1)}")
    assert(multiChunk.head == full.head, "sample 1 of chunk 1 must still decode exactly")
    // and the first-sample locator still sees the track
    assert(Multimodal.firstSamples(patched).get.map(_._1) == Seq("jpeg"))
  }

  test("MJPEG-in-AVI: RIFF movi walk decodes every frame to closed form; alignment + degrade hold") {
    for (id <- Seq(0L, 7L, 63L, 255L, 1234L)) {
      val n = 2 + (id % 3).toInt
      val avi = Multimodal.syntheticMjpegAvi(id, n)
      val frames = Multimodal.decodeAviMjpegFrames(avi, 8)
      assert(frames.length == n, s"id=$id expected $n frames, got ${frames.length}")
      frames.foreach { case (f, w, h, mean, std) =>
        val g = (0 until 4).map(q =>
          ((id * (31 + 6 * q) + 11 + 5 * q + 29L * (f - 1)) % 256).toDouble)
        val em = g.sum * 64 / 256
        val es = math.sqrt(g.map(v => v * v).sum * 64 / 256 - em * em)
        assert(w == 16 && h == 16 && mean == em && math.abs(std - es) < 1e-12,
          s"id=$id frame=$f got ($w,$h,$mean,$std) expected ($em,$es)")
      }
      // the same frames as the MP4 container fixture — two containers,
      // one decode contract
      val mp4Frames = Multimodal.decodeMjpegFrames(
        Multimodal.syntheticMjpegMp4(id, n), 8)
      assert(frames == mp4Frames,
        s"id=$id AVI and MP4 decodes of the same frames disagree")
      // the bound truncates, never over-decodes
      assert(Multimodal.decodeAviMjpegFrames(avi, 1).length == 1)
      // dispatch hook reaches the AVI path
      val (w1, h1, feat) = Multimodal.decodeMjpegFirstFrame(avi).get
      assert(w1 == 16 && h1 == 16 && feat(0) == frames.head._4)
    }
    // corrupt middle chunk: zero frame 2's JPEG bytes in place — the
    // walk must skip it WITHOUT renumbering (frames 1 and 3 survive
    // with their ordinals)
    val avi = Multimodal.syntheticMjpegAvi(9L, 3)
    val full = Multimodal.decodeAviMjpegFrames(avi, 8)
    assert(full.map(_._1) == Seq(1, 2, 3))
    // locate the second '00dc' chunk by scanning
    def findDc(from: Int): Int = {
      var i = from
      while (!(avi(i) == '0' && avi(i + 1) == '0' && avi(i + 2) == 'd' &&
        avi(i + 3) == 'c')) i += 1
      i
    }
    val second = findDc(findDc(12) + 4)
    val corrupt = avi.clone()
    val csz = (corrupt(second + 4) & 0xFF) | ((corrupt(second + 5) & 0xFF) << 8)
    java.util.Arrays.fill(corrupt, second + 8, second + 8 + csz, 0.toByte)
    val dec = Multimodal.decodeAviMjpegFrames(corrupt, 8)
    assert(dec.map(_._1) == Seq(1, 3),
      s"corrupt middle chunk must be skipped without renumbering, got ${dec.map(_._1)}")
    assert(dec.head == full.head && dec(1) == full(2))
    // non-AVI payloads: empty, never throw (RIFF-but-WAV included)
    assert(Multimodal.decodeAviMjpegFrames(Multimodal.syntheticWav(3L), 8).isEmpty)
    assert(Multimodal.decodeAviMjpegFrames(
      Multimodal.syntheticMjpegMp4(3L), 8).isEmpty)
    assert(Multimodal.decodeAviMjpegFrames("not avi".getBytes("UTF-8"), 8).isEmpty)
    // truncation: cut inside the movi list — decodable prefix survives
    assert(Multimodal.decodeAviMjpegFrames(avi.take(avi.length - 40), 8)
      .map(_._1).forall(Seq(1, 2).contains))
  }

  test("dHash64: identical images hash equal, noisy near-dup lands within Hamming 3, distinct far") {
    val a = Multimodal.dHash64(Multimodal.syntheticBmp(7L, 18, 16))
    val a2 = Multimodal.dHash64(Multimodal.syntheticBmp(7L, 18, 16))
    assert(a.isDefined && a == a2)
    // re-encode-noise near-duplicate: small Hamming distance
    val noisy = Multimodal.dHash64(Multimodal.syntheticBmp(7L, 18, 16, noisy = true))
    val hmNear = java.lang.Long.bitCount(a.get ^ noisy.get)
    assert(hmNear <= 3, s"near-dup drifted to hamming $hmNear")
    // a different image: far (the gradient signs are ~independent)
    val other = Multimodal.dHash64(Multimodal.syntheticBmp(1234L, 18, 16))
    assert(java.lang.Long.bitCount(a.get ^ other.get) > 10)
    // non-tiling and undecodable inputs: None, never throw
    assert(Multimodal.dHash64(Multimodal.syntheticBmp(7L, 8, 8)).isEmpty)
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("dHashYuv: luma channel bit-identical to dHash64; a chroma-only " +
      "recolor flips the U/V hashes while luma stays put") {
    val bmp = Multimodal.syntheticBmp(7L, 18, 16)
    val yuv = Multimodal.dHashYuv(bmp)
    assert(yuv.isDefined)
    // channel 1 IS dHash64 (same integer BT.601 luma, same box grid)
    assert(yuv.get._1 == Multimodal.dHash64(bmp).get)
    // noisy near-dup: every channel within the pairing threshold
    val noisy = Multimodal.dHashYuv(
      Multimodal.syntheticBmp(7L, 18, 16, noisy = true)).get
    assert(java.lang.Long.bitCount(yuv.get._1 ^ noisy._1) <= 3)
    assert(java.lang.Long.bitCount(yuv.get._2 ^ noisy._2) <= 3)
    assert(java.lang.Long.bitCount(yuv.get._3 ^ noisy._3) <= 3)
    // hand-built 18x16 BMP pair with IDENTICAL integer luma but a
    // spatially-alternating chroma tint (a uniform tint would be
    // invisible to a gradient hash by design, so the tint flips per
    // 2-pixel box column)
    def rgbBmp(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) img.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      bos.toByteArray
    }
    // ramp stays in [100, 217]: +34 on R and -89 on B never clamp,
    // and the integer luma numerator moves by 299*34 - 114*89 = +20,
    // which the /1000 floor erases — tinted luma == gray luma EXACTLY
    def ramp(x: Int, y: Int): Int = 100 + x * 6 + y
    val grayRamp = rgbBmp((x, y) => {
      val v = ramp(x, y); (v << 16) | (v << 8) | v
    })
    val tinted = rgbBmp((x, y) => {
      val v = ramp(x, y)
      if ((x / 2) % 2 == 0) ((v + 34) << 16) | (v << 8) | (v - 89)
      else (v << 16) | (v << 8) | v
    })
    val gray = Multimodal.dHashYuv(grayRamp).get
    val tint = Multimodal.dHashYuv(tinted).get
    assert(tint._1 == gray._1, "luma hash must survive the equal-luma recolor")
    // chroma alternates 77/128-ish per box column → strong horizontal
    // chroma gradients the gray image (flat 128) has none of
    val du = java.lang.Long.bitCount(tint._2 ^ gray._2)
    val dv = java.lang.Long.bitCount(tint._3 ^ gray._3)
    assert(du > 3 && dv > 3, s"chroma must see the recolor: u=$du v=$dv")
    // non-tiling input: None
    assert(Multimodal.dHashYuv(Multimodal.syntheticBmp(7L, 8, 8)).isEmpty)
    assert(Multimodal.dHashYuv("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("sampleFrames takes every stride-th fixed-size chunk") {
    val media = Seq(Multimodal.MediaRow(1L, Array.fill[Byte](300)(7))).toDS()
    val frames = Multimodal.sampleFrames(media, 64, 2).collect()
    // chunks: 64,64,64,64,44 → indices 0..4, stride 2 → 0,2,4
    assert(frames.map(_.getAs[Long]("frame_idx")).sorted.toSeq == Seq(0L, 2L, 4L))
    assert(frames.map(_.getAs[Long]("frame_bytes")).sum == 64 + 64 + 44)
  }

  test("JSONL corpus ingest: clean + quarantine account for every non-blank line") {
    val dir = java.nio.file.Paths.get(tempDir("graftjsonl"))
    val f = dir.resolve("docs.jsonl")
    Files.write(f, Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web"}""",
      """this is not json at all""",
      """{"text": "valid json but no id", "lang": "en"}""",
      "",
      """{"doc_id": 3, "text": "ok", "lang": "en", "source": "book"}"""
    ).mkString("\n").getBytes("UTF-8"))
    val (clean, quarantined) = graft.sources.DocSources.readJsonl(spark, f.toString)
    assert(clean.count() == 3)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang", "source"))
    // BOTH failure modes quarantined with raw text: unparsable line AND
    // parsable line missing the required id — nothing silently dropped
    val q = quarantined.as[String].collect()
    assert(q.length == 2)
    assert(q.exists(_.contains("not json")) && q.exists(_.contains("no id")))
  }

  test("gzip JSONL ingest: compressed corpora read transparently, quarantine intact") {
    // real crawls arrive as .jsonl.gz — Spark's text source decompresses
    // by extension; the quarantine path must behave identically
    val dir = java.nio.file.Paths.get(tempDir("graftjsonlgz"))
    val f = dir.resolve("docs.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(f))
    out.write(Seq(
      """{"doc_id": 1, "text": "compressed hello", "lang": "en", "source": "web"}""",
      """broken line""",
      """{"doc_id": 2, "text": "ok", "lang": "fr", "source": "web"}"""
    ).mkString("\n").getBytes("UTF-8"))
    out.close()
    val (clean, quarantined) = graft.sources.DocSources.readJsonl(spark, f.toString)
    assert(clean.count() == 2)
    assert(quarantined.as[String].collect().toSeq == Seq("broken line"))
  }

  test("ORC round-trip: the warehouse interchange format reads back exactly") {
    val dir = tempDir("graftorc") + "/events_orc"
    val ev = Tables.events(spark, sf).limit(500)
      .select("event_id", "user_id", "event_type", "value")
    ev.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == ev.schema)
    val a = ev.orderBy("event_id").collect()
    val b = back.orderBy("event_id").collect()
    assert(a.sameElements(b))
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graftdpo") + "/t"
    val init = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "day", "v")
    init.write.partitionBy("day").parquet(dir)
    // dynamic mode: overwriting day=a must leave day=b untouched —
    // the daily-reprocess idiom (static mode would wipe the table)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((10L, "a", 10.0)).toDF("id", "day", "v")
        .write.mode("overwrite").partitionBy("day").parquet(dir)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val back = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((3L, "b", 3.0), (10L, "a", 10.0)))
  }

  test("mergeSchema reads evolved parquet: old files null the new column") {
    val dir = tempDir("graftevolve") + "/t"
    Seq((1L, "x")).toDF("id", "text").write.parquet(s"$dir/batch1")
    Seq((2L, "y", "en")).toDF("id", "text", "lang").write.parquet(s"$dir/batch2")
    val back = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/batch1", s"$dir/batch2")
    assert(back.columns.sorted.toSeq == Seq("id", "lang", "text"))
    val rows = back.select("id", "lang").as[(Long, Option[String])]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, None), (2L, Some("en"))))
  }

  test("training-shard writer: deterministic partitioned parquet, exact round-trip") {
    val docs = (0L until 200L)
      .map(i => (i, s"doc $i", if (i % 10 < 8) "train" else "val"))
      .toDF("doc_id", "text", "split")
    val out = tempDir("graftshards")
    graft.sources.DocSources.writeTrainingShards(docs, "doc_id", "split", out, 4)
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    // exact content round-trip
    val orig = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val got = back.select("doc_id", "text", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == orig)
    // partitioned layout by split, bounded shard counts
    val trainFiles = new java.io.File(s"$out/split=train")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(trainFiles >= 1 && trainFiles <= 4, s"train shards: $trainFiles")
  }

  test("euc-kr CSV path scan decodes Korean headers/values (S1)") {
    val dir = java.nio.file.Paths.get(tempDir("graftcsv"))
    val f = dir.resolve("series.csv")
    val content = "공정,측정값\nA,1.5\nA,2.5\nB,3.5\n"
    Files.write(f, content.getBytes(java.nio.charset.Charset.forName("euc-kr")))
    val df = CsvSeries.readCsv(spark, f.toString, "측정값")
    assert(df.columns.toSeq == Seq("공정", "측정값"))
    assert(df.count() == 3)
    assert(df.agg(org.apache.spark.sql.functions.sum("측정값")).head().getDouble(0) == 7.5)
  }

  test("base64 upload decode parses like the file scan (S2)") {
    val csv = "p,v\nx,1.25\ny,2.75\n"
    val b64 = java.util.Base64.getEncoder.encodeToString(csv.getBytes("UTF-8"))
    val df = CsvSeries.readUploadBase64(spark, b64, "v")
    assert(df.count() == 2)
    assert(df.agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0) == 4.0)
  }

  test("xlsx upload decode: shared strings, sparse cells, inline strings (S2b)") {
    // hand-built minimal OOXML workbook: header via shared strings, a
    // sparse row (missing B), an inline-string cell, numeric values
    val shared =
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<si><t>proc</t></si><si><r><t>va</t></r><r><t>l</t></r></si><si><t>P1</t></si></sst>""".stripMargin
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1.25</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>P2</t></is></c><c r="B3"><v>2.75</v></c></row>
        |<row r="4"><c r="B4"><v>0.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    for ((name, content) <- Seq(
        "xl/sharedStrings.xml" -> shared, "xl/worksheets/sheet1.xml" -> sheet)) {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    val df = CsvSeries.readUploadXlsxBase64(spark, b64, "val")
    assert(df.columns.toSeq == Seq("proc", "val"))
    val rows = df.collect().map(r => (r.getString(0), Option(r.get(1))))
    assert(rows.length == 3)
    assert(rows(0) == ("P1", Some(1.25)))
    assert(rows(1) == ("P2", Some(2.75)))
    assert(rows(2) == (null, Some(0.5))) // sparse A4 lands as null
    assert(df.agg(org.apache.spark.sql.functions.sum("val")).head().getDouble(0) == 4.5)
  }

  test("xlsx upload fails loudly on corrupt shared strings and over-wide rows") {
    def workbook(sheet: String, nShared: Int = 1): String = {
      val shared = s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        (0 until nShared).map(i => s"<si><t>s$i</t></si>").mkString}</sst>"""
      val bos = new java.io.ByteArrayOutputStream()
      val zip = new java.util.zip.ZipOutputStream(bos)
      for ((name, content) <- Seq(
          "xl/sharedStrings.xml" -> shared, "xl/worksheets/sheet1.xml" -> sheet)) {
        zip.putNextEntry(new java.util.zip.ZipEntry(name))
        zip.write(content.getBytes("UTF-8"))
        zip.closeEntry()
      }
      zip.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    val pre = """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    val post = "</sheetData></worksheet>"
    // shared-string index beyond the table
    val badIdx = workbook(pre +
      """<row r="1"><c r="A1" t="s"><v>7</v></c></row>""" + post)
    val e1 = intercept[IllegalArgumentException] {
      CsvSeries.readUploadXlsxBase64(spark, badIdx, "v") }
    assert(e1.getMessage.contains("shared-string index"))
    // non-numeric shared-string index
    val badNum = workbook(pre +
      """<row r="1"><c r="A1" t="s"><v>x9</v></c></row>""" + post)
    val e2 = intercept[IllegalArgumentException] {
      CsvSeries.readUploadXlsxBase64(spark, badNum, "v") }
    assert(e2.getMessage.contains("malformed shared-string index"))
    // data row wider than the header must not silently truncate
    val wide = workbook(pre +
      """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>""" + post)
    val e3 = intercept[IllegalArgumentException] {
      CsvSeries.readUploadXlsxBase64(spark, wide, "s0") }
    assert(e3.getMessage.contains("header row has 1"))
  }

  test("xlsx upload: workbook tab order, phonetic runs, blank header cells (S2b)") {
    // first workbook tab lives in sheet3.xml (sheet1.xml is a stale
    // decoy — happens when tabs are deleted/reordered in Excel); the
    // shared string carries an rPh phonetic annotation that must NOT
    // leak into the text; A1 is missing so column 0 needs a _c0 name
    val workbook =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Data" sheetId="1" r:id="rId9"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet3.xml"/>
        |</Relationships>""".stripMargin
    val shared =
      """<?xml version="1.0"?><sst><si><t>东京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></si><si><t>val</t></si></sst>"""
    val decoy =
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>WRONG</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin
    val sheet3 =
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2"><v>3.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    for ((name, content) <- Seq(
        "xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels,
        "xl/sharedStrings.xml" -> shared,
        "xl/worksheets/sheet1.xml" -> decoy, "xl/worksheets/sheet3.xml" -> sheet3)) {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    val df = CsvSeries.readUploadXlsxBase64(spark, b64, "val")
    assert(df.columns.toSeq == Seq("_c0", "val"))
    val row = df.collect().head
    assert(row.getString(0) == "东京") // no phonetic-run leakage
    assert(row.getDouble(1) == 3.5)   // and from the right sheet
  }

  test("hev1-in-MP4 route (round 14): hvcC parameter sets + length-" +
      "prefixed samples reach the HEVC starter decoder; dispatch " +
      "flags real pixels") {
    import graft.ext.Multimodal
    for (id <- Seq(2L, 9L)) {
      def g(q: Int, f: Int): Int =
        ((id * (31 + 6 * q) + 11 + 5 * q + 29L * f) % 256).toInt
      val mp4 = Multimodal.syntheticHevcMp4(id, nFrames = 2)
      val fs = Multimodal.decodeHevcFrames(mp4, 4)
      assert(fs.length == 2, s"id=$id got ${fs.length} frames")
      for ((f0, k) <- fs.zipWithIndex) {
        val vals = (0 until 4).map(q => g(q, k).toDouble)
        val mean = vals.sum / 4
        val std = math.sqrt(vals.map(v => v * v).sum / 4 - mean * mean)
        assert(f0._2 == 16 && f0._3 == 16, s"id=$id f$k dims")
        assert(math.abs(f0._4 - mean) < 1e-9, s"id=$id f$k mean")
        assert(math.abs(f0._5 - std) < 1e-9, s"id=$id f$k std")
      }
      val d = Multimodal.decode(mp4)
      assert(d._4, s"id=$id dispatch must flag decoded=true")
      // metadata-only containers (no samples, no hvcC) keep degrading
      assert(!Multimodal.decode(Multimodal.syntheticMp4(id))._4)
    }
  }

  // ---- hand-built BIFF8 .xls fixture (MS-CFB + MS-XLS layouts) ----

  private def le16b(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32b(v: Long) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def biffRec(typ: Int, body: Array[Byte]) =
    le16b(typ) ++ le16b(body.length) ++ body
  private def biffBof(dt: Int) = biffRec(0x0809,
    le16b(0x0600) ++ le16b(dt) ++ le16b(0) ++ le16b(0) ++ le32b(0) ++ le32b(0))
  private def sstStr(s: String, utf16: Boolean) =
    le16b(s.length) ++ Array[Byte](if (utf16) 1 else 0) ++
      (if (utf16) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
       else s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
  private def labelSst(r: Int, c: Int, isst: Int) =
    biffRec(0x00FD, le16b(r) ++ le16b(c) ++ le16b(0) ++ le32b(isst))

  /** Workbook stream: globals(BOF+SST+BOUNDSHEET+EOF) + sheet
    * substream. Header (user_id, value, note); row1 = RK-int 42,
    * NUMBER 3.25, "hello"; row2 = MULRK (7, RK÷100 12.34), UTF-16
    * "Ωmega". */
  private def biffWorkbook(): Array[Byte] = {
    val sst = biffRec(0x00FC, le32b(5) ++ le32b(5) ++
      sstStr("user_id", utf16 = false) ++ sstStr("value", utf16 = false) ++
      sstStr("note", utf16 = false) ++ sstStr("hello", utf16 = false) ++
      sstStr("Ωmega", utf16 = true))
    val bofG = biffBof(0x0005)
    val eof = biffRec(0x000A, Array.emptyByteArray)
    val sheetName = "Sheet1".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val bsLen = 4 + (4 + 2 + 1 + 1 + sheetName.length)
    val sheetPos = bofG.length + sst.length + bsLen + eof.length
    val boundsheet = biffRec(0x0085,
      le32b(sheetPos) ++ le16b(0) ++ Array[Byte](sheetName.length.toByte, 0) ++ sheetName)
    val numberBits = java.lang.Double.doubleToLongBits(3.25)
    val number = biffRec(0x0203, le16b(1) ++ le16b(1) ++ le16b(0) ++
      (0 until 8).map(i => ((numberBits >> (8 * i)) & 0xFF).toByte).toArray)
    val rk42 = biffRec(0x027E, le16b(1) ++ le16b(0) ++ le16b(0) ++ le32b((42L << 2) | 2))
    val mulrk = biffRec(0x00BD, le16b(2) ++ le16b(0) ++
      le16b(0) ++ le32b((7L << 2) | 2) ++          // col0: int 7
      le16b(0) ++ le32b((1234L << 2) | 2 | 1) ++    // col1: 1234/100 = 12.34
      le16b(1))
    val sheet = biffBof(0x0010) ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++ labelSst(0, 2, 2) ++
      rk42 ++ number ++ labelSst(1, 2, 3) ++
      mulrk ++ labelSst(2, 2, 4) ++ eof
    bofG ++ sst ++ boundsheet ++ eof ++ sheet
  }

  /** Minimal CFB container around a Workbook stream. useMini=true puts
    * the stream in 64-byte mini sectors under the root entry (where a
    * real small .xls lands); false pads it to the 4096 cutoff so it
    * lives in regular FAT sectors. */
  private def cfb(wb0: Array[Byte], useMini: Boolean): Array[Byte] = {
    val Free = 0xFFFFFFFFL; val End = 0xFFFFFFFEL; val FatS = 0xFFFFFFFDL
    def dirEnt(name: String, typ: Int, start: Long, size: Long): Array[Byte] = {
      val e = new Array[Byte](128)
      val nm = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      System.arraycopy(nm, 0, e, 0, nm.length)
      System.arraycopy(le16b(nm.length + 2), 0, e, 64, 2)
      e(66) = typ.toByte; e(67) = 1
      for (off <- Seq(68, 72, 76)) System.arraycopy(le32b(Free), 0, e, off, 4)
      System.arraycopy(le32b(start), 0, e, 116, 4)
      System.arraycopy(le32b(size), 0, e, 120, 4)
      e
    }
    def pad(a: Array[Byte], to: Int) = a ++ new Array[Byte](((to - a.length % to) % to))
    val header = new Array[Byte](512)
    System.arraycopy(Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0xA1.toByte, 0xB1.toByte, 0x1A, 0xE1.toByte), 0, header, 0, 8)
    System.arraycopy(le16b(0x3E), 0, header, 24, 2)
    System.arraycopy(le16b(3), 0, header, 26, 2)
    System.arraycopy(le16b(0xFFFE), 0, header, 28, 2)
    System.arraycopy(le16b(9), 0, header, 30, 2)   // 512-byte sectors
    System.arraycopy(le16b(6), 0, header, 32, 2)   // 64-byte mini sectors
    System.arraycopy(le32b(1), 0, header, 44, 4)   // one FAT sector
    System.arraycopy(le32b(1), 0, header, 48, 4)   // dir at sector 1
    System.arraycopy(le32b(4096), 0, header, 56, 4)
    System.arraycopy(le32b(0), 0, header, 72, 4)   // no DIFAT sectors
    System.arraycopy(le32b(End), 0, header, 68, 4)
    System.arraycopy(le32b(0), 0, header, 76, 4)   // DIFAT[0] = FAT sector 0
    for (i <- 1 until 109) System.arraycopy(le32b(Free), 0, header, 76 + 4 * i, 4)
    val fat = scala.collection.mutable.ArrayBuffer.fill(128)(Free)
    fat(0) = FatS; fat(1) = End
    if (!useMini) {
      val wb = pad(wb0 ++ new Array[Byte](math.max(0, 4096 - wb0.length)), 512)
      val k = wb.length / 512
      for (i <- 0 until k) fat(2 + i) = if (i == k - 1) End else 3L + i
      System.arraycopy(le32b(End), 0, header, 60, 4) // no mini FAT
      val dir = pad(dirEnt("Root Entry", 5, End, 0) ++
        dirEnt("Workbook", 2, 2, wb.length.toLong), 512)
      header ++ fat.flatMap(le32b).toArray ++ dir ++ wb
    } else {
      require(wb0.length < 4096)
      val m = (wb0.length + 63) / 64
      val miniContainer = pad(wb0 ++ new Array[Byte](m * 64 - wb0.length), 512)
      val cSec = miniContainer.length / 512
      fat(2) = End // mini FAT chain
      for (i <- 0 until cSec) fat(3 + i) = if (i == cSec - 1) End else 4L + i
      val miniFat = scala.collection.mutable.ArrayBuffer.fill(128)(Free)
      for (i <- 0 until m) miniFat(i) = if (i == m - 1) End else i + 1L
      System.arraycopy(le32b(2), 0, header, 60, 4)
      System.arraycopy(le32b(1), 0, header, 64, 4)
      val dir = pad(dirEnt("Root Entry", 5, 3, (m * 64).toLong) ++
        dirEnt("Workbook", 2, 0, wb0.length.toLong), 512)
      header ++ fat.flatMap(le32b).toArray ++ dir ++
        miniFat.flatMap(le32b).toArray ++ miniContainer
    }
  }

  /** Same workbook as [[biffWorkbook]] but with the SST split across
    * two CONTINUE records (round 14, VERDICT r13 #7): "note" breaks
    * mid-rgb ("no" | flag + "te"), "hello" lives entirely in the
    * first CONTINUE, and "Ωmega" breaks mid-rgb WITH an encoding
    * change (UTF-16 "Ωm" | compressed flag + "ega" — the MS-XLS
    * 2.5.293 per-continuation fHighByte). Cell records are identical,
    * so the parse must come out byte-for-byte the same. */
  private def biffWorkbookSplitSst(): Array[Byte] = {
    val latin = java.nio.charset.StandardCharsets.ISO_8859_1
    val utf16 = java.nio.charset.StandardCharsets.UTF_16LE
    val seg0 = le32b(5) ++ le32b(5) ++
      sstStr("user_id", utf16 = false) ++ sstStr("value", utf16 = false) ++
      le16b(4) ++ Array[Byte](0) ++ "no".getBytes(latin) // "note" header + prefix
    val seg1 = Array[Byte](0) ++ "te".getBytes(latin) ++ // rgb continuation
      sstStr("hello", utf16 = false) ++
      le16b(5) ++ Array[Byte](1) ++ "Ωm".getBytes(utf16) // "Ωmega" split
    val seg2 = Array[Byte](0) ++ "ega".getBytes(latin) // compressed tail
    val sst = biffRec(0x00FC, seg0) ++ biffRec(0x003C, seg1) ++
      biffRec(0x003C, seg2)
    val bofG = biffBof(0x0005)
    val eof = biffRec(0x000A, Array.emptyByteArray)
    val sheetName = "Sheet1".getBytes(latin)
    val bsLen = 4 + (4 + 2 + 1 + 1 + sheetName.length)
    val sheetPos = bofG.length + sst.length + bsLen + eof.length
    val boundsheet = biffRec(0x0085,
      le32b(sheetPos) ++ le16b(0) ++ Array[Byte](sheetName.length.toByte, 0) ++ sheetName)
    val numberBits = java.lang.Double.doubleToLongBits(3.25)
    val number = biffRec(0x0203, le16b(1) ++ le16b(1) ++ le16b(0) ++
      (0 until 8).map(i => ((numberBits >> (8 * i)) & 0xFF).toByte).toArray)
    val rk42 = biffRec(0x027E, le16b(1) ++ le16b(0) ++ le16b(0) ++ le32b((42L << 2) | 2))
    val mulrk = biffRec(0x00BD, le16b(2) ++ le16b(0) ++
      le16b(0) ++ le32b((7L << 2) | 2) ++
      le16b(0) ++ le32b((1234L << 2) | 2 | 1) ++
      le16b(1))
    val sheet = biffBof(0x0010) ++
      labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++ labelSst(0, 2, 2) ++
      rk42 ++ number ++ labelSst(1, 2, 3) ++
      mulrk ++ labelSst(2, 2, 4) ++ eof
    bofG ++ sst ++ boundsheet ++ eof ++ sheet
  }

  test("BIFF8 .xls upload: CONTINUE-split SST round-trips — mid-rgb " +
      "split, whole-string spill, and a per-continuation encoding " +
      "change (S2c, round 14)") {
    val b64 = java.util.Base64.getEncoder.encodeToString(
      cfb(biffWorkbookSplitSst(), useMini = true))
    val df = CsvSeries.readUploadXlsBase64(spark, b64, "value")
    assert(df.columns.toSeq == Seq("user_id", "value", "note"))
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(rows.length == 2)
    assert(rows(0) == (("42", 3.25, "hello")))
    assert(rows(1) == (("7", 12.34f.toDouble, "Ωmega")))
  }

  test("BIFF8 .xls upload: mini-stream container, SST/RK/NUMBER/MULRK cells (S2c)") {
    val b64 = java.util.Base64.getEncoder.encodeToString(cfb(biffWorkbook(), useMini = true))
    val df = CsvSeries.readUploadXlsBase64(spark, b64, "value")
    assert(df.columns.toSeq == Seq("user_id", "value", "note"))
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(rows.length == 2)
    assert(rows(0) == (("42", 3.25, "hello")))
    assert(rows(1) == (("7", 12.34f.toDouble, "Ωmega")))
  }

  test("BIFF8 .xls upload: regular-FAT container parses identically (S2c)") {
    val b64 = java.util.Base64.getEncoder.encodeToString(cfb(biffWorkbook(), useMini = false))
    val df = CsvSeries.readUploadXlsBase64(spark, b64, "value")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("42", "7"))
  }

  test("Excel upload dispatch on magic bytes; garbage fails loudly (S2)") {
    val xls = java.util.Base64.getEncoder.encodeToString(cfb(biffWorkbook(), useMini = true))
    assert(CsvSeries.readUploadExcelBase64(spark, xls, "value").count() == 2)
    val garbage = java.util.Base64.getEncoder.encodeToString(
      "not a spreadsheet at all".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      CsvSeries.readUploadExcelBase64(spark, garbage, "value")
    }
    assert(e.getMessage.contains("neither OOXML"))
    // truncated CFB: loud, not a mis-parse
    val trunc = java.util.Base64.getEncoder.encodeToString(
      cfb(biffWorkbook(), useMini = true).take(200))
    intercept[IllegalArgumentException] {
      CsvSeries.readUploadXlsBase64(spark, trunc, "value")
    }
  }

  test("sceneCuts: flags only above-threshold jumps, per-id isolation, no frame-1 row") {
    // id 1: 10 → 50 (jump 40, cut) → 55 (jump 5, no cut); id 2 is a
    // steady clip whose first frame sits far from id 1's last — the
    // per-id window must NOT see a cross-doc jump
    val frames = Seq((1L, 1L, 10.0), (1L, 2L, 50.0), (1L, 3L, 55.0),
        (2L, 1L, 200.0), (2L, 2L, 201.0))
      .toDF("id", "frame", "mean_gray")
    val out = graft.ext.Multimodal.sceneCuts(frames, 30.0)
      .select("id", "frame", "delta", "is_cut")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq((1L, 2L, 40.0, true), (1L, 3L, 5.0, false),
      (2L, 2L, 1.0, false)), out.mkString(", "))
  }

  test("CSV sink round-trips with header (K1)") {
    val dir = tempDir("graftsink") + "/out"
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
    CsvSeries.writeCsv(df, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("path-derived CSV sink writes a headed CSV beside the source file (K3)") {
    val dir = tempDir("graftk3")
    val source = java.nio.file.Paths.get(dir, "series.csv")
    Files.write(source, "p,v\nx,1.5\n".getBytes("UTF-8"))
    val df = Seq((1L, 2.5), (2L, 3.5)).toDF("id", "v")
    CsvSeries.writeBesideSource(df, source.toString, "clusters")
    val out = new java.io.File(dir, "clusters")
    val parts = out.listFiles().filter(f => f.getName.endsWith(".csv") && f.length > 0)
    assert(parts.nonEmpty, s"no CSV part files in $out")
    assert(parts.forall(f => Files.readAllLines(f.toPath).get(0) == "id,v"))
    val back = spark.read.option("header", "true").schema(df.schema).csv(out.toString)
    assert(back.as[(Long, Double)].collect().sorted.toSeq == Seq((1L, 2.5), (2L, 3.5)))
  }

  // ---- ImageIoFast: the r18 plumbing-removal layer must be invisible
  // in the bytes and pixels (cached codec instances + array-backed
  // streams vs the per-call registry/MemoryCache composite it replaced)

  test("ImageIoFast: quadrantJpeg bytes identical to the plain ImageIO composite") {
    // the OLD path, verbatim: fresh writer from the registry, explicit
    // quality 1.0, MemoryCache output stream over a BAOS
    def oldJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = wr.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.close(); wr.dispose()
      bos.toByteArray
    }
    def quadrantImg(id: Long, f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16) {
        val q = (y / 8) * 2 + (x / 8)
        img.getRaster.setSample(x, y, 0,
          ((id * (31 + 6 * q) + 11 + 5 * q + 29L * f) % 256).toInt)
      }
      img
    }
    // repeated ids exercise the REUSED per-thread writer (state from
    // the previous image must not leak into the next encoding)
    for (id <- Seq(0L, 7L, 42L, 255L, 12345L, 7L); f <- 0 to 3) {
      val neu = Multimodal.quadrantJpeg(id, f)
      val old = oldJpeg(quadrantImg(id, f))
      assert(java.util.Arrays.equals(neu, old), s"jpeg bytes diverge at id=$id f=$f")
    }
  }

  test("ImageIoFast: syntheticBmp bytes identical to ImageIO.write(bmp)") {
    for (id <- Seq(0L, 7L, 42L, 9999L, 7L); noisy <- Seq(false, true)) {
      val neu = Multimodal.syntheticBmp(id, 18, 16, noisy)
      // decode the new bytes (BMP is lossless) and re-encode through
      // the OLD plain-ImageIO path: identical pixels in, so identical
      // bytes out iff the writer layer is unchanged
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(neu))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "bmp", bos)
      assert(java.util.Arrays.equals(neu, bos.toByteArray),
        s"bmp bytes diverge at id=$id noisy=$noisy")
    }
  }

  test("ImageIoFast: readImage pixels identical to ImageIO.read; contracts preserved") {
    import graft.ext.ImageIoFast
    def pixels(img: java.awt.image.BufferedImage): Seq[Int] =
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield img.getRGB(x, y)
    // JPEG fast path (repeat exercises reader reuse)
    for (id <- Seq(3L, 77L, 3L); f <- 0 to 1) {
      val jpg = Multimodal.quadrantJpeg(id, f)
      val a = ImageIoFast.readImage(jpg)
      val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
      assert(pixels(a) == pixels(b), s"jpeg decode diverges at id=$id f=$f")
    }
    // BMP fast path
    val bmp = Multimodal.syntheticBmp(42L, 18, 16)
    assert(pixels(ImageIoFast.readImage(bmp)) ==
      pixels(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))))
    // PNG takes the ImageIO.read fallback (no sniff match) — same pixels
    val png = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(pixels(ImageIoFast.readImage(png)) ==
      pixels(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))))
    // non-image → null, like ImageIO.read
    assert(ImageIoFast.readImage("not an image".getBytes("UTF-8")) == null)
    // recognized-but-corrupt (BMP header, truncated) → throws like
    // ImageIO.read, so decodeImage's degrade contract is unchanged;
    // and the NEXT decode on this thread must still work (the
    // poisoned per-thread reader is dropped, not reused)
    intercept[Exception] { ImageIoFast.readImage(bmp.take(20)) }
    assert(Multimodal.decodeImage(bmp.take(20)).isEmpty)
    assert(pixels(ImageIoFast.readImage(bmp)) ==
      pixels(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))))
  }
}
