package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MultimodalOps

/** Multimodal binary-column plumbing: the real PPM/BMP decode tier
  * over checked-in fixture bytes, and the histogram stub tier for
  * everything a codec-free container cannot decode. */
class MultimodalSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val assets = MultimodalOps.assets(spark, sfDir)

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/" + name)
    try in.readAllBytes() finally in.close()
  }

  test("decodes the checked-in P6 PPM fixture: dims, comment skip, channel means") {
    // fixture pixel (x,y) = (10x, 10y, x+y) over 4x3
    val img = MultimodalOps.decodeImage(fixture("fixture_4x3.ppm")).get
    assert(img.width === 4 && img.height === 3)
    assert(img.meanR === 15.0 && img.meanG === 10.0 && img.meanB === 2.5)
  }

  test("decodes the checked-in 24-bit BMP fixture: BGR order and row padding honored") {
    // 3x2, one pure-red row + one pure-blue row, rows padded 9 -> 12 bytes:
    // reading padding as pixels (or R/B swapped asymmetrically) breaks the means
    val img = MultimodalOps.decodeImage(fixture("fixture_3x2.bmp")).get
    assert(img.width === 3 && img.height === 2)
    assert(img.meanR === 127.5 && img.meanG === 0.0 && img.meanB === 127.5)
  }

  test("decodes the checked-in RGB PNG fixture: all five scanline filters + split IDAT") {
    // 6x5, pixel (x,y) = (10x, 10y, x+y); the five rows are encoded
    // with filters 0,1,2,3,4 in order, so None/Sub/Up/Average/Paeth
    // unfilter paths all run; IDAT is split in two chunks (must
    // concatenate) and a tEXt chunk sits mid-stream (must skip)
    val img = MultimodalOps.decodeImage(fixture("fixture_6x5.png")).get
    assert(img.width === 6 && img.height === 5)
    assert(img.meanR === 25.0 && img.meanG === 20.0 && img.meanB === 4.5)
  }

  test("decodes the checked-in RGBA PNG fixture: alpha ignored in channel means") {
    // 4x2 color type 6, pixel (x,y) = (50x, 25y, 10, 17x+13y+1):
    // varying alpha must not leak into the RGB means
    val img = MultimodalOps.decodeImage(fixture("fixture_4x2_rgba.png")).get
    assert(img.width === 4 && img.height === 2)
    assert(img.meanR === 75.0 && img.meanG === 12.5 && img.meanB === 10.0)
  }

  test("malformed PNG bytes fall back, not decode") {
    val png = fixture("fixture_6x5.png")
    assert(MultimodalOps.decodeImage(png.dropRight(1)).isEmpty, "truncated IEND")
    assert(MultimodalOps.decodeImage(png.take(60)).isEmpty, "truncated IDAT")
    // flip one raster byte inside the first IDAT: CRC must reject
    val corrupt = png.clone()
    val idatOff = png.indexOfSlice("IDAT".getBytes) + 6
    corrupt(idatOff) = (corrupt(idatOff) ^ 0x5a).toByte
    assert(MultimodalOps.decodeImage(corrupt).isEmpty, "CRC mismatch")
    assert(MultimodalOps.decodeImage(
      "\u0089PNG\r\n\u001a\n but not an image".getBytes("ISO-8859-1")).isEmpty)
  }

  test("malformed image bytes fall back, not decode: truncation and magic-only") {
    val ppm = fixture("fixture_4x3.ppm")
    assert(MultimodalOps.decodeImage(ppm.dropRight(1)).isEmpty, "truncated raster")
    assert(MultimodalOps.decodeImage(ppm ++ Array(0.toByte)).isEmpty, "trailing junk")
    assert(MultimodalOps.decodeImage("P6 but not an image".getBytes).isEmpty)
    // non-whitespace byte between maxval and raster with a total length
    // that still matches w*h*3: must reject, not decode a shifted raster
    val shifted = "P6 4 3 255X".getBytes ++ Array.fill(4 * 3 * 3)(7.toByte)
    assert(MultimodalOps.decodeImage(shifted).isEmpty, "bad maxval separator")
    val bmp = fixture("fixture_3x2.bmp")
    assert(MultimodalOps.decodeImage(bmp.take(53)).isEmpty, "truncated header")
    assert(MultimodalOps.decodeImage(bmp.dropRight(1)).isEmpty, "truncated pixels")
  }

  test("extractFeatures routes real images to the decode tier, text to the histogram tier") {
    import spark.implicits._
    val px = (x: Int, y: Int) => (x * 40 % 256, y * 60 % 256, (x + y) * 20 % 256)
    val jpeg = ImageIoBytes.encode(6, 4, px, "jpeg")
    val gif = ImageIoBytes.encode(6, 4, px, "gif")
    val mixed = Seq(
      MultimodalOps.Asset(1L, "image", fixture("fixture_4x3.ppm"), 64, 16000),
      MultimodalOps.Asset(2L, "image", fixture("fixture_3x2.bmp"), 64, 16000),
      MultimodalOps.Asset(3L, "image", "plain text payload".getBytes, 64, 16000),
      MultimodalOps.Asset(5L, "image", jpeg, 64, 16000),
      MultimodalOps.Asset(6L, "image", gif, 64, 16000)).toDS()
    val f = MultimodalOps.extractFeatures(mixed).collect().sortBy(_.asset_id)
    assert(f(0).features.toSeq === Seq(4f, 3f, 15f / 255, 10f / 255, 2.5f / 255, 0f, 0f, -1f))
    assert(f(1).features.toSeq === Seq(3f, 2f, 0.5f, 0f, 0.5f, 0f, 0f, -1f))
    // histogram tier: slot 7 is a non-negative fraction (can reach 1.0
    // for an all-high-byte payload — hence the real tier's negative
    // marker), vector sums to 1
    assert(f(2).features(7) >= 0f && math.abs(f(2).features.sum - 1f) < 1e-3)
    // compressed image formats have no pixel tier: exactly the stub's
    // byte histogram, no real-tier marker
    for ((bytes, r) <- Seq(jpeg, gif).zip(f.drop(3))) {
      val bins = new Array[Float](8)
      bytes.foreach(b => bins((b & 0xff) >> 5) += 1f)
      assert(r.features.toSeq === bins.map(_ / bytes.length).toSeq)
    }
    // the collision case the negative marker exists for: all-0xFF bytes
    // put exactly 1.0 in bin 7, which a [0,1]-valued marker would alias
    val ff = MultimodalOps.extractFeatures(
      Seq(MultimodalOps.Asset(4L, "image", Array.fill(32)(0xff.toByte), 64, 16000)).toDS())
      .head().features
    assert(ff(7) === 1f && ff(7) > 0f)
  }

  test("assets carry opaque payloads + typed metadata") {
    val a = assets.filter(col("asset_id") === 0).head()
    assert(a.modality === "image") // 0 % 3
    assert(a.payload.nonEmpty && a.meta_width === 64 && a.meta_rate === 16000)
    assert(assets.select("modality").distinct().count() === 3)
  }

  test("feature extraction: fixed 8-dim vectors, histogram sums to 1") {
    val f = MultimodalOps.extractFeatures(assets)
    assert(f.count() === 500)
    f.take(20).foreach { r =>
      assert(r.features.length === 8)
      assert(math.abs(r.features.sum - 1.0f) < 1e-3)
      assert(r.n_bytes > 0)
    }
  }

  test("feature extraction is deterministic across partitionings") {
    val a = MultimodalOps.extractFeatures(assets).collect()
      .sortBy(_.asset_id).map(x => (x.asset_id, x.features.toSeq))
    val b = MultimodalOps.extractFeatures(assets.repartition(7)).collect()
      .sortBy(_.asset_id).map(x => (x.asset_id, x.features.toSeq))
    assert(a.toSeq === b.toSeq)
  }

  // ---- WAV/PCM audio tier --------------------------------------------

  /** Test-side RIFF/WAVE writer (the JDK ships javax.sound but the
    * fixture is written raw so every byte is ours): PCM fmt chunk +
    * data chunk, optional junk chunk first to exercise the walk. */
  private def wavBytes(channels: Int, rate: Int, bits: Int,
      frames: Seq[Seq[Int]], junk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def tag(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
    val dataLen = frames.size * channels * (bits / 8)
    val junkLen = if (junk) 8 + 4 else 0
    tag("RIFF"); w32(4 + junkLen + 24 + 8 + dataLen); tag("WAVE")
    if (junk) { tag("LIST"); w32(4); tag("INFO") }
    tag("fmt "); w32(16)
    w16(1); w16(channels); w32(rate)
    w32(rate * channels * (bits / 8)); w16(channels * (bits / 8)); w16(bits)
    tag("data"); w32(dataLen)
    frames.foreach(f => f.foreach { s =>
      if (bits == 8) bos.write((s + 128) & 0xff) else w16(s & 0xffff)
    })
    bos.toByteArray
  }

  test("decodes 16-bit stereo PCM WAV: per-channel mean/RMS/zero-crossings") {
    // ch0 alternates ±1000 (max zero crossings), ch1 climbs a ramp
    val frames = (0 until 50).map(i =>
      Seq(if (i % 2 == 0) 1000 else -1000, i * 10 - 245))
    val au = MultimodalOps.decodeAudio(wavBytes(2, 16000, 16, frames, junk = true))
    assert(au.isDefined, "well-formed stereo WAV must decode (junk chunk skipped)")
    val a = au.get
    assert((a.channels, a.sampleRate, a.bits, a.nFrames) === ((2, 16000, 16, 50)))
    // independent recount from the sample matrix
    val ch0 = frames.map(_.head); val ch1 = frames.map(_(1))
    assert(math.abs(a.mean(0) - ch0.sum.toDouble / 50) < 1e-12)
    assert(math.abs(a.mean(1) - ch1.sum.toDouble / 50) < 1e-12)
    assert(math.abs(a.rms(0) - 1000.0) < 1e-9) // constant magnitude
    assert(math.abs(a.rms(1) -
      math.sqrt(ch1.map(s => s.toDouble * s).sum / 50)) < 1e-9)
    assert(a.zeroCross(0) === 49L) // every consecutive pair flips sign
    assert(a.zeroCross(1) ===
      ch1.sliding(2).count(p => (p(0) < 0 && p(1) > 0) || (p(0) > 0 && p(1) < 0)))
  }

  test("decodes 8-bit mono PCM WAV in the signed domain; silence is 0") {
    val au = MultimodalOps.decodeAudio(
      wavBytes(1, 8000, 8, (0 until 20).map(_ => Seq(0))))
    assert(au.isDefined)
    assert(au.get.mean(0) === 0.0) // 8-bit 0x80 recenters to 0
    assert(au.get.rms(0) === 0.0)
    assert(au.get.zeroCross(0) === 0L)
  }

  test("malformed WAV falls back: non-PCM tag, bad width, truncation, ragged data") {
    val good = wavBytes(2, 16000, 16, (0 until 10).map(i => Seq(i, -i)))
    assert(MultimodalOps.decodeAudio(good).isDefined)
    val nonPcm = good.clone(); nonPcm(20) = 3 // fmt tag = IEEE float
    assert(MultimodalOps.decodeAudio(nonPcm).isEmpty)
    val badBits = good.clone(); badBits(34) = 24
    assert(MultimodalOps.decodeAudio(badBits).isEmpty)
    assert(MultimodalOps.decodeAudio(good.dropRight(7)).isEmpty)
    assert(MultimodalOps.decodeAudio("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
  }

  test("extractFeatures routes PCM audio to the real tier with the -2 marker") {
    import spark.implicits._
    val wav = wavBytes(1, 44100, 16, (0 until 30).map(i =>
      Seq(if (i % 3 == 0) 8192 else -4096)))
    val ds = Seq(
      MultimodalOps.Asset(1L, "audio", wav, 64, 16000),
      MultimodalOps.Asset(2L, "audio", "not audio at all".getBytes, 64, 16000)).toDS()
    val f = MultimodalOps.extractFeatures(ds).collect().sortBy(_.asset_id)
    assert(f(0).features(7) === -2f) // real audio tier
    assert(f(0).features(0) === 1f && f(0).features(1) === 44100f)
    assert(f(0).features(2) === 30f)
    assert(f(1).features.forall(_ >= 0f)) // text stays on the stub tier
  }

  test("loudness feature is bit-depth invariant: equal-loudness 8/16-bit score the same") {
    import spark.implicits._
    // the same square wave at both widths: 16-bit samples are exactly
    // 256x the 8-bit ones, so full-scale-relative loudness is equal —
    // a fixed /32768 normalization (the ADVICE_r13 bug) would read
    // the 8-bit rendition ~256x quieter and skew mixed-corpus gates
    val wave8 = (0 until 40).map(i => Seq(if (i % 2 == 0) 64 else -64))
    val wave16 = (0 until 40).map(i => Seq(if (i % 2 == 0) 16384 else -16384))
    val ds = Seq(
      MultimodalOps.Asset(1L, "audio", wavBytes(1, 8000, 8, wave8), 64, 16000),
      MultimodalOps.Asset(2L, "audio", wavBytes(1, 8000, 16, wave16), 64, 16000)).toDS()
    val f = MultimodalOps.extractFeatures(ds).collect().sortBy(_.asset_id)
    assert(f.forall(_.features(7) === -2f), "both must hit the real audio tier")
    assert(f(0).features(3) === 0.5f) // 64/128
    assert(f(1).features(3) === 0.5f) // 16384/32768
    assert(f(0).features(4) === f(1).features(4)) // identical zcr
  }

  test("q189 synthWav payloads decode strictly and match the closed form") {
    for (id <- Seq(1L, 4L, 7L, 10L, 13L, 22L)) {
      val wav = MultimodalOps.synthWav(id)
      val au = MultimodalOps.decodeAudio(wav)
      assert(au.isDefined, s"synth WAV $id")
      val a = au.get
      assert(a.bits === (if (id % 2 == 0) 8 else 16))
      assert(a.channels === 1 + (id % 7).toInt % 2)
      assert(a.nFrames === 50 + (id % 101).toInt)
      assert(a.sampleRate === 8000 + (id % 5).toInt * 1600)
      // channel-0 sum replayed from the generator
      val exp = (0 until a.nFrames).map { k =>
        val base = id * 7919L + k * 104729L
        if (a.bits == 8) (base % 256L) - 128L else (base % 65536L) - 32768L
      }
      assert(math.round(a.mean(0) * a.nFrames) === exp.sum)
      // strictness: truncation falls to the stub tier
      assert(MultimodalOps.decodeAudio(wav.dropRight(1)).isEmpty)
    }
  }

  test("decodeChannel0Samples matches both generators and keeps decodeAudio's strictness") {
    for (id <- Seq(2L, 7L, 13L, 100L)) {
      val (bits, s0) = MultimodalOps.decodeChannel0Samples(MultimodalOps.synthWav(id)).get
      val exp = (0 until (50 + (id % 101).toInt)).map { k =>
        val base = id * 7919L + k * 104729L
        (if (bits == 8) (base % 256L) - 128L else (base % 65536L) - 32768L).toInt
      }
      assert(s0.toSeq === exp)
      // q197's noise payload: full-gain stream matches noiseSample, the
      // -6 dB rendition is its trunc-halved twin
      val (nb, n0) = MultimodalOps.decodeChannel0Samples(
        MultimodalOps.synthWavNoise(id, half = false)).get
      val nexp = (0 until (50 + (id % 101).toInt)).map(MultimodalOps.noiseSample(id, _))
      assert(nb === 16 && n0.toSeq === nexp)
      val (_, h0) = MultimodalOps.decodeChannel0Samples(
        MultimodalOps.synthWavNoise(id, half = true)).get
      assert(h0.toSeq === nexp.map(_ / 2))
      assert(MultimodalOps.decodeChannel0Samples(
        MultimodalOps.synthWav(id).dropRight(1)).isEmpty)
    }
  }

  test("q197 audio near-dup: output is exactly the rendition pairs at tiny Hamming") {
    val rows = graft.SparkEntry.queries("q197_audio_neardup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // fingerprints of distinct noise assets sit near Hamming 31 (the
      // 50M-pair sweep of the generator reads min 8); anything
      // surviving the <=3 gate must be an (original, -6dB) pair of the
      // SAME asset — a cross-asset survivor means the fingerprint
      // collapsed back to a phase-correlated family
      assert(r.getAs[Long]("aid_a") === r.getAs[Long]("aid_b"))
      assert(r.getAs[Int]("rend_a") === 0 && r.getAs[Int]("rend_b") === 1)
      assert(r.getAs[Int]("hamming") <= 3)
    }
    val nAssets = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 6 === 5).count()
    // the +-1-LSB flip rate is ~0.003 bits/asset, so within the 3-flip
    // pigeonhole every rendition is recovered
    assert(rows.length === nAssets,
      s"${rows.length} rendition pairs recovered of $nAssets assets")
  }

  test("q197 banding schemes are output-identical: quad (graded) == triple (scale path)") {
    // both layouts carry the exact pigeonhole guarantee, so switching
    // at the 2^18-fingerprint knee is a pure physical-plan decision —
    // this is what lets the auto mode widen the band join at 1000x
    // without touching the oracle
    def rows(scheme: String) = {
      spark.conf.set("spark.graft.hammingBands", scheme)
      try graft.SparkEntry.queries("q197_audio_neardup")(spark, sfDir)
        .collect().toSeq
      finally spark.conf.unset("spark.graft.hammingBands")
    }
    val (quad, triple) = (rows("quad"), rows("triple"))
    assert(quad.nonEmpty && quad == triple,
      s"quad ${quad.length} rows vs triple ${triple.length}")
  }
}
