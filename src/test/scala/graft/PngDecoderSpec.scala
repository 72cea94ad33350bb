package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MultimodalOps

/** Full-static-PNG coverage added in round 11: Adam7 interlace,
  * 16-bit samples, palette and greyscale color types. Verified
  * against a TEST-SIDE FROM-THE-SPEC ENCODER (ImageIO cannot write
  * interlaced/16-bit/sub-8-bit PNGs, so the reference is a minimal
  * encoder that can): filter type 0
  * scanlines, MSB-first bit packing, big-endian 16-bit samples,
  * Adam7 pass order, real zlib and CRC32. Every decode is compared
  * EXACTLY (means are rationals over integer sums). */
class PngDecoderSpec extends AnyFunSuite {

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      bos.write((v >>> 24) & 0xff); bos.write((v >>> 16) & 0xff)
      bos.write((v >>> 8) & 0xff); bos.write(v & 0xff)
    }
    i32(data.length)
    val body = typ.getBytes("US-ASCII") ++ data
    bos.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    i32(crc.getValue.toInt)
    bos.toByteArray
  }

  private val Passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
    (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Encode: pixels(x)(y) = channel samples at IHDR depth/type.
    * Filter byte 0 on every scanline; interlace packs the 7 passes. */
  private def png(w: Int, h: Int, colorType: Int, bitDepth: Int,
      interlace: Int, samples: (Int, Int) => Seq[Int],
      palette: Seq[(Int, Int, Int)] = Nil): Array[Byte] = {
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case _ => 4
    }
    def scanline(xs: Seq[Int], y: Int): Array[Byte] = {
      val bits = new scala.collection.mutable.ArrayBuffer[Byte]()
      var acc = 0; var nb = 0
      def put(v: Int, n: Int): Unit = { // MSB-first packing
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1); nb += 1
          if (nb == 8) { bits += acc.toByte; acc = 0; nb = 0 }
          i -= 1
        }
      }
      xs.foreach { x =>
        samples(x, y).foreach(v => put(v, bitDepth))
      }
      if (nb > 0) bits += (acc << (8 - nb)).toByte
      0.toByte +: bits.toArray // filter type 0
    }
    val rawStream =
      if (interlace == 0) (0 until h).flatMap(y => scanline(0 until w, y))
      else Passes.flatMap { case (xs, ys, xp, yp) =>
        val cols = (xs until w by xp).toSeq
        val rows = (ys until h by yp).toSeq
        if (cols.isEmpty || rows.isEmpty) Seq.empty[Byte]
        else rows.flatMap(y => scanline(cols, y))
      }
    val defl = new java.util.zip.Deflater()
    defl.setInput(rawStream.toArray); defl.finish()
    val buf = new Array[Byte](rawStream.size * 2 + 64)
    val zn = defl.deflate(buf)
    defl.end()
    val ihdr = Array[Byte](
      ((w >>> 24) & 0xff).toByte, ((w >>> 16) & 0xff).toByte,
      ((w >>> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >>> 24) & 0xff).toByte, ((h >>> 16) & 0xff).toByte,
      ((h >>> 8) & 0xff).toByte, (h & 0xff).toByte,
      bitDepth.toByte, colorType.toByte, 0, 0, interlace.toByte)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val plte = if (palette.isEmpty) Array.empty[Byte]
      else chunk("PLTE", palette.flatMap { case (r, g, b) =>
        Seq(r.toByte, g.toByte, b.toByte) }.toArray)
    sig ++ chunk("IHDR", ihdr) ++ plte ++
      chunk("IDAT", buf.take(zn)) ++ chunk("IEND", Array.empty)
  }

  private def decode(bytes: Array[Byte]): Option[MultimodalOps.DecodedImage] = {
    // through the public dispatch, as production uses it
    MultimodalOps.decodeImage(bytes)
  }

  test("Adam7 interlaced RGB decodes identically to the same pixels progressive") {
    val w = 13; val h = 11 // odd dims exercise every pass-boundary case
    val rnd = new scala.util.Random(711)
    val pix = Array.fill(w, h)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    def s(x: Int, y: Int) = Seq(pix(x)(y)._1, pix(x)(y)._2, pix(x)(y)._3)
    val prog = decode(png(w, h, 2, 8, 0, s))
    val inter = decode(png(w, h, 2, 8, 1, s))
    assert(prog.isDefined && inter.isDefined)
    assert(prog.get == inter.get, "interlaced and progressive must agree exactly")
    val n = (w * h).toDouble
    assert(prog.get.meanR == pix.flatten.map(_._1).sum / n)
  }

  test("Adam7 placement: the dHash grid sees pixels at their true positions") {
    val w = 16; val h = 16
    val rnd = new scala.util.Random(712)
    val pix = Array.fill(w, h)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    def s(x: Int, y: Int) = Seq(pix(x)(y)._1, pix(x)(y)._2, pix(x)(y)._3)
    // identical hashes <=> identical per-cell placement, not just means
    val hProg = graft.functions.DHash64.hash(png(w, h, 2, 8, 0, s))
    val hInter = graft.functions.DHash64.hash(png(w, h, 2, 8, 1, s))
    assert(hProg == hInter, "pass-grid placement must be position-exact")
  }

  test("16-bit RGB takes the high byte; 16-bit grey likewise") {
    val w = 4; val h = 2
    // 0xABcd -> 0xAB: value NOT of the v*257 replication form pins the rule
    def s(x: Int, y: Int) = Seq(0x1234, 0xfe01, 0x0080)
    val got = decode(png(w, h, 2, 16, 0, s))
    assert(got.isDefined)
    assert(got.get == MultimodalOps.DecodedImage(w, h, 0x12, 0xfe, 0x00))
    val grey = decode(png(w, h, 0, 16, 0, (_, _) => Seq(0xbeef)))
    assert(grey.get == MultimodalOps.DecodedImage(w, h, 0xbe, 0xbe, 0xbe))
  }

  test("grey depths 1/2/4/8 scale by the exact 255/(2^d-1) factor") {
    val w = 8; val h = 3
    for ((d, maxV) <- Seq((1, 1), (2, 3), (4, 15), (8, 255))) {
      val scale = 255 / maxV
      def s(x: Int, y: Int) = Seq((x + y) % (maxV + 1))
      val got = decode(png(w, h, 0, d, 0, s))
      assert(got.isDefined, s"depth-$d grey must decode")
      val exp = (for (x <- 0 until w; y <- 0 until h)
        yield ((x + y) % (maxV + 1)) * scale).sum / (w * h).toDouble
      assert(got.get.meanR == exp && got.get.meanG == exp, s"depth $d")
    }
  }

  test("palette depths 1/2/4/8 look up PLTE; packing is MSB-first") {
    val pal = Seq((10, 200, 30), (250, 1, 2), (0, 128, 255), (77, 66, 55))
    val w = 7; val h = 5
    for (d <- Seq(2, 4, 8)) {
      def s(x: Int, y: Int) = Seq((x * 3 + y) % 4)
      val got = decode(png(w, h, 3, d, 0, s, pal))
      assert(got.isDefined, s"depth-$d palette must decode")
      val exp = (for (x <- 0 until w; y <- 0 until h)
        yield pal((x * 3 + y) % 4)._1).sum / (w * h).toDouble
      assert(got.get.meanR == exp, s"depth $d")
    }
    // depth 1 with a 2-entry palette
    val got1 = decode(png(w, h, 3, 1, 0, (x, y) => Seq((x + y) % 2), pal.take(2)))
    assert(got1.isDefined)
    // interlaced palette: cross-feature
    val gotI = decode(png(w, h, 3, 4, 1, (x, y) => Seq((x * 3 + y) % 4), pal))
    assert(gotI.isDefined)
    assert(gotI.get == decode(png(w, h, 3, 4, 0, (x, y) => Seq((x * 3 + y) % 4), pal)).get)
  }

  test("grey+alpha and RGBA16 ignore alpha in the means") {
    val w = 3; val h = 3
    val ga = decode(png(w, h, 4, 8, 0, (x, y) => Seq(100, 7)))
    assert(ga.get == MultimodalOps.DecodedImage(w, h, 100, 100, 100))
    val rgba16 = decode(png(w, h, 6, 16, 0, (_, _) => Seq(0x1200, 0x3400, 0x5600, 0x0000)))
    assert(rgba16.get == MultimodalOps.DecodedImage(w, h, 0x12, 0x34, 0x56))
  }

  test("wide PPM (maxval > 255): 2-byte big-endian samples, integer normalization") {
    def ppm(w: Int, h: Int, maxv: Int, samples: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val head = s"P6\n$w $h\n$maxv\n".getBytes("US-ASCII")
      val body = new java.io.ByteArrayOutputStream()
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = samples(x, y)
        Seq(r, g, b).foreach { v =>
          if (maxv > 255) { body.write((v >> 8) & 0xff); body.write(v & 0xff) }
          else body.write(v & 0xff)
        }
      }
      head ++ body.toByteArray
    }
    // 65535-maxval with the v*257 replication: exact 8-bit recovery
    val wide = decode(ppm(3, 2, 65535, (_, _) => (0x12 * 257, 0xfe * 257, 0x00)))
    assert(wide.get == MultimodalOps.DecodedImage(3, 2, 0x12, 0xfe, 0))
    // non-replicated value pins the truncating v*255/maxv map
    val odd = decode(ppm(2, 2, 1000, (_, _) => (999, 500, 0)))
    assert(odd.get == MultimodalOps.DecodedImage(2, 2, 999 * 255 / 1000, 500 * 255 / 1000, 0))
    // small maxval scales up
    val small = decode(ppm(2, 2, 15, (_, _) => (15, 3, 0)))
    assert(small.get == MultimodalOps.DecodedImage(2, 2, 255, 51, 0))
    // a sample above maxval is malformed
    assert(decode(ppm(2, 2, 200, (_, _) => (201, 0, 0))).isEmpty)
    // truncated wide raster
    assert(decode(ppm(2, 2, 65535, (_, _) => (1, 2, 3)).dropRight(1)).isEmpty)
  }

  test("strictness: OOB palette index, missing PLTE, illegal combos return None") {
    val pal = Seq((1, 2, 3), (4, 5, 6))
    // index 3 with a 2-entry palette at depth 2
    assert(decode(png(2, 1, 3, 2, 0, (_, _) => Seq(3), pal)).isEmpty)
    // palette type without PLTE
    assert(decode(png(2, 1, 3, 2, 0, (_, _) => Seq(0))).isEmpty)
    // RGB at depth 4 is not a legal IHDR combination
    assert(decode(png(2, 1, 2, 4, 0, (_, _) => Seq(1, 2, 3))).isEmpty)
    // interlace byte 2 is out of spec
    val ok = png(2, 2, 2, 8, 0, (_, _) => Seq(1, 2, 3))
    assert(decode(ok).isDefined)
  }

  test("strictness: PLTE on grayscale types and PLTE after IDAT return None") {
    val pal = Seq((1, 2, 3), (4, 5, 6))
    // spec forbids PLTE for grayscale (0) and gray+alpha (4)
    assert(decode(png(2, 1, 0, 8, 0, (_, _) => Seq(7), pal)).isEmpty)
    assert(decode(png(2, 1, 4, 8, 0, (_, _) => Seq(7, 200), pal)).isEmpty)
    // splice a valid palette png so PLTE follows IDAT: chunk order is
    // sig ++ IHDR ++ PLTE ++ IDAT ++ IEND; move PLTE after IDAT
    val good = png(2, 1, 3, 2, 0, (_, _) => Seq(1), pal)
    assert(decode(good).isDefined)
    def chunkStart(b: Array[Byte], tag: String): Int =
      b.indices.find(i => i + 8 <= b.length &&
        new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII) == tag).get - 0
    def chunkLen(b: Array[Byte], at: Int): Int = {
      val dataLen = ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
        ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)
      dataLen + 12
    }
    val ps = chunkStart(good, "PLTE"); val pl = chunkLen(good, ps)
    val is = chunkStart(good, "IDAT"); val il = chunkLen(good, is)
    assert(ps < is)
    val reordered = good.take(ps) ++
      good.slice(is, is + il) ++ good.slice(ps, ps + pl) ++
      good.drop(is + il)
    assert(decode(reordered).isEmpty)
  }
}
