package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DHash64
import graft.ops.MultimodalOps

/** Perceptual dHash (q166): the pixel tier over real decoded images,
  * the byte tier against an independent BigInt reimplementation, and
  * the banded Hamming join against a brute-force all-pairs scan. */
class PerceptualDHashSpec extends AnyFunSuite with LocalSparkSuite {

  // ---- deterministic test images -----------------------------------

  private def pixel(x: Int, y: Int): (Int, Int, Int) =
    (((x * 37 + y * 11) % 256 + 256) % 256,
      ((x * 5 + y * 73) % 256 + 256) % 256,
      ((x * 13 + y * 29 + 7) % 256 + 256) % 256)

  private def ppm(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"P6 $w $h 255\n".getBytes)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      out.write(r); out.write(g); out.write(b)
    }
    out.toByteArray
  }

  /** Same pixels as 24-bit bottom-up BMP (rows padded to 4 bytes, BGR,
    * file rows stored last-image-row-first). */
  private def bmp(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val size = 54 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
    b.putInt(0).putInt(0)
    for (fy <- 0 until h) {
      val y = h - 1 - fy // bottom-up
      for (x <- 0 until w) {
        val (r, g, bl) = px(x, y)
        b.put(bl.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- w * 3 until rowBytes) b.put(0.toByte)
    }
    b.array()
  }

  /** Independent grid reimplementation: explicit row/col boundary
    * membership scan (no per-pixel cell arithmetic). */
  private def bruteGrid(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int)): Array[Long] = {
    val grid = new Array[Long](144)
    for (r <- 0 until 8; c <- 0 until 9) {
      val yLo = (r.toLong * h / 8).toInt; val yHi = ((r + 1).toLong * h / 8).toInt
      val xLo = (c.toLong * w / 9).toInt; val xHi = ((c + 1).toLong * w / 9).toInt
      for (y <- yLo until yHi; x <- xLo until xHi) {
        val (pr, pg, pb) = px(x, y)
        grid(r * 9 + c) += 2126L * pr + 7152L * pg + 722L * pb
        grid(72 + r * 9 + c) += 1L
      }
    }
    grid
  }

  /** Independent hash reimplementation over exact rational means. */
  private def bruteHash(grid: Array[Long]): Long = {
    var hash = 0L
    for (i <- 0 until 64) {
      val cell = (i / 8) * 9 + i % 8
      val a = (BigInt(grid(cell)), BigInt(grid(72 + cell)))
      val b = (BigInt(grid(cell + 1)), BigInt(grid(72 + cell + 1)))
      if (b._1 * a._2 > a._1 * b._2) hash |= 1L << i
    }
    hash
  }

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ---- pixel tier ---------------------------------------------------

  test("pixel-tier grid matches a brute-force boundary scan; gradient cell arithmetic agrees") {
    // grid-multiple dims, sub-grid dims, and coprime dims all hit
    // different cell-boundary arithmetic
    for ((w, h) <- Seq((36, 24), (7, 5), (9, 8), (40, 31))) {
      val grid = new Array[Long](144)
      assert(MultimodalOps.decodeGrid(ppm(w, h, pixel), grid),
        s"${w}x$h PPM must take the pixel tier")
      val brute = bruteGrid(w, h, pixel)
      assert(grid.toSeq === brute.toSeq, s"dims ${w}x$h")
      assert(grid.slice(72, 144).sum === w.toLong * h)
    }
  }

  test("the same pixels hash identically across PPM and BMP encodings (the perceptual point)") {
    assert(DHash64.hash(ppm(36, 24, pixel)) === DHash64.hash(bmp(36, 24, pixel)))
    // and across non-multiple-of-grid dims (uneven cells, incl. w < 9)
    for ((w, h) <- Seq((7, 5), (9, 8), (40, 31)))
      assert(DHash64.hash(ppm(w, h, pixel)) === DHash64.hash(bmp(w, h, pixel)),
        s"dims ${w}x$h")
    // a third, independently written encoding: the JDK's PNG writer
    for ((w, h) <- Seq((36, 24), (7, 5), (40, 31))) {
      val png = ImageIoBytes.encode(w, h, pixel, "png")
      assert(MultimodalOps.decodeGrid(png, new Array[Long](144)),
        s"${w}x$h ImageIO PNG must take the pixel tier")
      assert(DHash64.hash(png) === DHash64.hash(ppm(w, h, pixel)), s"PNG dims ${w}x$h")
    }
  }

  test("one-pixel edit moves the hash at most 2 bits (the dedup locality guarantee)") {
    for (seed <- 1 to 5) {
      val (w, h) = (36, 24)
      val ex = (seed * 7) % w; val ey = (seed * 5) % h
      val edited = (x: Int, y: Int) =>
        if (x == ex && y == ey) (255, 0, 255) else pixel(x, y)
      val d = ham(DHash64.hash(ppm(w, h, pixel)), DHash64.hash(ppm(w, h, edited)))
      assert(d <= 2, s"edit at ($ex,$ey) moved $d bits")
    }
  }

  test("checked-in PNG fixture grid agrees with its documented pattern") {
    // fixture_6x5.png pixel (x,y) = (10x, 10y, x+y)
    val bytes = {
      val in = getClass.getResourceAsStream("/fixture_6x5.png")
      try in.readAllBytes() finally in.close()
    }
    val grid = new Array[Long](144)
    assert(MultimodalOps.decodeGrid(bytes, grid))
    assert(grid.toSeq === bruteGrid(6, 5, (x, y) => (10 * x, 10 * y, x + y)).toSeq)
  }

  // ---- byte tier ------------------------------------------------------

  test("byte tier equals the independent reimplementation; undecodable payloads take it") {
    val rnd = new scala.util.Random(42)
    val random = Seq(0, 1, 5, 71, 72, 73, 300, 4096).map { n =>
      val p = new Array[Byte](n)
      rnd.nextBytes(p)
      if (n > 0) p(0) = 'x'.toByte // never a magic byte
      p
    }
    // real JPEG and GIF files: formats outside the pixel tier hash their bytes
    val compressed = Seq("jpeg", "gif").map(ImageIoBytes.encode(36, 24, pixel, _))
    for (p <- random ++ compressed) {
      val n = p.length
      val grid = new Array[Long](144)
      assert(!MultimodalOps.decodeGrid(p, grid), s"n=$n must not decode")
      DHash64.byteStrips(p, grid)
      // independent: strip membership by explicit boundary scan
      val brute = new Array[Long](144)
      for (k <- 0 until 72) {
        val lo = (BigInt(k) * n / 72).toInt; val hi = (BigInt(k + 1) * n / 72).toInt
        for (j <- lo until hi) brute(k) += p(j) & 0xff
        brute(72 + k) = hi - lo
      }
      assert(grid.toSeq === brute.toSeq, s"n=$n grids")
      assert(DHash64.hash(p) === bruteHash(brute), s"n=$n hash")
    }
  }

  test("a failed decode attempt never leaks partial grid state into the byte tier") {
    // truncated PPM: decodePpm rejects before its pixel loop, but a
    // stale non-zero grid would poison the byte tier if not cleared
    val good = ppm(12, 9, pixel)
    val grid = new Array[Long](144)
    assert(MultimodalOps.decodeGrid(good, grid))
    val truncated = good.dropRight(1)
    assert(!MultimodalOps.decodeGrid(truncated, grid))
    DHash64.byteStrips(truncated, grid)
    val fresh = new Array[Long](144)
    DHash64.byteStrips(truncated, fresh)
    assert(grid.toSeq === fresh.toSeq)
  }

  // ---- banded join vs brute force ------------------------------------

  test("q166 banded Hamming join equals the brute-force all-pairs scan at sf0.001") {
    import org.apache.spark.sql.functions.col
    val got = graft.ops.MultimodalOps.imageNeardup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // independent universe: plain-Scala renditions + kernel hashes
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.length >= 2)
    val universe = docs.flatMap { case (id, t) =>
      val p = t.length / 2 // 1-based middle char
      val ch = t.charAt(p - 1)
      val rep = if (ch == '~') '!' else '~'
      val rend = t.substring(0, p - 1) + rep + t.substring(p)
      Seq(id -> t, (id + 10000000L) -> rend)
    }.map { case (id, t) => id -> DHash64.hash(t.getBytes("UTF-8")) }
    val brute = (for {
      (ia, ha) <- universe; (ib, hb) <- universe
      if ia < ib && ham(ha, hb) <= 3
    } yield (ia, ib, ham(ha, hb).toLong)).sortBy(p => (p._1, p._2)).toSeq
    assert(got === brute)
    // every injected rendition pair is recovered (the recall floor)
    val ids = got.filter { case (a, b, _) => b - a == 10000000L }
    assert(ids.size === docs.length)
  }
}
