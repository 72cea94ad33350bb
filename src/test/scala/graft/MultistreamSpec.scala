package graft

import java.nio.file.{Files, Path}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{MediaWikiXml, Multistream}

/** Splittable multistream-bz2 ingest (VERDICT_r11 #3): a 3-stream
  * fixture built from the minidump proves the N-way parallel
  * byte-range path produces the IDENTICAL flattened frame as the
  * single-stream XML-source path. */
class MultistreamSpec extends AnyFunSuite with LocalSparkSuite {

  private val dumpXml =
    Files.readString(java.nio.file.Paths.get("src/test/resources/minidump.xml"))

  private def bz2(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new BZip2CompressorOutputStream(bos)
    out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    bos.toByteArray
  }

  /** Build the public multistream layout from the minidump: stream 0 =
    * header+siteinfo, then `perStream`-page streams, then the footer
    * stream; plus the offset:page_id:title index. Returns (dump,
    * index) paths. */
  private def writeFixture(dir: Path, perStream: Int): (String, String) = {
    val pages = Multistream.splitPages(dumpXml).toSeq
    val header = dumpXml.substring(0, dumpXml.indexOf("<page"))
    val groups = pages.grouped(perStream).toSeq
    val streams = (header +: groups.map(_.mkString("\n"))) :+ "</mediawiki>"
    val blobs = streams.map(bz2)
    val dump = dir.resolve("multi.xml.bz2")
    Files.write(dump, blobs.flatten.toArray)
    // byte offset of each DATA stream (skip header, skip footer)
    val offsets = blobs.map(_.length.toLong).scanLeft(0L)(_ + _)
    val indexLines = groups.zipWithIndex.flatMap { case (g, i) =>
      g.map { p =>
        val id = "<id>(\\d+)</id>".r.findFirstMatchIn(p).get.group(1)
        val title = "<title>([^<]*)</title>".r.findFirstMatchIn(p).get.group(1)
        s"${offsets(i + 1)}:$id:$title"
      }
    }
    val index = dir.resolve("multi-index.txt")
    Files.writeString(index, indexLines.mkString("\n") + "\n")
    (dump.toString, index.toString)
  }

  /** The Spark jobs `f` submits. The listener bus is asynchronous but
    * ordered, so once a marked fence job submitted after `f` has ended,
    * every job start before it has been counted. */
  private def jobsSubmittedBy[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val fenceDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var fenceId = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.fence") != null)) fenceId = e.jobId
        else started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId) fenceDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.fence", null)
      assert(fenceDone.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job never ended")
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("index parses offset:page_id:title, title colons intact") {
    val dir = Files.createTempDirectory("msidx")
    val idx = dir.resolve("i.txt")
    Files.writeString(idx, "614:1:Main Page\n614:5:Talk:Main Page\n9999:7:A:B:C\n")
    val rows = Multistream.readIndex(spark, idx.toString)
      .orderBy(col("page_id")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((614L, 1L, "Main Page"), (614L, 5L, "Talk:Main Page"),
        (9999L, 7L, "A:B:C")))
  }

  test("stream ranges: consecutive distinct offsets, last runs to EOF") {
    val dir = Files.createTempDirectory("msrange")
    val (dump, index) = writeFixture(dir, 3)
    val ranges = Multistream.streamRanges(spark, dump, index)
    assert(ranges.size === 3) // 8 pages / 3 per stream
    // contiguous, ascending, last end = file length
    assert(ranges.sliding(2).forall { case Seq(a, b) => a._2 == b._1 })
    assert(ranges.last._2 === Files.size(java.nio.file.Paths.get(dump)))
  }

  test("3-stream parallel read == single-stream read, frame-identical") {
    val dir = Files.createTempDirectory("msdump")
    val (dump, index) = writeFixture(dir, 3)
    val multi = Multistream.readPages(spark, dump, index)
    val single = MediaWikiXml.readPages(
      spark, "src/test/resources/minidump.xml")
    val fm = MediaWikiXml.flattenRevisions(multi)
    val fs = MediaWikiXml.flattenRevisions(single)
    assert(fm.schema === fs.schema)
    val key = fm.columns.map(col).toIndexedSeq
    assert(fm.orderBy(key: _*).collect().toSeq ===
      fs.orderBy(key: _*).collect().toSeq)
    // the A9 classify chain composes identically on the parallel frame
    val ns = MediaWikiXml.readNamespaces(spark, "src/test/resources/minidump.xml")
    assert(MediaWikiXml.classify(fm, ns).filter(col("is_article")).count() ===
      MediaWikiXml.classify(fs, ns).filter(col("is_article")).count())
  }

  test("stream count drives parallelism: one task per stream") {
    val dir = Files.createTempDirectory("mspar")
    val (dump, index) = writeFixture(dir, 2) // 4 data streams
    assert(Multistream.streamRanges(spark, dump, index).size === 4)
    import spark.implicits._
    val pageXml = Multistream.readPages(spark, dump, index)
    assert(pageXml.count() === 8)
  }

  test("header-only namespace read == XML-source namespaces") {
    val dir = Files.createTempDirectory("msns")
    val (dump, _) = writeFixture(dir, 3)
    // the header is bz2 stream 0 by format: neither the index nor a
    // Spark job is needed to find it
    val missing = dir.resolve("no-such-index.txt").toString
    val (ns, jobs) = jobsSubmittedBy(Multistream.readNamespaces(spark, dump, missing))
    assert(jobs === 0)
    val fromHeader = ns.orderBy(col("ns_key")).collect().toSeq
    val fromXml = MediaWikiXml.readNamespaces(
      spark, "src/test/resources/minidump.xml")
      .orderBy(col("ns_key")).collect().toSeq
    assert(fromHeader === fromXml)
  }

  test("splitPages: exact top-level page extraction") {
    val s = "<page><title>A</title></page>junk<page><title>B</title></page>"
    assert(Multistream.splitPages(s).toSeq ===
      Seq("<page><title>A</title></page>", "<page><title>B</title></page>"))
    assert(Multistream.splitPages("no pages here").isEmpty)
  }

  /** Bounded-memory splitter (VERDICT_r12 #7): a many-page stream must
    * (a) yield frames identical to the whole-string splitter and (b)
    * never be slurped ahead — the chars consumed from the Reader at
    * each emission may exceed the chars already emitted by at most one
    * page + one 64 KiB read chunk + the boundary tail. A
    * million-page stream therefore costs one page of buffer, not the
    * stream. */
  test("splitPagesStream: many-page stream, identical frames, bounded read-ahead") {
    val n = 20000
    val pages = (0 until n).map(i =>
      s"<page><title>P$i</title><revision><text>body $i ${"x" * (i % 97)}</text></revision></page>")
    // pages are back-to-back: every consumed char between emissions is
    // page payload, so the read-ahead bound is exactly buffer-shaped
    val whole = "<header/>" + pages.mkString + "</mediawiki>"
    var readChars = 0L
    val counting = new java.io.FilterReader(new java.io.StringReader(whole)) {
      override def read(buf: Array[Char], off: Int, len: Int): Int = {
        val r = super.read(buf, off, len)
        if (r > 0) readChars += r
        r
      }
      override def read(): Int = {
        val r = super.read()
        if (r >= 0) readChars += 1
        r
      }
    }
    val maxPage = pages.map(_.length).max
    val budget = maxPage + 64 * 1024 + "<header/></mediawiki>".length + 16
    var emitted = 0L
    val it = Multistream.splitPagesStream(counting)
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val p = it.next()
      got += p
      emitted += p.length
      assert(readChars <= emitted + budget,
        s"splitter read ${readChars - emitted} chars ahead of emission (budget $budget)")
    }
    assert(got.toSeq === pages, "streamed frames must equal the page list")
    assert(got.toSeq === Multistream.splitPages(whole).toSeq,
      "streamed splitter must agree with the whole-string splitter")
  }
}
