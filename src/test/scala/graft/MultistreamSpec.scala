package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{ImportDump, MediaWikiXml, Multistream}

/** Splittable multistream-bz2 ingest (VERDICT_r11 #3): a 3-stream
  * fixture built from the minidump proves the N-way parallel
  * one-stream-per-offset path produces the IDENTICAL flattened frame as
  * the single-stream XML-source path. */
class MultistreamSpec extends AnyFunSuite with LocalSparkSuite {

  import MultistreamFixture.{pages, splitPages, streamOffsets, writeFixture}

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

  test("each index offset decodes exactly its own stream and stops at its end") {
    val dir = Files.createTempDirectory("msstream")
    val (dump, index) = writeFixture(dir, 3)
    val offsets = streamOffsets(spark, index)
    val conf = spark.sparkContext.hadoopConfiguration
    // 8 pages / 3 per stream: the decoder at each offset yields that
    // stream's pages and none of the next stream's
    assert(offsets.map(o => Multistream.streamPagesAt(conf, dump, o).toSeq) ===
      pages.grouped(3).toSeq)
  }

  test("an offset listed 100 times decodes its stream once") {
    val dir = Files.createTempDirectory("msdup")
    val (dump, index) = writeFixture(dir, 3)
    val first = Files.readAllLines(java.nio.file.Paths.get(index)).get(0)
    val dupIndex = dir.resolve("dup-index.txt")
    Files.writeString(dupIndex, Seq.fill(100)(first).mkString("", "\n", "\n"))
    val ids = Multistream.readPages(spark, dump, dupIndex.toString)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val expected = pages.take(3).map("<id>(\\d+)</id>".r.findFirstMatchIn(_).get.group(1).toLong)
    assert(ids.sorted === expected.sorted)
  }

  test("the footer stream is never needed") {
    // not bz2 at all: a reader that decoded past the last page stream
    // would fail on it
    val dir = Files.createTempDirectory("msfoot")
    val (dump, index) = writeFixture(dir, 3,
      footer = "not a bz2 stream".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (clean, cleanIndex) = writeFixture(Files.createTempDirectory("msfootok"), 3)
    val key = MediaWikiXml.pageSchema.fieldNames.map(col).toIndexedSeq
    assert(Multistream.readPages(spark, dump, index).orderBy(key: _*).collect().toSeq ===
      Multistream.readPages(spark, clean, cleanIndex).orderBy(key: _*).collect().toSeq)
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
    assert(streamOffsets(spark, index).size === 4)
    // the deal spreads the 4 distinct offsets over 4 decode tasks
    val perTask = Multistream.streamOffsetsRDD(spark, index, 16).glom().collect()
    assert(perTask.map(_.length).sorted.reverse.take(5).toSeq === Seq(1, 1, 1, 1, 0))
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

  test("ImportDump.run writes the same rows with and without the index") {
    val dir = Files.createTempDirectory("msimport")
    val (dump, index) = writeFixture(dir, 3)
    val out = dir.resolve("indexed").toString
    val plain = dir.resolve("plain").toString
    val counts = ImportDump.run(spark, dump, Some(index), out, None)
    assert(ImportDump.run(spark, dump, None, plain, None) === counts)
    assert(counts.revisions === 9)
    for (table <- Seq("revision", "namespace", "page_latest")) {
      def rows(root: String) =
        spark.read.parquet(s"$root/$table").collect().map(_.toString).sorted.toSeq
      assert(rows(out).nonEmpty)
      assert(rows(out) === rows(plain), table)
    }
  }

  test("splitPages: exact top-level page extraction") {
    val s = "<page><title>A</title></page>junk<page><title>B</title></page>"
    assert(splitPages(s).toSeq ===
      Seq("<page><title>A</title></page>", "<page><title>B</title></page>"))
    assert(splitPages("no pages here").isEmpty)
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
    assert(got.toSeq === splitPages(whole).toSeq,
      "streamed splitter must agree with the whole-string splitter")
  }
}
