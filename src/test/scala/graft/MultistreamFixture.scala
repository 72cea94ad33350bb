package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

import graft.ingest.Multistream

/** The public multistream dump layout, built from the minidump fixture. */
object MultistreamFixture {

  val dumpXml: String =
    Files.readString(Paths.get("src/test/resources/minidump.xml"))

  def bz2(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new BZip2CompressorOutputStream(bos)
    out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    bos.toByteArray
  }

  val pages: Seq[String] = Multistream.splitPages(dumpXml).toSeq

  /** Build the public multistream layout from the minidump: stream 0 =
    * header+siteinfo, then `perStream`-page streams, then the footer
    * (a bz2 `</mediawiki>` stream unless given); plus the
    * offset:page_id:title index. Returns (dump, index) paths. */
  def writeFixture(dir: Path, perStream: Int,
      footer: Array[Byte] = bz2("</mediawiki>")): (String, String) = {
    val header = dumpXml.substring(0, dumpXml.indexOf("<page"))
    val groups = pages.grouped(perStream).toSeq
    val blobs = (header +: groups.map(_.mkString("\n"))).map(bz2) :+ footer
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
}
