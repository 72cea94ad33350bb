package graft.ingest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Splittable ingest of `pages-articles-multistream.xml.bz2` dumps
  * (SURVEY.md §0.2, VERDICT_r11 #3) — the public Wikimedia layout that
  * exists precisely so importers can parallelize what a plain `.bz2`
  * forbids:
  *
  *  - the DUMP is a concatenation of independent bz2 streams: stream 0
  *    holds the `<mediawiki>` header + `<siteinfo>`, every following
  *    stream holds ~100 raw `<page>` elements (no root), and the final
  *    stream holds the closing `</mediawiki>`;
  *  - the INDEX (`…-multistream-index.txt[.bz2]`) is one
  *    `offset:page_id:title` line per page, `offset` = the byte offset
  *    of the bz2 stream containing that page.
  *
  * The reader decodes ONE bz2 stream per distinct index offset, in
  * parallel: N streams = N independent tasks, so a 20 GB dump ingests
  * at cluster width instead of one task. Each task seeks to its offset
  * and decodes with `decompressConcatenated = false`, so the decoder
  * stops at that stream's own end-of-stream marker: no byte ranges,
  * no end offsets, no neighbour's bytes. Per-stream decode is genuine
  * per-partition imperative work (the documented mapPartitions
  * exception); everything after — schema application, flatten,
  * classify — is the same declarative chain as [[MediaWikiXml]], via
  * `from_xml` with the SAME declared [[MediaWikiXml.pageSchema]], so
  * the multistream path produces the identical flattened frame as the
  * single-stream `spark.read.format("xml")` path (IngestSpec proves
  * frame equality on a 3-stream fixture).
  *
  * 100 TB notes: the index is ~1% of the dump and is read once; its
  * distinct offsets stay distributed end to end (a full-history enwiki
  * index is ~10M distinct offsets, too many to collect), and building
  * the page frame submits no Spark job. Each decode task opens the
  * dump at its own offset (HDFS/S3 positioned read) and reads only its
  * own stream, so ingest scales with stream count. The header (stream
  * 0) and the footer stream (`</mediawiki>`) are never listed in the
  * index, so no page task decodes them.
  */
object Multistream {

  /** An index line's leading `offset:page_id:` fields. */
  private val IndexFields = "^(\\d+):(\\d+):"

  /** Parse the multistream index into (stream_offset, page_id, title).
    * Reads via the text source, so a `.bz2` index decodes transparently
    * (it is small — one stream — and read once). Title may itself
    * contain ':', so only the first two fields split. */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.textFile(indexPath)
      .toDF("line")
      .filter(length(trim(col("line"))) > 0)
      // a corrupt line would regexp_extract to '' → cast to a null
      // offset and page id; drop it instead
      .filter(col("line").rlike(IndexFields))
      .select(
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 1)
          .cast("long").as("stream_offset"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 2)
          .cast("long").as("page_id"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 3).as("title"))

  /** The distinct stream offsets the index lists — one element per bz2
    * data stream — dealt round-robin over `slices` partitions. Lines
    * without [[readIndex]]'s leading fields are skipped, as it skips
    * them, so a single bad index line can't abort the whole ingest.
    * RDD operations, not a Dataset: the two shuffles (the distinct and
    * the deal) run as stages of whichever job consumes the offsets,
    * with no job of their own and no generated code for a list of
    * longs. A full-history enwiki index lists ~10M distinct offsets,
    * so nothing is collected. */
  private[graft] def streamOffsetsRDD(spark: SparkSession, indexPath: String,
      slices: Int): RDD[Long] = {
    val fields = IndexFields.r
    // minPartitions 1: a small index stays one partition through the
    // distinct, so the deal gives each of its offsets its own slice
    spark.sparkContext.textFile(indexPath, 1)
      .flatMap(l => fields.findFirstMatchIn(l).flatMap(_.group(1).toLongOption))
      .distinct().repartition(slices)
  }

  /** Open the ONE bz2 stream that starts at `offset` as a decoding
    * Reader. `decompressConcatenated = false` stops the decoder at
    * that stream's end-of-stream marker, so a task never decodes a
    * neighbour's stream (nor the footer) and needs no end offset.
    * Nothing is buffered beyond the decompressor's block: the
    * compressed bytes stream straight off the positioned FS read.
    * Takes the job's Hadoop conf explicitly so executor-side opens see
    * the driver's filesystem settings (S3/ABFS credentials,
    * fs.defaultFS) instead of an empty `new Configuration()`. */
  private def openStream(conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String, offset: Long): java.io.Reader = {
    val path = new org.apache.hadoop.fs.Path(dumpPath)
    val in = path.getFileSystem(conf).open(path)
    // the decoder reads the stream header on construction: a bad offset
    // fails here, and the file must not stay open behind it
    var ok = false
    try {
      in.seek(offset)
      val r = new java.io.InputStreamReader(
        new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorInputStream(in, false),
        java.nio.charset.StandardCharsets.UTF_8)
      ok = true
      r
    } finally if (!ok) in.close()
  }

  /** Bounded-memory page iterator over the bz2 stream at `offset`: decode
    * and scan in one pass, emitting each `<page>…</page>` as found and
    * compacting the scan buffer behind it. Peak allocation is one page
    * plus a 64 KiB read chunk — a pathological million-page stream
    * costs the same memory as a 100-page one (VERDICT r12 #7). Closes
    * the underlying FS stream on exhaustion or failure. */
  private[graft] def streamPagesAt(
      conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String, offset: Long): Iterator[String] = {
    val reader = openStream(conf, dumpPath, offset)
    var closed = false
    def closeNow(): Unit = if (!closed) { closed = true; reader.close() }
    // close on any abrupt exit without catching it: a fatal error or an
    // interrupt still propagates untouched
    def closingOnFailure[A](f: => A): A = {
      var ok = false
      try { val a = f; ok = true; a } finally if (!ok) closeNow()
    }
    val it = splitPagesStream(reader)
    new Iterator[String] {
      def hasNext: Boolean = {
        val h = closingOnFailure(it.hasNext)
        if (!h) closeNow()
        h
      }
      def next(): String = closingOnFailure(it.next())
    }
  }

  /** Streaming page splitter: scans an incrementally-filled buffer for
    * `<page` / `</page>` pairs, emits each page, then DELETES the
    * consumed prefix so the buffer never holds more than one page (+
    * one read chunk, + a small tail that could hold a split `<page`
    * prefix between chunks). Literal "</page>" cannot occur inside a
    * well-formed dump's text nodes (XML escapes `<` as `&lt;`), so the
    * linear scan is exact. */
  private[graft] def splitPagesStream(reader: java.io.Reader): Iterator[String] =
    new Iterator[String] {
      private val buf = new java.lang.StringBuilder
      private val chunk = new Array[Char](64 * 1024)
      private var eof = false
      private var pending: String = null

      private def fill(): Boolean = {
        if (eof) return false
        val n = reader.read(chunk)
        if (n < 0) { eof = true; false }
        else { buf.append(chunk, 0, n); true }
      }

      private def advance(): Unit = {
        while (pending == null) {
          val open = buf.indexOf("<page")
          if (open < 0) {
            // nothing openable yet: keep only a tail big enough to
            // hold a "<page" split across the chunk boundary
            if (buf.length > 8) buf.delete(0, buf.length - 8)
            if (!fill()) return
          } else {
            val close = buf.indexOf("</page>", open)
            if (close >= 0) {
              pending = buf.substring(open, close + "</page>".length)
              buf.delete(0, close + "</page>".length)
            } else {
              if (open > 0) buf.delete(0, open) // compact the pre-page junk
              require(fill(), "unterminated <page> element in stream")
            }
          }
        }
      }

      def hasNext: Boolean = { advance(); pending != null }
      def next(): String = {
        advance()
        if (pending == null) throw new NoSuchElementException("no more pages")
        val out = pending
        pending = null
        out
      }
    }

  /** A2-multistream: [[MediaWikiXml.readNamespaces]], which decodes
    * only the header (bz2 stream 0). `indexPath` is unused; it keeps
    * the signature parallel to [[readPages]]. */
  def readNamespaces(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame =
    MediaWikiXml.readNamespaces(spark, dumpPath)

  /** A1-multistream: page-grain scan of a multistream dump — the
    * parallel twin of [[MediaWikiXml.readPages]], one task per bz2
    * stream, identical output schema and rows. Lazy: building the frame
    * submits no Spark job.
    *
    * The offsets are dealt over about one slice per stream, estimated
    * from the index's size in bytes (a file status call, not a job), at
    * most ~4 waves per core so stream-size skew (some bz2 streams decode
    * slower) back-fills. The estimate assumes Wikimedia's 100 pages per
    * stream: at ~35 bytes per index line, a stream takes ~4 KiB of a
    * text index and ~1 KiB of a `.bz2` one. The cap binds from
    * ~`defaultParallelism * 4` streams up, so a real dump takes it; a
    * small one gets no empty decode tasks. */
  def readPages(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = new org.apache.hadoop.fs.Path(indexPath)
    val perStream = if (indexPath.endsWith(".bz2")) 1024L else 4096L
    val streams = (idx.getFileSystem(conf).getFileStatus(idx).getLen + perStream - 1) / perStream
    val slices = math.min(math.max(1L, streams),
      math.max(1, spark.sparkContext.defaultParallelism * 4).toLong).toInt
    // ship the DRIVER's Hadoop conf to the decode tasks — an
    // executor-side `new Configuration()` would drop object-store
    // credentials/endpoints set on the session
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val pageXml = spark.createDataset(streamOffsetsRDD(spark, indexPath, slices)
      .flatMap(off => streamPagesAt(confBc.value.value, dumpPath, off)))
    pageXml.toDF("xml")
      .select(from_xml(col("xml"), MediaWikiXml.pageSchema).as("p"))
      .select(col("p.*"))
  }
}
