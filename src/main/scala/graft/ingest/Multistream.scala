package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  * The reader turns the index's distinct offsets into (start, end)
  * byte ranges — one range per 100-page stream — and decodes ranges in
  * parallel: N streams = N independent tasks, so a 20 GB dump ingests
  * at cluster width instead of one task. Per-stream decode is genuine
  * per-partition imperative work (the documented mapPartitions
  * exception); everything after — schema application, flatten,
  * classify — is the same declarative chain as [[MediaWikiXml]], via
  * `from_xml` with the SAME declared [[MediaWikiXml.pageSchema]], so
  * the multistream path produces the identical flattened frame as the
  * single-stream `spark.read.format("xml")` path (IngestSpec proves
  * frame equality on a 3-stream fixture).
  *
  * 100 TB notes: the index is ~1% of the dump and is read once; the
  * range list is built DISTRIBUTIVELY and stays a Dataset end to end
  * (r16 — a full-history enwiki index is ~10M distinct offsets, too
  * many to collect): the only driver materialization on the ingest
  * path is one boundary row per partition. Each decode task opens the
  * dump file at its own offset (HDFS/S3 positioned read) and never
  * touches another task's range, so ingest scales with stream count. The trailing data range deliberately runs to EOF and decodes
  * the concatenated footer stream too (`</mediawiki>` carries no
  * `<page>`, so it contributes nothing).
  */
object Multistream {

  /** Parse the multistream index into (stream_offset, page_id, title).
    * Reads via the text source, so a `.bz2` index decodes transparently
    * (it is small — one stream — and read once). Title may itself
    * contain ':', so only the first two fields split. */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.textFile(indexPath)
      .toDF("line")
      .filter(length(trim(col("line"))) > 0)
      // a corrupt line would regexp_extract to '' → cast to null →
      // NPE deep in streamRanges' collect; drop it here instead so a
      // single bad index line can't abort the whole ingest opaquely
      .filter(col("line").rlike("^\\d+:\\d+:"))
      .select(
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 1)
          .cast("long").as("stream_offset"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 2)
          .cast("long").as("page_id"),
        regexp_extract(col("line"), "^(\\d+):(\\d+):(.*)$", 3).as("title"))

  private def dumpLen(spark: SparkSession, dumpPath: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(dumpPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getFileStatus(new org.apache.hadoop.fs.Path(dumpPath)).getLen
  }

  /** The distinct stream byte ranges [start, end) the index implies,
    * built DISTRIBUTIVELY (VERDICT_r15 #6 — the old driver-side
    * `.collect()` of every distinct offset was ~N/100 rows, i.e. ~10M
    * offsets for a full-history enwiki dump): each range's end is its
    * offset's successor, so the offsets range-partition by value, each
    * partition pairs its own sorted run with one element of lookahead
    * (the documented per-partition imperative exception), and the only
    * driver materialization is ONE first-offset row per partition
    * (bounded by the partition count, never the index size) to stitch
    * the partition boundaries. The last data stream runs to file
    * length — decoding the concatenated footer with it is harmless (no
    * `<page>` inside). */
  def streamRangesDS(spark: SparkSession, dumpPath: String,
      indexPath: String): Dataset[(Long, Long)] = {
    import spark.implicits._
    val fileLen = dumpLen(spark, dumpPath)
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = readIndex(spark, indexPath)
      .select(col("stream_offset")).distinct().as[Long]
      .repartitionByRange(parts, col("stream_offset"))
      .sortWithinPartitions(col("stream_offset"))
    val rdd = sorted.rdd
    // one row per non-empty partition: (partition index, its first
    // offset) — the bounded boundary exchange
    val firsts: Map[Int, Long] = rdd
      .mapPartitionsWithIndex((i, it) =>
        if (it.hasNext) Iterator.single((i, it.next())) else Iterator.empty)
      .collect().toMap
    val ranges = rdd.mapPartitionsWithIndex { (i, it) =>
      // the offset AFTER this partition's last = the first offset of
      // the next non-empty partition (range partitioning orders
      // partitions by value), or EOF for the global last
      val boundary = firsts.keys.filter(_ > i).toSeq.sorted.headOption
        .map(firsts).getOrElse(fileLen)
      new Iterator[(Long, Long)] {
        private var cur: Option[Long] =
          if (it.hasNext) Some(it.next()) else None
        def hasNext: Boolean = cur.isDefined
        def next(): (Long, Long) = {
          val s = cur.get
          val e =
            if (it.hasNext) { val n = it.next(); cur = Some(n); n }
            else { cur = None; boundary }
          (s, e)
        }
      }
    }
    spark.createDataset(ranges)
  }

  /** Driver-side convenience over [[streamRangesDS]] — FIXTURE-SCALE
    * use (specs): collects the full range list. The
    * ingest path itself never materializes it ([[readPages]] maps over
    * the Dataset). */
  def streamRanges(spark: SparkSession, dumpPath: String,
      indexPath: String): Seq[(Long, Long)] =
    streamRangesDS(spark, dumpPath, indexPath)
      .collect().sortBy(_._1).toSeq

  /** Open one bz2 stream range as a decoding Reader — nothing is
    * buffered beyond the decompressor's block: the compressed bytes
    * stream straight off the positioned FS read (bounded to the
    * range), and concatenated streams inside the range (the
    * EOF-trailing footer) decode too via the
    * `decompressConcatenated` flag. Takes the job's Hadoop conf
    * explicitly so executor-side opens see the driver's filesystem
    * settings (S3/ABFS credentials, fs.defaultFS) instead of an
    * empty `new Configuration()`. */
  private def openRange(conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String, start: Long, end: Long): java.io.Reader = {
    val path = new org.apache.hadoop.fs.Path(dumpPath)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    in.seek(start)
    val bounded = new java.io.FilterInputStream(in) {
      private var left = end - start
      override def read(): Int =
        if (left <= 0) -1
        else { val b = super.read(); if (b >= 0) left -= 1; b }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        if (left <= 0) return -1
        val n = super.read(buf, off, math.min(len.toLong, left).toInt)
        if (n > 0) left -= n
        n
      }
    }
    val bz = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(bounded, true)
    new java.io.InputStreamReader(bz, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Bounded-memory page iterator over one bz2 stream range: decode
    * and scan in one pass, emitting each `<page>…</page>` as found and
    * compacting the scan buffer behind it. Peak allocation is one page
    * plus a 64 KiB read chunk — a pathological million-page stream
    * costs the same memory as a 100-page one (VERDICT r12 #7). Closes
    * the underlying FS stream on exhaustion or failure. */
  private[graft] def streamPagesRange(
      conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String, start: Long, end: Long): Iterator[String] = {
    val reader = openRange(conf, dumpPath, start, end)
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

  /** Split a decoded stream into its top-level `<page>…</page>`
    * elements. Literal "</page>" cannot occur inside a well-formed
    * dump's text nodes (XML escapes `<` as `&lt;`), so a linear scan
    * is exact. */
  private[graft] def splitPages(xml: String): Iterator[String] =
    splitPagesStream(new java.io.StringReader(xml))

  /** Streaming page splitter: scans an incrementally-filled buffer for
    * `<page` / `</page>` pairs, emits each page, then DELETES the
    * consumed prefix so the buffer never holds more than one page (+
    * one read chunk, + a small tail that could hold a split `<page`
    * prefix between chunks). Literal "</page>" cannot occur inside a
    * well-formed dump's text nodes (XML escapes `<` as `&lt;`), so the
    * linear scan is exact — same contract as the String form. */
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

  /** The header's XML: bz2 stream 0 by format, decoded on the driver
    * with `decompressConcatenated = false`, so the decoder stops at that
    * stream's end-of-stream marker and never reads a page stream. */
  private def readHeaderStream(conf: org.apache.hadoop.conf.Configuration,
      dumpPath: String): String = {
    val path = new org.apache.hadoop.fs.Path(dumpPath)
    val in = path.getFileSystem(conf).open(path)
    try {
      val r = new java.io.InputStreamReader(
        new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorInputStream(in, false),
        java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder
      val chunk = new Array[Char](64 * 1024)
      var n = r.read(chunk)
      while (n >= 0) { sb.append(chunk, 0, n); n = r.read(chunk) }
      sb.toString
    } finally in.close()
  }

  /** A2-multistream: the `<siteinfo>` namespace map from the HEADER
    * stream only — bz2 stream 0, one tiny driver-side decode that reads
    * neither the index nor the rest of the dump (the XML source on a
    * multistream file would decode every stream just to find the
    * header's namespace tags). Building the frame submits no Spark job.
    * `indexPath` is unused: the header's extent is fixed by the bz2
    * format, not by the index; the parameter keeps the signature
    * parallel to [[readPages]]. Output matches
    * [[MediaWikiXml.readNamespaces]] column-for-column. */
  def readNamespaces(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame = {
    import spark.implicits._
    val header = readHeaderStream(spark.sparkContext.hadoopConfiguration, dumpPath)
    // namespace elements are self-closing or text-bearing
    val elems = "<namespace\\b[^>]*(?:/>|>[^<]*</namespace>)".r
      .findAllIn(header).toSeq
    spark.createDataset(elems).toDF("xml")
      .select(from_xml(col("xml"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_VALUE",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_case",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_key",
          org.apache.spark.sql.types.LongType)))).as("n"))
      .select(col("n._key").cast("int").as("ns_key"),
        coalesce(col("n._VALUE"), lit("")).as("ns_name"),
        col("n._case").as("ns_case"))
  }

  /** A1-multistream: page-grain scan of a multistream dump — the
    * parallel twin of [[MediaWikiXml.readPages]], one task per bz2
    * stream, identical output schema and rows. */
  def readPages(spark: SparkSession, dumpPath: String,
      indexPath: String): DataFrame = {
    import spark.implicits._
    // ranges stay a DATASET end to end (VERDICT_r15 #6): the decode
    // fans out from the distributed range rows — no driver
    // materialization at any index size. Round-robin the skinny
    // (start, end) pairs across ~4 waves per core so stream-size skew
    // (some bz2 streams decode slower) back-fills.
    val slices = math.max(1, spark.sparkContext.defaultParallelism * 4)
    // ship the DRIVER's Hadoop conf to the range tasks — an
    // executor-side `new Configuration()` would drop object-store
    // credentials/endpoints set on the session and fail after a
    // successful driver-side range listing
    val bcConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val confBc = spark.sparkContext.broadcast(bcConf)
    val pageXml: Dataset[String] =
      streamRangesDS(spark, dumpPath, indexPath)
        .repartition(slices)
        .flatMap { case (s, e) =>
          streamPagesRange(confBc.value.value, dumpPath, s, e)
        }
    pageXml.toDF("xml")
      .select(from_xml(col("xml"), MediaWikiXml.pageSchema).as("p"))
      .select(col("p.*"))
  }
}
