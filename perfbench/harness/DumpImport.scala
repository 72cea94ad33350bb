package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.ingest.{CorpusExport, MediaWikiXml, Multistream, Sinks}
import Harness._

/** dump_import: the reference's whole job, XML dump to database, through
  * ImportDump's public steps in order, then the product's corpus hand-off:
  * the latest revision of every page exported as size-bounded gzip JSONL
  * shards and verified against the shipped manifest (EndToEndDemo step 5).
  * One iteration imports and exports the whole dump; iterations repeat
  * for the run's measuring time. */
object DumpImport {
  val Dump = "pages-articles-multistream.xml.bz2"
  val Index = "pages-articles-multistream-index.txt.bz2"

  val ShardBytes: Long = 1L << 20
  /** Quiet set-ups per run after the first, for setup_s. */
  val SetUps = 4
  /** Warm iterations per run, at least (and at least --seconds of them). */
  val MinIterations = 3

  /** One warm iteration; `quiet` when no neighbour took the host's CPU. */
  final case class Iter(wall: Double, calls: Map[String, Double], span: Span, diffs: Long,
      quiet: Boolean)

  /** One import of `dir`'s dump into `out`, every public call timed. */
  def importOnce(run: Run, spark: SparkSession, dir: Path, out: Path, url: String): Iter = {
    val dump = dir.resolve(Dump).toString
    val index = dir.resolve(Index).toString
    val calls = mutable.LinkedHashMap.empty[String, Double]
    def call[A](name: String)(f: => A): A = {
      val layer = if (name.startsWith("export.")) "graft.ingest.CorpusExport" else "graft.ingest"
      val (r, s, _) = timed(run, spark, name, layer)(f)
      System.err.println(f"[perfbench] $name $s%.3f s")
      calls(name) = s
      r
    }
    val meter = new StealMeter
    val (diffs, wall, span) = group(run, "import", "iteration") {
      val ns = call("ingest.namespaces_s") {
        val ns = Multistream.readNamespaces(spark, dump, index)
        ns.write.mode("overwrite").parquet(out.resolve("namespace").toString)
        ns
      }
      val pages = call("ingest.read_pages_s")(Multistream.readPages(spark, dump, index))
      val classified = call("ingest.classify_s")(
        MediaWikiXml.verifySha1(MediaWikiXml.classify(MediaWikiXml.flattenRevisions(pages), ns)))
      call("ingest.revision_sink_s")(
        Sinks.writeParquetPartitioned(classified, out.resolve("revision").toString))
      call("ingest.page_latest_s")(
        MediaWikiXml.latestRevisionPerPage(spark.read.parquet(out.resolve("revision").toString))
          .write.mode("overwrite").parquet(out.resolve("page_latest").toString))
      call("ingest.jdbc_load_s")(
        Sinks.writeJdbc(spark.read.parquet(out.resolve("revision").toString)
          .select("page_id", "ns", "title", "rev_id", "parent_id", "ts", "is_minor",
            "is_anon", "text_bytes", "sha1"), url, "revision"))
      val docs = spark.read.parquet(out.resolve("page_latest").toString)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("page_id").as("doc_id"), col("text"), lit("en").as("lang"),
          coalesce(when(length(col("ns_name")) > 0, col("ns_name")), lit("main")).as("source"),
          length(col("text")).cast("long").as("n_chars"))
      call("export.write_s")(CorpusExport.exportJsonl(docs, out.resolve("shards").toString,
        ShardBytes, codec = "gzip"))
      call("export.verify_s")(CorpusExport.verifyExport(spark, out.resolve("shards").toString).count())
    }
    Iter(wall, calls.toMap, span, diffs, meter.quiet(wall))
  }

  def jdbcCount(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  def run(run: Run): Unit = {
    implicit val formats: Formats = DefaultFormats
    val dir = run.data
    val manifest = readJson(dir.resolve("manifest.json"))
    val pages = (manifest \ "pages").extract[Long]
    val revisions = (manifest \ "revisions").extract[Long]
    val mismatches = (manifest \ "sha1_mismatches").extract[Long]
    val xmlBytes = (manifest \ "xml_bytes").extract[Long]
    val out = run.work.resolve("import")
    System.setProperty("derby.stream.error.file", run.work.resolve("derby.log").toString)
    val url = s"jdbc:derby:${run.work.resolve("derby").resolve("importdb")};create=true"

    // set-up is the session and a warm-up read of the dump's header
    // (siteinfo and namespaces through the multistream index), the
    // import's first touch of the dump. JIT and class loading of the rest
    // belong to the first (cold) import, reported apart from the warm ones.
    val spark = setUp(run, SetUps) { s =>
      Multistream.readNamespaces(s, dir.resolve(Dump).toString, dir.resolve(Index).toString)
        .collect()
    }
    def iteration(n: Int): Iter = {
      val it = importOnce(run, spark, dir, out, url)
      run.attempted += 1
      // output checks, outside the timed region
      val (nRev, nBad) = {
        val r = spark.read.parquet(out.resolve("revision").toString)
          .agg(count(lit(1)), count(when(col("sha1_ok") === false, 1))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val nLatest = spark.read.parquet(out.resolve("page_latest").toString).count()
      val nJdbc = jdbcCount(url, "revision")
      val nExported = CorpusExport.importJsonl(spark, out.resolve("shards").toString).count()
      val ok = nRev == revisions && nBad == mismatches && nLatest == pages &&
        nJdbc == revisions && it.diffs == 0 && nExported == pages
      run.check(ok, s"import $n: revisions=$nRev/$revisions " +
        s"sha1_mismatches=$nBad/$mismatches page_latest=$nLatest/$pages jdbc=$nJdbc/$revisions " +
        s"manifest_diffs=${it.diffs} exported=$nExported/$pages")
      run.layers("ingest.revisions") = nRev.toDouble
      run.layers("ingest.pages") = nLatest.toDouble
      run.layers("ingest.sha1_mismatches") = nBad.toDouble
      run.layers("ingest.jdbc_rows") = nJdbc.toDouble
      it
    }
    run.layers("ingest.cold_import_s") = iteration(0).wall
    run.markWarm()
    val iters = mutable.ArrayBuffer.empty[Iter]
    val t0 = System.nanoTime()
    while (iters.size < MinIterations || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      iters += iteration(iters.size + 1)
    }
    val warm = iters.toSeq
    run.layers("host.contended_units") = warm.count(!_.quiet).toDouble
    run.e2e("throughput_per_s") = medianOf(warm.map(pages / _.wall))
    run.e2e("latency_s") = medianOf(warm.map(_.wall))
    warm.head.calls.keys.foreach(k => run.layers(k) = medianOf(warm.map(_.calls(k))))
    val parquetBytes = Seq("revision", "page_latest", "namespace")
      .map(d => bytesUnder(out.resolve(d))).sum
    run.layers("export.manifest_diffs") = iters.last.diffs.toDouble
    run.layers("export.shards") =
      spark.read.parquet(out.resolve("shards").resolve("_manifest").toString).count().toDouble
    run.layers("export.bytes") = bytesUnder(out.resolve("shards")).toDouble
    val streams = {
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        Files.newInputStream(dir.resolve(Index)), true)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.takeWhile(_ != ':')).toSet.size
      finally in.close()
    }
    run.layers("ingest.bz2_streams") = streams.toDouble
    run.layers("ingest.xml_bytes") = xmlBytes.toDouble
    run.layers("ingest.parquet_bytes") = parquetBytes.toDouble
    run.layers("ingest.sink_bytes_per_xml_byte") = parquetBytes.toDouble / xmlBytes
    run.layers("ingest.xml_mb_per_s") = xmlBytes / 1e6 / run.layers("ingest.revision_sink_s")
    run.layers("ingest.jdbc_rows_per_s") = revisions / run.layers("ingest.jdbc_load_s")
    run.warmSpans ++= warm.map(_.span)
    run.warmUnits = warm.size
    run.warmWallS = warm.map(_.wall).sum
    finish(run, spark)
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }
}
