package graft.ingest

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** The reference's CLI, Spark-native: import a MediaWiki pages dump
  * into relational sinks in one run (SURVEY.md §3.1 lifecycle →
  * one declarative pipeline).
  *
  *   sbt "runMain graft.ingest.ImportDump [--index <index file>] <dump.xml[.bz2]> <outDir> [jdbcUrl]"
  *
  * Multistream dumps: with `--index` the page scan is
  * [[Multistream.readPages]], about one task per bz2 stream instead of
  * one task per (non-splittable) file. The rest of [[run]] is the same
  * and writes the same rows (MultistreamSpec runs both ways).
  */
object ImportDump {

  /** What the import observed while writing the revision sink. */
  final case class Counts(revisions: Long, approxPages: Long)

  /** The import call sequence every driver runs: namespace header read
    * → page scan (declared schema; through the multistream `index` when
    * given) → revision flatten + decodes → namespace classification →
    * sha1 verification → ns-partitioned `revision` parquet, `namespace`
    * and a latest-revision `page_latest` table under `outDir` → the
    * revision table into `jdbcUrl` when given. Row counts ride along
    * via observe() (A13) — no extra pass. */
  def run(spark: SparkSession, dump: String, index: Option[String], outDir: String,
      jdbcUrl: Option[String]): Counts = {
    val ns = MediaWikiXml.readNamespaces(spark, dump)
    val pages = index.fold(MediaWikiXml.readPages(spark, dump))(
      Multistream.readPages(spark, dump, _))
    // observed on the sink's input: a CollectMetrics node under the
    // classify would split its whole-stage code in two (2 more classes)
    val obs = Observation("import")
    val classified = MediaWikiXml.verifySha1(
      MediaWikiXml.classify(MediaWikiXml.flattenRevisions(pages), ns))
      .observe(obs, count(lit(1)).as("revisions"),
        approx_count_distinct(col("page_id")).as("approx_pages"))

    Sinks.writeParquetPartitioned(classified, s"$outDir/revision")
    // a few dozen driver-local rows: one file, not one per core
    ns.coalesce(1).write.mode("overwrite").parquet(s"$outDir/namespace")
    // Derive the page table from the revision SINK, not the dump: the
    // XML is parsed exactly once; this pass is a cheap columnar read.
    MediaWikiXml.latestRevisionPerPage(spark.read.parquet(s"$outDir/revision"))
      .write.mode("overwrite").parquet(s"$outDir/page_latest")

    jdbcUrl.foreach { url =>
      // load the RDBMS from the parquet sink just written, not from
      // `classified` — re-using the plan would parse the XML and run
      // the sha1 UDF a second time ("parsed exactly once" above)
      Sinks.writeJdbc(spark.read.parquet(s"$outDir/revision")
        .select("page_id", "ns", "title", "rev_id",
          "parent_id", "ts", "is_minor", "is_anon", "text_bytes", "sha1"),
        url, "revision")
    }
    val m = obs.get
    Counts(m("revisions").asInstanceOf[Long], m("approx_pages").asInstanceOf[Long])
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: ImportDump [--index <index file>] <dump.xml[.bz2]> <outDir> [jdbcUrl]"
    val (index, rest) = args.toSeq match {
      case "--index" +: i +: r => (Some(i), r)
      case r => (None, r)
    }
    require(rest.length >= 2 && rest.length <= 3 && !rest.contains("--index"), usage)
    val spark = Session.start(Session.ingest(Session.cores))
    spark.sparkContext.setLogLevel("WARN")
    val Seq(dump, outDir) = rest.take(2)
    val counts = run(spark, dump, index, outDir, rest.lift(2))
    println(s"[import] approx_pages=${counts.approxPages} revisions=${counts.revisions} → $outDir")
    spark.stop()
  }
}
