package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{MediaWikiXml, Sinks}

/** A11 load path: Derby JDBC batch write + partitioned parquet. */
class SinksSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val flat = MediaWikiXml.flattenRevisions(
    MediaWikiXml.readPages(spark, "src/test/resources/minidump.xml"))

  test("A11 JDBC batched load into embedded Derby round-trips") {
    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("graftdb")}/wiki;create=true"
    // Derby rejects CLOB-less long strings fine at this size; keep core columns.
    val out = flat.select("page_id", "ns", "title", "rev_id", "is_minor", "text_bytes")
    Sinks.writeJdbc(out, url, "revision", batchSize = 3, numPartitions = 2)
    val back = Sinks.readJdbc(spark, url, "revision")
    assert(back.count() === 9)
    assert(back.filter(col("page_id") === 6).count() === 2)
  }

  test("A11-streaming upsert: replayed batch leaves the table bit-identical") {
    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("graftup")}/wiki;create=true"
    val base = flat.select("page_id", "ns", "title", "rev_id", "is_minor", "text_bytes")
    Sinks.writeJdbc(base, url, "revision", batchSize = 3, numPartitions = 2)
    def snapshot(): Seq[String] =
      Sinks.readJdbc(spark, url, "revision").collect()
        .map(_.mkString("|")).sorted.toSeq
    val before = snapshot()
    // the forced retry: the SAME batch applied twice (foreachBatch's
    // at-least-once replay) must not duplicate or reorder anything
    val batch = base.limit(4)
    Sinks.upsertJdbc(batch, url, "revision", Seq("rev_id"))
    val once = snapshot()
    assert(once === before) // same rows upserted over themselves: no-op
    Sinks.upsertJdbc(batch, url, "revision", Seq("rev_id"))
    assert(snapshot() === once) // replay: bit-identical table
    // a genuine update replaces, never appends
    val changed = batch.withColumn("text_bytes", lit(9999L))
    Sinks.upsertJdbc(changed, url, "revision", Seq("rev_id"))
    val after = snapshot()
    assert(after.size === before.size)
    assert(Sinks.readJdbc(spark, url, "revision")
      .filter(col("text_bytes") === 9999L).count() === 4)
    Sinks.upsertJdbc(changed, url, "revision", Seq("rev_id"))
    assert(snapshot() === after) // replay of the update: still identical
  }

  test("partitioned parquet sink: ns directories prune") {
    val dir = java.nio.file.Files.createTempDirectory("graftpq").toString
    Sinks.writeParquetPartitioned(flat, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 9)
    // partition pruning: only the ns=1 directory is read
    val pruned = back.filter(col("ns") === 1)
    assert(pruned.count() === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("ns=0") || plan.contains("PartitionFilters"))
  }
}
