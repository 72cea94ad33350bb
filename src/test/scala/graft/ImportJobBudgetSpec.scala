package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{CorpusExport, ImportDump}

/** The import's Spark job count and generated code are part of its
  * cost: every job is a scheduling round trip, and every query stage
  * compiles generated code. Spark caches compiled classes in 4 LRU
  * segments of 25 entries (one entry per class and class loader, so a
  * whole-stage class takes two in local mode); a segment that receives
  * more than 25 of a pass's entries misses on all of them on every
  * pass. One pass of the import call sequence (dump to parquet sinks,
  * Derby, JSONL shards, then the verify) must stay within its job, task
  * and class budgets, so a cut job, task or class cannot silently come
  * back. */
class ImportJobBudgetSpec extends AnyFunSuite with LocalSparkSuite {

  /** Jobs of one warm pass on the 3-stream fixture (30 with the
    * byte-range planner, the broadcast shard offsets and the
    * two-aggregate verify; 18 with the aggregate manifest and verify
    * and the broadcast namespace join). */
  private val Budget = 16

  /** Classes compiled by the first pass in the JVM: the pass's cache
    * entries (61 today, one of them the import's observed metrics; 79
    * with the aggregate manifest and verify and the broadcast namespace
    * join), plus a small margin. Entries an earlier suite cached can
    * only lower the count. */
  private val CodegenBudget = 64

  /** Tasks of one warm pass on the 3-stream fixture: 21, plus a small
    * margin (43 when the decode was dealt over `defaultParallelism * 4`
    * slices whatever the stream count, and the namespace table was
    * written one file per core). */
  private val TaskBudget = 24

  /** One pass of the import call sequence: [[ImportDump.run]], then
    * the latest revisions exported and verified as the benchmark's
    * dump_import does. Returns the verify's diff count. */
  private def importOnce(dump: String, index: String, out: java.nio.file.Path,
      url: String): Long = {
    ImportDump.run(spark, dump, Some(index), out.toString, Some(url))
    val docs = spark.read.parquet(out.resolve("page_latest").toString)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("page_id").as("doc_id"), col("text"), lit("en").as("lang"),
        coalesce(when(length(col("ns_name")) > 0, col("ns_name")), lit("main")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val shards = out.resolve("shards").toString
    CorpusExport.exportJsonl(docs, shards, 1L << 20, codec = "gzip")
    CorpusExport.verifyExport(spark, shards).count()
  }

  test("a first import pass stays within its generated-class budget") {
    val dir = Files.createTempDirectory("codegenbudget")
    val (dump, index) = MultistreamFixture.writeFixture(dir, 3)
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(importOnce(dump, index, dir.resolve("first"), url) === 0)
    val n = compiles.getCount - before
    info(s"first pass compiled $n classes")
    assert(n <= CodegenBudget, s"a first import pass compiled $n classes (budget $CodegenBudget)")
  }

  test("a warm import pass stays within its Spark job budget") {
    val dir = Files.createTempDirectory("jobbudget")
    val (dump, index) = MultistreamFixture.writeFixture(dir, 3)
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    assert(importOnce(dump, index, dir.resolve("cold"), url) === 0)
    val (diffs, jobs, tasks) = workSubmittedBy(importOnce(dump, index, dir.resolve("warm"), url))
    assert(diffs === 0)
    info(s"warm pass ran $jobs jobs, $tasks tasks")
    assert(jobs <= Budget, s"a warm import pass ran $jobs Spark jobs (budget $Budget)")
    assert(tasks <= TaskBudget, s"a warm import pass ran $tasks Spark tasks (budget $TaskBudget)")
  }
}
