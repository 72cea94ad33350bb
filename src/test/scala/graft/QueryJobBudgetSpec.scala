package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** Jobs and generated classes of the two heaviest query_mix queries.
  * A warm query_mix pass touches more codegen-cache entries than
  * Spark's cache holds (4 LRU segments of 25), so every entry a query
  * adds is recompiled on later passes, and every job is a scheduling
  * round trip. The shared session is shaped like query_mix's (4 shuffle
  * partitions, AQE on) and reads sf0.001 from parquet.
  *
  * Per query and call, at sf0.001 after a warm-up call:
  *
  * | query | jobs | classes, second call | classes, fresh cache |
  * | --- | --- | --- | --- |
  * | q147, marginals joined back to the bigram table | 15 | 0 | 53 |
  * | q147, marginals as windows over a checkpoint of it | 11 | 0 | 46 |
  * | q79, three scans of documents, anti and semi join | 12 | 0 | 44 |
  * | q79, one scan with the gate as a flag | 8 | 0 | 38 |
  *
  * The budgets hold the second row of each query (jobs exactly,
  * classes with a margin of 2), so a cut job or class cannot silently
  * come back; the first rows fail them. */
class QueryJobBudgetSpec extends AnyFunSuite with LocalSparkSuite {

  /** (query, jobs per warm call, classes a first call compiles in a
    * fresh codegen cache). */
  private val Budgets = Seq(
    ("q147_kn_bigram_lm", 11, 48),
    ("q79_curate_corpus", 8, 40))

  /** Classes a second back-to-back call may compile: its entries fit
    * the cache, so none should be evicted between the two calls. */
  private val SecondCallBudget = 2

  private def call(q: String): Array[org.apache.spark.sql.Row] =
    SparkEntry.queries(q)(spark, sfDir).collect()

  private def compiledBy[A](f: => A): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    f
    compiles.getCount - before
  }

  /** Empties Spark's codegen cache. It is private to CodeGenerator, so
    * this reaches it by reflection. */
  private def emptyCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  Budgets.foreach { case (q, jobBudget, classBudget) =>
    test(s"$q: a warm call stays within its job budget") {
      val warm = call(q)
      val (rows, jobs) = jobsSubmittedBy(call(q))
      assert(rows.sameElements(warm))
      info(s"warm call ran $jobs jobs")
      assert(jobs <= jobBudget, s"a warm $q call ran $jobs Spark jobs (budget $jobBudget)")
    }

    test(s"$q: a second back-to-back call compiles within its budget") {
      call(q)
      val n = compiledBy(call(q))
      info(s"second call compiled $n classes")
      assert(n <= SecondCallBudget,
        s"a second $q call compiled $n classes (budget $SecondCallBudget)")
    }

    test(s"$q: a first call in a fresh codegen cache stays within its class budget") {
      call(q) // memo builds and their classes stay out of the count
      emptyCodegenCache()
      val n = compiledBy(call(q))
      info(s"first call in a fresh cache compiled $n classes")
      assert(n <= classBudget, s"a $q call compiled $n classes in a fresh cache (budget $classBudget)")
    }
  }
}
