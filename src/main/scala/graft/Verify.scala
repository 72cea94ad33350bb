package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.start(Session.query(Session.cores))
    spark.sparkContext.setLogLevel("WARN")
    // The eval-query-cap knobs change the Spark-side query SET for the
    // recall/grading queries (q109/q175/q182/q192…) while every DuckDB
    // twin hard-codes the full %100 protocol — a capped Verify run
    // would surface as an opaque hash mismatch instead of a clear
    // error. They are bench-scale-run knobs only; refuse to dump.
    require(sys.env.get("SPARK_GRAFT_EVAL_QUERY_CAP").isEmpty,
      "SPARK_GRAFT_EVAL_QUERY_CAP is a scale-bench knob; it diverges " +
        "from the DuckDB oracles — unset it for Verify runs")
    require(spark.conf.getOption("spark.graft.evalQueryCap").isEmpty,
      "spark.graft.evalQueryCap diverges from the DuckDB oracles — " +
        "unset it for Verify runs")
    require(sys.env.get("SPARK_GRAFT_GRADER_SAMPLE_MOD").isEmpty &&
      spark.conf.getOption("spark.graft.graderSampleMod").isEmpty,
      "graderSampleMod samples the exact-join graders (q200) — a " +
        "scale-bench knob that diverges from the DuckDB oracles; " +
        "unset it for Verify runs")
    new java.io.File(outDir).mkdirs()
    // iteration knob (not used by the driver): restrict to a
    // comma-separated query-name list
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // ContextCleaner frees shuffle/broadcast/checkpoint state only on
    // GC, and 100+ queries can run without one — drain it every tenth
    // query so the dump's tail doesn't crawl on leaked state (same
    // lesson as Bench.scala, measured there at 2x the suite total)
    var sinceGc = 0
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      sinceGc += 1
      if (sinceGc >= 10) { System.gc(); sinceGc = 0 }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    CheckpointMemo.clear()
    spark.stop()
  }
}
