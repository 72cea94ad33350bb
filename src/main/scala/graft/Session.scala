package graft

import org.apache.spark.sql.SparkSession

/** The one place the program builds a SparkSession. Every session is
  * `local[cores]` in UTC with the UI off and [[Tables.NanosConf]] set
  * ([[shared]]); a posture adds only what its callers need on top of
  * that. Postures are plain conf maps, so a spec reads them without
  * starting a session.
  *
  *  - [[query]]: Bench, Verify, PlanDump and the test sessions.
  *  - [[ingest]]: ImportDump and EndToEndDemo.
  */
object Session {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The keys every session carries. */
  def shared(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    Tables.NanosConf -> "true")

  /** Graded queries over sub-GB to 100x corpora. Totals at sf0.1 are
    * dominated by per-query fixed costs (code generation ~100 ms per
    * query, per-stage job launch) plus host IO-wait noise, and an A/B of
    * interpreted, AQE-off and narrow-shuffle variants could not tell
    * them apart, so the scale-correct defaults stay: Spark's whole-stage
    * codegen and AQE (both on by default), `min(cores, 8)` shuffle
    * partitions.
    *
    * AQE picks each stage's width by coalescing down from
    * `initialPartitionNum`, never up. A clean-window sweep at the 10x
    * corpus (probes q18/q20/q92/q101) found one partition per core ties
    * or beats 8 everywhere (q92 1.29 s vs 1.71), while 128 loses 2-9x on
    * every probe. A wider `shuffle` must widen the initial width too, or
    * a scale recipe runs every exchange at core width (the round-14
    * 1000x window set 512 and ran 32-wide; q92's hash build OOMed), so
    * the initial width defaults to `max(cores, shuffle)`.
    *
    * `shuffle` and `initialParts` override the two widths (Bench takes
    * them from the scale recipes' environment). */
  def query(cores: Int, shuffle: Option[Int] = None,
      initialParts: Option[Int] = None): Map[String, String] = {
    val width = shuffle.getOrElse(math.min(cores, 8))
    shared(cores) ++ Map(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        initialParts.getOrElse(math.max(cores, width)).toString)
  }

  /** Dump import. XML parsing is CPU-bound at ~10 MB/s per core, so
    * files split at 32 MB instead of 128 MB; Spark's split rule
    * `min(32 MB, max(4 MB open cost, bytes / cores))` then gives every
    * core a split of a mid-size dump. The shuffle width stays Spark's
    * default: AQE only coalesces down, and the `page_latest` shuffle
    * carries revision text at dump scale. */
  def ingest(cores: Int): Map[String, String] =
    shared(cores) + ("spark.sql.files.maxPartitionBytes" -> (32L << 20).toString)

  /** The session with `conf` (the running one, with `conf` applied, if
    * the JVM has one). */
  def start(conf: Map[String, String]): SparkSession =
    SparkSession.builder().config(conf).getOrCreate()
}
