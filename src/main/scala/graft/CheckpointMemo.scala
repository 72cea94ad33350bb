package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for eagerly-materialized (localCheckpoint'd)
  * frames that iterative queries rebuild identically on every call —
  * the q97 trade-graph edge list and the q76 cluster labels. These are
  * the suite's only driver-blocking jobs (a checkpoint is an eager
  * action), so rebuilding them per caller is pure job-launch overhead:
  * q76, q79 and q84 all need the SAME converged labels, and a repeated
  * bench pass needs the SAME edge list. The memo is the derived-frame
  * twin of [[Tables]]' base-table cache — keyed by (session, sfDir,
  * tag), deterministic contents only (a fixpoint labeling and an edge
  * list are functions of the input tables alone), cleared by long-
  * lived JVMs (Bench) before session stop.
  *
  * At 100 TB the equivalent is a materialized intermediate table
  * (checkpoint dir / bucketed table) shared by the pipeline's stages,
  * not a per-query rebuild — the memo models exactly that.
  */
private[graft] object CheckpointMemo {
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  // wall-clock spent INSIDE memo builds, so a min-of-N bench that warms
  // the memo on pass 1 can still report the cold materialization cost
  // in-band ("memo_build_s") instead of silently dropping it with the min
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  // the same clock attributed per build tag ("memo_builds" in the bench
  // line): one aggregate number hides WHICH build paid a dirty window
  // (the r7 61.9 s was unattributable until re-measured by hand)
  private val buildNanosByTag = scala.collection.concurrent.TrieMap
    .empty[String, Long]
  private def addTagNanos(tag: String, n: Long): Unit =
    buildNanosByTag.updateWith(tag) {
      case Some(prev) => Some(prev + n)
      case None => Some(n)
    }
  // SPARK_GRAFT_MEMO=false disables memoization entirely (every caller
  // rebuilds) — the cold-path bench mode. The un-memoized checkpoints
  // are reclaimed by ContextCleaner once unreferenced (the bench's
  // periodic GC drains them).
  private def enabled: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_MEMO", "true").toBoolean

  def getOrElseUpdate(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    def timedBuild: DataFrame = {
      val t0 = System.nanoTime()
      val df = build
      val nanos = System.nanoTime() - t0
      buildNanos.addAndGet(nanos)
      addTagNanos(tag, nanos)
      df
    }
    if (!enabled) timedBuild
    else memo.get((s, d, tag)) match {
      case Some(df) => df
      case None =>
        // TrieMap.getOrElseUpdate may evaluate the thunk on several
        // racing threads and silently drop the losers — leaking their
        // eagerly-checkpointed blocks until GC and double-counting
        // buildNanos. Build outside the map, install via putIfAbsent,
        // and explicitly release + un-count a losing build.
        val t0 = System.nanoTime()
        val built = build
        val nanos = System.nanoTime() - t0
        memo.putIfAbsent((s, d, tag), built) match {
          case None =>
            buildNanos.addAndGet(nanos)
            addTagNanos(tag, nanos)
            built
          case Some(winner) =>
            try built.unpersist() catch { case NonFatal(_) => () }
            winner
        }
    }
  }

  /** Time a NON-DataFrame memo build (e.g. the staged slice files the
    * streaming rows share) on the same clock as the frame builds, so
    * `memo_build_s`/`memo_builds` stay the one in-band account of
    * every cost the min-of-N estimator drops. */
  private[graft] def timeBuild[A](tag: String)(build: => A): A = {
    val t0 = System.nanoTime()
    val r = build
    val nanos = System.nanoTime() - t0
    buildNanos.addAndGet(nanos)
    addTagNanos(tag, nanos)
    r
  }

  // non-frame memos (staged stream files) register a release callback
  // so [[clear]] — the bench's between-window and end-of-session
  // drain — resets them exactly like the frame memo
  private val clearHooks =
    scala.collection.concurrent.TrieMap.empty[String, () => Unit]
  private[graft] def onClear(key: String)(f: () => Unit): Unit =
    clearHooks.put(key, f)

  /** Per-tag build seconds since JVM start or the last [[resetStats]]
    * — attributes `memo_build_s` to the build that paid it. */
  def buildSecondsByTag: Map[String, Double] =
    buildNanosByTag.readOnlySnapshot().toMap
      .map { case (k, v) => k -> v / 1e9 }

  /** Cumulative seconds spent inside memo builds since JVM start (or
    * the last [[resetStats]]). */
  def buildSeconds: Double = buildNanos.get / 1e9

  def resetStats(): Unit = { buildNanos.set(0L); buildNanosByTag.clear() }

  /** Release checkpoint blocks and forget every memoized frame (and
    * run every registered non-frame release hook). */
  def clear(): Unit = {
    memo.values.foreach { df =>
      try df.unpersist() catch { case NonFatal(_) => () }
    }
    memo.clear()
    clearHooks.values.foreach { f =>
      try f() catch { case NonFatal(_) => () }
    }
  }
}
