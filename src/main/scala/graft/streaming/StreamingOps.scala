package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators that graded queries run (SURVEY.md
  * §2.B41).
  *
  * The batch twins of the window operators live in
  * graft.ops.WindowedOps (and are oracle-graded there); these wire the
  * SAME operators to unbounded sources with watermarks and state.
  * [[graft.ops.StreamGradedOps]] drives both through file streams for
  * q207 and q213; StreamingSpec drives them with MemoryStream. */
object StreamingOps {

  /** B41 stream-stream: watermarked interval join — each click joins
    * the impression that preceded it by ≤ 30 minutes for the same
    * user (the attribution shape; q77's interval join is the batch
    * twin). BOTH sides carry watermarks and the join condition bounds
    * click_ts relative to imp_ts from both directions, so the state
    * store holds only impressions younger than watermark + 30 min and
    * clicks younger than watermark — bounded buffers on two unbounded
    * streams. Without the two-sided time bound Spark would rightly
    * refuse to plan it (unbounded state); the interval IS the
    * eviction policy. */
  def attributedClicks(impressions: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val i = impressions.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("imp_id"), col("user_id"),
        col("ts").as("imp_ts"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    // leftOuter adds the "impression never clicked" rows — but only
    // once the click-side watermark passes imp_ts + 30 min, because
    // until then a matching click can still arrive; the null-padded
    // row is the WATERMARK's statement that it cannot
    i.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("imp_ts") &&
          col("click_ts") <= col("imp_ts") + expr("interval 30 minutes"),
        joinType)
      .select(col("imp_id"), col("click_id"), col("user_id"),
        col("imp_ts"), col("click_ts"))
  }

  /** q198-streaming: the online phase of the sweep-line concurrency
    * analytic — per-hour net session deltas and edge counts from the
    * SAME ±1 endpoint construction the batch op uses
    * (WindowedOps.concurrencyDeltas, shared verbatim), watermarked so
    * an hour's net finalizes one hour after its last possible
    * endpoint. The bounded hour-grain prefix pass (each hour's opening
    * concurrency) stays a downstream batch step over these nets —
    * running totals across an unbounded stream are exactly what the
    * distributed decomposition keeps OUT of per-event state: the
    * stream maintains ≤ one (net, n_edges) pair per open hour. */
  def concurrencyHourlyNets(events: DataFrame): DataFrame =
    graft.ops.WindowedOps.concurrencyDeltas(events)
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), "1 hour"))
      .agg(sum(col("delta")).as("net"), count(lit(1)).as("n_edges"))
      .select(col("window.start").as("hstart"), col("net"), col("n_edges"))
}
