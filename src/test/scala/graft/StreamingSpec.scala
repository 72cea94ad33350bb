package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.StreamingSpec.Ev

/** B40/B41 streaming semantics on MemoryStream and file streams
  * (SURVEY.md §5.5). */
class StreamingSpec extends AnyFunSuite with LocalSparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("q198-streaming: hourly concurrency nets match the batch deltas, late endpoints dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.concurrencyHourlyNets(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("conc").start()
    try {
      // two sessions opening 10:05/10:50: the 10:05 one CLOSES inside
      // the 10:00 hour (+1/-1 net 0 there), the 10:50 one closes in
      // the 11:00 hour (net +1 then -1)
      in.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "view", 1.0),
        Ev(2, ts("2024-01-01 10:50:00"), 1, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts("2024-01-01 14:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // a late session into the long-closed 10:00 hour must be dropped
      in.addData(Ev(4, ts("2024-01-01 10:10:00"), 1, "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(5, ts("2024-01-01 17:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("conc").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getLong(2))).toMap
      assert(out("2024-01-01 10:00:00.0") === (1L, 3L)) // +1+1-1; row 4 dropped
      assert(out("2024-01-01 11:00:00.0") === (-1L, 1L)) // 10:50 session closes
      // and the SAME data through the batch construction ties out
      val batch = graft.ops.WindowedOps.concurrencyDeltas(
        Seq(Ev(1, ts("2024-01-01 10:05:00"), 1, "view", 1.0),
          Ev(2, ts("2024-01-01 10:50:00"), 1, "view", 1.0)).toDF())
        .groupBy(date_trunc("hour", col("t")).as("h"))
        .agg(sum(col("delta")).as("net")).collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(batch("2024-01-01 10:00:00.0") === 1L &&
        batch("2024-01-01 11:00:00.0") === -1L)
    } finally q.stop()
  }

  test("B40 session_window runs under readStream with a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = in.toDF().withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("user_id"), col("n"))
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      in.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 1, "view", 1.0), // same session (gap < 30m)
        Ev(3, ts("2024-01-01 12:00:00"), 1, "view", 1.0)) // new session
      q.processAllAvailable()
      in.addData(Ev(4, ts("2024-01-01 15:00:00"), 1, "view", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess").filter(col("user_id") === 1).collect()
      assert(rows.length >= 2)
      val first = rows.minBy(_.getAs[java.sql.Timestamp]("start").getTime)
      assert(first.getAs[Long]("n") === 2) // events 1+2 merged into one session
      assert(first.getAs[java.sql.Timestamp]("end") === ts("2024-01-01 10:40:00"))
    } finally q.stop()
  }

  test("stream-stream interval join: purchases match views within 30 minutes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val v = views.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    val joined = purchases.toDF().withWatermark("ts", "10 minutes")
      .join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
        col("v_ts") <= col("ts"))
      .select(col("event_id"), col("user_id"), col("v_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    try {
      views.addData(Ev(100, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Ev(101, ts("2024-01-01 08:00:00"), 1, "view", 1.0)) // too old to match
      purchases.addData(Ev(200, ts("2024-01-01 10:20:00"), 1, "purchase", 5.0),
        Ev(201, ts("2024-01-01 10:20:00"), 2, "purchase", 5.0)) // no view for user 2
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(rows === Set((200L, 100L))) // only the in-window same-user pair
    } finally q.stop()
  }

  test("incremental import: a file stream picks up newly arrived chunks only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("arriving").toString
    val batch1 = Seq((1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    batch1.write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("arrivals").start()
    try {
      q.processAllAvailable()
      assert(spark.table("arrivals").agg(sum("n")).head().getLong(0) === 1L)
      // a new chunk lands; only the delta is processed
      Seq((2L, ts("2024-01-01 11:00:00"), 2L, "click", 2.0),
        (3L, ts("2024-01-01 11:05:00"), 2L, "view", 1.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("arrivals").agg(sum("n")).head().getLong(0) === 3L)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("backlog").toString
    val data = Seq((1L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (2L, ts("2024-01-01 11:00:00"), 2L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    data.write.mode("append").parquet(dir)
    val q = spark.readStream.schema(data.schema).parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("drain").start()
    // the batch-drain mode for scheduled incremental imports: process
    // everything available, then stop without an external signal
    try {
      assert(q.awaitTermination(60000))
      assert(spark.table("drain").agg(sum("n")).head().getLong(0) === 2L)
    } finally q.stop()
  }

  test("B41 stream-stream interval join attributes clicks within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingOps.attributedClicks(imps.toDF(), clicks.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      imps.addData(
        Ev(100, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
        Ev(101, ts("2024-01-01 10:00:00"), 2, "view", 1.0))
      clicks.addData(
        Ev(200, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // in window, same user
        Ev(201, ts("2024-01-01 11:00:00"), 1, "click", 1.0), // outside 30 min
        Ev(202, ts("2024-01-01 10:05:00"), 3, "click", 1.0), // no impression for user
        Ev(203, ts("2024-01-01 09:55:00"), 2, "click", 1.0)) // click BEFORE impression
      q.processAllAvailable()
      val out = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("click_id")))
      assert(out.toSet === Set((100L, 200L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unclicked impressions only after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = StreamingOps.attributedClicks(imps.toDF(), clicks.toDF(), "leftOuter")
      .writeStream.outputMode("append").format("memory").queryName("attribo").start()
    try {
      imps.addData(
        Ev(100, ts("2024-01-01 10:00:00"), 1, "view", 1.0), // will be clicked
        Ev(101, ts("2024-01-01 10:00:00"), 2, "view", 1.0)) // never clicked
      clicks.addData(Ev(200, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // before the watermark closes imp 101's window, NO null row for
      // it may exist — a click could still arrive
      val early = spark.table("attribo").collect()
        .filter(_.getAs[Long]("imp_id") == 101L)
      assert(early.isEmpty, "null-padded row emitted while a click was still possible")
      // advance BOTH watermarks far past 10:30 + 10 min delay
      imps.addData(Ev(110, ts("2024-01-01 13:00:00"), 9, "view", 1.0))
      clicks.addData(Ev(210, ts("2024-01-01 13:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      // one more batch so the state-eviction pass runs on the new watermark
      imps.addData(Ev(111, ts("2024-01-01 13:30:00"), 9, "view", 1.0))
      clicks.addData(Ev(211, ts("2024-01-01 13:30:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attribo").collect()
        .map(r => (r.getAs[Long]("imp_id"), Option(r.getAs[Any]("click_id"))))
      assert(rows.contains((100L, Some(200L))))
      assert(rows.contains((101L, None)), "watermark-closed impression missing its null row")
    } finally q.stop()
  }
}

object StreamingSpec {
  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
}
