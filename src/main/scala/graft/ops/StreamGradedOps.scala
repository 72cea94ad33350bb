package graft.ops

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampType}

import graft.{QueryDef, Tables}
import graft.ingest.Sinks
import graft.streaming.StreamingOps

/** The graded leg of the streaming surface (VERDICT_r14 #2): the 8
  * streaming twins were spec-verified only because streaming semantics
  * aren't DuckDB-comparable — but the FINAL STATE of a bounded stream
  * is. q207 does for the watermark/foreachBatch machinery what q190
  * did for the sink: it stages the events corpus as time-ordered
  * files, drives them through [[StreamingOps.concurrencyHourlyNets]]
  * (the q198 twin, shared verbatim) as a genuine multi-micro-batch
  * incremental aggregation, lands each update-mode emission through
  * the idempotent JDBC upsert (A17), and returns the table read back.
  * The oracle recomputes the hourly nets directly with batch SQL — the
  * same arithmetic q198's already-hash-matched oracle uses — so a
  * dropped-as-late row, a watermark that evicts state a later batch
  * still needs, a missed update emission, or a non-idempotent replay
  * all break the hash.
  */
object StreamGradedOps {

  /** Stage a ts-carrying frame as K single-file slices in ascending
    * time order, with both modification times and file names
    * increasing so the file source's arrival order IS time order — the
    * shape a log-shipping ingest delivers in production, and the
    * precondition under which a 1-hour watermark provably never drops
    * a row here: slice i's max event time is maxTs_i + 30 min (the −1
    * endpoint), so the watermark after slice i sits 30 min BEFORE the
    * next slice's smallest endpoint, and boundary-hour windows stay
    * unevictable until every contributing slice has arrived.
    *
    * ONE PASS over the corpus (VERDICT_r15 #2: the k filtered rescans
    * were 26.7 s of the 100× suite and most of q207's isolated 109 s
    * at 1000×): the slice id is a map-side integer column,
    * `repartition(k, slice)` keeps the scan wide while hash-routing
    * each slice's rows to exactly one writer task, and
    * `partitionBy(slice)` splits that task's output per value — one
    * file per non-empty slice, renamed into arrival order. Slice
    * arithmetic is unchanged from the k-pass version (same integer
    * bounds), so the staged bytes — and the graded hash — are
    * identical. Returns the staged row count (the bounds aggregate
    * carries it for free) so callers can size stateful widths to the
    * data (r16). */
  private[graft] def stageSlices(ev: DataFrame, k: Int, stage: Path,
      work: Path): Long = {
    val mm = ev.agg(min(col("ts")).cast("long").as("lo"),
      max(col("ts")).cast("long").as("hi"),
      count(lit(1)).as("n")).collect()(0) // 1 row: bounds + count only
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = math.max(1L, (hi - lo) / k + 1)
    // (ts - lo) / step < k by construction of step; no clamp needed
    ev.withColumn("slice",
        ((col("ts").cast("long") - lo) / step).cast("int"))
      .repartition(k, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(work.toString)
    (0 until k).foreach { i =>
      val sliceDir = work.resolve(s"slice=$i")
      if (Files.isDirectory(sliceDir)) {
        // try-with-resources on the directory stream (ADVICE_r15: the
        // unclosed Files.list leaked a handle per invocation)
        val ls = Files.list(sliceDir)
        val part =
          try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
          finally ls.close()
        val dst = stage.resolve(f"slice_$i%02d.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(1700000000000L + i * 60000L))
      }
    }
    mm.getLong(2)
  }

  /** Checkpoint temp dir on the fastest local medium available (r16,
    * guide §6): the offset/commit WAL pays an fsync-latency round trip
    * per micro-batch (~120 ms/batch measured on this host's /tmp), and
    * a bounded AvailableNow checkpoint that is deleted after
    * awaitTermination needs durability only for the run itself — so it
    * rides tmpfs when present, exactly like a deployment points
    * checkpoints at its fast local/DFS tier. Data semantics unchanged
    * (same WAL, same replay contract within the run). */
  private def ckptTempDir(prefix: String): Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    // the chosen medium changes q207/q213 WAL-commit latency, so runs
    // must be attributable (ADVICE_r16): say which tier this host got
    System.err.println(s"[stream] checkpoint WAL dir: $p")
    p
  }

  /** Recursive delete for the staging/checkpoint temp dirs — Verify
    * and Bench invoke each graded query twice, and scale suites were
    * accumulating a copy of the staged columns per invocation
    * (ADVICE_r15). Deliberately quiet on failure: cleanup must never
    * fail a graded query. */
  private[graft] def deleteQuietly(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        val it = walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator()
        while (it.hasNext) {
          try Files.deleteIfExists(it.next()) catch { case _: Exception => }
        }
      } finally walk.close()
    }

  // ---- shared staging (r16, guide §1.2/§2.4: don't compute things
  // twice) -----------------------------------------------------------
  // q207 and q213 staged the SAME events corpus independently — two
  // full staging passes per suite pass (and Bench times each query
  // twice). The slices are a deterministic function of (events, k=4):
  // stage ONCE at the widest column set; q207's ts-only reader prunes
  // the extra columns at the parquet footer, so its stream content is
  // byte-for-byte the ts sequence it staged before. Same memo contract
  // as [[graft.CheckpointMemo]] (keyed (session, sfDir), deterministic
  // content, build time reported in-band via memo_builds, released by
  // CheckpointMemo.clear()); at 100 TB this IS the log shipper's
  // single staging the two consumers share.
  private val stagedCols = Seq("event_id", "ts", "user_id", "event_type")
  private val stageMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Path, Long)]
  private def memoEnabled: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_MEMO", "true").toBoolean

  /** Staged slice dir + row count; `_3` releases a caller-owned build
    * (no-op when the memo owns it). */
  private def stagedEvents(s: SparkSession, d: String)
      : (Path, Long, () => Unit) = {
    def build(): (Path, Long) = graft.CheckpointMemo.timeBuild("stream_stage") {
      val stage = Files.createTempDirectory("graftstage")
      val work = Files.createTempDirectory("graftwork")
      try {
        val n = stageSlices(
          Tables.events(s, d).select(stagedCols.map(col): _*), 4, stage, work)
        (stage, n)
      } finally deleteQuietly(work)
    }
    if (!memoEnabled) {
      val (p, n) = build()
      (p, n, () => deleteQuietly(p))
    } else {
      stageMemo.get((s, d)) match {
        case Some((p, n)) => (p, n, () => ())
        case None =>
          val built = build()
          stageMemo.putIfAbsent((s, d), built) match {
            case None =>
              graft.CheckpointMemo.onClear("stream_stage") { () =>
                stageMemo.values.foreach { case (p, _) => deleteQuietly(p) }
                stageMemo.clear()
              }
              (built._1, built._2, () => ())
            case Some(winner) => // racing build lost: release its files
              deleteQuietly(built._1)
              (winner._1, winner._2, () => ())
          }
      }
    }
  }

  /** Stateful shuffle width for the graded streams, sized to the DATA
    * instead of the session's batch width (r16, guide §2.2/§2.5): the
    * join/aggregation state here is a bounded window over the input,
    * so ~4M staged rows per state partition keeps partitions real
    * while avoiding W×stores×batches tiny state-store commits — at
    * sf0.1 (100k rows) the old width-8 default paid 8×4×5 = 160
    * commit round-trips per run for 720 rows of state; the 1000×
    * recipe (512-wide session) would have paid 10k+. Capped at the
    * session width so a genuinely huge stream still gets the full
    * configured parallelism. */
  private def streamShuffleParts(s: SparkSession, rows: Long): Int = {
    val cap = s.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(cap.toLong, rows / 4000000L + 1L)).toInt
  }

  /** A session clone whose shuffle width is the stream's state width —
    * session-LOCAL conf, so the caller's session never mutates (the
    * Tables rule). Stateful plans pin their state partitioning at
    * first checkpoint, which is exactly why the width must be chosen
    * per stream, not inherited from whatever the batch session runs. */
  private def streamSession(s: SparkSession, rows: Long): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      streamShuffleParts(s, rows).toString)
    ss
  }

  /** DROP+CREATE the sink table via one DDL connection (r16): the old
    * reset wrote an EMPTY frame through the Spark JDBC writer — a
    * whole Spark job (repartition + task launch) just to create a
    * table. The DDL carries the same quoted-lowercase columns the
    * writer would create, so [[Sinks.upsertJdbc]]'s statements bind
    * identically. */
  private def resetTable(url: String, table: String,
      schema: StructType): Unit = {
    def ddlType(dt: DataType): String = dt match {
      case LongType => "BIGINT"
      case TimestampType => "TIMESTAMP"
      case other => sys.error(s"no Derby DDL mapping for $other")
    }
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        try st.executeUpdate(s"DROP TABLE $table")
        catch { case _: java.sql.SQLException => () } // first run: absent
        st.executeUpdate(s"CREATE TABLE $table (" + schema.fields
          .map(f => "\"" + f.name + "\" " + ddlType(f.dataType))
          .mkString(", ") + ")")
      } finally st.close()
    } finally conn.close()
  }

  private val netsSchema = StructType(Seq(
    StructField("hstart", TimestampType),
    StructField("net", LongType),
    StructField("n_edges", LongType)))

  /** q207: STREAMING CONCURRENCY NETS under the oracle — stage, stream
    * in 4 micro-batches, upsert each update emission, read back.
    * Scale shape: the stateful aggregation holds ≤ one (net, n_edges)
    * pair per OPEN hour (watermark closes the rest), the sink write is
    * one task per batch sized to the target's ingest width (the q190
    * lesson), and the staging pass is a one-shot filter+write that a
    * real deployment replaces with its log shipper (shared with q213
    * since r16 — the slices are one deterministic staging both
    * consumers read, ts-only here via parquet column pruning). */
  def streamingConcurrency(s: SparkSession, d: String): DataFrame = {
    val url = "jdbc:derby:memory:graft_q207;create=true"
    val table = "q207_nets"
    val (stage, rows, release) = stagedEvents(s, d)
    val ckpt = ckptTempDir("q207ckpt")
    try {
      // fresh table per invocation (Verify and Bench call queries twice)
      resetTable(url, table, netsSchema)
      val ss = streamSession(s, rows)
      val src = ss.readStream
        .schema(StructType(Seq(StructField("ts", TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.toString)
      val q = StreamingOps.concurrencyHourlyNets(src)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          Sinks.upsertJdbc(b.toDF(), url, table, Seq("hstart"),
            numPartitions = 1)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally { deleteQuietly(ckpt); release() }
    // the returned frame reads the Derby table, not the staged files —
    // safe to clean the staging dirs before the caller materializes it
    Sinks.readJdbc(s, url, table)
      .select(col("hstart"), col("net").cast("long"),
        col("n_edges").cast("long"))
      .orderBy(col("hstart"))
  }

  private val attribSchema = StructType(Seq(
    StructField("imp_id", LongType),
    StructField("click_id", LongType),
    StructField("user_id", LongType),
    StructField("imp_ts", TimestampType),
    StructField("click_ts", TimestampType)))

  /** q213: the STREAM-STREAM INTERVAL JOIN under the oracle
    * (VERDICT_r15 #1 — the stateful-join leg the q207 recipe hadn't
    * graded): stage the events corpus as time-ordered slices, read
    * them back as ONE file stream, split it into the view and click
    * sides, and drive them through [[StreamingOps.attributedClicks]]
    * (shared verbatim — the two-sided-watermark join StreamingSpec
    * exercises) as a genuine 4-micro-batch stateful join; every
    * append-mode emission lands through the idempotent upsert keyed on
    * the join pair, and the table is read back sorted. The oracle is
    * the batch interval join in plain SQL (q77's shape at the
    * attributedClicks operating point: clicks within [imp_ts,
    * imp_ts + 30 min] for the same user), so a match dropped by early
    * state eviction, a buffered row the watermark lost, or a
    * double-emitted pair under replay all break the hash.
    *
    * Why no row can drop here (the two-sided eviction proof the query
    * grades): arrival order is time order, so when a click in slice j
    * probes the impression store, the join watermark still trails
    * slice j−1's max by the 10-min delay — and every impression a
    * click can match has imp_ts ≥ click_ts − 30 min, which sits ABOVE
    * the eviction line (watermark − 30 min) by construction. A click
    * can never arrive in an earlier slice than its impression
    * (click_ts ≥ imp_ts), so the pair is always live simultaneously.
    *
    * Scale shape: state = impressions within (watermark − 30 min,
    * now] + clicks within the watermark delay — bounded buffers on
    * two unbounded streams, the interval IS the eviction policy; the
    * sink is one task per batch. */
  def streamingAttribution(s: SparkSession, d: String): DataFrame = {
    val url = "jdbc:derby:memory:graft_q213;create=true"
    val table = "q213_attrib"
    val (stage, rows, release) = stagedEvents(s, d)
    val ckpt = ckptTempDir("q213ckpt")
    try {
      resetTable(url, table, attribSchema)
      val ss = streamSession(s, rows)
      val src = ss.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("user_id", LongType),
          StructField("event_type", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.toString)
      val joined = StreamingOps.attributedClicks(
        src.filter(col("event_type") === "view"),
        src.filter(col("event_type") === "click"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          Sinks.upsertJdbc(b.toDF(), url, table, Seq("imp_id", "click_id"),
            numPartitions = 1)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally { deleteQuietly(ckpt); release() }
    Sinks.readJdbc(s, url, table)
      .select(col("imp_id").cast("long"), col("click_id").cast("long"),
        col("user_id").cast("long"), col("imp_ts"), col("click_ts"))
      .orderBy(col("imp_id"), col("click_id"))
  }

  private val streamingAttributionSql =
    """WITH i AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
      |      FROM events WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
      |      FROM events WHERE event_type = 'click')
      |SELECT imp_id, click_id, user_id, imp_ts, click_ts
      |FROM i JOIN c ON user_id = c_user
      |  AND click_ts >= imp_ts
      |  AND click_ts <= imp_ts + INTERVAL 30 MINUTE
      |ORDER BY imp_id, click_id""".stripMargin

  private val streamingConcurrencySql =
    """SELECT date_trunc('hour', t) AS hstart,
      |       CAST(SUM(delta) AS BIGINT) AS net,
      |       CAST(COUNT(*) AS BIGINT) AS n_edges
      |FROM (SELECT ts AS t, 1 AS delta FROM events
      |      UNION ALL
      |      SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q207_streaming_concurrency", streamingConcurrency,
      Some(streamingConcurrencySql),
      "B38+ under the oracle: multi-batch watermarked stream -> upsert -> read-back"),
    QueryDef("q213_streaming_attribution", streamingAttribution,
      Some(streamingAttributionSql),
      "B41 under the oracle: stateful stream-stream interval join, two-sided watermark eviction"))
}
