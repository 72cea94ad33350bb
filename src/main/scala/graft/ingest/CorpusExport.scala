package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus interchange: size-bounded sharded JSONL export + schema
  * -explicit import — the hand-off point between this engine's
  * curation pipeline and a training job's data loader.
  *
  * Training loaders want shards that are (a) roughly equal-sized so
  * data-parallel readers finish together, (b) deterministic so a run
  * can be resumed/audited, and (c) accompanied by a manifest the
  * loader can checksum against. `partitionBy` alone gives none of
  * that (directory per value, unbounded size); `maxRecordsPerFile`
  * bounds rows, not bytes. So shard ids are computed from a
  * DISTRIBUTED byte prefix sum — the same bucketed shape as
  * [[graft.ops.CurationOps.sourceMixing]]: docs are bucketed by
  * `pmod(doc_id, buckets)`, per-(lang, bucket) byte totals roll up
  * into broadcastable cross-bucket offsets (langs × buckets rows at
  * any corpus size), and the in-bucket cumsum window partitions by
  * (lang, bucket) — no single task ever windows a whole language,
  * and the canonical order (lang, bucket, doc_id) is stable under
  * any partitioning. A doc's shard is `start div targetBytes`, so
  * every shard holds ≥ targetBytes only until the doc that crosses
  * the boundary — bounded overflow of one document, never an
  * unbounded shard. */
object CorpusExport {

  /** UTF-8 payload bytes a doc contributes to its shard (text + the
    * JSONL newline; key/quote overhead is per-format and constant, so
    * it tunes `targetBytes` rather than the split points). */
  private def docBytes: Column = octet_length(col("text")) + lit(1L)

  /** Deterministic size-bounded shard assignment. Returns the input
    * plus a `shard` column (0-based per lang). */
  def assignShards(docs: DataFrame, targetBytes: Long, buckets: Int = 64): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val sized = docs.withColumn("bucket", pmod(col("doc_id"), lit(buckets)))
      .withColumn("bytes", docBytes)
    // cross-bucket offsets: langs × buckets rows — broadcastable at
    // any corpus size (the table's width is config, not data)
    val offsets = sized.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("bytes")).as("bb"))
      .withColumn("off", coalesce(
        sum(col("bb")).over(Window.partitionBy(col("lang")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("bb")
    sized
      .join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("start", col("off") + coalesce(
        sum(col("bytes")).over(Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integer-domain division (`div`), not double `/`: both engines
      // floor exactly, no boundary doc can flip on a rounding tie
      .withColumn("shard", expr(s"cast(start div ${targetBytes}L as int)"))
      .drop("bucket", "bytes", "off", "start")
  }

  /** Write `docs` as `lang=<l>/shard=<k>/` JSONL files. One file per
    * shard directory (the repartition key IS the directory key, so
    * each task owns whole shards); readers prune on both directory
    * levels. `codec` is any Spark JSON compression ("gzip" for the
    * classic .json.gz corpus layout, "zstd" where the JVM ships the
    * codec, default "none") — shard sizes are computed on the
    * UNCOMPRESSED payload, the stable quantity a token-budgeted
    * loader cares about. Returns the shipped manifest, read back from
    * `<path>/_manifest` (one row per shard, in (lang, shard) order). */
  def exportJsonl(docs: DataFrame, path: String, targetBytes: Long,
      codec: String = "none"): DataFrame = {
    // the shard plan runs ONCE: the JSONL write and the manifest both
    // read this materialized frame. localCheckpoint, not persist(): a
    // cached plan loses AQE's partition coalescing, so the write would
    // run one task per session shuffle partition
    val planned = assignShards(docs, targetBytes)
      .repartition(col("lang"), col("shard"))
      .localCheckpoint()
    try {
      planned.write.partitionBy("lang", "shard")
        .option("compression", codec)
        .mode("overwrite")
        .json(path)
      // the manifest ships WITH the corpus: an underscore-prefixed
      // directory is invisible to Spark/Hadoop file readers, so
      // importJsonl's glob never sees it. One file, ordered inside its
      // single partition — no global range sort for a shards-sized table
      shardTotals(planned).coalesce(1)
        .sortWithinPartitions(col("lang"), col("shard"))
        .write.mode("overwrite").parquet(s"$path/_manifest")
    } finally releaseCheckpoint(planned)
    docs.sparkSession.read.parquet(s"$path/_manifest")
  }

  /** Drop a localCheckpoint's blocks now rather than at the
    * ContextCleaner's next GC-driven sweep. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Loader-side integrity check: recompute the manifest from the
    * files actually on disk and diff it against the one the export
    * shipped. Returns the discrepancies (empty = the corpus is
    * exactly what the writer accounted for — any lost/truncated/
    * duplicated shard or mutated doc shows up as a row here, because
    * the content fingerprint is an exact integer sum).
    *
    * The diff is a multiset difference both ways (`exceptAll`
    * semantics) in ONE aggregate over one scan: shipped rows weigh +1,
    * recomputed rows -1, and a manifest row whose weights do not
    * cancel comes back |weight| times, tagged `shipped` (surplus in
    * the shipped manifest) or `on_disk` (surplus on disk). */
  def verifyExport(s: SparkSession, path: String): DataFrame = {
    // an integrity checker must see the directory as it IS, not as the
    // session's file-status cache remembers it
    s.catalog.refreshByPath(path)
    val shipped = s.read.parquet(s"$path/_manifest")
    val recomputed = shardTotals(importJsonl(s, path)
      .withColumn("lang", col("lang").cast("string")))
    val keys = shipped.columns.toSeq.map(col)
    shipped.withColumn("w", lit(1L))
      .unionByName(recomputed.withColumn("w", lit(-1L)))
      .groupBy(keys: _*).agg(sum(col("w")).as("w"))
      .filter(col("w") =!= 0)
      .select(keys :+ explode(array_repeat(
        when(col("w") > 0, lit("shipped")).otherwise(lit("on_disk")),
        abs(col("w")).cast("int"))).as("side"): _*)
  }

  /** Per-shard accounting a loader can verify against: doc count,
    * payload bytes, and an order-independent content fingerprint
    * (exact integer sum of per-doc xxhash64 — bit-stable no matter
    * how many readers split the shard). */
  def manifest(sharded: DataFrame): DataFrame =
    shardTotals(sharded).orderBy(col("lang"), col("shard"))

  /** [[manifest]]'s rows in no particular order. */
  private def shardTotals(sharded: DataFrame): DataFrame =
    sharded.groupBy(col("lang"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(docBytes).as("n_bytes"),
        sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)"))
          .as("content_fp"))

  /** The parquet-side schema of the exported payload columns (the
    * partition columns `lang`/`shard` come back from the directory
    * names). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Schema-explicit JSONL read. Inference would scan the corpus
    * once just to guess types (and guess them per-file) — at 100 TB
    * the schema is a contract, not a discovery. */
  def importJsonl(s: SparkSession, path: String): DataFrame =
    s.read.schema(payloadSchema).json(path)
}
