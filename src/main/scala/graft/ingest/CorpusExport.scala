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
  * into cross-bucket offsets collected to the driver (langs × buckets
  * rows at any corpus size), and the in-bucket cumsum window partitions by
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

  /** A doc's term of its shard's content fingerprint. */
  private def docFp: Column =
    xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")

  /** Deterministic size-bounded shard assignment. Returns the input
    * plus a `shard` column (0-based per lang). Docs with a null `lang`
    * or `doc_id` get no shard and are dropped. Runs one Spark job when
    * called: the per-bucket byte totals are collected to the driver. */
  def assignShards(docs: DataFrame, targetBytes: Long, buckets: Int = 64): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(buckets > 0, "buckets must be positive")
    val sized = docs.withColumn("bucket", pmod(col("doc_id"), lit(buckets)))
      .withColumn("bytes", docBytes)
    val langKey = col("lang").cast("string")
    // cross-bucket offsets: per-lang bucket byte totals, folded inside
    // each partition and merged on the driver — one job, no shuffle,
    // and at most langs × buckets entries per partition at any corpus
    // size. Per lang, bucket b starts after every lower bucket's bytes;
    // a null bucket (null doc_id) sorts first, so its bytes still count
    // although its docs get no shard
    val totals = sized.select(langKey, col("bucket").cast("int"), col("bytes")).rdd
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(String, Option[Int]), Long]
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val k = (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))
          acc(k) = acc.getOrElse(k, 0L) + (if (r.isNullAt(2)) 0L else r.getLong(2))
        }
        acc.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    val offsets: Map[String, Seq[Long]] = totals.groupBy(_._1._1).map { case (lang, bs) =>
      val off = Array.fill(buckets)(0L)
      var run = 0L
      bs.toSeq.sortBy(_._1._2).foreach { case ((_, b), bb) =>
        b.foreach(off(_) = run)
        run += bb
      }
      lang -> off.toSeq
    }
    val shardOf = sized
      // a lang or bucket the table cannot resolve (null) has no offset
      .withColumn("off", element_at(element_at(typedLit(offsets), langKey),
        (col("bucket") + 1).cast("int")))
      .filter(col("off").isNotNull)
      .withColumn("start", col("off") + coalesce(
        sum(col("bytes")).over(Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integer-domain division (`div`), not double `/`: both engines
      // floor exactly, no boundary doc can flip on a rounding tie
      .withColumn("shard", expr(s"cast(start div ${targetBytes}L as int)"))
      .drop("bucket", "bytes", "off", "start")
    // output columns: lang, then the input's other columns, then shard
    shardOf.select(col("lang") +: shardOf.columns.filter(_ != "lang").map(col): _*)
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
    // run one task per session shuffle partition. Lazy: the plan's
    // exchanges run here, and its last stage runs inside the write job,
    // which stores the blocks the manifest then reads
    val planned = assignShards(docs, targetBytes)
      .repartition(col("lang"), col("shard"))
      .localCheckpoint(eager = false)
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
    readManifest(docs.sparkSession, path)
  }

  /** The `_manifest` columns as parquet returns them (all nullable). */
  private val manifestSchema: StructType = StructType(Seq(
    StructField("lang", StringType),
    StructField("shard", IntegerType),
    StructField("n_docs", LongType),
    StructField("n_bytes", LongType),
    StructField("content_fp", DecimalType(38, 0))))

  /** The shipped manifest, read with its declared schema: no job to
    * infer it from a parquet footer. */
  private def readManifest(s: SparkSession, path: String): DataFrame =
    s.read.schema(manifestSchema).parquet(s"$path/_manifest")

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
    * semantics) through ONE aggregate at (lang, shard) grain over the
    * doc rows on disk and the shipped manifest rows together: per
    * shard, the disk totals and the list of shipped rows. A shipped
    * row equal to the disk totals cancels once; every other shipped
    * row comes back tagged `shipped`, and disk totals no shipped row
    * cancelled come back tagged `on_disk`. */
  def verifyExport(s: SparkSession, path: String): DataFrame = {
    // an integrity checker must see the directory as it IS, not as the
    // session's file-status cache remembers it
    s.catalog.refreshByPath(path)
    // a manifest row as one struct: the shipped columns before the
    // aggregate, the disk totals (same names) after it
    val row = struct(col("n_docs"), col("n_bytes"), col("content_fp"))
    val shipped = readManifest(s, path)
      .select(col("lang"), col("shard"), row.as("row"), lit(null: String).as("text"),
        lit(null: java.lang.Long).as("doc_id"), lit(null: Integer).as("on_disk"))
    val onDisk = importJsonl(s, path)
      .select(col("lang").cast("string").as("lang"), col("shard"),
        lit(null).cast(shipped.schema("row").dataType).as("row"),
        col("text"), col("doc_id"), lit(1).as("on_disk"))
    val isDisk = col("on_disk").isNotNull
    val perShard = shipped.unionByName(onDisk)
      .groupBy(col("lang"), col("shard"))
      .agg(
        count(col("on_disk")).as("n_docs"),
        sum(when(isDisk, docBytes)).as("n_bytes"),
        sum(when(isDisk, docFp)).as("content_fp"),
        collect_list(col("row")).as("shipped"))
    // the disk totals cancel the first shipped row equal to them
    val hasDisk = col("n_docs") > 0
    val hit = array_position(col("shipped"), row)
    val shippedLeft = filter(col("shipped"), (_, i) => !(hasDisk && i === hit - 1))
    val diskLeft = filter(array(row), _ => hasDisk && hit === 0)
    def tagged(rows: Column, side: String): Column =
      transform(rows, r => r.withField("side", lit(side)))
    perShard
      .select(col("lang"), col("shard"),
        explode(concat(tagged(shippedLeft, "shipped"), tagged(diskLeft, "on_disk"))).as("d"))
      .select(col("lang"), col("shard"), col("d.n_docs"), col("d.n_bytes"),
        col("d.content_fp"), col("d.side"))
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
        sum(docFp).as("content_fp"))

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
