package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  def assignShards(docs: DataFrame, targetBytes: Long, buckets: Int = 64): DataFrame =
    shardPlan(docs, targetBytes, buckets).drop(TermCols: _*)

  /** A doc's manifest terms, carried by [[shardPlan]] after `shard`. */
  private val BytesCol = "__doc_bytes"
  private val FpCol = "__doc_fp"
  private val TermCols = Seq(BytesCol, FpCol)

  /** [[assignShards]]' rows plus each doc's manifest terms ([[docBytes]],
    * [[docFp]]) as the last two columns. The bytes are the shard
    * planner's own sizes, and the fingerprint fuses into the same
    * projection, so carrying them costs no extra pass or stage. */
  private def shardPlan(docs: DataFrame, targetBytes: Long, buckets: Int): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(buckets > 0, "buckets must be positive")
    val sized = docs.withColumn("bucket", pmod(col("doc_id"), lit(buckets)))
      .withColumn(BytesCol, docBytes)
    val langKey = col("lang").cast("string")
    // cross-bucket offsets: per-lang bucket byte totals, folded inside
    // each partition and merged on the driver — one job, no shuffle,
    // and at most langs × buckets entries per partition at any corpus
    // size. Per lang, bucket b starts after every lower bucket's bytes;
    // a null bucket (null doc_id) sorts first, so its bytes still count
    // although its docs get no shard. InternalRows, not Rows: no
    // deserializer to generate
    val totals = sized.select(langKey, col("bucket").cast("int"), col(BytesCol))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(String, Option[Int]), Long]
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val k = (r.getUTF8String(0).toString, if (r.isNullAt(1)) None else Some(r.getInt(1)))
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
        sum(col(BytesCol)).over(Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integer-domain division (`div`), not double `/`: both engines
      // floor exactly, no boundary doc can flip on a rounding tie
      .withColumn("shard", expr(s"cast(start div ${targetBytes}L as int)"))
      .withColumn(FpCol, docFp)
      .drop("bucket", "off", "start")
    // output columns: lang, the input's other columns, shard, the terms
    val payload = shardOf.columns.filterNot(c => c == "lang" || TermCols.contains(c))
    shardOf.select((("lang" +: payload) ++ TermCols).map(col): _*)
  }

  /** Write `docs` as `lang=<l>/shard=<k>/` JSONL files. One file per
    * shard directory (the repartition key IS the directory key, so
    * each task owns whole shards); readers prune on both directory
    * levels. `codec` is any Spark JSON compression ("gzip" for the
    * classic .json.gz corpus layout, "zstd" where the JVM ships the
    * codec, default "none") — shard sizes are computed on the
    * UNCOMPRESSED payload, the stable quantity a token-budgeted
    * loader cares about. Returns the shipped manifest, read back from
    * `<path>/_manifest` (one row per shard, in (lang, shard) order).
    *
    * The manifest is a fold, not a query: each checkpointed partition
    * sums its docs' terms per (lang, shard), the driver merges the
    * partial totals, and one local frame writes the sorted rows. The
    * driver holds one entry per shard — the bound the single-file
    * `_manifest` already sets. */
  def exportJsonl(docs: DataFrame, path: String, targetBytes: Long,
      codec: String = "none"): DataFrame = {
    // the shard plan runs ONCE: the JSONL write and the manifest fold
    // both read this materialized frame. localCheckpoint, not persist():
    // a cached plan loses AQE's partition coalescing, so the write would
    // run one task per session shuffle partition. Lazy: the plan's
    // exchanges run here, and its last stage runs inside the write job,
    // which stores the blocks the fold then reads
    val planned = shardPlan(docs, targetBytes, buckets = 64)
      .repartition(col("lang"), col("shard"))
      .localCheckpoint(eager = false)
    try {
      planned.drop(TermCols: _*).write.partitionBy("lang", "shard")
        .option("compression", codec)
        .mode("overwrite")
        .json(path)
      // the manifest ships WITH the corpus: an underscore-prefixed
      // directory is invisible to Spark/Hadoop file readers, so
      // importJsonl's glob never sees it
      val at = (Seq("lang", "shard") ++ TermCols).map(planned.schema.fieldIndex)
      val totals = mergeTotals(checkpointRows(planned).mapPartitions(
        foldTerms(_, at(0), at(1), at(2), at(3))).collect())
      // nullability as a (lang, shard) count/sum aggregate reports it
      val schema = StructType(Seq(planned.schema("lang"), planned.schema("shard"),
        StructField("n_docs", LongType, nullable = false),
        StructField("n_bytes", LongType), StructField("content_fp", DecimalType(38, 0))))
      // one file, rows in (lang, shard) order
      docs.sparkSession.createDataFrame(manifestRows(totals).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
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

  /** A localCheckpoint's own RDD of InternalRows: reading it runs no
    * generated scan code, and never re-runs the plan it stores. */
  private def checkpointRows(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => sys.error(s"not a checkpointed frame: ${p.nodeName}")
    }

  /** Drop a localCheckpoint's blocks now rather than at the
    * ContextCleaner's next GC-driven sweep. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A manifest row's key; None is SQL NULL. */
  private type ShardKey = (Option[String], Option[Int])

  /** A manifest row's values with SQL `count`/`sum` semantics: `+`
    * skips a NULL term, a sum of NULL terms is NULL, and an overflow
    * (of a long, or of decimal(38,0)) fails instead of wrapping.
    * Fingerprints are exact scale-0 decimals, so `==` is value
    * equality. */
  private final case class ShardTotals(nDocs: Option[Long], nBytes: Option[Long],
      contentFp: Option[java.math.BigDecimal]) {
    def +(o: ShardTotals): ShardTotals = ShardTotals(
      sqlSum(nDocs, o.nDocs)(Math.addExact),
      sqlSum(nBytes, o.nBytes)(Math.addExact),
      sqlSum(contentFp, o.contentFp) { (a, b) =>
        val s = a.add(b)
        if (s.precision > 38) throw new ArithmeticException(
          s"content_fp overflows decimal(38,0): $a + $b")
        s
      })
  }

  private def sqlSum[A](a: Option[A], b: Option[A])(add: (A, A) => A): Option[A] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(add(x, y))
      case _ => a.orElse(b)
    }

  private def keyAt(r: InternalRow, lang: Int, shard: Int): ShardKey =
    (if (r.isNullAt(lang)) None else Some(r.getUTF8String(lang).toString),
      if (r.isNullAt(shard)) None else Some(r.getInt(shard)))

  private def totalsAt(r: InternalRow, nDocs: Option[Long], bytes: Int, fp: Int): ShardTotals =
    ShardTotals(nDocs,
      if (r.isNullAt(bytes)) None else Some(r.getLong(bytes)),
      if (r.isNullAt(fp)) None else Some(r.getDecimal(fp, 38, 0).toJavaBigDecimal))

  /** One partition's docs summed per shard: a doc counts once, its
    * [[docBytes]] and [[docFp]] terms (at the given ordinals) add up. */
  private def foldTerms(rows: Iterator[InternalRow], lang: Int, shard: Int, bytes: Int,
      fp: Int): Iterator[(ShardKey, ShardTotals)] = {
    val acc = scala.collection.mutable.HashMap.empty[ShardKey, ShardTotals]
    rows.foreach { r =>
      val k = keyAt(r, lang, shard)
      val t = totalsAt(r, Some(1L), bytes, fp)
      acc(k) = acc.get(k).fold(t)(_ + t)
    }
    acc.iterator
  }

  private def mergeTotals(parts: Array[(ShardKey, ShardTotals)]): Map[ShardKey, ShardTotals] =
    parts.groupMapReduce(_._1)(_._2)(_ + _)

  /** Spark's ascending order, nulls first: strings by their UTF-8
    * bytes, as `UTF8String` compares them. */
  private val keyOrder: Ordering[ShardKey] = Ordering.Tuple2(
    Ordering.Option(Ordering.fromLessThan[String] { (a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0 }),
    Ordering.Option(Ordering.Int))

  private def row(k: ShardKey, t: ShardTotals, more: Any*): Row =
    Row.fromSeq(Seq[Option[Any]](k._1, k._2, t.nDocs, t.nBytes, t.contentFp).map(_.orNull) ++
      more)

  /** Manifest rows in (lang, shard) order. */
  private def manifestRows(totals: Map[ShardKey, ShardTotals]): Seq[Row] =
    totals.toSeq.sortBy(_._1)(keyOrder).map { case (k, t) => row(k, t) }

  /** [[verifyExport]]'s columns: a manifest row and its side. */
  private val diffSchema: StructType =
    manifestSchema.add(StructField("side", StringType, nullable = false))

  /** Loader-side integrity check: recompute the manifest from the
    * files actually on disk and diff it against the one the export
    * shipped. Returns the discrepancies (empty = the corpus is
    * exactly what the writer accounted for — any lost/truncated/
    * duplicated shard or mutated doc shows up as a row here, because
    * the content fingerprint is an exact integer sum).
    *
    * The diff is a multiset difference both ways (`exceptAll`
    * semantics). One job folds the doc rows on disk to per-shard
    * totals and passes the shipped manifest rows through; the driver
    * merges the totals and, per shard, lets the disk totals cancel
    * one shipped row equal to them. Every other shipped row comes
    * back tagged `shipped`, and disk totals no shipped row cancelled
    * come back tagged `on_disk`, in (lang, shard) order.
    * The driver holds one entry per shard (plus any extra shipped
    * copies); the result is a local frame. */
  def verifyExport(s: SparkSession, path: String): DataFrame = {
    // an integrity checker must see the directory as it IS, not as the
    // session's file-status cache remembers it
    s.catalog.refreshByPath(path)
    val shipped = readManifest(s, path).queryExecution.toRdd
      .map(r => (true, keyAt(r, 0, 1),
        totalsAt(r, if (r.isNullAt(2)) None else Some(r.getLong(2)), 3, 4)))
    val onDisk = importJsonl(s, path)
      .select(col("lang").cast("string"), col("shard").cast("int"), docBytes, docFp)
      .queryExecution.toRdd
      .mapPartitions(foldTerms(_, 0, 1, 2, 3).map { case (k, t) => (false, k, t) })
    val (fromManifest, fromDisk) = shipped.union(onDisk).collect().partition(_._1)
    val disk = mergeTotals(fromDisk.map(r => (r._2, r._3)))
    val ship = fromManifest.groupMap(_._2)(_._3)
    // per shard, `diff` is the multiset difference
    val diffs = (disk.keySet ++ ship.keySet).toSeq.sorted(keyOrder).flatMap { k =>
      val shippedRows = ship.getOrElse(k, Array.empty[ShardTotals]).toSeq
      val diskRows = disk.get(k).toSeq
      shippedRows.diff(diskRows).map(row(k, _, "shipped")) ++
        diskRows.diff(shippedRows).map(row(k, _, "on_disk"))
    }
    s.createDataFrame(diffs.asJava, diffSchema)
  }

  /** Per-shard accounting a loader can verify against: doc count,
    * payload bytes, and an order-independent content fingerprint
    * (exact integer sum of per-doc xxhash64 — bit-stable no matter
    * how many readers split the shard). */
  def manifest(sharded: DataFrame): DataFrame =
    sharded.groupBy(col("lang"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(docBytes).as("n_bytes"),
        sum(docFp).as("content_fp"))
      .orderBy(col("lang"), col("shard"))

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
