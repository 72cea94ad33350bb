package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.CorpusExport

/** Sharded JSONL corpus export: size bounds, determinism, round-trip
  * fidelity, and reader-side partition pruning. */
class CorpusExportSpec extends AnyFunSuite with LocalSparkSuite {

  private val target = 64 * 1024L
  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val sharded = CorpusExport.assignShards(docs, target)

  test("shards are size-bounded: full but for one boundary doc, never unbounded") {
    val stats = sharded.withColumn("b", octet_length(col("text")) + lit(1L))
      .groupBy(col("lang"), col("shard"))
      .agg(sum(col("b")).as("bytes"), max(col("b")).as("maxdoc"),
        count(lit(1)).as("n"))
      .collect()
    assert(stats.nonEmpty)
    for (r <- stats) {
      val bytes = r.getAs[Long]("bytes"); val maxdoc = r.getAs[Long]("maxdoc")
      // start-offset assignment: a shard exceeds target only by the
      // tail of the single doc that crossed its boundary
      assert(bytes < target + maxdoc,
        s"shard ${r.get(0)}/${r.get(1)} has $bytes bytes (target $target, max doc $maxdoc)")
    }
    // every non-final shard of each lang is actually full (> target
    // means the boundary doc arrived; the last shard may be partial)
    val byLang = stats.groupBy(_.getAs[String]("lang"))
    for ((lang, rows) <- byLang) {
      val last = rows.map(_.getAs[Int]("shard")).max
      for (r <- rows; if r.getAs[Int]("shard") < last)
        assert(r.getAs[Long]("bytes") >= target - r.getAs[Long]("maxdoc"),
          s"non-final shard $lang/${r.get(1)} is underfull")
    }
  }

  test("shard ids are contiguous from 0 per lang") {
    val perLang = sharded.groupBy(col("lang"))
      .agg(min(col("shard")).as("lo"), max(col("shard")).as("hi"),
        countDistinct(col("shard")).as("n"))
      .collect()
    for (r <- perLang) {
      assert(r.getAs[Int]("lo") === 0)
      assert(r.getAs[Long]("n") === r.getAs[Int]("hi") + 1L)
    }
  }

  test("assignment is deterministic and partitioning-independent") {
    val again = CorpusExport.assignShards(docs.repartition(7), target)
      .select("doc_id", "shard")
    val diff = sharded.select("doc_id", "shard")
      .except(again)
    assert(diff.count() === 0)
  }

  test("JSONL round-trip preserves every doc, byte for byte") {
    val dir = java.nio.file.Files.createTempDirectory("graftjsonl").toString
    val written = CorpusExport.exportJsonl(docs, dir, target)
    val back = CorpusExport.importJsonl(spark, dir)
    assert(back.count() === docs.count())
    // exact per-doc text equality via anti-join on the full payload
    val mismatched = docs.select("doc_id", "text", "source", "n_chars")
      .except(back.select("doc_id", "text", "source", "n_chars"))
    assert(mismatched.count() === 0)
    // the import's manifest reproduces the export's manifest exactly
    // (order-independent content fingerprint)
    val reman = CorpusExport.manifest(
      back.withColumn("lang", col("lang").cast("string")))
    assert(written.except(reman).count() === 0 && reman.except(written).count() === 0)
  }

  test("exportJsonl evaluates its shard plan once and returns the shipped manifest") {
    val seen = spark.sparkContext.longAccumulator("export-input-rows")
    // nondeterministic, so the optimizer may neither fold nor duplicate
    // it away: the accumulator counts real evaluations of the input
    val passThrough = udf { (id: Long) => seen.add(1L); id }.asNondeterministic()
    val input = docs.withColumn("doc_id", passThrough(col("doc_id")))
    // the reference: one full evaluation of the shard plan. assignShards
    // reads its input twice by design (the per-bucket offsets and the
    // rows), so that is 2 x docs; the export must add no pass of its own
    CorpusExport.assignShards(input, target).write.format("noop").mode("overwrite").save()
    val onePlan = seen.value
    assert(onePlan === 2 * docs.count())
    seen.reset()
    val dir = Files.createTempDirectory("graftonce").toString
    val written = CorpusExport.exportJsonl(input, dir, target)
    assert(seen.value === onePlan)
    val expected = CorpusExport.manifest(sharded).collect().toSeq
    assert(written.collect().toSeq === expected)
    assert(spark.read.parquet(s"$dir/_manifest").collect().toSeq === expected)
  }

  test("shipped manifest verifies against the files on disk; corruption is caught") {
    val dir = java.nio.file.Files.createTempDirectory("graftman").toString
    CorpusExport.exportJsonl(docs, dir, target)
    assert(CorpusExport.verifyExport(spark, dir).count() === 0)
    // corrupt one shard: drop a doc from the first json part found
    val part = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles()).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".json")).head
    val lines = java.nio.file.Files.readAllLines(part.toPath)
    java.nio.file.Files.write(part.toPath,
      java.util.List.copyOf(lines.subList(1, lines.size())))
    // drop the LocalFileSystem CRC sidecar: with it present the edit
    // trips Hadoop's checksum layer before the manifest ever runs
    // (good — defense in depth); without it, bitrot reaches the
    // manifest, which must be the backstop that catches it
    new java.io.File(part.getParent, "." + part.getName + ".crc").delete()
    // verify the corpus at the path a loader would receive it under
    // (session file-status caches pin the ORIGINAL path's stale sizes
    // at the task level; a moved tree is how corpora actually arrive)
    val dir2 = dir + "_recv"
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir2))
    val bad = CorpusExport.verifyExport(spark, dir2)
    assert(bad.count() === 2) // the shard's shipped row + its on-disk row
    assert(bad.select("side").distinct().count() === 2)
  }

  /** Export to a fresh directory, let `damage` edit the tree, then verify
    * it under a new path, as the truncation test above does. */
  private def verifyDamaged(prefix: String)(damage: java.io.File => Unit): DataFrame = {
    val dir = Files.createTempDirectory(prefix).toString
    CorpusExport.exportJsonl(docs, dir, target)
    damage(new java.io.File(dir))
    val recv = dir + "_recv"
    Files.move(Paths.get(dir), Paths.get(recv))
    CorpusExport.verifyExport(spark, recv)
  }

  private def shardDirs(root: java.io.File): Seq[java.io.File] =
    root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("lang="))
      .flatMap(_.listFiles().filter(_.isDirectory)).sortBy(_.getPath).toSeq

  private def sides(bad: DataFrame): Seq[String] =
    bad.select("side").collect().map(_.getString(0)).toSeq

  test("verifyExport: a deleted shard directory is one shipped row") {
    val bad = verifyDamaged("graftdel") { root =>
      val victim = shardDirs(root).head
      victim.listFiles().foreach(_.delete())
      assert(victim.delete())
    }
    assert(sides(bad) === Seq("shipped"))
  }

  test("verifyExport: a copied extra shard directory is one on_disk row") {
    val bad = verifyDamaged("graftcopy") { root =>
      val src = shardDirs(root).head
      val dst = new java.io.File(src.getParentFile, "shard=9999")
      assert(dst.mkdir())
      src.listFiles().foreach(f => Files.copy(f.toPath, dst.toPath.resolve(f.getName)))
    }
    assert(sides(bad) === Seq("on_disk"))
    assert(bad.select("shard").collect().map(_.getInt(0)).toSeq === Seq(9999))
  }

  test("verifyExport: multiset diff counts every extra shipped copy") {
    // three copies of the shipped manifest: each shard's row is shipped
    // three times and found on disk once, so it shows up twice
    val nShards = CorpusExport.manifest(sharded).count()
    val bad = verifyDamaged("graftdup") { root =>
      val man = new java.io.File(root, "_manifest")
      val part = man.listFiles().filter(_.getName.endsWith(".parquet")).head
      for (i <- 1 to 2)
        Files.copy(part.toPath, man.toPath.resolve(s"copy$i-${part.getName}"))
    }
    assert(sides(bad) === Seq.fill(2 * nShards.toInt)("shipped"))
  }

  test("gzip-compressed export round-trips identically") {
    val dir = java.nio.file.Files.createTempDirectory("graftgz").toString
    CorpusExport.exportJsonl(docs, dir, target, codec = "gzip")
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
      .flatMap(_.listFiles()).filter(_.isDirectory).flatMap(_.listFiles())
    assert(files.exists(_.getName.endsWith(".json.gz")), "no gzip parts written")
    val back = CorpusExport.importJsonl(spark, dir)
    assert(back.count() === docs.count())
    assert(docs.select("doc_id", "text")
      .except(back.select("doc_id", "text")).count() === 0)
  }

  test("reader prunes on the shard directory, not just lang") {
    val dir = java.nio.file.Files.createTempDirectory("graftjsonl2").toString
    CorpusExport.exportJsonl(docs, dir, target)
    val pruned = CorpusExport.importJsonl(spark, dir)
      .filter(col("lang") === "en" && col("shard") === 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(pruned.count() > 0)
  }
}
