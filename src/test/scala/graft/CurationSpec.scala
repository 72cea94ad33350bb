package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CurationOps, Relational}

/** Semantics of the curation/sampling surface and the round-2
  * relational additions — properties the DuckDB differential can't
  * state (determinism across reruns, invariants, plan shape). */
class CurationSpec extends AnyFunSuite with LocalSparkSuite {

  test("hash sample is deterministic and selects only matching ids") {
    val a = CurationOps.hashSample(spark, sfDir).collect()
    val b = CurationOps.hashSample(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty && a.length < 500) // a strict, non-empty subsample
  }

  test("repetition fractions are well-formed") {
    val rows = CurationOps.repetitionStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dup, top) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(dup >= 0.0 && dup < 1.0)
      // the most frequent bigram holds at least its 1/(n-1) share
      assert(top >= 1.0 / (n - 1) - 1e-12 && top <= 1.0)
    }
  }

  test("pii scrub masks every occurrence of the target terms") {
    val leaked = CurationOps.piiScrub(spark, sfDir)
      .filter(col("masked_head").contains("customer") ||
        col("masked_head").contains("supplier"))
      .count()
    assert(leaked === 0)
    // corpus really contains the terms (the op is not vacuous)
    assert(CurationOps.piiScrub(spark, sfDir)
      .agg(sum(col("n_masked"))).head().getLong(0) > 0)
  }

  test("arg-max picks the row holding the group max") {
    val picks = Relational.argMaxByLang(spark, sfDir).collect()
    val chars = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    picks.foreach { r =>
      assert(chars(r.getLong(1)) === r.getLong(3)) // longest_doc has max_chars
      assert(chars(r.getLong(2)) === r.getLong(4)) // shortest_doc has min_chars
    }
  }

  test("lateral top-k returns exactly k rows per outer row") {
    val counts = Relational.lateralTopPerRegion(spark, sfDir)
      .groupBy(col("r_name")).count().collect()
    assert(counts.length === 5 && counts.forall(_.getLong(1) === 2))
  }

  test("rolling 7-day revenue dominates the daily value and starts equal") {
    val rows = Relational.rollingRevenue(spark, sfDir)
      .orderBy(col("o_orderdate")).collect()
    assert(rows.head.getDouble(1) === rows.head.getDouble(2))
    rows.foreach(r => assert(r.getDouble(2) >= r.getDouble(1) - 1e-9))
  }

  test("contamination flags only non-probe docs above the threshold") {
    val rows = graft.ops.TextOps.contamination(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 31 !== 0L) // probe slice never flags itself
      assert(r.getLong(1) >= 3L)
    }
  }

  test("retention curve starts with the full user base at offset 0") {
    val rows = graft.ops.WindowedOps.retentionCurve(spark, sfDir).collect()
    val allUsers = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    assert(rows.head.getLong(0) === 0L) // first offset is day 0
    assert(rows.head.getLong(1) === allUsers) // everyone is active on their day 0
    rows.foreach(r => assert(r.getLong(1) <= allUsers))
  }

  test("funnel conversions need at least the three matched events") {
    val rows = graft.ops.WindowedOps.funnelUsers(spark, sfDir).collect()
    assert(rows.nonEmpty) // testdata users do convert; empty = broken match
    rows.foreach(r => assert(r.getLong(1) >= 3L))
  }

  test("dedup components reach a true fixpoint") {
    val rows = graft.ops.TextOps.dedupComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val cluster = rows.toMap
    rows.foreach { case (doc, c) =>
      assert(c <= doc) // the label is the smallest reachable id
      assert(cluster(c) === c) // the representative is its own cluster
    }
    // every candidate-pair endpoint landed in the same cluster as its partner
    graft.ops.TextOps.minhashPairs(spark, sfDir).collect()
      .foreach(r => assert(cluster(r.getLong(0)) === cluster(r.getLong(1))))
  }

  test("curateCorpus composes quality gate, dedups and sampling") {
    val all = Tables.documents(spark, sfDir).count()
    val out = CurationOps.curateCorpus(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty && out.size <= all)
    // at most one member of each near-dup cluster survives, and no
    // cluster is wiped out entirely (representatives re-elected among
    // survivors)
    val cluster = graft.ops.TextOps.dedupComponents(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivorsPerCluster = out.toSeq.flatMap(d => cluster.get(d).map(_ -> d))
      .groupBy(_._1).view.mapValues(_.size)
    assert(survivorsPerCluster.values.forall(_ == 1))
    assert(survivorsPerCluster.size === cluster.values.toSet.size)
    // narrowing the sample hex space yields a strict, deterministic subset
    val half = CurationOps.curateCorpus(spark, sfDir, "01234567")
      .collect().map(_.getLong(0)).toSet
    assert(half.subsetOf(out) && half.size < out.size)
    val again = CurationOps.curateCorpus(spark, sfDir, "01234567")
      .collect().map(_.getLong(0)).toSet
    assert(again === half)
  }

  test("curateCorpus edge rows: short, empty and null texts, gated duplicates and representative") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcurate").toString
    Seq[(Long, String)](
      1L -> "alpha beta gamma delta epsilon",
      2L -> "solo", // one token: no bigrams, so the gate passes it
      3L -> "", // one empty token: passes the gate
      4L -> null, 5L -> null, // the null hash is one group: only 4 survives exact dedup
      6L -> "buy now buy now buy now", // top bigram 3/5: gated, and so is
      7L -> "buy now buy now buy now", // its exact duplicate
      8L -> "the quick brown fox jumps over the lazy dog",
      10L -> "a b a b", // top bigram 2/3: gated, though it labels its near-dup cluster
      11L -> "a b a b a", // top bigram 2/4 and duplicate words 3/5: both pass
      12L -> "b a b a b") // same 3-shingle set as 10 and 11
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("src0").as("source"),
        coalesce(length(col("text")), lit(0)).cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val cluster = graft.ops.TextOps.dedupComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(10L, 11L, 12L).map(cluster.get) === Seq.fill(3)(Some(10L)))
    val out = CurationOps.curateCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // 11 is re-elected for the cluster whose original representative was gated
    assert(out === Seq(1L -> 30L, 2L -> 4L, 3L -> 0L, 4L -> 0L, 8L -> 43L, 11L -> 9L)
      .map { case (id, n) => (id, "en", "src0", n) })
  }

  test("sequence packing fills greedily: budget respected, nothing lost, packs dense") {
    val out = CurationOps.sequencePacking(spark, sfDir).collect()
    // every doc appears exactly once
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    assert(out.length === Tables.documents(spark, sfDir).count())
    val byPack = out.groupBy(r => (r.getString(1), r.getLong(2)))
    byPack.foreach { case ((lang, pack), docs) =>
      val total = docs.map(_.getLong(3)).sum
      // a pack only exceeds the budget when a single doc does
      assert(total <= 512 || docs.length === 1,
        s"pack ($lang,$pack) holds $total tokens across ${docs.length} docs")
    }
    // greedy tightness: consecutive packs cannot be merged (the first
    // doc of pack k+1 must not fit in pack k), and ids are dense from 0
    out.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val packs = docs.sortBy(_.getLong(0)).groupBy(_.getLong(2))
      val ids = packs.keys.toSeq.sorted
      assert(ids === (0L until ids.length).toSeq, s"$lang pack ids not dense")
      ids.sliding(2).foreach {
        case Seq(a, b) =>
          val fillA = packs(a).map(_.getLong(3)).sum
          val firstB = packs(b).minBy(_.getLong(0)).getLong(3)
          assert(fillA + firstB > 512, s"$lang packs $a/$b could have merged")
        case _ => ()
      }
    }
  }

  test("unrolled fixpoint double-round computes round 1 once (ReusedExchange)") {
    // the two-round unroll references round 1 four times (union +
    // propagate + both pointer-jump sides); if the canonical subtrees
    // stopped deduplicating, the unroll would quietly do 4x the work
    // the checkpoint-per-round loop did — assert the physical plan
    // reuses round 1's exchange instead of recomputing it. AQE off for
    // the read: adaptive plans only surface reuse in the runtime-final
    // plan, while the static planner applies ReuseExchange up front.
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.ops.TextOps.fixpointUnrolledPlan(spark, sfDir)
        .queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(plan.contains("ReusedExchange"),
      s"no ReusedExchange in the unrolled fixpoint plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "fixpoint round joins must stay hash/broadcast (checkpoint-stats lesson)")
  }

  test("sharded packing holds every per-shard invariant at a 10x corpus") {
    // The documented 100 TB posture (packCore scaladoc): parallelism =
    // #groups, so at scale the grouping key is (lang, shard) with
    // shard = hash(doc_id) at executor-sized granularity. Demonstrate
    // it: a 5000-doc corpus (10x the testdata's 500) packed under the
    // composite key, checked shard-by-shard against the sequential
    // greedy replay.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, hash, lit, pmod}
    val nShards = 8
    // deterministic pseudo-random corpus: sizes span tiny, mid, and
    // oversized (> 512) docs; langs interleave
    val docs = (0L until 5000L).map { id =>
      val n = ((id * 2654435761L) % 613L) + 1L // 1..613, crosses the budget
      (id, if (id % 3 == 0) "en" else if (id % 3 == 1) "de" else "fr", n)
    }
    val sharded = CurationOps.packCore(spark,
        docs.toDF("doc_id", "lang", "n")
          .withColumn("lang",
            concat(col("lang"), lit("#"), pmod(hash(col("doc_id")), lit(nShards)))))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // nothing lost or duplicated by sharding
    assert(sharded.map(_._1).distinct.length === 5000)
    // sharding multiplied the parallelism: every (lang, shard) group
    // is populated, so the typed groupBy fans 3 langs into 24 groups
    assert(sharded.map(_._2).distinct.length === 3 * nShards)
    // each shard is an independent greedy packing of ITS docs in
    // doc_id order — equal to the sequential replay, budget and all
    val shardOf = sharded.map(t => t._1 -> t._2).toMap
    docs.foreach { case (id, lang, _) => // shard key extends the doc's own lang
      assert(shardOf(id).startsWith(lang + "#"))
    }
    val jvmShard = (key: String) => {
      val mine = docs.filter { case (id, _, _) => shardOf(id) == key }.sortBy(_._1)
      var pack = 0L; var fill = 0L; var first = true
      mine.map { case (id, _, n) =>
        if (!first && fill + n > 512L) { pack += 1; fill = n }
        else { fill += n; first = false }
        (id, key, pack, n)
      }
    }
    sharded.map(_._2).distinct.foreach { key =>
      val got = sharded.filter(_._2 == key).sortBy(_._1).toSeq
      assert(got === jvmShard(key), s"shard $key diverged from the greedy replay")
    }
  }

  test("curate-and-pack packs exactly the curated docs, densely per language") {
    val packed = CurationOps.curateAndPack(spark, sfDir).collect()
    val curated = CurationOps.curateCorpus(spark, sfDir, "01234567")
      .collect().map(_.getLong(0)).toSet
    // the packed set IS the curated set — no doc lost or invented
    assert(packed.map(_.getLong(0)).toSet === curated)
    assert(packed.map(_.getLong(0)).distinct.length === packed.length)
    // budget + density hold over the curated slice (pack ids are
    // recomputed over survivors, not inherited from the full corpus)
    packed.groupBy(r => (r.getString(1), r.getLong(2))).foreach {
      case ((lang, pack), docs) =>
        val total = docs.map(_.getLong(3)).sum
        assert(total <= 512 || docs.length === 1,
          s"pack ($lang,$pack) holds $total tokens across ${docs.length} docs")
    }
    packed.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val ids = docs.map(_.getLong(2)).distinct.sorted.toSeq
      assert(ids === (0L until ids.length).toSeq, s"$lang pack ids not dense")
    }
  }

  test("source mixing is deterministic and fills each budget exactly to the crossing doc") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val totalTokens = docs.map(_._3).sum
    val kept = CurationOps.sourceMixing(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val again = CurationOps.sourceMixing(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.sameElements(again))
    docs.groupBy(_._2).foreach { case (source, srcDocs) =>
      val target = (source.drop(3).toInt % 4 + 1) * 25 * totalTokens / 1000
      val keptHere = kept.filter(_._2 == source)
      val srcTokens = srcDocs.map(_._3).sum
      if (srcTokens <= target) {
        // undersubscribed: the whole source survives
        assert(keptHere.length === srcDocs.length, s"$source lost docs under budget")
      } else {
        // truncated exactly at the crossing doc in hash order: the
        // prefix before every kept doc is under target, and the kept
        // mass reaches it (dropping the last kept doc would not)
        val keptTokens = keptHere.map(_._3).sum
        val lastN = keptHere
          .maxBy(d => (md5hex(s"mix:${d._1}"), d._1))._3
        assert(keptTokens >= target, s"$source stopped short of its budget")
        assert(keptTokens - lastN < target, s"$source kept a doc past its budget")
      }
    }
  }

  test("chunk dedup matches a sequential first-occurrence replay") {
    import graft.ops.TextOps
    // replay the corpus in (doc_id, pos) order with a plain hash set —
    // the single-machine formulation the distributed plan must equal
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val chunks = toks.grouped(32).map(_.mkString(" ")).toSeq
      val dupTok = chunks.zipWithIndex.collect {
        case (c, i) if !seen.add(c) => math.min(32, toks.length - i * 32)
      }
      id -> (chunks.length.toLong, dupTok.length.toLong,
        dupTok.sum.toDouble / toks.length)
    }.toMap
    val out = TextOps.chunkDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === expected.keySet)
    out.foreach { case (id, got) =>
      assert(got === expected(id), s"doc $id diverges from the replay")
    }
    // the pass is not vacuous: the corpus contains repeated chunks
    assert(out.values.map(_._2).sum > 0)
  }

  test("DSIR model keeps all 16 buckets; an unseen bucket scores the smoothed default") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "src0", "key agg key agg key scan"),
      (1L, "src0", "key value key value key"),
      (2L, "src1", "window stream window stream batch"),
      (3L, "src2", "sort merge sort merge join")).toDF("doc_id", "source", "text")
    val model = CurationOps.dsirModel(corpus, "src0").localCheckpoint()
    // the model must carry ALL 16 hex buckets, not just the observed ones
    val entries = model.select(expr("map_keys(m)")).head.getSeq[String](0)
    assert(entries.sorted === "0123456789abcdef".map(_.toString))
    // 'key key' hashes to bucket 5, which no fit-corpus bigram occupies
    // (the covered set is {1,4,6,7,a,d,e,f}); through the q140 scoring
    // fold it gets the smoothed default, not NULL. tt=9 target / rt=8
    // raw bigram occurrences in the fit corpus:
    // lr = ln((0+1)/(9+16)) - ln((0+1)/(8+16)) = ln(24/25)
    val weights = Seq("key key", "key agg key value key", "window stream batch stream")
      .toDF("text")
      .withColumn("bks", graft.functions.GraftFunctions
        .bigramBuckets(split(col("text"), " ")))
      .crossJoin(broadcast(model))
      .select(col("text"), CurationOps.dsirWeightExpr.as("w")).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    assert(weights("key key") != null, "an unseen bucket must not NULL the weight")
    val expected = BigDecimal(math.log(24.0 / 25.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(weights("key key") === expected)
    // a target-like doc scores positive, a raw-like one negative
    assert(weights("key agg key value key").asInstanceOf[Double] > 0.0)
    assert(weights("window stream batch stream").asInstanceOf[Double] < 0.0)
  }

  test("union-by-name aligns columns and nulls the missing one") {
    val df = Relational.unionByNameMerge(spark, sfDir)
    val rows = df.collect()
    val (doc, evt) = rows.partition(_.getString(2) == "doc")
    assert(doc.forall(!_.isNullAt(3)) && evt.forall(_.isNullAt(3)))
    assert(doc.map(_.getLong(1)).sum === 500 && evt.map(_.getLong(1)).sum === 1000)
  }

  test("q196 systematic PPS: exact local replay, <=5 per source, weight-monotone inclusion") {
    val picked = CurationOps.ppsSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    // the selection rule replayed sequentially per source in plain
    // Scala — any window-frame or integer-division drift breaks this
    val replay = docs.toSeq.flatMap { case (src, rows) =>
      val sorted = rows.toSeq.sortBy(_._2)
      val total = sorted.map(_._3).sum
      var cum = 0L
      sorted.flatMap { case (_, id, w) =>
        val before = cum; cum += w
        if (before * 5 / total < cum * 5 / total) Some((src, id)) else None
      }
    }.toSet
    assert(picked === replay)
    picked.groupBy(_._1).foreach { case (src, s) =>
      assert(s.size <= 5 && s.nonEmpty, s"$src picked ${s.size}")
    }
    // PPS property: a doc can only be skipped if its weight leaves the
    // cumulative axis inside one slot — so every doc heavier than
    // total/5 of its source MUST be selected
    docs.foreach { case (src, rows) =>
      val total = rows.map(_._3).sum
      rows.filter(_._3 * 5 > total).foreach { case (_, id, _) =>
        assert(picked.contains((src, id)), s"heavy doc $id of $src must be picked")
      }
    }
  }

  test("q195 boilerplate strip removes exactly the injected chrome for eligible sources") {
    val out = graft.ops.TextOps.boilerplateStrip(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val removed = r.getAs[Long]("lines_removed")
      val boiler = r.getAs[Long]("boiler_lines")
      if (nDocs >= 3) {
        // header + footer are the only lines shared across docs (body
        // lines proved unique on this corpus): 2 boilerplate keys,
        // each removed once per doc
        assert(boiler === 2L, s"${r.getString(0)}: $boiler boiler lines")
        assert(removed === 2L * nDocs)
      } else {
        assert(boiler === 0L && removed === 0L)
      }
      assert(r.getAs[Long]("lines_total") > removed) // bodies survive
    }
  }
}
