package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions.bigramStats

/** Corpus-curation operator surface — the sampling / quality-filter
  * half of the LLM-data-pipeline mandate (BASELINE.json north star;
  * complements TextOps' dedup/fingerprint family).
  *
  * Scale posture: hash-sampling and masking are pure per-row
  * expressions (map-only at any corpus size); the repetition statistics
  * shuffle once on (doc_id, bigram) — the same explode→partial-agg
  * shape as word count, so wire volume is bounded by per-doc distinct
  * bigrams, not corpus size.
  */
object CurationOps {

  /** Deterministic seeded sampling: keep a doc iff the first hex char
    * of md5("smpl:" || doc_id) is '0' — a reproducible 1/16 sample that
    * is stable across engines, partitionings, and reruns (unlike
    * TABLESAMPLE / rand(seed), which are engine-private). Changing the
    * salt draws an independent sample; this is how a 100 TB pipeline
    * carves eval holdouts so membership never drifts between runs. */
  /** The sampling predicate, shared by the graded query and
    * curateCorpus so their membership is provably identical: keep a
    * doc iff the first hex char of md5("smpl:" || doc_id) is in
    * `hexChars` (each char = 1/16 of hash space). */
  private def samplePred(hexChars: String): org.apache.spark.sql.Column =
    substring(md5(concat(lit("smpl:"), col("doc_id").cast("string"))), 1, 1)
      .isin(hexChars.map(_.toString): _*)

  def hashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(samplePred("0"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  private val hashSampleSql =
    """SELECT doc_id, lang, source FROM documents
      |WHERE substring(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals per doc: duplicate-word fraction
    * (1 - distinct/total) and top-bigram fraction (most frequent
    * bigram's share of all bigrams) — the standard "is this doc
    * degenerate repetition?" quality gates. Everything is doc-local:
    * one codegen'd hash pass over the token array
    * ([[graft.functions.BigramStats]]) yields the exact integer triple,
    * so the query is a map-only stage (plus the output sort) and at
    * 100 TB ships zero bigram rows across the wire. An earlier
    * sort_array + interpreted `aggregate` run-max fold computed the
    * same integers 5× slower — invisible behind `.count()` (column
    * pruning skips the fractions) but paid by every consumer that
    * reads them, e.g. the q79 quality gate. The repartition fans the
    * single-row-group testdata scan across cores before the per-row
    * compute (a many-file table is already parallel). Both ratios are
    * single IEEE divisions of exact integers — deterministic
    * cross-engine without rounding. Docs with <2 tokens have no bigrams
    * and are excluded (the oracle's unnest of an empty slide list drops
    * them identically). */
  private[ops] def repetitionCore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), bigramStats(col("t")).as("bs"))
      .select(col("doc_id"), col("bs")(0).as("n_tokens"),
        ((col("bs")(0) - col("bs")(1)).cast("double") / col("bs")(0)).as("dup_word_frac"),
        (col("bs")(2).cast("double") / (col("bs")(0) - 1)).as("top_bigram_frac"))

  def repetitionStats(s: SparkSession, d: String): DataFrame =
    repetitionCore(s, d).orderBy(col("doc_id"))

  private val repetitionStatsSql =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |bg AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
      |  unnest([array_to_string(list_slice(t, i, i+1),' ')
      |          for i in generate_series(1, len(t)-1)]) AS bg FROM t),
      |c AS (SELECT doc_id, n, nd, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, n, nd, bg)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      | CAST(n - nd AS DOUBLE)/n AS dup_word_frac,
      | CAST(MAX(c) AS DOUBLE)/(n-1) AS top_bigram_frac
      |FROM c GROUP BY doc_id, n, nd ORDER BY doc_id""".stripMargin

  /** Sensitive-term masking (the PII-scrub shape): replace every match
    * of a term pattern with a mask token and count the spans masked.
    * Pure per-row regex (map-only); the pattern stays POSIX-simple so
    * Java regex and RE2 agree. On this corpus the masked terms are
    * entity words — on a real one the same plan carries phone/email/ID
    * patterns. */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("customer|supplier|part"), lit(0)))
          .cast("long").as("n_masked"),
        substring(regexp_replace(col("text"), "customer|supplier|part", "<ENT>"), 1, 80)
          .as("masked_head"))
      .orderBy(col("doc_id"))

  private val piiScrubSql =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, 'customer|supplier|part')) AS BIGINT) AS n_masked,
      | substring(regexp_replace(text, 'customer|supplier|part', '<ENT>', 'g'), 1, 80) AS masked_head
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Fuzzy near-dup verification by edit distance on adjacent-id
    * pairs — the character-level complement to token Jaccard (q35).
    * The 100-char prefix cap bounds the O(len²) DP per pair, the same
    * budget cap a production verifier applies to LSH candidates. */
  def editDistanceAdjacent(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, 100).as("head"))
    t.alias("a").join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"),
        levenshtein(col("a.head"), col("b.head")).as("edit_dist"))
      .orderBy(col("doc_id"))
  }

  private val editDistanceAdjacentSql =
    """SELECT a.doc_id AS doc_id,
      | CAST(levenshtein(substring(a.text,1,100), substring(b.text,1,100)) AS INT) AS edit_dist
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_id""".stripMargin

  /** Tokenizer-prep vocabulary coverage: per-doc fraction of tokens in
    * the corpus top-20 vocabulary ((count, word) is a total order, so
    * the cut is deterministic). The vocabulary is derived on the
    * WORD-grain aggregate — groupBy(w) partial-aggregates map-side, so
    * the sort+limit sees one row per distinct word (genuinely
    * vocabulary-sized) — and broadcast-joined back to the per-doc
    * counts. Never a global rank window over the (doc, word) grain:
    * that is a corpus-scale single-partition sort. The corpus is
    * exploded once per branch (Spark has no cross-branch subtree
    * reuse), but both branches are map-side-combined shuffles of
    * bounded aggregates — at 100 TB the vocab side would come from a
    * precomputed dictionary table anyway. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("wtot"))
      .orderBy(col("wtot").desc, col("w")).limit(20)
      .select(col("w"), lit(1L).as("in_vocab"))
    tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        (sum(when(col("in_vocab").isNotNull, col("cnt")).otherwise(lit(0L))).cast("double") /
          sum(col("cnt"))).as("vocab_coverage"))
      .orderBy(col("doc_id"))
  }

  private val vocabCoverageSql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |top AS (SELECT w FROM tok GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 20)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      | CAST(COUNT(*) FILTER (WHERE w IN (SELECT w FROM top)) AS DOUBLE)/COUNT(*) AS vocab_coverage
      |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The end-to-end corpus-curation composition every training-data
    * pipeline runs, built from the graded operators' unordered cores
    * so no mid-pipeline sort sneaks in:
    *
    *   quality gate (repetition signals) → exact dedup (sha256
    *   survivor) → near-dup dedup (re-elect one representative per LSH
    *   cluster AMONG THE SURVIVORS, so a cluster whose original rep
    *   was quality-filtered still keeps one copy) → reproducible hash
    *   sample.
    *
    * Returns the curated corpus slice. Each stage is a semi/anti join
    * against a per-doc key set — broadcast-sized here, shuffle-keyed at
    * 100 TB — and the whole chain is one lazy plan except the
    * clustering fixpoint. */
  def curateCorpus(s: SparkSession, d: String, sampleHex: String = "0123456789abcdef")
      : DataFrame = {
    require(sampleHex.nonEmpty && sampleHex.forall("0123456789abcdef".contains(_)),
      s"sampleHex must be non-empty lowercase hex chars, got '$sampleHex'")
    val docs = Tables.documents(s, d)
    val lowQuality = repetitionCore(s, d)
      .filter(col("dup_word_frac") > 0.95 || col("top_bigram_frac") > 0.5)
      .select(col("doc_id"))
    val exactSurvivors = TextOps.exactDedupCore(s, d).select(col("doc_id"))
    val preDedup = docs
      .join(lowQuality, Seq("doc_id"), "left_anti")
      .join(exactSurvivors, Seq("doc_id"), "left_semi")
    // Near-dup dedup over survivors in ONE pass over preDedup (an
    // earlier two-branch formulation — losers computed on one branch,
    // anti-joined on the other — evaluated the repetition-gate and
    // sha256 subtrees twice, doubling the query's cost): left-join the
    // cluster labels and re-elect the representative per cluster AMONG
    // THE DOCS STILL STANDING, so a cluster whose original rep was
    // quality-filtered still keeps one copy. Unclustered docs window
    // over their own doc_id — singleton partitions, no null-key skew
    // at scale, and no collision is possible (a cluster label is a
    // component member, so a doc with that id would be clustered too).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(coalesce(col("cluster"), col("doc_id")))
    // the labels frame is checkpoint-backed (CheckpointMemo) and a
    // checkpoint scan carries no stats, so without a hint this LEFT
    // join falls to sort-merge — sorting the whole corpus side against
    // a dup-subset-sized build. shuffle_hash pins the bounded-slice
    // hash join at every scale (labels ≤ corpus by construction).
    preDedup
      .join(TextOps.dedupComponentsCore(s, d).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .filter(samplePred(sampleHex))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing — the step that turns a curated corpus into
    * fixed-budget training sequences: greedy first-fit in doc_id order
    * within each language, opening a new pack when the next doc would
    * overflow the token budget (an oversized doc overflows a pack of
    * its own; docs are never split). Implemented on the TYPED Dataset
    * surface: `groupByKey(lang).flatMapSortedGroups(doc_id)` streams
    * each group in order through constant-state packing — the
    * per-partition imperative logic Spark's typed API exists for,
    * with no driver involvement and no window recurrence contortions
    * (greedy fill is a sequential recurrence, NOT floor(cumsum/C) —
    * a doc that would straddle a boundary moves wholly to the next
    * pack). The oracle replays the recurrence as a recursive CTE.
    *
    * Scale posture: parallelism = #groups, so at 100 TB the grouping
    * key is (lang, shard) with shard = a hash of doc_id at whatever
    * granularity keeps groups executor-sized — the packing loop is
    * already O(group) streaming state; testdata keys by lang alone so
    * the graded output is one deterministic packing per language. */
  /** The packing recurrence over any (doc_id, lang, n) slice —
    * shared by q80 (whole corpus) and q84 (curated subset), and
    * property-tested over random corpora (GraftProps). */
  private[graft] def packCore(s: SparkSession, docsWithN: DataFrame): DataFrame = {
    import s.implicits._
    val budget = 512L
    docsWithN.select(col("doc_id"), col("lang"), col("n"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups(col("doc_id")) { (lang, docs) =>
        var pack = 0L
        var fill = 0L
        var first = true
        docs.map { case (id, _, n) =>
          if (!first && fill + n > budget) { pack += 1; fill = n }
          else { fill += n; first = false }
          (id, lang, pack, n)
        }
      }
      .toDF("doc_id", "lang", "pack_id", "n_tokens")
  }

  def sequencePacking(s: SparkSession, d: String): DataFrame =
    packCore(s, Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n")))
      .orderBy(col("doc_id"))

  private val sequencePackingSql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang, n, rn, CAST(0 AS BIGINT) AS pack_id, n AS fill
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.doc_id, t.lang, t.n, t.rn,
      |         CASE WHEN p.fill + t.n > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
      |         CASE WHEN p.fill + t.n > 512 THEN t.n ELSE p.fill + t.n END
      |  FROM t JOIN p ON t.lang = p.lang AND t.rn = p.rn + 1)
      |SELECT doc_id, lang, pack_id, n AS n_tokens FROM p ORDER BY doc_id""".stripMargin

  /** Stratified sampling with per-stratum quotas: the first 20 docs of
    * every (lang, source) stratum in md5-hash order — the "balance the
    * mixture" downsampling a corpus assembly runs, reproducible across
    * engines/reruns because the order key is a content-independent
    * deterministic hash (same family as [[hashSample]]'s membership
    * predicate). Runs through the custom bounded-heap top-k operator
    * ([[graft.plans.TopKPerKey]]): one hash exchange on the stratum
    * key, O(n log k) comparisons, no per-stratum sort — the window
    * formulation the oracle uses would sort every stratum in full. */
  /** q196: systematic PROBABILITY-PROPORTIONAL-TO-SIZE sampling — the
    * weighted complement of q57's uniform hash sample and q83's
    * equal-count strata: per source, k=5 documents are drawn with
    * inclusion probability proportional to n_chars (the classic
    * token-budget-aware subset selection a mixture builder runs per
    * domain). The systematic rule: lay every doc's weight on the
    * source's cumulative axis (ordered by doc_id) and select each doc
    * whose interval crosses a multiple of total/k — computed as
    * floor((cum−w)·k / total) < floor(cum·k / total) in EXACT BIGINT
    * arithmetic (integer `div` both engines): no transcendentals, no
    * float keys, so the selected set is bit-stable cross-engine. A doc
    * heavier than total/k spans several slots and is selected once
    * (standard systematic-PPS behavior); the deterministic start
    * offset is 0 (a production run derives it from a seed hash — the
    * replayability contract is the same either way).
    *
    * Scale shape: ONE source-partitioned window (running sum + total),
    * then a map-only filter; nothing but (id, weight) longs shuffle.
    * At a skewed 100 TB corpus the per-source ordering key would be a
    * hash of doc_id rather than doc_id itself (unbiased systematic
    * order), which changes nothing structural. */
  def ppsSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val cum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("source"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(cum))
      .withColumn("total", sum(col("n_chars")).over(tot))
      .withColumn("slot", expr(s"((cum - n_chars) * $k) div total"))
      .filter(expr(s"((cum - n_chars) * $k) div total < (cum * $k) div total"))
      .select(col("source"), col("doc_id"), col("n_chars"), col("slot"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val ppsSampleSql =
    """WITH c AS (SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(n_chars) OVER (PARTITION BY source) AS total
      |  FROM documents)
      |SELECT source, doc_id, n_chars,
      |       CAST(((cum - n_chars) * 5) // total AS BIGINT) AS slot
      |FROM c
      |WHERE ((cum - n_chars) * 5) // total < (cum * 5) // total
      |ORDER BY source, doc_id""".stripMargin

  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
    graft.plans.TopKPerKey
      .topKPerKey(keyed, Seq(col("lang"), col("source")), Seq(col("h").asc), 20)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  private val stratifiedSampleSql =
    """WITH h AS (SELECT doc_id, lang, source,
      |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |r AS (SELECT doc_id, lang, source,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY h) AS rn FROM h)
      |SELECT doc_id, lang, source FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin

  /** q85: domain mixing — the step that turns "we want 2.5× more books
    * than web" into a concrete doc selection. Each source gets a target
    * token budget (permille weight × corpus tokens; the weight here is
    * a deterministic formula over the source id standing in for a
    * config map), and docs are admitted in md5-hash order until their
    * source's budget is filled — the doc that crosses the line is kept,
    * so every source with a nonzero weight contributes. Oversubscribed
    * sources truncate; undersubscribed sources keep everything.
    *
    * The running token total is a DISTRIBUTED prefix sum, not a
    * per-source window over the corpus: docs are range-bucketed by the
    * first hex char of their hash (bucket order == hash order, so
    * (bucket, h) sorts identically to h), per-bucket token sums roll up
    * into broadcastable cross-bucket offsets (sources × 16 rows), and
    * the in-bucket cumsum window partitions by (source, bucket) — 16×
    * the parallelism of a naive per-source window and no single task
    * ever sees a whole source. At 100 TB widen the bucket prefix to 2-3
    * hex chars; the offset table stays tiny (sources × 4096). Budgets
    * use integer permille arithmetic (`div 1000`) so Spark and the
    * oracle agree exactly — no float × total rounding at the boundary. */
  def sourceMixing(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"),
        md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bucket", substring(col("h"), 1, 1))
    val tot = docs.agg(sum(col("n")).as("t"))
    val offsets = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n")).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(w.partitionBy(col("source")).orderBy(col("bucket"))
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .drop("bn")
    docs
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum", col("off") + sum(col("n")).over(
        w.partitionBy(col("source"), col("bucket")).orderBy(col("h"), col("doc_id"))
          .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") - col("n") <
        expr("((CAST(substring(source, 4) AS INT) % 4 + 1) * 25 * t) div 1000"))
      .select(col("doc_id"), col("source"), col("n").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val sourceMixingSql =
    """WITH n AS (SELECT doc_id, source,
      |    CAST(len(string_split(text,' ')) AS BIGINT) AS n,
      |    md5('mix:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM n),
      |c AS (SELECT doc_id, source, n,
      |    SUM(n) OVER (PARTITION BY source ORDER BY h, doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM n)
      |SELECT c.doc_id, c.source, c.n AS n_tokens
      |FROM c, tot
      |WHERE c.cum - c.n <
      |      ((CAST(substring(c.source, 4) AS INT) % 4 + 1) * 25 * tot.t) // 1000
      |ORDER BY c.doc_id""".stripMargin

  /** q79: the curateCorpus composition, graded end-to-end. The sample
    * keeps half the hash space ('0'-'7') so the sampling stage is
    * actually exercised (the default all-hex sample would be a no-op).
    * The oracle replays every stage in DuckDB: the recursive-CTE
    * clustering (shared with q76 via [[TextOps.componentsSqlCtes]]),
    * the repetition gate, sha256 survivor election, survivor-aware
    * cluster re-election, and the md5 sample predicate. */
  def curateCorpusQuery(s: SparkSession, d: String): DataFrame =
    curateCorpus(s, d, "01234567")

  /** The full curation chain as reusable CTEs ending in
    * `cur(doc_id, lang, source, n_chars)` — q79 selects it, q84 packs
    * it. */
  private val curateSqlCtes =
    s"""${TextOps.componentsSqlCtes},
       |rt AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |rbg AS (SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
       |        unnest([array_to_string(list_slice(t, i, i+1),' ')
       |                for i in generate_series(1, len(t)-1)]) AS bg FROM rt),
       |rc AS (SELECT doc_id, n, nd, bg, COUNT(*) AS c FROM rbg GROUP BY doc_id, n, nd, bg),
       |lowq AS (SELECT doc_id FROM (
       |    SELECT doc_id, CAST(n - nd AS DOUBLE)/n AS dwf,
       |           CAST(MAX(c) AS DOUBLE)/(n-1) AS tbf
       |    FROM rc GROUP BY doc_id, n, nd) WHERE dwf > 0.95 OR tbf > 0.5),
       |exact AS (SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |pre AS (SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
       |        WHERE d.doc_id IN (SELECT doc_id FROM exact)
       |          AND d.doc_id NOT IN (SELECT doc_id FROM lowq)),
       |losers AS (SELECT doc_id FROM (
       |    SELECT p.doc_id, MIN(p.doc_id) OVER (PARTITION BY c.cluster) AS keep
       |    FROM pre p JOIN comp c ON c.doc_id = p.doc_id) WHERE doc_id <> keep),
       |cur AS (SELECT doc_id, lang, source, n_chars FROM pre
       |        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |          AND substring(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 1) IN
       |              ('0','1','2','3','4','5','6','7'))""".stripMargin

  private val curateCorpusSql =
    s"""$curateSqlCtes
       |SELECT doc_id, lang, source, n_chars FROM cur ORDER BY doc_id""".stripMargin

  /** q84: the COMPLETE training-data assembly as one query — quality
    * gate → exact dedup → near-dup cluster dedup → reproducible sample
    * → greedy sequence packing. The packing recurrence runs over the
    * curated slice (join back to documents only for the token count),
    * so pack ids are dense per language over exactly the docs that
    * survived curation. This is the query a user of the engine runs to
    * produce training shards; every stage is individually graded
    * (q58/q30/q76/q57/q80) and the composition is graded here
    * end-to-end. */
  def curateAndPack(s: SparkSession, d: String): DataFrame = {
    val curated = curateCorpus(s, d, "01234567").select(col("doc_id"), col("lang"))
    val withN = curated.join(
      Tables.documents(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")),
      Seq("doc_id"))
    packCore(s, withN).orderBy(col("doc_id"))
  }

  private val curateAndPackSql =
    s"""$curateSqlCtes,
       |pt AS MATERIALIZED (SELECT c.doc_id AS doc_id, c.lang AS lang,
       |        CAST(len(string_split(d.text,' ')) AS BIGINT) AS n,
       |        ROW_NUMBER() OVER (PARTITION BY c.lang ORDER BY c.doc_id) AS rn
       |       FROM cur c JOIN documents d ON d.doc_id = c.doc_id),
       |pp AS (SELECT doc_id, lang, n, rn, CAST(0 AS BIGINT) AS pack_id, n AS fill
       |       FROM pt WHERE rn = 1
       |       UNION ALL
       |       SELECT pt.doc_id, pt.lang, pt.n, pt.rn,
       |              CASE WHEN pp.fill + pt.n > 512 THEN pp.pack_id + 1 ELSE pp.pack_id END,
       |              CASE WHEN pp.fill + pt.n > 512 THEN pt.n ELSE pp.fill + pt.n END
       |       FROM pt JOIN pp ON pt.lang = pp.lang AND pt.rn = pp.rn + 1)
       |SELECT doc_id, lang, pack_id, n AS n_tokens FROM pp ORDER BY doc_id""".stripMargin

  /** q102: size-bounded export shard assignment — the interchange
    * step between curation and a training loader
    * ([[graft.ingest.CorpusExport]] writes these shards as
    * lang=/shard= JSONL and emits the loader-verifiable manifest).
    * The shard id is a distributed byte prefix sum (bucketed like
    * q85's mixing budget: per-(lang,bucket) totals → broadcast
    * offsets → intra-bucket window), so no task ever windows a whole
    * language and the oracle's single-window formulation is
    * reproduced exactly — `div` keeps the boundary integer-exact in
    * both engines. */
  def corpusShards(s: SparkSession, d: String): DataFrame =
    graft.ingest.CorpusExport.assignShards(Tables.documents(s, d), 64 * 1024L)
      .select(col("doc_id"), col("lang"), col("shard"))
      .orderBy(col("doc_id"))

  private val corpusShardsSql =
    """WITH b AS (SELECT doc_id, lang, strlen(text) + 1 AS bytes,
      |    doc_id % 64 AS bucket FROM documents),
      |c AS (SELECT doc_id, lang,
      |    COALESCE(SUM(bytes) OVER (PARTITION BY lang ORDER BY bucket, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      |    FROM b)
      |SELECT doc_id, lang, CAST(s // 65536 AS INT) AS shard
      |FROM c ORDER BY doc_id""".stripMargin

  /** q117: temperature-based language mixing — the exponentially
    * smoothed sampling of the multilingual-pretraining literature
    * (XLM/mBERT style): language l is sampled proportionally to
    * n_l^α with α = 1/2, which UP-weights tail languages relative to
    * their raw share (en is 41% of this corpus but only ~29% of the
    * α-mix) without the hard per-stratum quotas of q83 or the
    * hand-assigned budgets of q85 — the three mixing policies a
    * curation pipeline actually chooses between.
    *
    * Cross-engine exactness: the α-power goes through
    * `floor(sqrt(n_l · 10^6))` — one int→double conversion and one
    * sqrt, both correctly rounded per IEEE-754, so the floor is
    * bit-identical on both engines — and everything after (weight
    * sum, `(target · w_l) div W` quota) is exact integer arithmetic.
    * The picked docs are the quota-first rows of each language in
    * deterministic md5 order, so the sample is reproducible and
    * partitioning-independent.
    *
    * Scale shape: the weight/quota table is one row per language
    * (broadcast); the only data-size shuffle is the per-language
    * window, partitioned on lang — at 100 TB the q85 fix applies
    * verbatim (sub-partition the window by a hash-prefix bucket and
    * roll bucket offsets up through a broadcast table) if a single
    * language ever outgrows a task. */
  def temperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMixCore(Tables.documents(s, d))

  /** The mixing arithmetic over any (doc_id, lang) frame — q117 runs
    * it on the full corpus, q128 on the delta-dedup survivors. */
  private[graft] def temperatureMixCore(input: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val docs = input
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("temp:"), col("doc_id").cast("string"))).as("h"))
    val weights = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("w", floor(sqrt(col("n_l") * lit(1000000L))).cast("long"))
    val tot = weights.agg(sum(col("w")).as("ww"), sum(col("n_l")).as("n_docs"))
    val quotas = weights.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_l"),
        expr("((n_docs div 2) * w) div ww").as("quota"))
    docs
      .withColumn("rn", row_number().over(
        win.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"), col("quota"))
      .orderBy(col("doc_id"))
  }

  private val temperatureMixSql =
    """WITH src AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
      |w AS (SELECT lang, n_l,
      |        CAST(floor(sqrt(n_l * 1000000)) AS BIGINT) AS w FROM src),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS ww,
      |             CAST(sum(n_l) AS BIGINT) AS n_docs FROM w),
      |q AS (SELECT lang, n_l, ((tot.n_docs // 2) * w) // tot.ww AS quota
      |      FROM w, tot),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |        ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |      FROM documents)
      |SELECT r.doc_id, r.lang, r.rn, q.quota
      |FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
      |ORDER BY doc_id""".stripMargin

  /** q157: TOKEN-BUDGET WATERFILLING — the mixture-planning solve that
    * turns "a token budget B and per-source temperature weights" into
    * an actual per-source allocation: maximize temperature-faithful
    * sampling subject to each source's finite supply,
    *
    *   a_i = min(s_i, λ·w_i),  λ chosen so Σ a_i = B
    *
    * (the classic waterfill: poor sources saturate at their supply,
    * rich sources split the remaining budget ∝ weight). q117 samples
    * WITHIN a source once a quota is known; this computes the quotas
    * themselves when supplies can bind — the planning step a 100 TB
    * mixing run does first. Weights are q117's integer temperature
    * (floor(sqrt(n_docs·10⁶)), α = 0.5), B = ΣS div 2, and the whole
    * solve stays in INTEGER arithmetic (saturation tests by
    * cross-multiplication, allocations by integer division — the
    * q117 exactness posture, so both engines land identical longs;
    * at 10¹³-token scale the longs upgrade to DECIMAL, same shapes).
    *
    * The solve: sort sources by supply/weight ascending (integer
    * ratio key, source tiebreak); the valid cut is the unique first
    * unsaturated row i — all j < i saturated (s_j·unsatW ≤ L·w_j) and
    * i itself not (s_i·unsatW > L·w_i), where L = B − Σ_{j<i} s_j and
    * unsatW = Σ_{j≥i} w_j. Prefix sums + lag over the SOURCE-grain
    * frame (20 rows — the unpartitioned window is at report grain,
    * q65's allowlisted shape), one 1-row cut broadcast, allocations
    * map-only. Σ a_i lands in (B − n, B] (floor remainders). */
  def tokenWaterfill(s: SparkSession, d: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val stats = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("supply"))
      .withColumn("w", floor(sqrt(col("n_docs") * lit(1000000L))).cast("long"))
    val tot = stats.agg(sum(col("supply")).as("ts"), sum(col("w")).as("tw"))
    val ordered = stats.crossJoin(broadcast(tot))
      .withColumn("b", expr("ts div 2"))
      .withColumn("ratio", expr("(supply * 1000000) div w"))
      .withColumn("rk", row_number().over(
        win.orderBy(col("ratio"), col("source"))))
      .withColumn("satS", coalesce(sum(col("supply")).over(
        win.orderBy(col("ratio"), col("source"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("satW", coalesce(sum(col("w")).over(
        win.orderBy(col("ratio"), col("source"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("unsatW", col("tw") - col("satW"))
      .withColumn("lagS", lag(col("supply"), 1).over(
        win.orderBy(col("ratio"), col("source"))))
      .withColumn("lagW", lag(col("w"), 1).over(
        win.orderBy(col("ratio"), col("source"))))
      .withColumn("el", col("b") - col("satS"))
    val cut = ordered
      .filter((col("rk") === 1 ||
        col("lagS") * col("unsatW") <= col("el") * col("lagW")) &&
        col("supply") * col("unsatW") > col("el") * col("w"))
      .orderBy(col("rk")).limit(1)
      .select(col("rk").as("cut_rk"), col("el").as("lam_num"),
        col("unsatW").as("lam_den"))
      .localCheckpoint()
    ordered.crossJoin(broadcast(cut))
      .select(col("source"), col("n_docs"), col("supply"), col("w").as("weight"),
        (col("rk") < col("cut_rk")).as("saturated"),
        when(col("rk") < col("cut_rk"), col("supply"))
          .otherwise(expr("(lam_num * w) div lam_den")).as("alloc"))
      .orderBy(col("source"))
  }

  private val tokenWaterfillSql =
    """WITH st AS (SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text,' '))) AS BIGINT) AS supply
      |       FROM documents GROUP BY source),
      |ws AS (SELECT source, n_docs, supply,
      |         CAST(floor(sqrt(n_docs * 1000000)) AS BIGINT) AS w FROM st),
      |tot AS (SELECT CAST(sum(supply) AS BIGINT) AS ts,
      |               CAST(sum(w) AS BIGINT) AS tw FROM ws),
      |o AS (SELECT ws.*, tot.tw, tot.ts // 2 AS b,
      |        (supply * 1000000) // w AS ratio,
      |        ROW_NUMBER() OVER (ORDER BY (supply * 1000000) // w, source) AS rk,
      |        coalesce(SUM(supply) OVER (ORDER BY (supply * 1000000) // w, source
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS satS,
      |        coalesce(SUM(w) OVER (ORDER BY (supply * 1000000) // w, source
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS satW,
      |        LAG(supply) OVER (ORDER BY (supply * 1000000) // w, source) AS lagS,
      |        LAG(w) OVER (ORDER BY (supply * 1000000) // w, source) AS lagW
      |      FROM ws, tot),
      |o2 AS (SELECT o.*, tw - satW AS unsatW, b - satS AS el FROM o),
      |cut AS (SELECT rk AS cut_rk, el AS lam_num, unsatW AS lam_den FROM o2
      |        WHERE (rk = 1 OR lagS * unsatW <= el * lagW)
      |          AND supply * unsatW > el * w
      |        ORDER BY rk LIMIT 1)
      |SELECT o2.source, o2.n_docs, o2.supply, o2.w AS weight,
      |  o2.rk < cut.cut_rk AS saturated,
      |  CAST(CASE WHEN o2.rk < cut.cut_rk THEN o2.supply
      |       ELSE (cut.lam_num * o2.w) // cut.lam_den END AS BIGINT) AS alloc
      |FROM o2, cut ORDER BY o2.source""".stripMargin

  /** q123: sorted-neighborhood near-dup candidate generation
    * (Hernández/Stolfo, SIGMOD'95 — the merge/purge method): sort each
    * language block by a text prefix key, slide a window of 3 over the
    * sorted order, verify every in-window pair by edit distance on the
    * 100-char head. The record-linkage classic that q73's adjacent-ID
    * pairing only gestures at: near-dups with DIFFERENT ids sort
    * adjacent under a content key, so the candidate set is O(n·w)
    * with no hashing at all — the cheap first pass a linkage pipeline
    * runs before anything quadratic.
    *
    * Scale shape: the sort window partitions on the blocking key
    * (lang), so no global sort exists — each block sorts
    * independently, and at 100 TB the block key widens (lang ×
    * prefix bucket, the q85 sub-partition fix) before any single
    * block outgrows a task. The lead() pairs are generated in the
    * sorted exchange the window already paid for; the only per-pair
    * work is one bounded levenshtein on 100-char heads (the q73
    * budget cap). */
  def sortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("sk"), col("doc_id"))
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 40).as("sk"),
        substring(col("text"), 1, 100).as("head"))
    val w = t
      .withColumn("id1", lead(col("doc_id"), 1).over(win))
      .withColumn("h1", lead(col("head"), 1).over(win))
      .withColumn("id2", lead(col("doc_id"), 2).over(win))
      .withColumn("h2", lead(col("head"), 2).over(win))
    val cand = w.filter(col("id1").isNotNull)
      .select(col("doc_id").as("ida"), col("id1").as("idb"),
        col("head").as("ha"), col("h1").as("hb"))
      .unionAll(w.filter(col("id2").isNotNull)
        .select(col("doc_id").as("ida"), col("id2").as("idb"),
          col("head").as("ha"), col("h2").as("hb")))
    cand
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        // identical heads short-circuit to 0 before the O(|a|·|b|) DP:
        // on a duplication-heavy corpus exact copies sort adjacent, so
        // nearly every in-window pair is an equality check, not a
        // levenshtein (measured 100×-proportional pre-shortcut —
        // lev(x, x) = 0, so the output is unchanged)
        when(col("ha") === col("hb"), lit(0))
          .otherwise(levenshtein(col("ha"), col("hb"))).as("edit_dist"))
      .filter(col("edit_dist") <= 30)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val sortedNeighborhoodSql =
    """WITH t AS (SELECT doc_id, lang, substring(text,1,40) AS sk,
      |                substring(text,1,100) AS head FROM documents),
      |w AS (SELECT doc_id, lang, sk, head,
      |        lead(doc_id, 1) OVER win AS id1, lead(head, 1) OVER win AS h1,
      |        lead(doc_id, 2) OVER win AS id2, lead(head, 2) OVER win AS h2
      |      FROM t WINDOW win AS (PARTITION BY lang ORDER BY sk, doc_id)),
      |cand AS (SELECT doc_id AS ida, id1 AS idb, head AS ha, h1 AS hb
      |         FROM w WHERE id1 IS NOT NULL
      |         UNION ALL
      |         SELECT doc_id, id2, head, h2 FROM w WHERE id2 IS NOT NULL),
      |v AS (SELECT least(ida, idb) AS doc_a, greatest(ida, idb) AS doc_b,
      |        CAST(levenshtein(ha, hb) AS INT) AS edit_dist FROM cand)
      |SELECT doc_a, doc_b, edit_dist FROM v WHERE edit_dist <= 30
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q125: packing-efficiency report — the acceptance check on q80's
    * greedy first-fit output: per language, how many 512-token bins
    * the corpus packed into, the fill rate (padding waste is
    * 1 − fill_rate: exactly the fraction of training FLOPs burned on
    * pad tokens), and the extremal bin fills. The report grain is one
    * row per language (broadcast-sized at any corpus scale); the
    * pack-grain aggregate underneath is a two-level groupBy with
    * map-side combine. fill_rate is one exact-int IEEE division —
    * deterministic cross-engine, no rounding step. */
  def packingEfficiency(s: SparkSession, d: String): DataFrame = {
    val packs = packCore(s, Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n")))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tok"))
    packs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_packs"), sum(col("docs")).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        min(col("tok")).as("min_pack_tokens"),
        max(col("tok")).as("max_pack_tokens"))
      .withColumn("fill_rate",
        col("n_tokens").cast("double") / (col("n_packs") * lit(512L)))
      .select(col("lang"), col("n_packs"), col("n_docs"), col("n_tokens"),
        col("min_pack_tokens"), col("max_pack_tokens"), col("fill_rate"))
      .orderBy(col("lang"))
  }

  // the staging CTE MUST be MATERIALIZED: DuckDB inlines plain CTEs, so
  // the recursive CTE below would re-evaluate the split+window chain
  // once per recursion step (the q84/q128 `pt` lesson — 70+ min → 4 s)
  private val packingEfficiencySql =
    """WITH RECURSIVE t AS MATERIALIZED (
      |  SELECT doc_id, lang, CAST(len(string_split(text,' ')) AS BIGINT) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, lang, n, rn, CAST(0 AS BIGINT) AS pack_id, n AS fill
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.doc_id, t.lang, t.n, t.rn,
      |         CASE WHEN p.fill + t.n > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
      |         CASE WHEN p.fill + t.n > 512 THEN t.n ELSE p.fill + t.n END
      |  FROM t JOIN p ON t.lang = p.lang AND t.rn = p.rn + 1),
      |pk AS (SELECT lang, pack_id, count(*) AS docs, CAST(sum(n) AS BIGINT) AS tok
      |       FROM p GROUP BY lang, pack_id)
      |SELECT lang, count(*) AS n_packs, CAST(sum(docs) AS BIGINT) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens,
      |  min(tok) AS min_pack_tokens, max(tok) AS max_pack_tokens,
      |  CAST(CAST(sum(tok) AS BIGINT) AS DOUBLE) / (count(*) * 512) AS fill_rate
      |FROM pk GROUP BY lang ORDER BY lang""".stripMargin

  /** q128: incremental corpus refresh — the composition the new
    * operator family exists for, end-to-end in ONE declarative plan:
    * the NEW batch (q124's hash half-space) is deduplicated AGAINST
    * the accumulated corpus (LSH-band + exact-chunk channels), the
    * survivors are temperature-mixed (q117's n^(1/2) language
    * smoothing, quotas recomputed over the survivor counts), and the
    * mixed selection is greedy-packed into 512-token bins (q80).
    * This is the recurring production job — "a crawl snapshot
    * landed" — whereas q79/q84 are the from-scratch build. Every
    * stage reuses the graded operator's exact core (deltaDedup,
    * temperatureMixCore, packCore), so the composition inherits
    * their oracles' semantics; the composed DuckDB oracle chains the
    * same CTEs. */
  def incrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val kept = graft.ops.TextOps.deltaDedup(s, d)
      .filter(col("kept")).select(col("doc_id"))
    val survivors = Tables.documents(s, d)
      .join(kept.hint("shuffle_hash"), Seq("doc_id"))
    val mixed = temperatureMixCore(survivors.select(col("doc_id"), col("lang")))
      .select(col("doc_id"))
    packCore(s, Tables.documents(s, d)
      .join(mixed.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n")))
      .orderBy(col("doc_id"))
  }

  private val incrementalRefreshSql =
    s"""${graft.ops.TextOps.deltaSqlCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |nk AS (SELECT d.doc_id, d.lang, d.text FROM documents d
       |       JOIN tag USING (doc_id)
       |       WHERE NOT tag.is_old
       |         AND d.doc_id NOT IN (SELECT doc_id FROM nearn)
       |         AND d.doc_id NOT IN (SELECT doc_id FROM chn)),
       |src AS (SELECT lang, count(*) AS n_l FROM nk GROUP BY lang),
       |wq AS (SELECT lang, n_l,
       |         CAST(floor(sqrt(n_l * 1000000)) AS BIGINT) AS w FROM src),
       |tq AS (SELECT CAST(sum(w) AS BIGINT) AS ww,
       |              CAST(sum(n_l) AS BIGINT) AS n_docs FROM wq),
       |qq AS (SELECT lang, ((tq.n_docs // 2) * w) // tq.ww AS quota
       |       FROM wq, tq),
       |rr AS (SELECT doc_id, lang, text, row_number() OVER (PARTITION BY lang
       |         ORDER BY md5('temp:'||CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |       FROM nk),
       |sel AS (SELECT rr.doc_id, rr.lang, rr.text
       |        FROM rr JOIN qq USING (lang) WHERE rr.rn <= qq.quota),
       |pt AS MATERIALIZED (SELECT doc_id, lang,
       |         CAST(len(string_split(text,' ')) AS BIGINT) AS n,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
       |       FROM sel),
       |pp AS (
       |  SELECT doc_id, lang, n, rn, CAST(0 AS BIGINT) AS pack_id, n AS fill
       |  FROM pt WHERE rn = 1
       |  UNION ALL
       |  SELECT pt.doc_id, pt.lang, pt.n, pt.rn,
       |         CASE WHEN pp.fill + pt.n > 512 THEN pp.pack_id + 1 ELSE pp.pack_id END,
       |         CASE WHEN pp.fill + pt.n > 512 THEN pt.n ELSE pp.fill + pt.n END
       |  FROM pt JOIN pp ON pt.lang = pp.lang AND pt.rn = pp.rn + 1)
       |SELECT doc_id, lang, pack_id, n AS n_tokens FROM pp
       |ORDER BY doc_id""".stripMargin

  // ---- DSIR importance weights (q140) ------------------------------

  /** q140: DATA SELECTION VIA IMPORTANCE RESAMPLING weights (Xie et
    * al., NeurIPS'23 DSIR): score every raw doc by how target-like its
    * hashed n-gram feature distribution is. Features are token bigrams
    * hashed into 16 buckets (first hex char of md5 — the same
    * engine-portable bucketing as q57's sampler); the target
    * distribution is the `src0` slice, the raw distribution is
    * everything else; both get Laplace +1 smoothing. A doc's weight is
    * Σ over its bigram OCCURRENCES (in document order) of
    * log p_target(bucket) − log p_raw(bucket) — the log-likelihood
    * ratio under two bag-of-hashed-ngrams models. Downstream, sampling
    * ∝ exp(weight) tilts the corpus toward the target domain; the
    * graded artifact is the per-doc weight table itself (ROUND(6)
    * absorbs the cross-engine ulp of ln and the summation order).
    *
    * Scale shape: bucket statistics are ONE map-side-combined
    * aggregate over 16 keys (vocabulary-bounded — the hashing trick's
    * whole point: the model size is fixed regardless of corpus size);
    * the 16-entry log-ratio map rides a 1-row broadcast; scoring is a
    * map-only doc-local fold. At 100 TB: one linear pass + one
    * broadcast — nothing grows with the corpus. */
  /** The doc → hashed-feature frame both the batch scorer and the
    * model fit read: one codegen'd digest pass (BigramBuckets) ≡ the
    * declarative transform(substring(md5(concat_ws(...)), 1, 1)) —
    * proven in NativeExpressionsSpec; the interpreted HOF was ~2.3 s
    * of the 2.7 s query at sf0.1, paid twice (model fit + scoring). */
  private def dsirFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .withColumn("bks", graft.functions.GraftFunctions
        .bigramBuckets(col("tk")))
      .select(col("doc_id"), col("source"), col("bks"))

  /** The 16-bucket model collapsed to a 1-row (map) frame: the
    * broadcast "model" every scorer task holds, DSIR's hashed-LM
    * analog. Target = `targetSource` docs, raw = everything else,
    * Laplace +1 both sides. */
  private[graft] def dsirModel(docs: DataFrame, targetSource: String): DataFrame = {
    val counts = dsirFeatures(docs)
      .select(col("source"), explode(col("bks")).as("b"))
      .groupBy(col("b")).agg(
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("tc"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("rc"))
    // Left-join the observed counts onto the literal 16-bucket frame so
    // EVERY hex bucket carries its Laplace-smoothed log-ratio: a doc
    // whose bigram hashes into a bucket the fit corpus never saw (a
    // model fit on one corpus scoring another) must score the smoothed default ln((0+1)/(tt+16)) − ln((0+1)/(rt+16)),
    // not NULL out of element_at. The DuckDB oracle's `h` CTE is this
    // same frame.
    val frame = docs.sparkSession.range(16)
      .select(expr("substring('0123456789abcdef', cast(id AS int) + 1, 1)").as("b"))
    frame.join(counts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("b"), col("tc"), col("rc")))).as("arr"),
        sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
      .select(map_from_entries(expr(
        "transform(arr, x -> struct(x.b AS b, " +
          "ln((x.tc + 1.0) / (tt + 16.0)) - ln((x.rc + 1.0) / (rt + 16.0)) AS lr))"))
        .as("m"))
  }

  /** The map-only scoring fold over a doc's bucket array against the
    * broadcast model map column `m` (fixed document order — exactly
    * the DuckDB list_reduce). */
  private[graft] def dsirWeightExpr: org.apache.spark.sql.Column =
    round(expr(
      "aggregate(bks, CAST(0.0 AS DOUBLE), (acc, ch) -> acc + element_at(m, ch))"),
      6)

  private[ops] def dsirCore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    dsirFeatures(docs).crossJoin(broadcast(dsirModel(docs, "src0")))
      .select(col("doc_id"), col("source"),
        size(col("bks")).cast("long").as("n_bigrams"),
        dsirWeightExpr.as("weight"))
  }

  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirCore(s, d).orderBy(col("doc_id"))

  /** The shared q140 CTE chain (weights per doc), composed verbatim by
    * the q145 selection oracle — a named constant, not string surgery
    * (the survivorPolicySql lesson). */
  private val dsirSqlCtes =
    """WITH tok AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
      |bg AS (SELECT doc_id, source,
      |         [substr(md5(array_to_string(list_slice(tk, i, i+1),' ')),1,1)
      |          for i in generate_series(1, len(tk)-1)] AS bks
      |       FROM tok WHERE len(tk) >= 2),
      |occ AS (SELECT doc_id, source, unnest(bks) AS b FROM bg),
      |tc AS (SELECT b, count(*) AS c FROM occ WHERE source = 'src0' GROUP BY b),
      |rc AS (SELECT b, count(*) AS c FROM occ WHERE source <> 'src0' GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM occ WHERE source='src0') AS tt,
      |               (SELECT count(*) FROM occ WHERE source<>'src0') AS rt),
      |lr AS (SELECT h.b,
      |         ln((coalesce(tc.c,0) + 1.0)/(tot.tt + 16.0))
      |       - ln((coalesce(rc.c,0) + 1.0)/(tot.rt + 16.0)) AS lr
      |       FROM (SELECT unnest([substr('0123456789abcdef', i, 1)
      |                            for i in generate_series(1,16)]) AS b) h
      |       LEFT JOIN tc ON tc.b = h.b LEFT JOIN rc ON rc.b = h.b, tot),
      |lm AS (SELECT map(list(b ORDER BY b), list(lr ORDER BY b)) AS m FROM lr),
      |w AS (SELECT bg.doc_id, bg.source, CAST(len(bg.bks) AS BIGINT) AS n_bigrams,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [lm.m[b][1] for b in bg.bks]),
      |        (acc, x) -> acc + x), 6) AS weight
      |FROM bg, lm)""".stripMargin

  private val dsirWeightsSql =
    s"""$dsirSqlCtes
       |SELECT doc_id, source, n_bigrams, weight FROM w ORDER BY doc_id""".stripMargin

  // ---- DSIR selection (q145) ---------------------------------------

  /** q145: the SELECTION the q140 weights exist for — per-source top-5
    * docs by importance weight, i.e. deterministic-rank importance
    * resampling at a fixed per-domain quota (DSIR's sampling ∝
    * exp(weight) replaced by rank order so membership is reproducible
    * across engines and reruns, the q57/q83 determinism posture).
    * Ranking is (weight DESC, doc_id) over the ROUNDED weights both
    * engines share, so the cut can't flip on ulp noise. Output: the
    * selected docs with their rank — the feed a target-domain
    * fine-tune mix consumes.
    *
    * Scale shape: q140's plan + one source-partitioned top-k window
    * over doc-grain rows (the quota-per-stratum shape q83 demonstrates
    * with TopKPerKey; kept a plain rank window here so the composed
    * oracle mirrors it line for line). */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("weight").desc, col("doc_id"))
    dsirCore(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("source"), col("weight"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  private val dsirSelectSql =
    s"""$dsirSqlCtes
       |SELECT doc_id, source, weight, rk FROM (
       |  SELECT doc_id, source, weight,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY source
       |              ORDER BY weight DESC, doc_id) AS BIGINT) AS rk
       |  FROM w) WHERE rk <= 5
       |ORDER BY source, rk""".stripMargin

  // ---- degenerate-run gate (q150) ----------------------------------

  /** q150: DEGENERATE-REPETITION run gate — the loop-output detector
    * (model-generated text that collapses into "the the the …"): per
    * doc, the longest run of identical consecutive tokens and the
    * fraction of adjacent-equal token positions, gated at max_run ≥ 4.
    * Complements [[repetitionStats]]' bag-of-words signals (those
    * can't see adjacency: "a b a b" has dup_word_frac 0.5 but no run)
    * — this is the Gopher-family filter that specifically kills
    * sampling loops.
    *
    * Both statistics are ONE doc-local left-to-right fold with a
    * (prev, run, best, adj) struct accumulator — Spark `aggregate()`
    * ≡ DuckDB `list_reduce()` verbatim, exact integers throughout, so
    * the query is map-only (plus the output sort) at any corpus
    * size. */
  def degenerateRuns(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .withColumn("st", expr(
        """aggregate(slice(tk, 2, size(tk) - 1),
          |  struct(element_at(tk, 1) AS prev, 1 AS run, 1 AS best, 0 AS adj),
          |  (a, x) -> CASE WHEN x = a.prev
          |    THEN struct(x AS prev, a.run + 1 AS run,
          |                greatest(a.best, a.run + 1) AS best, a.adj + 1 AS adj)
          |    ELSE struct(x AS prev, 1 AS run, a.best AS best, a.adj AS adj) END)""".stripMargin))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        col("st.best").cast("long").as("max_run"),
        round(col("st.adj").cast("double") / (size(col("tk")) - 1), 6).as("adj_rep_frac"),
        (col("st.best") >= 4).as("degenerate"))
      .orderBy(col("doc_id"))

  /** The oracle states the SAME integers via positions + island
    * windows rather than a list_reduce struct fold: DuckDB 1.0's
    * list_reduce produced row-dependent results on long lists in the
    * full-table run (state bleeding across vectorized rows — the
    * filtered single-row evaluation of the identical fold disagreed
    * with the full-scan one), so the fold formulation is not a usable
    * oracle. Round-10 repro attempt: the same struct fold now agrees
    * with this window formulation on the full sf0.1 corpus, and
    * synthetic sweeps (10k rows × 2500-element lists; VARCHAR, DOUBLE
    * and struct accumulators) all stay consistent — the trigger is not
    * accumulator type or list length alone and remains unpinned, so
    * this window rewrite stays. q138's scalar fold was separately
    * re-adjudicated full-table-vs-per-row-pinned on the real corpus
    * (0 mismatches; note at TextOps.bpeRoundKeyedSql).
    * Adjacent-equal positions grouped by the classic
    * (i − row_number) run id give adj = Σ run lengths and
    * max_run = longest run + 1 — exact integers, engine-stable. */
  private val degenerateRunsSql =
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents
      |            WHERE len(string_split(text,' ')) >= 2),
      |eq AS (SELECT doc_id, i
      |       FROM tk, LATERAL unnest(generate_series(2, len(tk))) AS u(i)
      |       WHERE tk[i] = tk[i-1]),
      |isl AS (SELECT doc_id, i,
      |        i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM eq),
      |runs AS (SELECT doc_id, count(*) AS l FROM isl GROUP BY doc_id, grp),
      |agg AS (SELECT doc_id, max(l) + 1 AS max_run, sum(l) AS adj
      |        FROM runs GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(a.max_run, 1) AS BIGINT) AS max_run,
      |  round(CAST(coalesce(a.adj, 0) AS DOUBLE) / (len(t.tk) - 1), 6) AS adj_rep_frac,
      |  coalesce(a.max_run, 1) >= 4 AS degenerate
      |FROM tk t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** q210: STRATIFIED train/val/test split with EXACT integer
    * allocation — the split every training pipeline actually needs:
    * per stratum (source × lang), 80/10/10 allocated by CUMULATIVE
    * HALF-UP QUOTA BOUNDARIES (b₁ = ⌊(n·80+50)/100⌋,
    * b₂ = ⌊(n·90+50)/100⌋; train = ranks ≤ b₁, val = (b₁, b₂],
    * test = rest) — nested boundaries sum to n BY CONSTRUCTION, each
    * split sits within 1 of its real quota, and the whole allocation
    * is integer arithmetic, so both engines agree bit-for-bit with no
    * rounding step. Membership is pinned, not just counts: rank =
    * (md5(doc_id), doc_id) within the stratum — the q202 deterministic
    * -random posture — and the graded id_sum breaks the hash if ONE
    * document lands in the wrong split. Tiny strata exercise the edge
    * cases (n=1 → 1/0/0; n=2 → 2/0/0; n=3 → 2/0/1).
    *
    * Scale shape: one shuffle on the stratum key, one rank window per
    * stratum (skew-free: strata are source×lang cells), one ≤3·|strata|
    * aggregate. The q199 temporal embargo is the TIME-aware split;
    * this is its i.i.d. counterpart. */
  def stratifiedSplit(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("lang"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("lang"))))
      .withColumn("split",
        when(col("rk") <= expr("(n * 80 + 50) div 100"), "train")
          .when(col("rk") <= expr("(n * 90 + 50) div 100"), "val")
          .otherwise("test"))
      .groupBy(col("source"), col("lang"), col("split"))
      // DECIMAL through the membership checksum (ADVICE_r15): Spark's
      // BIGINT sum wraps SILENTLY on overflow while the DuckDB twin
      // sums into HUGEINT and raises on the BIGINT cast — the q200
      // divergence class. Per-stratum Σ doc_id approaches 2⁶³ at the
      // 10⁹-row/10¹⁰-id grain; the decimal sum stays exact there and
      // the BIGINT landing holds until the sum itself passes 2⁶³
      // (where DuckDB raising ≻ both engines wrapping differently).
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id").cast("decimal(20,0)")).cast("long").as("id_sum"))
      .orderBy(col("source"), col("lang"), col("split"))
  }

  private val stratifiedSplitSql =
    """WITH r AS (SELECT source, lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY source, lang) AS n
      |  FROM documents),
      |sp AS (SELECT source, lang, doc_id,
      |    CASE WHEN rk <= (n * 80 + 50) // 100 THEN 'train'
      |         WHEN rk <= (n * 90 + 50) // 100 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM r)
      |SELECT source, lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM sp GROUP BY source, lang, split
      |ORDER BY source, lang, split""".stripMargin

  /** q212: TEMPERATURE-SCALED source mixture — the sampling-weight
    * table the GPT-3/LLaMA lineage publishes next to every corpus:
    * raise each source's token share to 1/T and renormalize, so small
    * high-quality sources are upsampled (the famous >1 "epochs" column)
    * without letting any one source dominate. T = 2 here — i.e.
    * w = √share — because sqrt is CORRECTLY ROUNDED by IEEE-754 in
    * both engines, unlike pow(), which q209 banned from the hash path.
    * Determinism chain: token counts are exact integers; share is ONE
    * IEEE division; the weight is quantized to integer MICRO-WEIGHTS
    * (round(√share·10⁶)) so the normalizing sum is an EXACT BIGINT —
    * no float accumulation anywhere; the final probability and the
    * 1M-token allocation are one division / one integer div each.
    * repeat_factor = alloc/tok is the implied epoch count per source.
    *
    * Complements q85 (fixed-quota mixing), q157 (waterfill caps) and
    * q169 (DoReMi reweighting) as the simple public default between
    * "natural sampling" and "uniform". Scale shape: one doc scan →
    * ≤|sources| aggregate → 1-row broadcast; everything after is
    * map-only on a 20-row frame. */
  def temperatureMixture(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("tok"))
    val tot = tok.agg(sum(col("tok")).as("total"))
    val w = tok.crossJoin(broadcast(tot))
      .withColumn("share", col("tok").cast("double") / col("total"))
      .withColumn("w_int",
        round(sqrt(col("share")) * 1000000).cast("long"))
    val sumw = w.agg(sum(col("w_int")).as("sum_w"))
    w.crossJoin(broadcast(sumw))
      .select(col("source"), col("tok"),
        round(col("share"), 6).as("share"),
        round(col("w_int").cast("double") / col("sum_w"), 6).as("p"),
        expr("(1000000 * w_int) div sum_w").as("alloc_tokens"))
      .withColumn("repeat_factor",
        round(col("alloc_tokens").cast("double") / col("tok"), 4))
      .orderBy(col("source"))
  }

  private val temperatureMixtureSql =
    """WITH tok AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
      |  FROM documents GROUP BY source),
      |tot AS (SELECT SUM(tok) AS total FROM tok),
      |w AS (SELECT source, tok,
      |    CAST(tok AS DOUBLE) / total AS share,
      |    CAST(ROUND(SQRT(CAST(tok AS DOUBLE) / total) * 1000000) AS BIGINT) AS w_int
      |  FROM tok, tot),
      |sw AS (SELECT SUM(w_int) AS sum_w FROM w)
      |SELECT source, tok, ROUND(share, 6) AS share,
      |       ROUND(CAST(w_int AS DOUBLE) / sum_w, 6) AS p,
      |       CAST((1000000 * w_int) // sum_w AS BIGINT) AS alloc_tokens,
      |       ROUND(CAST((1000000 * w_int) // sum_w AS DOUBLE) / tok, 4)
      |         AS repeat_factor
      |FROM w, sw ORDER BY source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q212_temperature_mixture", temperatureMixture,
      Some(temperatureMixtureSql),
      "temperature-scaled source mixture (T=2): sqrt-share micro-weights, exact integer normalizer"),
    QueryDef("q210_stratified_split", stratifiedSplit, Some(stratifiedSplitSql),
      "stratified 80/10/10 split: exact cumulative-quota integer allocation, md5-rank membership"),
    QueryDef("q140_dsir_weights", dsirWeights, Some(dsirWeightsSql),
      "DSIR (NeurIPS'23) importance weights: hashed-bigram log-likelihood ratio vs target slice"),
    QueryDef("q145_dsir_select", dsirSelect, Some(dsirSelectSql),
      "importance-resampled selection: per-source top-5 by DSIR weight, deterministic rank order"),
    QueryDef("q150_degenerate_runs", degenerateRuns, Some(degenerateRunsSql),
      "degenerate-repetition run gate: longest identical-token run + adjacent-equal fraction, map-only fold"),
    QueryDef("q128_incremental_refresh", incrementalRefresh, Some(incrementalRefreshSql),
      "incremental refresh composition: delta dedup -> temperature mix -> pack, one plan"),
    QueryDef("q125_packing_efficiency", packingEfficiency, Some(packingEfficiencySql),
      "packing acceptance report: bins, fill rate, padding waste per language"),
    QueryDef("q123_sorted_neighborhood", sortedNeighborhood, Some(sortedNeighborhoodSql),
      "sorted-neighborhood (SIGMOD'95 merge/purge) near-dup candidates, edit-distance verified"),
    QueryDef("q157_token_waterfill", tokenWaterfill, Some(tokenWaterfillSql),
      "B97 token-budget waterfilling: supply-capped temperature quotas in exact integers"),
    QueryDef("q117_temperature_mix", temperatureMix, Some(temperatureMixSql),
      "temperature-based (n^alpha, alpha=1/2) language mixing in deterministic hash order"),
    QueryDef("q102_corpus_shards", corpusShards, Some(corpusShardsSql),
      "size-bounded export shard assignment via distributed byte prefix sum"),
    QueryDef("q79_curate_corpus", curateCorpusQuery, Some(curateCorpusSql),
      "end-to-end corpus curation: quality gate → exact dedup → cluster dedup → sample"),
    QueryDef("q80_sequence_packing", sequencePacking, Some(sequencePackingSql),
      "greedy first-fit sequence packing into fixed token budgets (typed flatMapSortedGroups)"),
    QueryDef("q83_stratified_sample", stratifiedSample, Some(stratifiedSampleSql),
      "per-stratum quota sampling in deterministic hash order (TopKPerKey)"),
    QueryDef("q84_curate_and_pack", curateAndPack, Some(curateAndPackSql),
      "complete training-data assembly: curate then pack into token budgets"),
    QueryDef("q85_source_mixing", sourceMixing, Some(sourceMixingSql),
      "domain mixing: per-source token budgets filled in deterministic hash order"),
    QueryDef("q57_hash_sample", hashSample, Some(hashSampleSql), "deterministic seeded sampling"),
    QueryDef("q196_pps_sample", ppsSample, Some(ppsSampleSql),
      "systematic PPS sampling: k=5 per source, weight = n_chars, exact-integer slot rule"),
    QueryDef("q74_vocab_coverage", vocabCoverage, Some(vocabCoverageSql), "tokenizer-prep vocabulary coverage"),
    QueryDef("q73_edit_distance", editDistanceAdjacent, Some(editDistanceAdjacentSql), "fuzzy near-dup verify (levenshtein)"),
    QueryDef("q58_repetition_filter", repetitionStats, Some(repetitionStatsSql), "Gopher-style repetition quality signals"),
    QueryDef("q59_pii_scrub", piiScrub, Some(piiScrubSql), "sensitive-term masking"))
}
