package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions._

/** Text / LLM-data-pipeline operator surface — SURVEY.md §2.B25–B28,
  * B32–B35 plus the mandated language-ID, quality-scoring,
  * fingerprinting and simhash extensions.
  *
  * All dedup primitives are pure relational pipelines (hash → groupBy /
  * window), so they scale exactly like any shuffle: the sha256/minhash
  * band key is the shuffle key, skew is bounded by band cardinality, and
  * every stage is partial-aggregatable. No driver-side loops anywhere.
  *
  * MinHash here is the seedless-portable variant: component i of the
  * signature is MIN over shingles of (md5 hex rotated left by 2i chars)
  * — one md5 per shingle total, and a valid Broder min-wise family,
  * while staying expressible in ANSI-ish SQL for the DuckDB oracle
  * (MLlib's MinHashLSH is seed-dependent and non-oracle-able; see
  * VectorOps for the MLlib LSH usage on embeddings).
  */
object TextOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Word 3-shingles as a per-doc array column. Shingling, distinct
    * counting, and minhashing are all doc-local, so they stay per-row
    * (narrow, zero shuffle) instead of explode+groupBy — the
    * difference between a map-only stage and a 50×-larger shuffle at
    * any scale.
    *
    * Two plan-shape rules learned from explain()+measurement (10×!):
    *  - reference an expensive higher-order-function column at most
    *    ONCE per downstream projection, or CollapseProject inlines a
    *    copy of the whole subtree per reference;
    *  - the testdata file is a single row group → a single scan task;
    *    fan rows across cores BEFORE the md5/shingle compute (the
    *    shuffle moves ~KB of text; the compute is the cost). On a
    *    many-file 100 TB table the scan is already parallel. */
  private def shingleArrays(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", toks(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", shingles(col("toks"), 3))

  private val shinglesSqlCte =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i+2), ' ')
      |                              for i in generate_series(1, len(toks)-2)]) AS s
      |       FROM tok)""".stripMargin

  /** B25 exact dedup: first doc_id per sha256(text) survives.
    * At 100 TB this is one shuffle on the 32-byte hash — the canonical
    * exact-dedup plan; MediaWiki does the same per-revision via sha1
    * (SURVEY.md §0.2). */
  private[ops] def exactDedupCore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("content_hash"))
  }

  def exactDedup(s: SparkSession, d: String): DataFrame =
    exactDedupCore(s, d).orderBy(col("doc_id"))

  private val exactDedupSql =
    """SELECT doc_id, content_hash FROM (
      | SELECT doc_id, sha256(text) AS content_hash,
      |        ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      | FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** B25 dedup stats (corpus-level). */
  def dedupStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_unique"),
        (count(lit(1)) - countDistinct(sha2(col("text"), 256))).as("n_dupes"))

  private val dedupStatsSql =
    """SELECT COUNT(*) AS n_docs,
      | COUNT(DISTINCT sha256(text)) AS n_unique,
      | COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dupes
      |FROM documents""".stripMargin

  /** q86: sub-document exact dedup — the C4-style "remove repeated
    * paragraphs corpus-wide" pass, with 32-token chunks standing in
    * for paragraphs (this corpus has no line structure; on real data
    * the splitter is `split(text, '\n')` and the rest is identical).
    * Every chunk's first occurrence in (doc_id, position) order
    * survives; later occurrences — whether in the same doc or another
    * one — are marked duplicate, and each doc reports how much of its
    * token mass a rewrite would drop.
    *
    * Scale posture: the ONLY corpus-wide exchange ships
    * (md5(chunk), doc_id, pos, n_tok) — the chunk text itself never
    * shuffles (md5's 128 bits make collisions vanishingly unlikely at
    * 10^12 chunks, where a 64-bit key would already collide). The
    * first-occurrence window partitions on the hash, so groups are
    * occurrence lists (tiny, skew-free); the per-doc rollup is a
    * second shuffle back on doc_id. Both keys are high-cardinality and
    * uniform — the same plan at 1000 executors. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("doc_id"), col("pos"))
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), size(col("t")).as("nt"), posexplode(expr(
        "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
          "i -> array_join(slice(t, i*32+1, 32), ' '))")))
      .select(col("doc_id"), col("pos"),
        md5(col("col")).as("k"),
        least(lit(32L), col("nt") - col("pos") * 32L).as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        (sum(when(col("rn") > 1, col("n_tok")).otherwise(0L)).cast("double") /
          sum(col("n_tok"))).as("dup_token_frac"))
      .orderBy(col("doc_id"))
  }

  private val chunkDedupSql =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |ch AS (SELECT doc_id, i,
      |    md5(array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT), CAST(i*32+32 AS BIGINT)), ' ')) AS k,
      |    least(32, len(t) - i*32) AS n_tok
      |  FROM t, (SELECT unnest(generate_series(0,
      |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM t))) AS i) g
      |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
      |r AS (SELECT doc_id, n_tok,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, i) AS rn FROM ch)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      |  CAST(SUM(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS DOUBLE) / SUM(n_tok)
      |    AS dup_token_frac
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q195: cross-document BOILERPLATE strip — the CCNet/RefinedWeb
    * line-dedup pass that removes site chrome (headers, footers,
    * cookie banners) BEFORE document-level dedup ever runs: a line
    * appearing in ≥3 distinct documents of the same source is
    * boilerplate, and every instance of it (including the first — the
    * difference from q86's first-occurrence-wins duplicate chunks) is
    * dropped. The corpus has no newlines, so the line structure is
    * the query's own injected fixture (the q166/q189 posture): each
    * doc becomes [per-source header line] + 12-token body lines +
    * [per-source footer line], and the op must remove EXACTLY the
    * injected chrome for every source with ≥3 docs while body lines
    * (unique across docs) all survive — any df-threshold or keying
    * deviation breaks the oracle hash.
    *
    * Scale shape: explode to (source, line-md5) — a skew-free
    * high-cardinality key; ONE shuffle feeds the per-key distinct-doc
    * count, a ≤|sources|-group rollup follows, and the per-source doc
    * counts broadcast-join in. No text ever shuffles — only 16-byte
    * hashes (the q181/q86 rule). */
  def boilerplateStrip(s: SparkSession, d: String): DataFrame = {
    // Null/empty docs are excluded BEFORE the fixture explode and the
    // sequence bound is clamped at 0: Spark's sequence(0,-1) yields a
    // DESCENDING [0,-1] (phantom lines) where DuckDB's generate_series
    // is empty — unreachable while split() returns ≥1 token, but a
    // null text doc must not be the thing that proves that.
    val lines = Tables.documents(s, d)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("source"), explode(expr(
        "concat(" +
          "array(concat('about ', source, ' terms ', source, ' contact')), " +
          "transform(sequence(0, greatest(0, CAST(ceil(size(t)/12.0) AS INT) - 1)), " +
          "  i -> array_join(slice(t, i*12+1, 12), ' ')), " +
          "array(concat('copyright ', source, ' all rights')))")).as("line"))
      .select(col("doc_id"), col("source"), md5(col("line")).as("k"))
    val perKey = lines.groupBy(col("source"), col("k"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("ni"))
    val srcStats = perKey.groupBy(col("source"))
      .agg(sum(col("ni")).as("lines_total"),
        sum(when(col("nd") >= 3, col("ni")).otherwise(0L)).as("lines_removed"),
        sum(when(col("nd") >= 3, 1L).otherwise(0L)).as("boiler_lines"))
    val docs = Tables.documents(s, d).groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    srcStats.join(broadcast(docs), Seq("source"))
      .select(col("source"), col("n_docs"), col("lines_total"),
        col("lines_removed"), col("boiler_lines"),
        round(col("lines_removed").cast("double") /
          col("lines_total").cast("double"), 6).as("removed_frac"))
      .orderBy(col("source"))
  }

  private val boilerplateStripSql =
    """WITH lt AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents WHERE text IS NOT NULL AND text <> ''),
      |ln AS (SELECT doc_id, source,
      |    md5(unnest(list_concat(list_concat(
      |      ['about ' || source || ' terms ' || source || ' contact'],
      |      list_transform(generate_series(0, greatest(0, CAST(ceil(len(t)/12.0) AS BIGINT) - 1)),
      |        i -> array_to_string(list_slice(t, i*12+1, i*12+12), ' '))),
      |      ['copyright ' || source || ' all rights']))) AS k
      |  FROM lt),
      |pk AS (SELECT source, k, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS ni
      |  FROM ln GROUP BY source, k),
      |st AS (SELECT source,
      |    SUM(ni) AS lines_total,
      |    SUM(CASE WHEN nd >= 3 THEN ni ELSE 0 END) AS lines_removed,
      |    SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS boiler_lines
      |  FROM pk GROUP BY source),
      |dc AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM documents GROUP BY source)
      |SELECT st.source,
      |       CAST(dc.n_docs AS BIGINT) AS n_docs,
      |       CAST(lines_total AS BIGINT) AS lines_total,
      |       CAST(lines_removed AS BIGINT) AS lines_removed,
      |       CAST(boiler_lines AS BIGINT) AS boiler_lines,
      |       ROUND(CAST(lines_removed AS DOUBLE) / CAST(lines_total AS DOUBLE), 6)
      |         AS removed_frac
      |FROM st JOIN dc ON st.source = dc.source
      |ORDER BY st.source""".stripMargin

  /** q203: NORMALIZATION-AWARE dedup — the preprocessing step ahead
    * of q30's exact hash that every web-scale pipeline runs: byte
    * equality misses re-encodings that differ only in case and
    * whitespace, so the dedup key is md5 of the NORMALIZED text
    * (lower + whitespace collapse + trim). The corpus is already
    * clean, so the query injects the variants it must catch (the
    * q166/q189/q195 posture): every doc_id % 9 = 4 gains a shouted
    * twin (upper-cased, doubled inter-word spacing, padded) under
    * id + 10^15. The graded per-source dashboard: injected count,
    * variants the EXACT key recovers (provably 0 — the injection is
    * byte-distinct), variants the NORMALIZED key recovers (provably
    * all — normalization inverts the injection exactly), and the
    * normalized duplicate-group count.
    *
    * Scale shape: the normalize+hash is one codegen'd map pass;
    * grouping keys are 16-byte hashes (q30's shuffle), the dashboard
    * a ≤|sources| rollup. */
  def normDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val variants = base.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + lit(1000000000000000L)).as("doc_id"), col("source"),
        concat(lit("  "), regexp_replace(upper(col("text")), " ", "  "), lit(" "))
          .as("text"))
    val all = base.unionAll(variants)
      .withColumn("k_exact", md5(col("text")))
      .withColumn("k_norm",
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
    val isVariant = col("doc_id") >= 1000000000000000L
    val keyed = all
      .withColumn("exact_grp",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("k_exact"))))
      .withColumn("norm_grp",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("k_norm"))))
    keyed.groupBy(col("source"))
      .agg(
        sum(when(isVariant, 1L).otherwise(0L)).as("n_injected"),
        sum(when(isVariant && col("exact_grp") > 1, 1L).otherwise(0L))
          .as("exact_recovered"),
        sum(when(isVariant && col("norm_grp") > 1, 1L).otherwise(0L))
          .as("norm_recovered"),
        countDistinct(when(col("norm_grp") > 1, col("k_norm")))
          .as("norm_dup_groups"))
      .orderBy(col("source"))
  }

  private val normDedupSql =
    """WITH base AS (SELECT doc_id, source, text FROM documents),
      |vari AS (SELECT doc_id + 1000000000000000 AS doc_id, source,
      |    '  ' || replace(upper(text), ' ', '  ') || ' ' AS text
      |  FROM base WHERE doc_id % 9 = 4),
      |a AS (SELECT *, md5(text) AS k_exact,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS k_norm
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM vari)),
      |g AS (SELECT *,
      |    COUNT(*) OVER (PARTITION BY source, k_exact) AS exact_grp,
      |    COUNT(*) OVER (PARTITION BY source, k_norm) AS norm_grp
      |  FROM a)
      |SELECT source,
      |  CAST(SUM(CASE WHEN doc_id >= 1000000000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_injected,
      |  CAST(SUM(CASE WHEN doc_id >= 1000000000000000 AND exact_grp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_recovered,
      |  CAST(SUM(CASE WHEN doc_id >= 1000000000000000 AND norm_grp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS norm_recovered,
      |  CAST(COUNT(DISTINCT CASE WHEN norm_grp > 1 THEN k_norm END) AS BIGINT) AS norm_dup_groups
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** q181: CONTENT-DEFINED chunking dedup — the rsync/LBFS boundary
    * rule at token grain: position i ends a chunk iff the Karp–Rabin
    * hash of the 4-token window ending at i (base 31 over q45's token
    * values, kept exact in BIGINT — no modular reduction needed at
    * these magnitudes) is ≡ 0 (mod 8), giving ~8-token expected
    * chunks. Unlike q86's fixed 32-token stride, an insertion shifts
    * only the chunk it lands in — every boundary downstream re-aligns
    * because boundaries depend on CONTENT, not position; that is the
    * property that makes chunk-level dedup survive edits. (The
    * documented simplification vs production CDC: no min/max chunk
    * clamps — those need a sequential scan; the pure per-position
    * predicate is what keeps the operator a codegen'd map.)
    *
    * Output: the corpus-wide duplicated-chunk table (md5 key, token
    * length, occurrences, distinct docs). Scale posture: all list
    * work is per-row codegen; only (hash, n_tok) pairs shuffle to a
    * high-cardinality skew-free rollup — the q86 shape. */
  def cdcChunks(s: SparkSession, d: String): DataFrame =
    cdcChunksFrom(Tables.documents(s, d))

  private[graft] def cdcChunksFrom(docs: DataFrame): DataFrame =
    cdcChunkTable(docs)
      .groupBy(col("chunk_hash"), col("n_tok"))
      .agg(count(lit(1)).as("n_occur"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occur") >= 2)
      .orderBy(col("chunk_hash"))

  /** The CDC boundary expressions of the chunk table (all stateless).
    * Bind order: `t` (token array) → `v` → `c` → `st`/`en`. */
  private val cdcTokvalExpr =
    "transform(t, x -> CAST(ascii(x) AS BIGINT)*131 + length(x))"
  private val cdcCutsExpr =
    "CASE WHEN size(t) >= 5 THEN filter(sequence(3, size(t) - 2), " +
      "i -> (element_at(v, i-2)*29791 + element_at(v, i-1)*961 + " +
      "element_at(v, i)*31 + element_at(v, i+1)) % 8 = 0) " +
      "ELSE CAST(array() AS ARRAY<INT>) END"
  private val cdcStartsExpr = "concat(array(0), transform(c, x -> x + 1))"
  private val cdcEndsExpr = "concat(c, array(size(t) - 1))"
  private val cdcChunkTextsExpr =
    "transform(sequence(1, size(st)), j -> array_join(slice(t, " +
      "element_at(st, j) + 1, element_at(en, j) - element_at(st, j) + 1), ' '))"

  /** The per-chunk table (doc_id, chunk_hash, n_tok) before the dedup
    * rollup — the unit CdC property tests pin (boundary re-alignment
    * after an edit). */
  private[graft] def cdcChunkTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("v", expr(cdcTokvalExpr))
      .withColumn("c", expr(cdcCutsExpr))
      .withColumn("st", expr(cdcStartsExpr))
      .withColumn("en", expr(cdcEndsExpr))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(st)), j -> named_struct(" +
          "'k', md5(array_join(slice(t, element_at(st, j) + 1, " +
          "element_at(en, j) - element_at(st, j) + 1), ' ')), " +
          "'nt', element_at(en, j) - element_at(st, j) + 1))")).as("ch"))
      .select(col("doc_id"), col("ch.k").as("chunk_hash"),
        col("ch.nt").as("n_tok"))

  /** The q181 CDC chunk-table CTE chain, prefixed so q183 can
    * instantiate it twice (old slice / new batch) in one oracle.
    * Yields `<p>ch(doc_id, ch{k, nt})`. */
  private def cdcSqlCtes(p: String, where: String): String =
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS t
       |  FROM documents WHERE $where),
       |${p}v AS (SELECT doc_id, t,
       |    [CAST(ascii(x) AS BIGINT)*131 + length(x) for x in t] AS v FROM ${p}t),
       |${p}c AS (SELECT doc_id, t,
       |    CASE WHEN len(t) >= 5 THEN
       |      [i for i in range(3, len(t) - 1) if
       |        (v[i-2]*29791 + v[i-1]*961 + v[i]*31 + v[i+1]) % 8 = 0]
       |    ELSE [] END AS c
       |  FROM ${p}v),
       |${p}seg AS (SELECT doc_id, t,
       |    list_prepend(0, [x + 1 for x in c]) AS st,
       |    list_append(c, len(t) - 1) AS en
       |  FROM ${p}c),
       |${p}ch AS (SELECT doc_id,
       |    unnest([{'k': md5(array_to_string(list_slice(t, st[j] + 1, en[j] + 1), ' ')),
       |             'nt': en[j] - st[j] + 1} for j in range(1, len(st) + 1)]) AS ch
       |  FROM ${p}seg)""".stripMargin

  private val cdcChunksSql =
    s"""WITH ${cdcSqlCtes("", "TRUE")}
       |SELECT ch.k AS chunk_hash, CAST(ch.nt AS INT) AS n_tok,
       |       count(*) AS n_occur, count(DISTINCT doc_id) AS n_docs
       |FROM ch GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY chunk_hash""".stripMargin

  /** q183: CDC DELTA-SYNC COST — the rsync measurement q181's
    * boundaries exist for: an arriving batch (doc_id ≡ 7 mod 100, the
    * q156/q176 delta convention) chunks content-defined and joins
    * against the DISTINCT chunk set of the accumulated corpus; per
    * new doc, how many chunks already exist (dedup hits — bytes that
    * need no transfer/storage) and the novel token mass that actually
    * costs. Because boundaries are content-defined, a new doc that is
    * an edit of an old one reuses every chunk outside the edit — the
    * q181 spec property, priced here.
    *
    * Scale shape: the old side reduces to a DISTINCT hash set (skinny,
    * high-cardinality); the batch side is 1% of the corpus; the join
    * ships only hashes. */
  def cdcDelta(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val oldSet = cdcChunkTable(docs.filter(col("doc_id") % 100 =!= 7))
      .select(col("chunk_hash")).distinct().withColumn("hit", lit(1L))
    cdcChunkTable(docs.filter(col("doc_id") % 100 === 7))
      .join(oldSet.hint("shuffle_hash"), Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_reused"),
        sum(when(col("hit").isNull, col("n_tok").cast("long"))
          .otherwise(0L)).as("tokens_novel"))
      .withColumn("reuse_frac",
        round(col("n_reused").cast("double") / col("n_chunks"), 6))
      .orderBy(col("doc_id"))
  }

  private val cdcDeltaSql =
    s"""WITH ${cdcSqlCtes("o", "doc_id % 100 <> 7")},
       |${cdcSqlCtes("nw", "doc_id % 100 = 7")},
       |oset AS (SELECT DISTINCT ch.k AS k FROM och)
       |SELECT n.doc_id, count(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN oset.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
       |  CAST(SUM(CASE WHEN oset.k IS NULL THEN n.ch.nt ELSE 0 END) AS BIGINT) AS tokens_novel,
       |  round(CAST(SUM(CASE WHEN oset.k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS reuse_frac
       |FROM nwch n LEFT JOIN oset ON oset.k = n.ch.k
       |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin

  /** q188: GOPHER-RULE quality battery (Rae et al. '21 §A1.1 adapted
    * to this corpus's shape) — the RULES complement to q41's score
    * and q130's ensemble: each doc gets a pass/fail VERDICT per rule,
    * every bound evaluated in EXACT integer arithmetic (cross-
    * multiplied, never a float ratio):
    *   R1 word count ∈ [30, 50000];
    *   R2 mean word length ∈ [2, 10]   (2n ≤ Σlen ≤ 10n);
    *   R3 alphabetic-word fraction ≥ 0.8 (5·n_alpha ≥ 4n);
    *   R4 ≥ 2 stopwords from {the, a, of, to, and};
    *   R5 duplicate-word fraction ≤ 0.5 (2·n_distinct ≥ n).
    * Output: per (lang, source) the doc count, overall pass count,
    * and per-rule fail counts — the dashboard a filtering run reads
    * before committing to thresholds. One map-only codegen pass over
    * the scan (all five rules fold over the same token array), then a
    * tiny keyed rollup. */
  def gopherRules(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("t", split(col("text"), " "))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("sumlen",
        expr("aggregate(t, 0L, (a, x) -> a + length(x))"))
      .withColumn("n_alpha",
        expr("size(filter(t, x -> x rlike '^[A-Za-z]+$'))").cast("long"))
      .withColumn("n_stop", expr(
        "size(filter(t, x -> x IN ('the', 'a', 'of', 'to', 'and')))").cast("long"))
      .withColumn("n_dist", size(array_distinct(col("t"))).cast("long"))
      .withColumn("r1", col("n") >= 30 && col("n") <= 50000)
      .withColumn("r2", col("sumlen") >= col("n") * 2 && col("sumlen") <= col("n") * 10)
      .withColumn("r3", col("n_alpha") * 5 >= col("n") * 4)
      .withColumn("r4", col("n_stop") >= 2)
      .withColumn("r5", col("n_dist") * 2 >= col("n"))
      .withColumn("pass",
        col("r1") && col("r2") && col("r3") && col("r4") && col("r5"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r1"), 1L).otherwise(0L)).as("fail_wordcount"),
        sum(when(!col("r2"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("r3"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!col("r4"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(!col("r5"), 1L).otherwise(0L)).as("fail_dupwords"))
      .orderBy(col("lang"), col("source"))

  private val gopherRulesSql =
    """WITH t AS (SELECT lang, source, string_split(text, ' ') AS t FROM documents),
      |m AS (SELECT lang, source,
      |    CAST(len(t) AS BIGINT) AS n,
      |    CAST(list_sum([length(x) for x in t]) AS BIGINT) AS sumlen,
      |    CAST(len([x for x in t if regexp_matches(x, '^[A-Za-z]+$')]) AS BIGINT) AS n_alpha,
      |    CAST(len([x for x in t if x IN ('the', 'a', 'of', 'to', 'and')]) AS BIGINT) AS n_stop,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS n_dist
      |  FROM t),
      |v AS (SELECT lang, source,
      |    (n >= 30 AND n <= 50000) AS r1,
      |    (sumlen >= n * 2 AND sumlen <= n * 10) AS r2,
      |    (n_alpha * 5 >= n * 4) AS r3,
      |    (n_stop >= 2) AS r4,
      |    (n_dist * 2 >= n) AS r5
      |  FROM m)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
      |  CAST(SUM(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
      |  CAST(SUM(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
      |  CAST(SUM(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
      |  CAST(SUM(CASE WHEN NOT r5 THEN 1 ELSE 0 END) AS BIGINT) AS fail_dupwords
      |FROM v GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** q88: the rewrite half of the C4-style pass — q86 measures, this
    * PRODUCES the deduplicated corpus: each doc reassembled from only
    * its surviving (first-occurrence) chunks, in position order; a doc
    * whose every chunk duplicates earlier text drops out entirely.
    *
    * Scale posture: unlike the stats pass, the output IS text, so the
    * chunk bodies must flow through both exchanges (hash-partition for
    * first-occurrence election, doc_id-partition for reassembly) —
    * that's inherent to a rewrite, not a plan defect; a production run
    * fuses this with [[chunkDedup]] so the corpus is read once. The
    * reassembly aggregate is collect_list + sort over a doc's own
    * chunks — bounded by doc length, skew-free across docs. */
  def chunkRewrite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("doc_id"), col("pos"))
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
          "i -> array_join(slice(t, i*32+1, 32), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"))
      .withColumn("k", md5(col("chunk")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, chunk))), " +
        "x -> x.chunk), ' ')").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  private val chunkRewriteSql =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |ch AS (SELECT doc_id, i,
      |    array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT), CAST(i*32+32 AS BIGINT)), ' ') AS chunk
      |  FROM t, (SELECT unnest(generate_series(0,
      |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM t))) AS i) g
      |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
      |r AS (SELECT doc_id, i, chunk,
      |    ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, i) AS rn FROM ch)
      |SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS clean_text,
      |       COUNT(*) AS n_kept
      |FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** B26 shingling stats per doc (doc-local: no shuffle; `sh`
    * referenced once — n_total derives from the token count). */
  def shingleStats(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"),
        size(array_distinct(col("sh"))).cast("long").as("n_shingles"),
        (size(col("toks")) - 2).cast("long").as("n_total"))
      .orderBy(col("doc_id"))

  private val shingleStatsSql =
    s"""$shinglesSqlCte
       |SELECT doc_id, COUNT(DISTINCT s) AS n_shingles, COUNT(*) AS n_total
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle twin of minhashComponent(i): md5 hex rotated left 2i chars. */
  private def mhSql(i: Int): String =
    if (i == 0) "MIN(md5(s))"
    else s"MIN(substring(md5(s), ${2 * i + 1}) || substring(md5(s), 1, ${2 * i}))"

  /** The memoized doc → representative map (min doc_id per exact
    * text, keyed by sha256 so the full text never shuffles) — THE
    * rep-grain join spine: any per-text computation runs once per
    * distinct text and joins back through this skinny (doc_id, rep)
    * frame. Shared by q163's histogram, [[signatures]] and the
    * quality-signal build. */
  private[ops] def docRepMemo(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "doc_rep") {
      val withH = Tables.documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("hh"))
      withH
        .join(withH.groupBy(col("hh")).agg(min(col("doc_id")).as("rep"))
          .hint("shuffle_hash"), Seq("hh"))
        .select(col("doc_id"), col("rep"))
        .localCheckpoint()
    }

  /** The memoized rep-grain distinct-shingle frame (q104/q131/q144's
    * `jaccard_docs`): one row per DISTINCT text, doc_id = the min-id
    * rep, `shs` the rarest-first distinct 3-shingles, `n` their count. */
  private[ops] def jaccardDocsMemo(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "jaccard_docs") {
      jaccardDocsBuild(s, d)
    }

  /** B27 minhash signatures: all four components in one codegen'd pass
    * over the shingle array ([[graft.functions.MinhashHex]] — one md5
    * per shingle, in-place rotation compare). The old HOF form needed a
    * repartition barrier to stop CollapseProject re-evaluating the md5
    * transform per component; here the four `ms[i]` extractions share
    * the single MinhashHex call via codegen subexpression elimination,
    * so no barrier shuffle at all.
    *
    * REP grain since round 12: MinHash is a function of the shingle
    * SET (order- and multiplicity-independent — the q144 identity), so
    * the md5/shingle work runs once per DISTINCT text over the shared
    * [[jaccardDocsMemo]] arrays and fans out to doc grain through the
    * skinny [[docRepMemo]] join. On a duplication-heavy corpus the
    * signature cost collapses by the duplication factor (the 100×
    * mirrored corpus pays for ~5k texts, not 500k docs) while every
    * downstream consumer — q33's graded signatures, the band explode
    * in [[candidatePairs]], the q76 fixpoint's star edges — sees
    * byte-identical values. Docs under 3 tokens drop in both
    * formulations (same text ⇒ same token count as its rep). */
  private def signatures(s: SparkSession, d: String): DataFrame = {
    val repSig = jaccardDocsMemo(s, d)
      .select(col("doc_id").as("rep"), minhashHex(col("shs"), 4).as("ms"))
      .select(col("rep"),
        col("ms")(0).as("mh0"), col("ms")(1).as("mh1"),
        col("ms")(2).as("mh2"), col("ms")(3).as("mh3"))
    docRepMemo(s, d)
      .join(repSig.hint("shuffle_hash"), Seq("rep"))
      .select(col("doc_id"),
        col("mh0"), col("mh1"), col("mh2"), col("mh3"))
  }

  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signatures(s, d).orderBy(col("doc_id"))

  private val minhashSignaturesSql =
    s"""$shinglesSqlCte
       |SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |       ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** B27/B28 LSH banding: near-dup candidate pairs sharing either of 2
    * bands (2 components each). The band string is the shuffle key —
    * candidate generation is a self-equi-join, never a cross join; this
    * is THE 100 TB near-dup plan (O(n·bands) not O(n²)). */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    candidatePairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Deterministic df-cap on band membership: pairs are generated only
    * among the BandCap lowest doc_ids of each band bucket. Without a
    * cap a hot band (boilerplate text, a pathologically duplicated
    * corpus) emits O(|bucket|²) pairs — measured 11.9× wall at 100×
    * data pre-cap — and the collect_set held the unbounded bucket in
    * aggregation state. With the cap, pair counts are provably
    * O(n_bands · cap²) and no per-group state exceeds `cap` entries
    * (the row_number cut is sort-based, never buffering a bucket).
    * Recall cost is nil for dedup: a >cap bucket is a near-clique
    * whose members the clustering fixpoint already merges through
    * shared band keys; the capped pairs stay a subset of same-bucket
    * pairs, so q151's zero-leakage-by-construction property holds. */
  private[ops] val BandCap = 50

  private def candidatePairs(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "cand_pairs") {
      candidatePairsBuild(s, d).localCheckpoint()
    }

  /** The one-pass [[candidatePairs]] build. Memoized since round 12:
    * five graded queries (q34, q149, q151, q163, q165) consume the
    * identical deterministic pair set, so the band window + pair
    * expansion runs once per (session, sfDir) — the 100 TB shape is a
    * materialized candidate-pair table every dedup stage reads. */
  private def candidatePairsBuild(s: SparkSession, d: String): DataFrame = {
    // Build on the UNORDERED signatures: a mid-pipeline orderBy would
    // insert a range exchange whose sampling pass re-executes the
    // whole md5/shingle subtree a second time.
    val sig = signatures(s, d)
    // One pass over the signature pipeline: explode both bands, cut
    // each band bucket to its BandCap lowest doc_ids (sort-based
    // window — bounded state), bucket the survivors, and emit ordered
    // pairs within each bucket — a self-join formulation would
    // recompute the md5/shingle subtree for each join side. The
    // window and the groupBy share the hash(band) exchange.
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("doc_id"))
    sig.select(col("doc_id"),
      explode(array(concat(col("mh0"), col("mh1")),
        concat(col("mh2"), col("mh3")))).as("band"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= BandCap)
      .groupBy(col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(x AS doc_a, y AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** The oracle twin of [[candidatePairs]]'s df-cap: `bands` →
    * `bandsc` (per-band lowest-BandCap doc_ids) → `pairs`. */
  private def cappedPairsSql(bandsRel: String,
      pairsName: String = "pairs"): String =
    s"""${pairsName}_bc AS (SELECT doc_id, band FROM (
       |    SELECT doc_id, band,
       |           ROW_NUMBER() OVER (PARTITION BY band ORDER BY doc_id) AS rn
       |    FROM $bandsRel) WHERE rn <= $BandCap),
       |$pairsName AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM ${pairsName}_bc a JOIN ${pairsName}_bc b
       |          ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  /** Transitive dedup clustering: connected components over the LSH
    * candidate graph — each doc lands in the cluster of the smallest
    * reachable doc_id, the step that turns pairwise candidates into
    * dedup groups. The oracle replays the same fixpoint as a recursive
    * CTE over the clique pairs.
    *
    * Three scale decisions (this was 47.9 s — 44% of the whole bench —
    * in the naive pairwise form; now it is a handful of tiny jobs):
    *  - STAR edges, not clique pairs: connectivity of the candidate
    *    graph equals connectivity of the doc↔band-bucket bipartite
    *    graph, so each doc connects only to its bucket's min doc_id —
    *    O(n·bands) edges instead of O(Σ bucket²), and no pair
    *    expansion / distinct at all.
    *  - Seed labels with the closed-neighborhood min (≙ per-band
    *    minima): LSH buckets are near-cliques, so most nodes start at
    *    their final label and the fixpoint needs 1-2 rounds, not
    *    O(diameter).
    *  - One cluster job per round: pointer-jumping
    *    (lbl ← min(lbl, lbl(lbl))) halves the rounds chains need, and
    *    convergence detection rides the SAME job as the propagation
    *    via an `observe` metric — sum(lbl) is monotone non-increasing
    *    and stalls exactly at the fixpoint — instead of a separate
    *    count() action joining old vs new labels.
    *  - The first TWO rounds compose into ONE declarative plan (no
    *    checkpoint between them): near-fixpoint seeds converge within
    *    two rounds in every observed run, so the common case is three
    *    driver-blocking jobs total (edges, seed, double-round) with
    *    both rounds' label sums riding the one job as observe metrics,
    *    and the checkpoint-per-round loop remains only as the
    *    O(diameter) fallback for adversarial chain graphs. The round-2
    *    plan references round 1 four times (union + propagate + both
    *    jump sides); identical canonical subtrees mean the physical
    *    plan computes round 1 once and wires three ReusedExchange
    *    nodes — see PLANS.md's iterative section.
    *
    * The converged labeling is memoized per (session, sfDir): q76,
    * q79 and q84 all consume the SAME deterministic fixpoint, so one
    * materialization serves all three ([[graft.CheckpointMemo]]). */
  def dedupComponents(s: SparkSession, d: String): DataFrame =
    dedupComponentsCore(s, d).orderBy(col("doc_id"))

  private[ops] def dedupComponentsCore(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "dedup_labels") {
      computeDedupComponents(s, d)
    }

  /** The fixpoint's building blocks — (checkpointed edges,
    * checkpointed seed labels, one-round step) — shared by the compute
    * path and the plan-evidence surface ([[fixpointUnrolledPlan]]).
    * Constructing them runs the two driver-blocking build jobs. */
  private def fixpointParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val bands = signatures(s, d).select(col("doc_id"),
      explode(array(concat(col("mh0"), col("mh1")),
        concat(col("mh2"), col("mh3")))).as("band"))
    val star = bands
      .withColumn("bmin", min(col("doc_id")).over(Window.partitionBy(col("band"))))
      .filter(col("doc_id") =!= col("bmin")) // singleton buckets drop out
      .select(col("doc_id").as("a"), col("bmin").as("b"))
      .distinct()
    starFixpointParts(star)
  }

  /** The min-label fixpoint building blocks over ANY distinct (a, b)
    * edge frame — the q76 machinery factored so other similarity
    * graphs can reuse it (q137 runs it over embedding near-dup
    * pairs). Construction runs the edge/seed checkpoint jobs. */
  private[ops] def starFixpointParts(star: DataFrame)
      : (DataFrame, DataFrame, DataFrame => DataFrame) = {
    // localCheckpoint (eager) rather than cache: it TRUNCATES lineage,
    // so per-iteration plans stay constant-size instead of doubling —
    // the standard fix for iterative DataFrame algorithms
    val edges = star.select(col("a").as("src"), col("b").as("dst"))
      .union(star.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    // one propagation round: keep own label, take neighbors' labels,
    // pointer-jump through the label map, fold with min. The label-map
    // join side is pinned shuffle_hash: size ESTIMATES through an
    // unexecuted round's aggregate inflate past the broadcast
    // threshold (join-cardinality heuristics over checkpoint scans),
    // so an unhinted round 2 falls to sort-merge — sorting the label
    // map every round, at 100 TB the exact regression the plan guard
    // exists for. Hash join on the (node/lbl)-keyed exchanges is the
    // bounded-slice plan at every scale.
    def step(l: DataFrame): DataFrame = {
      val prop = edges.join(l.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), col("lbl"))
      val jump = l.alias("x")
        .join(l.hint("shuffle_hash").alias("y"), col("x.lbl") === col("y.node"))
        .select(col("x.node").as("node"), col("y.lbl").as("lbl"))
      l.union(prop).union(jump)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
    }
    val seed = edges
      .select(col("src").as("node"), least(col("src"), col("dst")).as("lbl"))
      .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      .localCheckpoint() // eager → truncates lineage for the unroll
    (edges, seed, step)
  }

  /** The unrolled double-round plan, returned UNEXECUTED — the
    * plan-evidence surface PlanDump's iterative section and the
    * ReusedExchange spec read. Round 2 references round 1 four times
    * (union + propagate + both jump sides); the physical plan must
    * compute round 1 once and reuse its exchange for the rest, or the
    * unroll would be doing 4x the work the loop did. */
  private[graft] def fixpointUnrolledPlan(s: SparkSession, d: String): DataFrame = {
    val (_, seed, step) = fixpointParts(s, d)
    step(step(seed))
  }

  private def computeDedupComponents(s: SparkSession, d: String): DataFrame =
    runStarFixpoint(fixpointParts(s, d))
      .select(col("node").as("doc_id"), col("lbl").as("cluster"))

  /** The convergence loop over [[starFixpointParts]] output —
    * observe-metric convergence (sum(lbl) monotone), one cluster job
    * per round, checkpoint rotation. Returns (node, lbl). */
  private[ops] def runStarFixpoint(
      parts: (DataFrame, DataFrame, DataFrame => DataFrame)): DataFrame = {
    import org.apache.spark.sql.Observation
    val (edges, seed, step) = parts
    // rounds 1+2 as one job; the sums of both rounds ride it as metrics
    val o1 = Observation()
    val o2 = Observation()
    var labels = step(step(seed).observe(o1, sum(col("lbl")).as("s")))
      .observe(o2, sum(col("lbl")).as("s"))
      .localCheckpoint()
    seed.unpersist()
    var curSum = o2.get("s").asInstanceOf[Long]
    var converged = o1.get("s").asInstanceOf[Long] == curSum
    var iter = 2
    while (!converged && iter < 50) {
      val obs = Observation()
      val next = step(labels)
        .observe(obs, sum(col("lbl")).as("s"))
        .localCheckpoint()
      val nextSum = obs.get("s").asInstanceOf[Long]
      labels.unpersist() // superseded checkpoint blocks are released eagerly
      labels = next
      converged = nextSum == curSum
      curSum = nextSum
      iter += 1
    }
    edges.unpersist()
    // fail loudly rather than return a non-fixpoint labeling: an
    // unconverged result would present as a data bug downstream
    require(converged, s"star fixpoint did not converge within $iter rounds")
    labels.select(col("node"), col("lbl"))
  }

  /** The full clustering CTE chain (shingles → signatures → bands →
    * pairs → edges → recursive reachability → per-doc min label),
    * ending in `comp(doc_id, cluster)` — shared by the q76 oracle and
    * the q79 curation-composition oracle. */
  private[ops] val componentsSqlCtes: String =
    s"""${shinglesSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT src, src AS lbl FROM (SELECT DISTINCT src FROM edges)
       |          UNION
       |          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.src),
       |comp AS (SELECT src AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY src)""".stripMargin

  private val dedupComponentsSql =
    s"""$componentsSqlCtes
       |SELECT doc_id, cluster FROM comp ORDER BY doc_id""".stripMargin

  private val minhashPairsSql =
    s"""$shinglesSqlCte,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |${cappedPairsSql("bands")}
       |SELECT doc_a, doc_b FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q163: NEAR-DUP SIMILARITY HISTOGRAM — the distribution of EXACT
    * Jaccard over the q34 MinHash candidate pairs: "what similarity is
    * the dedup pass actually removing". A mass concentrated near 1.0
    * says the banding mostly finds true copies (tighten nothing); a
    * long low-J tail says the band config over-generates and the
    * verify step (q35/q104) is earning its cost. Bins are EXACT
    * integer arithmetic — bin = min((10·|A∩B|) div |A∪B|, 9) — so no
    * float comparison decides a bin boundary cross-engine.
    *
    * Scale shape: q34's band-bucketed pair set (never all-pairs), the
    * exact intersections computed ONCE PER DISTINCT-TEXT PAIR and
    * joined back to the doc-grain pairs — identical texts have
    * identical shingle sets, so on a duplication-heavy corpus the
    * shingle-grain work collapses by the duplication factor while the
    * doc-pair multiplicities still count every pair (same-rep pairs
    * are Jaccard-1 by identity, bin 9 with no shingle work at all;
    * measured 114 s → rep-grain at the 100x mirrored corpus). Sizes
    * from the distinct-shingle aggregate, then a ≤10-row rollup.
    * Zero-intersection candidates stay in bin 0 via the left join. */
  def neardupSimHistogram(s: SparkSession, d: String): DataFrame = {
    val pairs = candidatePairs(s, d)
    // doc → representative (min doc_id per exact text) — the shared
    // rep-grain spine ([[docRepMemo]])
    val docRep = docRepMemo(s, d)
    val pr = pairs
      .join(docRep.select(col("doc_id").as("doc_a"), col("rep").as("ra0"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(docRep.select(col("doc_id").as("doc_b"), col("rep").as("rb0"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(least(col("ra0"), col("rb0")).as("ra"),
        greatest(col("ra0"), col("rb0")).as("rb"))
      .localCheckpoint() // referenced by repPairs AND the bin join-back
    val repPairs = pr.filter(col("ra") =!= col("rb")).distinct()
    // shingle sets at rep grain come FREE from the memoized q104/q131
    // frame (one row per distinct text, doc_id = the same min-id rep,
    // identical 3-shingle definition — shared scan, zero recompute)
    val docs = jaccardDocsMemo(s, d)
    val shd = docs.select(col("doc_id"), explode(col("shs")).as("sh2"))
    val sz = docs.select(col("doc_id"), col("n"))
    val inter = repPairs
      .join(shd.select(col("doc_id").as("ra"), col("sh2"))
        .hint("shuffle_hash"), Seq("ra"))
      .join(shd.select(col("doc_id").as("rb"), col("sh2"))
        .hint("shuffle_hash"), Seq("rb", "sh2"))
      .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("inter"))
    val repBin = repPairs
      .join(inter.hint("shuffle_hash"), Seq("ra", "rb"), "left")
      .join(sz.select(col("doc_id").as("ra"), col("n").as("na"))
        .hint("shuffle_hash"), Seq("ra"))
      .join(sz.select(col("doc_id").as("rb"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("rb"))
      .select(col("ra"), col("rb"),
        least(expr("(10 * coalesce(inter, 0L)) div " +
          "(na + nb - coalesce(inter, 0L))"), lit(9L)).as("bin"))
    // doc-grain multiplicities: every candidate pair counts once;
    // same-rep pairs (identical texts) are exactly Jaccard 1 → bin 9
    val binned = pr
      .join(repBin.hint("shuffle_hash"), Seq("ra", "rb"), "left")
      .select(coalesce(col("bin"), lit(9L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    binned
      .crossJoin(broadcast(binned.agg(sum(col("n_pairs")).as("tot"))))
      .select(col("bin"),
        round(col("bin").cast("double") / 10, 1).as("j_lo"),
        round((col("bin") + 1).cast("double") / 10, 1).as("j_hi"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("tot"), 6).as("share"))
      .orderBy(col("bin"))
  }

  private val neardupSimHistogramSql =
    s"""$shinglesSqlCte,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |${cappedPairsSql("bands")},
       |rp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep FROM documents),
       |pr AS MATERIALIZED (SELECT least(a.rep, b.rep) AS ra, greatest(a.rep, b.rep) AS rb
       |      FROM pairs p JOIN rp a ON a.doc_id = p.doc_a
       |                   JOIN rp b ON b.doc_id = p.doc_b),
       |rpp AS MATERIALIZED (SELECT DISTINCT ra, rb FROM pr WHERE ra <> rb),
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       |ints AS (SELECT p.ra, p.rb, count(*) AS inter
       |         FROM rpp p
       |         JOIN shd x ON x.doc_id = p.ra
       |         JOIN shd y ON y.doc_id = p.rb AND y.s = x.s
       |         GROUP BY p.ra, p.rb),
       |rb2 AS (SELECT p.ra, p.rb,
       |        least((10 * coalesce(i.inter, 0)) // (sa.n + sb.n - coalesce(i.inter, 0)), 9) AS bin
       |      FROM rpp p
       |      LEFT JOIN ints i ON i.ra = p.ra AND i.rb = p.rb
       |      JOIN sz sa ON sa.doc_id = p.ra
       |      JOIN sz sb ON sb.doc_id = p.rb),
       |b AS (SELECT coalesce(r2.bin, 9) AS bin, count(*) AS n_pairs
       |      FROM pr LEFT JOIN rb2 r2 ON r2.ra = pr.ra AND r2.rb = pr.rb
       |      GROUP BY 1),
       |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM b)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  round(CAST(bin AS DOUBLE) / 10, 1) AS j_lo,
       |  round(CAST(bin + 1 AS DOUBLE) / 10, 1) AS j_hi,
       |  CAST(n_pairs AS BIGINT) AS n_pairs,
       |  round(CAST(n_pairs AS DOUBLE) / t.tot, 6) AS share
       |FROM b, t ORDER BY bin""".stripMargin

  /** q165: DEDUP-GRAPH DEGREE DISTRIBUTION — the shape audit of the
    * candidate graph the clustering fixpoint (q76) runs on: per doc
    * its near-dup candidate degree, rolled into log2 buckets (0
    * candidates, 1, 2–3, 4–7, 8–15, 16–31, 32+). A mass at high
    * degree means hub documents (boilerplate or a hot band) that
    * inflate pair counts quadratically — the early-warning signal for
    * the quadratic blowups the round-9 100× run caught after the
    * fact; a healthy dedup graph is almost all degree 0–1.
    * Complements q115 (triangles measure local density) and q163
    * (similarity measures candidate QUALITY; this measures
    * concentration). Buckets are exact integer arithmetic (the q110
    * log-bucket trick: floor log2 via bit length).
    *
    * Scale shape: q34's band-bucketed pairs, one doc-keyed degree
    * aggregate over the two pair sides, a ≤7-row rollup; the
    * zero-degree row comes from one broadcast total — never a join
    * against the corpus. */
  def dedupDegreeDist(s: SparkSession, d: String): DataFrame = {
    val pairs = candidatePairs(s, d)
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val binned = deg
      .withColumn("bucket",
        least(expr("length(bin(deg))"), lit(6)).cast("long"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    val withZero = binned.unionAll(
      total.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_pos"))))
        .select(lit(0L).as("bucket"),
          (col("n_total") - col("n_pos")).as("n_docs")))
      .groupBy(col("bucket")).agg(sum(col("n_docs")).as("n_docs"))
    withZero
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        when(col("bucket") === 0, lit(0L))
          .otherwise(expr("shiftleft(1L, CAST(bucket AS INT) - 1)")).as("deg_lo"),
        col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
      .orderBy(col("bucket"))
  }

  private val dedupDegreeDistSql =
    s"""$shinglesSqlCte,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |${cappedPairsSql("bands")},
       |deg AS (SELECT doc_id, count(*) AS deg FROM (
       |          SELECT doc_a AS doc_id FROM pairs
       |          UNION ALL SELECT doc_b FROM pairs) GROUP BY doc_id),
       |binned AS (SELECT least(len(bin(deg)), 6) AS bucket, count(*) AS n_docs
       |           FROM deg GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM documents),
       |np AS (SELECT count(*) AS n_pos FROM deg),
       |wz AS (SELECT bucket, SUM(n_docs) AS n_docs FROM (
       |         SELECT CAST(bucket AS BIGINT) AS bucket, n_docs FROM binned
       |         UNION ALL SELECT 0, tot.n_total - np.n_pos FROM tot, np)
       |       GROUP BY bucket)
       |SELECT wz.bucket,
       |  CAST(CASE WHEN wz.bucket = 0 THEN 0 ELSE 1 << (wz.bucket - 1) END AS BIGINT) AS deg_lo,
       |  CAST(wz.n_docs AS BIGINT) AS n_docs,
       |  round(CAST(wz.n_docs AS DOUBLE) / tot.n_total, 6) AS share
       |FROM wz, tot ORDER BY wz.bucket""".stripMargin

  /** q144: LSH OPERATING-POINT EVALUATION — precision/recall of the
    * q34-family MinHash banding (2 bands × 2 components) against the
    * exact tau = 1/2 Jaccard join, both at representative (distinct
    * text) grain on the SAME shared shingle frame. The eval every
    * pipeline owes its dedup config: banding parameters trade recall
    * for candidate volume, and this one-row gate pins the operating
    * point so a band/width change shows up as a graded diff, not a
    * silent recall cliff (the text-side twin of q109's ANN recall).
    *
    * MinHash is a function of the shingle SET, so signatures computed
    * over the memoized rarest-first DISTINCT arrays (jaccard_docs,
    * shared with q104/q131) are identical to signatures over the raw
    * ordered shingle stream — one frame serves ground truth and
    * candidates. Counts are exact integers; the two ratios are single
    * divisions, CASE-guarded on empty sides in both engines. */
  def lshOperatingPoint(s: SparkSession, d: String): DataFrame =
    lshOperatingPointAt(s, d, Seq(Seq(0, 1), Seq(2, 3)))

  /** The general eval behind q144/q146: banding given by `bands`, each
    * inner Seq the signature components concatenated into one band key.
    * Fewer components per band (and more bands) trades precision for
    * recall — the S-curve knob; the two graded instances pin the
    * 2×2 (q144) and 4×1 (q146) operating points. */
  def lshOperatingPointAt(s: SparkSession, d: String,
      bands: Seq[Seq[Int]]): DataFrame = {
    val docs = jaccardDocsMemo(s, d)
    val sig = docs
      .select(col("doc_id"), minhashHex(col("shs"), 4).as("ms"))
      .select(col("doc_id"),
        explode(array(bands.map(b =>
          concat(b.map(i => col("ms")(i)): _*)): _*)).as("band"))
    // same deterministic df-cap as [[candidatePairs]] — a hot band at
    // rep grain (shared boilerplate) must not emit O(|bucket|²) pairs
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("doc_id"))
    val cand = sig
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= BandCap)
      .groupBy(col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(x AS da, y AS db))))")).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    val exact = jaccardJoinAt(s, d, 1, 2)
      .select(col("doc_a"), col("doc_b"))
    val tp = cand.join(exact.hint("shuffle_hash"),
      col("da") === col("doc_a") && col("db") === col("doc_b"), "left_semi")
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
      .select(col("n_cand"), col("n_exact"), col("n_tp"),
        when(col("n_cand") > 0,
          round(col("n_tp").cast("double") / col("n_cand"), 6)).as("precision"),
        when(col("n_exact") > 0,
          round(col("n_tp").cast("double") / col("n_exact"), 6)).as("recall"))
  }

  private lazy val lshOperatingPointSql = lshOperatingPointSqlAt(Seq(Seq(0, 1), Seq(2, 3)))

  /** The rep-grain exact τ=1/2 Jaccard ground-truth chain (reps →
    * `exact(doc_a, doc_b)`) — the shared truth side of every
    * operating-point oracle (q144/q146 banding, q159 SimHash). */
  private lazy val exactJaccardCtes: String =
    s"""reps AS (SELECT MIN(doc_id) AS doc_id, text
       |              FROM documents GROUP BY text),
       |tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM reps),
       |sh AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i+2), ' ')
       |                              for i in generate_series(1, len(toks)-2)]) AS s
       |       FROM tok),
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |dfq AS (SELECT s, COUNT(*) AS df FROM shd GROUP BY s),
       |pref AS (SELECT doc_id, s FROM (
       |    SELECT shd.doc_id, shd.s,
       |           ROW_NUMBER() OVER (PARTITION BY shd.doc_id
       |                              ORDER BY dfq.df, shd.s) AS rn, sz.n
       |    FROM shd JOIN dfq USING (s) JOIN sz USING (doc_id))
       |  WHERE rn <= n // 2 + 1),
       |candj AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
       |ints AS (SELECT c.da, c.db, COUNT(*) AS inter
       |         FROM candj c
       |         JOIN shd x ON x.doc_id = c.da
       |         JOIN shd y ON y.doc_id = c.db AND y.s = x.s
       |         GROUP BY c.da, c.db),
       |exact AS (SELECT i.da AS doc_a, i.db AS doc_b
       |  FROM ints i JOIN sz sa ON sa.doc_id = i.da JOIN sz sb ON sb.doc_id = i.db
       |  WHERE 2 * i.inter >= sa.n + sb.n - i.inter)""".stripMargin

  private def lshOperatingPointSqlAt(bands: Seq[Seq[Int]]): String =
    s"""WITH $exactJaccardCtes,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (${bands.map(b =>
           s"SELECT doc_id, ${b.map(i => s"mh$i").mkString(" || ")} AS band FROM sig")
           .mkString("\n       |          UNION ALL ")}),
       |bandsc AS (SELECT doc_id, band FROM (
       |    SELECT doc_id, band,
       |           ROW_NUMBER() OVER (PARTITION BY band ORDER BY doc_id) AS rn
       |    FROM bands) WHERE rn <= $BandCap),
       |cpairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |           FROM bandsc a JOIN bandsc b ON a.band = b.band AND a.doc_id < b.doc_id),
       |m AS (SELECT
       |  (SELECT count(*) FROM cpairs) AS n_cand,
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM cpairs c JOIN exact e
       |     ON c.da = e.doc_a AND c.db = e.doc_b) AS n_tp)
       |SELECT n_cand, n_exact, n_tp,
       |  CASE WHEN n_cand > 0 THEN round(CAST(n_tp AS DOUBLE) / n_cand, 6) END AS precision,
       |  CASE WHEN n_exact > 0 THEN round(CAST(n_tp AS DOUBLE) / n_exact, 6) END AS recall
       |FROM m""".stripMargin

  /** q149: TRAIN/VAL/TEST SPLIT LEAKAGE audit — assign every doc a
    * deterministic hash split (12/2/2 sixteenths of md5 space, the
    * q57 sampler's engine-portable posture, salt "split:"), then count
    * MinHash-band near-dup candidate pairs that CROSS splits. Random
    * splits leak: a near-duplicate of a training doc sitting in test
    * inflates eval (Lee et al. ACL'22 measure exactly this), and the
    * fix is split-by-cluster, not split-by-doc — this audit is the
    * one-table evidence that decides whether that work is needed.
    * Output: ordered split-pair counts with each side's doc total and
    * the cross-pair share of all candidate pairs.
    *
    * Scale shape: q34's banded candidate generation (never all-pairs)
    * + two skinny shuffle-hash join-backs of (doc_id, split) + a
    * 6-row aggregate. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val splits = Tables.documents(s, d).select(col("doc_id"),
      expr("CASE WHEN substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 1) " +
        "< 'c' THEN 'train' WHEN substring(md5(concat('split:', " +
        "CAST(doc_id AS STRING))), 1, 1) < 'e' THEN 'val' ELSE 'test' END").as("split"))
    val pairs = candidatePairs(s, d)
    val total = pairs.agg(count(lit(1)).as("n_total"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("n_total"), 6).as("pair_share"))
      .orderBy(col("split_a"), col("split_b"))
  }

  private val splitLeakageSql =
    s"""$shinglesSqlCte,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |${cappedPairsSql("bands")},
       |sp AS (SELECT doc_id,
       |   CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |        WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |        ELSE 'test' END AS split
       | FROM documents),
       |t AS (SELECT count(*) AS n_total FROM pairs)
       |SELECT least(a.split, b.split) AS split_a,
       |       greatest(a.split, b.split) AS split_b,
       |       count(*) AS n_pairs,
       |       round(CAST(count(*) AS DOUBLE) / t.n_total, 6) AS pair_share
       |FROM pairs p JOIN sp a ON a.doc_id = p.doc_a
       |     JOIN sp b ON b.doc_id = p.doc_b, t
       |GROUP BY 1, 2, t.n_total ORDER BY 1, 2""".stripMargin

  /** q151: CLUSTER-GRAIN SPLIT ASSIGNMENT — the remediation q149's
    * audit motivates (Lee et al.'s "split by cluster, not by doc"):
    * hash the q76 near-dup COMPONENT id into the 12/2/2 split space
    * (singletons hash their own doc_id), so every member of a
    * near-dup cluster lands in the same split and candidate-pair
    * leakage across splits is zero BY CONSTRUCTION — the band pairs
    * are exactly the edges the components were closed over. The
    * graded output is the same leakage matrix as q149 computed under
    * the cluster splits: its rows are provably diagonal (the spec
    * asserts it; the cross-engine hash match proves both engines
    * agree on the whole assignment chain). Output also carries each
    * class's doc count so the 12/2/2 proportions remain auditable
    * after the grain change.
    *
    * Scale shape: the memoized fixpoint labels (shared with
    * q76/q79/q84) + one skinny left join for the split key + q149's
    * matrix aggregate. */
  def clusterSplit(s: SparkSession, d: String): DataFrame = {
    val comp = dedupComponentsCore(s, d)
    val splits = Tables.documents(s, d).select(col("doc_id"))
      .join(comp.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster"), col("doc_id")))
      .select(col("doc_id"),
        expr("CASE WHEN substring(md5(concat('split:', CAST(ckey AS STRING))), 1, 1) " +
          "< 'c' THEN 'train' WHEN substring(md5(concat('split:', " +
          "CAST(ckey AS STRING))), 1, 1) < 'e' THEN 'val' ELSE 'test' END").as("split"))
    val pairs = candidatePairs(s, d)
    val total = pairs.agg(count(lit(1)).as("n_total"))
    val sizes = splits.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .join(broadcast(sizes).withColumnRenamed("split", "split_a"), Seq("split_a"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("n_total"), 6).as("pair_share"),
        col("n_docs").as("n_docs_a"))
      .orderBy(col("split_a"), col("split_b"))
  }

  private val clusterSplitSql =
    s"""$componentsSqlCtes,
       |sp AS (SELECT d.doc_id,
       |   CASE WHEN substring(md5('split:' ||
       |          CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |        WHEN substring(md5('split:' ||
       |          CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |        ELSE 'test' END AS split
       | FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |sz AS (SELECT split, count(*) AS n_docs FROM sp GROUP BY split),
       |${cappedPairsSql("bands", "cpairs")},
       |t AS (SELECT count(*) AS n_total FROM cpairs)
       |SELECT least(a.split, b.split) AS split_a,
       |       greatest(a.split, b.split) AS split_b,
       |       count(*) AS n_pairs,
       |       round(CAST(count(*) AS DOUBLE) / t.n_total, 6) AS pair_share,
       |       min(sz.n_docs) AS n_docs_a
       |FROM cpairs p JOIN sp a ON a.doc_id = p.doc_a
       |     JOIN sp b ON b.doc_id = p.doc_b
       |     JOIN sz ON sz.split = least(a.split, b.split), t
       |GROUP BY 1, 2, t.n_total ORDER BY 1, 2""".stripMargin

  /** q154: SOFT-DEDUP sampling weights — the down-weighting
    * alternative to dropping duplicates (the SlimPajama/"soft
    * deduplication" posture: keep every copy but sample each cluster
    * member at 1/cluster_size, so a document's EXPECTED appearance
    * count in an epoch is 1 regardless of how many near-copies exist;
    * hard dedup is the weight→{0,1} special case q84 implements).
    * Per doc: its q76 near-dup cluster (singletons → own doc_id, the
    * q151 rule), the cluster size, weight = 1/size, and the effective
    * token contribution n_tokens/size — the number a token-budget
    * planner actually sums.
    *
    * Scale shape: reuses the memoized fixpoint labels (no new
    * clustering work), one cluster-keyed size aggregate and one skinny
    * join-back of (cluster, size); weights are map-only arithmetic.
    * Nothing here is heavier than the clustering that already ran. */
  def softDedupWeights(s: SparkSession, d: String): DataFrame = {
    val comp = dedupComponentsCore(s, d)
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(comp.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val sizes = base.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    base.join(sizes.hint("shuffle_hash"), Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("n_tokens"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"),
        round(col("n_tokens").cast("double") / col("cluster_size"), 6)
          .as("eff_tokens"))
      .orderBy(col("doc_id"))
  }

  private val softDedupWeightsSql =
    s"""$componentsSqlCtes,
       |base AS (SELECT d.doc_id,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |    coalesce(c.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |sz AS (SELECT cluster, count(*) AS cluster_size FROM base GROUP BY cluster)
       |SELECT b.doc_id, b.cluster, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       |  b.n_tokens,
       |  round(CAST(1.0 AS DOUBLE) / sz.cluster_size, 6) AS weight,
       |  round(CAST(b.n_tokens AS DOUBLE) / sz.cluster_size, 6) AS eff_tokens
       |FROM base b JOIN sz USING (cluster) ORDER BY b.doc_id""".stripMargin

  /** B28 exact n-gram Jaccard on adjacent-id pairs (the verify step a
    * production pipeline runs on LSH candidates; adjacent ids keep the
    * graded output deterministic and O(n)). */
  def jaccardAdjacent(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(toks(col("text"))).as("tk"))
    t.alias("a").join(t.alias("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"),
        (size(array_intersect(col("a.tk"), col("b.tk"))).cast("double") /
          size(array_union(col("a.tk"), col("b.tk"))).cast("double")).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  private val jaccardAdjacentSql =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS tk FROM documents)
      |SELECT a.doc_id AS doc_id,
      | CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
      | CAST(len(list_distinct(list_concat(a.tk, b.tk))) AS DOUBLE) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_id""".stripMargin

  /** B32 per-doc token statistics. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).as("n_tokens"),
        col("n_chars"),
        (col("n_chars").cast("double") / size(toks(col("text")))).as("chars_per_token"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("n_subtokens"),
        length(col("text")).as("len_check"))
      .orderBy(col("doc_id"))

  private val textStatsSql =
    """SELECT doc_id, lang,
      | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      | n_chars,
      | CAST(n_chars AS DOUBLE) / len(string_split(text,' ')) AS chars_per_token,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_subtokens,
      | CAST(LENGTH(text) AS INT) AS len_check
      |FROM documents ORDER BY doc_id""".stripMargin

  /** B33 corpus word count, top 20. */
  def wordCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(20)

  private val wordCountSql =
    """SELECT w, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents) t
      |GROUP BY w ORDER BY n DESC, w LIMIT 20""".stripMargin

  /** B34 TF-IDF: pure relational (tf ⋈ doc-length ⋈ df ⋈ corpus size),
    * top-3 terms for doc_id < 20. df/idf computed over the FULL corpus;
    * only the projection is restricted, as a production pipeline would. */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    // df is a vocabulary-bounded HASH aggregate over tf (map-side
    // partial, no sort); doc_len is a window over the PROJECTED doc
    // slice only. An earlier formulation computed both as windows over
    // the full corpus-grain tf — two corpus-wide shuffle+sorts just to
    // keep a linear chain; the tf branch point costs nothing on the
    // projected side because the doc_id<20 predicate pushes through
    // the aggregate to the scan, so only ~20 docs re-explode. At
    // 100 TB the df side is the standard dictionary aggregate and the
    // projection side scans one partition-pruned slice.
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val x = tf
      .filter(col("doc_id") < 20)
      .withColumn("doc_len", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      .join(df, Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        (col("cnt").cast("double") / col("doc_len")) *
          log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w"))
    x.withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("w").as("term"), round(col("tfidf"), 6).as("tfidf"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  private val tfidfTopSql =
    """WITH words AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY doc_id, w),
      |dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM words GROUP BY doc_id),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |total AS (SELECT COUNT(*) AS n_docs FROM documents),
      |x AS (SELECT tf.doc_id, tf.w AS term,
      |        (CAST(cnt AS DOUBLE)/doc_len) * LN(CAST(n_docs AS DOUBLE)/df) AS tfidf
      |      FROM tf JOIN dl USING (doc_id) JOIN df ON tf.w = df.w CROSS JOIN total
      |      WHERE tf.doc_id < 20)
      |SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, CAST(rn AS INT) AS rn
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM x) t
      |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** B35 language/source distribution. */
  def langSourceDist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("source"))

  private val langSourceDistSql =
    """SELECT lang, source, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS DOUBLE)/COUNT(*) AS avg_chars,
      | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  private val stopProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("ni", "hao", "shi", "de", "wo"))

  private def inList(xs: Seq[String]): String = xs.map("'" + _ + "'").mkString(", ")

  /** Language-ID by stopword-profile voting (n-gram heuristic family):
    * deterministic score per profile + fixed tie priority. Emits the
    * confusion matrix vs. the labeled lang column.
    *
    * All five profile scores come from ONE codegen'd pass over the
    * token array ([[graft.functions.StopwordCounts]]) instead of five
    * interpreted `filter` HOFs — this was the slowest map-only query
    * in the suite, and under whole-stage codegen the repeated `sc[i]`
    * references dedupe via subexpression elimination. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("sc", stopwordCounts(toks(col("text")), stopProfiles.map(_._2)))
      .select((col("lang") +: stopProfiles.zipWithIndex.map {
        case ((l, _), i) => col("sc")(i).as(s"s_$l")
      }): _*)
    val pred = when(
      col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
        && col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
      .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr")
        && col("s_es") >= col("s_zh"), "es")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
      .when(col("s_fr") >= col("s_zh"), "fr")
      .otherwise("zh")
    scored.withColumn("pred_lang", pred)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  private val langIdSql = {
    val scores = stopProfiles.map { case (l, ws) =>
      s"len(list_filter(string_split(text,' '), t -> t IN (${inList(ws)}))) AS s_$l"
    }.mkString(",\n        ")
    s"""WITH scored AS (SELECT lang,
       |        $scores
       |      FROM documents),
       |p AS (SELECT lang,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       | FROM scored)
       |SELECT lang, pred_lang, COUNT(*) AS n FROM p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** Quality scoring: token count, stopword ratio, mean token length,
    * rule-based ok/low flag. All-integer inputs → exact doubles; the
    * stopword count is the codegen'd single-profile
    * [[graft.functions.StopwordCounts]] pass. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("tk", toks(col("text")))
      .withColumn("n_tok", size(col("tk")))
      .withColumn("n_stop", stopwordCounts(col("tk"), Seq(stopProfiles.head._2))(0))
      .select(col("doc_id"),
        col("n_tok"),
        (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
        ((col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok")).as("avg_tok_len"),
        when(col("n_tok") >= 20 && col("n_stop") * 2 <= col("n_tok"), "ok")
          .otherwise("low").as("quality"))
      .orderBy(col("doc_id"))
  }

  private val qualityScoreSql = {
    val en = inList(stopProfiles.head._2)
    s"""WITH t AS (SELECT doc_id, n_chars,
       |  CAST(len(string_split(text,' ')) AS INT) AS n_tok,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ($en))) AS INT) AS n_stop
       | FROM documents)
       |SELECT doc_id, n_tok,
       | CAST(n_stop AS DOUBLE)/n_tok AS stop_ratio,
       | CAST(n_chars - (n_tok - 1) AS DOUBLE)/n_tok AS avg_tok_len,
       | CASE WHEN n_tok >= 20 AND n_stop * 2 <= n_tok THEN 'ok' ELSE 'low' END AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Karp-Rabin-style polynomial rolling hash over the token stream —
    * pure integer fold, exact on both engines, and incremental at
    * scale (append-only corpora re-hash only the tail). */
  def rollingHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        aggregate(
          transform(toks(col("text")), t => ascii(t) * 131 + length(t)),
          lit(7L),
          (a, b) => (a * 31 + b) % 1000000007L).as("rhash"))
      .orderBy(col("doc_id"))

  private val rollingHashSql =
    """SELECT doc_id,
      | list_reduce(list_prepend(7::BIGINT,
      |   [ascii(t)*131 + length(t) for t in string_split(text,' ')]),
      |   (a, b) -> (a*31 + b) % 1000000007) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprinting: 64-bit content fingerprint (md5 prefix). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"),
        col("source"))
      .orderBy(col("doc_id"))

  private val fingerprintSql =
    """SELECT doc_id, substring(md5(text), 1, 16) AS fp, source
      |FROM documents ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash over token md5 nibbles: bit j set iff the majority
    * of tokens have the high bit of hex digit j set. Pure integer
    * aggregation → exact on both engines; hamming-near docs share most
    * bits. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    // Doc-local: md5 each token once into an array; bit balance over
    // tokens is 2·(#high-nibble) − n, so the whole 16-bit signature is
    // one per-row expression — no explode, no shuffle.
    val sh = (0 until 16).map { j =>
      val pos = size(filter(col("hs"), h => substring(h, j + 1, 1).isin(highHex: _*)))
      when(pos * 2 - size(col("hs")) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // the repartition sits BETWEEN the hs projection and its 32
    // consumers: it parallelizes the single-row-group scan AND acts as
    // the exchange barrier against projection collapse (codegen's
    // subexpression elimination covers most of it; the barrier is the
    // documented belt-and-braces form, measured ~10% faster)
    Tables.documents(s, d)
      .withColumn("hs", transform(toks(col("text")), t => md5(t)))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), sh.cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }

  private val simhashSql = {
    val bits = (0 until 16).map { j =>
      s"SUM(CASE WHEN substring(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n  ")
    val combine = (0 until 16).map(j =>
      s"(CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
       |tok AS (SELECT doc_id, md5(w) AS h FROM w),
       |b AS (SELECT doc_id,
       |  $bits
       | FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM b ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: flag train docs sharing ≥3 distinct
    * 3-shingles with a probe ("benchmark") set — here the doc_id%31
    * slice stands in for the eval suite a real pipeline guards. The
    * probe side's filter pushes down BEFORE the shingle transform, so
    * only ~1% of docs pay shingling twice, its distinct shingle set is
    * broadcast, and the train side stays a map-only scan + broadcast
    * semi-shape join + one groupBy(doc_id) — no shuffle keyed on
    * shingles at any scale. */
  /** The doc-grain DISTINCT-shingle frame the whole contamination
    * family reads (q69, q103, q107, and q158 through q69): one
    * (doc_id, shingle) row per distinct shingle per doc. Memoized
    * (r16, guide §1.2/§2.4): four queries × two bench passes were
    * re-running the identical scan + shingle transform + explode —
    * this IS the decontamination working set, materialized once per
    * corpus snapshot exactly like the jaccard_docs / simhash_sigs
    * frames one shelf over. Probe/train slices filter the checkpoint
    * instead of re-shingling. */
  private def contamShd(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "contam_shd") {
      contamShdPlan(s, d).localCheckpoint()
    }

  /** The pre-checkpoint plan behind [[contamShd]], factored out
    * (ADVICE_r16) so the memo build and q103's scan-rooted regime
    * ESTIMATE read the same lineage by construction — if the shingle
    * recipe ever changes, the broadcast-vs-shuffle signal moves with
    * it instead of silently diverging from the probe frame. */
  private def contamShdPlan(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d)
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("shingle"))

  def contamination(s: SparkSession, d: String): DataFrame = {
    val shd = contamShd(s, d)
    val probe = shd.filter(col("doc_id") % 31 === 0)
      .select(col("shingle")).distinct()
    shd.filter(col("doc_id") % 31 =!= 0)
      .join(broadcast(probe), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  private val contaminationSql =
    s"""$shinglesSqlCte,
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |probe AS (SELECT DISTINCT s FROM shd WHERE doc_id % 31 = 0)
       |SELECT doc_id, COUNT(*) AS n_shared
       |FROM shd JOIN probe USING (s)
       |WHERE doc_id % 31 <> 0
       |GROUP BY doc_id HAVING COUNT(*) >= 3 ORDER BY doc_id""".stripMargin

  /** q103: two-phase benchmark decontamination — same contract as q69
    * (flag train docs sharing ≥3 distinct shingles with the benchmark
    * set, identical oracle), but the plan is the one that survives a
    * benchmark set too large to broadcast exactly: the probe shingles
    * collapse into a FIXED-SIZE Bloom sketch (1 MiB of bits no matter
    * the probe cardinality) built by Spark's own runtime-filter
    * aggregate, the sketch rides in as a scalar subquery (the same
    * shape Spark's `InjectRuntimeFilter` builds), and the train side
    * is pruned by `might_contain` BEFORE any join. Only the
    * surviving sliver (true overlaps + the sketch's false positives)
    * reaches the exact shingle join that keeps the answer
    * bit-identical to q69's — bloom prunes, the join proves.
    *
    * The exact phase is threshold-ADAPTIVE, not hardcoded: the probe
    * set broadcasts only while Catalyst's own size estimate for it
    * (`optimizedPlan.stats.sizeInBytes` — no extra job, the same
    * signal Spark's planner consults) stays within the session's
    * `spark.sql.autoBroadcastJoinThreshold`; a benchmark set
    * estimated past that rides a pinned shuffle-hash join instead,
    * keyed on the same shingle column the Bloom sketch already
    * pruned to a sliver. That IS the 100 TB story in code: small
    * eval suite → broadcast semi-shape, eval suite of millions of
    * shingles → bounded-memory shuffle, identical answer either way
    * (NativeExpressionsSpec runs both regimes). */
  def bloomContamination(s: SparkSession, d: String): DataFrame =
    bloomContaminationAt(s, d, maxBroadcastBytes = None)

  /** General form behind q103. `maxBroadcastBytes`: largest estimated
    * probe size the exact phase may broadcast — `None` defers to the
    * session's `spark.sql.autoBroadcastJoinThreshold` (so the
    * operator obeys the same knob as the rest of the plan), `Some(0)`
    * forces the shuffle regime. */
  def bloomContaminationAt(s: SparkSession, d: String,
      maxBroadcastBytes: Option[Long]): DataFrame = {
    val shd = contamShd(s, d)
    val probe = shd.filter(col("doc_id") % 31 === 0)
      .select(col("shingle")).distinct()
    val sketch = probe.agg(graft.functions.GraftFunctions
      .bloomFilterAgg(xxhash64(col("shingle")), 1L << 20, 1L << 23).as("bf"))
    val limit = maxBroadcastBytes.getOrElse(GraftShims.autoBroadcastThreshold(s))
    // the regime estimate must come from the SCAN-rooted plan: the
    // memoized shd is a checkpoint and checkpoint plans carry no
    // usable stats (the documented rule) — estimating on it would
    // read defaultSizeInBytes and unconditionally flip the exact
    // phase to the shuffle regime. Same signal as before the memo;
    // planning-only, no job.
    val probeEst = contamShdPlan(s, d)
      .filter(col("doc_id") % 31 === 0)
      .select(col("shingle")).distinct()
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val exactProbe =
      if (limit >= 0 && probeEst <= limit) broadcast(probe)
      else probe.hint("shuffle_hash")
    shd.filter(col("doc_id") % 31 =!= 0)
      .filter(graft.functions.GraftFunctions
        .mightContain(sketch, xxhash64(col("shingle"))))
      .join(exactProbe, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  /** q158: DECONTAMINATION RETENTION report — the number a curation
    * team actually reviews after running the q69/q103 gate: per
    * source, how many train-side docs (and tokens) survive dropping
    * everything flagged as benchmark-contaminated (≥3 shared distinct
    * shingles with the held-out probe slice). A source with an
    * outlier retention is either genuinely contaminated (a mirror of
    * the eval suite) or the gate is misfiring on it — either way the
    * per-source view is the alarm, the doc-grain q69/q103 output is
    * the forensics.
    *
    * Scale shape: q69's broadcast semi-shape flags (the q103 Bloom
    * two-phase is the same answer at benchmark scale), one skinny
    * left join of (doc_id) flags onto the doc-grain stats, one
    * source-grain aggregate. */
  def deconRetention(s: SparkSession, d: String): DataFrame = {
    val train = Tables.documents(s, d)
      .filter(col("doc_id") % 31 =!= 0)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
    val flagged = contamination(s, d).select(col("doc_id"), lit(1).as("flag"))
    train.join(flagged.hint("shuffle_hash"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("flag").isNotNull, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("nt")).as("tokens_train"),
        sum(when(col("flag").isNull, col("nt")).otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("n_train"), col("n_flagged"),
        (col("n_train") - col("n_flagged")).as("n_kept"),
        col("tokens_train"), col("tokens_kept"),
        round((col("n_train") - col("n_flagged")).cast("double") /
          col("n_train"), 6).as("retention"),
        round(col("tokens_kept").cast("double") / col("tokens_train"), 6)
          .as("token_retention"))
      .orderBy(col("source"))
  }

  private val deconRetentionSql =
    s"""$shinglesSqlCte,
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |probe AS (SELECT DISTINCT s FROM shd WHERE doc_id % 31 = 0),
       |fl AS (SELECT doc_id FROM shd JOIN probe USING (s)
       |       WHERE doc_id % 31 <> 0
       |       GROUP BY doc_id HAVING COUNT(*) >= 3),
       |tr AS (SELECT d.doc_id, d.source,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
       |         fl.doc_id IS NOT NULL AS flagged
       |       FROM documents d LEFT JOIN fl ON fl.doc_id = d.doc_id
       |       WHERE d.doc_id % 31 <> 0)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(count(*) - SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(nt) AS BIGINT) AS tokens_train,
       |  CAST(SUM(CASE WHEN flagged THEN 0 ELSE nt END) AS BIGINT) AS tokens_kept,
       |  round(CAST(count(*) - SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS retention,
       |  round(CAST(SUM(CASE WHEN flagged THEN 0 ELSE nt END) AS DOUBLE)
       |        / SUM(nt), 6) AS token_retention
       |FROM tr GROUP BY source ORDER BY source""".stripMargin

  /** q104: exact n-gram Jaccard similarity join via prefix filtering
    * (the All-Pairs/PPJoin family) — the EXACT-threshold complement
    * to q34's approximate MinHash candidates. Every shingle gets its
    * global document frequency; each doc's shingles are ranked
    * rarest-first (df, then shingle — a total order both engines
    * share), and only the first `n div 2 + 1` per doc join as
    * candidate keys: the prefix-filtering lemma for tau = 0.5
    * guarantees any pair with J >= 0.5 shares a prefix shingle
    * (JaccardJoinSpec demonstrates recall against brute-force
    * all-pairs). The rarest-first order is also the scale story —
    * candidate keys are by construction the LOW-df shingles, so the
    * self-join never blocks on a hot key, and the exact intersection
    * count runs only over candidate pairs, never corpus².
    *
    * The join runs over one representative per distinct TEXT (min
    * doc_id), because identical copies are trivially J=1 and an
    * exact similarity join on an un-deduped corpus pays candidate
    * pairs QUADRATIC in the duplication factor — measured: the 10x
    * mirrored corpus (~90% true duplicates) ran 249 s raw vs ~6 s
    * dedup-first, both sentinel-clean. Exact dedup before near-dup
    * join is the pipeline ordering (q30 before q34 likewise), folded
    * in here so the operator carries its own precondition. */
  def jaccardJoin(s: SparkSession, d: String): DataFrame =
    jaccardJoinAt(s, d, 1, 2).orderBy(col("doc_a"), col("doc_b"))

  /** The general operator behind q104: exact Jaccard similarity join
    * at threshold tau = p/q (a RATIONAL, so every bound below is
    * exact integer arithmetic — no cross-engine float drift in the
    * pruning or the final gate). Prefix length per doc is the
    * standard probe-prefix bound `n - ceil(tau*n) + 1`
    * (= `n div 2 + 1` at tau = 1/2, the q104 instance): any partner
    * with J >= tau must share at least one of the doc's
    * `n - ceil(tau*n) + 1` rarest shingles, because J >= tau forces
    * overlap >= ceil(tau*n) shared shingles and a pair disjoint on
    * the prefix can share at most the n - prefixLen suffix ones.
    * JaccardJoinSpec proves recall against brute force at three taus.
    *
    * Plan shape — candidates skinny, verify compact: the prefix
    * self-join carries only (doc_id, n, shingle), and the exact
    * intersection joins the (tiny) candidate-pair set back against
    * the COMPACT per-doc array table — one row per doc carrying its
    * sorted shingle array — so `array_intersect` runs once per
    * candidate pair on a codegen'd row. Two designs this replaces,
    * both measured at sf0.1: the original five-subtree formulation
    * (df join + two windows + candidate distinct + two join-backs
    * against the EXPLODED 500k-row shingle table + groupBy ≈ 9
    * exchanges, 6.3 s in-suite) and the record-with-tokens MapReduce
    * shape that carries each doc's whole array once per prefix key
    * through the self-join exchange (2 exchanges but prefixLen×
    * array replication ≈ a ~1 GB shuffle at sf0.1 — fast on an idle
    * disk, 2-12 s under IO contention the CPU sentinels cannot even
    * see). Shuffle volume here is ~35 MB: skinny prefix keys, then
    * arrays move exactly twice (once per join-back side), keyed on
    * doc_id — the 100 TB-relevant invariant, since similarity-join
    * cost at scale IS shuffle bytes. Candidate keys are low-df by
    * construction, so no hot key; the join-backs are shuffle-hash on
    * doc_id (broadcast would be wrong: the array table is
    * corpus-sized). */
  /** The rarest-first shingle-array doc frame shared by q104 and
    * q131 (memo tag "jaccard_docs"): one row per distinct text,
    * shingles ascending by (global df, shingle). */
  private def jaccardDocsBuild(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("toks", toks(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", shingles(col("toks"), 3))
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("shingle"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // rarest-first = ascending (df, shingle): a total order BOTH
    // engines share, realized here by sorting (df, shingle) structs
    // — any consistent global order preserves the prefix lemma, and
    // putting low-df shingles first is what keeps candidate keys
    // cold at scale
    sh.join(dfreq.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("shingle")))),
        x => x.getField("shingle")).as("shs"))
      .withColumn("n", size(col("shs")))
      .localCheckpoint()
  }

  /** The memoized exact-Jaccard truth set at τ = p/q. Four graded
    * queries consume the τ=1/2 instance (q104's join itself, the
    * q144/q146 banding operating points, q159's SimHash point) and
    * pre-memo the suite re-derived the expensive prefix-join + verify
    * chain per caller — 16% of suite wall re-computing one frame. One
    * eager build per (session, sfDir, τ); every reference after is a
    * checkpoint scan. The 100 TB translation: the dedup truth/audit
    * table is materialized once per corpus snapshot and every eval
    * reads it, exactly like the cluster-label frame. */
  def jaccardJoinAt(s: SparkSession, d: String, p: Int, q: Int): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, s"jaccard_truth_${p}_$q") {
      jaccardJoinBuild(s, d, p, q).localCheckpoint()
    }

  private def jaccardJoinBuild(s: SparkSession, d: String, p: Int, q: Int): DataFrame = {
    require(p > 0 && q >= p, s"tau = $p/$q must lie in (0, 1]")
    // One row per distinct text: (doc_id, shs rarest-first, n). The
    // global-df ranking needs an explode + two aggregations, so the
    // result is memoized like q97's edge list: one eager build, every
    // reference a checkpoint scan (both prefix sides read it).
    // Checkpoint scans carry no stats, so the self-join below pins
    // its strategy explicitly (the checkpoint-plans-lose-stats rule).
    val docs = jaccardDocsMemo(s, d)
    // prefixLen = n - ceil(p*n/q) + 1, with ceil as exact integers:
    // SQL `div` (floor division), NOT Column./ which is always
    // double division and would truncate the bound (lost recall at
    // e.g. tau=2/3, n=7: 2.67 vs the correct 3)
    val pref = docs.select(col("doc_id"), col("n"),
      explode(slice(col("shs"), lit(1),
        col("n") - expr(s"(n * $p + ${q - 1}) div $q") + 1)).as("shingle"))
    // length filter (recall-safe candidate pruning, result unchanged):
    // J >= tau forces tau*na <= nb <= na/tau, so cross-length pairs
    // can't qualify and need not be enumerated. distinct BEFORE the
    // verify join-backs: a pair sharing k prefix shingles appears k
    // times, and the arrays should move once per pair, not k times.
    val cand = pref.select(col("shingle"), col("doc_id").as("da"), col("n").as("na"))
      .join(pref.select(col("shingle"), col("doc_id").as("db"), col("n").as("nb"))
        .hint("shuffle_hash"), Seq("shingle"))
      .filter(col("da") < col("db") &&
        col("nb") * q >= col("na") * p && col("na") * q >= col("nb") * p)
      .select(col("da"), col("db"), col("na"), col("nb")).distinct()
    cand
      .join(docs.select(col("doc_id").as("da"), col("shs").as("sa"))
        .hint("shuffle_hash"), Seq("da"))
      .join(docs.select(col("doc_id").as("db"), col("shs").as("sb"))
        .hint("shuffle_hash"), Seq("db"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      // ONE division of exact integers — correctly rounded to the
      // same double on both engines, so no rounding slack needed; the
      // GATE stays in the integer domain (q*inter >= p*union), exact
      // at every tau where a float literal like 0.7 would not be
      .filter(col("inter") * q >= (col("na") + col("nb") - col("inter")) * p)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  private val jaccardJoinSql =
    """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
      |              FROM documents GROUP BY text),
      |tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM reps),
      |sh AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i+2), ' ')
      |                              for i in generate_series(1, len(toks)-2)]) AS s
      |       FROM tok),
      |shd AS (SELECT DISTINCT doc_id, s FROM sh),""".stripMargin + s"""
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |dfq AS (SELECT s, COUNT(*) AS df FROM shd GROUP BY s),
       |pref AS (SELECT doc_id, s FROM (
       |    SELECT shd.doc_id, shd.s,
       |           ROW_NUMBER() OVER (PARTITION BY shd.doc_id
       |                              ORDER BY dfq.df, shd.s) AS rn, sz.n
       |    FROM shd JOIN dfq USING (s) JOIN sz USING (doc_id))
       |  WHERE rn <= n // 2 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
       |ints AS (SELECT c.da, c.db, COUNT(*) AS inter
       |         FROM cand c
       |         JOIN shd x ON x.doc_id = c.da
       |         JOIN shd y ON y.doc_id = c.db AND y.s = x.s
       |         GROUP BY c.da, c.db)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard
       |FROM ints i JOIN sz sa ON sa.doc_id = i.da JOIN sz sb ON sb.doc_id = i.db
       |WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Band widths for an nBands split of the 64 signature bits: the
    * first (64 mod nBands) bands take the ceiling width (e.g. 6 bands
    * → 11,11,11,11,10,10). Shared by the builder, the join, and the
    * spec's brute-force scan so all three agree on the layout. */
  private[graft] def simhashWidths(nBands: Int): Seq[Int] =
    Seq.tabulate(nBands)(i => 64 / nBands + (if (i < 64 % nBands) 1 else 0))

  /** The majority-vote band columns over an `hs` column (array of
    * per-token md5 hex), as the signature builder computes them. */
  private[graft] def simhashBandExprs(nBands: Int): Seq[Column] = {
    // per-bit membership sets: bit k of a hex digit is set iff the
    // digit lies in bitSets(k)
    val bitSets = Seq(
      Seq("1", "3", "5", "7", "9", "b", "d", "f"),
      Seq("2", "3", "6", "7", "a", "b", "e", "f"),
      Seq("4", "5", "6", "7", "c", "d", "e", "f"),
      Seq("8", "9", "a", "b", "c", "d", "e", "f"))
    val widths = simhashWidths(nBands)
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nBands).map { b =>
      (0 until widths(b)).map { j =>
        val t = offsets(b) + j
        val pos = t / 4 + 1
        val pop = size(filter(col("hs"),
          h => substring(h, pos, 1).isin(bitSets(t % 4): _*)))
        when(pop * 2 - size(col("hs")) >= 0, lit((1L << j))).otherwise(lit(0L))
      }.reduce(_ + _).as(s"b$b")
    }
  }

  /** The parametric signature frame (doc_id, b0..b{nBands−1}), one
    * row per distinct text. Band b's bit j is GLOBAL signature bit
    * (offset_b + j) — md5 hex digit (t div 4 + 1), bit (t mod 4) —
    * so every nBands split encodes the SAME 64-bit Charikar
    * signature, only partitioned differently; total Hamming distance
    * is layout-independent. nBands = 4 is the q105 instance.
    *
    * The majority vote is 64 doc-local array scans — built once,
    * memoized, every reference a checkpoint scan (both band-join sides
    * read it). Checkpoint scans carry no stats → the self-join pins
    * its strategy (the checkpoint-plans-lose-stats rule). Exposed
    * (package-private) so SimhashJoinSpec can obtain the frame whether
    * or not the memo is enabled (SPARK_GRAFT_MEMO=false rebuilds). */
  private[graft] def simhashSignaturesAt(
      s: SparkSession, d: String, nBands: Int): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d,
      if (nBands == 4) "simhash_sigs" else s"simhash_sigs_$nBands") {
      val bands = simhashBandExprs(nBands)
      Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("hs", transform(toks(col("text")), t => md5(t)))
        .select(col("doc_id") +: bands: _*)
        .localCheckpoint()
    }

  /** q105: SimHash near-duplicate pair join at Hamming distance ≤ 3 —
    * the third member of the near-dup join family, completing the
    * trade-off menu: MinHash-LSH (q34) is probabilistic with tunable
    * bands, the prefix-filtered Jaccard join (q104) is exact on set
    * overlap, and SimHash (Charikar's rounding; the web-dedup design
    * of Manku/Jain/Sarma, WWW'07) is exact on FINGERPRINT distance
    * with a constant-size 8-byte signature per doc — the cheapest to
    * store and the only one whose candidate key is independent of
    * document length.
    *
    * Signature: 64 bits as FOUR 16-bit band ints (b0..b3) — bit j of
    * band b is the majority vote over the doc's tokens of bit (j mod
    * 4) of md5 hex digit `4b + j/4 + 1` (the md5-nibble bit source
    * both engines share; ties round up exactly like q43). The
    * band-int representation, not one packed int64, is deliberate:
    * every value stays small and positive (no 64-bit sign games in
    * either engine — bit 63 of a packed signature would overflow
    * DuckDB's BIGINT sum and trip Spark's ANSI overflow check), and
    * the bands ARE the join keys.
    *
    * Candidate generation is the WWW'07 pigeonhole: any pair within
    * Hamming distance 3 of a 64-bit fingerprint agrees EXACTLY on at
    * least one of 4 disjoint 16-bit bands (3 flipped bits can touch
    * at most 3 bands), so a 4-way band equi-join has perfect recall
    * and the exact `bit_count(xor)` verify on the joined row keeps
    * precision exact. Scale shape: one row per distinct text (exact
    * dedup folded in, the q104 precondition), signatures built once
    * and memoized (both join sides read the checkpoint), candidate
    * keys are 16-bit band values — 65536 buckets spread uniformly by
    * the hash mixing, never corpus²; at a corpus where ~n²/2¹⁶ still
    * overwhelms, widen to 6×11-bit bands for Hamming ≤ 5 or chunk
    * first (q86). */
  def simhashJoin(s: SparkSession, d: String): DataFrame =
    simhashJoinAt(s, d, 3)

  /** The Hamming bound as a parameter (the q104 tau generalization):
    * distance ≤ k needs k+1 disjoint bands (k flips touch at most k
    * bands, so one of k+1 is untouched — the pigeonhole holds at any
    * k), widths from [[simhashWidths]] (k=3 → 4×16, the q105
    * instance; k=5 → 6 bands of 11/10 bits). Denser bounds trade
    * bucket selectivity (2^width buckets) for recall radius exactly
    * as WWW'07 prescribes. */
  def simhashJoinAt(s: SparkSession, d: String, k: Int): DataFrame = {
    val nBands = k + 1
    val sig = simhashSignaturesAt(s, d, nBands)
    val bandCols = (0 until nBands).map(b => col(s"b$b"))
    val banded = sig.select(col("doc_id") +: bandCols :+
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), col(s"b$b").as("v"))): _*)).as("bv"): _*)
      .select(col("doc_id") +: bandCols :+
        col("bv.band").as("band") :+ col("bv.v").as("v"): _*)
    val left = banded.select(col("band") +: col("v") +:
      col("doc_id").as("doc_a") +:
      (0 until nBands).map(b => col(s"b$b").as(s"a$b")): _*)
    val right = banded.select(col("band") +: col("v") +:
      col("doc_id").as("doc_b") +:
      (0 until nBands).map(b => col(s"b$b").as(s"c$b")): _*)
    val ham = (0 until nBands).map(b =>
      bit_count(col(s"a$b").bitwiseXOR(col(s"c$b")))).reduce(_ + _)
    left.join(right.hint("shuffle_hash"), Seq("band", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= k)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      // a pair within distance k can agree on up to k+1 bands → up to
      // k+1 identical candidate rows; distinct on the tiny qualifying set
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The SimHash pair CTE chain (reps-independent names so it can sit
    * next to [[exactJaccardCtes]] in a composed oracle): `swords` →
    * `spairs(doc_a, doc_b, hamming)` at hamming ≤ 3, rep grain. */
  private lazy val simhashPairCtes: String = {
    val sets = Seq(
      "'1','3','5','7','9','b','d','f'",
      "'2','3','6','7','a','b','e','f'",
      "'4','5','6','7','c','d','e','f'",
      "'8','9','a','b','c','d','e','f'")
    val bal = (for (b <- 0 until 4; j <- 0 until 16) yield {
      val pos = 4 * b + j / 4 + 1
      s"SUM(CASE WHEN substring(h,$pos,1) IN (${sets(j % 4)}) THEN 1 ELSE -1 END) AS s${b}_$j"
    }).mkString(",\n  ")
    val bands = (0 until 4).map { b =>
      val terms = (0 until 16).map(j =>
        s"(CASE WHEN s${b}_$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"CAST($terms AS BIGINT) AS b$b"
    }.mkString(",\n  ")
    s"""swords AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM reps),
       |stok AS (SELECT doc_id, md5(w) AS h FROM swords),
       |bal AS (SELECT doc_id,
       |  $bal
       | FROM stok GROUP BY doc_id),
       |ssig AS (SELECT doc_id,
       |  $bands
       | FROM bal),
       |spairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        CAST(bit_count(xor(a.b0,b.b0)) + bit_count(xor(a.b1,b.b1)) +
       |             bit_count(xor(a.b2,b.b2)) + bit_count(xor(a.b3,b.b3)) AS BIGINT) AS hamming
       |   FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
       |    AND (a.b0=b.b0 OR a.b1=b.b1 OR a.b2=b.b2 OR a.b3=b.b3))""".stripMargin
  }

  private lazy val simhashJoinSql =
    s"""WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |$simhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM spairs WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q159: SIMHASH OPERATING-POINT eval — the q144/q146 recipe applied
    * to the OTHER near-dup family: precision/recall of the hamming ≤ 3
    * SimHash candidate pairs (q105's graded join) against the exact
    * τ = 1/2 Jaccard ground truth (q104's graded join). The two
    * families make opposite errors — MinHash banding samples the
    * Jaccard S-curve, SimHash thresholds an angle between weighted
    * term vectors — so a pipeline choosing between them (or stacking
    * both) needs them graded on the SAME truth set; this row makes
    * the comparison oracle-pinned next to q144/q146's banding points.
    *
    * Scale shape: both pair sets reuse their memoized rep-grain cores
    * (signature checkpoint, shared shingle frame); the eval adds one
    * skinny left-semi and three 1-row aggregates — the q144 shape. */
  def simhashOperatingPoint(s: SparkSession, d: String): DataFrame = {
    val cand = simhashJoinAt(s, d, 3)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val exact = jaccardJoinAt(s, d, 1, 2)
      .select(col("doc_a"), col("doc_b"))
    val tp = cand.join(exact.hint("shuffle_hash"),
      col("da") === col("doc_a") && col("db") === col("doc_b"), "left_semi")
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
      .select(col("n_cand"), col("n_exact"), col("n_tp"),
        when(col("n_cand") > 0,
          round(col("n_tp").cast("double") / col("n_cand"), 6)).as("precision"),
        when(col("n_exact") > 0,
          round(col("n_tp").cast("double") / col("n_exact"), 6)).as("recall"))
  }

  private lazy val simhashOperatingPointSql =
    s"""WITH $exactJaccardCtes,
       |$simhashPairCtes,
       |scand AS (SELECT doc_a, doc_b FROM spairs WHERE hamming <= 3),
       |m AS (SELECT
       |  (SELECT count(*) FROM scand) AS n_cand,
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM scand c JOIN exact e
       |     ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b) AS n_tp)
       |SELECT n_cand, n_exact, n_tp,
       |  CASE WHEN n_cand > 0 THEN round(CAST(n_tp AS DOUBLE) / n_cand, 6) END AS precision,
       |  CASE WHEN n_exact > 0 THEN round(CAST(n_tp AS DOUBLE) / n_exact, 6) END AS recall
       |FROM m""".stripMargin

  /** Near-dup cluster rollup by fingerprint prefix: group docs on a
    * 40-char prefix key, keep clusters of ≥2, and report the member
    * count plus the distinct sources involved — the "which feeds are
    * mirroring each other" rollup a dedup pass reports. collect_set is
    * bounded by cluster size, and the sorted-array join makes the set
    * column hash-stable across engines and partitionings. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(substring(col("text"), 1, 40).as("pfx"))
      .agg(min(col("doc_id")).as("rep_doc"),
        count(lit(1)).as("n_members"),
        array_join(sort_array(collect_set(col("source"))), ",").as("sources"))
      .filter(col("n_members") > 1)
      .select(col("rep_doc"), col("n_members"), col("sources"))
      .orderBy(col("rep_doc"))

  private val dupClustersSql =
    """SELECT MIN(doc_id) AS rep_doc, COUNT(*) AS n_members,
      | array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
      |FROM documents GROUP BY substring(text, 1, 40) HAVING COUNT(*) > 1
      |ORDER BY rep_doc""".stripMargin

  /** q106: cross-corpus shingle novelty — per doc, the fraction of its
    * distinct 3-shingles whose FIRST occurrence (min doc_id over the
    * whole corpus) is this doc. The curation signal behind "how much
    * does this doc add that the corpus doesn't already have" — the
    * complement of the dedup family: dedup removes repeats, novelty
    * RANKS the remainder by marginal contribution (low-novelty docs
    * are paraphrase-heavy; a training mix oversampling them buys
    * tokens, not information).
    *
    * Plan shape for 100 TB: one shuffle keyed on the shingle (a
    * partition-only window computes min(doc_id) per shingle — no
    * self-join, no second pass over the corpus), then one doc-grain
    * aggregate. Rows through the shuffle are skinny (shingle,
    * doc_id); the division is a single per-row IEEE op on two exact
    * longs, bit-identical across engines (the q104 pattern). */
  def shingleNovelty(s: SparkSession, d: String): DataFrame = {
    val shd = shingleArrays(s, d)
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("shingle"))
    val w = Window.partitionBy(col("shingle"))
    shd.withColumn("first_id", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  private val shingleNoveltySql =
    s"""$shinglesSqlCte,
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |f AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY s) AS first_id FROM shd)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |       CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q107: contamination-ratio report — the threshold-setting view on
    * top of the q69/q103 flag: per train doc, the fraction of its
    * distinct shingles shared with the benchmark set, rolled up into
    * integer deciles (how contaminated is the corpus, and how is the
    * contamination distributed — the histogram an operator reads
    * before choosing the "drop at >=X% overlap" cutoff, the n-gram
    * analogue of the GPT-3 appendix-C methodology).
    *
    * Decile assignment is PURE INTEGER arithmetic (10*n_shared div
    * n_sh, capped at 9) — no floating-point boundary can disagree
    * between engines. The probe set broadcasts exactly like q69; both
    * per-doc aggregates are doc-grain skinny; the final rollup is 10
    * rows. */
  def contaminationRatio(s: SparkSession, d: String): DataFrame = {
    val shd = contamShd(s, d)
    val probe = shd.filter(col("doc_id") % 31 === 0)
      .select(col("shingle")).distinct()
    val train = shd.filter(col("doc_id") % 31 =!= 0)
    // ONE pass over the exploded train shingles: a broadcast LEFT join
    // against the probe preserves cardinality (probe is distinct), so
    // total and shared counts come out of the same aggregate — the
    // two-aggregate draft scanned the shingle explode twice and was
    // 2.8 s at the 10x corpus for no semantic gain
    train.join(broadcast(probe.withColumn("hit", lit(1L))), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("decile", least(expr("10 * n_shared div n_sh"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_shared")).as("tot_shared"),
        sum(col("n_sh")).as("tot_shingles"))
      .orderBy(col("decile"))
  }

  private val contaminationRatioSql =
    s"""$shinglesSqlCte,
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |probe AS (SELECT DISTINCT s FROM shd WHERE doc_id % 31 = 0),
       |train AS (SELECT doc_id, s FROM shd WHERE doc_id % 31 <> 0),
       |j AS (SELECT t.doc_id, COUNT(*) AS n_sh,
       |        CAST(SUM(CASE WHEN p.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |      FROM train t LEFT JOIN probe p USING (s) GROUP BY t.doc_id)
       |SELECT LEAST(10 * n_shared // n_sh, 9) AS decile,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_shared) AS BIGINT) AS tot_shared,
       |       CAST(SUM(n_sh) AS BIGINT) AS tot_shingles
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** q108: language vocabulary-overlap matrix — pairwise Jaccard of
    * the per-language distinct-word vocabularies. The corpus-level
    * twin of the per-doc similarity family: before mixing sources or
    * transferring a tokenizer across languages, this is the "how much
    * do these slices share" matrix (k slices → k(k-1)/2 rows).
    *
    * Scale shape: the vocabulary frame is (lang, word) distinct —
    * shuffle keyed on the word for both the distinct and the
    * self-join, so the join is co-partitioned with its producer; the
    * per-lang sizes are k rows and broadcast. The self-join fans out
    * at most k ways per word, never corpus². */
  def langVocabOverlap(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(col("lang"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val sizes = vocab.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    vocab.alias("a")
      .join(vocab.alias("b"),
        col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("lang").as("lang_a"), col("n").as("na"))), Seq("lang_a"))
      .join(broadcast(sizes.select(col("lang").as("lang_b"), col("n").as("nb"))), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("inter"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  private val langVocabOverlapSql =
    """WITH w0 AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |v AS (SELECT DISTINCT lang, w FROM w0 WHERE len(w) > 0),
      |sz AS (SELECT lang, COUNT(*) AS n FROM v GROUP BY lang),
      |p AS (SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS inter
      |      FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
      |      GROUP BY 1, 2)
      |SELECT p.lang_a, p.lang_b, p.inter,
      |       CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
      |FROM p JOIN sz sa ON sa.lang = p.lang_a JOIN sz sb ON sb.lang = p.lang_b
      |ORDER BY lang_a, lang_b""".stripMargin

  /** q113: cross-source duplication matrix at CHUNK grain — for every
    * unordered pair of sources, how many distinct 32-token chunks
    * (q86's sub-document unit) appear in BOTH. The provenance view of
    * the dedup family: q86 removes repeated chunks, this says WHERE
    * they flow between (mirror sites, scraped re-posts, partial
    * syndication) — the diagnostic that decides which source to drop
    * when survivors are chosen. Chunk grain rather than whole-text:
    * partial copying is the common case, and whole-text sharing is
    * its subset (a shared doc shares all its chunks).
    * Scale shape: (source, md5-chunk) distinct — shuffle keyed on the
    * 16-byte hash, never the text — then a hash-keyed self-join that
    * fans out at most n_sources ways per chunk. */
  def sourceDupMatrix(s: SparkSession, d: String): DataFrame = {
    val h = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("t"))
      .select(col("source"), explode(expr(
        "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
          "i -> md5(array_join(slice(t, i*32+1, 32), ' ')))")).as("h"))
      .distinct()
    h.alias("a")
      .join(h.alias("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val sourceDupMatrixSql =
    """WITH t AS (SELECT source, string_split(text,' ') AS t FROM documents),
      |ch AS (SELECT source,
      |    md5(array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT), CAST(i*32+32 AS BIGINT)), ' ')) AS h
      |  FROM t, (SELECT unnest(generate_series(0,
      |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM t))) AS i) g
      |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
      |d AS (SELECT DISTINCT source, h FROM ch)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       COUNT(*) AS n_shared_chunks
      |FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The q115 edge list: distinct doc pairs (a < b) sharing ≥ 1
    * 32-token chunk — q113's construction at doc grain. Memoized: the
    * wedge/closure pass reads it three times, and a per-reference
    * rebuild would re-run the md5 self-join each time. */
  private[graft] def dupEdges(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "dup_edges") {
      // one representative per distinct TEXT (the q104 precondition):
      // exact copies are q30's job, and on an un-deduped corpus the
      // chunk-hash self-join pays pairs QUADRATIC in the duplication
      // factor — measured 269 s for the triangle census at the 100×
      // mirrored corpus vs sub-second rep-grain (SCALING.md round-9
      // 100× table)
      val ch = Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
            "i -> md5(array_join(slice(t, i*32+1, 32), ' ')))")).as("h"))
        .distinct()
      ch.alias("x")
        .join(ch.alias("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        .localCheckpoint()
    }

  /** q115: triangle census of the duplicate graph — for every doc in
    * ≥ 1 triangle, how many triangles it closes (plus its degree).
    * Triangle density separates true mirror CLIQUES (every pair
    * shares text → drop all but one survivor) from hub-and-spoke
    * boilerplate (one template chunk fanning to many unrelated docs →
    * keep the docs, drop the chunk): the q76 connected components
    * merge both shapes into one cluster; the triangle count tells
    * them apart before a survivor policy overfires.
    *
    * Scale shape: the classic degree-ordered orientation (the
    * MapReduce triangle-count trick). Each undirected edge is directed
    * toward its (degree, id)-larger endpoint — a total order, so every
    * triangle {x≺y≺z} materializes exactly one wedge at its smallest
    * corner and is counted once, and out-degree is capped at O(√m):
    * a hub node of degree 10^6 contributes NO wedges unless its
    * neighbors out-rank it, killing the quadratic that a naive
    * neighbor-join pays on skewed graphs. Wedge join keys on the
    * shared corner, closure join on the (v, w) pair — both uniform
    * high-cardinality keys. The edge list itself is bounded upstream:
    * exact dedup (q30) removes identical docs first, and a production
    * run drops chunks above a doc-frequency cap (q104's stopword-
    * shingle rule) so no chunk fans quadratically. */
  def dupTriangles(s: SparkSession, d: String): DataFrame = {
    val e = dupEdges(s, d)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dir = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")).hint("shuffle_hash"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")).hint("shuffle_hash"), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("db").as("dv"), col("b").as("v")))
          .otherwise(struct(col("da").as("dv"), col("a").as("v"))).as("ov"))
      .select(col("u"), col("ov.v").as("v"), col("ov"))
    val tri = dir.alias("e1")
      .join(dir.alias("e2").hint("shuffle_hash"),
        col("e1.u") === col("e2.u") && col("e1.ov") < col("e2.ov"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(dir.alias("e3").hint("shuffle_hash"),
        col("y") === col("e3.u") && col("z") === col("e3.v"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("node").as("doc_id"), col("deg")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_triangles"), col("deg"))
      .orderBy(col("doc_id"))
  }

  private val dupTrianglesSql =
    """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
      |t AS (SELECT doc_id, string_split(text,' ') AS t FROM reps),
      |ch AS (SELECT DISTINCT doc_id,
      |    md5(array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT), CAST(i*32+32 AS BIGINT)), ' ')) AS h
      |  FROM t, (SELECT unnest(generate_series(0,
      |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM t))) AS i) g
      |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
      |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |      FROM ch x JOIN ch y ON x.h = y.h AND x.doc_id < y.doc_id),
      |deg AS (SELECT node, COUNT(*) AS deg
      |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |        GROUP BY node),
      |dir AS (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
      |               CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v,
      |               CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dv
      |        FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
      |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |        FROM dir e1 JOIN dir e2
      |          ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
      |        JOIN dir e3 ON e3.u = e1.v AND e3.v = e2.v)
      |SELECT node AS doc_id, COUNT(*) AS n_triangles, MIN(deg.deg) AS deg
      |FROM (SELECT x AS node FROM tri
      |      UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) n
      |JOIN deg USING (node)
      |GROUP BY node ORDER BY doc_id""".stripMargin

  // ---- winnowing fingerprints (q119/q120) --------------------------

  /** Winnowing parameters: token k-grams hashed per position, sliding
    * window of w consecutive hashes, window MINIMUM selected. The
    * scheme's guarantee (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): any shared token run of length ≥ w + k − 1 is
    * certain to contribute at least one COMMON fingerprint to both
    * docs, while only ~2/(w+1) of positions are retained — positional
    * partial-overlap detection (plagiarism, quote reuse, template
    * splicing) at a fraction of the full k-gram index size. This is
    * the capability the suite's other near-dup operators don't have:
    * MinHash (q33/q34) and SimHash (q105) grade WHOLE-document
    * resemblance and dilute away a 10-token splice inside an
    * otherwise-unrelated doc; chunk dedup (q86) only catches shared
    * runs that align on fixed 32-token boundaries. Winnowing is
    * alignment-free and local. */
  private val winnowK = 3
  private val winnowW = 4

  /** Fingerprint-grain frame (doc_id, fp): md5 each token 3-gram
    * (reusing the codegen'd [[graft.functions.GraftFunctions.shingles]]
    * pass), take the lexicographic min of each 4-hash sliding window,
    * distinct within doc. Everything up to the final projection is
    * doc-local (one row in, one row out — no explode of the hash
    * stream, no shuffle), so at 100 TB this stage is map-only and the
    * only thing that ever shuffles is the skinny (doc_id, fp) pair
    * stream the consumers aggregate or join on. Hex-string hashes keep
    * the window-min identical across engines (ASCII order); a
    * production variant would pack the first 15 hex chars into a
    * BIGINT (same order, 8-byte shuffle keys). */
  private[graft] def winnowFps(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "winnow_fps") {
      // built once, memoized: q119 aggregates it and q120 reads it
      // THREE times (self-join both sides + per-doc counts) — without
      // the checkpoint each reference re-pays the md5/window-min
      // subtree (measured: q120 2.04 s in-suite → 0.6 s memoized).
      // Checkpoint scans carry no stats → q120's joins pin
      // shuffle_hash (the checkpoint-plans-lose-stats rule).
      // one rep per distinct text (the q104/q105 precondition): under
      // replication-heavy corpora the fp doc-frequency must count
      // DISTINCT texts, or exact copies inflate every df past the
      // boilerplate cap and the overlap join's fan-out grows with the
      // duplication factor squared
      Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("toks", toks(col("text")))
        .filter(size(col("toks")) >= winnowK + winnowW - 1)
        .withColumn("hs", transform(shingles(col("toks"), winnowK), g => md5(g)))
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("toks")) - lit(winnowK + winnowW - 1)),
            j => array_min(slice(col("hs"), j + lit(1), lit(winnowW)))))).as("fp"))
        .localCheckpoint()
    }

  /** q119: the per-doc fingerprint index summary — how many winnowed
    * fingerprints each doc carries plus the extremal values (a cheap
    * whole-index checksum: any divergence in hashing, windowing, or
    * the distinct shows up in one of the three columns). */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowFps(s, d)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))

  private val winnowFpCte =
    """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
      |              FROM documents GROUP BY text),
      |tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM reps),
      |hs AS (SELECT doc_id,
      |         [md5(array_to_string(toks[i:i+2], ' '))
      |          for i in generate_series(1, len(toks)-2)] AS hs
      |       FROM tok WHERE len(toks) >= 6),
      |fp AS (SELECT DISTINCT doc_id, fp FROM (
      |         SELECT doc_id,
      |           unnest([list_min(hs[j:j+3])
      |                   for j in generate_series(1, len(hs)-3)]) AS fp
      |         FROM hs))""".stripMargin

  private val winnowFingerprintsSql =
    s"""$winnowFpCte
       |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
       |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q120: partial-overlap pair detection over the winnowed index —
    * doc pairs sharing ≥ 3 fingerprints, with containment =
    * shared / min(|fps_a|, |fps_b|) (the asymmetric-size-robust
    * denominator: a 10-line splice inside a 10× larger doc still
    * scores high).
    *
    * Scale shape: a self-join on the fingerprint key — O(Σ df²) pair
    * candidates, NOT all-pairs — under a doc-frequency cap (fp shared
    * by > 50 docs dropped before the join, MOSS's own over-common-
    * fingerprint rule): boilerplate that fans to thousands of docs is
    * template noise for OVERLAP purposes (q115's hub/clique census is
    * the tool for those), and the cap bounds every join key's fan-out
    * by a constant, so candidate count is linear in corpus size at
    * fixed duplication. The df window and the pair join key on the
    * same column, so the df pass's exchange is reused by the join.
    * Containment denominators come from the PRE-cap per-doc totals
    * (the true index sizes) via two shuffle-hash join-backs on doc_id
    * against the compact doc-grain count table — the q104 rule:
    * only (doc_id, int) pairs move, never arrays. The final division
    * is one exact-int IEEE op, bit-identical across engines with no
    * rounding step. */
  def winnowOverlap(s: SparkSession, d: String): DataFrame = {
    val fps = winnowFps(s, d)
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val kept = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= lit(50)).drop("df")
    kept.alias("a")
      .join(kept.alias("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .join(counts.select(col("doc_id").as("doc_a"), col("n_fp").as("n_fp_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_fp").as("n_fp_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("n_fp_a"), col("n_fp_b"),
        (col("shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val winnowOverlapSql =
    s"""$winnowFpCte,
       |cnt AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
       |kept AS (SELECT doc_id, fp FROM (
       |           SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
       |           FROM fp) WHERE df <= 50),
       |pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |         FROM kept a JOIN kept b
       |           ON a.fp = b.fp AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT doc_a, doc_b, shared, ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
       |  CAST(shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) AS containment
       |FROM pair JOIN cnt ca ON ca.doc_id = doc_a
       |          JOIN cnt cb ON cb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- incremental (delta) dedup gate (q124) -----------------------

  /** q124: incremental dedup of a NEW batch against an EXISTING
    * corpus — the production ingest shape none of the whole-corpus
    * dedup queries exercise: when a crawl snapshot lands, it is
    * deduplicated AGAINST the accumulated corpus (old↔new), not
    * within itself from scratch. The split is a deterministic hash
    * half-space (md5("delta:"||doc_id) first hex 0-7 = old), standing
    * in for the corpus/date partition a real pipeline reads.
    *
    * Two channels, both reusing the suite's candidate machinery:
    * near_dup = the new doc shares a MinHash LSH band (q33/q34's
    * signatures) with any old doc; chunk_dup = it shares an exact
    * 32-token chunk (q86's unit — whole-text equality is vacuous
    * across halves of this corpus, chunk-grain carries real hits at
    * every SF: 6/12/158). kept = neither fired.
    *
    * Scale shape: ONE pass over each candidate frame — bands and
    * chunks are grouped by their bucket key with old/new flags
    * aggregated in place (max(is_old) + collect_set of new ids,
    * bounded by bucket size exactly like q34's candidatePairs), so
    * the old corpus is never joined row-by-row against the new batch
    * and no subtree is computed twice. At 100 TB the old side's
    * band/chunk keys come from the incrementally-maintained index
    * table the pipeline already persists (the CheckpointMemo posture,
    * durable); the shuffle is keyed on uniform 32-hex-char hashes. */
  private def deltaIsOld: Column =
    substring(md5(concat(lit("delta:"), col("doc_id").cast("string"))), 1, 1)
      .between("0", "7")

  /** New-batch doc ids whose bucket (band / chunk hash) also contains
    * an old-corpus doc — ONE grouped pass per bucket key (max(is_old)
    * + bounded collect_set), memoized: q124 reads both frames and
    * q128's composition reads them again in the same session. The
    * frames are (doc_id)-only and tiny (hit lists), so the checkpoint
    * is cheap and the downstream left joins stay skinny. */
  private def deltaHits(s: SparkSession, d: String, tagName: String,
      grain: DataFrame, key: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, tagName) {
      val tag = Tables.documents(s, d)
        .select(col("doc_id"), deltaIsOld.as("is_old"))
      grain.join(tag.hint("shuffle_hash"), Seq("doc_id"))
        .groupBy(col(key))
        .agg(max(when(col("is_old"), 1).otherwise(0)).as("has_old"),
          collect_set(when(!col("is_old"), col("doc_id"))).as("new_ids"))
        .filter(col("has_old") === 1 && size(col("new_ids")) > 0)
        .select(explode(col("new_ids")).as("doc_id")).distinct()
        .localCheckpoint()
    }

  private[graft] def deltaNearHits(s: SparkSession, d: String): DataFrame =
    deltaHits(s, d, "delta_near_hits",
      signatures(s, d).select(col("doc_id"),
        explode(array(concat(col("mh0"), col("mh1")),
          concat(col("mh2"), col("mh3")))).as("band")), "band")

  private[graft] def deltaChunkHits(s: SparkSession, d: String): DataFrame =
    deltaHits(s, d, "delta_chunk_hits",
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
            "i -> md5(array_join(slice(t, i*32+1, 32), ' ')))")).as("h"))
        .distinct(), "h")

  def deltaDedup(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.documents(s, d)
      .select(col("doc_id"), deltaIsOld.as("is_old"))
    tag.filter(!col("is_old"))
      .join(deltaNearHits(s, d).withColumn("near_dup", lit(true))
        .hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .join(deltaChunkHits(s, d).withColumn("chunk_dup", lit(true))
        .hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        coalesce(col("chunk_dup"), lit(false)).as("chunk_dup"))
      .withColumn("kept", !(col("near_dup") || col("chunk_dup")))
      .orderBy(col("doc_id"))
  }

  /** The delta-split CTE chain (shingles → sig → bands → tag →
    * chunks → near/chunk hit sets), shared by the q124 oracle and the
    * q128 incremental-refresh composition oracle. */
  private[ops] val deltaSqlCtes =
    s"""$shinglesSqlCte,
       |sig AS (SELECT doc_id, ${mhSql(0)} AS mh0, ${mhSql(1)} AS mh1,
       |               ${mhSql(2)} AS mh2, ${mhSql(3)} AS mh3
       |        FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, mh0 || mh1 AS band FROM sig
       |          UNION ALL SELECT doc_id, mh2 || mh3 AS band FROM sig),
       |tag AS (SELECT doc_id,
       |    substring(md5('delta:'||CAST(doc_id AS VARCHAR)),1,1)
       |      BETWEEN '0' AND '7' AS is_old FROM documents),
       |t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |ch AS (SELECT DISTINCT doc_id,
       |    md5(array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT),
       |        CAST(i*32+32 AS BIGINT)), ' ')) AS h
       |  FROM t, (SELECT unnest(generate_series(0,
       |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM t))) AS i) g
       |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
       |nearn AS (SELECT DISTINCT b.doc_id FROM bands b JOIN tag USING (doc_id)
       |          WHERE NOT is_old AND b.band IN
       |            (SELECT band FROM bands JOIN tag USING (doc_id) WHERE is_old)),
       |chn AS (SELECT DISTINCT c.doc_id FROM ch c JOIN tag USING (doc_id)
       |        WHERE NOT is_old AND c.h IN
       |          (SELECT h FROM ch JOIN tag USING (doc_id) WHERE is_old))""".stripMargin

  private val deltaDedupSql =
    s"""$deltaSqlCtes
       |SELECT tag.doc_id,
       |  tag.doc_id IN (SELECT doc_id FROM nearn) AS near_dup,
       |  tag.doc_id IN (SELECT doc_id FROM chn) AS chunk_dup,
       |  NOT (tag.doc_id IN (SELECT doc_id FROM nearn)
       |       OR tag.doc_id IN (SELECT doc_id FROM chn)) AS kept
       |FROM tag WHERE NOT is_old ORDER BY doc_id""".stripMargin

  // ---- BPE merge learning (q132) -----------------------------------

  /** q132: byte-pair-encoding merge learning, the tokenizer-training
    * primitive (Sennrich/Haddow/Birch, ACL'16), as a FIXED 3-round
    * unroll — the q97 pattern: each round is one corpus-wide
    * adjacent-pair count (explode bigrams → map-side-combined hash
    * aggregate), a deterministic winner cut (max by (count, pair) —
    * a total order both engines share) materialized as a 1-row
    * localCheckpoint, and a corpus-wide map-only token merge. The
    * only per-round driver synchronization is that 1-row winner
    * materialization (the job boundary any iterative trainer has —
    * without it Spark re-evaluates the winner subtree once per later
    * reference and the 3-round unroll runs 6 corpus counts, not 3);
    * the corpus itself never leaves the cluster. Output: the learned
    * merge table (round, pair, count) — exactly what a tokenizer
    * trainer persists.
    *
    * The merge is TOKEN-grain, like the count: a left-to-right fold
    * over the token list that rewrites (…, a, b, …) → (…, a_b, …),
    * never a substring replace (which could fire across token
    * boundaries — winner "a b" must not rewrite "za b"). Consecutive
    * overlaps resolve left-to-right exactly as reference BPE does:
    * "a a a" under winner "a a" becomes "a_a a", because the merged
    * token leaves the window. Both engines and the spec share this
    * fold verbatim.
    *
    * Scale shape per round: the pair-count aggregate shuffles one row
    * per DISTINCT pair per partition (vocabulary-bounded, not
    * corpus-bounded), the winner is a 1-row broadcast, and the merge
    * is map-only. Real BPE runs thousands of rounds with an
    * incremental pair-count delta; the fixed unroll demonstrates the
    * per-round plan at the scale where each round is a full pass. */
  /** The merge fold over columns (text, a, b, m) — the REFERENCE
    * formulation, shared semantics with the DuckDB oracle's
    * list_reduce. The production passes below run the native
    * [[graft.functions.BpeMergePair]] expression instead (one
    * codegen'd linear byte scan; the merged token is the bigram with
    * its separator space patched to '_', so output length is fixed);
    * WinnowingSpec proves native ≡ fold on the corpus and on the
    * boundary cases ("za b" must NOT merge under winner "a b";
    * "a a a" → "a_a a"). */
  private[graft] val bpeMergeFold: String =
    """aggregate(slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
      |  element_at(split(text, ' '), 1),
      |  (acc, x) -> CASE
      |    WHEN (acc = a OR endswith(acc, concat(' ', a))) AND x = b
      |    THEN concat(substring(acc, 1, length(acc) - length(a)), m)
      |    ELSE concat(acc, ' ', x) END)""".stripMargin

  /** Token-bigram pair counts over any frame with a `text` column —
    * the per-round aggregate shared by the full-pass unroll and the
    * incremental delta round below. */
  private def bpePairCounts(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("tk"))
      // Spark's sequence(1, 0) COUNTS DOWN (the q29 lesson), so
      // single-token docs are filtered before the bigram transform
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))

  /** Round-1 pair-count table (vocabulary-bounded, ~930 rows on the
    * driver corpora) — memoized because THREE queries derive from it:
    * q132's round-1 winner, q135's maintained counts₁, and (via
    * [[bpeWinners3]]) q138's first merge. One corpus pass instead of
    * three per suite pass (r16, guide §1.2/§2.4). */
  private def bpeCounts1(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "bpe_counts1") {
      bpePairCounts(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("text"))).localCheckpoint()
    }

  /** The learned 3-round merge table (round, pair, cnt) — the q132
    * dataflow verbatim, memoized per (session, sfDir) because q132
    * (the table itself), q138 (the 3 merge pairs it applies) and the
    * q135 winner all need the SAME deterministic rounds; the suite was
    * training the identical tokenizer three times per pass (r16, guide
    * §1.2). Same contract as the q153 `bpe_merges30` memo one shelf
    * over: deterministic function of the corpus, built in-session from
    * the parquet inputs, build time in-band via memo_builds. */
  private def bpeWinners3(s: SparkSession, d: String): DataFrame = {
    // counts₁ resolves OUTSIDE this build's timer (ADVICE_r16):
    // winners3's cold build used to invoke counts1's cold build inside
    // its own timed thunk, so the same wall-clock was counted under
    // BOTH memo tags and memo_build_s overstated the in-band cost.
    // A warm-path call is a memo hit (no job); the cold path charges
    // each build to its own tag exactly once.
    val counts1 = bpeCounts1(s, d)
    graft.CheckpointMemo.getOrElseUpdate(s, d, "bpe_winners3") {
      // each round's winner is localCheckpoint'd (1 row): the winner
      // frame is referenced by the output union AND by every LATER
      // round's corpus lineage, and Spark re-evaluates common subtrees
      // per reference — without the checkpoint the 3-round unroll runs
      // 1+2+3 = 6 corpus-wide pair counts instead of 3 (measured ~2x
      // on the suite's then-slowest query). The checkpoint is the
      // 1-row-frame analog of the q97 edge-list materialization.
      def winner(docs: DataFrame): DataFrame =
        bpePairCounts(docs).orderBy(col("cnt").desc, col("pair")).limit(1)
          .localCheckpoint()
      var docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("text"))
      val rounds = (1 to 3).map { r =>
        // round 1's winner is the memoized counts₁ table's head — the
        // corpus pass it would re-run is q135's maintained table
        val w =
          if (r == 1) counts1
            .orderBy(col("cnt").desc, col("pair")).limit(1).localCheckpoint()
          else winner(docs)
        // token-grain left-to-right merge: a merge fires only on an
        // exact (a, b) token bigram, and a merged token leaves the
        // window — the native expression (one codegen'd byte scan,
        // proven ≡ the [[bpeMergeFold]] reference) does the pass
        docs = docs.crossJoin(broadcast(w))
          .select(graft.functions.GraftFunctions
            .bpeMergeFast(col("text"), col("pair")).as("text"))
        w.select(lit(r).as("round"), col("pair"), col("cnt"))
      }
      rounds.reduce(_ unionAll _).localCheckpoint()
    }
  }

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeWinners3(s, d).orderBy(col("round"))

  /** The PRODUCTION shape of a BPE round — incremental pair-count
    * maintenance instead of a full corpus pass. After round 1 merges
    * winner (a, b), the bigram multiset changes ONLY in docs that
    * contain the (a, b) token bigram; every other doc contributes the
    * same counts as before. So round 2's counts are maintained as
    *
    *   counts₂ = counts₁ − pairs(affected, pre-merge)
    *                     + pairs(affected, post-merge)
    *
    * where `affected` is a map-side exists() gate over token bigrams
    * (no join, no shuffle — a predicate on the scan). The three count
    * frames meet in ONE grouped sum on `pair` (the same
    * vocabulary-bounded shuffle as a single count), and rows whose
    * net count reaches zero drop out. WinnowingSpec proves the result
    * ≡ a full second pass; SCALING.md records the affected-doc
    * fraction on the fixture (the pass-cost ratio — at tokenizer-
    * training scale with thousands of rounds, each round re-reads
    * the affected fraction, not the corpus, and the fraction falls
    * as merges specialize).
    *
    * Returns the round-2 pair-count table (pair, cnt). */
  private[graft] def bpeDeltaCounts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("text"))
    // counts₁ is read twice (the maintained table AND the winner cut)
    // and is vocabulary-bounded (~930 rows on the driver corpora) —
    // the memoized checkpoint ([[bpeCounts1]], shared with the q132
    // winner chain) makes the full-corpus count run ONCE per session,
    // not once per reference and once per query (r16)
    val counts1 = bpeCounts1(s, d)
    val w = counts1.orderBy(col("cnt").desc, col("pair")).limit(1)
    val tagged = docs.crossJoin(broadcast(w.select(col("pair"))))
    // the semi-gate: docs whose token-bigram set contains the winner.
    // A pure row predicate — pushed to the scan, nothing shuffles;
    // unaffected docs are never re-tokenized. A doc is affected iff
    // the native merge changes it (same one-pass byte scan as the
    // merge itself — the gate and the rewrite can never disagree).
    val affected = tagged
      .filter(graft.functions.GraftFunctions
        .bpeMergeFast(col("text"), col("pair")) =!= col("text"))
    val before = bpePairCounts(affected.select(col("text")))
      .select(col("pair"), (-col("cnt")).as("cnt"))
    val after = bpePairCounts(affected.select(graft.functions.GraftFunctions
      .bpeMergeFast(col("text"), col("pair")).as("text")))
    counts1.unionAll(before).unionAll(after)
      .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** q135: the delta round GRADED — the strongest form of the
    * incremental-BPE proof. The Spark side computes round-2 counts by
    * DELTA MAINTENANCE (counts₁ − pre + post over the gated 9.4% of
    * docs); the DuckDB oracle computes the same table by a FULL
    * recount of the merged corpus. A hash match is a cross-engine
    * proof of the incremental identity itself, at every scale factor
    * the driver grades. Output is vocabulary-bounded (~930 pairs on
    * the driver corpora regardless of SF). */
  def bpeDeltaRound(s: SparkSession, d: String): DataFrame =
    bpeDeltaCounts(s, d).orderBy(col("pair"))

  /** Map accumulator for the trainer's signed pair deltas: partitions
    * pre-combine locally (the map-side-combine of a count shuffle,
    * without the shuffle), and the driver merge is bounded by the pair
    * vocabulary. Spark guarantees exactly-once accumulator application
    * only for updates made in ACTIONS; updates from a transformation
    * (this pass is a mapPartitions drained by localCheckpoint) can be
    * re-applied under speculative execution or stage retry. The
    * accumulator is therefore keyed by PARTITION ID: a re-executed
    * task OVERWRITES its partition's slot instead of double-adding,
    * which is idempotent because the input partition is a checkpointed
    * (deterministic) parent — the re-run produces the identical delta
    * map. `value` folds the per-partition slots at read time. */
  private final class PairDeltaAcc
      extends org.apache.spark.util.AccumulatorV2[
        (Int, Map[String, Long]), Map[String, Long]] {
    private val slots =
      scala.collection.mutable.HashMap.empty[Int, Map[String, Long]]
    override def isZero: Boolean = slots.isEmpty
    override def copy(): PairDeltaAcc = {
      val a = new PairDeltaAcc; a.slots ++= slots; a
    }
    override def reset(): Unit = slots.clear()
    override def add(v: (Int, Map[String, Long])): Unit =
      slots.update(v._1, v._2) // overwrite = idempotent under task retry
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[
          (Int, Map[String, Long]), Map[String, Long]]): Unit =
      o match {
        case p: PairDeltaAcc => p.slots.foreach { case (k, v) => slots.update(k, v) }
        case _ =>
      }
    override def value: Map[String, Long] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      slots.valuesIterator.foreach(_.foreach { case (k, c) =>
        val n = m.getOrElse(k, 0L) + c
        if (n == 0L) m.remove(k) else m.update(k, n)
      })
      m.toMap
    }
  }

  /** The DRIVER-LOOPED BPE TRAINER — the production-length composition
    * of the q135 delta round: N merges learned sequentially, the pair
    * counts MAINTAINED by delta across every round instead of
    * recounted (counts_r = counts_{r-1} − pairs(affected, pre) +
    * pairs(affected, post)). Per round exactly ONE corpus-touching
    * job: a map-only mapPartitions pass that rewrites each doc with
    * the native byte-scan merge ([[graft.functions.BpeMergePair]] —
    * the same kernel as the graded q132/q135/q138 passes, so the gate
    * and the rewrite can never disagree) and, for the AFFECTED docs
    * only, folds the signed bigram deltas into a per-partition map
    * that rides home on a [[PairDeltaAcc]] accumulator. The counts
    * table lives on the DRIVER — it is vocabulary-bounded (the q140
    * hashing-trick argument: pair-vocabulary size is a property of the
    * token vocabulary, not the corpus; production word-level BPE
    * trainers keep exactly this table in memory) — so winner selection
    * is a local argmin, not a job.
    *
    * Scale shape: per round one codegen-free but allocation-lean byte
    * scan over the corpus (no shuffle EVER touches doc text; the only
    * cross-worker traffic is the vocabulary-bounded delta map, which
    * shrinks with the affected fraction as merges specialize —
    * measured curve in SCALING.md). The recount alternative pays a
    * full explode + shuffle every round. WinnowingSpec proves 60
    * maintained rounds ≡ the full greedy recount at every round.
    *
    * Returns (merges, finalDocs, finalCounts); `stats` (when given)
    * receives (round, pair, cnt, nAffected, wallMs) per round. */
  private[graft] def bpeTrainLoop(s: SparkSession, d: String, nMerges: Int,
      stats: Option[scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Long)]])
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    var docs: DataFrame = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("text")).localCheckpoint()
    // round 0: ONE distributed count builds the driver-resident table
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    bpePairCounts(docs).collect().foreach(r =>
      counts.update(r.getString(0), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var r = 1
    while (r <= nMerges && counts.nonEmpty) {
      val t0 = System.nanoTime()
      val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
      merges += ((r.toLong, pair, cnt))
      val acc = new PairDeltaAcc
      val affAcc = s.sparkContext.longAccumulator(s"bpe_affected_r$r")
      s.sparkContext.register(acc, s"bpe_delta_r$r")
      val pairLocal = pair
      docs = docs.as[String].mapPartitions { it =>
        val p = org.apache.spark.unsafe.types.UTF8String.fromString(pairLocal)
        val local = scala.collection.mutable.HashMap.empty[String, Long]
        var affected = 0L
        def addPairs(t: String, sign: Long): Unit = {
          val tk = t.split(" ", -1)
          var i = 0
          while (i < tk.length - 1) {
            val key = tk(i) + " " + tk(i + 1)
            val n = local.getOrElse(key, 0L) + sign
            if (n == 0L) local.remove(key) else local.update(key, n)
            i += 1
          }
        }
        val out = it.map { t =>
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
          val m = graft.functions.BpeMergePair.merge(u, p)
          if (m.equals(u)) t
          else {
            val mt = m.toString
            affected += 1
            addPairs(t, -1L); addPairs(mt, 1L)
            mt
          }
        }
        // the accumulator flush must happen AFTER the lazy output
        // iterator drains (mapPartitions consumers pull lazily)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        new Iterator[String] {
          private var flushed = false
          override def hasNext: Boolean = {
            val h = out.hasNext
            if (!h && !flushed) {
              acc.add((pid, local.toMap)); affAcc.add(affected); flushed = true
            }
            h
          }
          override def next(): String = out.next()
        }
      }.toDF("text").localCheckpoint()
      acc.value.foreach { case (k, c) =>
        val n = counts.getOrElse(k, 0L) + c
        if (n <= 0L) counts.remove(k) else counts.update(k, n)
      }
      stats.foreach(_ += ((r, pair, cnt, affAcc.value,
        (System.nanoTime() - t0) / 1000000)))
      r += 1
    }
    (merges.toSeq.toDF("round", "pair", "cnt"), docs,
      counts.toSeq.toDF("pair", "cnt"))
  }

  /** q153: the trainer GRADED at N = 30 merges — the DuckDB oracle
    * recounts every round from scratch (30 chained AS MATERIALIZED
    * rounds; without MATERIALIZED the inlined CTE chain re-evaluates
    * exponentially — the q84/q128 lesson), so a hash match proves the
    * delta-maintained counts picked the identical winner at every one
    * of the 30 rounds. Output is the merge table itself: the trained
    * tokenizer artifact. */
  /** The N=30 merge table, trained once per (session, sfDir) and
    * shared by q153 (the graded trainer) and q164 (the fertility
    * report) — the driver loop runs a single time, the 30-row result
    * rides a checkpoint. */
  private def bpeMerges30(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "bpe_merges30") {
      bpeTrainLoop(s, d, nMerges = 30, stats = None)._1.localCheckpoint()
    }

  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeMerges30(s, d).orderBy(col("round"))

  /** q164: TOKENIZER FERTILITY by source under the TRAINED tokenizer —
    * the per-domain eval table a tokenizer review reads: after
    * applying q153's 30 learned merges, tokens-per-doc compression and
    * bytes-per-token for every source. A source that compresses worse
    * than the corpus is under-served by the learned vocabulary (its
    * domain never won merges) — the multilingual-fertility problem in
    * miniature, and the signal that decides per-domain vocab budget.
    *
    * Scale shape: training is the memoized q153 loop (runs once per
    * session); APPLICATION is the 30 merges folded into ONE composed
    * column of chained native byte-scan passes — a single map-only
    * projection over the corpus, no driver loop, no shuffle before
    * the source-grain rollup. */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val pairs = bpeMerges30(s, d).orderBy(col("round")).collect()
      .map(_.getString(1))
    val applied = pairs.foldLeft(col("text")) { (c, p) =>
      graft.functions.GraftFunctions.bpeMergeFast(c, lit(p))
    }
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("nb"),
        size(split(applied, " ")).cast("long").as("na"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("tokens_before"),
        sum(col("na")).as("tokens_after"),
        round(sum(col("na")).cast("double") / sum(col("nb")), 6)
          .as("compression"),
        round(sum(col("n_chars")).cast("double") / sum(col("na")), 6)
          .as("bytes_per_token"))
      .orderBy(col("source"))
  }

  /** The keyed, MATERIALIZED round for the q164 oracle: the
    * [[bpeTrainRoundSql]] chain with doc_id/source carried through
    * every rewrite (30 chained rounds — AS MATERIALIZED or the
    * inlined chain re-evaluates exponentially). */
  private def bpeFertilityRoundSql(n: Int, frm: String): String =
    s"""p$n AS MATERIALIZED (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
       |         for i in generate_series(1, len(tk)-1)]) AS pair
       |       FROM (SELECT string_split(text,' ') AS tk FROM $frm)),
       |c$n AS MATERIALIZED (SELECT pair, count(*) AS cnt FROM p$n GROUP BY pair
       |       ORDER BY cnt DESC, pair LIMIT 1),
       |m$n AS MATERIALIZED (SELECT string_split(pair,' ')[1] AS a, string_split(pair,' ')[2] AS b,
       |              replace(pair,' ','_') AS m FROM c$n),
       |t${n + 1} AS MATERIALIZED (SELECT doc_id, source, list_reduce(string_split(text,' '),
       |         (acc, x) -> CASE WHEN (acc = a OR ends_with(acc, ' '||a)) AND x = b
       |                     THEN substr(acc, 1, len(acc) - len(a)) || m
       |                     ELSE acc || ' ' || x END) AS text
       |       FROM $frm, m$n)""".stripMargin

  private lazy val bpeFertilitySql: String = {
    val n = 30
    val rounds = (1 to n).map(r => bpeFertilityRoundSql(r, s"t$r")).mkString(",\n")
    s"""WITH t1 AS MATERIALIZED (SELECT doc_id, source, text FROM documents),
       |$rounds
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split(d.text,' '))) AS BIGINT) AS tokens_before,
       |  CAST(sum(len(string_split(t.text,' '))) AS BIGINT) AS tokens_after,
       |  round(CAST(sum(len(string_split(t.text,' '))) AS DOUBLE)
       |        / sum(len(string_split(d.text,' '))), 6) AS compression,
       |  round(CAST(sum(d.n_chars) AS DOUBLE)
       |        / sum(len(string_split(t.text,' '))), 6) AS bytes_per_token
       |FROM documents d JOIN t${n + 1} t USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  private def bpeTrainRoundSql(n: Int, frm: String): String =
    s"""p$n AS MATERIALIZED (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
       |         for i in generate_series(1, len(tk)-1)]) AS pair
       |       FROM (SELECT string_split(text,' ') AS tk FROM $frm)),
       |c$n AS MATERIALIZED (SELECT pair, count(*) AS cnt FROM p$n GROUP BY pair
       |       ORDER BY cnt DESC, pair LIMIT 1),
       |m$n AS MATERIALIZED (SELECT string_split(pair,' ')[1] AS a, string_split(pair,' ')[2] AS b,
       |              replace(pair,' ','_') AS m FROM c$n),
       |t${n + 1} AS MATERIALIZED (SELECT list_reduce(string_split(text,' '),
       |         (acc, x) -> CASE WHEN (acc = a OR ends_with(acc, ' '||a)) AND x = b
       |                     THEN substr(acc, 1, len(acc) - len(a)) || m
       |                     ELSE acc || ' ' || x END) AS text
       |       FROM $frm, m$n)""".stripMargin

  private lazy val bpeTrainSql: String = {
    val n = 30
    val rounds = (1 to n).map(r => bpeTrainRoundSql(r, s"t$r")).mkString(",\n")
    val sel = (1 to n)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, cnt FROM c$r")
      .mkString(" UNION ALL ")
    s"""WITH t1 AS MATERIALIZED (SELECT text FROM documents),
       |$rounds
       |SELECT round, pair, cnt FROM ($sel) ORDER BY round""".stripMargin
  }

  private lazy val bpeDeltaRoundSql =
    s"""WITH t1 AS (SELECT text FROM documents),
       |${bpeRoundSql(1, "t1")},
       |pp AS (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
       |         for i in generate_series(1, len(tk)-1)]) AS pair
       |       FROM (SELECT string_split(text,' ') AS tk FROM t2))
       |SELECT pair, count(*) AS cnt FROM pp GROUP BY pair ORDER BY pair""".stripMargin

  /** One oracle round: count pairs from `from`, pick the winner, and
    * apply the SAME token-grain left-to-right fold the Spark side
    * uses (list_reduce seeded by the first token ≡ Spark's aggregate
    * over slice(tk, 2, …) with element_at(tk, 1) as init). The pair
    * comprehension is bounded by len(tk)-1 like every sibling oracle
    * — no hard-coded series cap to silently drop long docs. */
  private def bpeRoundSql(n: Int, from: String): String =
    s"""p$n AS (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
       |         for i in generate_series(1, len(tk)-1)]) AS pair
       |       FROM (SELECT string_split(text,' ') AS tk FROM $from)),
       |c$n AS (SELECT pair, count(*) AS cnt FROM p$n GROUP BY pair
       |       ORDER BY cnt DESC, pair LIMIT 1),
       |m$n AS (SELECT string_split(pair,' ')[1] AS a, string_split(pair,' ')[2] AS b,
       |              replace(pair,' ','_') AS m FROM c$n),
       |t${n + 1} AS (SELECT list_reduce(string_split(text,' '),
       |         (acc, x) -> CASE WHEN (acc = a OR ends_with(acc, ' '||a)) AND x = b
       |                     THEN substr(acc, 1, len(acc) - len(a)) || m
       |                     ELSE acc || ' ' || x END) AS text
       |       FROM $from, m$n)""".stripMargin

  private val bpeMergesSql =
    s"""WITH t1 AS (SELECT text FROM documents),
       |${bpeRoundSql(1, "t1")},
       |${bpeRoundSql(2, "t2")},
       |${bpeRoundSql(3, "t3")}
       |SELECT 1 AS round, pair, cnt FROM c1
       |UNION ALL SELECT 2, pair, cnt FROM c2
       |UNION ALL SELECT 3, pair, cnt FROM c3
       |ORDER BY round""".stripMargin

  // ---- tokenizer application (q138) --------------------------------

  /** q138: BPE ENCODE — apply the merge table q132 learns to the whole
    * corpus, the tokenizer-application half of the train/apply pair
    * (Sennrich ACL'16 §3: training emits a merge list; encoding replays
    * it in order). Each of the 3 learned merges is the same 1-row
    * winner broadcast + map-only native pass ([[graft.functions
    * .BpeMergePair]]) as training, but here doc identity (doc_id,
    * source) rides along so the report can compare token counts
    * before/after per source — the "how much does this tokenizer
    * compress each domain" table a data pipeline publishes per
    * tokenizer release. Output: per-source docs, tokens before/after,
    * compression ratio (single IEEE division of exact BIGINTs,
    * ROUND(6)).
    *
    * Scale shape: identical to q132 (pair counts are vocabulary-
    * bounded shuffles, winners are 1-row checkpoints, merges are
    * map-only) plus one map-side-combined per-source aggregate — at
    * 100 TB the encode is exactly 3 linear passes, and with the q135
    * delta machinery a production run re-reads only affected docs per
    * round. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    // ENCODE is apply-only (r16, guide §1.2): the merge table is the
    // memoized [[bpeWinners3]] — training ran once per session for
    // q132 — so the old per-round winner jobs (3 more corpus-wide pair
    // counts + 3 driver-blocking 1-row checkpoints) vanish, and the
    // three merges compose into ONE map-only projection over a single
    // corpus scan (the q164 composed-native-expression shape, depth 3
    // instead of 30). Winner values are identical by determinism of
    // the recipe; the merge composition is the same function chain the
    // per-round crossJoins applied — hash-verified tri-SF.
    val w = bpeWinners3(s, d)
    def pairAt(r: Int, name: String): DataFrame =
      w.filter(col("round") === r).select(col("pair").as(name))
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nb"), col("text"))
      .crossJoin(broadcast(pairAt(1, "p1")))
      .crossJoin(broadcast(pairAt(2, "p2")))
      .crossJoin(broadcast(pairAt(3, "p3")))
      .select(col("doc_id"), col("source"), col("nb"),
        graft.functions.GraftFunctions.bpeMergeFast(
          graft.functions.GraftFunctions.bpeMergeFast(
            graft.functions.GraftFunctions.bpeMergeFast(
              col("text"), col("p1")), col("p2")), col("p3")).as("text"))
    docs
      .select(col("source"), col("nb"),
        size(split(col("text"), " ")).cast("long").as("na"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("tokens_before"),
        sum(col("na")).as("tokens_after"),
        round(sum(col("na")).cast("double") / sum(col("nb")), 6)
          .as("compression"))
      .orderBy(col("source"))
  }

  /** The oracle replays the SAME t1→t4 chain as q132's, with doc_id
    * and source carried through each round (the keyed variant of
    * [[bpeRoundSql]]).
    *
    * list_reduce hazard note (round 10): q150's oracle abandoned a
    * DuckDB list_reduce struct fold after observing row-dependent
    * results in full-table runs (see the comment at
    * CurationOps.degenerateRunsSql). This oracle's scalar-VARCHAR fold
    * sits in the same function, so it was re-adjudicated directly:
    * full-table vs per-row-pinned evaluation of THIS exact fold shape
    * on the real sf0.1 corpus (5000 docs, 61 sampled) — 0 mismatches;
    * plus synthetic sweeps (10k rows, lists to 2500 elements) over
    * scalar-VARCHAR, scalar-DOUBLE, and struct accumulators — 0
    * mismatches each, and the q150-era struct fold itself no longer
    * diverges on the real corpus either. The original trigger remains
    * unpinned (not accumulator type or list length alone); the q150
    * window rewrite stays as defense-in-depth, and this fold stays an
    * oracle on the strength of the direct full-vs-pinned check. */
  private def bpeRoundKeyedSql(n: Int, from: String): String =
    s"""p$n AS (SELECT unnest([array_to_string(list_slice(tk, i, i+1), ' ')
       |         for i in generate_series(1, len(tk)-1)]) AS pair
       |       FROM (SELECT string_split(text,' ') AS tk FROM $from)),
       |c$n AS (SELECT pair, count(*) AS cnt FROM p$n GROUP BY pair
       |       ORDER BY cnt DESC, pair LIMIT 1),
       |m$n AS (SELECT string_split(pair,' ')[1] AS a, string_split(pair,' ')[2] AS b,
       |              replace(pair,' ','_') AS m FROM c$n),
       |t${n + 1} AS (SELECT doc_id, source, list_reduce(string_split(text,' '),
       |         (acc, x) -> CASE WHEN (acc = a OR ends_with(acc, ' '||a)) AND x = b
       |                     THEN substr(acc, 1, len(acc) - len(a)) || m
       |                     ELSE acc || ' ' || x END) AS text
       |       FROM $from, m$n)""".stripMargin

  private val bpeEncodeSql =
    s"""WITH t1 AS (SELECT doc_id, source, text FROM documents),
       |${bpeRoundKeyedSql(1, "t1")},
       |${bpeRoundKeyedSql(2, "t2")},
       |${bpeRoundKeyedSql(3, "t3")}
       |SELECT t1.source, count(*) AS n_docs,
       |  CAST(sum(len(string_split(t1.text,' '))) AS BIGINT) AS tokens_before,
       |  CAST(sum(len(string_split(t4.text,' '))) AS BIGINT) AS tokens_after,
       |  round(CAST(sum(len(string_split(t4.text,' '))) AS DOUBLE)
       |        / sum(len(string_split(t1.text,' '))), 6) AS compression
       |FROM t1 JOIN t4 USING (doc_id)
       |GROUP BY t1.source ORDER BY t1.source""".stripMargin

  // ---- duplicate-span coverage (q139) ------------------------------

  /** q139: cross-corpus DUPLICATE-SPAN COVERAGE — the per-doc signal
    * behind exact substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22): a token 5-gram that
    * occurs more than once ANYWHERE in the corpus marks its 5-token
    * span as duplicated; overlapping/adjacent marked spans merge into
    * maximal islands, and a doc's coverage is the fraction of its
    * tokens inside merged islands. Unlike q31's whole-doc grain or
    * q86's fixed-chunk grain, this measures partial duplication at
    * arbitrary alignment — the quantity Lee et al. delete, reported
    * here as the audit table (doc_id, n_tokens, dup_tokens, dup_frac).
    *
    * Plan: positions explode (one row per token, same order as the
    * corpus scan), one count per DISTINCT gram (corpus-bounded but
    * shuffle-keyed on the gram hash — the exact-dedup shape), a
    * shuffle-hash join back on gram (pinned: the dup-gram side is
    * unbounded, broadcast would not survive scale-up), then per-doc
    * windows partitioned by doc_id for the classic island merge
    * (running max of span end). Every window is doc-partitioned;
    * nothing global. 100 TB: the gram join is the standard suffix-
    * grain dedup shuffle; island merge is doc-local. */
  /** The positional 5-gram frame shared by q139 (coverage audit) and
    * q143 (rewrite): one row per (doc, start position), gram = the
    * 5-token window starting there. */
  private def spanGrams(tok: DataFrame): DataFrame =
    tok.filter(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 4), " +
          "i -> struct(i AS pos, concat_ws(' ', slice(tk, i, 5)) AS gram))")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))

  /** Island merge over marked span starts: partition-local running max
    * of span end detects gaps; returns (doc_id, island, s, e) reduced
    * to one row per maximal island. `p` must carry (doc_id, pos, e). */
  private def mergeIslands(p: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.withColumn("brk",
        when(col("pos") > coalesce(max(col("e")).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
  }

  private[ops] def dupSpanCoverageCore(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val grams = spanGrams(tok)
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("gram"))
    val p = grams.join(dup.hint("shuffle_hash"), Seq("gram"))
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("e"))
    val cov = mergeIslands(p)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + 1).as("dup_tokens"))
    tok.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(cov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_frac"))
  }

  def dupSpanCoverage(s: SparkSession, d: String): DataFrame =
    dupSpanCoverageCore(s, d).orderBy(col("doc_id"))

  private val dupSpanCoverageSql =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |        array_to_string(list_slice(tk, i, i+4), ' ') AS gram
      |      FROM tok, LATERAL unnest(generate_series(1, len(tk)-4)) AS u(i)
      |      WHERE len(tk) >= 5),
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
      |p AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
      |      FROM g JOIN dup USING (gram)),
      |isl AS (SELECT doc_id, pos, e,
      |  CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
      |  FROM p),
      |isl2 AS (SELECT doc_id, pos, e,
      |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |spans AS (SELECT doc_id, island, max(e) - min(pos) + 1 AS covered
      |  FROM isl2 GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, sum(covered) AS dup_tokens FROM spans GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(t.tk) AS dup_frac
      |FROM tok t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ---- substring-dedup rewrite (q143) ------------------------------

  /** q143: the REWRITE half of q139 — actually delete duplicated spans
    * (Lee et al. ACL'22 apply the deletion before training). Keep-first
    * semantics: a 5-gram occurrence is removable iff the gram occurs
    * >1 time corpus-wide AND this occurrence is not the gram's FIRST
    * (minimum packed (doc_id, pos) key — exact integer order, no
    * struct comparisons the engines could disagree on). Removable
    * occurrences mark spans, spans merge into maximal islands
    * ([[mergeIslands]], shared with q139), and each doc is reassembled
    * from the tokens outside its islands — so exactly one copy of
    * every duplicated run survives, in its earliest position. Output:
    * per-doc kept/total counts + the head of the rewritten text (the
    * full rewrite stays a column; the graded artifact keeps rows
    * skinny like q58's masked_head).
    *
    * Scale shape: q139's gram-keyed shuffle plus one min-aggregate on
    * the same key (same exchange grain), islands stay doc-partitioned,
    * and the rewrite is one doc-local filter over (token, index) with
    * the doc's own island array — at most a few dozen intervals — so
    * the reassembly is map-only. */
  private[ops] def substringRewriteCore(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val grams = spanGrams(tok)
      .withColumn("pk", col("doc_id") * 10000000L + col("pos"))
    val gstat = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"), min(col("pk")).as("first_pk"))
    val removable = grams
      .join(gstat.filter(col("cnt") > 1).hint("shuffle_hash"), Seq("gram"))
      .filter(col("pk") =!= col("first_pk"))
      .select(col("doc_id"), col("pos"), (col("pos") + 4).as("e"))
    val islands = mergeIslands(removable)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    tok.join(islands.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("ivc", coalesce(col("iv"),
        expr("CAST(array() AS array<struct<s:int,e:int>>)")))
      .withColumn("kept", expr(
        "filter(tk, (x, i) -> !exists(ivc, v -> i + 1 >= v.s AND i + 1 <= v.e))"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        substring(concat_ws(" ", col("kept")), 1, 80).as("head"))
      .orderBy(col("doc_id"))
  }

  def substringRewrite(s: SparkSession, d: String): DataFrame =
    substringRewriteCore(s, d)

  private val substringRewriteSql =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |g AS (SELECT doc_id, i AS pos, doc_id * 10000000 + i AS pk,
      |        array_to_string(list_slice(tk, i, i+4), ' ') AS gram
      |      FROM tok, LATERAL unnest(generate_series(1, len(tk)-4)) AS u(i)
      |      WHERE len(tk) >= 5),
      |gs AS (SELECT gram, count(*) AS cnt, min(pk) AS first_pk FROM g GROUP BY gram),
      |rm AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
      |       FROM g JOIN gs USING (gram)
      |       WHERE gs.cnt > 1 AND g.pk <> gs.first_pk),
      |isl AS (SELECT doc_id, pos, e,
      |  CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
      |  FROM rm),
      |isl2 AS (SELECT doc_id, pos, e,
      |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e
      |  FROM isl2 GROUP BY doc_id, island),
      |iv AS (SELECT doc_id, list(struct_pack(s := s, e := e) ORDER BY s) AS iv
      |  FROM spans GROUP BY doc_id),
      |rw AS (SELECT t.doc_id, t.tk,
      |  [t.tk[i] for i in generate_series(1, len(t.tk))
      |   if len([v for v in coalesce(iv.iv, []) if i >= v.s AND i <= v.e]) = 0] AS kept
      |  FROM tok t LEFT JOIN iv ON t.doc_id = iv.doc_id)
      |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS kept_tokens,
      |  -- array_to_string([]) is NULL in DuckDB, '' under Spark's
      |  -- concat_ws: normalize the fully-deleted-doc case
      |  coalesce(substring(array_to_string(kept, ' '), 1, 80), '') AS head
      |FROM rw ORDER BY doc_id""".stripMargin

  // ---- exact containment join (q131) -------------------------------

  /** q131: exact set-CONTAINMENT join — C(a→b) = |A∩B| / |A| ≥ 3/4,
    * the asymmetric complement of q104's symmetric Jaccard: a short
    * doc whose shingles are swallowed by a much longer one scores
    * containment ≈ 1 while its Jaccard is tiny, so this is the
    * subsumption detector (quote extraction, article-inside-digest,
    * excerpt-vs-full) that no symmetric threshold can express. The
    * direction matters, so output pairs are ORDERED (doc_a contained
    * in doc_b).
    *
    * Candidate generation is the one-sided prefix filter (the set
    * containment join of the All-Pairs family): C ≥ τ forces
    * |A∩B| ≥ ceil(τ·|A|), so A's rarest-first prefix of length
    * n_a − ceil(τ·n_a) + 1 must hit B's FULL set — only the query
    * side prunes (B's overlap fraction is unbounded), and the length
    * filter is one-sided too (n_b ≥ τ·n_a, no upper bound). Both
    * sides read the SAME memoized rarest-first doc frame as q104
    * (one build serves both joins); candidates stay skinny
    * (ids + sizes), arrays move once per surviving pair, and the
    * gate/containment stay exact-integer / one-IEEE-division. */
  def containmentJoinAt(s: SparkSession, d: String, p: Int, q: Int): DataFrame = {
    require(p > 0 && q >= p, s"tau = $p/$q must lie in (0, 1]")
    containmentFrom(jaccardDocsMemo(s, d), p, q)
  }

  private def containmentFrom(docs: DataFrame, p: Int, q: Int): DataFrame = {
    val prefA = docs.select(col("doc_id").as("da"), col("n").as("na"),
      explode(slice(col("shs"), lit(1),
        col("n") - expr(s"(n * $p + ${q - 1}) div $q") + 1)).as("shingle"))
    val fullB = docs.select(col("doc_id").as("db"), col("n").as("nb"),
      explode(col("shs")).as("shingle"))
    val cand = prefA
      .join(fullB.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("da") =!= col("db") && col("nb") * q >= col("na") * p)
      .select(col("da"), col("db"), col("na"), col("nb")).distinct()
    cand
      .join(docs.select(col("doc_id").as("da"), col("shs").as("sa"))
        .hint("shuffle_hash"), Seq("da"))
      .join(docs.select(col("doc_id").as("db"), col("shs").as("sb"))
        .hint("shuffle_hash"), Seq("db"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("inter") * q >= col("na") * p)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        (col("inter").cast("double") / col("na")).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def containmentJoin(s: SparkSession, d: String): DataFrame =
    containmentJoinAt(s, d, 3, 4)

  private val containmentJoinSql =
    """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
      |              FROM documents GROUP BY text),
      |tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM reps),
      |sh AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i+2), ' ')
      |                              for i in generate_series(1, len(toks)-2)]) AS s
      |       FROM tok WHERE len(toks) >= 3),
      |shd AS (SELECT DISTINCT doc_id, s FROM sh),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      |dfq AS (SELECT s, COUNT(*) AS df FROM shd GROUP BY s),
      |pref AS (SELECT doc_id, s, n FROM (
      |    SELECT shd.doc_id, shd.s,
      |           ROW_NUMBER() OVER (PARTITION BY shd.doc_id
      |                              ORDER BY dfq.df, shd.s) AS rn, sz.n
      |    FROM shd JOIN dfq USING (s) JOIN sz USING (doc_id))
      |  WHERE rn <= n - (n * 3 + 3) // 4 + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS da, a.n AS na, b.doc_id AS db, bz.n AS nb
      |         FROM pref a JOIN shd b ON a.s = b.s AND a.doc_id <> b.doc_id
      |         JOIN sz bz ON bz.doc_id = b.doc_id
      |         WHERE bz.n * 4 >= a.n * 3),
      |ints AS (SELECT c.da, c.na, c.db, c.nb, COUNT(*) AS inter
      |         FROM cand c
      |         JOIN shd x ON x.doc_id = c.da
      |         JOIN shd y ON y.doc_id = c.db AND y.s = x.s
      |         GROUP BY c.da, c.na, c.db, c.nb)
      |SELECT da AS doc_a, db AS doc_b, na AS n_a, nb AS n_b,
      |       CAST(inter AS DOUBLE) / na AS containment
      |FROM ints WHERE inter * 4 >= na * 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- quality ensemble percentile ranking (q130) ------------------

  /** q130: per-language quality-ensemble ranking — the three cheap
    * doc-local signals the suite grades separately (stopword ratio
    * q41, top-bigram repetition q58, integer entropy q122) fused into
    * one comparable score: each signal becomes a PER-LANGUAGE
    * percent_rank (signals have language-dependent scales — zh's
    * stopword ratio distribution is not en's, so a global rank would
    * just rank languages), oriented so higher = better-quality
    * (stopword and entropy ascending, repetition descending), and the
    * composite is their fixed-order mean. Rank-based fusion is the
    * standard answer to incommensurable quality signals (no learned
    * weights to ship, outlier-robust).
    *
    * Determinism: every window orders by (signal, doc_id) — a total
    * order, so percent_rank assigns unique exact rationals; the three
    * divisions and the fixed-order (a+b+c)/3 are the only FP ops.
    * Scale shape: signals are map-only (codegen'd bigramStats, HOF
    * char counts); the three windows share one lang-partitioned
    * exchange and differ only in sort order. */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame =
    qualityEnsembleCore(s, d).orderBy(col("doc_id"))

  private[ops] def qualityEnsembleCore(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // REP grain since round 12 (the q163/signatures lesson): all three
    // signals are pure functions of the text, so the tokenizer /
    // bigram / per-char entropy work — the expensive part, measured
    // 100×-proportional pre-rewrite — runs once per DISTINCT text and
    // joins back to doc grain through the skinny [[docRepMemo]] spine;
    // each doc keeps its OWN lang for the per-language rank windows.
    // Memoized: q130, q133 and q161 consume the identical frame.
    val base = graft.CheckpointMemo.getOrElseUpdate(s, d, "quality_signals") {
      val repStats = Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("tk", toks(col("text")))
        .filter(size(col("tk")) >= 2)
        .withColumn("n_stop", stopwordCounts(col("tk"), Seq(stopProfiles.head._2))(0))
        .withColumn("bs", graft.functions.GraftFunctions.bigramStats(col("tk")))
        .withColumn("cs", split(col("text"), ""))
        .withColumn("n", size(col("cs")).cast("long"))
        .withColumn("cnts", expr(
          "transform(array_distinct(cs), c -> CAST(size(filter(cs, x -> x = c)) AS BIGINT))"))
        .select(col("rep"),
          (col("n_stop").cast("double") / size(col("tk"))).as("stop_ratio"),
          (col("bs")(2).cast("double") / (col("bs")(0) - 1)).as("rep_frac"),
          (expr("aggregate(cnts, 0L, (a, c) -> a + c * (length(bin(n div c)) - 1))")
            .cast("double") / col("n")).as("avg_bits"))
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(docRepMemo(s, d).hint("shuffle_hash"), Seq("doc_id"))
        .join(repStats.hint("shuffle_hash"), Seq("rep"))
        .select(col("doc_id"), col("lang"),
          col("stop_ratio"), col("rep_frac"), col("avg_bits"))
        .localCheckpoint()
    }
    base
      .withColumn("p_stop", percent_rank().over(
        w.partitionBy(col("lang")).orderBy(col("stop_ratio"), col("doc_id"))))
      .withColumn("p_rep", percent_rank().over(
        w.partitionBy(col("lang")).orderBy(col("rep_frac").desc, col("doc_id").desc)))
      .withColumn("p_ent", percent_rank().over(
        w.partitionBy(col("lang")).orderBy(col("avg_bits"), col("doc_id"))))
      .withColumn("quality_pct",
        (col("p_stop") + col("p_rep") + col("p_ent")) / lit(3.0))
      .select(col("doc_id"), col("lang"), col("p_stop"), col("p_rep"),
        col("p_ent"), col("quality_pct"))
  }

  /** The q130 signal CTE chain (t → f → bg/bc/rep → ent → base),
    * shared verbatim by the q130 oracle and the q133 composed oracle
    * (the deltaSqlCtes/componentsSqlCtes pattern — a named constant,
    * so a rewording of either consumer is a compile-visible change,
    * never silent regex surgery on the other's SQL). */
  private[ops] val qualitySqlCtes: String = {
    val en = inList(stopProfiles.head._2)
    s"""t AS (SELECT doc_id, lang, string_split(text,' ') AS tk,
       |    string_split(text,'') AS cs FROM documents),
       |f AS (SELECT doc_id, lang,
       |    CAST(len(list_filter(tk, x -> x IN ($en))) AS DOUBLE)/len(tk) AS stop_ratio,
       |    tk, cs FROM t WHERE len(tk) >= 2),
       |bg AS (SELECT doc_id, unnest([array_to_string(list_slice(tk, i, i+1),' ')
       |         for i in generate_series(1, len(tk)-1)]) AS bg,
       |       len(tk) AS ntk FROM f),
       |bc AS (SELECT doc_id, ntk, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, ntk, bg),
       |rep AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE)/(ntk-1) AS rep_frac
       |        FROM bc GROUP BY doc_id, ntk),
       |ent AS (SELECT doc_id,
       |    CAST(list_reduce(list_prepend(0::BIGINT,
       |      [CAST(len(list_filter(cs, x -> x = c)) AS BIGINT)
       |       for c in list_distinct(cs)]),
       |      (a, c) -> a + c * (length(bin(CAST(len(cs) AS BIGINT) // c)) - 1)) AS DOUBLE)
       |    / len(cs) AS avg_bits
       |  FROM f),
       |base AS (SELECT f.doc_id, f.lang, f.stop_ratio, rep.rep_frac, ent.avg_bits
       |         FROM f JOIN rep USING (doc_id) JOIN ent USING (doc_id))""".stripMargin
  }

  private val qualityEnsembleSql =
    s"""WITH $qualitySqlCtes
       |SELECT doc_id, lang,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id) AS p_stop,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY rep_frac DESC, doc_id DESC) AS p_rep,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY avg_bits, doc_id) AS p_ent,
       |  (percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY rep_frac DESC, doc_id DESC)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY avg_bits, doc_id)) / 3.0 AS quality_pct
       |FROM base ORDER BY doc_id""".stripMargin

  /** q133: quality-aware dedup survivor selection — within each q76
    * near-dup cluster, the doc that SURVIVES is the one with the best
    * q130 ensemble quality (ties to the smaller id), not the smallest
    * id. Min-id survival (the q30/q79 default) is cheap but keeps
    * whichever copy crawled first; quality-argmax keeps the cleanest
    * copy — the policy difference is visible in the output
    * (survivor vs min_doc differ exactly where a later copy
    * out-scores the first). Both inputs are memoized frames (cluster
    * labels, ensemble signals), so the query itself is one skinny
    * join + a cluster-partitioned argmax window + a cluster-grain
    * rollup. */
  def survivorPolicy(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality_pct").desc, col("doc_id"))
    dedupComponentsCore(s, d)
      .join(qualityEnsembleCore(s, d).select(col("doc_id"), col("quality_pct"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("min_doc"),
        max(when(col("rn") === 1, col("doc_id"))).as("survivor"),
        max(when(col("rn") === 1, col("quality_pct"))).as("survivor_quality"))
      .orderBy(col("cluster"))
  }

  /** Composes [[componentsSqlCtes]] with [[qualitySqlCtes]] (the same
    * named chain the q130 oracle reads) and recomputes the composite
    * rank inside `qual`. */
  private lazy val survivorPolicySql = {
    s"""$componentsSqlCtes,
       |$qualitySqlCtes,
       |qual AS (SELECT doc_id,
       |  (percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY rep_frac DESC, doc_id DESC)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY avg_bits, doc_id)) / 3.0 AS quality_pct
       | FROM base),
       |lab AS (SELECT comp.doc_id, comp.cluster, qual.quality_pct
       |        FROM comp JOIN qual USING (doc_id)),
       |rk AS (SELECT doc_id, cluster, quality_pct,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY quality_pct DESC, doc_id) AS rn FROM lab)
       |SELECT cluster, count(*) AS n_members, min(doc_id) AS min_doc,
       |  max(CASE WHEN rn = 1 THEN doc_id END) AS survivor,
       |  max(CASE WHEN rn = 1 THEN quality_pct END) AS survivor_quality
       |FROM rk GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** q161: QUALITY × DUPLICATION interaction — the diagnostic behind
    * "does dedup double as a quality filter here": per quality
    * quartile (q130's ensemble percentile), the fraction of docs with
    * at least one near-duplicate and the mean cluster size. Lee et
    * al. (ACL'22) found duplicated web text skews low-quality; when
    * the interaction holds, dedup budget and quality-filter budget
    * overlap and the pipeline can spend less on one — when it does
    * not (flat dup_rate across quartiles), the two filters are
    * independent and both earn their cost. Composes two memoized
    * frames (quality signals, fixpoint labels) with one size
    * aggregate — zero new corpus passes.
    *
    * Scale shape: the q133 composition plan plus a 4-row rollup. */
  def qualityDupInteraction(s: SparkSession, d: String): DataFrame = {
    val qual = qualityEnsembleCore(s, d)
      .select(col("doc_id"), col("quality_pct"))
    val cl = Tables.documents(s, d).select(col("doc_id"))
      .join(dedupComponentsCore(s, d).hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val sizes = cl.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    qual.join(cl.hint("shuffle_hash"), Seq("doc_id"))
      .join(sizes.hint("shuffle_hash"), Seq("cluster"))
      .withColumn("quartile",
        least(floor(col("quality_pct") * 4), lit(3.0)).cast("long"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_dup"),
        round(sum(when(col("csize") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("dup_rate"),
        round(sum(col("csize")).cast("double") / count(lit(1)), 6)
          .as("mean_cluster_size"))
      .orderBy(col("quartile"))
  }

  private lazy val qualityDupInteractionSql =
    s"""$componentsSqlCtes,
       |$qualitySqlCtes,
       |qual AS (SELECT doc_id,
       |  (percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY rep_frac DESC, doc_id DESC)
       |   + percent_rank() OVER (PARTITION BY lang ORDER BY avg_bits, doc_id)) / 3.0 AS quality_pct
       | FROM base),
       |cl AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
       |       FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |szs AS (SELECT cluster, count(*) AS csize FROM cl GROUP BY cluster),
       |j AS (SELECT qual.doc_id, qual.quality_pct, szs.csize
       |      FROM qual JOIN cl ON cl.doc_id = qual.doc_id
       |           JOIN szs ON szs.cluster = cl.cluster)
       |SELECT CAST(least(floor(quality_pct * 4), 3) AS BIGINT) AS quartile,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  round(CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS dup_rate,
       |  round(CAST(SUM(csize) AS DOUBLE) / count(*), 6) AS mean_cluster_size
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- corpus drift report (q129) ----------------------------------

  /** q129: corpus drift between the accumulated corpus and the new
    * batch (q124's hash half-space split), per source — the
    * monitoring report that tells a pipeline operator whether a feed
    * changed character before the change poisons a training mix:
    * chunk-grain added / removed / retained counts and a Jaccard
    * drift score per source. Chunk grain (q86's 32-token unit) for
    * the same reason as q113: whole-text turnover is always ~100% on
    * a crawl, chunk turnover measures CONTENT change.
    *
    * Scale shape: one grouped pass per (source, chunk-hash) with
    * old/new presence flags aggregated in place (the q124 shape),
    * then a source-grain rollup — the report is sources × 5 ints +
    * one exact-int division, broadcast-sized at any corpus. */
  def corpusDrift(s: SparkSession, d: String): DataFrame = {
    val isOld = substring(
      md5(concat(lit("delta:"), col("doc_id").cast("string"))), 1, 1)
      .between("0", "7")
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), isOld.as("is_old"),
        split(col("text"), " ").as("t"))
      .select(col("source"), col("is_old"), explode(expr(
        "transform(sequence(0, CAST(ceil(size(t)/32.0) AS INT) - 1), " +
          "i -> md5(array_join(slice(t, i*32+1, 32), ' ')))")).as("h"))
    chunks
      .groupBy(col("source"), col("h"))
      .agg(max(when(col("is_old"), 1L).otherwise(0L)).as("in_old"),
        max(when(!col("is_old"), 1L).otherwise(0L)).as("in_new"))
      .groupBy(col("source"))
      .agg(sum(col("in_old")).as("old_chunks"),
        sum(col("in_new")).as("new_chunks"),
        sum(when(col("in_old") === 0 && col("in_new") === 1, 1L)
          .otherwise(0L)).as("added"),
        sum(when(col("in_old") === 1 && col("in_new") === 0, 1L)
          .otherwise(0L)).as("removed"),
        sum(when(col("in_old") === 1 && col("in_new") === 1, 1L)
          .otherwise(0L)).as("retained"),
        count(lit(1)).as("union_chunks"))
      .withColumn("drift",
        lit(1.0) - col("retained").cast("double") / col("union_chunks"))
      .select(col("source"), col("old_chunks"), col("new_chunks"),
        col("added"), col("removed"), col("retained"), col("drift"))
      .orderBy(col("source"))
  }

  private val corpusDriftSql =
    """WITH tag AS (SELECT doc_id, source, string_split(text,' ') AS t,
      |    substring(md5('delta:'||CAST(doc_id AS VARCHAR)),1,1)
      |      BETWEEN '0' AND '7' AS is_old FROM documents),
      |ch AS (SELECT source, is_old,
      |    md5(array_to_string(list_slice(t, CAST(i*32+1 AS BIGINT),
      |        CAST(i*32+32 AS BIGINT)), ' ')) AS h
      |  FROM tag, (SELECT unnest(generate_series(0,
      |     (SELECT CAST(ceil(max(len(t))/32.0) AS BIGINT) FROM tag))) AS i) g
      |  WHERE i <= CAST(ceil(len(t)/32.0) AS BIGINT) - 1),
      |fl AS (SELECT source, h,
      |         max(CASE WHEN is_old THEN 1 ELSE 0 END) AS in_old,
      |         max(CASE WHEN is_old THEN 0 ELSE 1 END) AS in_new
      |       FROM ch GROUP BY source, h)
      |SELECT source,
      |  CAST(sum(in_old) AS BIGINT) AS old_chunks,
      |  CAST(sum(in_new) AS BIGINT) AS new_chunks,
      |  CAST(sum(CASE WHEN in_old = 0 AND in_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS added,
      |  CAST(sum(CASE WHEN in_old = 1 AND in_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS removed,
      |  CAST(sum(CASE WHEN in_old = 1 AND in_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained,
      |  1.0 - CAST(sum(CASE WHEN in_old = 1 AND in_new = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*) AS drift
      |FROM fl GROUP BY source ORDER BY source""".stripMargin

  // ---- TF-IDF cosine similarity join (q121) ------------------------

  /** q121: TF-IDF-weighted cosine similarity join over 3-shingle
    * profiles — the WEIGHTED complement of q104's set-semantics
    * Jaccard: two docs that share RARE shingles score high even when
    * their common boilerplate differs, and shared boilerplate alone
    * (low idf) can no longer push a pair over the threshold. Shingle
    * grain, not word grain, deliberately: this corpus (like any
    * template-generated one) has a tiny unigram vocabulary (31 words,
    * every df ≈ N — idf degenerates to a constant), while the 3-gram
    * vocabulary is ~27k terms with max df 25: the inverted index is
    * selective exactly at the grain where the corpus carries its
    * identity.
    *
    * Cross-engine exactness: weights are INTEGER tf·idf with
    * idf = (N·100) div df (integer division), so dot products and
    * norms are exact BIGINT sums (order-independent); the only FP ops
    * are one int→double conversion, two sqrt and one divide per output
    * row — each correctly rounded per IEEE-754 in both engines, so the
    * cosine is bit-identical with no rounding step. (At int64-risk
    * corpus sizes the weights rescale or the sums widen to DECIMAL;
    * the graded scales stay far inside 2^63.)
    *
    * Scale shape: the pair-generation self-join keys on the shingle
    * with df ≤ 50 (the q104 stopword-shingle rule — high-df terms
    * carry no idf weight and quadratic fan-out), so candidates are
    * O(Σ df²) = 2.8M at sf0.1, never all-pairs; the tf aggregate, the
    * df aggregate, the weight join and the pair join all hash on the
    * same shingle key, and the norm join-backs move only (doc_id,
    * bigint) pairs — the q104 skinny-shuffle rule. */
  def tfidfCosineJoin(s: SparkSession, d: String): DataFrame = {
    // the weight frame is read three times (self-join both sides +
    // norms): built once and memoized (measured: 5.67 s in-suite with
    // the tf/df/weight chain re-planned per reference -> ~1.5 s from
    // the checkpoint); post-checkpoint joins pin shuffle_hash
    val wt = graft.CheckpointMemo.getOrElseUpdate(s, d, "tfidf_weights") {
      // rep grain (the q104/q105 precondition): exact copies would
      // scale every df with the duplication factor and the candidate
      // fan-out with its square; idf over distinct texts is the
      // duplication-invariant measure
      val reps = Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val nDocs = reps.agg(count(lit(1)).as("n_docs"))
      val tf = reps
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("toks", toks(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("s"))
        .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("tf"))
      val df0 = tf.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= lit(50))
      tf.join(df0.hint("shuffle_hash"), Seq("s"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("s"),
          (col("tf") * expr("(n_docs * 100) div df")).as("wgt"))
        .localCheckpoint()
    }
    val nrm = wt.groupBy(col("doc_id")).agg(sum(col("wgt") * col("wgt")).as("norm2"))
    wt.alias("a")
      .join(wt.alias("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.wgt") * col("b.wgt")).as("dot"), count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .join(nrm.select(col("doc_id").as("doc_a"), col("norm2").as("n2a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("norm2").as("n2b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("cos_sim",
        col("dot").cast("double") / (sqrt(col("n2a")) * sqrt(col("n2b"))))
      .filter(col("cos_sim") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("dot"), col("cos_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val tfidfCosineJoinSql =
    """WITH reps AS (SELECT MIN(doc_id) AS doc_id, text
      |              FROM documents GROUP BY text),
      |n AS (SELECT count(*) AS n_docs FROM reps),
      |tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM reps),
      |sh AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i+2), ' ')
      |                              for i in generate_series(1, len(toks)-2)]) AS s
      |       FROM tok WHERE len(toks) >= 3),
      |tf AS (SELECT doc_id, s, count(*) AS tf FROM sh GROUP BY doc_id, s),
      |df AS (SELECT s, count(*) AS df FROM tf GROUP BY s),
      |wt AS (SELECT t.doc_id, t.s, t.tf * ((n.n_docs * 100) // d.df) AS wgt
      |       FROM tf t JOIN df d USING (s), n WHERE d.df <= 50),
      |nrm AS (SELECT doc_id, sum(wgt*wgt) AS norm2 FROM wt GROUP BY doc_id),
      |dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |               CAST(sum(a.wgt*b.wgt) AS BIGINT) AS dot, count(*) AS shared
      |        FROM wt a JOIN wt b ON a.s = b.s AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT doc_a, doc_b, shared, dot,
      |  CAST(dot AS DOUBLE)/(sqrt(na.norm2)*sqrt(nb.norm2)) AS cos_sim
      |FROM dot JOIN nrm na ON na.doc_id = doc_a
      |         JOIN nrm nb ON nb.doc_id = doc_b
      |WHERE CAST(dot AS DOUBLE)/(sqrt(na.norm2)*sqrt(nb.norm2)) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- integer-entropy quality gate (q122) -------------------------

  /** q122: character-entropy quality gate with INTEGER surprisal — the
    * keyboard-mash / repeated-fill detector that length and stopword
    * ratios (q41) miss. True Shannon entropy needs ln(), whose
    * last-bit rounding differs between engines and whose FP sum is
    * order-dependent; instead each character contributes its FLOOR
    * log2 surprisal, `cnt · (len(bin(n div cnt)) − 1)` — the q110
    * log-bucket trick — so the per-doc score is an exact integer on
    * both engines (within 1 bit/char of Shannon, monotone in the same
    * direction: uniform text high, repetitive text low).
    *
    * Scale shape: entirely doc-local — char counts come from a
    * distinct+filter HOF pass over the doc's own char array, never an
    * explode — so the stage is map-only at any corpus size; only the
    * final doc-grain (id, 2 ints, 1 double, 1 string) row ever moves.
    * The avg_bits division is one exact-int IEEE op, identical bits
    * on both engines. */
  def entropyGate(s: SparkSession, d: String): DataFrame =
    entropyCore(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism))

  /** The gate's arithmetic over any (doc_id, text) frame — separated
    * so the spec can pin known-entropy strings ("aaaa" → 0 bits)
    * without a parquet fixture. */
  private[graft] def entropyCore(docs: DataFrame): DataFrame =
    docs
      .withColumn("cs", split(col("text"), ""))
      .withColumn("n", size(col("cs")).cast("long"))
      .withColumn("cnts", expr(
        "transform(array_distinct(cs), c -> CAST(size(filter(cs, x -> x = c)) AS BIGINT))"))
      .withColumn("surprisal", expr(
        "aggregate(cnts, 0L, (a, c) -> a + c * (length(bin(n div c)) - 1))"))
      .select(col("doc_id"), col("n"), col("surprisal"),
        (col("surprisal").cast("double") / col("n")).as("avg_bits"))
      .withColumn("gate", when(col("avg_bits") < 3.4, lit("low")).otherwise(lit("ok")))
      .orderBy(col("doc_id"))

  private val entropyGateSql =
    """WITH t AS (SELECT doc_id, string_split(text,'') AS cs FROM documents),
      |c AS (SELECT doc_id, CAST(len(cs) AS BIGINT) AS n,
      |        [CAST(len(list_filter(cs, x -> x = c)) AS BIGINT)
      |         for c in list_distinct(cs)] AS cnts
      |      FROM t),
      |sc AS (SELECT doc_id, n,
      |         list_reduce(list_prepend(0::BIGINT, cnts),
      |           (a, c) -> a + c * (length(bin(n // c)) - 1)) AS surprisal
      |       FROM c)
      |SELECT doc_id, n, surprisal,
      |  CAST(surprisal AS DOUBLE)/n AS avg_bits,
      |  CASE WHEN CAST(surprisal AS DOUBLE)/n < 3.4 THEN 'low' ELSE 'ok' END AS gate
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---- unigram-LM tokenizer trainer (q167/q168) --------------------

  /** Word clip for the unigram trainer: DP cost is O(len·Lmax) per
    * DISTINCT word, so the clip bounds per-word state, not fidelity
    * (SentencePiece clips its sentences the same way). */
  private[graft] val UniClip = 12
  /** Longest candidate piece — the DP's lookback window. */
  private[graft] val UniMaxPiece = 4
  /** Multi-char candidate budget (single chars are always kept so the
    * Viterbi lattice stays total). */
  private[graft] val UniTopMulti = 200

  /** Clipped word-grain counts (w, c_w) — the unigram trainer's whole
    * working set. At 100 TB the corpus never re-enters the EM loop:
    * the word-count table (vocabulary-bounded, the shape every
    * SentencePiece-style trainer feeds on) is built once and each EM
    * round re-reads only it. */
  private def unigramWords(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "unigram_words") {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1)
        .select(substring(col("word"), 1, UniClip).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
        .localCheckpoint()
    }

  /** Viterbi segmentation of `w` under unigram piece probabilities:
    * maximizes the product of piece probabilities with the EXACT
    * arithmetic the DuckDB oracle DP uses (same fold order — score[p]
    * = score[p−L] · prob(piece) on IEEE doubles — so scores are
    * bit-identical across engines). Ties: the LONGER last piece wins
    * at every DP cell (the oracle's CASE chain tests L=4 first with
    * `>=`; here the descending-L scan replaces only on strict `>`).
    * Returns piece lengths left-to-right. Assumes every single char
    * of `w` has a probability (the trainer floors chars at count 1).
    * ASCII-safe: Java code units = DuckDB codepoints on this corpus;
    * a non-BMP corpus would need codepoint-grain indexing. */
  private[graft] def uniViterbi(w: String,
      prob: scala.collection.Map[String, Double]): Array[Int] = {
    val n = w.length
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    best(0) = 1.0
    var p = 1
    while (p <= n) {
      var bs = -1.0
      var bl = 0
      var l = math.min(UniMaxPiece, p)
      while (l >= 1) {
        prob.get(w.substring(p - l, p)) match {
          case Some(pr) =>
            val sc = best(p - l) * pr
            if (sc > bs) { bs = sc; bl = l }
          case None =>
        }
        l -= 1
      }
      best(p) = bs
      back(p) = bl
      p += 1
    }
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
    var q = n
    while (q > 0) { lens += back(q); q -= back(q) }
    lens.reverseIterator.toArray
  }

  /** The DRIVER-LOOPED UNIGRAM-LM TRAINER (SentencePiece's hard-EM
    * skeleton, Kudo ACL'18): candidate pieces = all single chars +
    * the [[UniTopMulti]] most frequent substrings of length
    * 2..[[UniMaxPiece]] (occurrence-weighted); each EM round
    * broadcasts the normalized piece probabilities, Viterbi-segments
    * every DISTINCT word in the executors, and the expected counts
    * (Σ c_w per piece on the argmax path) ride home on the q153
    * [[PairDeltaAcc]] accumulator — vocabulary-bounded driver state,
    * zero shuffle. M-step: multi-char pieces keep their expected
    * count (hard-EM prunes the unused ones to zero), single chars are
    * floored at 1 so the lattice stays total.
    *
    * Scale shape per round: one map-only action over the WORD table
    * (not the corpus), one broadcast down (≤ chars+200 entries), one
    * accumulator map up per partition. The corpus is touched exactly
    * once, at word-count time.
    *
    * Returns (raw expected counts per round — pre-floor, the oracle's
    * n_r —, final post-M-step vocab). */
  private[graft] def unigramTrainLoop(s: SparkSession, d: String,
      rounds: Int): (Seq[Map[String, Long]], Map[String, Long]) = {
    import s.implicits._
    val words = unigramWords(s, d)
    // Candidate cut is DISTRIBUTED (VERDICT r12 #3): the full
    // substring-count table never reaches the driver. The multi-char
    // top-UniTopMulti is a TakeOrderedAndProject (per-partition heap +
    // driver merge of 32×200 rows); the single-char slice is bounded
    // by the alphabet, so its collect is O(|Σ|). On a 100 TB
    // multilingual corpus the grouped table can hold tens of millions
    // of distinct ≤4-char grams — only ≤(|Σ| + UniTopMulti) rows ever
    // cross to the driver now.
    val grouped = words.as[(String, Long)].flatMap { case (w, c) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(UniMaxPiece, w.length - i)
      } yield (w.substring(i, i + l), c)
    }.toDF("piece", "c_w")
      .groupBy(col("piece")).agg(sum(col("c_w")).as("cnt"))
    val chars = grouped.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = grouped.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(UniTopMulti)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Map[String, Long] = (chars ++ multi).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    var r = 1
    while (r <= rounds) {
      val tot = vocab.valuesIterator.sum.toDouble
      val probs = vocab.map { case (p, c) => p -> c.toDouble / tot }
      val bc = s.sparkContext.broadcast(probs)
      val acc = new PairDeltaAcc
      s.sparkContext.register(acc, s"unigram_counts_r$r")
      // foreachPartition is an ACTION, so the accumulator updates get
      // Spark's exactly-once guarantee; the partition-id keying keeps
      // them idempotent under task retry regardless (the q153 fix).
      words.as[(String, Long)].foreachPartition {
        (it: Iterator[(String, Long)]) =>
          val pm = bc.value
          val local = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { case (w, cw) =>
            var off = 0
            uniViterbi(w, pm).foreach { l =>
              val piece = w.substring(off, off + l)
              local.update(piece, local.getOrElse(piece, 0L) + cw)
              off += l
            }
          }
          acc.add((org.apache.spark.TaskContext.getPartitionId(),
            local.toMap))
      }
      bc.destroy()
      val n = acc.value
      out += n
      vocab = vocab.iterator.collect { case (p, _) if p.length == 1 =>
        p -> math.max(n.getOrElse(p, 0L), 1L)
      }.toMap ++ n.filter(_._1.length >= 2)
      r += 1
    }
    (out.toSeq, vocab)
  }

  /** The trained 2-round artifacts, built once per (session, sfDir):
    * raw round-2 expected counts (q167's graded output) and the
    * post-floor round-2 model (q168's serving vocab). */
  private def unigramModel2(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    // one training run feeds BOTH memo tags: `trained` is lazy, so it
    // fires at most once per call no matter which tags are cold
    lazy val trained = unigramTrainLoop(s, d, rounds = 2)
    val c2 = graft.CheckpointMemo.getOrElseUpdate(s, d, "unigram_counts2") {
      trained._1.last.toSeq.toDF("piece", "cnt").localCheckpoint()
    }
    val m2 = graft.CheckpointMemo.getOrElseUpdate(s, d, "unigram_model2") {
      trained._2.toSeq.toDF("piece", "cnt").localCheckpoint()
    }
    (c2, m2)
  }

  /** q167: the unigram trainer GRADED at 2 hard-EM rounds — the
    * DuckDB oracle recounts both rounds from scratch with a recursive
    * per-word DP (bounded at [[UniClip]] iterations), so a hash match
    * proves the driver-looped accumulator trainer picked the
    * identical Viterbi path for every word in both rounds. */
  def unigramTrain(s: SparkSession, d: String): DataFrame =
    unigramModel2(s, d)._1.orderBy(col("cnt").desc, col("piece"))

  /** q168: TOKENIZER FERTILITY BY SOURCE under the trained unigram
    * model — q164's eval harness pointed at the round-2 unigram vocab
    * instead of the BPE merges: tokens-per-word and chars-per-token
    * per source. Viterbi runs once per DISTINCT word; the per-source
    * rollup joins the word-grain piece counts back broadcast. */
  /** (w, n_pieces) at distinct-clipped-word grain under the trained
    * round-2 model — q168's join side. */
  private[graft] def unigramWordPieces(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = unigramModel2(s, d)._2.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val tot = model.map(_._2).sum.toDouble
    val probs = model.map { case (p, c) => p -> (c.toDouble / tot) }.toMap
    val bc = s.sparkContext.broadcast(probs)
    unigramWords(s, d).as[(String, Long)]
      .map { case (w, _) => (w, uniViterbi(w, bc.value).length.toLong) }
      .toDF("w", "n_pieces")
  }

  def unigramFertility(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wordPieces = unigramWordPieces(s, d)
    val bySource = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .select(col("source"), substring(col("word"), 1, UniClip).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    bySource.join(broadcast(wordPieces), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_pieces")).as("n_tokens"),
        round(sum(col("c") * col("n_pieces")).cast("double") /
          sum(col("c")), 6).as("tokens_per_word"),
        round(sum(col("c") * length(col("w"))).cast("double") /
          sum(col("c") * col("n_pieces")), 6).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** One DP round of the oracle: vocab CTE `vc{r}` → prob map `vm{r}`
    * → per-word recursive Viterbi `dp{r}` (state per word = best
    * score and argmax path per position; the recursive step sees only
    * the previous iteration, so both arrays ride along row-local) →
    * argmax-path pieces `seg{r}` → expected counts `n{r}`. The CASE
    * chain prefers the longest piece on score ties, mirroring
    * [[uniViterbi]]'s descending-L strict-> scan. */
  private def uniDpSql(r: Int, withSeg: Boolean): String = {
    val seg = if (!withSeg) "" else s""",
       |seg$r AS MATERIALIZED (
       |  SELECT w, c_w,
       |         substr(w, (1 + coalesce(list_sum(path[1:ord - 1]), 0))::INT, path[ord]) AS piece
       |  FROM (SELECT w, c_w, ps[length(w)] AS path FROM dp$r WHERE pos = length(w)),
       |       unnest(range(1, ${UniClip + 1})) AS t(ord)
       |  WHERE ord <= length(path)
       |),
       |n$r AS MATERIALIZED (
       |  SELECT piece, sum(c_w)::BIGINT AS cnt FROM seg$r GROUP BY piece
       |)""".stripMargin
    s"""vm$r AS MATERIALIZED (
       |  SELECT map(list(piece ORDER BY piece),
       |             list(cnt::DOUBLE / t.tot ORDER BY piece)) AS m
       |  FROM vc$r, (SELECT sum(cnt)::DOUBLE AS tot FROM vc$r) t
       |  GROUP BY t.tot
       |),
       |dp$r AS (
       |  SELECT w, c_w, 0 AS pos, []::DOUBLE[] AS ss, []::INT[][] AS ps
       |  FROM wrd
       |  UNION ALL
       |  SELECT w, c_w, pos + 1,
       |         list_append(ss, best.s), list_append(ps, best.p)
       |  FROM (
       |    SELECT w, c_w, pos, ss, ps,
       |      CASE
       |        WHEN s4 IS NOT NULL AND (s3 IS NULL OR s4 >= s3) AND (s2 IS NULL OR s4 >= s2) AND (s1 IS NULL OR s4 >= s1)
       |          THEN struct_pack(s := s4, p := list_append(CASE WHEN pos - 3 = 0 THEN []::INT[] ELSE ps[pos - 3] END, 4))
       |        WHEN s3 IS NOT NULL AND (s2 IS NULL OR s3 >= s2) AND (s1 IS NULL OR s3 >= s1)
       |          THEN struct_pack(s := s3, p := list_append(CASE WHEN pos - 2 = 0 THEN []::INT[] ELSE ps[pos - 2] END, 3))
       |        WHEN s2 IS NOT NULL AND (s1 IS NULL OR s2 >= s1)
       |          THEN struct_pack(s := s2, p := list_append(CASE WHEN pos - 1 = 0 THEN []::INT[] ELSE ps[pos - 1] END, 2))
       |        ELSE struct_pack(s := s1, p := list_append(CASE WHEN pos = 0 THEN []::INT[] ELSE ps[pos] END, 1))
       |      END AS best
       |    FROM (
       |      SELECT w, c_w, pos, ss, ps,
       |        (CASE WHEN pos = 0 THEN 1.0::DOUBLE ELSE ss[pos] END) * m[substr(w, pos + 1, 1)][1] AS s1,
       |        CASE WHEN pos >= 1 THEN (CASE WHEN pos - 1 = 0 THEN 1.0::DOUBLE ELSE ss[pos - 1] END) * m[substr(w, pos, 2)][1] END AS s2,
       |        CASE WHEN pos >= 2 THEN (CASE WHEN pos - 2 = 0 THEN 1.0::DOUBLE ELSE ss[pos - 2] END) * m[substr(w, pos - 1, 3)][1] END AS s3,
       |        CASE WHEN pos >= 3 THEN (CASE WHEN pos - 3 = 0 THEN 1.0::DOUBLE ELSE ss[pos - 3] END) * m[substr(w, pos - 2, 4)][1] END AS s4
       |      FROM dp$r, vm$r
       |      WHERE pos < length(w)
       |    )
       |  )
       |)$seg""".stripMargin
  }

  /** Shared oracle staging: clipped word counts, candidate substrings,
    * round-1 vocab, both DP rounds. */
  private lazy val uniSqlCtes: String =
    s"""WITH RECURSIVE
       |wrd AS MATERIALIZED (
       |  SELECT substr(word, 1, $UniClip) AS w, count(*)::BIGINT AS c_w
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) >= 1
       |  GROUP BY 1
       |),
       |occ AS MATERIALIZED (
       |  SELECT substr(w, i, l) AS piece, sum(c_w)::BIGINT AS cnt
       |  FROM wrd,
       |       (SELECT unnest(range(1, ${UniMaxPiece + 1})) AS l) ls,
       |       (SELECT unnest(range(1, ${UniClip + 1})) AS i) st
       |  WHERE i + l - 1 <= length(w)
       |  GROUP BY 1
       |),
       |vc1 AS MATERIALIZED (
       |  SELECT piece, cnt FROM occ WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM occ WHERE length(piece) >= 2) WHERE rn <= $UniTopMulti
       |),
       |${uniDpSql(1, withSeg = true)},
       |vc2 AS MATERIALIZED (
       |  SELECT piece, greatest(cnt, 1) AS cnt FROM (
       |    SELECT c.piece, coalesce(n.cnt, 0) AS cnt
       |    FROM (SELECT piece FROM vc1 WHERE length(piece) = 1) c
       |    LEFT JOIN n1 n ON n.piece = c.piece
       |  )
       |  UNION ALL
       |  SELECT piece, cnt FROM n1 WHERE length(piece) >= 2
       |),
       |${uniDpSql(2, withSeg = true)}""".stripMargin

  private lazy val unigramTrainSql: String =
    s"""$uniSqlCtes
       |SELECT piece, cnt FROM n2 ORDER BY cnt DESC, piece""".stripMargin

  private lazy val unigramFertilitySql: String =
    s"""$uniSqlCtes,
       |vc3 AS MATERIALIZED (
       |  SELECT piece, greatest(cnt, 1) AS cnt FROM (
       |    SELECT c.piece, coalesce(n.cnt, 0) AS cnt
       |    FROM (SELECT piece FROM vc1 WHERE length(piece) = 1) c
       |    LEFT JOIN n2 n ON n.piece = c.piece
       |  )
       |  UNION ALL
       |  SELECT piece, cnt FROM n2 WHERE length(piece) >= 2
       |),
       |${uniDpSql(3, withSeg = false)},
       |wp AS MATERIALIZED (
       |  SELECT w, length(ps[length(w)])::BIGINT AS n_pieces
       |  FROM dp3 WHERE pos = length(w)
       |),
       |ws AS (
       |  SELECT source, substr(word, 1, $UniClip) AS w, count(*)::BIGINT AS c
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) >= 1
       |  GROUP BY 1, 2
       |)
       |SELECT ws.source,
       |       sum(ws.c)::BIGINT AS n_words,
       |       sum(ws.c * wp.n_pieces)::BIGINT AS n_tokens,
       |       round(CAST(sum(ws.c * wp.n_pieces) AS DOUBLE) / sum(ws.c), 6) AS tokens_per_word,
       |       round(CAST(sum(ws.c * length(ws.w)) AS DOUBLE) / sum(ws.c * wp.n_pieces), 6) AS chars_per_token
       |FROM ws JOIN wp ON wp.w = ws.w
       |GROUP BY ws.source ORDER BY ws.source""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q167_unigram_train", unigramTrain, Some(unigramTrainSql),
      "B106 unigram-LM (SentencePiece) trainer: 2 driver-looped hard-EM rounds vs a full-recount DP oracle"),
    QueryDef("q168_unigram_fertility", unigramFertility, Some(unigramFertilitySql),
      "tokenizer fertility by source under the trained 2-round unigram model"),
    QueryDef("q161_quality_dup_interaction", qualityDupInteraction, Some(qualityDupInteractionSql),
      "B101 quality x duplication interaction: dup rate and cluster size per quality quartile"),
    QueryDef("q133_survivor_policy", survivorPolicy, Some(survivorPolicySql),
      "quality-argmax dedup survivor selection per near-dup cluster (vs min-id default)"),
    QueryDef("q132_bpe_merges", bpeMerges, Some(bpeMergesSql),
      "BPE merge learning (ACL'16): 3 fixed rounds of pair-count -> winner -> corpus merge"),
    QueryDef("q135_bpe_delta_round", bpeDeltaRound, Some(bpeDeltaRoundSql),
      "incremental BPE round: Spark maintains counts by delta, oracle recounts in full"),
    QueryDef("q164_bpe_fertility", bpeFertility, Some(bpeFertilitySql),
      "B104 tokenizer fertility by source: compression + bytes/token under the 30 trained merges"),
    QueryDef("q153_bpe_train", bpeTrain, Some(bpeTrainSql),
      "B93 driver-looped BPE trainer: 30 delta-maintained merges vs a 30-round full-recount oracle"),
    QueryDef("q138_bpe_encode", bpeEncode, Some(bpeEncodeSql),
      "BPE tokenizer application: replay the learned merge list, per-source compression report"),
    QueryDef("q139_dup_span_coverage", dupSpanCoverage, Some(dupSpanCoverageSql),
      "duplicate-span coverage (ACL'22 substring dedup signal): 5-gram islands merged per doc"),
    QueryDef("q143_substring_rewrite", substringRewrite, Some(substringRewriteSql),
      "substring-dedup rewrite: keep-first duplicated spans deleted, docs reassembled"),
    QueryDef("q144_lsh_operating_point", lshOperatingPoint, Some(lshOperatingPointSql),
      "LSH banding precision/recall vs the exact tau=1/2 Jaccard join (one-row config gate)"),
    QueryDef("q146_lsh_high_recall",
      (s, d) => lshOperatingPointAt(s, d, Seq(Seq(0), Seq(1), Seq(2), Seq(3))),
      Some(lshOperatingPointSqlAt(Seq(Seq(0), Seq(1), Seq(2), Seq(3)))),
      "the 4x1-band high-recall LSH operating point (S-curve's other end vs q144's 2x2)"),
    QueryDef("q149_split_leakage", splitLeakage, Some(splitLeakageSql),
      "train/val/test hash-split near-dup leakage audit over the LSH candidate pairs"),
    QueryDef("q154_soft_dedup_weights", softDedupWeights, Some(softDedupWeightsSql),
      "B94 soft-dedup sampling weights: 1/cluster_size per doc, effective token budget"),
    QueryDef("q151_cluster_split", clusterSplit, Some(clusterSplitSql),
      "split-by-cluster remediation: component-hashed splits make cross-split leakage zero by construction"),
    QueryDef("q131_containment_join", containmentJoin, Some(containmentJoinSql),
      "exact set-containment join (one-sided prefix filter): subsumed-document detection"),
    QueryDef("q129_corpus_drift", corpusDrift, Some(corpusDriftSql),
      "chunk-grain corpus drift per source: added/removed/retained + Jaccard drift"),
    QueryDef("q130_quality_ensemble", qualityEnsemble, Some(qualityEnsembleSql),
      "per-language rank-fused quality score over stopword/repetition/entropy signals"),
    QueryDef("q124_delta_dedup", deltaDedup, Some(deltaDedupSql),
      "incremental dedup of a new batch against the existing corpus (LSH band + exact chunk channels)"),
    QueryDef("q121_tfidf_cosine_join", tfidfCosineJoin, Some(tfidfCosineJoinSql),
      "TF-IDF-weighted shingle cosine similarity join (integer weights, inverted-index candidates)"),
    QueryDef("q122_entropy_gate", entropyGate, Some(entropyGateSql),
      "integer-surprisal character-entropy quality gate (doc-local, exact cross-engine)"),
    QueryDef("q119_winnow_fingerprints", winnowFingerprints, Some(winnowFingerprintsSql),
      "winnowing fingerprint index (SIGMOD'03 MOSS scheme): per-doc k-gram window-min summary"),
    QueryDef("q120_winnow_overlap", winnowOverlap, Some(winnowOverlapSql),
      "alignment-free partial-overlap pairs over the winnowed index (df-capped fp self-join)"),
    QueryDef("q115_dup_triangles", dupTriangles, Some(dupTrianglesSql),
      "triangle census of the chunk-sharing duplicate graph (degree-ordered orientation)"),
    QueryDef("q69_contamination", contamination, Some(contaminationSql), "benchmark decontamination (shingle overlap)"),
    QueryDef("q113_source_dup_matrix", sourceDupMatrix, Some(sourceDupMatrixSql),
      "cross-source duplication matrix: distinct 32-token chunks shared per source pair"),
    QueryDef("q106_shingle_novelty", shingleNovelty, Some(shingleNoveltySql),
      "per-doc shingle novelty: fraction of distinct shingles first seen in this doc"),
    QueryDef("q107_contamination_ratio", contaminationRatio, Some(contaminationRatioSql),
      "contamination-ratio decile report over the q69 benchmark overlap (integer-exact deciles)"),
    QueryDef("q108_lang_vocab_overlap", langVocabOverlap, Some(langVocabOverlapSql),
      "pairwise language vocabulary-overlap (Jaccard) matrix"),
    QueryDef("q158_decon_retention", deconRetention, Some(deconRetentionSql),
      "B98 decontamination retention report: per-source doc/token survival after the gate"),
    QueryDef("q159_simhash_operating_point", simhashOperatingPoint, Some(simhashOperatingPointSql),
      "B99 SimHash operating point: hamming<=3 candidates graded on the exact tau=1/2 truth"),
    QueryDef("q103_bloom_decontaminate", bloomContamination, Some(contaminationSql),
      "two-phase decontamination: fixed-size Bloom prefilter + exact verify (same contract as q69)"),
    QueryDef("q104_jaccard_join", jaccardJoin, Some(jaccardJoinSql),
      "exact n-gram Jaccard similarity join via rarest-first prefix filtering (All-Pairs/PPJoin)"),
    QueryDef("q105_simhash_join", simhashJoin, Some(simhashJoinSql),
      "SimHash near-dup pair join: 64-bit fingerprint, 4x16-bit pigeonhole bands, exact Hamming<=3 verify"),
    QueryDef("q75_dup_clusters", dupClusters, Some(dupClustersSql), "near-dup cluster rollup (collect_set)"),
    QueryDef("q76_dedup_components", dedupComponents, Some(dedupComponentsSql), "connected-components dedup clustering"),
    QueryDef("q30_exact_dedup", exactDedup, Some(exactDedupSql), "B25 exact dedup"),
    QueryDef("q31_dedup_stats", dedupStats, Some(dedupStatsSql), "B25 dedup stats"),
    QueryDef("q86_chunk_dedup", chunkDedup, Some(chunkDedupSql),
      "sub-document exact dedup: first occurrence of each 32-token chunk survives"),
    QueryDef("q203_norm_dedup", normDedup, Some(normDedupSql),
      "normalization-aware dedup: injected case/whitespace variants, exact-vs-normalized recovery"),
    QueryDef("q195_boilerplate_strip", boilerplateStrip, Some(boilerplateStripSql),
      "CCNet-style cross-doc boilerplate line removal: df>=3 within source, per-source retention"),
    QueryDef("q88_chunk_rewrite", chunkRewrite, Some(chunkRewriteSql),
      "sub-document dedup rewrite: docs reassembled from surviving chunks"),
    QueryDef("q32_shingle_stats", shingleStats, Some(shingleStatsSql), "B26 shingling"),
    QueryDef("q33_minhash_sig", minhashSignatures, Some(minhashSignaturesSql), "B27 minhash signatures"),
    QueryDef("q34_minhash_pairs", minhashPairs, Some(minhashPairsSql), "B27/28 LSH banding pairs"),
    QueryDef("q35_jaccard_adjacent", jaccardAdjacent, Some(jaccardAdjacentSql), "B28 exact Jaccard"),
    QueryDef("q163_neardup_sim_histogram", neardupSimHistogram, Some(neardupSimHistogramSql),
      "B103 near-dup similarity histogram: exact-Jaccard distribution of the banding candidates"),
    QueryDef("q165_dedup_degree_dist", dedupDegreeDist, Some(dedupDegreeDistSql),
      "B105 dedup-graph degree distribution: log2-bucketed candidate degrees, hub early-warning"),
    QueryDef("q36_text_stats", textStats, Some(textStatsSql), "B32 token stats"),
    QueryDef("q37_word_count", wordCount, Some(wordCountSql), "B33 word count"),
    QueryDef("q38_tfidf", tfidfTop, Some(tfidfTopSql), "B34 TF-IDF"),
    QueryDef("q39_lang_source_dist", langSourceDist, Some(langSourceDistSql), "B35 distribution"),
    QueryDef("q40_langid", langId, Some(langIdSql), "language-ID heuristic"),
    QueryDef("q41_quality_score", qualityScore, Some(qualityScoreSql), "quality scoring"),
    QueryDef("q42_fingerprint", fingerprint, Some(fingerprintSql), "document fingerprint"),
    QueryDef("q45_rolling_hash", rollingHash, Some(rollingHashSql), "Karp-Rabin rolling hash"),
    QueryDef("q181_cdc_chunks", cdcChunks, Some(cdcChunksSql),
      "content-defined chunking (rolling-hash boundaries) + duplicated-chunk rollup"),
    QueryDef("q183_cdc_delta", cdcDelta, Some(cdcDeltaSql),
      "CDC delta-sync cost: arriving batch's chunk reuse vs novel token mass"),
    QueryDef("q188_gopher_rules", gopherRules, Some(gopherRulesSql),
      "Gopher-rule quality battery: five integer-exact pass/fail rules + per-source dashboard"),
    QueryDef("q43_simhash", simhash, Some(simhashSql), "16-bit simhash"))
}
