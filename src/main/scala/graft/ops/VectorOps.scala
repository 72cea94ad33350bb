package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions._

/** Vector / similarity-search operator surface — SURVEY.md §2.B29–B31
  * plus the multimodal binary-column plumbing (see also
  * graft.ops.MultimodalOps for the decode-stub pipeline).
  *
  * All vector math is double-precision sequential folds
  * (GraftFunctions.dotd) so Spark and the DuckDB oracle produce
  * identical doubles. Brute-force top-k is the correctness baseline;
  * the LSH-bucketed variant is the 100 TB path: bucket id becomes the
  * shuffle/partition key, a query probes one bucket (or a hamming-1
  * neighborhood) instead of the full corpus — O(n/2^planes) per probe.
  */
object VectorOps {

  /** The shared recall-eval query sample (the q109 protocol): every
    * 100th vec_id. Under the `% 100` rule |Q| grows WITH the corpus,
    * so a brute-force ground truth (|Q|×N cosines) is quadratic in N —
    * exactly what the round-14 1000× smoke measured on q175 (543 s,
    * 95× for 10× data, all of it eval harness, none of it served
    * path). `spark.graft.evalQueryCap = c` bounds the sample to the
    * first c eval ids (deterministic, id-ordered) the way a production
    * recall job pins a FIXED query set however large the corpus
    * grows; unset (the graded default) keeps the full protocol. */
  private def evalQueryPred(s: SparkSession) = {
    val base = col("vec_id") % 100 === 0
    s.conf.get("spark.graft.evalQueryCap", "") match {
      case "" => base
      case c => base && col("vec_id") < c.toLong * 100L
    }
  }

  /** SQL fragment: double dot product of two 64-dim list columns. */
  private def dotSql(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE) for i in generate_series(1,64)])"

  /** SQL fragment: the round(6) cosine both engines share
    * (cosineSimFast's dot/(|a|·|b|) with one final ROUND). */
  private def cosSql(a: String, b: String): String =
    s"ROUND(${dotSql(a, b)} / (SQRT(${dotSql(a, a)}) * SQRT(${dotSql(b, b)})), 6)"

  /** B29 cosine similarity on adjacent-id pairs. */
  def cosineAdjacent(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    e.alias("a").join(e.alias("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id").as("vec_id"),
        round(cosineSimFast(col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val cosineAdjacentSql =
    s"""WITH p AS (SELECT a.vec_id,
       |  ${dotSql("a.embedding", "b.embedding")} AS dot,
       |  ${dotSql("a.embedding", "a.embedding")} AS na,
       |  ${dotSql("b.embedding", "b.embedding")} AS nb
       | FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
       |SELECT vec_id, ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS cos_sim
       |FROM p ORDER BY vec_id""".stripMargin

  /** B30 brute-force cosine top-k for one query vector (vec_id 0) —
    * the exact baseline: broadcast the query, one scan, TakeOrdered. */
  def topkSimilar(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val topkSimilarSql =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |p AS (SELECT e.vec_id,
       |  ${dotSql("e.embedding", "qv")} AS dot,
       |  ${dotSql("e.embedding", "e.embedding")} AS ne,
       |  ${dotSql("qv", "qv")} AS nq
       | FROM embeddings e, q WHERE e.vec_id != 0)
       |SELECT vec_id, ROUND(dot/(SQRT(ne)*SQRT(nq)), 6) AS cos_sim
       |FROM p ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Deterministic ±1 random hyperplanes (seed 42): 4 planes → 16
    * buckets. At 100 TB you'd use 16–24 planes + multiprobe; 4 keeps
    * the graded bucket populated at sf0.001. */
  private val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(4, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** B31 ANN via sign-random-projection LSH. The bucket id is a plain
    * integer column → candidate generation is an equi-match on
    * (bucket >> 1), i.e. a 3-bit super-bucket (one-bit multiprobe), not
    * a corpus scan. Oracle-backed: the planes are deterministic
    * constants, so the whole pipeline replays in SQL (annLshSql);
    * ScalaTest additionally checks recall against brute force. */
  /** The sign-projection bucket id over the `embedding` column (one
    * bit per plane) — shared by annLsh and the q109 recall eval. */
  private def lshBucket: org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, j) =>
      val plane = array(p.map(lit): _*)
      when(dotd(col("embedding"), plane) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val withBucket = e.withColumn("bucket", lshBucket)
    val q = withBucket.filter(col("vec_id") === 0)
      .select(col("bucket").as("qbucket"), col("embedding").as("qv"))
    withBucket.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0 &&
        shiftright(col("bucket"), 1) === shiftright(col("qbucket"), 1))
      .select(col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos_sim"),
        col("bucket"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  /** Oracle twin of annLsh, generated from the same plane constants:
    * the ±1 hyperplanes inline as DuckDB list literals, so the bucket
    * assignment (identical sequential double folds ⇒ identical signs),
    * super-bucket probe, and re-rank replay exactly in SQL. */
  private def planeDotSql(p: Array[Double]): String = {
    val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"list_sum([CAST(embedding[i] AS DOUBLE) * ($lits)[i] for i in generate_series(1,64)])"
  }

  private lazy val bucketSqlExpr = planes.zipWithIndex.map { case (p, j) =>
    s"(CASE WHEN ${planeDotSql(p)} >= 0 THEN ${1 << j} ELSE 0 END)"
  }.mkString(" + ")

  private lazy val annLshSql = {
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSqlExpr AS bucket FROM embeddings),
       |q AS (SELECT bucket AS qbucket, embedding AS qv FROM b WHERE vec_id = 0)
       |SELECT vec_id,
       | ROUND(${dotSql("b.embedding", "q.qv")} /
       |   (sqrt(${dotSql("b.embedding", "b.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})), 6) AS cos_sim,
       | bucket
       |FROM b, q
       |WHERE vec_id <> 0 AND bucket // 2 = qbucket // 2
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** q112: IVF-blocked kNN SELF-join — every vector's top-3 cosine
    * neighbors among its own coarse cell's members. The unsupervised
    * complement of q55's label-blocked near-dup (labels are given
    * there; here the blocking key is LEARNED from the data by the
    * same deterministic per-label-centroid quantizer as q87), and the
    * all-vectors generalization of q87's single-query probe: this is
    * the shape an embedding-dedup pass runs over the whole corpus.
    *
    * Scale posture: blocking is TWO-LEVEL — the learned coarse cell ×
    * a 3-bit sign-projection sub-bucket (the q52 hyperplanes) — so
    * the block count is cells × 2^bits and scales by ADDING PLANES,
    * not by hoping the quantizer keeps up with the corpus. This
    * matters concretely: with cells alone (the first draft), cell
    * size grows linearly with the corpus and the within-cell pair
    * count quadratically — measured 14.4 s and suite-dominant at the
    * 10x corpus, vs 1.9 s two-level. Near-identical vectors agree on
    * both levels by construction (same nearest centroid, same
    * projection signs), so the near-dup contract survives; genuinely
    * mid-distance neighbors split across sub-buckets are the standard
    * ANN recall trade-off q109 quantifies. The block key is the
    * shuffle key, the 10-row index is a broadcast, and the per-vector
    * top-3 is a vec_id-partitioned window. */
  def annKnnJoin(s: SparkSession, d: String): DataFrame = {
    val asg = ivfAssigned(s, d)
      .select(col("vec_id"), col("embedding"), col("label").as("cell"))
      .withColumn("sb", shiftright(lshBucket, 1))
    // neighbor side at REPRESENTATIVE grain: one row per distinct
    // embedding (min vec_id) — the q104 dedup-first precondition in
    // vector space. Identical vectors share a block by construction,
    // so an un-deduped corpus pays within-block pairs QUADRATIC in
    // the duplication factor (measured 121 s at the 100× mirrored
    // corpus vs ~2 s rep-grain); copies still surface their rep as a
    // cos=1.0 neighbor, so the dedup contract is intact. A no-op on
    // a corpus with no exact-duplicate embeddings.
    val nbrs = asg.groupBy(col("cell"), col("sb"), col("embedding"))
      .agg(min(col("vec_id")).as("nbr_id"))
      .select(col("cell"), col("sb"), col("nbr_id"),
        col("embedding").as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    asg.join(nbrs.hint("shuffle_hash"), Seq("cell", "sb"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), col("cell"),
        round(cosineSimFast(col("embedding"), col("nv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("vec_id"), col("rk").cast("long").as("rk"),
        col("nbr_id"), col("cos_sim"), col("cell"))
      .orderBy(col("vec_id"), col("rk"))
  }

  private lazy val annKnnJoinSql =
    s"""WITH cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i,
       |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
       |    FROM (SELECT label, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS i FROM embeddings) t
       |    GROUP BY label, i) u GROUP BY label),
       |sc AS (SELECT e.vec_id, e.embedding, cent.label,
       |    list_sum([cv[i]*cv[i] for i in generate_series(1,64)])
       |    - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i] for i in generate_series(1,64)]) AS score
       |  FROM embeddings e, cent),
       |asg AS (SELECT vec_id, embedding, label AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn FROM sc),
       |a AS (SELECT vec_id, embedding, cell, ($bucketSqlExpr) // 2 AS sb
       |      FROM asg WHERE rn = 1),
       |nr AS (SELECT cell, sb, embedding, MIN(vec_id) AS nbr_id
       |       FROM a GROUP BY cell, sb, embedding),
       |p AS (SELECT x.vec_id, y.nbr_id, x.cell,
       |        ROUND(${dotSql("x.embedding", "y.embedding")} /
       |          (SQRT(${dotSql("x.embedding", "x.embedding")}) * SQRT(${dotSql("y.embedding", "y.embedding")})), 6) AS cos_sim
       |      FROM a x JOIN nr y ON x.cell = y.cell AND x.sb = y.sb AND x.vec_id <> y.nbr_id),
       |r AS (SELECT vec_id, nbr_id, cell, cos_sim,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rk
       |      FROM p)
       |SELECT vec_id, rk, nbr_id, cos_sim, cell
       |FROM r WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin

  /** q118: hard-negative mining — for every vector, the 2 most
    * cosine-similar vectors with a DIFFERENT ground-truth label from
    * its own ANN block. The contrastive-training data prep step: a
    * triplet/InfoNCE loss wants negatives that are hard (close in
    * embedding space) but true negatives (different label); random
    * negatives are trivially easy and teach nothing. The supervised
    * complement of q112: same learned two-level blocking (coarse IVF
    * cell × 3-bit sign-projection sub-bucket), opposite keep-filter —
    * q112 keeps any neighbor (dedup wants SAME-content pairs), this
    * keeps only cross-label ones.
    *
    * Scale posture inherits q112's measured shape wholesale: block
    * count scales by adding planes, the checkpoint-memoized
    * assignment is built once and read by both join sides, the
    * ground-truth label attaches via a map-side project of the same
    * assignment frame (the label column rides along — no extra join
    * against the base table), and the per-vector top-2 is a
    * vec_id-partitioned window. The cross-label filter drops
    * candidates BEFORE the window shuffle, so the mining pass moves
    * fewer rows than the dedup pass it piggybacks on. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val asg = ivfAssigned(s, d)
      .select(col("vec_id"), col("embedding"), col("label").as("cell"),
        col("own_label").as("label"))
      .withColumn("sb", shiftright(lshBucket, 1))
    // neighbor side at (embedding, label) rep grain — the q112
    // duplication guard (measured 134 s → ~2 s at 100×), but grouped
    // per LABEL rather than collapsing labels via min_by: a duplicate
    // embedding whose copies carry different labels must still surface
    // as a cos=1.0 cross-label hard negative (the strongest possible
    // negative when the query shares the min-vec_id rep's label). The
    // guard survives: group count per duplicate embedding is bounded
    // by label cardinality, not by the duplication factor.
    val nbrs = asg.groupBy(col("cell"), col("sb"), col("embedding"), col("label"))
      .agg(min(col("vec_id")).as("nbr_id"))
      .select(col("cell"), col("sb"), col("nbr_id"),
        col("embedding").as("nv"), col("label").as("nbr_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    asg.join(nbrs.hint("shuffle_hash"), Seq("cell", "sb"))
      .filter(col("nbr_label") =!= col("label"))
      .select(col("vec_id"), col("label"), col("nbr_id"), col("nbr_label"),
        round(cosineSimFast(col("embedding"), col("nv")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("rk").cast("long").as("rk"), col("nbr_id"),
        col("nbr_label"), col("cos_sim"))
      .orderBy(col("vec_id"), col("rk"))
  }

  private lazy val hardNegativesSql =
    s"""WITH cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i,
       |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
       |    FROM (SELECT label, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS i FROM embeddings) t
       |    GROUP BY label, i) u GROUP BY label),
       |sc AS (SELECT e.vec_id, e.embedding, e.label AS own_label, cent.label,
       |    list_sum([cv[i]*cv[i] for i in generate_series(1,64)])
       |    - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i] for i in generate_series(1,64)]) AS score
       |  FROM embeddings e, cent),
       |asg AS (SELECT vec_id, embedding, own_label, label AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn FROM sc),
       |a AS (SELECT vec_id, embedding, own_label, cell, ($bucketSqlExpr) // 2 AS sb
       |      FROM asg WHERE rn = 1),
       |nr AS (SELECT cell, sb, embedding, own_label AS nbr_label,
       |         MIN(vec_id) AS nbr_id
       |       FROM a GROUP BY cell, sb, embedding, own_label),
       |p AS (SELECT x.vec_id, x.own_label AS label, y.nbr_id,
       |        y.nbr_label,
       |        ROUND(${dotSql("x.embedding", "y.embedding")} /
       |          (SQRT(${dotSql("x.embedding", "x.embedding")}) * SQRT(${dotSql("y.embedding", "y.embedding")})), 6) AS cos_sim
       |      FROM a x JOIN nr y ON x.cell = y.cell AND x.sb = y.sb
       |        AND x.own_label <> y.nbr_label),
       |r AS (SELECT vec_id, nbr_id, nbr_label, cos_sim,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rk
       |      FROM p)
       |SELECT vec_id, rk, nbr_id, nbr_label, cos_sim
       |FROM r WHERE rk <= 2 ORDER BY vec_id, rk""".stripMargin

  /** q109: ANN recall evaluation — recall@10 of the LSH super-bucket
    * candidate set against the brute-force cosine top-10, per query
    * vector (every vec_id % 100 == 0). The eval harness every ANN
    * index needs before it replaces the exact path in a pipeline: the
    * recall/candidate-count trade-off is THE decision input for plane
    * count and probe width, measured here inside the engine itself
    * instead of a notebook.
    *
    * The brute-force side is the ground truth and costs
    * n_queries x corpus — an eval-time cost paid on a sample (1% of
    * ids), never the production path (that's q52/q87). Ranking uses
    * the same round-to-6 cosine + vec_id tie-break every other vector
    * query uses, so the top-10 set is bit-stable across engines. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val withBucket = Tables.embeddings(s, d).withColumn("bucket", lshBucket)
    val q = withBucket.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    val scored = withBucket.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("qbucket"), col("bucket"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val inBucket = shiftright(col("bucket"), 1) === shiftright(col("qbucket"), 1)
    // candidate count and top-10 hits fold into ONE aggregate over the
    // ranked frame (rk as a CASE input, not a pre-filter) — no
    // per-metric join, one shuffle on qid total
    scored.withColumn("rk", row_number().over(w))
      .groupBy(col("qid"))
      .agg(sum(when(inBucket, 1L).otherwise(0L)).as("n_cand"),
        sum(when(inBucket && col("rk") <= 10, 1L).otherwise(0L)).as("hits"))
      .select(col("qid"), col("n_cand"), col("hits"),
        (col("hits").cast("double") / 10).as("recall10"))
      .orderBy(col("qid"))
  }

  private lazy val annRecallSql =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSqlExpr AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket
       |      FROM b WHERE vec_id % 100 = 0),
       |sc AS (SELECT q.qid, b.vec_id, q.qbucket, b.bucket,
       |        ROUND(${dotSql("b.embedding", "q.qv")} /
       |          (sqrt(${dotSql("b.embedding", "b.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})), 6) AS cos
       |       FROM b, q WHERE b.vec_id <> q.qid),
       |r AS (SELECT qid, qbucket, bucket,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |       FROM sc)
       |SELECT qid,
       |       CAST(SUM(CASE WHEN bucket // 2 = qbucket // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |       CAST(SUM(CASE WHEN bucket // 2 = qbucket // 2 AND rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN bucket // 2 = qbucket // 2 AND rk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall10
       |FROM r GROUP BY qid ORDER BY qid""".stripMargin

  /** Embedding-cosine near-dup (the vector member of the dedup family):
    * same-label candidate pairs above a cosine threshold, aggregated
    * per label. Norms are computed once per vector BEFORE the pair
    * join (n·cost, not n²·cost); the vec_id<300 cap keeps the oracle's
    * O(pairs·dims) cost flat across SFs. At 100 TB the label column is
    * the blocking key exactly like an LSH band. */
  /** q137: SemDeDup-style SEMANTIC dedup (Abbas et al. '23) composed
    * from existing cores — the embedding-space member of the dedup
    * family next to q76's text clusters: q55's blocked cosine pairs
    * (same-label candidates, cos > 0.3, the label column standing in
    * for the k-means cluster blocking a production run uses) become
    * the edge set of the q76 star fixpoint (min-label propagation,
    * observe-metric convergence), and the survivor is the component
    * minimum — which IS the propagated label, so `kept` is one
    * column comparison, no second pass. Output: every vector that
    * has at least one semantic near-duplicate, its component, and
    * whether it survives.
    *
    * Scale shape: pair generation is label-blocked (never all-pairs;
    * at production scale the blocking key is an IVF cell), the
    * fixpoint moves only (node, lbl) longs, and the survivor rule
    * adds zero shuffles. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dotFast(col("embedding"), col("embedding"))).as("nrm"))
    val pairs = n.alias("a")
      .join(n.alias("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .filter((dotFast(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))) > 0.3)
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"))
    graft.ops.TextOps.runStarFixpoint(
      graft.ops.TextOps.starFixpointParts(pairs))
      .select(col("node").as("vec_id"), col("lbl").as("cluster"),
        (col("node") === col("lbl")).as("kept"))
      .orderBy(col("vec_id"))
  }

  private lazy val semanticDedupSql =
    s"""WITH RECURSIVE n AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
       | FROM embeddings WHERE vec_id < 300),
       |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
       |      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |      WHERE ${dotSql("a.embedding", "b.embedding")}/(a.nrm*b.nrm) > 0.3),
       |edges AS (SELECT va AS src, vb AS dst FROM p
       |          UNION ALL SELECT vb, va FROM p),
       |reach AS (SELECT src, src AS lbl FROM (SELECT DISTINCT src FROM edges)
       |          UNION
       |          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.src),
       |comp AS (SELECT src AS vec_id, MIN(lbl) AS cluster FROM reach GROUP BY src)
       |SELECT vec_id, cluster, vec_id = cluster AS kept
       |FROM comp ORDER BY vec_id""".stripMargin

  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val n = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dotFast(col("embedding"), col("embedding"))).as("nrm"))
    n.alias("a")
      .join(n.alias("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"),
        (dotFast(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") > 0.3)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"), round(max(col("cos")), 6).as("max_cos"))
      .orderBy(col("label"))
  }

  private val embeddingNearDupSql =
    s"""WITH n AS (SELECT vec_id, label, embedding,
       |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
       | FROM embeddings WHERE vec_id < 300),
       |p AS (SELECT a.label,
       |  ${dotSql("a.embedding", "b.embedding")}/(a.nrm*b.nrm) AS cos
       | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT label, COUNT(*) AS n_pairs, ROUND(MAX(cos), 6) AS max_cos
       |FROM p WHERE cos > 0.3 GROUP BY label ORDER BY label""".stripMargin

  /** B31 IVF with a DETERMINISTIC coarse quantizer. k-means seeds are
    * engine-internal, so a k-means-trained index can never hash-match
    * a SQL oracle; this one trains the quantizer as the q67 per-label
    * centroid aggregate (exact DECIMAL(28,8) sums → identical doubles
    * on both engines) and the whole IVF pipeline becomes replayable:
    * assign every vector to its nearest centroid by
    * ||c||² − 2·e·c (argmin tie-broken on label), probe the 2 cells
    * nearest the query, exact-re-rank inside the probed cells only.
    *
    * Scale posture: the index (10 centroid arrays) is a broadcast, the
    * assignment is one map-side cross against it with a 10-row
    * per-vector argmin window (groups of exactly n_cells — skew-free),
    * and the re-rank scans only the probed cells' members. Every dot —
    * the float-embedding × double-centroid scoring included — runs the
    * codegen'd [[graft.functions.DotProduct]] sequential fold, which
    * is ≡ DuckDB list_sum bit-for-bit (q51/q52 establish this); ‖c‖²
    * is folded once over the 10-row index, not per (vector, cell). */
  /** The deterministic IVF scoring frame behind q87 and q112: every
    * (vector, cell) pair with its ||c||² − 2·e·c distance score, the
    * 10-row centroid index broadcast. */
  /** The deterministic coarse-quantizer index: per-label centroids as
    * a (label, cv, cnorm) frame — exact DECIMAL(28,8) means, so the
    * "training" replays identically in the oracle. */
  private[graft] def ivfCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(dsum(col("col").cast("double")).as("csum"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (col("csum") / col("n")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      // ||c||² is per-cell constant: fold it once over the 10-row index,
      // not once per (vector, cell) pair
      .withColumn("cnorm", dotFast(col("cv"), col("cv")))

  /** [[ivfCentroids]] over an arbitrary vector frame — the
    * training-slice parameterization q156's index-maintenance report
    * needs (centroids from the OLD corpus only). */
  private def ivfCentroidsOf(vecs: DataFrame): DataFrame =
    vecs
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(dsum(col("col").cast("double")).as("csum"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (col("csum") / col("n")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .withColumn("cnorm", dotFast(col("cv"), col("cv")))

  /** q156: IVF INDEX DELTA MAINTENANCE — the production posture for a
    * growing corpus: new vectors are assigned to the EXISTING cells
    * map-only (no retrain, no rebuild — the q124/q128 incremental
    * stance applied to the ANN index), and the graded artifact is the
    * per-cell maintenance report an operator watches to decide when a
    * rebuild IS due: old/new member counts, the growth fraction, and
    * the assignment-score drift (new members sitting systematically
    * farther from their centroid than old ones = the cell no longer
    * describes the data arriving into it). Index trained on the
    * vec_id % 7 != 0 slice; the held-out % 7 == 0 batch plays the
    * arriving delta.
    *
    * Scale shape: training aggregates only the old slice (one
    * vocabulary-bounded pass), the index is a broadcast, assignment of
    * old + new is one map-side cross + skew-free argmin windows, and
    * the report is a 10-row aggregate. The delta path adds ZERO
    * shuffles over what serving already pays. */
  def ivfDeltaAssign(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
    val cents = ivfCentroidsOf(all.filter(col("vec_id") % 7 =!= 0))
    argminMapOnly(all.select(col("vec_id"), col("embedding")), cents)
      .withColumn("is_new", col("vec_id") % 7 === 0)
      .groupBy(col("label").as("cell"))
      .agg(
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        dsum(when(!col("is_new"), col("score"))).as("sum_score_old"),
        dsum(when(col("is_new"), col("score"))).as("sum_score_new"))
      // guard every n_old/n_new division explicitly: a cell whose
      // members all fall in one slice must yield NULL identically in
      // Spark (non-ANSI x/0 → NULL) and DuckDB (version-dependent) —
      // the when() makes the NULL engine-independent
      .select(col("cell"), col("n_old"), col("n_new"),
        when(col("n_old") > 0,
          round(col("n_new").cast("double") / col("n_old"), 6)).as("growth"),
        when(col("n_old") > 0,
          round(col("sum_score_old") / col("n_old"), 6)).as("mean_score_old"),
        when(col("n_new") > 0,
          round(col("sum_score_new") / col("n_new"), 6)).as("mean_score_new"))
      .withColumn("drift",
        round(col("mean_score_new") - col("mean_score_old"), 6))
      .orderBy(col("cell"))
  }

  private lazy val ivfDeltaAssignSql =
    s"""WITH cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i,
       |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
       |    FROM (SELECT label, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS i FROM embeddings
       |          WHERE vec_id % 7 <> 0) t
       |    GROUP BY label, i) u GROUP BY label),
       |cn AS (SELECT label, cv,
       |         list_sum([cv[i]*cv[i] for i in generate_series(1,64)]) AS cnorm
       |       FROM cent),
       |sc AS (SELECT e.vec_id, cn.label,
       |    cn.cnorm - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i]
       |                             for i in generate_series(1,64)]) AS score
       |  FROM embeddings e, cn),
       |asg AS (SELECT vec_id, label, score,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn FROM sc),
       |a AS (SELECT vec_id, label, score, vec_id % 7 = 0 AS is_new
       |      FROM asg WHERE rn = 1),
       |g AS (SELECT label,
       |  CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |  ${graft.functions.GraftFunctions.dsumSql("CASE WHEN NOT is_new THEN score END")} AS sum_old,
       |  ${graft.functions.GraftFunctions.dsumSql("CASE WHEN is_new THEN score END")} AS sum_new
       |  FROM a GROUP BY label)
       |SELECT label AS cell, n_old, n_new,
       |  CASE WHEN n_old > 0
       |       THEN ROUND(CAST(n_new AS DOUBLE) / n_old, 6) END AS growth,
       |  CASE WHEN n_old > 0
       |       THEN ROUND(sum_old / n_old, 6) END AS mean_score_old,
       |  CASE WHEN n_new > 0
       |       THEN ROUND(sum_new / n_new, 6) END AS mean_score_new,
       |  ROUND(CASE WHEN n_new > 0 THEN ROUND(sum_new / n_new, 6) END
       |      - CASE WHEN n_old > 0 THEN ROUND(sum_old / n_old, 6) END, 6) AS drift
       |FROM g ORDER BY cell""".stripMargin

  /** Every (vector, cell) pair with its ||c||² − 2·e·c distance score
    * under an arbitrary (label, cv, cnorm) quantizer, the centroid
    * index broadcast. */
  private def ivfScoredFrom(s: SparkSession, d: String,
      cents: DataFrame): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label").as("own_label"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("own_label"), col("label"),
        (col("cnorm") - lit(2.0) * dotFast(col("embedding"), col("cv"))).as("score"))

  private def ivfScored(s: SparkSession, d: String): DataFrame =
    ivfScoredFrom(s, d, ivfCentroids(s, d))

  /** Argmin-per-key shared by every nearest-cell assignment:
    * `row_number() OVER (PARTITION BY keys ORDER BY score, label) = 1`.
    * This is the r15 window form RESTORED (r17, VERDICT_r16 #1): the
    * r16 `min(struct(score, label, payload...))` rewrite was built on a
    * false premise — the window plan's partial WindowGroupLimit BELOW
    * the exchange already collapses each key's k scored rows to 1
    * map-side (visible in plans/r16/q208_lloyd_train_before.txt), so
    * the claimed shuffled-byte cut never existed, while the struct-
    * buffered min can never run as a codegen'd HashAggregate: a struct
    * is not a mutable aggregation-buffer type, so it planned as
    * ObjectHashAggregate (which falls back to sort-based past 128 map
    * keys) or, with an array payload in the buffer, as a full
    * SortAggregate outside whole-stage codegen
    * (plans/r17/q208_lloyd_train_before.txt:14-17). The window form
    * keeps the whole path — partial group-limit, exchange of 1 row per
    * key, final group-limit — inside WholeStageCodegen. `payload`
    * columns ride the frame untouched (kept in the signature so the
    * call sites document what they carry through the argmin). Used
    * where the scored frame exists anyway (ivfAssigned, the q152
    * harness, pqAssigned); assignments that never need the scored
    * frame use the shuffle-free [[argminMapOnly]] instead. */
  private def argminBy(df: DataFrame, keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("score"), col("label"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Nearest-cell assignment derived from [[ivfScored]] (argmin
    * tie-broken on label via [[argminBy]]). Memoized
    * via localCheckpoint: q112's self-join reads it from BOTH sides
    * and q87 probes it again — without the checkpoint each reference
    * re-runs the centroid aggregate + scoring + window (the
    * build-once-reference-many pattern of the SimHash signatures;
    * downstream joins pin their strategy per the
    * checkpoint-plans-lose-stats rule). */
  private def ivfAssigned(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "ivf_assigned") {
      argminBy(ivfScored(s, d), Seq("vec_id"),
        Seq("embedding", "own_label"))
        .localCheckpoint()
    }

  def annIvfCells(s: SparkSession, d: String): DataFrame = {
    val scored = ivfScored(s, d)
    val assigned = ivfAssigned(s, d)
    val probe = scored.filter(col("vec_id") === 0)
      .orderBy(col("score"), col("label")).limit(2).select(col("label"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    assigned
      .join(broadcast(probe), Seq("label"))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos_sim"),
        col("label").as("cell"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  private val annIvfCellsSql =
    s"""WITH cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i,
       |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
       |    FROM (SELECT label, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS i FROM embeddings) t
       |    GROUP BY label, i) u GROUP BY label),
       |sc AS (SELECT e.vec_id, e.embedding, cent.label,
       |    list_sum([cv[i]*cv[i] for i in generate_series(1,64)])
       |    - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i] for i in generate_series(1,64)]) AS score
       |  FROM embeddings e, cent),
       |asg AS (SELECT vec_id, embedding, label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn FROM sc),
       |probe AS (SELECT label FROM sc WHERE vec_id = 0 ORDER BY score, label LIMIT 2),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, ROUND(dot/(SQRT(ne)*SQRT(nq)), 6) AS cos_sim, cell
       |FROM (SELECT a.vec_id, a.label AS cell,
       |        ${dotSql("a.embedding", "qv")} AS dot,
       |        ${dotSql("a.embedding", "a.embedding")} AS ne,
       |        ${dotSql("qv", "qv")} AS nq
       |      FROM asg a, q
       |      WHERE a.rn = 1 AND a.vec_id != 0
       |        AND a.label IN (SELECT label FROM probe)) p
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin

  /** Exact per-cell means of an assigned (label, embedding) frame —
    * one Lloyd M-step. Arithmetic is the [[ivfCentroids]] posture
    * verbatim: per-coordinate exact DECIMAL(28,8) sum landed in double
    * (dsum), ONE IEEE double division by the count — so the "training"
    * replays bit-identically in the oracle. */
  private[graft] def lloydMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(dsum(col("col").cast("double")).as("csum"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (col("csum") / col("n")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .withColumn("cnorm", dotFast(col("cv"), col("cv")))

  /** MAP-ONLY nearest-cell assignment under a small (label, cv, cnorm)
    * quantizer (r17, guide §1.2/§2.4 — the first-principles plan): the
    * k index rows collapse into ONE array row broadcast to every task,
    * and each vector's argmin is a per-row `array_min` over
    * `struct(score, label)` — struct ordering IS lexicographic
    * (score, then label), exactly the `ORDER BY score, label` window
    * tie-break, and the score expression `cnorm − 2·graft_dot(e, cv)`
    * is the same Column tree the scored-frame path built, so every
    * compared double is bit-identical and the winner is the same row.
    * What it removes vs the windowed argmin: the k-way explode of
    * every embedding AND the per-key exchange + group-limit — the
    * assignment becomes one codegen'd projection with NO shuffle at
    * any corpus size (q208's report references its assignments through
    * 3 levels of nesting, so each removed exchange was being paid
    * several times per invocation). Emits (vec_id, embedding, score,
    * label). An empty quantizer has no nearest cell: assigning a vector
    * to it fails, in the same projection, instead of labelling it
    * null. */
  private def argminMapOnly(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents
      .agg(collect_list(struct(col("label"), col("cv"), col("cnorm")))
        .as("__cents"))
    vecs.crossJoin(broadcast(centArr))
      .withColumn("__best", when(size(col("__cents")) === 0,
        raise_error(lit("argminMapOnly: empty quantizer, no cell to assign a vector to")))
        .otherwise(array_min(transform(col("__cents"), c =>
          struct(
            (c.getField("cnorm") -
              lit(2.0) * dotFast(col("embedding"), c.getField("cv")))
              .as("score"),
            c.getField("label").as("label"))))))
      .withColumn("score", col("__best").getField("score"))
      .withColumn("label", col("__best").getField("label"))
      .drop("__cents", "__best")
  }

  /** One Lloyd E-step: every vector to its nearest cell under the
    * given quantizer — the [[argminMapOnly]] shape: broadcast index,
    * per-row argmin, no shuffle. */
  private[graft] def lloydAssign(s: SparkSession, d: String,
      cents: DataFrame): DataFrame =
    argminMapOnly(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("embedding"), col("label"))

  /** q208: the Lloyd TRAINING TRAJECTORY under the oracle — per cell:
    * membership after the first E-step (grades the init means),
    * membership after the second (grades the first M-step), and the
    * post-update inertia Σ‖e−c₂‖² over the final assignment (grades
    * the second M-step). Every stage of the 2-iteration fit must
    * replay bit-identically in DuckDB for the hash to match — k-means
    * "training" as a deterministic dataflow, not driver state.
    *
    * Scale shape: each iteration is one broadcast of k centroid rows,
    * one map-side scoring pass, one vec_id-keyed argmin window and one
    * (k×64)-group mean — 2 iterations = a constant factor over the
    * q87/q112 serving plan; nothing grows with k·N beyond the scored
    * pairs the serving path already materializes. */
  def lloydTrainReport(s: SparkSession, d: String): DataFrame = {
    val a1 = lloydAssign(s, d, ivfCentroids(s, d))
    val c1 = lloydMeans(a1)
    val a2 = lloydAssign(s, d, c1)
    val c2 = lloydMeans(a2)
    val n1 = a1.groupBy(col("label")).agg(count(lit(1)).as("n1"))
    a2.join(broadcast(c2), Seq("label"))
      .select(col("label"),
        (dotFast(col("embedding"), col("embedding")) + col("cnorm") -
          lit(2.0) * dotFast(col("embedding"), col("cv"))).as("term"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n2"), dsum(col("term")).as("inertia"))
      // k-row full outer (empty cells can differ between E-steps);
      // broadcast hash cannot run FULL OUTER — pin shuffle_hash (the
      // q07 posture) so the k-row frame never sorts
      .join(n1.hint("shuffle_hash"), Seq("label"), "full_outer")
      .select(col("label").as("cell"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        col("inertia"))
      .orderBy(col("cell"))
  }

  private lazy val lloydTrainReportSql = {
    def meansOf(src: String): String =
      s"""SELECT label, list(c ORDER BY i) AS cv FROM (
         |    SELECT label, i,
         |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
         |    FROM (SELECT label, unnest(embedding) AS e,
         |          generate_subscripts(embedding, 1) AS i FROM $src) t
         |    GROUP BY label, i) u GROUP BY label""".stripMargin
    def assignUnder(cents: String): String =
      s"""SELECT vec_id, embedding, label FROM (
         |    SELECT e.vec_id, e.embedding, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum([c.cv[i]*c.cv[i] for i in generate_series(1,64)])
         |        - 2*list_sum([CAST(e.embedding[i] AS DOUBLE)*c.cv[i] for i in generate_series(1,64)]),
         |        c.label) AS rn
         |    FROM embeddings e, $cents c) z WHERE rn = 1""".stripMargin
    s"""WITH c0 AS (${meansOf("embeddings")}),
       |a1 AS (${assignUnder("c0")}),
       |c1 AS (${meansOf("a1")}),
       |a2 AS (${assignUnder("c1")}),
       |c2 AS (SELECT label, cv,
       |    list_sum([cv[i]*cv[i] for i in generate_series(1,64)]) AS cnorm
       |  FROM (${meansOf("a2")}) m),
       |n1 AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n1 FROM a1 GROUP BY label),
       |rep AS (SELECT a.label, CAST(COUNT(*) AS BIGINT) AS n2,
       |    ${dsumSql(s"ne + c.cnorm - 2*(${dotSql("a.embedding", "c.cv")})")} AS inertia
       |  FROM (SELECT label, ${dotSql("embedding", "embedding")} AS ne,
       |          embedding FROM a2) a
       |  JOIN c2 c ON a.label = c.label
       |  GROUP BY a.label)
       |SELECT COALESCE(r.label, n1.label) AS cell,
       |       COALESCE(n1.n1, 0) AS n1, COALESCE(r.n2, 0) AS n2, r.inertia
       |FROM rep r FULL OUTER JOIN n1 ON r.label = n1.label
       |ORDER BY cell""".stripMargin
  }

  /** The IVF serving-recall harness under an ARBITRARY quantizer: the
    * q109 recall protocol (queries = vec_id % 100 = 0, ground truth =
    * brute-force ROUND(6)-cosine top-10 with vec_id tiebreak) with the
    * LSH bucket test replaced by IVF probe membership — a vector is a
    * candidate iff its assigned cell is among the nProbe cells nearest
    * the query vector. One scored frame feeds assignment, probing and
    * ground truth; the per-query metrics fold into ONE aggregate over
    * the ranked frame (the q109 shape: rk as a CASE input, no
    * per-metric join). */
  private[graft] def ivfServingRecallFrom(s: SparkSession, d: String,
      cents: DataFrame, nProbe: Int): DataFrame = {
    val scored = ivfScoredFrom(s, d, cents.localCheckpoint())
    val assigned = argminBy(scored, Seq("vec_id"), Seq("embedding"))
      .select(col("vec_id"), col("embedding"), col("label"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score"), col("label"))
    val probes = scored.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("label"), col("score"))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= nProbe)
      .select(col("qid"), col("label"), lit(1).as("probed"))
    val q = Tables.embeddings(s, d).filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assigned
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"))
      .join(broadcast(probes), Seq("qid", "label"), "left")
      .withColumn("rk", row_number().over(w))
      .groupBy(col("qid"))
      .agg(sum(when(col("probed").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("probed").isNotNull && col("rk") <= 10, 1L).otherwise(0L))
          .as("hits"))
      .select(col("qid"), col("n_cand"), col("hits"),
        (col("hits").cast("double") / 10).as("recall10"))
      .orderBy(col("qid"))
  }

  /** q152: the SERVING-GRADE IVF operating point — the answer to "what
    * breadth does this index need for production recall on this
    * corpus". The fixture embeddings are near-isotropic (mean pairwise
    * cos ≈ 0.0004, measured round 10), so ANY partition index's recall
    * tracks ~2× the probed corpus fraction — the recall/cost frontier
    * is a property of the data, not the index. nProbe = 7 of the 10
    * deterministic cells is the smallest breadth clearing mean
    * recall@10 ≥ 0.8 at every SF (measured 0.82/0.84/0.835 at
    * sf0.001/0.01/0.1); VectorServingSpec runs the same harness with
    * the q208 Lloyd-trained codebook.
    *
    * Scale shape: the index is a broadcast at any corpus size,
    * assignment is one map-side cross + a skew-free argmin window, and
    * the ground-truth brute-force pass exists only because a recall
    * harness NEEDS exact truth — the serving path itself (probe →
    * candidates → re-rank) scans only the probed cells. */
  def ivfServingRecall(s: SparkSession, d: String): DataFrame =
    ivfServingRecallFrom(s, d, ivfCentroids(s, d), nProbe = 7)

  // ---- graph ANN (HNSW-class) comparison point ---------------------

  /** M-NN GRAPH over the embedding corpus — the navigable-small-world
    * base layer of the HNSW/DiskANN family, built the way a
    * distributed engine actually builds one: neighbor CANDIDATES come
    * from cheap blocking (each vector's top-2 IVF cells — the
    * multiprobe assignment, so boundary vectors bridge cells and the
    * graph is navigable ACROSS the partition), then one window keeps
    * the M highest-cosine out-edges per node. Never all-pairs: the
    * blocked-join shape is q112's, candidate count is O(n·cells/k·2²),
    * and at 100 TB the build is the standard NN-descent/Vamana
    * pattern of candidates-from-blocking + per-node top-M.
    * Deterministic end to end (round(6) cosine, vec_id tiebreaks). */
  private[graft] def nswGraph(s: SparkSession, d: String, m: Int = 8)
      : DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "nsw_graph") {
      nswGraphOver(ivfScored(s, d), m)
    }

  /** The q175 ENTRY LAYER's graph: the identical recipe over the
    * deterministic upper-layer subset (vec_id % 4 == 0 — HNSW's
    * geometric level assignment frozen to a modulus so both engines
    * agree). Per-vector top-2 cells are independent of other vectors,
    * so filtering before or after the window is the same set. */
  private[graft] def nswGraphL1(s: SparkSession, d: String, m: Int = 8)
      : DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "nsw_graph_l1") {
      nswGraphOver(ivfScored(s, d).filter(col("vec_id") % 4 === 0), m)
    }

  private def nswGraphOver(scored: DataFrame, m: Int): DataFrame = {
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("score"), col("label"))
      val probe2 = scored
        .withColumn("rn", row_number().over(w2)).filter(col("rn") <= 2)
        .select(col("vec_id"), col("embedding"), col("label").as("cell"))
      // BOTH join sides at REPRESENTATIVE grain (q112's dedup-first
      // precondition in vector space, round 12): identical embeddings
      // score identically, so copies share cells and the per-cell
      // self-join would otherwise pay pairs QUADRATIC in the
      // duplication factor (the killed 100×-corpus run: ~10^10
      // cosines). Per-cell min(vec_id) IS the global rep — identical
      // vectors get identical cell assignments — and on a corpus with
      // no exact-duplicate embeddings the grouping is a no-op, so the
      // graded native-SF graph is unchanged. Graph nodes are reps;
      // the beam's entry points (lowest vec_ids) are reps by
      // construction.
      val reps = probe2.groupBy(col("cell"), col("embedding"))
        .agg(min(col("vec_id")).as("vid"))
      val a = reps.select(col("cell"), col("vid").as("src"),
        col("embedding").as("ev"))
      val b = reps.select(col("cell"), col("vid").as("dst"),
        col("embedding").as("dv"))
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
      // ONE exchange for dedup + top-M (r16, guide §2.4): hash-
      // partitioning the pair set by src satisfies the clustering of
      // BOTH the (src, dst, cos) distinct and the src-partitioned
      // window, so the old plan's two further exchanges of the full
      // pair set collapse into this repartition. Same pair set, same
      // edges.
      a.join(b.hint("shuffle_hash"), Seq("cell"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          round(cosineSimFast(col("ev"), col("dv")), 6).as("cos"))
        .repartition(col("src"))
        .distinct()
        .withColumn("rn", row_number().over(wm))
        .filter(col("rn") <= m)
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }

  /** BEAM SEARCH over [[nswGraph]] — the HNSW query path re-expressed
    * as the q97 driver-unrolled join loop: per hop, the frontier
    * (beam members first scored last hop) expands through the edge
    * list (one broadcast-frontier hash join — the frontier is
    * queries×ef rows, the edge list stays distributed), new nodes are
    * scored against their query, and the beam re-cuts to the ef
    * highest-cosine visited nodes. Hop count is FIXED (deterministic
    * plans, no data-dependent driver branching); an exhausted
    * frontier just stops adding rows. Returns every (qid, vec_id,
    * cos) the search scored — the candidate set whose size is the
    * serving cost. */
  /** The fixed-hop beam loop shared by the flat NSW (q170) and the
    * hierarchical entry layer (q175): per hop, the ef-best
    * last-hop-scored nodes expand through `graph`'s edge list
    * (broadcast frontier, distributed edges), new nodes score against
    * their query, the union re-checkpoints. `visited0` rows carry
    * (qid, vec_id, cos, hop=0). */
  private def beamExpand(graph: DataFrame, emb: DataFrame, q: DataFrame,
      visited0: DataFrame, ef: Int, hops: Int): DataFrame = {
    // A delta-checkpoint variant (checkpoint only each hop's new rows,
    // visited = union of per-hop checkpoint scans) was built and
    // MEASURED in r17 and rejected: isolated clean 32-core alternating
    // A/B read q170 2.47→3.28 s / q175 2.42→3.35 s against this form —
    // the growing union multiplies the tiny-task count of every later
    // hop's window and anti-join past what the saved re-materialization
    // buys at any SF the driver benches. Whole-union checkpoints stay.
    var visited = visited0.localCheckpoint()
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    var h = 1
    while (h <= hops) {
      val frontier = visited
        .withColumn("rk", row_number().over(wb)).filter(col("rk") <= ef)
        .filter(col("hop") === h - 1)
        .select(col("qid"), col("vec_id").as("src"))
      val expanded = broadcast(frontier).join(graph, Seq("src"))
        .select(col("qid"), col("dst").as("vec_id")).distinct()
        .join(visited.select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"), "left_anti")
        .join(emb, Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"),
          lit(h).as("hop"))
      visited = visited.unionByName(expanded).localCheckpoint()
      h += 1
    }
    visited
  }

  private[graft] def nswSearchVisited(s: SparkSession, d: String,
      ef: Int = 24, hops: Int = 4, entries: Int = 4): DataFrame = {
    val graph = nswGraph(s, d)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = emb.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val entry = emb.orderBy(col("vec_id")).limit(entries)
    val visited0 = q.crossJoin(broadcast(entry))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"),
        lit(0).as("hop"))
    beamExpand(graph, emb, q, visited0, ef, hops)
  }

  /** The q152 recall protocol over the GRAPH index: same queries
    * (vec_id % 100 = 0), same brute-force ROUND(6)-cosine ground
    * truth, candidates = whatever the beam search scored. Spec-graded
    * (VectorServingSpec) next to the IVF rows — an iterative beam is
    * not SQL-expressible, so this row rides the contract's ScalaTest
    * lane like the streaming operators. */
  private[graft] def nswServingRecall(s: SparkSession, d: String,
      ef: Int = 24, hops: Int = 4, entries: Int = 4): DataFrame =
    graphRecallOver(s, d,
      nswSearchVisited(s, d, ef, hops, entries).select(col("qid"), col("vec_id")))

  /** The recall rollup shared by q170 and q175: fan the scored set
    * back out to every vec_id sharing a visited node's exact embedding
    * (ADVICE r12 — the graph collapses duplicates to per-(cell,
    * embedding) reps, so without this a duplicate-heavy corpus
    * structurally understates recall: the brute-force truth ranks the
    * copies, the beam can only ever name the rep; scoring a rep IS
    * scoring its copies, and on duplicate-free corpora the fan-out is
    * an identity), then join against the brute-force ROUND(6)-cosine
    * truth. */
  private def graphRecallOver(s: SparkSession, d: String,
      visitedRaw: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val seen = visitedRaw
      .join(emb.select(col("vec_id").as("sv"), col("embedding").as("se")),
        col("vec_id") === col("sv"))
      .select(col("qid"), col("se"))
      .join(emb.select(col("vec_id").as("dv"), col("embedding").as("de")),
        col("se") === col("de"))
      .select(col("qid"), col("dv").as("vec_id")).distinct()
      .select(col("qid"), col("vec_id"), lit(1).as("seen"))
    val q = emb.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"))
      // the beam frame is checkpoint-derived (no stats): pin the hash
      // join, or the planner falls to sort-merge on the truth side
      .join(seen.hint("shuffle_hash"), Seq("qid", "vec_id"), "left")
      .withColumn("rk", row_number().over(w))
      .groupBy(col("qid"))
      .agg(sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("seen").isNotNull && col("rk") <= 10, 1L).otherwise(0L))
          .as("hits"))
      .select(col("qid"), col("n_cand"), col("hits"),
        (col("hits").cast("double") / 10).as("recall10"))
      .orderBy(col("qid"))
  }

  /** The deterministic-quantizer scoring chain (centroids + every
    * (vector, cell) score) shared by the q152 and q170 oracles — the
    * SQL twin of [[ivfScored]] under [[ivfCentroids]]. */
  private val centScSqlCtes =
    """cent AS (
      |  SELECT label, list(c ORDER BY i) AS cv FROM (
      |    SELECT label, i,
      |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
      |    FROM (SELECT label, unnest(embedding) AS e,
      |          generate_subscripts(embedding, 1) AS i FROM embeddings) t
      |    GROUP BY label, i) u GROUP BY label),
      |sc AS (SELECT e.vec_id, e.embedding, cent.label,
      |    list_sum([cv[i]*cv[i] for i in generate_series(1,64)])
      |    - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i] for i in generate_series(1,64)]) AS score
      |  FROM embeddings e, cent)""".stripMargin

  /** q170: the GRAPH-ANN serving operating point, graded (VERDICT_r11
    * #3) — [[nswServingRecall]] frozen at the deterministic default
    * build/search recipe (M=8 graph from top-2 IVF cells, ef=24,
    * hops=4, entries=4, round(6) cosine, vec_id tiebreaks everywhere),
    * so the serving stack's graph index family has a CORRECTNESS row
    * next to q152's IVF point instead of riding the spec lane. The
    * fixed hop count is what makes the beam SQL-expressible: the
    * oracle unrolls the four frontier→expand→union rounds as
    * materialized CTEs over the same SQL-reconstructed edge list. */
  def graphAnnRecall(s: SparkSession, d: String): DataFrame =
    nswServingRecall(s, d)

  private lazy val graphAnnRecallSql: String = {
    val (m, ef, hops, entries) = (8, 24, 4, 4)
    // one frontier→expand→union round; every v{h} is MATERIALIZED —
    // DuckDB inlines non-recursive CTEs, and v{h} is read three times
    // (frontier, anti-join, union), so an unmaterialized unroll would
    // re-evaluate the whole prefix exponentially (the q84 lesson)
    val rounds = (1 to hops).map { h =>
      s"""f$h AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, hop,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM v${h - 1}) WHERE rk <= $ef AND hop = ${h - 1}),
         |e$h AS (SELECT x.qid, x.vec_id,
         |    ${cosSql("em.embedding", "q.qv")} AS cos, $h AS hop
         |  FROM (SELECT DISTINCT f.qid, g.dst AS vec_id
         |        FROM f$h f JOIN g ON g.src = f.vec_id) x
         |  JOIN embeddings em ON em.vec_id = x.vec_id
         |  JOIN q ON q.qid = x.qid
         |  WHERE x.vec_id <> x.qid AND NOT EXISTS (
         |    SELECT 1 FROM v${h - 1} v
         |    WHERE v.qid = x.qid AND v.vec_id = x.vec_id)),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1}
         |  UNION ALL SELECT qid, vec_id, cos, hop FROM e$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $centScSqlCtes,
       |asg2 AS MATERIALIZED (SELECT vec_id, embedding, label AS cell FROM (
       |    SELECT vec_id, embedding, label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn
       |    FROM sc) WHERE rn <= 2),
       |reps AS (SELECT cell, embedding, MIN(vec_id) AS vid
       |         FROM asg2 GROUP BY cell, embedding),
       |g AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT DISTINCT a.vid AS src, b.vid AS dst,
       |            ${cosSql("a.embedding", "b.embedding")} AS cos
       |          FROM reps a JOIN reps b
       |            ON a.cell = b.cell AND a.vid <> b.vid))
       |  WHERE rn <= $m),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |entry AS (SELECT vec_id, embedding FROM embeddings
       |          ORDER BY vec_id LIMIT $entries),
       |v0 AS MATERIALIZED (SELECT q.qid, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS cos, 0 AS hop
       |  FROM q, entry e WHERE e.vec_id <> q.qid),
       |$rounds,
       |seen AS (SELECT DISTINCT v.qid, e2.vec_id
       |         FROM v$hops v
       |         JOIN embeddings e1 ON e1.vec_id = v.vec_id
       |         JOIN embeddings e2 ON e2.embedding = e1.embedding),
       |bf0 AS (SELECT q.qid, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |bf AS (SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM bf0)
       |SELECT bf.qid,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL AND bf.rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL AND bf.rk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall10
       |FROM bf LEFT JOIN seen s ON s.qid = bf.qid AND s.vec_id = bf.vec_id
       |GROUP BY bf.qid ORDER BY bf.qid""".stripMargin
  }

  // ---- q175: HNSW hierarchy over the graded NSW ---------------------

  /** q175 frozen recipe. Entry layer: vec_id % 4 == 0 nodes, their own
    * M=8 graph ([[nswGraphL1]]), 2 lowest-vid entries, ef=8, 2 hops.
    * Base layer: q170's graph searched from the entry layer's top-3
    * results per query with ef=24 and 4 hops — q170's beam shape, but
    * from ROUTED entries instead of the 4 lowest vec_ids; the routed
    * start makes the whole search cheaper (fewer novel nodes per hop)
    * and, at sf0.1, better. */
  private val HnswEf1 = 4
  private val HnswHops1 = 1
  private val HnswEntries1 = 2
  private val HnswTopEntries = 4
  private val HnswEf = 24
  private val HnswHops = 4

  /** Both beams' scored sets: (entry-layer visited, base visited). */
  private[graft] def hnswSearchVisited(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = emb.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val entry1 = emb.filter(col("vec_id") % 4 === 0)
      .orderBy(col("vec_id")).limit(HnswEntries1)
    val v1Start = q.crossJoin(broadcast(entry1))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"),
        lit(0).as("hop"))
    val l1 = beamExpand(nswGraphL1(s, d), emb, q, v1Start, HnswEf1, HnswHops1)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val baseStart = l1
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= HnswTopEntries)
      .select(col("qid"), col("vec_id"), col("cos"), lit(0).as("hop"))
    val base = beamExpand(nswGraph(s, d), emb, q, baseStart, HnswEf, HnswHops)
    (l1, base)
  }

  /** q175: the HIERARCHICAL graph-ANN operating point — q170's recipe
    * plus a deterministic 2-level entry layer (HNSW, Malkov &
    * Yashunin '18): the upper layer routes the beam so the base
    * search runs narrower from better entries — at billion-vector
    * scale the entry ladder is what makes graph search logarithmic
    * instead of random-entry-diameter-bound. Candidate cost counts
    * BOTH layers' scored sets (every cosine paid).
    *
    * Measured at the graded scales: at sf0.01 the hierarchy delivers
    * exactly the promised trade — recall@10 0.760 EQUAL to q170's at
    * 237.6 vs 261.2 candidates/query (9% cheaper), pinned by
    * VectorServingSpec. At sf0.001 the corpus is so small (≈670
    * vectors, 5 queries) that the scored fraction dominates (the q152
    * isotropy note): 0.70 @ 253 vs q170's 0.80 @ 269 — one hit in 50
    * below, at 6% fewer candidates; the small-N regime is the flat
    * beam's home turf and the hierarchy's overhead floor. Same
    * determinism freeze as q170 (round(6) cosine, vec_id tiebreaks,
    * fixed hops — which also keeps the double beam SQL-expressible). */
  def hnswRecall(s: SparkSession, d: String): DataFrame = {
    val (l1, base) = hnswSearchVisited(s, d)
    graphRecallOver(s, d,
      l1.select(col("qid"), col("vec_id"))
        .unionByName(base.select(col("qid"), col("vec_id"))))
  }

  private lazy val hnswRecallSql: String = {
    val m = 8
    // entry-layer beam rounds over g1 (w{h}), then base rounds over g
    // (v{h}) seeded by the entry layer's top-HnswTopEntries; every
    // stage MATERIALIZED (the q84/q170 DuckDB-inlining lesson)
    val l1Rounds = (1 to HnswHops1).map { h =>
      s"""wf$h AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, hop,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM w${h - 1}) WHERE rk <= $HnswEf1 AND hop = ${h - 1}),
         |we$h AS (SELECT x.qid, x.vec_id,
         |    ${cosSql("em.embedding", "q.qv")} AS cos, $h AS hop
         |  FROM (SELECT DISTINCT f.qid, g.dst AS vec_id
         |        FROM wf$h f JOIN g1 g ON g.src = f.vec_id) x
         |  JOIN embeddings em ON em.vec_id = x.vec_id
         |  JOIN q ON q.qid = x.qid
         |  WHERE x.vec_id <> x.qid AND NOT EXISTS (
         |    SELECT 1 FROM w${h - 1} v
         |    WHERE v.qid = x.qid AND v.vec_id = x.vec_id)),
         |w$h AS MATERIALIZED (SELECT * FROM w${h - 1}
         |  UNION ALL SELECT qid, vec_id, cos, hop FROM we$h)""".stripMargin
    }.mkString(",\n")
    val baseRounds = (1 to HnswHops).map { h =>
      s"""f$h AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, hop,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM v${h - 1}) WHERE rk <= $HnswEf AND hop = ${h - 1}),
         |e$h AS (SELECT x.qid, x.vec_id,
         |    ${cosSql("em.embedding", "q.qv")} AS cos, $h AS hop
         |  FROM (SELECT DISTINCT f.qid, g.dst AS vec_id
         |        FROM f$h f JOIN g ON g.src = f.vec_id) x
         |  JOIN embeddings em ON em.vec_id = x.vec_id
         |  JOIN q ON q.qid = x.qid
         |  WHERE x.vec_id <> x.qid AND NOT EXISTS (
         |    SELECT 1 FROM v${h - 1} v
         |    WHERE v.qid = x.qid AND v.vec_id = x.vec_id)),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1}
         |  UNION ALL SELECT qid, vec_id, cos, hop FROM e$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $centScSqlCtes,
       |asg2 AS MATERIALIZED (SELECT vec_id, embedding, label AS cell FROM (
       |    SELECT vec_id, embedding, label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn
       |    FROM sc) WHERE rn <= 2),
       |reps AS (SELECT cell, embedding, MIN(vec_id) AS vid
       |         FROM asg2 GROUP BY cell, embedding),
       |g AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT DISTINCT a.vid AS src, b.vid AS dst,
       |            ${cosSql("a.embedding", "b.embedding")} AS cos
       |          FROM reps a JOIN reps b
       |            ON a.cell = b.cell AND a.vid <> b.vid))
       |  WHERE rn <= $m),
       |reps1 AS (SELECT cell, embedding, MIN(vec_id) AS vid
       |          FROM asg2 WHERE vec_id % 4 = 0 GROUP BY cell, embedding),
       |g1 AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT DISTINCT a.vid AS src, b.vid AS dst,
       |            ${cosSql("a.embedding", "b.embedding")} AS cos
       |          FROM reps1 a JOIN reps1 b
       |            ON a.cell = b.cell AND a.vid <> b.vid))
       |  WHERE rn <= $m),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |entry1 AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id % 4 = 0 ORDER BY vec_id LIMIT $HnswEntries1),
       |w0 AS MATERIALIZED (SELECT q.qid, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS cos, 0 AS hop
       |  FROM q, entry1 e WHERE e.vec_id <> q.qid),
       |$l1Rounds,
       |v0 AS MATERIALIZED (SELECT qid, vec_id, cos, 0 AS hop FROM (
       |    SELECT qid, vec_id, cos,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |    FROM w$HnswHops1) WHERE rk <= $HnswTopEntries),
       |$baseRounds,
       |scored AS (SELECT qid, vec_id FROM w$HnswHops1
       |           UNION SELECT qid, vec_id FROM v$HnswHops),
       |seen AS (SELECT DISTINCT s.qid, e2.vec_id
       |         FROM scored s
       |         JOIN embeddings e1 ON e1.vec_id = s.vec_id
       |         JOIN embeddings e2 ON e2.embedding = e1.embedding),
       |bf0 AS (SELECT q.qid, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |bf AS (SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |  FROM bf0)
       |SELECT bf.qid,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL AND bf.rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL AND bf.rk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall10
       |FROM bf LEFT JOIN seen s ON s.qid = bf.qid AND s.vec_id = bf.vec_id
       |GROUP BY bf.qid ORDER BY bf.qid""".stripMargin
  }

  // ---- q176: graph-ANN delta maintenance (the HNSW insert path) -----

  private val DeltaEf = 8
  private val DeltaHops = 2
  private val DeltaEntries = 2
  private val DeltaM = 8

  /** The FROZEN index's graph for q176 — built over the old slice
    * (vec_id % 100 ≠ 7) under OLD-ONLY centroids: the index state
    * before the batch arrived, like q156's old-slice quantizer. The
    * arriving batch is 1% (vec_id % 100 = 7, the q170 query grain):
    * a delta INDEX update is incremental by definition — q156's 14%
    * convention would broadcast a corpus-grain batch through the beam
    * (at larger delta fractions the frontier join flips to shuffle;
    * same documented boundary as q170's query set). */
  private[graft] def nswGraphOld(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "nsw_graph_old") {
      val old = Tables.embeddings(s, d).filter(col("vec_id") % 100 =!= 7)
      nswGraphOver(
        ivfScoredFrom(s, d, ivfCentroidsOf(old))
          .filter(col("vec_id") % 100 =!= 7), DeltaM)
    }

  /** q176: attach an arriving vector batch to the frozen NSW graph the
    * way HNSW inserts do — beam-search the OLD graph from its fixed
    * entry points, then connect each new vector to its M
    * highest-cosine vertices among everything the search scored.
    * Output = the new out-edge list (new_vid, dst, cos, edge_rank),
    * the exact state a serving index applies as its delta. Same
    * determinism freeze as q170/q175; the 2-hop ef=8 beam keeps the
    * oracle unroll small. Reverse-edge pruning (the other half of a
    * full HNSW insert) is a per-dst top-M window over the union of old
    * and new edges — same shape, omitted from the graded row to keep
    * the output the pure insert delta. */
  def graphDeltaEdges(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val old = emb.filter(col("vec_id") % 100 =!= 7)
    val q = emb.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val entry = old.orderBy(col("vec_id")).limit(DeltaEntries)
    val v0 = q.crossJoin(broadcast(entry))
      .select(col("qid"), col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"),
        lit(0).as("hop"))
    val visited = beamExpand(nswGraphOld(s, d), emb, q, v0, DeltaEf, DeltaHops)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    visited.withColumn("rk", row_number().over(wk)).filter(col("rk") <= DeltaM)
      .select(col("qid").as("new_vid"), col("vec_id").as("dst"),
        col("cos"), col("rk").cast("long").as("edge_rank"))
      .orderBy(col("new_vid"), col("edge_rank"))
  }

  /** q177: the OTHER half of the HNSW insert — reverse-edge pruning.
    * Each q176 forward edge implies a reverse edge dst→new_vid; a dst
    * whose in-delta grows past M must re-cut its out-edge list to the
    * M highest-cosine neighbors among (its old edges ∪ its reverse
    * delta), or node degree grows without bound as batches arrive.
    * Output = the post-prune out-edge table of every AFFECTED dst
    * (old survivors and adopted newcomers alike, ranked), i.e. the
    * second half of the index delta a serving system applies. Old-edge
    * cosines are recomputed from the embeddings (the graph stores
    * structure, not scores) with the same round(6) freeze. */
  def graphDeltaPrune(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val fwd = graphDeltaEdges(s, d)
      .select(col("dst").as("src"), col("new_vid").as("nbr"))
    val affected = fwd.select(col("src")).distinct()
    val oldEdges = nswGraphOld(s, d)
      .join(broadcast(affected), Seq("src"))
      .select(col("src"), col("dst").as("nbr"))
    val union = oldEdges.unionByName(fwd)
    val scored = union
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("se")),
        Seq("src"))
      .join(emb.select(col("vec_id").as("nbr"), col("embedding").as("ne")),
        Seq("nbr"))
      .select(col("src"), col("nbr"),
        round(cosineSimFast(col("se"), col("ne")), 6).as("cos"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("nbr"))
    scored.withColumn("rk", row_number().over(wk)).filter(col("rk") <= DeltaM)
      .select(col("src"), col("nbr"), col("cos"),
        col("rk").cast("long").as("edge_rank"))
      .orderBy(col("src"), col("edge_rank"))
  }

  private lazy val graphDeltaPruneSql: String = {
    // reuse q176's whole chain (old graph g + delta edges), then the
    // per-affected-src re-cut
    val base = graphDeltaEdgesSql
    val prefix =
      base.substring(0, base.indexOf("SELECT qid AS new_vid")).trim + ",\n"
    s"""${prefix}delta AS (SELECT qid AS new_vid, vec_id AS dst
       |  FROM (SELECT qid, vec_id, cos,
       |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |        FROM dv$DeltaHops)
       |  WHERE rk <= $DeltaM),
       |affected AS (SELECT DISTINCT dst AS src FROM delta),
       |unioned AS (
       |  SELECT g.src, g.dst AS nbr FROM g JOIN affected a ON a.src = g.src
       |  UNION ALL
       |  SELECT dst AS src, new_vid AS nbr FROM delta),
       |scored AS (SELECT u.src, u.nbr,
       |    ${cosSql("es.embedding", "en.embedding")} AS cos
       |  FROM unioned u
       |  JOIN embeddings es ON es.vec_id = u.src
       |  JOIN embeddings en ON en.vec_id = u.nbr)
       |SELECT src, nbr, cos, CAST(rk AS BIGINT) AS edge_rank
       |FROM (SELECT src, nbr, cos,
       |        ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rk
       |      FROM scored)
       |WHERE rk <= $DeltaM ORDER BY src, edge_rank""".stripMargin
  }

  private lazy val graphDeltaEdgesSql: String = {
    val rounds = (1 to DeltaHops).map { h =>
      s"""df$h AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, hop,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |    FROM dv${h - 1}) WHERE rk <= $DeltaEf AND hop = ${h - 1}),
         |de$h AS (SELECT x.qid, x.vec_id,
         |    ${cosSql("em.embedding", "q.qv")} AS cos, $h AS hop
         |  FROM (SELECT DISTINCT f.qid, g.dst AS vec_id
         |        FROM df$h f JOIN g ON g.src = f.vec_id) x
         |  JOIN embeddings em ON em.vec_id = x.vec_id
         |  JOIN q ON q.qid = x.qid
         |  WHERE x.vec_id <> x.qid AND NOT EXISTS (
         |    SELECT 1 FROM dv${h - 1} v
         |    WHERE v.qid = x.qid AND v.vec_id = x.vec_id)),
         |dv$h AS MATERIALIZED (SELECT * FROM dv${h - 1}
         |  UNION ALL SELECT qid, vec_id, cos, hop FROM de$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i,
       |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
       |    FROM (SELECT label, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS i FROM embeddings
       |          WHERE vec_id % 100 <> 7) t
       |    GROUP BY label, i) u GROUP BY label),
       |cn AS (SELECT label, cv,
       |         list_sum([cv[i]*cv[i] for i in generate_series(1,64)]) AS cnorm
       |       FROM cent),
       |sc AS (SELECT e.vec_id, e.embedding, cn.label,
       |    cn.cnorm - 2 * list_sum([CAST(embedding[i] AS DOUBLE)*cv[i]
       |                             for i in generate_series(1,64)]) AS score
       |  FROM embeddings e, cn WHERE e.vec_id % 100 <> 7),
       |asg2 AS MATERIALIZED (SELECT vec_id, embedding, label AS cell FROM (
       |    SELECT vec_id, embedding, label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn
       |    FROM sc) WHERE rn <= 2),
       |reps AS (SELECT cell, embedding, MIN(vec_id) AS vid
       |         FROM asg2 GROUP BY cell, embedding),
       |g AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT DISTINCT a.vid AS src, b.vid AS dst,
       |            ${cosSql("a.embedding", "b.embedding")} AS cos
       |          FROM reps a JOIN reps b
       |            ON a.cell = b.cell AND a.vid <> b.vid))
       |  WHERE rn <= $DeltaM),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id % 100 = 7),
       |entry AS (SELECT vec_id, embedding FROM embeddings
       |          WHERE vec_id % 100 <> 7 ORDER BY vec_id LIMIT $DeltaEntries),
       |dv0 AS MATERIALIZED (SELECT q.qid, e.vec_id,
       |    ${cosSql("e.embedding", "q.qv")} AS cos, 0 AS hop
       |  FROM q, entry e),
       |$rounds
       |SELECT qid AS new_vid, vec_id AS dst, cos,
       |       CAST(rk AS BIGINT) AS edge_rank
       |FROM (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
       |      FROM dv$DeltaHops)
       |WHERE rk <= $DeltaM ORDER BY new_vid, edge_rank""".stripMargin
  }

  private lazy val ivfServingRecallSql =
    s"""WITH $centScSqlCtes,
       |asg AS (SELECT vec_id, embedding, label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS rn FROM sc),
       |probes AS (SELECT qid, label FROM (
       |    SELECT vec_id AS qid, label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, label) AS prk
       |    FROM sc WHERE vec_id % 100 = 0) WHERE prk <= 7),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
       |scq AS (SELECT q.qid, a.vec_id, a.label,
       |    ROUND(${dotSql("a.embedding", "q.qv")} /
       |      (SQRT(${dotSql("a.embedding", "a.embedding")}) * SQRT(${dotSql("q.qv", "q.qv")})), 6) AS cos
       |  FROM (SELECT vec_id, embedding, label FROM asg WHERE rn = 1) a, q
       |  WHERE a.vec_id <> q.qid),
       |r AS (SELECT scq.qid, scq.vec_id, scq.cos,
       |    CASE WHEN p.label IS NOT NULL THEN 1 ELSE 0 END AS probed,
       |    ROW_NUMBER() OVER (PARTITION BY scq.qid ORDER BY scq.cos DESC, scq.vec_id) AS rk
       |  FROM scq LEFT JOIN probes p ON p.qid = scq.qid AND p.label = scq.label)
       |SELECT qid, CAST(SUM(probed) AS BIGINT) AS n_cand,
       |  CAST(SUM(CASE WHEN probed = 1 AND rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN probed = 1 AND rk <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall10
       |FROM r GROUP BY qid ORDER BY qid""".stripMargin

  /** Multimodal plumbing (oracle-able slice): opaque binary payload +
    * typed metadata — byte length and content digest survive the
    * string→binary boundary identically on both engines. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("payload_md5"),
        (length(col("text")) - length(regexp_replace(col("text"), "[a-m]", ""))).as("n_am_bytes"))
      .orderBy(col("doc_id"))

  private val binaryMetaSql =
    """SELECT doc_id,
      | CAST(OCTET_LENGTH(encode(text)) AS INT) AS n_bytes,
      | md5(text) AS payload_md5,
      | CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[a-m]', '', 'g')) AS INT) AS n_am_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-label centroids — the IVF training step (the q87 coarse
    * quantizer, computed as a query). posexplode turns the
    * element-wise mean into one partial-aggregatable shuffle keyed on
    * (label, dim): 640 groups regardless of corpus size, so at 100 TB
    * the wire carries only num_labels × dims partial sums per task.
    * Floats hop float→double (exact) →DECIMAL(28,8) before summing so
    * both engines round identically off the binary grid. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(dsum(col("col").cast("double")).as("csum"), count(lit(1)).as("n"))
      .select(col("label"), col("pos").as("dim"), (col("csum") / col("n")).as("centroid"))
      .orderBy(col("label"), col("dim"))

  private val labelCentroidsSql =
    """SELECT label, CAST(i-1 AS INT) AS dim,
      | CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS centroid
      |FROM (SELECT label, unnest(embedding) AS e,
      |      generate_subscripts(embedding, 1) AS i FROM embeddings) t
      |GROUP BY label, i ORDER BY label, dim""".stripMargin

  /** Per-key bounded top-k through the custom operator stack
    * ([[graft.plans.TopKPerKey]] — logical node → strategy → heap
    * exec): the 5 highest-energy vectors per label, selection ordered
    * by the RAW double norm with vec_id tie-break (total order), the
    * rounding applied only in the projection. The window/LATERAL
    * formulation (q64) sorts every label's whole group; this one
    * heaps. The oracle replays selection with a ROW_NUMBER window —
    * same rows, which is exactly the point. */
  def labelTopNorm(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val e = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"),
        dotFast(col("embedding"), col("embedding")).as("energy"))
    graft.plans.TopKPerKey
      .topKPerKey(e, Seq(col("label")), Seq(col("energy").desc, col("vec_id").asc), 5)
      .orderBy(col("label"), col("vec_id"))
      .select(col("label"), col("vec_id"), round(col("energy"), 6).as("energy"))
  }

  private val labelTopNormSql =
    s"""WITH n AS (SELECT label, vec_id,
       |  ${dotSql("embedding", "embedding")} AS energy FROM embeddings),
       |r AS (SELECT label, vec_id, energy,
       |  ROW_NUMBER() OVER (PARTITION BY label ORDER BY energy DESC, vec_id) AS rn FROM n)
       |SELECT label, vec_id, ROUND(energy, 6) AS energy FROM r
       |WHERE rn <= 5 ORDER BY label, vec_id""".stripMargin

  /** Per-vector int8 scalar quantization with reconstruction error —
    * the embedding-compression step a 100 TB vector store runs before
    * ANN serving: min/max scale per vector, 256 levels, midpoint
    * dequantization, mean absolute reconstruction error. Map-only
    * (all per-row array math; one narrow stage at any scale). `floor`
    * (not `round`) keeps the level assignment tie-free cross-engine;
    * all arithmetic is double-widened floats so Spark and DuckDB fold
    * identical IEEE sequences ([[graft.SparkEntry]] determinism
    * rules). */
  def embeddingQuant(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("q", expr("transform(v, x -> CASE WHEN mx = mn THEN 0 " +
        "ELSE least(cast(floor((x - mn) / (mx - mn) * 256) as int), 255) END)"))
      .select(col("vec_id"), col("label"),
        size(array_distinct(col("q"))).as("n_levels"),
        round(expr("aggregate(zip_with(v, q, (x, qq) -> " +
          "abs(x - (mn + (qq + 0.5) * (mx - mn) / 256))), " +
          "cast(0.0 as double), (a, b) -> a + b)") / 64, 8).as("mean_abs_err"))
      .orderBy(col("vec_id"))

  private val embeddingQuantSql =
    """WITH s AS (SELECT vec_id, CAST(list_min(embedding) AS DOUBLE) AS mn,
      |                  CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
      |qz AS (SELECT e.vec_id, e.label, s.mn, s.mx,
      |    [CASE WHEN s.mx = s.mn THEN 0
      |          ELSE LEAST(CAST(floor((CAST(e.embedding[i] AS DOUBLE) - s.mn)
      |                          / (s.mx - s.mn) * 256) AS INT), 255)
      |     END for i in generate_series(1, 64)] AS q
      |  FROM embeddings e JOIN s ON s.vec_id = e.vec_id),
      |rec AS (SELECT qz.vec_id AS vec_id, qz.label AS label,
      |    len(list_distinct(qz.q)) AS n_levels,
      |    list_sum([abs(CAST(e2.embedding[i] AS DOUBLE)
      |                  - (qz.mn + (qz.q[i] + 0.5) * (qz.mx - qz.mn) / 256))
      |              for i in generate_series(1, 64)]) AS abs_err_sum
      |  FROM qz JOIN embeddings e2 ON e2.vec_id = qz.vec_id)
      |SELECT vec_id, label, CAST(n_levels AS INT) AS n_levels,
      |       ROUND(abs_err_sum / 64, 8) AS mean_abs_err
      |FROM rec ORDER BY vec_id""".stripMargin

  // ---- product quantization (q126/q127) ----------------------------

  /** The PQ codebook: 8 subspaces × 8 dims, one centroid per LABEL
    * per subspace — the subspace slices of the q67/q87 deterministic
    * per-label centroids (exact-decimal means, so the "training" is
    * reproducible on both engines; a production run would k-means each
    * subspace, which is engine-private — the label means give the same
    * codebook SHAPE with oracle-replayable arithmetic). 80 rows total:
    * (label, m, cv[8], ‖c‖²), always a broadcast. */
  private[graft] def pqCents(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(dsum(col("col").cast("double")).as("csum"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (col("csum") / col("n")).as("c"))
      .withColumn("m", (col("pos") / 8).cast("int"))
      .groupBy(col("label"), col("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .withColumn("cnorm", dotFast(col("cv"), col("cv")))

  /** The graded code assignment at (vec_id, m) grain under the
    * label-derived codebook: argmin over the codes of ‖v_m − c‖² (the
    * ‖v_m‖² term is constant per (vec, m) and drops out of the argmin),
    * ties broken on label. Memoized — q126 pivots it and q127 joins it
    * per query. */
  private[graft] def pqAssigned(s: SparkSession, d: String): DataFrame =
    graft.CheckpointMemo.getOrElseUpdate(s, d, "pq_codes") {
      argminBy(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(pqCents(s, d)))
        .select(col("vec_id"), col("m"), col("label"),
          (col("cnorm") - lit(2.0) * dotFast(
            slice(col("embedding"), col("m") * lit(8) + lit(1), lit(8)),
            col("cv"))).as("score")),
        Seq("vec_id", "m"), Seq.empty)
        .select(col("vec_id"), col("m"), col("label").as("code"))
        .localCheckpoint()
    }

  /** q126: product-quantization encoding — 64 float32 dims compressed
    * to 8 sub-byte codes per vector (Jégou/Douze/Schmid, TPAMI'11),
    * the storage format that makes billion-vector ANN fit in memory:
    * 256 bytes → 8 bytes here, 32× at any corpus size, and the q127
    * query path never touches raw vectors again. Assignment is a
    * map-side cross against the 80-row broadcast codebook + one
    * (vec_id, m)-partitioned argmin window — skew-free groups of
    * exactly 10, no shuffle wider than the code table itself. */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    pqAssigned(s, d)
      .groupBy(col("vec_id"))
      .agg(max(when(col("m") === 0, col("code"))).as("c0"),
        (1 until 8).map(m =>
          max(when(col("m") === m, col("code"))).as(s"c$m")): _*)
      .orderBy(col("vec_id"))

  private val pqCentSqlCte =
    """cent AS (
      |  SELECT label, CAST((i-1)//8 AS INT) AS m, list(c ORDER BY i) AS cv FROM (
      |    SELECT label, i,
      |      CAST(CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS c
      |    FROM (SELECT label, unnest(embedding) AS e,
      |          generate_subscripts(embedding, 1) AS i FROM embeddings) t
      |    GROUP BY label, i) u GROUP BY label, (i-1)//8),
      |cn AS (SELECT label, m, cv,
      |         list_sum([cv[i]*cv[i] for i in generate_series(1,8)]) AS cnorm
      |       FROM cent),
      |sc AS (SELECT e.vec_id, cn.m, cn.label,
      |    cn.cnorm - 2 * list_sum([CAST(e.embedding[cn.m*8+i] AS DOUBLE)*cv[i]
      |                             for i in generate_series(1,8)]) AS score
      |  FROM embeddings e, cn),
      |code AS (SELECT vec_id, m, label AS code FROM (
      |    SELECT vec_id, m, label, score,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY score, label) AS rn
      |    FROM sc) WHERE rn = 1)""".stripMargin

  private lazy val pqCodesSql =
    s"""WITH $pqCentSqlCte
       |SELECT vec_id,
       |  ${(0 until 8).map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(",\n  ")}
       |FROM code GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** q127: asymmetric-distance top-k over the PQ codes — the payoff
    * query: estimated ‖q − v‖² = Σ_m ‖q_m − c_{code_m}‖², computed
    * from an 80-entry per-query lookup table joined to the 8-byte
    * codes; the raw database vectors are NEVER read. The per-subspace
    * parts pivot to fixed columns and sum in fixed left-to-right
    * order, so the estimate is a deterministic IEEE sequence on both
    * engines (aggregate-order float summation would not be). At scale
    * this is the memory-resident rerank-candidate generator in front
    * of q51's exact scan (recall governed by codebook size, the
    * standard PQ trade-off). */
  /** The per-query ADC lookup table: 80 rows of (m, code, part) where
    * part = ‖q_m − c_{code,m}‖² for query vector 0. Shared by q127
    * (whole-corpus scan) and q134 (LSH-candidate re-rank). */
  private def adcLookup(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    pqCents(s, d).crossJoin(broadcast(q))
      .select(col("m"), col("label").as("code"),
        (dotFast(slice(col("qv"), col("m") * lit(8) + lit(1), lit(8)),
          slice(col("qv"), col("m") * lit(8) + lit(1), lit(8)))
          - lit(2.0) * dotFast(
            slice(col("qv"), col("m") * lit(8) + lit(1), lit(8)), col("cv"))
          + col("cnorm")).as("part"))
  }

  /** ADC estimate per vector over a (vec_id, m, code) frame — fixed
    * left-to-right part sum (deterministic IEEE sequence). */
  private def adcEstimate(codes: DataFrame, lt: DataFrame): DataFrame =
    codes.join(broadcast(lt), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(max(when(col("m") === 0, col("part"))).as("p0"),
        (1 until 8).map(m =>
          max(when(col("m") === m, col("part"))).as(s"p$m")): _*)
      .select(col("vec_id"),
        (0 until 8).map(m => col(s"p$m")).reduceLeft(_ + _).as("est_dist"))

  def pqAdcTopk(s: SparkSession, d: String): DataFrame =
    adcEstimate(pqAssigned(s, d).filter(col("vec_id") =!= 0), adcLookup(s, d))
      .orderBy(col("est_dist"), col("vec_id"))
      .limit(10)

  /** q134: the modern ANN SERVING stack composed end-to-end — coarse
    * candidates from the q52 sign-projection super-bucket (one-bit
    * multiprobe), re-ranked by the q127 PQ asymmetric distance, top-5
    * out. This is how a billion-vector index actually answers a
    * query: the LSH/IVF structure bounds the candidate set, the
    * 8-byte codes + an 80-entry table score it without touching raw
    * vectors, and only the winners would ever be re-ranked exactly
    * (q51's scan is the gold baseline; q109 measures the recall of
    * the same coarse structure). Everything reuses memoized frames —
    * the query is a candidate semi-filter + the shared ADC estimate. */
  def pqRerankAnn(s: SparkSession, d: String): DataFrame =
    pqRerankAnnAt(s, d, probeBits = 1)

  /** The serving stack with a MULTIPROBE BREADTH knob: candidates are
    * every vector whose 4-bit bucket agrees with the query's on the
    * top (4 − probeBits) hyperplane signs — probeBits = 0 is the
    * exact bucket, 1 the graded q134 super-bucket (2 buckets), b
    * probes 2^b buckets (4 = the whole corpus). Recall rises and the
    * candidate set grows with b; the recall/candidate trade-off is
    * measured per breadth in PqSpec and recorded in SCALING.md (the
    * production tuning loop for a serving deployment — breadth is a
    * per-query latency budget, not an index rebuild). */
  def pqRerankAnnAt(s: SparkSession, d: String, probeBits: Int,
      k: Int = 5): DataFrame = {
    require(probeBits >= 0 && probeBits <= 4, s"probeBits in [0,4]: $probeBits")
    val e = Tables.embeddings(s, d)
    val withBucket = e.withColumn("bucket", lshBucket)
    val q = withBucket.filter(col("vec_id") === 0)
      .select(col("bucket").as("qbucket"))
    val cand = withBucket.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0 &&
        shiftright(col("bucket"), probeBits) === shiftright(col("qbucket"), probeBits))
      .select(col("vec_id"))
    adcEstimate(
      pqAssigned(s, d).join(cand.hint("shuffle_hash"), Seq("vec_id")),
      adcLookup(s, d))
      .orderBy(col("est_dist"), col("vec_id"))
      .limit(k)
  }

  /** The q134 oracle parameterized by multiprobe breadth — bucket
    * agreement after dropping probeBits low bits (integer divide by
    * 2^probeBits ≡ the operator's shiftright). probeBits=1 is the
    * graded q134 text verbatim; q136 grades breadth 2. */
  private def pqRerankAnnSqlAt(probeBits: Int): String = {
    val div = 1 << probeBits
    s"""WITH $pqCentSqlCte,
       |qq AS (SELECT embedding AS qv, $bucketSqlExpr AS qbucket
       |       FROM embeddings WHERE vec_id = 0),
       |b AS (SELECT vec_id, $bucketSqlExpr AS bucket FROM embeddings),
       |cand AS (SELECT b.vec_id FROM b, qq
       |         WHERE b.vec_id != 0 AND b.bucket // $div = qq.qbucket // $div),
       |lt AS (SELECT cn.m, cn.label AS code,
       |    list_sum([CAST(qv[cn.m*8+i] AS DOUBLE)*CAST(qv[cn.m*8+i] AS DOUBLE)
       |              for i in generate_series(1,8)])
       |    - 2 * list_sum([CAST(qv[cn.m*8+i] AS DOUBLE)*cv[i]
       |                    for i in generate_series(1,8)])
       |    + cn.cnorm AS part
       |  FROM cn, qq),
       |parts AS (SELECT c.vec_id,
       |    ${(0 until 8).map(m => s"MAX(CASE WHEN c.m = $m THEN lt.part END) AS p$m").mkString(",\n    ")}
       |  FROM code c JOIN lt ON lt.m = c.m AND lt.code = c.code
       |  WHERE c.vec_id IN (SELECT vec_id FROM cand) GROUP BY c.vec_id)
       |SELECT vec_id,
       |  ${(0 until 8).map(m => s"p$m").mkString(" + ")} AS est_dist
       |FROM parts ORDER BY est_dist, vec_id LIMIT 5""".stripMargin
  }

  private lazy val pqRerankAnnSql = pqRerankAnnSqlAt(1)

  /** q136: the serving stack one breadth notch wider (probeBits = 2,
    * 4 of 16 buckets probed) — the graded instance of the multiprobe
    * knob, so the recall/candidate trade-off PqSpec measures is also
    * oracle-pinned at a second operating point. Same plan as q134
    * except the candidate gate. */
  def pqRerankAnnWide(s: SparkSession, d: String): DataFrame =
    pqRerankAnnAt(s, d, probeBits = 2)

  private lazy val pqRerankAnnWideSql = pqRerankAnnSqlAt(2)

  private lazy val pqAdcTopkSql =
    s"""WITH $pqCentSqlCte,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |lt AS (SELECT cn.m, cn.label AS code,
       |    list_sum([CAST(qv[cn.m*8+i] AS DOUBLE)*CAST(qv[cn.m*8+i] AS DOUBLE)
       |              for i in generate_series(1,8)])
       |    - 2 * list_sum([CAST(qv[cn.m*8+i] AS DOUBLE)*cv[i]
       |                    for i in generate_series(1,8)])
       |    + cn.cnorm AS part
       |  FROM cn, q),
       |parts AS (SELECT c.vec_id,
       |    ${(0 until 8).map(m => s"MAX(CASE WHEN c.m = $m THEN lt.part END) AS p$m").mkString(",\n    ")}
       |  FROM code c JOIN lt ON lt.m = c.m AND lt.code = c.code
       |  WHERE c.vec_id != 0 GROUP BY c.vec_id)
       |SELECT vec_id,
       |  ${(0 until 8).map(m => s"p$m").mkString(" + ")} AS est_dist
       |FROM parts ORDER BY est_dist, vec_id LIMIT 10""".stripMargin

  // ---- MMR diverse top-k (q148) ------------------------------------

  /** q148: MAXIMAL MARGINAL RELEVANCE diverse top-5 (Carbonell &
    * Goldstein, SIGIR'98) for the q51 query vector — the
    * retrieval-augmentation/dedup-aware serving selection: round r
    * picks argmax over remaining candidates of
    *
    *   λ·cos(v, q) − (1−λ)·max_{s ∈ selected} cos(v, s),  λ = 0.7
    *
    * so each pick balances query relevance against redundancy with
    * what's already chosen (plain top-k returns near-duplicates of
    * one good hit; MMR spends the k slots on coverage). Fixed 5-round
    * unroll — the q132 pattern on vectors: per round ONE pass over
    * the 200-candidate checkpointed frame (relevance precomputed), a
    * ≤5-row broadcast of the selected set for the penalty max (max is
    * order-invariant, so the collect order doesn't matter), and a
    * (ROUND(6) score, vec_id)-total-ordered 1-row winner checkpoint.
    *
    * Scale shape: candidates at production scale come from an ANN
    * prefilter (q52/q134's bucket — the vec_id cap stands in here);
    * each round is one map-only scoring pass + a top-1 cut, and the
    * selected set rides a tiny broadcast. Dot products are the shared
    * sequential fold (dotFast ≡ DuckDB list_sum), so scores are
    * bit-identical cross-engine before the rounding that guards the
    * argmax. */
  def mmrDiverse(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), sqrt(dotFast(col("embedding"), col("embedding"))).as("qn"))
    val cand = e.filter(col("vec_id") =!= 0 && col("vec_id") < 200)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        sqrt(dotFast(col("embedding"), col("embedding"))).as("nrm"),
        (dotFast(col("embedding"), col("qv")) / (sqrt(dotFast(col("embedding"), col("embedding"))) * col("qn"))).as("rel"))
      .localCheckpoint()
    var sel: DataFrame = null
    val rounds = (1 to 5).map { r =>
      val scored =
        if (r == 1) cand.select(col("vec_id"), col("embedding"), col("nrm"),
          (lit(0.7) * col("rel")).as("score"))
        else {
          val selRow = sel.groupBy()
            .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("ss"))
          cand.crossJoin(broadcast(selRow))
            .filter(!exists(col("ss"), x => x.getField("vec_id") === col("vec_id")))
            .withColumn("pen", array_max(transform(col("ss"), x =>
              dotFast(col("embedding"), x.getField("embedding")) /
                (col("nrm") * x.getField("nrm")))))
            .select(col("vec_id"), col("embedding"), col("nrm"),
              (lit(0.7) * col("rel") - lit(0.3) * col("pen")).as("score"))
        }
      val w = scored
        .orderBy(round(col("score"), 6).desc, col("vec_id")).limit(1)
        .localCheckpoint()
      sel = if (r == 1) w.select(col("vec_id"), col("embedding"), col("nrm"))
        else sel.unionAll(w.select(col("vec_id"), col("embedding"), col("nrm")))
      w.select(lit(r.toLong).as("round"), col("vec_id"),
        round(col("score"), 6).as("score"))
    }
    rounds.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** One oracle MMR round: rank remaining candidates by the penalized
    * score against the running selection CTE. */
  private def mmrRoundSql(r: Int): String = {
    val prevSel = (1 to r - 1).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")
    if (r == 1)
      s"""w1 AS (SELECT vec_id, embedding, nrm, round(0.7 * rel, 6) AS score
         |  FROM cand ORDER BY round(0.7 * rel, 6) DESC, vec_id LIMIT 1)""".stripMargin
    else
      s"""s$r AS ($prevSel),
         |p$r AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
         |    max(${dotSql("c.embedding", "s.embedding")} / (c.nrm * s.nrm)) AS pen
         |  FROM cand c, s$r s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s$r)
         |  GROUP BY c.vec_id, c.embedding, c.nrm, c.rel),
         |w$r AS (SELECT vec_id, embedding, nrm,
         |    round(0.7 * rel - 0.3 * pen, 6) AS score
         |  FROM p$r ORDER BY round(0.7 * rel - 0.3 * pen, 6) DESC, vec_id LIMIT 1)""".stripMargin
  }

  private lazy val mmrDiverseSql =
    s"""WITH q AS (SELECT embedding AS qv, sqrt(${dotSql("embedding", "embedding")}) AS qn
       |           FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT e.vec_id, e.embedding,
       |    sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm,
       |    ${dotSql("e.embedding", "qv")} / (sqrt(${dotSql("e.embedding", "e.embedding")}) * qn) AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0 AND e.vec_id < 200),
       |${(1 to 5).map(mmrRoundSql).mkString(",\n")}
       |SELECT CAST(1 AS BIGINT) AS round, vec_id, score FROM w1
       |UNION ALL SELECT 2, vec_id, score FROM w2
       |UNION ALL SELECT 3, vec_id, score FROM w3
       |UNION ALL SELECT 4, vec_id, score FROM w4
       |UNION ALL SELECT 5, vec_id, score FROM w5
       |ORDER BY round""".stripMargin

  /** q182: RECIPROCAL-RANK-FUSION hybrid retrieval — the standard
    * dense+lexical serving composition (Cormack et al. SIGIR'09, the
    * fusion every hybrid search stack ships): per query, a dense
    * top-10 (brute-force round-6 cosine — the eval-exact list source;
    * the q175 HNSW beam is the drop-in at serving scale) and a
    * lexical top-10 (exact 3-shingle Jaccard of the query doc's text,
    * ranked by the INTEGER-scaled (10⁶·inter) div union so both
    * engines order identically) fuse by RRF with k=60, the weights
    * integer-scaled the same way (10⁶ div (60+rank)) so the fused
    * order is pure BIGINT arithmetic — no float summation order to
    * drift cross-engine. Output: fused top-5 per query with both
    * source ranks (0 = absent from that list, the rows where fusion
    * actually changed the answer).
    *
    * Scale shape — both list sources run at REP grain (the q112
    * duplication guard; measured here: 76.7 s → see SCALING.md at the
    * 100× mirrored corpus): identical embeddings / identical texts
    * score ONCE, and only then expand to document ids. The expansion
    * is EXACT, not approximate: the final order is (score desc,
    * vec_id asc), each rep's id is its minimum member id, so the true
    * top-10 spans at most 10 reps, every rep ranked before a
    * contributing rep supplies at least its minimum member ahead of
    * it, and self-exclusion removes at most one element — keeping the
    * best 11 reps and each rep's 11 smallest members provably covers
    * the top-10 (the DuckDB oracle stays the NAIVE all-ids
    * formulation, so the tri-SF hash-match is itself the equivalence
    * proof). The fusion join carries rank pairs only — never vectors
    * or text. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(evalQueryPred(s))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val wD = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cand"))
    // dense side: one cosine per (query, DISTINCT embedding)
    val embReps = emb.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"),
        slice(sort_array(collect_list(col("vec_id"))), 1, 11).as("members"))
    val wDr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("rep"))
    val dense = embReps.crossJoin(broadcast(q))
      .select(col("qid"), col("rep"), col("members"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"))
      .withColumn("rk_rep", row_number().over(wDr))
      .filter(col("rk_rep") <= 11)
      .select(col("qid"), col("cos"), explode(col("members")).as("cand"))
      .filter(col("cand") =!= col("qid"))
      .withColumn("rk_dense", row_number().over(wD))
      .filter(col("rk_dense") <= 10)
      .select(col("qid"), col("cand"), col("rk_dense"))
    // lexical side: the q104 rep-grain distinct-shingle frame, scored
    // once per (query, DISTINCT text), expanded through the doc→rep map
    val docRep = TextOps.docRepMemo(s, d) // (doc_id, rep)
    val jd = TextOps.jaccardDocsMemo(s, d) // (doc_id = rep, shs, n)
    val repMembers = docRep.groupBy(col("rep"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 11).as("members"))
    val qsh = q.select(col("qid"))
      .join(docRep.withColumnRenamed("doc_id", "qid"), Seq("qid"))
      .join(jd.select(col("doc_id").as("rep"), col("shs").as("qshs"),
        col("n").as("nq")), Seq("rep"))
      .select(col("qid"), col("nq"), explode(col("qshs")).as("sh"))
    val csh = jd.select(col("doc_id").as("crep"), col("n").as("nc"),
      explode(col("shs")).as("sh"))
    val wLr = Window.partitionBy(col("qid")).orderBy(col("jscaled").desc, col("crep"))
    val wL = Window.partitionBy(col("qid")).orderBy(col("jscaled").desc, col("cand"))
    val lex = qsh
      .join(csh.hint("shuffle_hash"), Seq("sh"))
      .groupBy(col("qid"), col("crep"), col("nq"), col("nc"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jscaled", expr("(1000000 * inter) div (nq + nc - inter)"))
      .withColumn("rk_rep", row_number().over(wLr))
      .filter(col("rk_rep") <= 11)
      .join(repMembers.withColumnRenamed("rep", "crep").hint("shuffle_hash"),
        Seq("crep"))
      .select(col("qid"), col("jscaled"), explode(col("members")).as("cand"))
      .filter(col("cand") =!= col("qid"))
      .withColumn("rk_lex", row_number().over(wL))
      .filter(col("rk_lex") <= 10)
      .select(col("qid"), col("cand"), col("rk_lex"))
    val fused = dense.hint("shuffle_hash")
      .join(lex.hint("shuffle_hash"), Seq("qid", "cand"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("CAST(1000000 div (60 + rk_dense) AS BIGINT)"), lit(0L)) +
          coalesce(expr("CAST(1000000 div (60 + rk_lex) AS BIGINT)"), lit(0L)))
    val wF = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("cand"))
    fused.withColumn("fused_rank", row_number().over(wF))
      .filter(col("fused_rank") <= 5)
      .select(col("qid"), col("fused_rank"), col("cand"), col("rrf"),
        coalesce(col("rk_dense").cast("long"), lit(0L)).as("rk_dense"),
        coalesce(col("rk_lex").cast("long"), lit(0L)).as("rk_lex"))
      .orderBy(col("qid"), col("fused_rank"))
  }

  private lazy val rrfFusionSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
       |           FROM embeddings WHERE vec_id % 100 = 0),
       |dsc AS (SELECT q.qid, e.vec_id AS cand,
       |         ROUND(${dotSql("e.embedding", "q.qv")} /
       |           (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})), 6) AS cos
       |        FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |d10 AS (SELECT qid, cand, rk_dense FROM (
       |          SELECT qid, cand, ROW_NUMBER() OVER (
       |            PARTITION BY qid ORDER BY cos DESC, cand) AS rk_dense
       |          FROM dsc) WHERE rk_dense <= 10),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |        WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (SELECT doc_id,
       |          unnest([array_to_string(list_slice(t, i, i+2), ' ')
       |                  for i in generate_series(1, len(t) - 2)]) AS s
       |        FROM tok),
       |shd AS (SELECT DISTINCT doc_id, s FROM sh0),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
       |qsh AS (SELECT q.qid, shd.s FROM shd JOIN q ON shd.doc_id = q.qid),
       |ints AS (SELECT qsh.qid, shd.doc_id AS cand, COUNT(*) AS inter
       |         FROM qsh JOIN shd ON shd.s = qsh.s AND shd.doc_id <> qsh.qid
       |         GROUP BY qsh.qid, shd.doc_id),
       |l10 AS (SELECT qid, cand, rk_lex FROM (
       |          SELECT i.qid, i.cand, ROW_NUMBER() OVER (
       |            PARTITION BY i.qid
       |            ORDER BY (1000000 * i.inter) // (sq.n + sc.n - i.inter) DESC,
       |                     i.cand) AS rk_lex
       |          FROM ints i JOIN sz sq ON sq.doc_id = i.qid
       |                      JOIN sz sc ON sc.doc_id = i.cand)
       |        WHERE rk_lex <= 10),
       |fused AS (SELECT COALESCE(d.qid, l.qid) AS qid,
       |           COALESCE(d.cand, l.cand) AS cand,
       |           COALESCE(1000000 // (60 + d.rk_dense), 0)
       |             + COALESCE(1000000 // (60 + l.rk_lex), 0) AS rrf,
       |           COALESCE(d.rk_dense, 0) AS rk_dense,
       |           COALESCE(l.rk_lex, 0) AS rk_lex
       |          FROM d10 d FULL OUTER JOIN l10 l
       |            ON d.qid = l.qid AND d.cand = l.cand)
       |SELECT qid, CAST(fused_rank AS INT) AS fused_rank, cand,
       |       CAST(rrf AS BIGINT) AS rrf,
       |       CAST(rk_dense AS BIGINT) AS rk_dense,
       |       CAST(rk_lex AS BIGINT) AS rk_lex
       |FROM (SELECT qid, cand, rrf, rk_dense, rk_lex,
       |        ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY rrf DESC, cand) AS fused_rank FROM fused)
       |WHERE fused_rank <= 5 ORDER BY qid, fused_rank""".stripMargin

  /** q186: JOHNSON–LINDENSTRAUSS projection + distortion audit — the
    * dimensionality-reduction step an embedding pipeline runs before
    * indexing (64 → 16 dims, a 4× storage/FLOP cut for every ANN
    * family above): a DETERMINISTIC ±1 projection matrix whose sign
    * is the parity of a QUADRATIC mod-prime mix of the flat slot
    * index s = j·64 + i — h = ((s·1103515245 + 12345)² + s·2654435761)
    * mod (2³¹−1) — all intermediates BIGINT-safe, so both engines
    * compute the same integer and the "random" matrix is reproducible
    * anywhere. The squaring step is load-bearing: a LINEAR hash's
    * parity (the pre-round-14 i·31 + j·17 was the extreme case —
    * rank 1) leaves the 16 rows heavily correlated and the distortion
    * audit void; the quadratic mix measures at true-random quality
    * (row-dot RMS ≈ 6.7 vs ≈ 8 for i.i.d. signs; full rank 16), which
    * VectorServingSpec pins directly (rank check + concentration
    * bound), then
    * per adjacent-id pair the squared-distance distortion
    * ‖Pa−Pb‖² / (16·‖a−b‖²), whose concentration near 1 is the JL
    * lemma the audit certifies on this corpus. All vector math is the
    * proven sequential-fold pairing (dotd / list_sum), so both
    * engines produce bit-identical doubles before the one final
    * round(6).
    *
    * Scale shape: projection is map-only codegen over the scan; the
    * pair join is a self-join on vec_id+1 (sort-free, id-keyed); no
    * state, no skew. */
  /** The q186 sign hash, shared VERBATIM between the Spark query and
    * the DuckDB oracle (same spelling works in both dialects): the
    * flat slot index s = j·64 + i runs through one LCG step, a
    * squaring, and an additive decorrelator, all mod the Mersenne
    * prime 2³¹−1. Magnitude audit for BOTH engines' BIGINT paths
    * (DuckDB errors on int64 overflow rather than wrapping, so this
    * is a correctness bound, not a style one): s ≤ 1023 keeps
    * s·1103515245 < 2⁴¹; the squared residue is < (2³¹)² < 2⁶³ − 1;
    * s·2654435761 < 2⁴². */
  private[graft] val jlHashExpr =
    "(((CAST(j AS BIGINT) * 64 + i) * 1103515245 + 12345) % 2147483647)"
  private[graft] val jlSignExpr =
    s"(1 - 2 * ((($jlHashExpr * $jlHashExpr + " +
      "(CAST(j AS BIGINT) * 64 + i) * 2654435761) % 2147483647) % 2))"

  /** Sign matrix materialized test-side for the rank check — must
    * mirror [[jlSignExpr]] exactly. */
  private[graft] def jlSign(i: Int, j: Int): Int = {
    val s = j.toLong * 64L + i.toLong
    val h = (s * 1103515245L + 12345L) % 2147483647L
    (1L - 2L * (((h * h + s * 2654435761L) % 2147483647L) % 2L)).toInt
  }

  def jlProjection(s: SparkSession, d: String): DataFrame = {
    val projExpr =
      "transform(sequence(0, 15), j -> aggregate(sequence(0, 63), " +
        "CAST(0.0 AS DOUBLE), (acc, i) -> acc + " +
        "CAST(element_at(embedding, i + 1) AS DOUBLE) * " +
        s"CAST($jlSignExpr AS DOUBLE)))"
    val p = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), expr(projExpr).as("proj"))
    val a = p.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("proj").as("pa"))
    val b = p.select((col("vec_id") - 1).as("vec_a"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("proj").as("pb"))
    a.join(b, Seq("vec_a"))
      .withColumn("d2o", dotd(col("ea"), col("ea"))
        - lit(2.0) * dotd(col("ea"), col("eb")) + dotd(col("eb"), col("eb")))
      .withColumn("d2p", dotd(col("pa"), col("pa"))
        - lit(2.0) * dotd(col("pa"), col("pb")) + dotd(col("pb"), col("pb")))
      .filter(col("d2o") > 0)
      .select(col("vec_a"), col("vec_b"),
        round(col("d2o"), 6).as("dist2_orig"),
        round(col("d2p"), 6).as("dist2_proj"),
        round(col("d2p") / (col("d2o") * 16), 6).as("distortion"))
      .orderBy(col("vec_a"))
  }

  private lazy val jlProjectionSql = {
    def dot16(a: String, b: String): String =
      s"list_sum([$a[i]*$b[i] for i in generate_series(1,16)])"
    val inner = "list_sum([CAST(list_extract(embedding, i+1) AS DOUBLE) * " +
      s"CAST($jlSignExpr AS DOUBLE) for i in range(0, 64)])"
    s"""WITH p AS (SELECT vec_id, embedding,
       |    [$inner for j in range(0, 16)] AS proj FROM embeddings),
       |jn AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         a.embedding AS ea, b.embedding AS eb,
       |         a.proj AS pa, b.proj AS pb
       |       FROM p a JOIN p b ON b.vec_id = a.vec_id + 1),
       |dd AS (SELECT vec_a, vec_b,
       |    ${dotSql("ea", "ea")} - 2.0*${dotSql("ea", "eb")} + ${dotSql("eb", "eb")} AS d2o,
       |    ${dot16("pa", "pa")} - 2.0*${dot16("pa", "pb")} + ${dot16("pb", "pb")} AS d2p
       |  FROM jn)
       |SELECT vec_a, vec_b, round(d2o, 6) AS dist2_orig,
       |       round(d2p, 6) AS dist2_proj,
       |       round(d2p / (d2o * 16), 6) AS distortion
       |FROM dd WHERE d2o > 0 ORDER BY vec_a""".stripMargin
  }

  /** q192: binary-quantization (BQ) Hamming serving tier + recall
    * audit. Each 64-dim float vector collapses to its two 32-bit sign
    * words (graft.functions.SignPack, codegen'd) — 8 bytes total, a
    * 32× compression over float32. Candidate scoring is
    * bit_count(xor(w, qw)) per word pair: two codegen'd instructions
    * per candidate, the kernel modern vector stores (FAISS binary
    * indexes, pgvector bit columns) serve billion-scale shortlists
    * with. The query grades BOTH operating points a deployment must
    * choose between: direct Hamming top-10 (recall_direct) and the
    * standard 5× oversample-then-float-rerank shortlist of 50
    * (recall_rerank), against brute-force cosine top-10 ground truth
    * on the q109 protocol (queries = 1% of ids, eval-time-only
    * crossJoin; the production path scans only the 8-byte words).
    *
    * Scale shape: the packed table is 16 bytes/row wide (vec_id +
    * two words) — at 10^10 vectors that is 160 GB, broadcastable per
    * executor where the float table (2.5 TB) is not; the Hamming scan
    * is map-only over it. Ranking ties (Hamming is integer-valued in
    * 0..64) break by vec_id in both engines, so the shortlist and the
    * recall counts are bit-stable. */
  def bqHammingRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      signPack(col("embedding"), 0, 32).as("w0"),
      signPack(col("embedding"), 32, 32).as("w1"))
    val q = base.filter(evalQueryPred(s)).select(
      col("vec_id").as("qid"), col("embedding").as("qv"),
      col("w0").as("qw0"), col("w1").as("qw1"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(cosineSimFast(col("embedding"), col("qv")), 6).as("cos"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).as("hamm"))
    val wc = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val wh = Window.partitionBy(col("qid")).orderBy(col("hamm").asc, col("vec_id"))
    // both rankings come from the one scored frame: a single shuffle
    // on qid feeds both window sorts and the final aggregate
    scored
      .withColumn("rk_cos", row_number().over(wc))
      .withColumn("rk_ham", row_number().over(wh))
      .groupBy(col("qid"))
      .agg(
        sum(when(col("rk_ham") <= 10 && col("rk_cos") <= 10, 1L).otherwise(0L)).as("direct_hits"),
        sum(when(col("rk_ham") <= 50 && col("rk_cos") <= 10, 1L).otherwise(0L)).as("rerank_hits"))
      .select(col("qid"), col("direct_hits"), col("rerank_hits"),
        (col("direct_hits").cast("double") / 10).as("recall_direct"),
        (col("rerank_hits").cast("double") / 10).as("recall_rerank"))
      .orderBy(col("qid"))
  }

  /** DuckDB twin of SignPack's 32-bit word: signs of list slice
    * [from, from+31] (1-based, inclusive) packed little-endian. */
  private def signPackSql(v: String, from: Int): String =
    s"CAST(list_sum(list_transform($v[$from:${from + 31}], " +
      s"(x, i) -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) << (i - 1) " +
      s"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  private lazy val bqHammingRecallSql =
    s"""WITH b AS (SELECT vec_id, embedding,
       |        ${signPackSql("embedding", 1)} AS w0,
       |        ${signPackSql("embedding", 33)} AS w1
       |      FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv, w0 AS qw0, w1 AS qw1
       |      FROM b WHERE vec_id % 100 = 0),
       |sc AS (SELECT q.qid, b.vec_id,
       |        ${cosSql("b.embedding", "q.qv")} AS cos,
       |        bit_count(xor(b.w0, q.qw0)) + bit_count(xor(b.w1, q.qw1)) AS hamm
       |       FROM b, q WHERE b.vec_id <> q.qid),
       |r AS (SELECT qid,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk_cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamm ASC, vec_id) AS rk_ham
       |       FROM sc)
       |SELECT qid,
       |       CAST(SUM(CASE WHEN rk_ham <= 10 AND rk_cos <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS direct_hits,
       |       CAST(SUM(CASE WHEN rk_ham <= 50 AND rk_cos <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS rerank_hits,
       |       CAST(SUM(CASE WHEN rk_ham <= 10 AND rk_cos <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_direct,
       |       CAST(SUM(CASE WHEN rk_ham <= 50 AND rk_cos <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_rerank
       |FROM r GROUP BY qid ORDER BY qid""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q192_bq_hamming_recall", bqHammingRecall, Some(bqHammingRecallSql),
      "binary-quantization Hamming tier: 2x32-bit sign words, direct@10 + 5x-oversample rerank recall"),
    QueryDef("q186_jl_projection", jlProjection, Some(jlProjectionSql),
      "Johnson-Lindenstrauss 64->16 projection with pairwise distortion audit"),
    QueryDef("q182_rrf_fusion", rrfFusion, Some(rrfFusionSql),
      "reciprocal-rank-fusion hybrid retrieval: dense cosine + lexical Jaccard lists, k=60"),
    QueryDef("q148_mmr_diverse", mmrDiverse, Some(mmrDiverseSql),
      "maximal-marginal-relevance diverse top-5 (SIGIR'98): 5-round unroll, redundancy-penalized"),
    QueryDef("q81_label_top_norm", labelTopNorm, Some(labelTopNormSql),
      "per-key bounded top-k via the custom TopKPerKey operator stack"),
    QueryDef("q82_embedding_quant", embeddingQuant, Some(embeddingQuantSql),
      "int8 scalar quantization + reconstruction error (map-only)"),
    QueryDef("q50_cosine_adjacent", cosineAdjacent, Some(cosineAdjacentSql), "B29 cosine similarity"),
    QueryDef("q67_label_centroids", labelCentroids, Some(labelCentroidsSql), "per-label centroids (IVF training step)"),
    QueryDef("q51_topk_similar", topkSimilar, Some(topkSimilarSql), "B30 brute-force top-k ANN baseline"),
    QueryDef("q52_ann_lsh", annLsh, Some(annLshSql), "B31 LSH-bucketed ANN"),
    QueryDef("q109_ann_recall", annRecall, Some(annRecallSql),
      "recall@10 of the LSH candidate set vs brute-force cosine top-10, per sampled query"),
    QueryDef("q118_hard_negatives", hardNegatives, Some(hardNegativesSql),
      "hard-negative mining: top-2 cross-label cosine neighbors per vector (q112's blocking)"),
    QueryDef("q112_ann_knn_join", annKnnJoin, Some(annKnnJoinSql),
      "IVF-blocked kNN self-join: top-3 cosine neighbors per vector inside its learned cell"),
    QueryDef("q87_ann_ivf_cells", annIvfCells, Some(annIvfCellsSql),
      "B31 IVF ANN: deterministic centroid quantizer, probed-cell re-rank"),
    QueryDef("q152_ivf_serving_recall", ivfServingRecall, Some(ivfServingRecallSql),
      "B92 serving-grade IVF operating point: nProbe=7, mean recall@10 >= 0.8 pinned"),
    QueryDef("q170_graph_ann_recall", graphAnnRecall, Some(graphAnnRecallSql),
      "graph-ANN (NSW) serving point: M=8 blocked-build graph, ef=24 4-hop beam, recall@10 vs brute force"),
    QueryDef("q175_hnsw_recall", hnswRecall, Some(hnswRecallSql),
      "hierarchical graph-ANN (HNSW 2-level): entry-layer routing beam seeds the ef=24 4-hop base beam"),
    QueryDef("q176_graph_delta_edges", graphDeltaEdges, Some(graphDeltaEdgesSql),
      "graph-ANN delta maintenance: HNSW insert path attaches a 1% batch to the frozen old-slice graph"),
    QueryDef("q177_graph_delta_prune", graphDeltaPrune, Some(graphDeltaPruneSql),
      "HNSW reverse-edge pruning: affected nodes re-cut to M best among old edges + adopted newcomers"),
    QueryDef("q156_ivf_delta_assign", ivfDeltaAssign, Some(ivfDeltaAssignSql),
      "B96 IVF index delta maintenance: map-only assignment of an arriving batch + drift report"),
    QueryDef("q208_lloyd_train", lloydTrainReport, Some(lloydTrainReportSql),
      "trained quantizer under the oracle: fixed-2-iteration Lloyd k-means trajectory + inertia"),
    QueryDef("q136_multiprobe_ann", pqRerankAnnWide, Some(pqRerankAnnWideSql),
      "B76 serving stack at multiprobe breadth 2 (recall/latency knob, oracle-pinned)"),
    QueryDef("q134_pq_rerank_ann", pqRerankAnn, Some(pqRerankAnnSql),
      "ANN serving stack: LSH super-bucket candidates re-ranked by PQ asymmetric distance"),
    QueryDef("q126_pq_codes", pqCodes, Some(pqCodesSql),
      "product-quantization encoding: 8 subspace codes per vector (64 floats -> 8 small ints)"),
    QueryDef("q127_pq_adc_topk", pqAdcTopk, Some(pqAdcTopkSql),
      "PQ asymmetric-distance top-k: query scans codes + a 80-entry lookup table, never raw vectors"),
    QueryDef("q53_binary_meta", binaryMeta, Some(binaryMetaSql), "multimodal binary column"),
    QueryDef("q137_semantic_dedup", semanticDedup, Some(semanticDedupSql),
      "SemDeDup-style embedding dedup: blocked cosine pairs -> star-fixpoint components -> min-id survivor"),
    QueryDef("q55_embedding_neardup", embeddingNearDup, Some(embeddingNearDupSql),
      "embedding-cosine near-dup"))
}
