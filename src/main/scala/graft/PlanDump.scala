package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dumps formatted physical plans in Bench's session posture
  * ([[Session.query]]).
  *
  * With no arguments it writes PLANS.md: representative queries at
  * sf0.001 — reviewable evidence that filters push down, dimensions
  * broadcast, top-k avoids global sorts, and the hot paths stay inside
  * whole-stage codegen. Regenerate: sbt "runMain graft.PlanDump".
  *
  * With `<outDir> <suffix> <q1,q2,...|all>` it writes one file per
  * named query, `<outDir>/<q>_<suffix>.txt`, so a measurement loop can
  * capture the exact plans it timed (suffix "before" | "after"; the
  * corpus is SPARK_GRAFT_SF_DIR, default sf0.001 — plan SHAPE is
  * SF-independent, only stats differ). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length == 3,
      "usage: PlanDump [<outDir> <suffix> <q1,q2,...|all>]")
    val spark = Session.start(Session.query(Session.cores))
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    args match {
      case Array(outDir, suffix, list) =>
        perQuery(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d), outDir, suffix, list)
      case _ => plansMd(spark, d)
    }
    CheckpointMemo.clear()
    spark.stop()
  }

  private def perQuery(spark: SparkSession, d: String, outDir: String, suffix: String,
      list: String): Unit = {
    val names =
      if (list == "all") SparkEntry.queries.keys.toSeq.sorted
      else list.split(',').toSeq
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val plan = fn(spark, d).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
  }

  private def plansMd(spark: SparkSession, d: String): Unit = {
    val picks = Seq(
      "q02_filter_scan" -> "B2: predicates reach the parquet scan (PushedFilters)",
      "q04_revenue_by_nation" -> "B4: dimensions broadcast, fact join shuffles once",
      "q17_topk" -> "B16: TakeOrderedAndProject, no global sort",
      "q33_minhash_sig" -> "B27: one codegen'd graft_minhash pass, no exchange before the sort",
      "q51_topk_similar" -> "B30: codegen'd graft_dot inside WholeStageCodegen",
      "q60_tumbling_hourly" -> "B38: single partial/final window aggregate",
      "q58_repetition_filter" -> "curation: map-only graft_bigram_stats, no bigram shuffle",
      "q65_rolling_revenue" -> "B15: RANGE frame over a daily pre-aggregate",
      "q67_label_centroids" -> "IVF training: (label,dim)-keyed partial aggregation",
      "q38_tfidf" -> "B34: df as vocab-bounded hash agg, window only over the projected docs",
      "q40_langid" -> "lang-ID: one graft_stopword_counts pass scoring all five profiles",
      "q80_sequence_packing" -> "typed flatMapSortedGroups: per-group streaming pack state",
      "q81_label_top_norm" -> "custom operator stack: TopKPerKeyExec after one key exchange, NO per-group sort",
      "q85_source_mixing" -> "domain mixing: bucketed distributed prefix sum, offsets broadcast, no whole-source window",
      "q87_ann_ivf_cells" -> "IVF ANN: 10-row centroid index broadcast, cell-count-sized argmin windows, probed-cell re-rank",
      "q84_curate_and_pack" -> "end-to-end assembly (suite's most expensive): the clustering fixpoint sits behind a checkpoint (Scan ExistingRDD), everything downstream is one declarative plan",
      "q86_chunk_dedup" -> "sub-document dedup: only (md5, doc_id, pos, n_tok) shuffles, never chunk text",
      "q91_price_histogram" -> "histogram: 2-column scan, partial agg over <=10 bins before the exchange",
      "q92_salted_revenue" -> "salted skew join: (key, salt) join keys spread a hot key 7 ways (salt = pmod(l_linenumber-1,7), every replica reachable), salt collapsed by the aggregate; shuffle_hash pinned on the replicated side (merge join would sort the 7x-inflated side — 8-20x slower at 10x scale)",
      "q93_heavy_hitters" -> "two-pass heavy hitters: ObjectHashAggregate partials for the MG sketch, candidates broadcast back",
      "q94_bm25_rank" -> "BM25: df/stats broadcast, only the 3-term tf slice flows; TakeOrderedAndProject top-10",
      "q97_pagerank" -> "fixed-iteration PageRank: out-degrees folded into the checkpointed edge list (Scan ExistingRDD), each round ONE broadcast join + one dst-key shuffle, no sort-merge anywhere",
      "q102_corpus_shards" -> "export sharding: bucketed byte prefix sum, langs-x-buckets offset table broadcast, intra-bucket windows only — no whole-language window anywhere",
      "q104_jaccard_join" -> "exact similarity join: per-doc rarest-first arrays materialized ONCE (Scan ExistingRDD), skinny (doc_id,n,shingle) prefix self-join, candidate distinct BEFORE the verify join-backs, arrays move exactly twice keyed on doc_id, shuffle_hash pinned on every stats-less join",
      "q105_simhash_join" -> "SimHash near-dup join: signature table materialized ONCE (Scan ExistingRDD), 4-way band explode, 16-bit band equi-join (shuffle_hash pinned), exact bit_count(xor) verify on the joined row",
      "q106_shingle_novelty" -> "B48 novelty: ONE shuffle keyed on the shingle (partition-only window min), doc-grain aggregate after — no self-join, no second corpus pass",
      "q107_contamination_ratio" -> "B49 contamination deciles: single pass over the shingle explode — broadcast LEFT join against the probe preserves cardinality so total+shared counts share one aggregate; deciles integer-exact",
      "q109_ann_recall" -> "B51 ANN recall eval: query sample broadcast, rank + candidate-count folded into ONE qid-keyed window + ONE aggregate (no per-metric join)",
      "q108_lang_vocab_overlap" -> "B50 vocab overlap: word-keyed self-join co-partitioned with the distinct that feeds it (no extra exchange), per-lang sizes broadcast",
      "q110_sketch_percentiles" -> "B53 quantile sketch: ObjectHashAggregate partials for the log-histogram (map-side O(buckets) state), no sort anywhere in the plan",
      "q120_winnow_overlap" -> "B61 winnowing overlap: fingerprint frame materialized ONCE (Scan ExistingRDD), df-cap window and pair self-join share the fp exchange, join-backs move only (doc_id, int) pairs",
      "q121_tfidf_cosine_join" -> "B62 weighted cosine: memoized integer-weight frame (Scan ExistingRDD), shingle-keyed pair self-join with shuffle_hash pinned, norm join-backs skinny on doc_id",
      "q124_delta_dedup" -> "B66 incremental dedup: each candidate grain resolved in ONE grouped pass per bucket key (max(is_old) + bounded collect_set) — the old corpus is never row-joined against the batch",
      "q126_pq_codes" -> "B69 PQ encoding: 80-row codebook broadcast, map-side cross, skew-free (vec_id, m)-partitioned argmin windows of exactly 10 rows",
      "q128_incremental_refresh" -> "B70 refresh composition: delta gate, quota mixing and greedy packing chained in one declarative plan; every stage's exchange feeds the next",
      "q131_containment_join" -> "B73 containment join: one-sided prefix explode against the full shingle side (shared memoized doc frame), skinny ordered-pair candidates distinct before the array join-backs",
      "q132_bpe_merges" -> "B74 BPE unroll: per round one vocabulary-bounded pair-count aggregate, a 1-row winner broadcast, a map-only graft_bpe_merge pass (native codegen byte scan) — three rounds, one plan, no driver loop",
      "q133_survivor_policy" -> "B75 survivor policy: two memoized frames (labels, quality) joined skinny, cluster-partitioned argmax window, cluster-grain rollup",
      "q135_bpe_delta_round" -> "B74 delta round: counts1 + gated before/after counts meet in ONE grouped sum on pair; the affected gate is a map-side graft_bpe_merge predicate on the scan — the old corpus pair table is never re-derived from unaffected docs",
      "q136_multiprobe_ann" -> "B76 multiprobe serving: breadth-2 bucket gate is still a broadcast semi-filter ahead of the ADC estimate — widening the probe changes candidate count, never plan shape",
      "q138_bpe_encode" -> "B78 tokenizer application: three 1-row winner broadcasts feeding map-only graft_bpe_merge passes with doc identity riding along, one per-source aggregate at the end",
      "q139_dup_span_coverage" -> "B79 substring-dedup audit: gram-keyed dup count + shuffle_hash join back, then doc-partitioned island-merge windows — no self-join, no global window",
      "q140_dsir_weights" -> "B80 DSIR weights: 16-key bucket aggregate collapses to a 1-row broadcast model, scoring is one map-only graft_bigram_buckets pass + doc-local fold",
      "q141_vocab_growth" -> "B81 Heaps curve: bigram types reduce to first-doc, 10-row cutoff frame broadcast-nested-loops against type- and doc-grain frames only",
      "q142_zipf_fit" -> "B82 Zipf fit: vocab-bounded count aggregate, TakeOrderedAndProject top-100, OLS sums as fixed-order folds on a 1-row array — no global window",
      "q143_substring_rewrite" -> "B83 substring rewrite: q139's gram exchange + one min-aggregate on the same key, islands doc-partitioned, reassembly a map-only filter against the doc's own interval array",
      "q144_lsh_operating_point" -> "B84 LSH eval: ground truth and candidates both read the memoized rep-grain shingle frame (Scan ExistingRDD), three 1-row count aggregates broadcast into the final row",
      "q145_dsir_select" -> "B85 DSIR selection: q140's broadcast-model plan + one source-partitioned top-k window over doc-grain rows",
      "q147_kn_bigram_lm" -> "B86 Kneser-Ney LM: one vocab-bounded bigram aggregate checkpointed per call (Scan ExistingRDD), marginals as w1- and w2-keyed windows over it (no join-back), type total a 1-row broadcast, probability map-only",
      "q148_mmr_diverse" -> "B87 MMR: candidate frame checkpointed once (Scan ExistingRDD), each round a map-only score + TakeOrdered(1), selected set a 1-row broadcast",
      "q149_split_leakage" -> "B89 split leakage: banded candidate generation shared with q34, two skinny shuffle-hash join-backs of (doc_id, split), 6-row aggregate",
      "q150_degenerate_runs" -> "B90 degenerate runs: ONE map-only struct-fold projection — no explode, no window, nothing leaves the row",
      "q112_ann_knn_join" -> "B55 kNN self-join after the 100x fix: neighbor side collapsed to one row per distinct embedding (the dedup-first guard), block join + vec_id-partitioned top-3 window",
      "q151_cluster_split" -> "B91 cluster splits: memoized fixpoint labels (Scan ExistingRDD) + skinny left join for the split key + the 6-row matrix aggregate",
      "q152_ivf_serving_recall" -> "B92 serving operating point: 10-row centroid index checkpoint-broadcast, skew-free argmin windows, probe membership a broadcast left join, metrics ONE qid-keyed window + aggregate (q109 shape)",
      "q153_bpe_train" -> "B93 BPE trainer: the graded result is the driver-resident merge table (LocalTableScan) — the 30 rounds behind it each ran ONE map-only corpus pass (deltas ride an accumulator, winner is a driver argmin; see SCALING.md 19.4s -> 2.2s)",
      "q154_soft_dedup_weights" -> "B94 soft dedup: memoized fixpoint labels (Scan ExistingRDD) + one cluster-keyed size aggregate + skinny shuffle_hash join-back; weights map-only",
      "q155_indomain_ppl" -> "B95 in-domain ppl: three vocab-bounded target-slice aggregates broadcast back over the corpus bigram explode, one doc-keyed exact-decimal log-sum — no corpus-grain shuffle but the final aggregate",
      "q156_ivf_delta_assign" -> "B96 index delta maintenance: old-slice centroid aggregate broadcast, one map-side cross + skew-free argmin windows over old+new, 10-row report aggregate",
      "q157_token_waterfill" -> "B97 waterfilling: source-grain prefix-sum windows (report grain), 1-row cut broadcast, integer-exact allocations map-only",
      "q158_decon_retention" -> "B98 retention report: broadcast probe semi-shape flags + one skinny shuffle_hash left join onto doc-grain stats + source rollup",
      "q159_simhash_operating_point" -> "B99 SimHash operating point: both pair sets read memoized rep-grain cores (Scan ExistingRDD), one left-semi + three 1-row aggregates",
      "q160_vocab_coverage" -> "B100 vocab coverage: type-grain count aggregate, top-10k TakeOrderedAndProject cut, rank/cumsum windows ONLY over the bounded candidate frame, 6-row report join",
      "q161_quality_dup_interaction" -> "B101 interaction: two memoized frames (Scan ExistingRDD) joined skinny + a 4-row quartile rollup — zero new corpus passes",
      "q162_length_drift_ks" -> "B102 KS drift: (source,len)-grain counts, dense cross at bounded grain, per-source cumsum windows, global CDF via sum-of-cumsums — no unpartitioned window",
      "q163_neardup_sim_histogram" -> "B103 similarity histogram: band-bucketed pairs, two skinny shingle join-backs (q104 ints pattern), integer bins, <=10-row rollup",
      "q164_bpe_fertility" -> "B104 fertility: memoized trained merges (LocalTableScan) folded into ONE 30-deep composed native-expression projection — map-only to the source rollup",
      "q165_dedup_degree_dist" -> "B105 degree distribution: band-bucketed pairs, one doc-keyed degree aggregate, <=7-row rollup, zero-degree row via broadcast total",
      "q166_image_neardup" -> "B106 perceptual image dedup: graft_dhash64 scan-side (payloads never shuffle — only (id, band, 8-byte hash) rows do), df-capped 16-bit band buckets, shuffle_hash band equi-join, exact bit_count verify on the joined row",
      "q170_graph_ann_recall" -> "B109 graph-ANN serving point: rep-grain blocked graph build (memoized), broadcast-frontier beam hops, shuffle_hash seen-join against the brute-force truth — no cartesian, no sort-merge",
      "q171_wikitext_categories" -> "A16 categorylinks: scan -> codegen regexp_extract_all + array transform -> explode -> low-cardinality hash agg (only (category,count) shuffles)",
      "q172_wikitext_templates" -> "A16 templatelinks: same map-only extract shape, parser functions filtered in the array transform before the explode",
      "q178_wikitext_redirects" -> "B113 redirect resolution: map-only content-start extract, then two broadcast-able dim joins on the title key (page existence + redirect self-join) — no window, no cartesian",
      "q181_cdc_chunks" -> "B114 CDC chunking: boundaries/segments/md5 all per-row codegen list work — ONLY (md5, n_tok) pairs reach the exchange, never text; skew-free high-cardinality rollup",
      "q182_rrf_fusion" -> "B116 RRF hybrid retrieval: both list sources at rep grain (distinct-embedding cross with broadcast queries; lexical over the memoized jaccard_docs frame), exact 11x11 member expansion, fusion join carries rank pairs only",
      "q184_scd2_intervals" -> "B118 SCD2: lag + running-sum islands and the closing lead() all share ONE user-keyed sort — a single exchange however large the log",
      "q186_jl_projection" -> "B121 JL projection: the 16-dim projection is map-only codegen over the scan; the distortion pair join is id-keyed (vec_id+1), no sort, no state",
      "q206_xml_ingest" -> "B141 graded XML ingest: generator + from_xml + explode-flatten are ONE map-only projection (the dump-ingest plan A1-A8 run on real files); the only exchange is the output sort",
      "q208_lloyd_train" -> "B143 Lloyd training: each iteration = k-row centroid broadcast + map-side scoring + vec_id-partitioned argmin window + (k x dim)-group mean; the k-row full outer pinned shuffle_hash (broadcast cannot run FULL OUTER)",
      "q210_stratified_split" -> "B145 stratified split: one (source,lang)-keyed exchange shared by the rank window and the count window, quota CASE map-only, <=3x|strata| rollup",
      "q211_shard_rebalance" -> "B146 shard rebalance: BOTH placement schemes map-only (array_max over a 16/17-element transform — no explode, no window); nothing shuffles until the 2-row aggregate")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (sf0.001, regenerate via `sbt \"runMain graft.PlanDump\"`)\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, d)
      val plan = df.queryExecution.explainString(FormattedMode)
      sb.append(s"\n## $name — $why\n\n```\n$plan```\n")
    }
    // iterative family (q76/q79/q84): the per-round plans live BEHIND
    // eager checkpoints, so the graded queries' own plans show only
    // `Scan ExistingRDD` — dump the round plan the fixpoint actually
    // executes. The evidence to read: round 2 references round 1 four
    // times (union + propagate + both pointer-jump sides) and the
    // physical plan computes it ONCE, wiring ReusedExchange for the
    // other three; every round join is hash/broadcast, never
    // sort-merge (CurationSpec asserts both properties).
    // AQE off for this one read: the static planner applies
    // ReuseExchange up front, where adaptive plans only surface reuse
    // in the runtime-final plan
    val unrolled = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      ops.TextOps.fixpointUnrolledPlan(spark, d)
        .queryExecution.explainString(FormattedMode)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    sb.append("\n## fixpoint internals (q76/q79/q84) — the unrolled " +
      "double-round clustering plan: one job runs both propagation " +
      "rounds, round 1 computed once + ReusedExchange\n\n```\n" +
      unrolled + "```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }
}
