package graft

/** The reviewed exception list for [[tools.PlanAudit]]: every query
  * whose plan deliberately carries a flagged scale shape, with the
  * justification that bounds it at 100 TB. Keep justifications
  * specific — "small" is not a bound; "k rows by construction" is.
  * Populated by running the audit and reviewing each hit; a hit not
  * listed here fails the gate (`PlanGateSpec`, and `PlanAudit`'s exit
  * code), and so does an entry that no longer matches a hit of its
  * query (a stale review must not pre-approve a shape the query may
  * grow back).
  *
  * The plan-shape categories (PLANS.md "Plan audit" reviews):
  *   1. one-row broadcast stat frames through BNLJ — the canonical
  *      corpus-constant attach, scale-invariant;
  *   2. exact ANN/bitext oracle baselines — each has a banded/celled
  *      scale path (lshTopK / ivfTopK / bitextMineLsh);
  *   3. one-row global aggregates — aggregation TO one row necessarily
  *      ends in one partition;
  *   4. bounded-frame shapes (k-heap entries, budget-sized schedules);
  *   5. hint-forced broadcasts bounded by contract ([[hintedBroadcasts]]);
  *   6. reviewed `multi-scan` queries ([[multiScan]]).
  */
object PlanAuditExceptions {
  private val Bnlj = "BroadcastNestedLoopJoin"
  private val SinglePart = "Exchange SinglePartition"
  private val MultiScan = "multi-scan"

  private val statFrame =
    "one-row broadcast stat frame (corpus-level constant attach, " +
      "scale-invariant)"
  private val statFrameAgg =
    "the 1-row global aggregate feeding the broadcast stat frame"
  private val oneRowAgg =
    "aggregation to one row necessarily ends in one partition"

  /** C1: crossJoin(broadcast(one-row stats)) + the 1-row aggregate
    * that produces it. */
  private val oneRowStatQueries = Seq("apply_truncates", "bm25_search",
    "class_terms", "collocations", "curriculum_shards",
    "doc_tfidf", "dsir_select", "dsir_weights", "funnel_windowed",
    "hybrid_rrf", "lm_score", "nb_classify", "quantile_gate",
    // quantile_pipeline chains gate -> winsorize over ONE shared
    // domain-hinted stat scan; it carries the same C1 shape as its
    // sibling quantile_gate (reviewed: the BNLJ build is the one-row
    // gate-threshold frame, the SinglePartition is its 1-row aggregate)
    "quantile_pipeline",
    "temperature_sample", "time_decay_score", "token_budget_sample",
    "winsorize_chars")

  /** C2: exact spellings kept oracle-checkable; the scale path is the
    * named banded/celled variant. */
  private val exactBaselines = Map(
    "ann_cosine_topk" -> "exact brute-force oracle baseline; scale path lshTopK/ivfTopK",
    "ann_ivf_topk" -> "exact rescore leg over probed cells; cell lists are k-bounded",
    "ann_matryoshka" -> "coarse leg over prefix dims, exact by contract; scale path ivfTopK",
    "ann_pq_topk" -> "query-table leg: k codebook tables per query, corpus ships codes only",
    "ann_quantized" -> "exact rescore over SQ8 codes, oracle baseline",
    "bitext_mine" -> "exact oracle baseline; scale path bitextMineLsh (oracle-gated)",
    "contrastive_pairs" -> "8-query fixture side broadcast; positives/negatives are k-bounded")

  /** C3: one-row global aggregates. */
  private val oneRowAggQueries =
    Seq("dbt_run", "drift_report", "funnel", "not_in_subquery",
      "row_counts", "scalar_subquery")

  private def gb(leaf: String) = s"grouped-agg-broadcast($leaf)"
  private def ub(leaf: String) = s"unbounded-broadcast($leaf)"
  private val Rel = "LogicalRelation"
  private val Mem = "InMemoryRelation"
  private val Loc = "LocalRelation"

  /** C5 (hint-forced broadcasts, seen in the optimized plan so AQE
    * cannot hide them): every `broadcast()` hint whose build is bounded by
    * something the plan walker cannot prove — a contract, a literal
    * domain, or a runtime measurement. Three hinted sites the review
    * could NOT bound were fixed instead of listed (q3_join's
    * corpus-proportional customer side, packSequences/packBinsGreedy's
    * corpus/bucket-sized offset frames — hints removed, size-based
    * planning decides). */
  private val queryFixture =
    "query-side broadcast by operator contract: the probe/request " +
      "batch (k rows), never the corpus; the corpus leg stays " +
      "exchange-free"
  private val adaptiveSmall =
    "adaptive small branch: broadcast taken only after an " +
      "approx_count_distinct pre-pass estimates the histogram " +
      "cardinality <= 10^6 at plan time (the branches are " +
      "value-identical, law-tested); past the limit the " +
      "(group,value)-keyed shuffle join plans instead " +
      "(Quantiles guard, measured with one hot group at 10^7 " +
      "distinct values)"
  private val hintedBroadcasts: Map[String, Map[String, String]] = Map(
    "ann_cosine_topk" -> Map(ub(Rel) -> queryFixture),
    "ann_lsh_topk" -> Map(ub(Rel) -> queryFixture),
    "ann_multiprobe" -> Map(ub(Rel) ->
      (queryFixture + "; probe frame is queries x nprobe rows")),
    "ann_matryoshka" -> Map(ub(Rel) -> queryFixture),
    "ann_quantized" -> Map(ub(Rel) -> queryFixture),
    "ann_pq_topk" -> Map(ub(Rel) ->
      ("query distance tables: queries x M x 256 rows by construction " +
        "(corpus ships codes only, never broadcast)")),
    "ann_ivf_topk" -> Map(ub(s"$Rel+$Mem") ->
      ("query probes (queries x nprobe) + cached centroid frame " +
        "(k centroids by construction)")),
    "ann_ivf_incremental" -> Map(
      ub(s"$Rel+$Mem") ->
        ("query probes (queries x nprobe) + cached centroid frame " +
          "(k centroids by construction); the INDEX side is the " +
          "partition-pruned scan, never broadcast"),
      Bnlj ->
        "queries x k-centroid cell scoring (request x k rows)"),
    // same probe plan as ann_ivf_incremental over the compacted lake
    "ann_ivf_compact" -> Map(
      ub(s"$Rel+$Mem") ->
        ("query probes (queries x nprobe) + cached centroid frame " +
          "(k centroids by construction); the INDEX side is the " +
          "partition-pruned scan, never broadcast"),
      Bnlj ->
        "queries x k-centroid cell scoring (request x k rows)"),
    "asof_join_broadcast" -> Map(gb(Rel) ->
      ("per-key collapsed state history: the operator's contract is a " +
        "broadcastable state side (caller-asserted); the shuffle " +
        "spelling AsofJoin.join is the unbounded-state path, and the " +
        "point of this one is that the 100TB probe side never shuffles")),
    "bitext_mine" -> Map(ub(Rel) ->
      "exact oracle baseline; scale path bitextMineLsh (oracle-gated)"),
    "bm25_search" -> Map(
      gb(Loc) -> "query-term frame: one row per distinct QUERY token",
      // leaf is LogicalRDD: the df frame rolls up the
      // eagerly-checkpointed query-vocab-pruned tf table (the reuse
      // fix) — still query-vocabulary-sized. Keys carry the broadcast
      // side's output schema: a FUTURE broadcast over a different
      // checkpointed frame in the same query gets a NEW key instead of
      // riding this review.
      gb("LogicalRDD[token,df]") ->
        ("df frame keyed by the query's tokens: query-vocabulary-sized " +
          "(corpus tokens pruned to the query vocab before the shuffle)")),
    "contrastive_pairs" -> Map(ub(Rel) ->
      "8-query fixture side; positives/negatives are k-bounded"),
    "decontaminate" -> Map(gb(Rel) ->
      ("benchmark shingle set: eval-suite-sized by contract — the " +
        "training corpus side is never broadcast")),
    // leaf is LogicalRDD: the weight/totals
    // frames roll up the eagerly-checkpointed per-doc bucket counts
    // (the reuse fix) — still 2^k / one-row frames by construction
    "dsir_select" -> Map(gb("LogicalRDD[__b,__w]") ->
      "per-feature-hash-bucket weight frame: 2^k rows by construction"),
    "dsir_weights" -> Map(gb("LogicalRDD[__b,__w]") ->
      "per-feature-hash-bucket weight frame: 2^k rows by construction"),
    "embed_near_dups" -> Map(gb(Rel) ->
      "bucket keep frame: <= 2^planes sign-LSH bucket keys by construction"),
    // the rebuild's returned pair set IS the one-shot embeddingNearDups
    // over the rebuilt lake — same reviewed bucket-keep shape
    "embedding_rebuild" -> Map(gb(Rel) ->
      "bucket keep frame: <= 2^planes sign-LSH bucket keys by construction"),
    "grouped_mad_outliers" -> Map(gb(Rel) ->
      ("per-group med/mad one-row frames (groups = lang codes, " +
        "feature-sized) over the " + adaptiveSmall)),
    "grouped_percentiles" -> Map(gb(Rel) -> adaptiveSmall),
    "score_percentiles" -> Map(gb(Rel) -> adaptiveSmall),
    "hybrid_rrf" -> Map(
      gb(Loc) -> "query-term frame: one row per distinct QUERY token",
      // leaf is LogicalRDD (checkpointed tf table
      // inside bm25TopK, same reviewed shape as bm25_search)
      gb("LogicalRDD[token,df]") ->
        "df frame keyed by the query's tokens: query-vocabulary-sized",
      ub(Rel) -> queryFixture),
    // leaf is LogicalRDD: the keep frame rolls up
    // the checkpointed band postings (the scan-census fix) — still
    // bounded by the 16-bit band domain
    "image_dhash_neardup" -> Map(gb("LogicalRDD[bi,bv]") ->
      ("band keep frame: <= 4 x 2^16 (slot, value) keys by the 16-bit " +
        "band domain")),
    // leaf is LogicalRDD: deltas and prev
    // state are all checkpointed now (the scan-census fix)
    "incremental_join_view" -> Map(gb("LogicalRDD[o_orderkey]") ->
      ("hot/delta key set: batch-sized by the incremental-maintenance " +
        "contract (the standing view is never broadcast)")),
    // leaf includes LogicalRDD: clsTotals/vocab
    // roll up the eagerly-checkpointed tf frame (the reuse fix);
    // priors still scan the relation — the broadcast stays
    // label-domain-sized either way
    "nb_classify" -> Map(
      gb(s"$Rel+LogicalRDD[cls,n_docs,cls_tokens,__v,__n]") ->
        "class list frame: one row per label (label-domain-sized)"),
    // leaves are LogicalRDD (checkpointed
    // assignment table / stratum stat frames — the scan-census fixes);
    // the broadcast frames stay centroid-/domain-sized
    "semantic_dedup" -> Map(gb("LogicalRDD[centroid_id]") ->
      "centroid fit frame: <= k centroid ids by construction"),
    "temperature_sample" -> Map(ub("LogicalRDD[stratum,rate_bp]") ->
      "per-domain rate frame: one row per domain label (feature-sized)"),
    "token_budget_sample" -> Map(ub("LogicalRDD[stratum,rate_bp]") ->
      "per-domain rate frame: one row per domain label (feature-sized)"))

  /** C6: `multi-scan` — a non-lifecycle query whose executed plan reads
    * scans + generates >= 5 with ZERO exchange reuse. That is the
    * structural signature of a hidden multi-pass diamond: exchange
    * reuse never deduplicates re-aliased derived branches, so every
    * extra consumer of a derived frame re-runs its corpus pass (the
    * finding that cost ~15 kernels a silent 2-6x). Each entry is a
    * query reviewed as legitimately multi-scan, with the reason.
    *
    * Review discipline: "joins many distinct sources", "re-reads its
    * own fixture/state legs by construction", and "lazy re-run
    * MEASURED faster than materialization" are legitimate; "re-runs a
    * derived aggregate per consumer" is not — fix it with an eager
    * checkpoint of the smallest bounded frame (PLANS.md: the diamond
    * sweep, including the two measured reverts below). Built from the
    * census at sf0.1 over the non-lifecycle queries (14 flags, each
    * reviewed). */
  private val measuredRevert =
    "measured REVERT: the re-run is a pushed-down top-k over a " +
      "broadcastable side — two lazy passes beat one blocking " +
      "materialization (repeat-4 A/B with stash-revert control, " +
      "PLANS.md diamond sweep)"
  private val multiScan: Map[String, String] = Map(
    // multi-table / multi-source: every scan is a distinct input
    "q5_sql" ->
      "six-table TPC-H join: each scan is a distinct input table",
    "row_counts" ->
      "catalog walk: one count scan per table by construction",
    "hybrid_rrf" ->
      ("two retrieval modalities fused: BM25 (documents) and " +
        "embedding cosine (embeddings) legs each scan their own " +
        "source; the shared tf frame inside bm25 IS checkpointed"),
    // documented multi-phase / multi-leg shapes
    "quantile_pipeline" ->
      ("gate -> winsorize chain over ONE shared domain-hinted stat " +
        "scan (PLANS.md C1 decomposition); remaining scans are " +
        "the chained phases' own reads"),
    "dedup_incremental" ->
      "fixture builds 3 arrival batches; each leg scans its own slice",
    "incremental_rollup" ->
      ("changelog fixture legs + rollup state phases: each update " +
        "leg reads its own batch-sized slice (the minmax siblings' " +
        "shape; slice materialization measured)"),
    "cdc_pipeline_mysql" ->
      ("wire-spool pipeline: parse -> collapse -> apply stages each " +
        "re-read the batch-sized binlog spool; stages are " +
        "parse-bound, never corpus-derived aggregates"),
    // two-pass ANN by design: coarse candidate leg + exact rescore leg
    "ann_ivf_topk" ->
      ("coarse probed-cell leg + exact rescore leg read the corpus " +
        "twice by design; candidates are k-bounded between them"),
    "ann_matryoshka" ->
      ("prefix-dim coarse leg + full-dim rescore leg: the two-pass " +
        "Matryoshka contract, candidates k-bounded"),
    // measured reverts: lazy re-runs beat materialization here
    "bitext_mine" -> measuredRevert,
    "bitext_mine_lsh" ->
      (measuredRevert + "; LSH variant measured neutral either way, " +
        "kept lazy"),
    "contrastive_pairs" -> measuredRevert,
    "substring_cut" ->
      ("lineDedup family deliberately NOT checkpointed: the diamond " +
        "is the corpus-line-sized exploded frame - two map-side " +
        "explode passes beat materializing ~corpus bytes at 100 TB " +
        "(PLANS.md diamond sweep)"),
    // engine-spelled multi-scan
    "not_in_subquery" ->
      ("NULL-aware anti-join: Spark plans the NOT IN subquery's " +
        "relation into multiple legs (null-check + join); the " +
        "spelling is Catalyst's, bounded by the subquery relation"))

  def all: Map[String, Map[String, String]] = {
    val base =
      oneRowStatQueries.map(q =>
        q -> Map(Bnlj -> statFrame, SinglePart -> statFrameAgg)).toMap ++
      exactBaselines.map { case (q, why) => q -> Map(Bnlj -> why) } ++
      oneRowAggQueries.map(q => q -> Map(SinglePart -> oneRowAgg)).toMap ++
      Map(
        // sketch_kmv attaches the corpus-wide KMV struct (k=256 entries)
        "sketch_kmv" -> Map(Bnlj ->
          "one-row KMV sketch frame broadcast (<=k entries by construction)"),
        // global bounded-heap top-k: only k heap entries per task reach
        // the final single partition
        "weighted_sample" -> Map(SinglePart ->
          "global bounded-heap aggregate: k entries per task, never the corpus"))
    // merge C5 and C6 into the base map (several queries carry hits
    // from more than one category)
    (hintedBroadcasts.toSeq ++ multiScan.toSeq.map { case (q, why) =>
      q -> Map(MultiScan -> why) }).foldLeft(base) { case (acc, (q, m)) =>
      acc.updated(q, acc.getOrElse(q, Map.empty) ++ m)
    }
  }
}
