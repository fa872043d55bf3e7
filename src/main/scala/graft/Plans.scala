package graft

import java.nio.file.{Files, Paths}

/** Plan-audit artifact generator: dumps the executed physical plans of
  * the headline queries to PLANS.md so the pushdown/broadcast/partial-
  * aggregation behavior is reviewable without running Spark.
  *
  * Usage: `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {
  val headliners = Seq(
    "q1_agg", "q3_join", "window_topn", "agg_stats", "filter_rows",
    "dedup_minhash_bands", "dedup_minhash_pairs", "ann_cosine_topk",
    "cdc_collapse", "dedup_exact", "tag_transactions", "session_window",
    "mysql_binlog_parse", "ann_lsh_topk", "embed_near_dups",
    "ann_ivf_topk", "dedup_ngram_jaccard",
    "decontaminate", "doc_repetition", "pii_scrub", "salted_join",
    "semantic_dedup", "line_dedup", "token_budget_sample", "source_cap",
    "quantile_gate", "sequence_pack", "doc_tfidf", "nb_classify", "temperature_sample", "shard_manifest",
    "lm_score", "dedup_incremental", "html_extract", "mime_sniff",
    "asof_join", "range_join", "sketch_hll", "sketch_cms", "zorder_curve",
    "asof_join_broadcast", "range_join_sql", "checksum_compare",
    "sketch_kmv", "incremental_rollup", "gap_fill", "skew_profile",
    "incremental_rollup_minmax", "ann_ivf_largek",
    "dsir_weights", "agg_cube", "agg_pivot",
    "ann_pq_codes", "ann_pq_topk", "reconcile_repair")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= s"# Physical plans (generated by graft.Plans at $sfDir)\n\n"
    sb ++= "Things to check per plan: `PushedFilters`/`ReadSchema` on scans\n"
    sb ++= "(pushdown + pruning), `BroadcastHashJoin` for small dims,\n"
    sb ++= "`partial_*` aggregate functions (map-side combine), no\n"
    sb ++= "`CartesianProduct` anywhere.\n\n"
    sb ++= "Not plannable statically (multi-job E2E by construction, cost\n"
    sb ++= "noted from BENCH): `replicate_stream` ~20s = 3 checkpointed\n"
    sb ++= "micro-batches, each a monotonic-guard state pass (150k keys)\n"
    sb ++= "plus a bucketed MERGE over 150k orders, plus the state\n"
    sb ++= "read-back; `monotonic_guard` ~9s = 2 such state passes +\n"
    sb ++= "memory-sink collect; `jdbc_roundtrip` ~2s = single-threaded\n"
    sb ++= "Derby INSERTs (30k rows) by nature of an embedded server.\n"
    sb ++= "Their per-row cost is flat in corpus size: the streaming\n"
    sb ++= "state is per-key-bounded and the MERGE rewrites only touched\n"
    sb ++= "buckets (StreamingSpec asserts both). `dedup_canonical` is\n"
    sb ++= "also multi-job by construction (label-propagation fixpoint,\n"
    sb ++= "one balanced node-id shuffle per round, converges in\n"
    sb ++= "O(component diameter) rounds on shallow dup clusters).\n"
    headliners.foreach { name =>
      val plan = Queries.all(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
        // sentinel literals (u0000 null keys, u0001 separators) print
        // raw in plan text and would make the artifact a binary file
        .map(c => if (c < ' ' && c != '\n' && c != '\t') '·' else c)
      sb ++= s"\n## $name\n\n```\n$plan```\n"
    }
    // hand-written analysis sections (scale sweeps, measured notes)
    // appended after the generated plans survive a regeneration
    val keepMarker = "## Scale sweep"
    val kept = if (Files.exists(Paths.get(out))) {
      val prev = Files.readString(Paths.get(out))
      val i = prev.indexOf(keepMarker)
      if (i >= 0) "\n" + prev.substring(i) else ""
    } else ""
    Files.writeString(Paths.get(out), sb.toString + kept)
    println(s"wrote $out")
    spark.stop()
  }
}
