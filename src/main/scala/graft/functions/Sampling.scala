package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Rates are enforced by a stable md5-derived hash threshold on a key
  * column — NOT an RNG — so a sample is:
  *   - reproducible across runs, engines and cluster layouts;
  *   - join-stable: the same key draws the same verdict everywhere, so
  *     independently sampled tables still join (consistent sampling);
  *   - restart-safe: re-running a failed stage cannot change membership.
  * All pure per-row expressions — no shuffle, fully pushed into the scan
  * stage, linear at any corpus size.
  */
object Sampling {

  private val Denom = 10000L

  /** Keep ~`rate` of rows, decided by the stable hash of `key`. */
  def keep(key: Column, rate: Double): Column =
    pmod(Hashing.hex8ToLong(key.cast("string")), lit(Denom)) <
      lit((rate * Denom).toLong)

  /** Uniform deterministic sample on a key column. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.filter(keep(col(keyCol), rate))

  /** Stratified deterministic sample: per-stratum rates (e.g. rebalance
    * languages or sources in a training corpus), `defaultRate` for
    * strata not listed. */
  def stratified(df: DataFrame, keyCol: String, strataCol: String,
                 rates: Map[String, Double],
                 defaultRate: Double): DataFrame = {
    val threshold = rates.foldLeft(
      lit((defaultRate * Denom).toLong)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit((r * Denom).toLong)).otherwise(acc)
    }
    df.filter(
      pmod(Hashing.hex8ToLong(col(keyCol).cast("string")), lit(Denom)) <
        threshold)
  }

  /** Token-budget mixture sampling: scale a corpus down to
    * `budgetNum/budgetDen` of its total tokens, split EQUALLY across
    * the strata (the flat-mixture rebalance from the public training-
    * data literature — over-represented languages/sources are sampled
    * down hard, under-represented ones keep everything). Per-stratum
    * rates are integer basis points derived with integer division
    * only, so any engine reproduces them bit-for-bit; membership is
    * the stable hash threshold of [[keep]].
    *
    * Two map-side-combined aggregations (per-doc token counts →
    * per-stratum sums → one global row) and two broadcast joins of the
    * tiny rate table back onto the corpus — the corpus itself is
    * scanned twice and never shuffled. Returns the per-stratum summary
    * (docs/tokens before, rate, docs/tokens kept). EAGER by contract:
    * the stratum stat frame materializes at call time (no streaming
    * inputs — [[Materialize]]). */
  def tokenBudgetSummary(df: DataFrame, textCol: String, strataCol: String,
                         idCol: String, budgetNum: Int,
                         budgetDen: Int): DataFrame = {
    val perDoc = df.select(col(strataCol).as("stratum"),
      col(idCol).cast("string").as("__k"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("__nt"))
    // eager checkpoint: byStratum is stratum-domain-
    // sized and feeds totals + rates — without it each consumer re-ran
    // the corpus tokenize scan (measured 5 scans where the documented
    // shape is two: one stats pass, one membership pass)
    val byStratum = perDoc.groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("tokens"))
      .localCheckpoint(true)
    val totals = byStratum
      .agg(sum(col("tokens")).as("__total"),
        count(lit(1)).as("__n_strata"))
    val rates = byStratum.crossJoin(broadcast(totals))
      .withColumn("rate_bp", least(lit(Denom),
        expr(s"(((__total * $budgetNum) DIV $budgetDen) DIV __n_strata)" +
          s" * $Denom DIV tokens")))
      .select("stratum", "n_docs", "tokens", "rate_bp")
    val kept = perDoc
      .join(broadcast(rates.select("stratum", "rate_bp")), Seq("stratum"))
      .filter(pmod(Hashing.hex8ToLong(col("__k")), lit(Denom)) <
        col("rate_bp"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("kept_docs"), sum("__nt").as("kept_tokens"))
    rates.join(kept, Seq("stratum"), "left")
      .select(col("stratum"), col("n_docs"), col("tokens"), col("rate_bp"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Temperature-based mixture resampling (the multilingual-LM recipe:
    * sampling mass ∝ n_i^τ flattens the stratum distribution — τ=1
    * keeps it proportional, τ→0 approaches uniform). τ is fixed at 1/2
    * because sqrt is the one fractional power IEEE-754 defines exactly
    * — every engine computes the identical weight, where a general
    * pow() could differ in the last ulp. Weights are rounded to 6 dp
    * and summed as DECIMAL (order-independent), the per-stratum rate
    * is then one fixed shape of double arithmetic over those exact
    * operands, floored to integer basis points. Membership is the
    * stable hash threshold of [[keep]]. Same two-scan,
    * zero-corpus-shuffle shape as [[tokenBudgetSummary]], same EAGER
    * contract (stat frame materializes at call time; no streaming
    * inputs — [[Materialize]]). */
  def temperatureSummary(df: DataFrame, strataCol: String, idCol: String,
                         budgetNum: Int, budgetDen: Int): DataFrame = {
    val perDoc = df.select(col(strataCol).as("stratum"),
      col(idCol).cast("string").as("__k"))
    // eager checkpoint: same two-scan restoration as
    // tokenBudgetSummary — the stratum stat frame feeds totals + rates
    val byStratum = perDoc.groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        round(sqrt(col("n_docs").cast("double")), 6).cast("decimal(18,6)"))
      .localCheckpoint(true)
    val totals = byStratum.agg(sum(col("n_docs")).as("__total"),
      sum(col("weight")).as("__w"))
    val rates = byStratum.crossJoin(broadcast(totals))
      .withColumn("rate_bp", least(lit(Denom), floor(
        expr(s"CAST((__total * $budgetNum) DIV $budgetDen AS DOUBLE)")
          * col("weight").cast("double") / col("__w").cast("double")
          / col("n_docs").cast("double") * Denom).cast("long")))
      .select(col("stratum"), col("n_docs"),
        col("weight").cast("double").as("weight"), col("rate_bp"))
    val kept = perDoc
      .join(broadcast(rates.select("stratum", "rate_bp")), Seq("stratum"))
      .filter(pmod(Hashing.hex8ToLong(col("__k")), lit(Denom)) <
        col("rate_bp"))
      .groupBy("stratum").agg(count(lit(1)).as("kept_docs"))
    rates.join(kept, Seq("stratum"), "left")
      .select(col("stratum"), col("n_docs"), col("weight"), col("rate_bp"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"))
  }

  /** Deterministic shard assignment + manifest for the final corpus
    * write: shard = stable_hash(id) mod n — balanced at any scale by
    * the hash, reproducible everywhere, and the manifest (per-shard
    * doc/token counts) is what a shard writer needs to size and verify
    * output files. One map-side-combined aggregation on the shard id. */
  def shardManifest(df: DataFrame, textCol: String, idCol: String,
                    nShards: Int): DataFrame =
    df.select(
        pmod(Hashing.hex8ToLong(col(idCol).cast("string")), lit(nShards.toLong))
          .as("shard"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))

  /** Cap each group at its top-`k` rows under `order` (per-source /
    * per-domain caps from corpus curation: no single source may
    * dominate the mix). A PARTITIONED row_number window — each group
    * ranks independently in its own partition, so the shape holds at
    * any corpus size as long as single groups fit a partition (they
    * do: the cap exists because groups are supposed to be small). */
  def capPerGroup(df: DataFrame, groupCol: String, k: Int,
                  order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DSIR-style importance weighting (Data Selection with Importance
    * Resampling, Xie et al. 2023): estimate hashed-token bucket
    * distributions for a TARGET slice (`targetPred`) and the RAW
    * corpus, then score every document by its summed log importance
    * ratio log(p_target(b)/p_raw(b)) over its tokens. Documents whose
    * token mix looks more target-like than corpus-average score > 0.
    *
    * Scale shape: the two "models" are `buckets`-row count tables
    * (map-side-combined aggregations — domain-sized, never corpus-
    * sized), the per-doc term is one (doc, bucket) aggregation, and
    * scoring is a BROADCAST join of that against the tiny weight
    * table: one corpus-sized shuffle total, no driver-side model.
    * Determinism across engines: md5 bucket hashing, per-bucket log
    * weights rounded to 6dp then accumulated as DECIMAL (exact,
    * order-independent), final cast to double.
    *
    * Output: (id, n_tok, logw, keep) — `keep` is the fixed
    * threshold-at-zero gate; at production scale resampling uses this
    * weight with a per-shard quota rather than a global sort. EAGER
    * by contract: the per-doc bucket counts materialize at call time
    * (no streaming inputs — [[Materialize]]). */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
                  targetPred: Column, buckets: Int = 256): DataFrame = {
    val tok = df.select(col(idCol), targetPred.as("__is_t"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("__b",
        pmod(conv(substring(md5(col("__tok")), 1, 4), 16, 10).cast("long"),
          lit(buckets.toLong)))
    // ONE corpus tokenize+md5 pass: the bucket-count models
    // (rawC/tgtC/totals) are pure roll-ups of the per-doc bucket
    // counts, so they derive from `perDoc` — previously each re-ran
    // the token explode + md5 over the corpus (4 passes total,
    // profiled as the row's dominant cost at sf0.1). Counts are exact
    // integers either way; `__is_t` rides the groupBy key (per-doc
    // constant) so the target slice stays separable.
    // Eagerly checkpointed: plan-level sharing does NOT happen here —
    // analyzer re-aliasing across the four consumers breaks exchange
    // identity, so ReuseExchange/AQE deduplicates nothing (measured:
    // 4 file scans, 4 explodes, 0 reuses without
    // this). The frame is bounded at docs × min(doc-vocab, `buckets`)
    // rows — the materialization, not the recompute, is the 100-TB
    // shape.
    val perDoc = Materialize.corpus(
      tok.groupBy(col(idCol), col("__is_t"), col("__b"))
        .agg(count(lit(1)).as("__k")))
    val rawC = perDoc.groupBy("__b").agg(sum("__k").as("__cr"))
    val tgtC = perDoc.filter(col("__is_t")).groupBy("__b")
      .agg(sum("__k").as("__ct"))
    // bucket weight table: `buckets` rows joined full-outer so empty
    // target buckets still smooth to (0+1)/(Tt+B)
    val totals = perDoc.agg(sum("__k").as("__tr"),
      sum(when(col("__is_t"), col("__k")).otherwise(0L)).as("__tt"))
    val weights = rawC.join(tgtC, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__w",
        round(log(((coalesce(col("__ct"), lit(0L)) + lit(1)).cast("double") /
            (col("__tt") + lit(buckets))) *
          ((col("__tr") + lit(buckets)).cast("double") /
            (col("__cr") + lit(1)))), 6)
          .cast("decimal(18,6)"))
      .select("__b", "__w")
    perDoc.join(broadcast(weights), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum("__k").cast("long").as("n_tok"),
        sum(col("__w") * col("__k")).cast("double").as("logw"))
      .withColumn("keep", col("logw") > 0d)
  }

  /** Deterministic fixed-k per-group sample — the distributed stand-in
    * for per-group reservoir sampling. Each row draws a stable
    * md5-derived priority from `(seed, id)` and the k BEST priorities
    * per group win, via the native bounded-heap aggregate
    * ([[org.apache.spark.sql.graft.TopKExpr]]): k entries per group
    * per map task is all that ships, so a group with a billion rows
    * costs the shuffle k rows, not a window sort of the billion
    * (classic reservoir semantics — fixed memory, single pass — with
    * the determinism a rerun/backfill needs: the same rows win on
    * every engine and every layout). Output:
    * `(groupCols..., id, draw_rank)` with draw_rank 1..k in priority
    * order. */
  def reservoirPerGroup(df: DataFrame, groupCols: Seq[String],
                        idCol: String, k: Int, seed: Int): DataFrame = {
    import org.apache.spark.sql.graft.{bridge, TopKExpr}
    val priority = Hashing.seeded(col(idCol).cast("string"), seed)
      .cast("double")
    val agg = bridge.column(TopKExpr(
      bridge.expression(priority),
      bridge.expression(col(idCol).cast("long")),
      k).toAggregateExpression())
    df.groupBy(groupCols.map(col): _*).agg(agg.as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__e.id").as(idCol),
        (col("__pos") + 1).cast("int").as("draw_rank")): _*)
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis
    * 2006, A-ES): each row draws priority `u^(1/w)` from its seeded
    * uniform `u` and integer weight `w`; the global top-k by priority
    * IS a weight-proportional sample without replacement. The draw is
    * the same bounded-heap aggregate as [[reservoirPerGroup]] — k
    * entries per task ship, never a corpus sort — which is the whole
    * point at training-mixture scale (sample 10M docs ∝ quality score
    * from 10B). Deterministic: u is md5-derived, so any engine
    * replays the identical sample (the DuckDB oracle re-ranks the
    * same priorities). Returns `(idCol, draw_rank)`. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Int): DataFrame = {
    import org.apache.spark.sql.graft.{bridge, TopKExpr}
    // u in (0,1]: (h+1)/2^32 — never exactly 0, so u^(1/w) never
    // collapses weight information at the bottom of the range
    val u = (Hashing.seeded(col(idCol).cast("string"), seed)
      .cast("double") + 1.0) / 4294967296.0
    val priority = pow(u, lit(1.0) / col(weightCol).cast("double"))
    val agg = bridge.column(TopKExpr(
      bridge.expression(priority),
      bridge.expression(col(idCol).cast("long")),
      k).toAggregateExpression())
    df.filter(col(weightCol) > 0)
      .agg(agg.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("__e.id").as(idCol),
        (col("__pos") + 1).cast("int").as("draw_rank"))
  }

  /** Per-group [[weightedSample]]: k weight-proportional draws WITHIN
    * each group (per-language, per-domain quotas) through the same
    * bounded-heap aggregate — k entries per group per task, never a
    * per-group sort. Returns `(groupCols..., idCol, draw_rank)`. */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
                             idCol: String, weightCol: String,
                             k: Int, seed: Int): DataFrame = {
    import org.apache.spark.sql.graft.{bridge, TopKExpr}
    val u = (Hashing.seeded(col(idCol).cast("string"), seed)
      .cast("double") + 1.0) / 4294967296.0
    val priority = pow(u, lit(1.0) / col(weightCol).cast("double"))
    val agg = bridge.column(TopKExpr(
      bridge.expression(priority),
      bridge.expression(col(idCol).cast("long")),
      k).toAggregateExpression())
    df.filter(col(weightCol) > 0)
      .groupBy(groupCols.map(col): _*).agg(agg.as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__e.id").as(idCol),
        (col("__pos") + 1).cast("int").as("draw_rank")): _*)
  }

  /** Largest-remainder apportionment of `total` slots across weighted
    * domains (driver-side, |domains| entries): floor the exact shares,
    * then hand the leftover slots to the largest fractional remainders
    * (ties on domain name). The standard seat-allocation rule — the
    * per-domain counts are the closest integers to the exact mixture. */
  def apportion(weights: Map[String, Double], total: Long): Map[String, Long] = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0)
      && weights.values.sum > 0, "weights must be non-negative, not all 0")
    val wSum = weights.values.sum
    val exact = weights.toSeq.sortBy(_._1)
      .map { case (d, w) => (d, w * total / wSum) }
    val floors = exact.map { case (d, e) => (d, e.toLong) }
    val leftover = (total - floors.map(_._2).sum).toInt
    val bump = exact.zip(floors)
      .map { case ((d, e), (_, f)) => (d, e - f) }
      .sortBy { case (d, r) => (-r, d) }
      .take(leftover).map(_._1).toSet
    floors.map { case (d, f) => d -> (f + (if (bump(d)) 1L else 0L)) }.toMap
  }

  /** Deterministic domain-weighted training mixture (the data-mixing
    * recipe of the public Pile/DoReMi literature): apportion a `total`
    * budget across domains by weight, draw each domain's quota with
    * the seeded bounded-heap reservoir, and interleave the draws by
    * STRIDE SCHEDULING — item r of domain d schedules at fractional
    * position (2r-1)/(2*quota_d), so domains appear proportionally
    * throughout the epoch instead of in blocks.
    *
    * The schedule key is the stride fraction in 63-BIT FIXED POINT:
    * `sched_key = (2r-1)·2^62 div quota_d` — exact integer arithmetic
    * (DECIMAL product, integral divide) that every engine replays
    * bit-for-bit (DuckDB: HUGEINT `//`). An earlier spelling scaled by
    * the lcm of all quotas, which silently overflows Long for many or
    * coprime quotas (20 domains of ~1e5-row quotas is the ADVERTISED
    * scale); the fixed-point key has no lcm and works at any quota.
    * Distinct stride fractions map to distinct keys while
    * quota_a·quota_b < 2^62; beyond that (quotas ≥ ~2·10^9) a rare
    * equal-key cross-domain pair falls to the deterministic domain-name
    * tie-break. Max key < 2^63: always a valid BIGINT.
    *
    * Scale shape: the corpus-side work is one bounded-heap draw
    * (k rows per domain per task); the `pos` window runs over the
    * SELECTED budget in a single partition, so it is gated: budgets
    * above `maxGlobalPos` must pass `emitPos = false` (the API now
    * enforces what the doc used to only advise) and compose with
    * [[trainOrder]], sorting each shard by (sched_key, domain) — the
    * key alone already defines the total order. A domain with fewer
    * rows than its quota contributes what it has. */
  def mixture(df: DataFrame, domainCol: String, idCol: String,
              weights: Map[String, Double], total: Long,
              seed: Int, emitPos: Boolean = true,
              maxGlobalPos: Long = 10000000L): DataFrame = {
    require(!emitPos || total <= maxGlobalPos,
      s"budget $total exceeds maxGlobalPos=$maxGlobalPos: a global pos " +
        "window would single-partition the selection; pass emitPos=false " +
        "and order by (sched_key, domain) — e.g. compose with trainOrder")
    val quota = apportion(weights, total).filter(_._2 > 0)
    val quotaExpr = quota.foldLeft(lit(0L)) { case (acc, (d, q)) =>
      when(col(domainCol) === d, lit(q)).otherwise(acc) }
    val maxK = quota.values.max.toInt
    val sel = reservoirPerGroup(
        df.filter(col(domainCol).isin(quota.keys.toSeq: _*)),
        Seq(domainCol), idCol, maxK, seed)
      .filter(col("draw_rank") <= quotaExpr)
      .withColumn("__quota", quotaExpr)
      .withColumn("sched_key", expr(
        s"CAST((CAST(2 * draw_rank - 1 AS DECIMAL(38,0)) * ${1L << 62}) " +
          "div __quota AS BIGINT)"))
      .drop("__quota")
    if (emitPos)
      // explicit single-partition frame — the budget gate just
      // bounded it (see WindowKeys for why not lit(1))
      sel.withColumn("pos", row_number().over(
        Window.partitionBy(WindowKeys.onePartition(col("sched_key")))
          .orderBy(col("sched_key"), col(domainCol))))
    else sel
  }

  /** Deterministic global training order: every row gets a
    * `(shard, pos)` — shard by stable hash of the id, position by
    * rank of a second independent hash WITHIN the shard. The standard
    * two-level shuffle for training-data serving: inter-shard order is
    * free (shards are independent files), intra-shard order is a
    * hash-rank — statistically a uniform shuffle, yet fully
    * reproducible and resumable (a restarted job regenerates byte-
    * identical shards; an epoch boundary re-seeds). The window sorts
    * PER SHARD, so parallelism = shard count and no global sort ever
    * happens — size shards so each is executor-memory-sized (e.g.
    * 100k shards at 100 TB ≈ 1 GB each). */
  def trainOrder(df: DataFrame, idCol: String, shards: Int,
                 seed: Int = 0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__p"), col(idCol))
    df.withColumn("shard",
        pmod(Hashing.seeded(col(idCol).cast("string"), seed),
          lit(shards.toLong)))
      .withColumn("__p", Hashing.seeded(col(idCol).cast("string"), seed + 1))
      .withColumn("pos", row_number().over(w))
      .drop("__p")
  }
}
