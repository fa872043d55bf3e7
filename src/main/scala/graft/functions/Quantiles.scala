package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact quantiles over integer-domain metrics (token counts, char
  * lengths, degree counts) via a COUNT HISTOGRAM — the scale-safe
  * alternative to `percentile()` for corpus gating:
  *
  *   - `percentile()` buffers every value of the group in one
  *     aggregation buffer — exact but O(corpus) memory in one place;
  *   - `approx_percentile()` scales but is engine-specific, so no
  *     cross-engine oracle can confirm it;
  *   - a histogram groupBy is ONE balanced shuffle keyed on the value,
  *     map-side combined; the cumulative pass then runs over the
  *     DISTINCT-VALUE frame, whose size is the metric's domain
  *     (thousands), not the corpus. Exact at any corpus size.
  *
  * Quantile ranks are integer per-milles and the threshold test is
  * cross-multiplied (`cum * 1000 >= n * p` — no division, no floats),
  * so every engine reproduces the thresholds bit-for-bit: threshold(p)
  * = smallest value whose cumulative count reaches ceil(n*p/1000).
  *
  * NULL discipline (uniform across every entry point and both plan
  * branches): rows whose metric is NULL — or whose cast to long is
  * NULL — are EXCLUDED from the histogram, so `n` and every cumulative
  * count range over non-null values only. Quantiles of a partly-null
  * column are quantiles of its non-null mass; a null row can never
  * join back to a value key and never defines a threshold. (Without
  * this, the two plan branches disagreed: a windowed cumulative sorts
  * nulls FIRST while the bucketed cumulative routed them to the LAST
  * bucket, making the answer depend on the branch cutoff.)
  *
  * Plan-shape discipline: the small-vs-large-domain branch is decided
  * by a cheap `approx_count_distinct` pre-pass (one map-side-combined
  * corpus aggregation, no histogram shuffle, nothing retained), NOT by
  * persisting the histogram and counting it. Both branches are
  * value-identical (law-tested in QuantilesSpec), so an approximate
  * decision is harmless — it only picks the plan. Nothing in this file
  * calls `.persist()`: a cached decision histogram lives in the
  * CacheManager until someone remembers to release it, and in a
  * long-lived session these domain-sized frames accumulate. The one
  * place the histogram is genuinely consumed twice (the large-domain
  * path needs driver-literal bucket bounds AND the cumulative plan) it
  * is `localCheckpoint`ed instead: domain-sized blocks on
  * MEMORY_AND_DISK that the ContextCleaner releases automatically once
  * the frame is unreachable. (Trade-off: checkpoint blocks lost to an
  * executor failure fail the query instead of recomputing — acceptable
  * for a stats pass that simply reruns, and it only arises past 10^6
  * distinct values.)
  */
object Quantiles {

  /** (#distinct non-null values, #non-null rows) in ONE corpus pass —
    * the branch decision + total for the ungrouped family. rsd 5%:
    * the branches are value-identical, the estimate only picks the
    * plan shape. */
  /** Public spelling of the branch-decision estimate, for PIPELINES:
    * a gate→winsorize chain over the same metric computes this once
    * and threads it through every stage's `domainHint` (the estimate
    * only picks each stage's plan branch, never its answer — and a
    * gate only shrinks the domain, so the pre-gate estimate stays an
    * honest upper bound for every later stage). */
  def estimateDomain(df: DataFrame, valueCol: String): Long =
    domainAndCount(df, valueCol)._1

  private def domainAndCount(df: DataFrame, valueCol: String): (Long, Long) = {
    val v = col(valueCol).cast("long")
    val r = df.agg(approx_count_distinct(v).as("d"), count(v).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Estimated #distinct non-null (group, value) pairs in one corpus
    * pass — the branch decision for the grouped family. The struct is
    * nulled when the value is null so null metrics don't count. */
  private def groupedDomain(df: DataFrame, groupCol: String,
                            valueCol: String): Long = {
    val v = col(valueCol).cast("long")
    df.agg(approx_count_distinct(
        when(v.isNotNull, struct(col(groupCol), v))).as("d"))
      .head().getLong(0)
  }

  /** The non-null count histogram: one balanced shuffle keyed on the
    * value, map-side combined, domain-sized output. */
  private def histogram(df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"))

  /** (value, cumulative count, total) over the distinct-value frame —
    * scale-adaptive like [[percentiles]]: up to `smallDomainLimit`
    * distinct values the cumulative runs in one explicit partition
    * (via [[WindowKeys]], so WindowExec does not warn — domain-sized,
    * never the corpus); past it the [[cumTwoLevel]] bucketed
    * discipline takes over, so the whole threshold family
    * ([[intThresholds]], [[gate]], [[winsorize]],
    * [[shardByQuantiles]]) survives unbounded value domains. The only
    * thing broadcast in either branch is the ONE-ROW total frame;
    * consumers reduce the cumulative to a one-row threshold frame, so
    * the histogram itself never ships anywhere. */
  private def cumHist(df: DataFrame, valueCol: String,
                      smallDomainLimit: Long = 1000000L,
                      buckets: Int = 256,
                      domainHint: Option[Long] = None): DataFrame = {
    val hist = histogram(df, valueCol)
    // a caller-supplied domain estimate skips the decision pre-pass —
    // a gate→winsorize chain over the same frame should pay for ONE
    // approx_count_distinct corpus scan, not one per stage; the
    // branches are value-identical, so any honest estimate only picks
    // the plan shape
    val domain = domainHint.getOrElse(domainAndCount(df, valueCol)._1)
    val cum =
      if (domain <= smallDomainLimit) {
        val nFrame = broadcast(hist.agg(sum(col("c")).as("n")))
        hist.withColumn("cum", sum("c").over(
            Window.partitionBy(WindowKeys.onePartition(col("v"))).orderBy("v")))
          .crossJoin(nFrame)
      } else {
        // past the limit the histogram feeds two consumers (the bucket
        // bounds action and the cumulative plan): materialize it ONCE
        // (see the NULL/plan-shape discipline in the object doc)
        val h = hist.localCheckpoint()
        val nFrame = broadcast(h.agg(sum(col("c")).as("n")))
        cumTwoLevel(h, "v", "c", buckets)
          .withColumnRenamed("__cum", "cum")
          .crossJoin(nFrame)
      }
    cum
  }

  /** Cumulative count over a (v, c) histogram by the TWO-LEVEL bucket
    * discipline (the [[TextAnalysis.packSequences]] shape): cut the
    * distinct values into `buckets` contiguous runs, within-bucket
    * cumulative in a PARTITIONED window (each bucket ≈ domain/buckets
    * rows), bucket base offsets from a cumulative over the
    * bucket-totals frame (`buckets` rows — planning-sized). No single
    * partition ever holds more than one bucket of the domain.
    *
    * Bucket boundaries are DRIVER-LITERAL approx-quantiles of the
    * distinct values, so the bucket id is a pure deterministic
    * projection. (A repartitionByRange + spark_partition_id spelling
    * is WRONG here: the frame feeds two plan subtrees — bases and the
    * local cumulative — and each physical copy of a range exchange
    * samples its own boundaries, silently skewing whole buckets.)
    * Exact for ANY boundary choice: cumulative sums are invariant to
    * how contiguous runs are cut; the approx part only balances
    * bucket sizes (±0.1% of the domain). Callers pass a
    * locally-checkpointed histogram so the bounds action does not
    * rebuild it from the corpus. */
  private def cumTwoLevel(hist: DataFrame, vCol: String, cCol: String,
                          buckets: Int): DataFrame = {
    val bounds = hist.stat.approxQuantile(vCol,
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      .map(_.toLong).distinct.sorted
    val bucketExpr = bounds.zipWithIndex.foldRight(
        lit(bounds.length): org.apache.spark.sql.Column) {
      case ((b, i), acc) => when(col(vCol) <= b, i).otherwise(acc) }
    val parts = hist.withColumn("__b", bucketExpr)
    val bases = parts.groupBy("__b").agg(sum(cCol).as("__bt"))
      .withColumn("__base", coalesce(sum("__bt").over(
        Window.partitionBy(WindowKeys.onePartition(col("__b"))).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__base")
    parts.withColumn("__local",
        sum(cCol).over(Window.partitionBy("__b").orderBy(vCol)))
      .join(broadcast(bases), Seq("__b"))
      .withColumn("__cum", col("__base") + col("__local"))
      .drop("__b", "__local", "__base")
  }

  /** Exact per-mille thresholds, one row per requested rank. */
  def intThresholds(df: DataFrame, valueCol: String,
                    permilles: Seq[Int],
                    domainHint: Option[Long] = None): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 0 && p <= 1000))
    val cum = cumHist(df, valueCol, domainHint = domainHint)
    val aggs = permilles.map(p =>
      min(when(col("cum") * 1000 >= col("n") * p, col("v"))).as(s"__t$p"))
    val row = cum.agg(aggs.head, aggs.tail: _*)
    row.select(explode(map(
      permilles.flatMap(p => Seq(lit(p), col(s"__t$p"))): _*))
      .as(Seq("permille", "threshold")))
  }

  /** [[cumTwoLevel]] partitioned by a group column: bucket boundaries
    * are GLOBAL value cuts (driver-literal approx-quantiles over the
    * grouped histogram — exactness is invariant to where contiguous
    * runs are cut, the cuts only balance bucket sizes), the local
    * cumulative windows on (group, bucket), and the per-(group, bucket)
    * base offsets come from a cumulative over the bucket-totals frame
    * windowed per GROUP (≤ `buckets` rows per window partition —
    * planning-sized regardless of group count or domain). Both joins
    * are hash-shuffled, never broadcast: the bases frame is
    * (groups × buckets)-sized and group count is unbounded here. */
  private def cumTwoLevelGrouped(hist: DataFrame, gCol: String, vCol: String,
                                 cCol: String, buckets: Int): DataFrame = {
    val bounds = hist.stat.approxQuantile(vCol,
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
      .map(_.toLong).distinct.sorted
    val bucketExpr = bounds.zipWithIndex.foldRight(
        lit(bounds.length): org.apache.spark.sql.Column) {
      case ((b, i), acc) => when(col(vCol) <= b, i).otherwise(acc) }
    val parts = hist.withColumn("__b", bucketExpr)
    val bases = parts.groupBy(col(gCol), col("__b"))
      .agg(sum(cCol).as("__bt"))
      .withColumn("__base", coalesce(sum("__bt").over(
        Window.partitionBy(gCol).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(gCol), col("__b"), col("__base"))
    parts.withColumn("__local",
        sum(cCol).over(Window.partitionBy(col(gCol), col("__b")).orderBy(vCol)))
      .join(bases.hint("shuffle_hash"), Seq(gCol, "__b"))
      .withColumn("__cum", col("__base") + col("__local"))
      .drop("__b", "__local", "__base")
  }

  /** The grouped non-null count histogram. */
  private def groupedHistogram(df: DataFrame, groupCol: String,
                               valueCol: String): DataFrame =
    df.select(col(groupCol), col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col(groupCol), col("v")).agg(count(lit(1)).as("c"))

  /** Per-group exact quantile threshold (e.g., median length per
    * language): the same count-histogram discipline, partitioned — the
    * histogram is (group × value-domain)-sized, never row-sized.
    *
    * Scale-adaptive like [[percentiles]]: up to `smallDomainLimit`
    * TOTAL (group, value) pairs the cumulative windows partition by
    * group (bounded by the estimated histogram size, so one hot group
    * can hold at most the global small-domain bound); past it — a hot
    * group with a 10^7-distinct domain is trivially real in a
    * length-per-source histogram at corpus scale — the
    * [[cumTwoLevelGrouped]] bucketed discipline takes over and the
    * per-group totals join group-keyed, so no window partition ever
    * holds more than ~domain/buckets rows of one group and nothing
    * domain-sized is ever broadcast. */
  def groupedThreshold(df: DataFrame, groupCol: String, valueCol: String,
                       permille: Int, smallDomainLimit: Long = 1000000L,
                       buckets: Int = 256): DataFrame =
    groupedThresholdImpl(df, groupCol, valueCol, permille,
      smallDomainLimit, buckets, pairsHint = None)

  /** [[groupedThreshold]] with an optional precomputed domain-size
    * decision — [[groupedMadOutliers]] reuses its first estimate for
    * the deviation pass (|v − med_g| is a function of (g, v), so its
    * pair count is bounded by the first pass's), halving the
    * decision-pass cost that once doubled the MAD bench row. */
  private def groupedThresholdImpl(df: DataFrame, groupCol: String,
                                   valueCol: String, permille: Int,
                                   smallDomainLimit: Long, buckets: Int,
                                   pairsHint: Option[Long]): DataFrame = {
    require(permille >= 0 && permille <= 1000)
    val pairs = pairsHint.getOrElse(groupedDomain(df, groupCol, valueCol))
    val hist = groupedHistogram(df, groupCol, valueCol)
    val cum =
      if (pairs <= smallDomainLimit)
        hist
          .withColumn("cum", sum("c").over(
            Window.partitionBy(groupCol).orderBy("v")))
          .withColumn("n", sum("c").over(Window.partitionBy(groupCol)))
      else {
        val h = hist.localCheckpoint()
        val n = h.groupBy(groupCol).agg(sum("c").as("n"))
        cumTwoLevelGrouped(h, groupCol, "v", "c", buckets)
          .withColumnRenamed("__cum", "cum")
          .join(n.hint("shuffle_hash"), Seq(groupCol))
      }
    cum.groupBy(groupCol)
      .agg(min(when(col("cum") * 1000 >= col("n") * permille, col("v")))
        .as("threshold"))
  }

  /** Corpus percentile (permille) of every row's integer metric
    * WITHOUT a global sort — the anti-`percent_rank` at scale: a
    * window percent_rank moves the whole corpus through one ordered
    * partition; here the value-domain histogram (domain-sized) gets a
    * cumulative window, and rows join their value's permille back
    * value-keyed. `permille = floor(cum·1000 / n)` — all integers,
    * engine-exact. Rows with a null metric drop out (they have no
    * percentile and no value key to join on).
    *
    * Scale-adaptive: domains up to `smallDomainLimit` distinct values
    * take a single-partition cumulative + broadcast join; larger
    * domains switch to [[cumTwoLevel]] + a value-keyed shuffle join —
    * a 10^7-plus distinct-value domain must never be broadcast to the
    * driver nor moved through one window partition (measured at 10^7
    * distinct values; QuantilesSpec checks the plan shape). */
  def percentiles(df: DataFrame, valueCol: String,
                  smallDomainLimit: Long = 1000000L,
                  buckets: Int = 256): DataFrame = {
    val (domain, n) = domainAndCount(df, valueCol)
    // empty (or all-null) input: return the empty frame with the
    // output schema instead of dividing by a null total
    if (n == 0) return df.limit(0).withColumn("permille", lit(0L))
    val hist = histogram(df, valueCol)
    if (domain <= smallDomainLimit) {
      // bounded domain: one explicit single-partition cumulative over
      // the histogram, permille map broadcast to the corpus join
      val cum = hist
        .withColumn("__cum", sum("c").over(
          Window.partitionBy(WindowKeys.onePartition(col("v")))
            .orderBy("v")))
        .select(col("v").as("__v"),
          expr(s"CAST(__cum * 1000 div ${n}L AS BIGINT)").as("permille"))
      df.join(broadcast(cum), df(valueCol).cast("long") === cum("__v"))
        .drop("__v")
    } else {
      // high-cardinality domain: broadcasting the permille map would
      // OOM the driver and a global window would single-partition the
      // domain — two-level bucketed cumulative + value-keyed SHUFFLE
      // join instead (both sides hash on the value, balanced)
      val cum = cumTwoLevel(hist.localCheckpoint(), "v", "c", buckets)
        .select(col("v").as("__v"),
          expr(s"CAST(__cum * 1000 div ${n}L AS BIGINT)").as("permille"))
      df.join(cum.hint("shuffle_hash"),
          df(valueCol).cast("long") === cum("__v"))
        .drop("__v")
    }
  }

  /** Per-group corpus percentile (permille) of every row's integer
    * metric — [[percentiles]] partitioned by a group column (length
    * norms per language, score bands per source). The histogram is
    * (group × value-domain)-sized, the cumulative window partitions by
    * GROUP (balanced across groups, domain-sized within one), and rows
    * join their (group, value) permille back — the group-keyed twin of
    * the threshold family.
    *
    * Scale-adaptive like [[percentiles]], on the ESTIMATED histogram
    * cardinality: up to `smallDomainLimit` total (group, value) pairs,
    * group-partitioned cumulative + broadcast (group, value) join;
    * past it, [[cumTwoLevelGrouped]] + (group, value)-keyed SHUFFLE
    * joins — a hot group with a 10^7-distinct domain must never ride
    * a driver broadcast nor a single group-partition window. */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                         smallDomainLimit: Long = 1000000L,
                         buckets: Int = 256): DataFrame = {
    val pairs = groupedDomain(df, groupCol, valueCol)
    val hist = groupedHistogram(df, groupCol, valueCol)
    if (pairs <= smallDomainLimit) {
      val cum = hist
        .withColumn("__cum", sum("c").over(
          Window.partitionBy(groupCol).orderBy("v")))
        .withColumn("__n", sum("c").over(Window.partitionBy(groupCol)))
        .select(col(groupCol), col("v").as("__v"),
          expr("CAST(__cum * 1000 div __n AS BIGINT)").as("permille"))
      df.join(broadcast(cum),
          df(groupCol) === cum(groupCol) &&
            df(valueCol).cast("long") === cum("__v"))
        .drop(cum(groupCol)).drop("__v")
    } else {
      val h = hist.localCheckpoint()
      val n = h.groupBy(groupCol).agg(sum("c").as("__n"))
      val cum = cumTwoLevelGrouped(h, groupCol, "v", "c", buckets)
        .join(n.hint("shuffle_hash"), Seq(groupCol))
        .select(col(groupCol).as("__g"), col("v").as("__v"),
          expr("CAST(__cum * 1000 div __n AS BIGINT)").as("permille"))
      val joined = df.join(cum.hint("shuffle_hash"),
        df(groupCol) === cum("__g") &&
          df(valueCol).cast("long") === cum("__v"))
      joined.drop("__g", "__v")
    }
  }

  /** Robust per-group outlier gating by MAD (median absolute
    * deviation) — the rule-of-thumb numeric quality gate that, unlike
    * mean±k·σ, a single corrupt extreme value cannot drag: flag rows
    * with `|v - median| > k·MAD`. All integer arithmetic under the
    * repo's histogram quantile definition, so every engine draws the
    * identical boundary.
    *
    * Scale shape: TWO grouped histogram passes (median, then the
    * deviation median) — each (group × value-domain)-sized, never a
    * per-row sort, each scale-adaptive via [[groupedThreshold]]'s
    * estimated-cardinality branch (a hot group's huge domain takes the
    * bucketed shuffle path), and ONE shared decision pass (the
    * deviation histogram's pair count is bounded by the value
    * histogram's, so the first estimate decides both) — plus one
    * broadcast join per stat of the ONE-ROW-PER-GROUP frames back onto
    * the corpus for the flag projection (group count = distinct
    * languages/sources — feature cardinality, not corpus
    * cardinality). */
  def groupedMadOutliers(df: DataFrame, groupCol: String, valueCol: String,
                         k: Int = 3): DataFrame = {
    val pairs = groupedDomain(df, groupCol, valueCol)
    val med = groupedThresholdImpl(df, groupCol, valueCol, permille = 500,
        smallDomainLimit = 1000000L, buckets = 256, pairsHint = Some(pairs))
      .withColumnRenamed("threshold", "med")
    val withDev = df.join(broadcast(med), groupCol)
      .withColumn("__dev", abs(col(valueCol).cast("long") - col("med")))
    val mad = groupedThresholdImpl(withDev, groupCol, "__dev", permille = 500,
        smallDomainLimit = 1000000L, buckets = 256, pairsHint = Some(pairs))
      .withColumnRenamed("threshold", "mad")
    withDev.join(broadcast(mad), groupCol)
      .withColumn("is_outlier", col("__dev") > lit(k.toLong) * col("mad"))
      .drop("__dev")
  }

  /** Curriculum sharding: route each row to the quantile band its
    * integer metric falls in (cuts are sorted per-milles; shard i =
    * value ≤ cut_i's threshold, last shard = above all cuts). Same
    * scale shape as [[gate]]: one domain-sized histogram, one
    * broadcast threshold row, zero corpus shuffles — never a corpus
    * sort. The dataloader consumes shards in order (short/clean
    * first, long-tail last). */
  def shardByQuantiles(df: DataFrame, valueCol: String,
                       cuts: Seq[Int],
                       domainHint: Option[Long] = None): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      "cuts must be sorted per-milles")
    val aggs = cuts.zipWithIndex.map { case (p, i) =>
      min(when(col("cum") * 1000 >= col("n") * p, col("v"))).as(s"__t$i")
    }
    val th = cumHist(df, valueCol, domainHint = domainHint)
      .agg(aggs.head, aggs.tail: _*)
    val shard = cuts.indices.foldRight(
        lit(cuts.size): org.apache.spark.sql.Column) { (i, acc) =>
      when(col(valueCol) <= col(s"__t$i"), i).otherwise(acc)
    }
    df.crossJoin(broadcast(th)).withColumn("shard", shard.cast("int"))
      .drop(cuts.indices.map(i => s"__t$i"): _*)
  }

  /** Keep rows whose integer metric lies within the [lo, hi] per-mille
    * quantile band — the outlier gate from corpus curation (drop the
    * degenerate tails: empty/truncated docs below, concatenation
    * artifacts above). Two scans of the corpus (histogram + filter),
    * one broadcast of the single-row threshold frame, zero corpus
    * shuffles. */
  def gate(df: DataFrame, valueCol: String, loPermille: Int,
           hiPermille: Int, domainHint: Option[Long] = None): DataFrame = {
    require(loPermille <= hiPermille)
    val th = cumHist(df, valueCol, domainHint = domainHint).agg(
      min(when(col("cum") * 1000 >= col("n") * loPermille, col("v")))
        .as("__lo"),
      min(when(col("cum") * 1000 >= col("n") * hiPermille, col("v")))
        .as("__hi"))
    df.crossJoin(broadcast(th))
      .filter(col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Winsorize: CLIP the integer metric into the [lo, hi] per-mille
    * band instead of dropping rows — the tail-taming variant of
    * [[gate]] for metrics that feed downstream arithmetic (loss
    * weighting, length normalization) where row loss would bias the
    * corpus. Identical scale shape: histogram pass + broadcast
    * threshold row + pure projection, zero corpus shuffles. */
  def winsorize(df: DataFrame, valueCol: String, loPermille: Int,
                hiPermille: Int,
                domainHint: Option[Long] = None): DataFrame = {
    require(loPermille <= hiPermille)
    val th = cumHist(df, valueCol, domainHint = domainHint).agg(
      min(when(col("cum") * 1000 >= col("n") * loPermille, col("v")))
        .as("__lo"),
      min(when(col("cum") * 1000 >= col("n") * hiPermille, col("v")))
        .as("__hi"))
    df.crossJoin(broadcast(th))
      .withColumn(valueCol,
        greatest(col("__lo"), least(col("__hi"), col(valueCol))))
      .drop("__lo", "__hi")
  }
}
