package graft.operators

import graft.model.{CdcEnvelope => E}
import graft.sinks.BucketedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate (rollup) maintenance over a CDC changelog.
  *
  * At 100 TB a `GROUP BY` you keep fresh must never be recomputed from
  * base history: the changelog batch is folded into the existing
  * aggregate state as SIGNED deltas (the public retract-stream design,
  * cf. Flink's retraction semantics and the reference's ClickHouse
  * collapsing-sink family, pkg/providers/clickhouse — where a -1/+1
  * sign column makes aggregates maintainable by merge alone).
  *
  * Contract: the changelog is first rewritten as retractions — updates
  * become a delete(before-image) + insert(after-image) pair
  * ([[retractions]], from a Debezium-style before/after frame). A
  * retraction stream makes every additive aggregate maintainable:
  *   count  += sign
  *   sum(m) += sign * m
  * and avg derives as sum/count at read time. MIN/MAX are deliberately
  * NOT offered — they are not retractable (dropping the current min
  * needs the runner-up, i.e. base history); use a re-aggregate of the
  * affected groups for those.
  *
  * Scale shape: [[delta]] is one map-side-combined aggregation of the
  * BATCH (state never scanned); [[merge]] is one keyed shuffle of
  * state ∪ delta, so the cost is ∝ |state| + |batch|, independent of
  * the base table size. The persisted folds ([[foldBucketed]],
  * [[foldBucketedWithExtrema]]) narrow |state| to the buckets the batch
  * touches. Groups whose count reaches zero leave the state; a negative
  * count raises (inconsistent changelog) rather than corrupting
  * silently.
  */
object Rollup {

  /** Rewrite a before/after changelog (Debezium envelope shape:
    * struct columns holding the full pre/post row images, plus the
    * engine's kind/lsn) as a retraction stream: insert → +after,
    * delete → −before, update → −before then +after. The pair keeps
    * the update's LSN; counters are doubled so retract orders before
    * add within the event. Unknown kinds fail loudly — folding an
    * unsplit update would corrupt every downstream aggregate. */
  def retractions(changes: DataFrame, beforeCol: String = "before",
                  afterCol: String = "after"): DataFrame = {
    val b = col(beforeCol)
    val a = col(afterCol)
    val pair = when(col(E.Kind) === E.Insert,
        array(struct(lit(E.Insert).as("k"), a.as("img"))))
      .when(col(E.Kind) === E.Delete,
        array(struct(lit(E.Delete).as("k"), b.as("img"))))
      .when(col(E.Kind) === E.Update,
        array(struct(lit(E.Delete).as("k"), b.as("img")),
              struct(lit(E.Insert).as("k"), a.as("img"))))
      .otherwise(raise_error(concat(
        lit("rollup: unfoldable change kind "), col(E.Kind))))
    val exploded = changes
      .withColumn("__ev", explode(pair))
      .withColumn("__off",
        when(col("__ev.k") === E.Delete && col(E.Kind) === E.Update, 0)
          .otherwise(1))
    val dataFields = changes.schema(afterCol).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toIndexedSeq
    exploded.select(
      (dataFields.map(f => col(s"__ev.img.$f").as(f)) ++ Seq(
        col("__ev.k").as(E.Kind),
        col(E.Lsn),
        (col(E.Counter) * 2 + col("__off")).as(E.Counter))): _*)
  }

  private def sign = when(col(E.Kind) === E.Insert, lit(1L))
    .when(col(E.Kind) === E.Delete, lit(-1L))
    .otherwise(raise_error(concat(
      lit("rollup: delta expects a retraction stream, got kind "),
      col(E.Kind))))

  /** Aggregate state of a plain snapshot — the initial rollup.
    * Output schema: groupKeys, n_rows, sum_<metric>... */
  def init(snapshot: DataFrame, groupKeys: Seq[String],
           metrics: Seq[String]): DataFrame =
    snapshot.groupBy(groupKeys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        metrics.map(m => sum(col(m)).as(s"sum_$m")): _*)

  /** Signed per-group delta of a retraction-stream batch. One
    * aggregation of the BATCH only; negation (not multiplication)
    * keeps each metric's native numeric type so sums line up with
    * [[init]]'s for the merge union. */
  def delta(retractionBatch: DataFrame, groupKeys: Seq[String],
            metrics: Seq[String]): DataFrame = {
    val s = sign
    retractionBatch.groupBy(groupKeys.map(col): _*)
      .agg(sum(s).as("n_rows"),
        metrics.map(m =>
          sum(when(s > 0, col(m)).otherwise(-col(m))).as(s"sum_$m")): _*)
  }

  /** Fold a delta into the state: one keyed shuffle of state ∪ delta.
    * Emptied groups drop out; a group driven negative raises. Sum
    * columns are cast back to the state's own types so chained merges
    * cannot walk decimal precision upward generation by generation. */
  def merge(state: DataFrame, deltaDf: DataFrame,
            groupKeys: Seq[String], metrics: Seq[String]): DataFrame =
    sumGroups(state.unionByName(deltaDf), groupKeys, metrics, state.schema)

  /** [[merge]]'s aggregate over a union of state and delta rows, grouped
    * by `groupCols`, with the sums cast to their type in `stateSchema`. */
  private def sumGroups(union: DataFrame, groupCols: Seq[String],
                        metrics: Seq[String],
                        stateSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val merged = union.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        metrics.map(m => sum(col(s"sum_$m")).as(s"sum_$m")): _*)
    val checked = merged.withColumn("n_rows",
      when(col("n_rows") < 0, raise_error(concat(
        lit("rollup: group count went negative — changelog retracts "),
        lit("rows absent from the state")))).otherwise(col("n_rows")))
    checked.filter(col("n_rows") > 0)
      .select((groupCols.map(col) :+ col("n_rows")) ++
        metrics.map(m => col(s"sum_$m")
          .cast(stateSchema(s"sum_$m").dataType).as(s"sum_$m")): _*)
  }

  /** Aggregate state WITH extrema — [[init]]'s additive columns plus
    * `min_<m>`/`max_<m>` per metric. Pair with [[foldWithExtrema]]. */
  def initWithExtrema(snapshot: DataFrame, groupKeys: Seq[String],
                      metrics: Seq[String]): DataFrame =
    snapshot.groupBy(groupKeys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        metrics.flatMap(m => Seq(sum(col(m)).as(s"sum_$m"),
          min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))): _*)

  /** Fold a retraction batch into extrema-carrying state. MIN/MAX are
    * not retractable from the state alone — dropping the current min
    * needs the runner-up, which only base history knows — so the fold
    * splits the work (the standard complement to the retract-stream
    * design):
    *
    *   - additive columns (count, sums) fold exactly as [[merge]];
    *   - INSERTS extend extrema in-state (`least`/`greatest` — an
    *     insert can only push an extremum outward);
    *   - DELETES (and update before-images) that TOUCH a current
    *     extremum mark the group for repair, and ONLY those groups are
    *     re-aggregated from `base` — the post-batch table — via a
    *     key-pruned semi join (partition-pruned further when the lake
    *     is laid out on a group-key prefix).
    *
    * Cost: |state| + |batch| for the fold, plus one scan of base
    * RESTRICTED to repair groups — the groups whose extremum was
    * deleted, typically a sliver. `base` must reflect the table AFTER
    * this batch applied (the caller owns that contract: repair reads
    * current truth, exactly like the reference's ClickHouse
    * collapsing-sink re-SELECT path). */
  def foldWithExtrema(state: DataFrame, retractionBatch: DataFrame,
                      base: DataFrame, groupKeys: Seq[String],
                      metrics: Seq[String]): DataFrame = {
    val additiveState = state.select(
      (groupKeys.map(col) :+ col("n_rows")) ++
        metrics.map(m => col(s"sum_$m")): _*)
    val additive = merge(additiveState,
      delta(retractionBatch, groupKeys, metrics), groupKeys, metrics)

    val s = sign
    val extAggs = metrics.flatMap(m => Seq(
      min(when(s > 0, col(m))).as(s"ins_min_$m"),
      max(when(s > 0, col(m))).as(s"ins_max_$m"),
      min(when(s < 0, col(m))).as(s"del_min_$m"),
      max(when(s < 0, col(m))).as(s"del_max_$m")))
    val batchExt = retractionBatch.groupBy(groupKeys.map(col): _*)
      .agg(extAggs.head, extAggs.tail: _*)

    val stateExt = state.select(
      groupKeys.map(col) ++
        metrics.flatMap(m => Seq(col(s"min_$m"), col(s"max_$m"))): _*)
    val joined = stateExt.join(batchExt, groupKeys, "full_outer")
    // a deleted value can only EQUAL an extremum when the changelog is
    // consistent; <=/>= keeps the guard safe under any drift. A group
    // with deletes but NO state extrema (created and retracted within
    // one batch — e.g. insert then update) must also repair: its
    // ins_min/ins_max include the retracted before-images.
    val needsRepair = metrics.map(m =>
      col(s"del_min_$m").isNotNull && (col(s"min_$m").isNull ||
        col(s"del_min_$m") <= col(s"min_$m") ||
        col(s"del_max_$m") >= col(s"max_$m")))
      .reduce(_ || _)

    val repairKeys = joined.filter(needsRepair)
      .select(groupKeys.map(col): _*)
    val mmAggs = metrics.flatMap(m => Seq(min(col(m)).as(s"min_$m"),
      max(col(m)).as(s"max_$m")))
    val repaired = base.join(repairKeys, groupKeys, "left_semi")
      .groupBy(groupKeys.map(col): _*)
      .agg(mmAggs.head, mmAggs.tail: _*)
    // least/greatest skip NULL: a new group takes the insert extrema, an
    // untouched group keeps the state's
    val folded = joined.filter(!needsRepair).select(
      groupKeys.map(col) ++ metrics.flatMap(m => Seq(
        least(col(s"min_$m"), col(s"ins_min_$m")).as(s"min_$m"),
        greatest(col(s"max_$m"), col(s"ins_max_$m")).as(s"max_$m"))): _*)

    additive.join(folded.unionByName(repaired), groupKeys, "left")
      .select((groupKeys.map(col) :+ col("n_rows")) ++
        metrics.flatMap(m => Seq(col(s"sum_$m"), col(s"min_$m"),
          col(s"max_$m"))): _*)
  }

  /** The writer call named by [[readBucketed]] when it refuses a root. */
  private val Writer = "Rollup.foldBucketed"

  /** Continuously-maintained aggregate: fold one changelog batch into a
    * persisted state, the `foreachBatch` body of a streaming rollup. The
    * state keeps the [[graft.sinks.BucketedState]] layout,
    * `statePath/__bucket=i/` dirs keyed by a stable group-key hash (the
    * layout the replication MERGE uses), so that a fold
    *
    *   - aggregates the BATCH into a signed delta (map-side combined),
    *   - reads ONLY the buckets its delta touches,
    *   - sums the delta into the touched groups in one shuffle, the
    *     bucket write's own, and rewrites ONLY those buckets behind a
    *     crash-safe bucket swap —
    *
    * and rewrite I/O scales with the batch's key spread, never total
    * group cardinality (billions of groups: per-user, per-document).
    * The layout sizes a new state from the first delta and grows it by
    * splits as the state grows, recording the count in its meta, so
    * every fold agrees on it.
    *
    * Unlike the replication MERGE (last-write-wins, idempotent under
    * replay) an aggregate fold is NOT idempotent, so pass foreachBatch's
    * `batchId` for exactly-once under replay: the meta, swapped in last
    * with the buckets, records it, and a replayed batch that already
    * folded (crash after the swap, before the streaming checkpoint
    * committed) is skipped, never applied twice. The swap manifest
    * carries the same id, so recovery tells a crash mid-swap (roll back,
    * the batch replays and folds once) from a crash mid-cleanup after the
    * meta committed (finish the teardown, the replay is skipped): a crash
    * anywhere leaves the pre-fold or the post-fold state. Returns the
    * post-fold state. */
  def foldBucketed(spark: org.apache.spark.sql.SparkSession,
                   statePath: String, retractionBatch: DataFrame,
                   groupKeys: Seq[String], metrics: Seq[String],
                   batchId: Long = -1L): DataFrame = {
    val d = delta(retractionBatch, groupKeys, metrics)
    // with no touched bucket yet the delta alone makes their state
    // (negative counts raise). Every fold writes the delta's schema (the
    // sums are cast to it), so the final read pins it instead of
    // inferring it from a footer
    BucketedState.write(statePath, groupKeys, d, sizing = d, batch = batchId) {
      (existing, layout) => sumGroups(layout.cluster(existing.fold(d)(_.unionByName(d))),
        layout.groupCols, metrics, d.schema)
    }
    readBucketed(spark, statePath, Some(d.schema))
  }

  /** [[foldBucketed]] with extrema maintenance — the bucketed-state
    * composition of [[foldWithExtrema]]: count/sum fold as signed
    * deltas, inserts extend min/max in-state, groups whose delete
    * touched a current extremum re-aggregate min/max from `base` (the
    * post-batch table) via a key-pruned semi join — and the state swap
    * reads/rewrites ONLY the buckets the batch touches, so rewrite I/O
    * follows the batch's key spread while repair I/O follows the
    * deleted-extremum sliver. State schema: groupKeys, n_rows,
    * sum_/min_/max_ per metric. */
  def foldBucketedWithExtrema(spark: org.apache.spark.sql.SparkSession,
                              statePath: String, retractionBatch: DataFrame,
                              base: DataFrame,
                              groupKeys: Seq[String], metrics: Seq[String],
                              batchId: Long = -1L): DataFrame = {
    // aggregation of a zero-row frame: schema-only empty state, the
    // bootstrap stand-in (foldWithExtrema handles an empty state —
    // created-and-retracted groups go through base repair)
    val emptyState = initWithExtrema(base.limit(0), groupKeys, metrics)
    // the batch is the probe: foldWithExtrema reads it back from the
    // probe's cache instead of rescanning it. The state is sized from the
    // delta, as in foldBucketed
    BucketedState.write(statePath, groupKeys, retractionBatch,
        sizing = delta(retractionBatch, groupKeys, metrics), batch = batchId) {
      (existing, layout) => layout.cluster(foldWithExtrema(
        existing.getOrElse(emptyState), retractionBatch, base, groupKeys, metrics))
    }
    readBucketed(spark, statePath, Some(emptyState.schema))
  }

  /** Read a bucketed rollup state without its layout column. Refuses a
    * half-swapped state, naming the paths
    * ([[graft.sinks.BucketedState.requireSettled]]); the next fold
    * recovers it. Refuses a layout the fold does not write, naming the
    * root or its meta. `schema`, when given, is the state's post-read shape
    * (group keys + n_rows + sum columns); without it the read takes the
    * schema the state's meta records, so neither infers one from a
    * parquet footer (a Spark job per read). An
    * absent or empty dir is an empty state (bootstrap not yet run, or
    * every group retracted): with `schema` an empty frame of that schema
    * is returned; without it a pre-bootstrap probe fails loudly rather
    * than letting `spark.read.parquet` throw its opaque path/infer error. */
  def readBucketed(spark: org.apache.spark.sql.SparkSession,
                   statePath: String,
                   schema: Option[org.apache.spark.sql.types.StructType] =
                     None): DataFrame =
    BucketedState.read(spark, statePath, Writer, schema, empty = Some(() =>
      schema match {
        case Some(s) =>
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], s)
        case None => throw new IllegalStateException(
          s"rollup: no bucketed state at $statePath (bootstrap not yet " +
            "run) — pass the expected schema to read it as empty")
      }))
}
