package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of an inner equi-join view — the join
  * analogue of [[Rollup]]'s aggregate maintenance: keep a materialized
  * `A ⋈ B` current under insert/delete batches on EITHER side with
  * delta-sized work, never a re-join of the bases.
  *
  * Model: signed multiplicities (the Z-relation discipline from the
  * public incremental-view-maintenance literature — DBToaster /
  * differential-dataflow lineage). A relation is rows plus a `__mult`
  * count; a delta batch carries +k inserts / -k deletes; join
  * multiplies multiplicities; applying a delta is a union + sum +
  * drop-zeros. The view delta for `V = A ⋈ B` is the standard
  * bilinear expansion
  *
  *   ΔV = ΔA ⋈ B_prev  ∪  A_prev ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *
  * so each maintenance step costs |Δ|-proportional joins against a
  * base (each a key-partitioned hash join whose probe side is the
  * delta — broadcast when the batch is small), plus one |ΔV|-sized
  * consolidation shuffle. At lake scale both base states live
  * key-bucketed (the [[graft.sinks.BucketedState]] layout), so the
  * delta-vs-base joins co-locate and touch only the buckets the batch
  * keys hash to; `A_prev ⋈ B_prev` is never recomputed.
  *
  * Payload column names (everything except the join keys) must be
  * disjoint between the two sides, as in any equi-join view.
  */
object IncrementalJoin {
  val MultCol = "__mult"

  /** Lift a plain frame to a consolidated signed relation (duplicate
    * rows become one row with multiplicity k). Costs one full shuffle
    * of the frame — for bases KNOWN duplicate-free (a CDC state keyed
    * by primary key, a deduplicated snapshot) use [[asRel]], which is
    * a pure projection. */
  def lift(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(col): _*)
      .agg(count(lit(1)).cast("long").as(MultCol))

  /** Attach multiplicity 1 WITHOUT consolidating — zero shuffle.
    * Correct only when the frame has no duplicate full rows (the
    * invariant of any PK-keyed state). */
  def asRel(df: DataFrame): DataFrame =
    df.withColumn(MultCol, lit(1L))

  /** Build a signed delta batch from insert and delete row sets. */
  def delta(inserts: DataFrame, deletes: DataFrame): DataFrame =
    consolidate(lift(inserts)
      .unionByName(lift(deletes).withColumn(MultCol, -col(MultCol))))

  /** Merge multiplicities of identical rows; drop rows netting to 0. */
  def consolidate(rel: DataFrame): DataFrame = {
    val payload = rel.columns.filterNot(_ == MultCol)
    rel.groupBy(payload.map(col): _*)
      .agg(sum(col(MultCol)).as(MultCol))
      .filter(col(MultCol) =!= 0)
  }

  /** Inner equi-join of two signed relations: multiplicities multiply. */
  def joinRel(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.withColumnRenamed(MultCol, "__am")
      .join(b.withColumnRenamed(MultCol, "__bm"), keys)
      .withColumn(MultCol, col("__am") * col("__bm"))
      .drop("__am", "__bm")

  /** The view delta — delta-sized: three joins, each with a delta on
    * at least one side; the prev ⋈ prev term never appears. */
  def viewDelta(aPrev: DataFrame, aDelta: DataFrame,
                bPrev: DataFrame, bDelta: DataFrame,
                keys: Seq[String]): DataFrame =
    consolidate(joinRel(aDelta, bPrev, keys)
      .unionByName(joinRel(aPrev, bDelta, keys))
      .unionByName(joinRel(aDelta, bDelta, keys)))

  /** Fold a view delta into the materialized view — delta-KEYED, not
    * view-sized: rows whose join key the delta never touches pass
    * through untouched (an anti-join against the broadcast-small set
    * of delta keys — no shuffle of the view), and only the touched
    * slice unions with the delta and re-consolidates. With the view
    * stored key-bucketed (the [[graft.sinks.BucketedState]] layout) the
    * pass-through is also scan-pruned to the delta's buckets. */
  def applyDelta(view: DataFrame, d: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val hot = d.select(keys.map(col): _*).distinct()
    view.join(broadcast(hot), keys, "left_anti")
      .unionByName(consolidate(
        view.join(broadcast(hot), keys, "left_semi").unionByName(d)))
  }

  /** One full maintenance step: `(A_prev ⋈ B_prev) + ΔV` — the view
    * after applying both side's batches, built ONLY from the previous
    * view and the deltas-vs-bases. */
  def step(view: DataFrame, aPrev: DataFrame, aDelta: DataFrame,
           bPrev: DataFrame, bDelta: DataFrame,
           keys: Seq[String]): DataFrame =
    applyDelta(view, viewDelta(aPrev, aDelta, bPrev, bDelta, keys), keys)
}
