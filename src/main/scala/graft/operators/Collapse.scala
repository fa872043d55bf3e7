package graft.operators

import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC collapse: per-primary-key merge of insert/update/delete chains
  * within a batch, reproducing the reference's `Collapse` semantics
  * (reference: pkg/abstract/changeitem/change_item_collapse.go:48-134):
  *
  *   - insert  => cancels any pending delete for the key and replaces the
  *                row image;
  *   - update  => cancels any pending delete; merges its column set onto
  *                the current image (new values win; columns absent from
  *                the update keep their previous value); if there is no
  *                current image the update itself becomes the image;
  *   - delete  => drops the image and records a pending delete.
  *
  * Output: at most one event per key — the surviving image (kind of the
  * event that established it) or a delete. PK-changing updates must be
  * split into delete+insert pairs FIRST via [[splitUpdatedPKeys]]
  * (reference: changeitem/utils.go:75 SplitUpdatedPKeys).
  *
  * Implementation is pure window/aggregate expressions — no driver-side
  * state, no collect — so it scales with the shuffle. Events are ordered
  * by (__lsn, __counter) within a key.
  */
object Collapse {

  private def ord: Column = struct(col(E.Lsn), col(E.Counter))

  /** A column is "set" by an event if the event carries a full row image
    * (insert, or update with __updated_cols null) or lists the column in
    * __updated_cols (TOAST-aware partial update,
    * change_item.go:297-311). Frames without an __updated_cols column
    * carry only full-row events. */
  private def setsCol(c: String, hasUpdatedCols: Boolean): Column =
    if (!hasUpdatedCols) col(E.Kind).isin(E.Insert, E.Update, E.MongoUpdateDocument)
    else {
      val full = col(E.Kind) === E.Insert ||
        (col(E.Kind).isin(E.Update, E.MongoUpdateDocument) &&
          col(E.UpdatedCols).isNull)
      val partial = col(E.Kind).isin(E.Update, E.MongoUpdateDocument) &&
        array_contains(col(E.UpdatedCols), c)
      full || partial
    }

  /** Collapse an enveloped changelog down to one event per key. */
  def collapse(df: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "collapse requires primary keys")
    val dataCols = E.dataCols(df).filterNot(pks.contains)
    val w = Window.partitionBy(pks.map(col): _*)
    val wOrd = w.orderBy(col(E.Lsn), col(E.Counter))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val isReset = col(E.Kind).isin(E.Insert, E.Delete)
    // Last reset event (insert or delete) per key, as an orderable struct
    // carrying its kind; null when the key saw only updates.
    val lastReset = max(when(isReset, struct(col(E.Lsn), col(E.Counter),
      col(E.Kind).as("k")))).over(w)

    val tagged = df
      .withColumn("__last_reset", lastReset)
      .withColumn("__ord", ord)

    // The image window starts AT the last insert, AFTER the last delete,
    // or at the beginning when the key saw only updates.
    val resetKind = col("__last_reset.k")
    val resetOrd = struct(col("__last_reset.__lsn").as(E.Lsn),
      col("__last_reset.__counter").as(E.Counter))
    val inImage = col("__last_reset").isNull ||
      (resetKind === E.Insert && col("__ord") >= resetOrd) ||
      (resetKind === E.Delete && col("__ord") > resetOrd)

    val w2 = Window.partitionBy(pks.map(col): _*)
      .orderBy(col(E.Lsn), col(E.Counter))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    // Per data column: value set by the last in-image event that sets it.
    // Values are wrapped in a struct so explicitly-NULL updates still win
    // over older non-null values (last+ignoreNulls skips only non-setting
    // events, not null values).
    val hasUpdatedCols = df.columns.contains(E.UpdatedCols)
    val valueCols = dataCols.map { c =>
      last(when(inImage && setsCol(c, hasUpdatedCols), struct(col(c))),
        ignoreNulls = true).over(w2).getField(c).as(s"__v_$c")
    }
    // Kind of the event that established the image = first in-image event.
    val imageKind = first(when(inImage, col(E.Kind)), ignoreNulls = true)
      .over(w2).as("__image_kind")
    val hasImage = max(when(inImage, lit(1)).otherwise(lit(0))).over(w2)
      .as("__has_image")
    // struct max is lexicographic, so this IS (max lsn, its max counter)
    val lastOrd = max(col("__ord")).over(w).as("__last_ord")

    val enriched = tagged.select((tagged.columns.map(col) ++ valueCols ++
      Seq(imageKind, hasImage, lastOrd)).toIndexedSeq: _*)

    // One output row per key: pick the last event as the carrier row.
    val one = enriched.filter(col("__ord") === col("__last_ord"))

    val outKind = when(col("__has_image") === 1, col("__image_kind"))
      .otherwise(lit(E.Delete))
    val projected = one.select((
      pks.map(col) ++
      dataCols.map(c => when(col("__has_image") === 1, col(s"__v_$c"))
        .otherwise(lit(null).cast(one.schema(c).dataType)).as(c)) ++
      Seq(outKind.as(E.Kind), col("__last_ord.__lsn").as(E.Lsn),
        col("__last_ord.__counter").as(E.Counter))
    ): _*)
    // restore original column order where possible
    val orderCols = df.columns.filter(projected.columns.contains)
    projected.select(orderCols.map(col).toIndexedSeq: _*)
  }

  /** Last-write-wins collapse for full-row events (the common
    * snapshot-replay / upsert-merge case): keep the newest event per key,
    * for input in any partitioning.
    *
    * Implemented as `max_by` AGGREGATION, not a row_number window: the
    * aggregate gets map-side partial combine, so a hot key (one PK
    * dominating a CDC burst) is reduced before the shuffle instead of
    * funneling every duplicate through one window task — the skew story
    * at scale. Input already clustered on the keys has nothing to reduce
    * before a shuffle, and there the partial pass only copies a struct
    * per row: use [[lastWriteWinsClustered]].
    *
    * The key columns come from the grouping, the rest from the newest
    * row: an aggregate that sorts its input (as `max_by` over a struct
    * does) then hands its key ordering on to what follows it. */
  def lastWriteWins(df: DataFrame, pks: Seq[String]): DataFrame = {
    def key(c: String) = pks.find(_.equalsIgnoreCase(c))
    val rest = df.columns.filter(key(_).isEmpty).toIndexedSeq
    df.groupBy(pks.map(col): _*)
      .agg(max_by(struct(rest.map(col): _*), ord).as("__r"))
      .select(df.columns.toIndexedSeq.map(c => key(c) match {
        case Some(k) => if (k == c) col(k) else col(k).as(c)
        case None => col("__r").getField(c).as(c)
      }): _*)
  }

  /** [[lastWriteWins]] for rows already clustered so that each group of
    * `groupCols` sits in one partition (clustered on any of them, as
    * [[graft.sinks.BucketedState.Layout]] clusters on the bucket), with
    * the key columns among `groupCols`: one pass inside each
    * partition, `row_number` over `groupCols` ordered by
    * `(__lsn, __counter)` descending, keeping row 1. Spark plans it as one
    * Sort and a `WindowGroupLimit` with no Exchange and no aggregate, and
    * its `(groupCols, newest first)` order reaches what follows, so a
    * write sorted by `groupCols` needs no sort of its own. */
  def lastWriteWinsClustered(df: DataFrame, groupCols: Seq[String]): DataFrame = {
    val newest = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(E.Lsn).desc, col(E.Counter).desc)
    df.withColumn("__rn", row_number().over(newest))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Split PK-changing updates into delete(old)+insert(new) pairs
    * (reference: changeitem/utils.go:75). Input must carry an
    * `__old_keys` struct with the pre-image of the key columns; rows
    * whose old keys are null or equal to the current keys pass through.
    * The delete is ordered immediately before its insert (same lsn,
    * counter and counter+1 via doubling) so collapse sees the barrier. */
  def splitUpdatedPKeys(df: DataFrame, pks: Seq[String]): DataFrame = {
    require(df.columns.contains(E.OldKeys), s"missing ${E.OldKeys}")
    val curKeys = struct(pks.map(col): _*)
    val oldKeys = struct(pks.map(k => col(s"${E.OldKeys}.$k").as(k)): _*)
    val pkChanged = col(E.Kind) === E.Update &&
      col(E.OldKeys).isNotNull && !(oldKeys <=> curKeys)

    val hasUpdated = df.columns.contains(E.UpdatedCols)
    // synthetic delete/insert rows are full-row events: updated-cols null
    def updatedOf(c: Column): Seq[Column] =
      if (hasUpdated) Seq(c.cast(df.schema(E.UpdatedCols).dataType).as(E.UpdatedCols))
      else Nil

    val unchanged = df.filter(!pkChanged)
      .withColumn(E.Counter, col(E.Counter) * 2)
    val dataCols = E.dataCols(df).filterNot(pks.contains)
    val deletes = df.filter(pkChanged).select((
      pks.map(k => col(s"${E.OldKeys}.$k").as(k)) ++
      dataCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)) ++
      Seq(lit(E.Delete).as(E.Kind), col(E.Lsn),
        (col(E.Counter) * 2).as(E.Counter), col(E.OldKeys)) ++
      updatedOf(lit(null))
    ): _*)
    val inserts = df.filter(pkChanged).select((
      pks.map(col) ++ dataCols.map(col) ++
      Seq(lit(E.Insert).as(E.Kind), col(E.Lsn),
        (col(E.Counter) * 2 + 1).as(E.Counter), col(E.OldKeys)) ++
      updatedOf(lit(null))
    ): _*)
    val cols = (pks ++ dataCols ++
      Seq(E.Kind, E.Lsn, E.Counter, E.OldKeys, E.UpdatedCols))
      .filter(df.columns.contains)
    def proj(d: DataFrame) = d.select(cols.map(col).toIndexedSeq: _*)
    proj(unchanged).unionByName(proj(deletes)).unionByName(proj(inserts))
  }

  /** Apply truncate/drop control events positionally: row events that
    * precede the last truncate of their table are discarded (reference:
    * NonRowSeparator middleware, middlewares/nonrow_separator.go:9 —
    * rows buffered before a control item must be flushed/invalidated
    * before the control applies; in batch form the ordering collapses
    * to an LSN cutoff per table). Control events are consumed. */
  def applyTruncates(df: DataFrame): DataFrame = {
    val isTrunc = col(E.Kind).isin(E.Truncate, E.DropTable)
    val cut = max(when(isTrunc, struct(col(E.Lsn), col(E.Counter))))
      .as("__cut")
    val tagged =
      if (df.columns.contains(E.Table)) {
        // per-table cutoff via window (partitioned by table id)
        val w = Window.partitionBy(col(E.Table))
        df.withColumn("__cut",
          max(when(isTrunc, struct(col(E.Lsn), col(E.Counter)))).over(w))
      } else {
        // single-table stream: a 1-row broadcast cutoff, not a global
        // window (which would funnel every row through one partition)
        df.crossJoin(broadcast(df.agg(cut)))
      }
    tagged.filter(!isTrunc && (col("__cut").isNull || ord > col("__cut")))
      .drop("__cut")
  }

  /** Group by transaction boundaries (reference: changeitem/utils.go:138
    * SplitByID): tags each row with its transaction ordinal so a sink can
    * apply whole transactions.
    *
    * The ordinal is a DISTRIBUTED rank over distinct tx ids: the distinct
    * set is range-sorted and indexed with `zipWithIndex` (per-partition
    * counts + offsets — two light jobs over one fixed RangePartitioner),
    * so there is no single-partition window at ANY transaction count —
    * tx ids grow linearly with the log, and a partition-less rank would
    * funnel them all through one task. The join back shuffles on tx id;
    * AQE broadcasts it when the distinct set is small. */
  def tagTransactions(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dt = df.schema(E.TxId).dataType
    val indexed = df.select(col(E.TxId)).distinct()
      .sort(col(E.TxId)).rdd.zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i + 1L) }
    val ranks = spark.createDataFrame(indexed,
      StructType(Seq(StructField(E.TxId, dt),
        StructField("__tx_ord", LongType))))
    df.join(ranks, Seq(E.TxId))
  }
}
