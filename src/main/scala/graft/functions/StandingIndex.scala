package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.sinks.{Sinks, Swap}

/** The lifecycle shared by the standing indexes: the band-LSH and
  * containment indexes and the embedding and IVF cell indexes. Each is
  * a parquet lake that batches append to and later batches probe, kept
  * small by compaction and re-laid by an offline rebuild.
  *
  * On disk an index owns one or more directories (the root for band,
  * embedding and IVF; `postings/` and `dford/` for containment).
  * Compaction and rebuild replace a directory by a [[Swap]] directory
  * swap through the sidecars `<dir>.__compact_tmp`/`_bak` and
  * `<dir>.__rebuild_tmp`/`_bak`. Every writer here recovers both pairs
  * on entry, for every directory it owns, before it decides whether
  * the index exists: a swap that crashed between its two renames
  * leaves the directory missing, and a writer that read that as "no
  * index" would bootstrap a new one and the next compaction would drop
  * the backup with every earlier row. Readers (probes) do not recover.
  */
private[graft] object StandingIndex {

  /** The sidecar prefixes of the two swaps that replace an index
    * directory: [[Sinks.compact]] and [[rebuild]]. */
  private val Swaps = Seq(".__compact", ".__rebuild")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Finish or roll back any interrupted compaction or rebuild swap of
    * each directory. Filesystem calls only, no Spark job. */
  def recover(spark: SparkSession, dirs: String*): Unit = dirs.foreach { d =>
    val fs = fsOf(spark, d)
    Swaps.foreach(s => Swap.recoverDir(fs, new Path(d),
      new Path(d + s + "_tmp"), new Path(d + s + "_bak")))
  }

  private def exists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(dir))

  /** The frames one update holds. Everything persisted through it is
    * released when the update returns or throws. */
  final class Scope private[StandingIndex] (val spark: SparkSession,
                                            val exists: Boolean) {
    private val held = scala.collection.mutable.Buffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = { held += df.persist(); held.last }
    private[StandingIndex] def release(): Unit = held.foreach(_.unpersist())
  }

  /** Build the cache of the persisted `df` now, in one job over its
    * cached batches, and return its row count. Left to the first query
    * that reads it, an unbuilt cache costs one build job per scan of it
    * in that query's plan, and `count()` adds a partial/final
    * aggregation pair. */
  def materialize(df: DataFrame): Long = df.queryExecution.withCachedData match {
    case r: InMemoryRelation =>
      r.cacheBuilder.cachedColumnBuffers.map(_.numRows.toLong).fold(0L)(_ + _)
    case _ => throw new IllegalArgumentException(
      "StandingIndex.materialize: the frame is not persisted")
  }

  /** The index rows one update probes, persisted and built, with their
    * count. */
  final case class Slice(df: DataFrame, count: Long)

  /** One index's part in [[update]]. `G` is what the gate learns about
    * the batch and hands to the slice read and the probe. */
  trait Kind[G] {
    /** The batch's index rows. [[update]] persists them. */
    def rows(s: Scope): DataFrame
    /** The one count or aggregate over the persisted rows; `None` for
      * an empty batch, which probes and appends nothing (an append of
      * zero rows can leave a parquet-less directory that breaks the
      * next update's read). */
    def gate(s: Scope, rows: DataFrame): Option[G]
    /** The answer to an empty batch. */
    def noPairs(rows: DataFrame): DataFrame
    /** The index rows the probe needs; read only when the index exists.
      * [[update]] persists and builds the slice before the probe. */
    def slice(s: Scope, rows: DataFrame, g: G): DataFrame
    /** The pairs this batch discovers; `slice` is `None` on a new
      * index. Throws when the kind's over-cap policy says so. */
    def probe(rows: DataFrame, g: G, slice: Option[Slice]): DataFrame
    /** Add the batch's rows to the index. */
    def append(s: Scope, rows: DataFrame): Unit
  }

  /** One incremental update of the index in `dirs`, whose head is the
    * directory whose presence means the index exists. Order: recover →
    * persist the batch rows → gate → read, persist and build the slice
    * (existing index only) → probe → materialize the pairs → drop the
    * slice → append.
    * The pairs are materialized by `localCheckpoint` before the append,
    * so the lazy probe can never rescan an index that already holds
    * this batch; every persisted frame is released on every exit. */
  def update[G](spark: SparkSession, dirs: Seq[String], kind: Kind[G])
      : DataFrame = {
    recover(spark, dirs: _*)
    val s = new Scope(spark, exists(spark, dirs.head))
    try {
      val rows = s.persist(kind.rows(s))
      kind.gate(s, rows) match {
        case None => kind.noPairs(rows)
        case Some(g) =>
          val slice = if (!s.exists) None else {
            val df = s.persist(kind.slice(s, rows, g))
            Some(Slice(df, materialize(df)))
          }
          val found = kind.probe(rows, g, slice).localCheckpoint(true)
          slice.foreach(_.df.unpersist(blocking = false))
          kind.append(s, rows)
          found
      }
    } finally s.release()
  }

  /** Per-bucket totals for a hot-bucket cap: `keys`, `__tot` = the
    * batch's count `__bn` from `batchSizes` plus the matching index
    * rows in `slice`, the population a full recompute would cap on. */
  def bucketTotals(batchSizes: DataFrame, slice: DataFrame,
                   keys: Seq[String]): DataFrame =
    batchSizes
      .join(slice.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__in")),
        keys, "left")
      .withColumn("__tot", coalesce(col("__in"), lit(0L)) + col("__bn"))

  /** Append `rows` under `cell=<value>/` directories of `dir`. The rows
    * are first spread over an explicit task count
    * ([[Sinks.spreadByCols]]): a bare `partitionBy` write lets one
    * task write every touched cell directory serially (measured 8-22 s
    * per update on a ~250-cell batch, half the update's wall). Each
    * cell still lands in one task, so one file per cell per append. */
  def appendCells(rows: DataFrame, cell: String, dir: String): Unit =
    Sinks.spreadByCols(rows, Seq(col(cell)))
      .write.mode("append").partitionBy(cell).parquet(dir)

  /** [[appendCells]] for an index that is only ever appended to. */
  def append(spark: SparkSession, rows: DataFrame, cell: String,
             dir: String): Unit = {
    recover(spark, dir)
    appendCells(rows, cell, dir)
  }

  /** The cell-partitioned index read, pruned to `cells`: the literal
    * IN-list is what puts a `PartitionFilters` on the scan. */
  def readCells(spark: SparkSession, dir: String, cell: String,
                cells: Seq[Int]): DataFrame =
    spark.read.option("basePath", dir).parquet(dir)
      .filter(col(cell).isin(cells.map(Integer.valueOf): _*))

  /** Compact the index in `dirs` ([[Sinks.compact]]), side directories
    * first; returns the stats of the head directory. */
  def compact(spark: SparkSession, dirs: Seq[String],
              targetBytes: Long = 128L << 20,
              partitionCols: Seq[String] = Nil): Sinks.CompactionStats = {
    recover(spark, dirs: _*)
    dirs.tail.filter(exists(spark, _))
      .foreach(Sinks.compact(spark, _, targetBytes, partitionCols))
    Sinks.compact(spark, dirs.head, targetBytes, partitionCols)
  }

  /** Replace each of `dirs`, in order, by the rebuild swap: recover
    * them all, then `stage` returns one writer per directory, each
    * staging the new tree at the path it is given
    * (`<dir>.__rebuild_tmp`), which is then installed. A crash leaves
    * each directory's old tree or its new one, and the next writer
    * recovers it. Frames `stage` persists through the scope are
    * released after the last swap. */
  def rebuild(spark: SparkSession, dirs: String*)(
      stage: Scope => Seq[String => Unit]): Unit = {
    recover(spark, dirs: _*)
    val s = new Scope(spark, exists = true)
    try dirs.zip(stage(s)).foreach { case (d, write) =>
      val tmp = new Path(d + ".__rebuild_tmp")
      write(tmp.toString)
      Swap.installDir(fsOf(spark, d), new Path(d), tmp,
        new Path(d + ".__rebuild_bak"))
    } finally s.release()
  }
}
