package graft.operators

import graft.model.{CdcEnvelope => E}
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-set surgery on a live multi-table transfer — the reference's
  * transfer-lifecycle tasks re-expressed over the per-table merge
  * state (cf. worker/tasks/add_tables.go:25, remove_tables.go,
  * reupload.go):
  *
  *   - while a transfer runs, replication events route per `__table`
  *     and tables outside the filter are DROPPED (not parked);
  *   - `addTables` widens the set: the added tables are snapshot-
  *     loaded at their CURRENT source content into fresh per-table
  *     state, already-replicated tables are not reloaded, and
  *     replication resumes under the widened filter (so the added
  *     table's history before the snapshot is represented by the
  *     snapshot itself — the reference stops the job, loads, resumes);
  *   - `removeTables` shrinks the filter only; existing state dirs
  *     stay in place (the reference leaves target data; cleanup is a
  *     separate policy);
  *   - `reupload` drops every included table's state and snapshots
  *     fresh — the from-scratch recovery task.
  *
  * Scale shape: all data movement is per-table distributed merges
  * ([[CdcStream.mergeBatch]] into a [[graft.sinks.BucketedState]]: a
  * batch rewrites only the buckets its keys touch); the
  * table LIST is planning metadata (tables, not rows).
  */
object Lifecycle {

  /** Apply one enveloped multi-table batch under the current filter:
    * out-of-set tables drop, in-set tables merge into their state
    * (one [[CdcStream.mergeMultiTable]] over the filtered batch). */
  def applyBatch(batch: DataFrame, base: String, pks: Seq[String],
                 filter: TableFilter): Seq[String] =
    CdcStream.mergeMultiTable(batch.filter(filter.matches(col(E.Table))),
      base, pks)

  /** Widen the table set: snapshot-load each added table's current
    * content into its own state dir, return the widened filter.
    *
    * Added names are LITERAL table names, so they enter `include`
    * regex-quoted — "pub.orders" must not also admit "pubXorders".
    * Filter semantics by prior shape:
    *   - fully empty filter = a fresh transfer bootstrapping its
    *     table set → include becomes exactly the added tables;
    *   - match-all-except (empty include, non-empty exclude) → the
    *     filter already admits every non-excluded table; widening
    *     means LIFTING any exclusion of an added table, never
    *     replacing match-all with include=[added] (which would
    *     silently drop every other table from replication);
    *   - explicit include list → append the quoted names AND lift any
    *     exclusion of the added tables: exclusions always win over
    *     include, so a table removed via [[removeTables]] and later
    *     re-added would otherwise keep its quoted exclude entry — its
    *     snapshot would load into state while the returned filter
    *     still rejected its replication events (silent non-replication
    *     on re-add). */
  def addTables(base: String, pks: Seq[String], filter: TableFilter,
                added: Seq[(String, DataFrame)]): TableFilter = {
    added.foreach { case (table, snapshot) =>
      CdcStream.mergeBatch(E.fromSnapshot(snapshot, lit(0L)),
        CdcStream.tableDir(base, table), pks)
    }
    val names = added.map(_._1)
    val quoted = names.map(java.util.regex.Pattern.quote)
    // exclude entries are regex PATTERNS (removeTables quotes literals,
    // but callers may hold broader hand-written patterns): lift every
    // entry that MATCHES an added table, not just its literal/quoted
    // spellings — otherwise the re-added table's snapshot loads while
    // its replication events are still rejected (the silent
    // non-replication this method exists to close)
    val lifted = filter.exclude.filterNot(p =>
      names.contains(p) || quoted.contains(p) ||
        names.exists(n => scala.util.Try(n.matches(p)).getOrElse(false)))
    if (filter.include.isEmpty && filter.exclude.nonEmpty)
      filter.copy(exclude = lifted)
    else
      filter.copy(include =
        (filter.include.filter(_.nonEmpty) ++ quoted).distinct,
        exclude = lifted)
  }

  /** Shrink the table set; state dirs are left untouched. Removed
    * names are literals → regex-quoted, same as [[addTables]]. */
  def removeTables(filter: TableFilter, removed: Seq[String]): TableFilter =
    filter.copy(exclude = (filter.exclude ++
      removed.map(java.util.regex.Pattern.quote)).distinct)

  /** Drop every listed table's state and snapshot it fresh. */
  def reupload(spark: SparkSession, base: String, pks: Seq[String],
               tables: Seq[(String, DataFrame)]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    tables.foreach { case (table, snapshot) =>
      fs.delete(new org.apache.hadoop.fs.Path(CdcStream.tableDir(base, table)), true)
      CdcStream.mergeBatch(E.fromSnapshot(snapshot, lit(0L)),
        CdcStream.tableDir(base, table), pks)
    }
  }

  /** Read the assembled multi-table state back: one frame per listed
    * table, tagged with `__table`. */
  def readAll(spark: SparkSession, base: String,
              tables: Seq[String]): DataFrame =
    tables.map { t =>
      CdcStream.readState(spark, CdcStream.tableDir(base, t))
        .withColumn(E.Table, lit(t))
    }.reduce(_.unionByName(_))
}
