package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column/Expression internals.
  *
  * Spark 4 hides the Column <-> Catalyst Expression conversion behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (private[sql]); every
  * library that ships custom Catalyst expressions (Delta, Sedona, ...)
  * uses a same-package bridge like this one.
  */
object bridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def sessionState(spark: SparkSession): SessionState = spark.sessionState

  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.sessionState.functionRegistry

  /** The analyzed logical plan backing a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Unload every loaded streaming state-store provider on this JVM
    * (`StateStore.unloadAll` is `private[sql]`). Each checkpointed
    * stream leaves its providers + maintenance state loaded for the
    * executor lifetime; a benchmark measuring many independent streams
    * back-to-back must drop that residue between measurements. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Block until the shared listener bus has delivered every queued
    * event (`SparkContext.listenerBus` is `private[spark]`). Streaming
    * progress events are delivered asynchronously; a bench reading its
    * busy-time accumulator right after `query.stop()` would undercount
    * the final trigger without this drain. Returns true if the bus
    * emptied within the timeout. */
  def drainListenerBus(spark: SparkSession, timeoutMillis: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Recursive leaf-file listing of a lake directory through Spark's
    * own InMemoryFileIndex (`execution.datasources` is private API
    * surface, hence bridged): above the parallel-discovery threshold
    * (32 dirs) the listing fans out as a Spark job over executors
    * instead of a driver-side sequential walk. Measured: a
    * 250-partition-dir index cost 3.0 s per `fs.listFiles(path, true)`
    * driver walk vs ~0.5 s parallel — and Sinks.compact walked it
    * twice. Returns (path, bytes) for every data file (hidden/_ files
    * excluded, same filter Spark's scans apply). */
  def listLeafFiles(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val idx = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Seq(new org.apache.hadoop.fs.Path(path)), Map.empty, None)
    idx.allFiles().map(f => (f.getPath.toString, f.getLen))
  }

  /** A parquet lake listed ONCE: its leaf files now, and a DataFrame
    * reading through that same listing on demand. A compaction pass
    * previously listed the lake for its before-stats and then
    * `spark.read.parquet` re-listed it for partition discovery — two
    * distributed listing jobs over the same unmutated tree (measured
    * ~0.4 s each on a 250-dir index; at lake scale each is a full
    * object-store sweep). `read()` takes the schema from a footer only
    * when it is called, so a caller can decide from the files alone.
    * Partition columns are discovered from the directory layout exactly
    * as `spark.read.parquet` would. */
  final class ParquetListing private[bridge] (
      cs: org.apache.spark.sql.classic.SparkSession,
      idx: org.apache.spark.sql.execution.datasources.InMemoryFileIndex,
      path: String) {
    private val statuses = idx.allFiles()
    /** (path, bytes) of every data file (hidden/_ files excluded). */
    val files: Seq[(String, Long)] =
      statuses.map(f => (f.getPath.toString, f.getLen))
    /** The schema `spark.read.parquet` infers. Without `mergeSchema`
      * Spark reads one footer, of a summary file if there is one, else
      * of the first data file by path, and reads it in a Spark job;
      * that footer is read here on the driver instead. */
    private def dataSchema(fmt: ParquetFileFormat): StructType = {
      import org.apache.parquet.hadoop.ParquetFileWriter.{
        PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
      val merge = new ParquetOptions(Map.empty[String, String], cs.sessionState.conf).mergeSchema
      val leaves = statuses.sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val footer = if (merge) None else named(Common).orElse(named(Meta))
        .orElse(leaves.find(f => !Set(Common, Meta)(f.getPath.getName)))
      footer.map(_root_.graft.sinks.BucketedState.footerSchema(cs, _))
        .orElse(fmt.inferSchema(cs, Map.empty, statuses))
        .getOrElse(throw new IllegalArgumentException(
          s"listParquet: no parquet schema inferable at $path"))
    }
    def read(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.execution.datasources._
      val fmt = new ParquetFileFormat
      val rel = HadoopFsRelation(idx, idx.partitionSchema, dataSchema(fmt),
        bucketSpec = None, fmt, Map.empty)(cs)
      org.apache.spark.sql.classic.Dataset.ofRows(cs, LogicalRelation(rel))
    }
  }

  def listParquet(spark: SparkSession, path: String): ParquetListing = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new ParquetListing(cs,
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        cs, Seq(new org.apache.hadoop.fs.Path(path)), Map.empty, None),
      path)
  }

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
