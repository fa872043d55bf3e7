package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** File-format readers: the Spark-native equivalents of the reference's
  * S3 reader registry (reference:
  * pkg/providers/s3/reader/registry/{csv,json,line,nginx,parquet,proto},
  * factory.go:17-49). Every reader is a plain `spark.read` plan, so
  * partition parallelism, predicate pushdown and column pruning come from
  * the source framework.
  */
object Readers {

  /** CSV with custom delimiter/quote/escape/header (reference:
    * s3/reader/registry/csv/reader_csv.go — pkg/csv scanner options). */
  def csv(spark: SparkSession, path: String,
          delimiter: String = ",", header: Boolean = true,
          quote: String = "\"", escape: String = "\\",
          schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
      .option("sep", delimiter).option("header", header)
      .option("quote", quote).option("escape", escape)
    schema.fold(r.option("inferSchema", true))(r.schema).csv(path)
  }

  /** JSON-lines (reference: s3/reader/registry/json). */
  def jsonLines(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** ORC lake directory — splittable columnar scan with the same
    * pushdown surface as parquet (filters and column pruning reach the
    * stripe reader; `.explain` shows PushedFilters on the OrcScan). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw text lines, one row per line (reference: s3/reader/registry/line). */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Combined/nginx access-log format via regexp groups (reference:
    * s3/reader/registry/nginx; providers/s3/model_source.go:253). Pass a
    * pattern with one capture group per output column. */
  def regexLog(spark: SparkSession, path: String, pattern: String,
               columns: Seq[String]): DataFrame = {
    val raw = spark.read.text(path)
    raw.select(columns.zipWithIndex.map { case (c, i) =>
      regexp_extract(col("value"), pattern, i + 1).as(c)
    }: _*)
  }

  /** Default nginx "combined" log columns. */
  val NginxCombinedPattern: String =
    """^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) [^"]*" (\d+) (\d+)"""
  val NginxCombinedColumns: Seq[String] =
    Seq("remote_addr", "remote_user", "time_local", "method", "path",
      "status", "bytes_sent")

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** File-backed queue reader: a directory of line files exposed with
    * queue metadata (topic, partition, offset, value) — the
    * QueueMessageMeta shape of the reference's queue sources
    * (pkg/abstract/changeitem/queue_meta.go, partition.go:8-11).
    * Partition = source file, offset = line number within it; both are
    * recoverable positions, so a consumer can ack/resume exactly like a
    * Kafka partition. Streaming ingestion of the same layout is
    * `spark.readStream.text(dir)` + the same projection.
    *
    * Offset derivation contract: the per-file window serializes each
    * FILE through one task — intentional, because "sequential within a
    * partition, parallel across partitions" IS the queue model (spool
    * writers cap file size like segment files, so a file never exceeds
    * one task's budget). Line order under the window rests on
    * `monotonically_increasing_id` being ordered across splits of one
    * file: the id's high bits carry the split index and splits scan
    * forward, so (split, row) order equals byte order. That invariant is
    * load-bearing here — if it ever changes, derive offsets per split
    * via a custom scan instead. */
  def fileQueue(spark: SparkSession, dir: String, topic: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name())
      .orderBy(monotonically_increasing_id())
    spark.read.textFile(dir).toDF("value")
      .withColumn("topic", lit(topic))
      .withColumn("partition",
        abs(hash(input_file_name())).cast("int"))
      .withColumn("offset", row_number().over(w).cast("long") - 1)
  }

  /** STREAMING consumer of the same file-queue layout: Structured
    * Streaming's file source lists new spool files each trigger and
    * checkpoints the consumed file set — the queue's ack/resume
    * contract without a broker. This is the transport that lets the
    * composed replication loop run at corpus scale with the DRIVER
    * never holding a row: producers append line files
    * ([[graft.sinks.KafkaSink.appendFileQueue]], a distributed write),
    * the consumer streams them (a distributed read), and the only
    * driver-side state is file names. Per-file ordering follows the
    * queue model (a spool file is one segment); cross-batch ordering is
    * the producer's append sequencing, exactly like Kafka segment
    * order. The offset/partition projection of [[fileQueue]] is
    * deliberately absent: its per-file window needs a batch sort, and a
    * streaming consumer's position IS the checkpointed file set. */
  def fileQueueStream(spark: SparkSession, dir: String, topic: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(s"$dir/$topic").toDF("value").withColumn("topic", lit(topic))
  }
}

/** Sharded (range-partitioned) snapshot scan: the Spark-native equivalent
  * of `ShardingStorage.ShardTable` splitting one table into parallel
  * parts by key range (reference: pkg/abstract/storage.go:339-341;
  * pkg/providers/postgres/sharding_storage.go:25-65).
  *
  * On file sources Spark already parallelizes by split, so the explicit
  * range predicate form exists to mirror JDBC
  * `partitionColumn/lowerBound/upperBound/numPartitions` semantics — each
  * part is an independent scan with a disjoint range predicate whose
  * union is the whole table (no row lost, none duplicated).
  */
object ShardedScan {
  def byRange(df: DataFrame, partCol: String,
              lower: Long, upper: Long, parts: Int): Seq[DataFrame] = {
    require(parts > 0 && upper >= lower)
    val stride = math.max(1L, (upper - lower + parts) / parts)
    (0 until parts).map { i =>
      val lo = lower + i * stride
      val hi = lo + stride
      val c = col(partCol)
      val pred =
        if (i == 0) c < hi
        else if (i == parts - 1) c >= lo
        else c >= lo && c < hi
      df.filter(pred)
    }
  }

  /** All parts unioned back — used by tests to prove the split is a
    * partition of the table. */
  def unionAll(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _)
}

/** Incremental ("dolivochki") keyed-cursor scan (reference:
  * pkg/abstract/storage.go:354-357 IncrementalStorage,
  * storage_incremental.go:3-7): each run reads only rows with cursor
  * column beyond the persisted state, then advances the state. State is a
  * tiny cursor file per (table, column) — the Spark analogue of the
  * coordinator-persisted transfer state.
  *
  * The state dir goes through the Hadoop FileSystem API, so it can live
  * on any checkpoint-grade store (hdfs://, s3a://, file://) and the
  * cursor survives driver relocation — a local-disk cursor would silently
  * restart the scan from zero on a new driver.
  */
final case class IncrementalScan(stateDir: String) {
  import org.apache.hadoop.fs.Path

  private def hconf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def stateFile(table: String, cursorCol: String) =
    new Path(stateDir, s"$table.$cursorCol.cursor")

  def readState(table: String, cursorCol: String): Option[String] = {
    val p = stateFile(table, cursorCol)
    graft.sinks.Swap.readText(p.getFileSystem(hconf), p)
  }

  /** Rows strictly beyond the stored cursor (all rows on first run). */
  def scan(df: DataFrame, table: String, cursorCol: String): DataFrame =
    readState(table, cursorCol) match {
      case Some(v) => df.filter(col(cursorCol) > lit(v).cast(df.schema(cursorCol).dataType))
      case None => df
    }

  /** Persist the new high-water mark after a successful load. The write
    * is a [[graft.sinks.Swap]] small-file replace, so a reader never
    * sees a torn or missing cursor. */
  def commit(df: DataFrame, table: String, cursorCol: String): Unit = {
    val mx = df.agg(max(col(cursorCol)).cast("string")).collect()(0)
    if (!mx.isNullAt(0)) {
      val p = stateFile(table, cursorCol)
      graft.sinks.Swap.writeText(p.getFileSystem(hconf), p, mx.getString(0))
    }
  }
}

/** Deterministic synthetic-row generator (reference: the `sample` source
  * provider, pkg/providers/sample/provider.go:32 and iot.go:104-136
  * generate IoT-style rows). Built on `spark.range`, so generation is
  * distributed and reproducible (pure function of the row id — no RNG
  * state, no driver loops).
  */
object SampleSource {
  def iot(spark: SparkSession, rows: Long, devices: Int = 100): DataFrame = {
    spark.range(rows).select(
      col("id").as("event_id"),
      pmod(col("id") * 2654435761L, lit(devices)).as("device_id"),
      timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
      (pmod(col("id") * 1103515245L + 12345L, lit(100000L)).cast("double") / 100.0)
        .as("value"))
  }
}
