package graft.sinks

import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Sink registry + serializers (reference: pkg/abstract/sink.go Sinker
  * contract; serializer formats pkg/abstract/model/serialization.go:12-18
  * and pkg/serializer/{csv,json,parquet,raw}.go; cleanup policies
  * pkg/abstract/model/endpoint_cleanup_type.go).
  */
object Sinks {

  /** Cleanup policy applied on (re)activation. */
  sealed trait CleanupPolicy
  case object Drop extends CleanupPolicy      // remove target, full rewrite
  case object Truncate extends CleanupPolicy  // clear rows, keep target
  case object Disabled extends CleanupPolicy  // append-only

  private def mode(p: CleanupPolicy): String = p match {
    case Drop | Truncate => "overwrite" // on files both clear the prefix
    case Disabled => "append"
  }

  private val SaltKey = "spark.graft.write.salt"

  /** File sinks. partitionCols ≙ the table_splitter/rotator write layout
    * (per-value directories). */
  def parquet(df: DataFrame, path: String,
              policy: CleanupPolicy = Disabled,
              partitionCols: Seq[String] = Nil): Unit = {
    // repartition on the partition columns BEFORE partitionBy: otherwise
    // every shuffle task writes a file into every value dir
    // (tasks x dirs small files — the cluster-scale write killer)
    // `spark.graft.write.salt` (default 1 = off): hot-partition-value
    // skew relief for THIS path only — the partitioned lake write makes
    // no one-file-per-directory promise (readers list the value dir),
    // so a skewed value may spread over up to `salt` tasks/files
    // instead of serializing through one straggler (guide §2.5; see
    // [[spreadByCols]]'s skew envelope). Production sizing: salt ≈
    // ceil(hot value's bytes / target file bytes); local default stays
    // 1 so bench file counts and plans are unchanged.
    val salt = df.sparkSession.conf.getOption(SaltKey).map(v =>
      v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$SaltKey must be an integer >= 1, got '$v'"))).getOrElse(1)
    val src =
      if (partitionCols.isEmpty) rebalanced(df)
      else spreadByCols(df, partitionCols.map(col), salt = salt)
    val w = src.write.mode(mode(policy))
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Widen a degenerate-parallelism source before a LARGE full-table
    * write. The write inherits the scan's task count, and a snapshot
    * source is often far narrower than the cluster — a single
    * unsplittable file (one huge parquet row group, a gzip'd csv, one
    * JDBC query) serializes the ENTIRE transfer through one encoder
    * task while every other core idles. When the incoming plan has
    * fewer than half the session's cores AND enough bytes per incoming
    * partition that re-encoding dominates (≥ the 128 MB split size —
    * below that the round-robin shuffle's row serialization costs more
    * than the parallel encode saves; measured 1.5x SLOWER on an 11 MB
    * single-file transfer), a round-robin shuffle buys a cores-wide
    * parquet encode. Plain parquet files carry no ordering contract, so
    * round-robin loses nothing; well-parallelized or small inputs pass
    * through untouched, preserving their (possibly deliberate)
    * partitioning.
    *
    * The size estimate comes from the optimized logical plan and costs
    * nothing. The partition count does not: `df.rdd` builds a second
    * physical plan next to the write's own, and under AQE it runs the
    * shuffle map stages of any exchange in the frame before the write
    * starts. Below the 128 MB floor the widen cannot fire for any
    * partition count, so such frames pass through without `df.rdd`. */
  private def rebalanced(df: DataFrame): DataFrame = {
    val minBytes = BigInt(128L << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = df.sparkSession.sparkContext.defaultParallelism
    def narrow: Boolean = {
      val parts = math.max(1, df.rdd.getNumPartitions)
      parts * 2 <= target && bytes / parts >= minBytes
    }
    if (bytes >= minBytes && narrow) df.repartition(target) else df
  }

  /** Hash-repartition on the write's partition columns with an EXPLICIT
    * task count (never the bare `repartition(cols)`): under AQE a bare
    * column repartition of a small frame coalesces to ONE post-shuffle
    * partition, and that single task then writes every value directory's
    * file SERIALLY — measured: a ~250-dir partitioned
    * append off a 1-partition batch spent 8-22 s in one task writing
    * ~250 tiny parquet files back-to-back (~15-90 ms per file open +
    * footer + commit, machine-dependent), 45-50% of the whole standing-
    * index update. An explicit count is exempt from AQE coalescing, so
    * the value groups spread over the cluster and the per-file overhead
    * is paid in parallel. The count stays scale-adaptive: at least the
    * cluster's cores, at least the incoming plan's own parallelism
    * (lake-scale inputs keep their width), plus an optional bytes-derived
    * floor from the caller (compaction passes target bytes/file). Each
    * value group still hashes to exactly ONE task, so the one-file-per-
    * directory packing is preserved.
    *
    * SKEW ENVELOPE: one-task-per-value is
    * a deliberate packing contract, and its price is that a HOT
    * partition value serializes its whole directory through one task
    * and one file — at lake scale a skewed `bucket`/`centroid_id` is a
    * straggler bounded only by the hot value's share of the data (AQE
    * skew splitting cannot help: it never splits a single key, guide
    * §2.5). Callers whose layout spec does NOT require exactly one
    * file per directory (e.g. [[parquet]]'s partitioned path — readers
    * list the whole value dir either way) pass `salt > 1`: each row
    * gets a DETERMINISTIC salt (xxhash64 of the row's non-map columns —
    * never rand(), which duplicates/loses rows when retried map tasks
    * redraw, SPARK-38388) and the hot value spreads over up to `salt`
    * tasks and files. Exact-packing callers (compaction's `filesAfter == dirs`
    * stat, the standing-index appends whose specs count one file per
    * cell per append) keep salt = 1 and accept the documented bound. */
  private[graft] def spreadByCols(df: DataFrame, cols: Seq[Column],
                                  floor: Int = 0, salt: Int = 1): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // Input-width floor WITHOUT a second physical planning pass
    // (df.rdd.getNumPartitions compiled the full non-AQE
    // physical plan — re-listing file sources along the way — solely to
    // read a heuristic width, then the write re-planned from scratch;
    // measurable planning overhead on wide lake plans). The logical
    // plan's size estimate over the session's split size bounds the
    // scan width the same way for the callers that need it: lake
    // compaction/rebuild inputs are parquet scans whose stats are exact
    // file bytes. Join-heavy plans can OVERestimate sizeInBytes by
    // orders of magnitude, so the derived width is capped — each value
    // group still hashes to exactly ONE task, so width beyond the
    // distinct-value count only adds empty tasks.
    val split = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = math.max(sc.defaultParallelism * 16, 4096)
    val byBytes = ((bytes + split - 1) / split).min(BigInt(cap)).toInt
    val n = math.max(math.max(sc.defaultParallelism, floor),
      math.max(1, byBytes))
    // the salt hashes every column xxhash64 accepts (it rejects maps,
    // nested ones included); backtick-quoted df.col keeps a dotted name
    // from resolving as a struct field access
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val hashed =
      if (salt <= 1) Array.empty[Column]
      else df.schema.fields.filterNot(f => hasMap(f.dataType))
        .map(f => df.col("`" + f.name.replace("`", "``") + "`"))
    if (hashed.isEmpty) df.repartition(n, cols: _*)
    else {
      val saltCol = pmod(xxhash64(struct(hashed.toIndexedSeq: _*)),
        lit(salt.toLong))
      df.withColumn("__graft_salt", saltCol)
        .repartition(n, (cols :+ col("__graft_salt")): _*)
        .drop("__graft_salt")
    }
  }

  /** Range-partitioned, internally-sorted parquet write: rows are
    * globally range-split on `sortCols` and sorted within each file, so
    * every file covers a disjoint key range. At lake scale this is what
    * makes parquet min/max statistics selective — a point/range query
    * prunes to one file instead of scanning all of them (the write-side
    * analogue of the reference's PK-ordered `OrderedRead`,
    * postgres/storage.go:250-291). */
  def sortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                    policy: CleanupPolicy = Disabled,
                    partitions: Option[Int] = None): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    val ranged = partitions match {
      case Some(n) => df.repartitionByRange(n, cols: _*)
      case None => df.repartitionByRange(cols: _*)
    }
    ranged.sortWithinPartitions(cols: _*)
      .write.mode(mode(policy)).parquet(path)
  }

  def csv(df: DataFrame, path: String, delimiter: String = ",",
          header: Boolean = true, policy: CleanupPolicy = Disabled): Unit =
    df.write.mode(mode(policy))
      .option("sep", delimiter).option("header", header).csv(path)

  def jsonLines(df: DataFrame, path: String,
                policy: CleanupPolicy = Disabled): Unit =
    df.write.mode(mode(policy)).json(path)

  /** ORC sink — the other splittable columnar lake format (predicate
    * pushdown + column pruning reach the stripe reader just like
    * parquet; same under-parallelism rebalance applies). */
  def orc(df: DataFrame, path: String,
          policy: CleanupPolicy = Disabled): Unit =
    rebalanced(df).write.mode(mode(policy)).orc(path)

  def console(df: DataFrame, rows: Int = 20): Unit = df.show(rows, false)

  /** Compaction outcome: file/byte counts either side of the rewrite. */
  final case class CompactionStats(filesBefore: Int, bytesBefore: Long,
                                   filesAfter: Int)

  /** Small-file compaction of a parquet lake directory — the maintenance
    * pass every streaming/CDC sink needs: micro-batches leave one file
    * per (task, batch), and at lake scale scan cost becomes dominated by
    * per-file open/footer overhead rather than bytes. Bin-packs the
    * directory into ~`targetBytes` files:
    *
    *  - non-partitioned: Spark's file packing already groups small
    *    inputs into ~`maxPartitionBytes` splits, so a `coalesce` to
    *    ceil(bytes/target) merges WITHOUT a shuffle;
    *  - partitioned (`key=value` dirs): rows are re-bucketed on the
    *    partition columns before `partitionBy`, landing one file per
    *    value directory (the same tasks×dirs guard [[parquet]] applies).
    *
    * The rewrite is a [[Swap]] directory swap: stage fully into
    * `<path>.__compact_tmp`, swap via rename with the previous tree kept
    * at `<path>.__compact_bak` until the swap completes — a crash at any
    * point leaves either the old tree or the new one, never a mix, and
    * the next pass recovers it on entry.
    *
    * The decision is made from the listing alone: a directory with at
    * most one parquet file, no larger than `targetBytes`, has nothing
    * to merge and returns its stats without reading a footer,
    * rewriting or swapping (recovery still runs first).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              partitionCols: Seq[String] = Nil): CompactionStats = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".__compact_bak")
    Swap.recoverDir(fs, hPath, tmp, bak)
    // listing via Spark's parallel file index, not a driver-side
    // recursive walk: at compaction cadence the lake holds hundreds of
    // partition dirs and LocalFileSystem's listFiles does a per-entry
    // getFileStatus — measured 3.0 s for 250 dirs / 444 files, walked
    // TWICE per pass (before + after counts), vs ~0.5 s parallel
    def leafParquet(): Seq[Long] =
      org.apache.spark.sql.graft.bridge.listLeafFiles(spark, path)
        .collect { case (p, len) if p.endsWith(".parquet") => len }
    // ONE listing feeds the before-stats, the skip decision and the
    // rewrite's read: spark.read.parquet would re-list the unmutated
    // tree for partition discovery — a second distributed listing job
    // per pass
    val listing = org.apache.spark.sql.graft.bridge.listParquet(spark, path)
    val files = listing.files.collect {
      case (p, len) if p.endsWith(".parquet") => len }
    val totalBytes = files.sum
    if (files.size <= 1 && totalBytes <= targetBytes)
      return CompactionStats(files.size, totalBytes, files.size)
    val df = listing.read()
    if (partitionCols.isEmpty) {
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      df.coalesce(nOut.toInt).write.parquet(tmp.toString)
    } else {
      // bytes-derived floor keeps the rewrite wide at lake scale; the
      // explicit count keeps it parallel at small scale (see
      // [[spreadByCols]] — a bare column repartition AQE-coalesces to
      // one task that writes every partition dir's file serially)
      val floor = ((totalBytes + targetBytes - 1) / targetBytes).toInt
      spreadByCols(df, partitionCols.map(col), floor)
        .write.partitionBy(partitionCols: _*).parquet(tmp.toString)
    }
    Swap.installDir(fs, hPath, tmp, bak)
    val after = leafParquet().size
    CompactionStats(files.size, totalBytes, after)
  }

  // ---------------- queue serializers ----------------

  /** JSON serializer: one JSON object per row over the data columns
    * (serialization format `JSON`, pkg/serializer/queue/json.go). */
  def serializeJson(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val use = if (cols.nonEmpty) cols else E.dataCols(df)
    df.select(to_json(struct(use.map(col): _*)).as("value"))
  }

  /** One CSV line over `cols`: NULL emits an EMPTY field (concat_ws
    * alone would skip it and shift every later column on the wire), and
    * values containing the delimiter, a quote, or a newline are quoted
    * with internal quotes doubled. Shared by this serializer and the
    * queue wire format ([[KafkaSink.CsvWire]]). */
  def csvLine(cols: Seq[Column], delimiter: String = ","): Column = {
    val fields = cols.map { c =>
      val s = coalesce(c.cast("string"), lit(""))
      val needsQuote = s.contains(delimiter) || s.contains("\"") ||
        s.contains("\n") || s.contains("\r")
      when(needsQuote,
        concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\"")))
        .otherwise(s)
    }
    concat_ws(delimiter, fields: _*)
  }

  /** CSV-line serializer (pkg/serializer/csv.go). */
  def serializeCsv(df: DataFrame, cols: Seq[String] = Nil,
                   delimiter: String = ","): DataFrame = {
    val use = if (cols.nonEmpty) cols else E.dataCols(df)
    df.select(csvLine(use.map(col), delimiter).as("value"))
  }
}
