package graft.sinks

import graft.functions.Hashing
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

/** The bucketed state layout, end to end: a root directory whose rows
  * live in `__bucket=i/` children keyed by a stable hash of the row key,
  * plus small sidecar files beside them. A batch rewrites only the
  * buckets its keys land in, so rewrite I/O follows the batch's key
  * spread, never the state's size. Two writers use it, the CDC merge
  * ([[graft.streaming.CdcStream.mergeBatch]]) and the bucketed rollups
  * ([[graft.operators.Rollup.foldBucketed]]); both hand [[write]] only
  * their row logic. The layout policy is here: one commit record per
  * root ([[Meta]], `_graft_meta.json`), the size of a new root, and when
  * a batch splits a bucket. docs/state-layout.md is the contract.
  *
  * One batch is [[write]], optionally followed by [[read]]:
  *
  *  - [[write]] finishes or rolls back a [[Swap]] children swap that
  *    died mid-flight, skips a replay of the batch the meta records,
  *    persists the batch's probe frame and collects its touched bucket
  *    ids in one job, reads the existing touched buckets, and hands them
  *    with the batch's [[Layout]] to the caller's row logic, which
  *    clusters its rows through the layout's one Exchange; it writes the
  *    result key-sorted into `<root>.tmp` with the new meta staged last,
  *    and swaps the touched buckets and the meta in as one set. A batch
  *    is three Spark jobs: touched set, shuffle, write (a probe with a
  *    shuffle in its lineage, like the rollup's delta, adds the jobs that
  *    build its cache). The bucket count may grow by one in the same
  *    batch and swap: [[Buckets]] is the layout's linear hashing;
  *  - [[read]] and [[requireSettled]] serve readers, which never
  *    recover: a root whose swap is not settled is refused.
  */
object BucketedState {

  /** The bucket column: the partition key of the layout's children. */
  val BucketCol = "__bucket"

  /** Sentinel for a NULL key component in the rendered key tuple:
    * concat_ws silently DROPS nulls, which would land null-keyed rows in
    * a different bucket than [[bucketOfKey]] names and let composite
    * keys with nulls collide with distinct keys. The NUL prefix cannot
    * appear in a cast-to-string value. */
  private[graft] val NullKey = "\u0000null"

  /** A state's bucket layout, grown by linear hashing (Litwin, *Linear
    * Hashing*, VLDB 1980). `n0` base buckets have been doubled `level`
    * times, and the first `split` buckets of the current level already
    * split. With `m = n0 * 2^level`, a key of hash `h` lives in bucket
    * `h mod m`, or `h mod 2m` when that first value is below `split`. The
    * [[count]] buckets are `0 until m + split`. Since `(h mod 2m) mod m =
    * h mod m`, splitting bucket `split` ([[grown]]) moves some of its rows
    * to bucket `split + m` and moves no other row, so a state grows one
    * bucket at a time. A fixed count `n` is `Buckets(n)`. */
  final case class Buckets(n0: Int, level: Int = 0, split: Int = 0) {
    require(n0 >= 1 && level >= 0 && split >= 0 && split < m,
      s"bad bucket layout n0=$n0 level=$level split=$split")

    def m: Int = n0 << level

    def count: Int = m + split

    /** The bucket of hash `h`. */
    def of(h: Long): Int = {
      val b = math.floorMod(h, m.toLong)
      (if (b < split) math.floorMod(h, 2L * m) else b).toInt
    }

    /** [[of]] as a column. */
    def of(h: Column): Column = {
      val b = pmod(h, lit(m.toLong))
      (if (split == 0) b else when(b < split, pmod(h, lit(2L * m))).otherwise(b))
        .cast("int")
    }

    /** The layout once bucket `split` is split into `split` and
      * `split + m`. */
    def grown: Buckets =
      if (split + 1 == m) Buckets(n0, level + 1) else copy(split = split + 1)
  }

  /** Stable hash of a row's key tuple: md5-derived (engine-stable,
    * skew-free, see [[graft.functions.Hashing]]). NULL components render
    * as [[NullKey]], identically here and in [[bucketOfKey]]. */
  private def keyHash(keys: Seq[String]): Column =
    Hashing.hex8ToLong(concat_ws("\u0001",
      keys.map(c => coalesce(col(c).cast("string"), lit(NullKey))): _*))

  /** Stable bucket of a row under `buckets`. */
  def bucketOf(keys: Seq[String], buckets: Buckets): Column =
    buckets.of(keyHash(keys))

  /** [[bucketOf]] of one key tuple, computed on the driver. Values must
    * render like Spark's string cast (integral and string keys do). */
  def bucketOfKey(key: Seq[Any], buckets: Buckets): Int =
    buckets.of(Hashing.hex8ToLongJvm(key.map(v =>
      if (v == null) NullKey else String.valueOf(v)).mkString("\u0001")))

  def bucketDir(root: String, b: Int): Path = new Path(root, s"$BucketCol=$b")

  def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bakOf(root: String) = new Path(root + ".bak")

  /** The root's one commit record, `_graft_meta.json`, written by both
    * writers and staged last in every swap: the layout every batch agrees
    * on, `bytes` (the data bytes of all buckets), the id of the batch
    * that committed it (-1 for none: the CDC merge, an unnumbered fold),
    * the logical column set across drifts, and the TYPED union schema.
    *
    * `bytes` is kept from each batch's touched-bucket listings. A meta
    * written before it has only `numBuckets` (no level or split pointer),
    * reads as `Buckets(numBuckets)`, and its buckets are listed once.
    * `schema` lets reads pass an explicit schema instead of a mergeSchema
    * sweep over every affected bucket's footer, which at streaming
    * cadence would recur per batch; lagging buckets (lazy DDL migration)
    * read identically either way, since the parquet reader surfaces null
    * for columns a file predates. It is absent when it would not cover
    * every logical column, and on older metas: reads then fall back to
    * mergeSchema. */
  private final case class Meta(buckets: Buckets, bytes: Option[Long], batch: Long,
                                columns: Seq[String], schema: Option[StructType])

  private val MetaName = "_graft_meta.json"

  private def readMeta(fs: FileSystem, root: String): Option[Meta] = {
    val p = new Path(root, MetaName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      def num(name: String): Option[Long] = s""""$name"\\s*:\\s*(-?\\d+)""".r
        .findFirstMatchIn(raw).map(_.group(1).toLong)
      val buckets = num("n0").map(n0 => Buckets(n0.toInt,
          num("level").getOrElse(0L).toInt, num("split").getOrElse(0L).toInt))
        .orElse(num("numBuckets").map(n => Buckets(n.toInt)))
      val cols = """"columns"\s*:\s*\[(.*?)\]""".r.findFirstMatchIn(raw)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      // base64 of StructType.json keeps the regex-parsed file free of
      // nested quotes and braces; a parse failure degrades to None (the
      // mergeSchema fallback), never an error
      val schema = """"schemaB64"\s*:\s*"([A-Za-z0-9+/=]*)"""".r
        .findFirstMatchIn(raw).flatMap(m => scala.util.Try(DataType.fromJson(
          new String(java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8"))
          .asInstanceOf[StructType]).toOption)
      buckets.map(Meta(_, num("bytes"), num("batch").getOrElse(-1L), cols.getOrElse(Nil), schema))
    }
  }

  /** The meta's file text. `numBuckets`, the current count, is what a
    * reader of the oldest format looks for. */
  private def metaJson(m: Meta): String = {
    val b = m.buckets
    val batch = if (m.batch >= 0) s""""batch":${m.batch},""" else ""
    val schema = m.schema.fold("")(s => s""","schemaB64":"${java.util.Base64.getEncoder
      .encodeToString(s.json.getBytes("UTF-8"))}"""")
    s"""{"numBuckets":${b.count},"n0":${b.n0},"level":${b.level},"split":${b.split},""" +
      s""""bytes":${m.bytes.getOrElse(0L)},$batch"columns":[""" +
      m.columns.map("\"" + _ + "\"").mkString(",") + s"]$schema}"
  }

  /** The bucket layout the meta of `root` records, if any. */
  def layout(fs: FileSystem, root: String): Option[Buckets] = readMeta(fs, root).map(_.buckets)

  /** A read of bucket files with `schema`, or with mergeSchema without one:
    * buckets may sit at different drift generations. */
  private def reader(schema: Option[StructType])(r: DataFrameReader): DataFrameReader =
    schema.fold(r.option("mergeSchema", "true"))(r.schema)

  /** Swap recovery on entry, before anything under `root` is read. The
    * meta is the swap's commit record: a swap whose manifest batch id the
    * live meta records committed before its sentinel was written, so only
    * its teardown is finished (rolling back would pair pre-batch buckets
    * with a post-batch meta, and the replay would be skipped and lost).
    * A `.bak` with no manifest that holds flat `part-*` files is a legacy
    * migration interrupted in an older layout: it does not name the
    * bucket dirs already moved in, and all of them are replay debris (the
    * flat snapshot is the pre-batch state). */
  private def recover(fs: FileSystem, root: String): Unit = {
    val (live, bak) = (new Path(root), bakOf(root))
    if (Swap.unlisted(fs, bak) && fs.listStatus(bak).exists(_.getPath.getName.startsWith("part-")))
      fs.listStatus(live).filter(_.getPath.getName.startsWith(BucketCol))
        .foreach(st => fs.delete(st.getPath, true))
    Swap.recoverChildren(fs, live, new Path(root + ".tmp"), bak,
      b => b >= 0 && readMeta(fs, root).exists(_.batch == b))
  }

  /** The batch's one clustering step, handed to the caller's row logic.
    * [[cluster]] adds [[BucketCol]] under the batch's [[buckets]] and
    * sends bucket `b` to write task `b mod k` (`repartitionById`), with
    * `k = min(buckets.count, shufflePartitions)`: the only shuffle the
    * write needs, and no write task holds more than one bucket above any
    * other. A caller groups the clustered rows by [[groupCols]] (the
    * bucket, then the keys); partitioning by the bucket satisfies that
    * grouping, so Spark adds no second Exchange, and a grouping that
    * sorts its input hands the write rows already in bucket-then-key
    * order.
    *
    * The grouping therefore runs on the `k` write tasks: on fewer tasks
    * than shuffle partitions only while the state has fewer buckets than
    * that. A new root starts with at least one bucket per shuffle
    * partition ([[write]]). */
  final class Layout private[sinks] (keys: Seq[String], val buckets: Buckets, k: Int) {
    /** The caller's grouping: the bucket, then the keys. */
    def groupCols: Seq[String] = BucketCol +: keys

    def cluster(rows: DataFrame): DataFrame =
      rows.withColumn(BucketCol, bucketOf(keys, buckets)).repartitionById(k, col(BucketCol))
  }

  /** The schema summary of a root: a parquet file with no row group whose
    * footer holds the state's union schema, under the name Parquet gives
    * summary files. A plain `spark.read.parquet(root)` takes its schema
    * from this file before any data file, so it sees every column while
    * untouched buckets lag a schema drift. Readers that pass a schema or
    * merge footers do not need it, and it is not a data file. */
  val SummaryName = "_common_metadata"

  private def writeSummary(spark: SparkSession, path: Path, schema: StructType): Unit = {
    val w = new ParquetFileWriter(
      HadoopOutputFile.fromPath(path, spark.sessionState.newHadoopConf()),
      new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema),
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT, null /* no encryption */,
      ParquetProperties.builder().build())
    w.start()
    w.end(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", schema.json))
  }

  /** One bucket dir read with the schema in the footer of its data file,
    * or None when it has none. A bucket dir is written whole by one task,
    * so its files share one schema: the one `spark.read.parquet(dir)`
    * infers, read here on the driver instead of in the Spark job that
    * inference runs. */
  def readBucket(spark: SparkSession, fs: FileSystem, dir: Path): Option[DataFrame] = {
    val data = if (!fs.exists(dir)) None else fs.listStatus(dir).find(st =>
      st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    data.map(st => spark.read.schema(footerSchema(spark, st)).parquet(dir.toString))
  }

  /** The Spark schema in the footer of the parquet file `st`, read on
    * the driver: what Spark's schema inference derives from that one
    * footer, without the Spark job inference runs to read it. */
  def footerSchema(spark: SparkSession, st: FileStatus): StructType = {
    val in = ParquetFileReader.open(HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()))
    val footer = try in.getFooter finally in.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The distinct bucket ids of `probe`'s keys, in one job and no
    * Exchange: each partition sets its ids in a bitset of one bit per
    * bucket, and the collected bitsets are ORed. The same job builds a
    * persisted probe's cache. */
  private def touchedBuckets(probe: DataFrame, keys: Seq[String],
                             buckets: Buckets): Seq[Int] = {
    val words = (buckets.count + 63) / 64
    val spark = probe.sparkSession
    import spark.implicits._
    val bits = probe.select(bucketOf(keys, buckets)).as[Int].mapPartitions { ids =>
      val w = new Array[Long](words)
      ids.foreach(b => w(b >> 6) |= 1L << (b & 63))
      Iterator.single(w)
    }.collect().foldLeft(new Array[Long](words))((a, w) =>
      a.indices.map(i => a(i) | w(i)).toArray)
    (0 until buckets.count).filter(b => (bits(b >> 6) & (1L << (b & 63))) != 0)
  }

  /** Bytes of the data files directly under `dir`, 0 when it is absent.
    * Names starting with `.` or `_` (checksums, markers) are not data. */
  private def dataBytes(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).filter(st => st.isFile &&
      !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(_.getLen).sum

  /** Bytes of the data files of every bucket under `root`, from a
    * driver-side listing (no Spark job). */
  private def sizeOf(fs: FileSystem, root: String): Long =
    if (!fs.exists(new Path(root))) 0L
    else fs.listStatus(new Path(root)).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith(s"$BucketCol=")).map(st => dataBytes(fs, st.getPath)).sum

  /** The base bucket count of a new root: one per shuffle partition, so
    * each write task gets one bucket, or one per `target` bytes of the
    * plans' size estimates when that is more. A plan Spark cannot bound
    * counts as unknown: its estimate, or a leaf's, is the default size (a
    * projection or aggregate over an unbounded leaf, like a stream
    * batch's, scales that default down to a huge estimate that bounds
    * nothing). The reference likewise sizes snapshot parts from table
    * size (sharding_storage.go `DesiredTableSize`). */
  private def initialBuckets(first: Seq[DataFrame], target: Long): Int = {
    val conf = first.head.sparkSession.sessionState.conf
    val plans = first.map(_.queryExecution.optimizedPlan)
    val perTarget =
      if (plans.exists(p => (p +: p.collectLeaves()).exists(
          _.stats.sizeInBytes >= conf.defaultSizeInBytes))) BigInt(0)
      else (plans.map(_.stats.sizeInBytes).sum + target - 1) / target
    math.max(conf.numShufflePartitions, perTarget.min(Int.MaxValue).toInt)
  }

  /** One batch into the bucketed root. `probe` carries the key columns of
    * every row the batch changes; it is persisted for the call (unless
    * the caller already cached it), so `next` may read it again from the
    * cache. `next` gets the existing rows of the touched buckets (None
    * when none of them exists yet) and the batch's [[Layout]]; it returns
    * their replacement, clustered through the layout.
    *
    *  - **Replay.** With `batch >= 0`, a root whose meta records `batch`
    *    already holds it: the call recovers the root and returns.
    *  - **Sizing.** A new root gets `max(p, ⌈size / maxPartitionBytes⌉)`
    *    base buckets ([[initialBuckets]]), `size` being the plan estimate
    *    of `sizing` (what the first batch writes) plus a legacy flat
    *    state's. Both settings are Spark's own, read from the session.
    *  - **Growth.** Once the meta's `bytes` pass `maxPartitionBytes` per
    *    bucket, the batch splits bucket `split` ([[Buckets.grown]]): the
    *    split bucket and its new sibling count as touched, so its rows
    *    are re-bucketed by the same clustering, with no job of its own.
    *    A batch splits at most one bucket.
    *  - **Legacy flat layout.** A root with flat `part-*` files and no
    *    meta is read whole as the existing rows, every bucket counts as
    *    touched, and the flat files are swapped out for nothing.
    *  - A root that holds bucket dirs but no meta never recorded its
    *    count: it is refused, since writing it under another count would
    *    split its keys across buckets.
    *
    * Per batch: one job for the touched set, then one plan with one
    * Exchange (the layout's clustering, before `partitionBy`: otherwise
    * every task writes a file into every bucket dir, tasks × buckets
    * files per batch). The caller's grouping runs after that Exchange,
    * on the write tasks. Rows are key-sorted within each bucket, so
    * parquet min/max stats prune a point read inside it. Untouched
    * buckets are never read or written. The new meta's `bytes` adds the
    * touched buckets' data bytes after the write and subtracts those
    * before, from their listings. A batch whose columns the meta has not
    * seen (DDL drift) also stages the root's [[SummaryName]] file. `batch`
    * heads the swap manifest and goes into the meta. */
  def write(root: String, keys: Seq[String], probe: DataFrame, sizing: DataFrame,
            batch: Long = -1L)(next: (Option[DataFrame], Layout) => DataFrame): Unit = {
    val spark = probe.sparkSession
    val fs = fsOf(spark, root)
    val (live, tmp) = (new Path(root), new Path(root + ".tmp"))
    recover(fs, root)
    val prev = readMeta(fs, root)
    if (batch < 0 || !prev.exists(_.batch == batch)) {
      val children = if (fs.exists(live)) fs.listStatus(live).toSeq else Nil
      if (prev.isEmpty && children.exists(_.getPath.getName.startsWith(s"$BucketCol=")))
        throw new IllegalStateException(s"$root holds $BucketCol dirs but no $MetaName, " +
          "so its bucket count was never recorded; a write under another count would " +
          "split its keys across buckets. Rebuild it from its source.")
      // a legacy flat layout: flat part files and no meta
      val flatFiles =
        if (prev.isEmpty && children.exists(st => st.isFile && st.getPath.getName.startsWith("part-")))
          children.filter(_.isFile).map(_.getPath.getName)
        else Nil
      val flat = if (flatFiles.isEmpty) None else Some(spark.read.parquet(root))
      val target = spark.sessionState.conf.filesMaxPartitionBytes
      val buckets = prev.fold(Buckets(initialBuckets(sizing +: flat.toSeq, target)))(_.buckets)
      val bytes = prev.flatMap(_.bytes).getOrElse(sizeOf(fs, root))
      val grow = bytes / buckets.count > target
      val after = if (grow) buckets.grown else buckets
      val layout = new Layout(keys, after,
        math.min(after.count, spark.sessionState.conf.numShufflePartitions))
      val owned = probe.storageLevel == StorageLevel.NONE
      if (owned) probe.persist()
      try {
        val split = if (grow) Seq(buckets.split, buckets.split + buckets.m) else Nil
        val touched = if (flat.isDefined) 0 until after.count
          else (touchedBuckets(probe, keys, after) ++ split).distinct.sorted
        val paths = touched.map(bucketDir(root, _)).filter(fs.exists)
        val rows = next(flat.orElse(
          if (paths.isEmpty) None
          else Some(reader(prev.flatMap(_.schema))(spark.read.option("basePath", root))
            .parquet(paths.map(_.toString): _*).drop(BucketCol))), layout)
        require(rows.columns.contains(BucketCol),
          s"rows rewritten into $root must be clustered through the batch's Layout")
        rows.sortWithinPartitions(layout.groupCols.map(col): _*)
          .write.partitionBy(BucketCol).parquet(tmp.toString)
        val added = touched.map(b => dataBytes(fs, new Path(tmp, s"$BucketCol=$b"))).sum -
          paths.map(dataBytes(fs, _)).sum
        // the column set is the LOGICAL union across drifts: untouched
        // buckets may lag it on disk until a batch touches them
        val cols = rows.columns.filterNot(_ == BucketCol).toSeq
        val prevCols = prev.map(_.columns).getOrElse(Nil)
        val logical = prevCols ++ cols.filterNot(prevCols.contains)
        // typed union schema: this write's schema wins for the columns it
        // carries (it absorbed every touched bucket's drift through the
        // read above); columns only the previous meta knew, dropped by DDL
        // but still in lagging buckets, stay so reads surface them as null
        val union = StructType(cols.map(rows.schema(_).copy(nullable = true)) ++
          prev.flatMap(_.schema).toSeq.flatMap(_.fields.filterNot(f => cols.contains(f.name))))
        // baked only when it covers every logical column: a previous meta
        // without one cannot say what a drift column living only in
        // untouched buckets looks like, and a partial schema would hide it
        val typed = Some(union).filter(u => logical.forall(u.fieldNames.toSet))
        // a drift batch replaces the schema summary, so a plain parquet
        // read of the root infers every column, not one bucket's
        val summary = if (prev.exists(_.columns != logical)) Seq(SummaryName) else Nil
        summary.foreach(n => writeSummary(spark, new Path(tmp, n), union))
        val out = fs.create(new Path(tmp, MetaName))
        try out.write(metaJson(Meta(after, Some(bytes + added), batch, logical, typed))
          .getBytes("UTF-8"))
        finally out.close()
        Swap.installChildren(fs, live, tmp, bakOf(root), flatFiles ++
          touched.map(b => s"$BucketCol=$b") ++ summary :+ MetaName, batch)
      } finally if (owned) probe.unpersist()
    }
  }

  /** Readers do not recover; only the writer does. A root whose
    * `<root>.bak` is not settled ([[Swap.settled]]) is a swap that died
    * mid-flight: some children, perhaps the sidecars too, sit in the
    * backup, and reading the root would return a third state that is
    * neither the one before the batch nor the one after it. Refuse it,
    * naming both paths and the `writer` call that recovers it. */
  def requireSettled(fs: FileSystem, root: String, writer: String): Unit =
    if (!Swap.settled(fs, bakOf(root)))
      throw new IllegalStateException(
        s"$root is half-swapped: $root.bak holds the backup of an " +
          s"interrupted swap. The next $writer into $root recovers it; " +
          "read it after that.")

  /** The whole settled state without its layout column, read with
    * `schema`, else with the meta's typed schema, else with mergeSchema.
    * `empty`, when given, answers for a root that holds no bucket dir (no
    * state yet, or every row retracted). */
  def read(spark: SparkSession, root: String, writer: String,
           schema: Option[StructType] = None,
           empty: Option[() => DataFrame] = None): DataFrame = {
    val fs = fsOf(spark, root)
    requireSettled(fs, root, writer)
    lazy val noBuckets = !fs.exists(new Path(root)) || !fs.listStatus(new Path(root))
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    if (empty.isDefined && noBuckets) empty.get()
    else {
      val df = reader(schema.orElse(readMeta(fs, root).flatMap(_.schema)))(spark.read)
        .parquet(root)
      if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
    }
  }
}
