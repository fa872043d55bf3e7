package graft.sinks

import graft.functions.Hashing
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *
  * Writer and readers take a root only as [[write]] leaves it, and refuse
  * any other layout they recognise, naming the root or the meta.
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
    * on, `bytes` (the data bytes of all buckets, kept from each batch's
    * touched-bucket listings), the id of the batch that committed it (-1
    * for none: the CDC merge, an unnumbered fold; the file then has no
    * `batch`), and the TYPED union schema across drifts. Reads pass that
    * schema instead of a mergeSchema sweep over every affected bucket's
    * footer, which at streaming cadence would recur per batch; lagging
    * buckets (lazy DDL migration) read identically either way, since the
    * parquet reader surfaces null for columns a file predates. */
  private final case class Meta(buckets: Buckets, bytes: Long, batch: Long, schema: StructType)

  private val MetaName = "_graft_meta.json"

  /** Refuse a layout [[write]] does not produce, naming `path`. */
  private def refuse(path: Any, what: String): Nothing =
    throw new IllegalStateException(s"$path $what: not a layout BucketedState " +
      "writes. Rebuild the state from its source.")

  /** The meta of `root`, None when it has none. A meta that lacks a field
    * [[metaJson]] writes, or whose schema does not parse, is refused. */
  private def readMeta(fs: FileSystem, root: String): Option[Meta] = {
    val p = new Path(root, MetaName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      def num(name: String): Option[Long] = s""""$name"\\s*:\\s*(-?\\d+)""".r
        .findFirstMatchIn(raw).map(_.group(1).toLong)
      // base64 of StructType.json keeps the regex-parsed file free of
      // nested quotes and braces
      val b64 = """"schemaB64"\s*:\s*"([A-Za-z0-9+/=]*)"""".r.findFirstMatchIn(raw).map(_.group(1))
      val missing = Seq("n0", "level", "split", "bytes").filter(num(_).isEmpty) ++
        (if (b64.isEmpty) Seq("schemaB64") else Nil)
      if (missing.nonEmpty) refuse(p, s"has no ${missing.mkString(", ")}")
      val schema = scala.util.Try(DataType.fromJson(new String(
          java.util.Base64.getDecoder.decode(b64.get), "UTF-8")).asInstanceOf[StructType])
        .getOrElse(refuse(p, "holds a schemaB64 that does not parse as a schema"))
      Some(Meta(Buckets(num("n0").get.toInt, num("level").get.toInt, num("split").get.toInt),
        num("bytes").get, num("batch").getOrElse(-1L), schema))
    }
  }

  /** [[readMeta]], refusing a root that holds rows but no meta: `__bucket`
    * dirs (a bucket count never recorded: a write under another count
    * would split its keys across buckets) or flat `part-*` files. None is
    * a root with no state yet. */
  private def committedMeta(fs: FileSystem, root: String): Option[Meta] = {
    val meta = readMeta(fs, root)
    if (meta.isEmpty && fs.exists(new Path(root))) {
      val names = fs.listStatus(new Path(root)).map(_.getPath.getName)
      if (names.exists(_.startsWith(s"$BucketCol=")))
        refuse(root, s"holds $BucketCol dirs but no $MetaName, so its bucket count was never recorded")
      if (names.exists(_.startsWith("part-")))
        refuse(root, s"holds flat part files and no $MetaName")
    }
    meta
  }

  /** The meta's file text. */
  private def metaJson(m: Meta): String = {
    val b = m.buckets
    val batch = if (m.batch >= 0) s""""batch":${m.batch},""" else ""
    s"""{"n0":${b.n0},"level":${b.level},"split":${b.split},"bytes":${m.bytes},$batch""" +
      s""""schemaB64":"${java.util.Base64.getEncoder.encodeToString(m.schema.json.getBytes("UTF-8"))}"}"""
  }

  /** The bucket layout the meta of `root` records, None for a root with
    * no state yet. Refuses what [[write]] refuses. */
  def layout(fs: FileSystem, root: String): Option[Buckets] = committedMeta(fs, root).map(_.buckets)

  /** Swap recovery on entry, before anything under `root` is read. The
    * meta is the swap's commit record: a swap whose manifest batch id the
    * live meta records committed before its sentinel was written, so only
    * its teardown is finished (rolling back would pair pre-batch buckets
    * with a post-batch meta, and the replay would be skipped and lost). */
  private def recover(fs: FileSystem, root: String): Unit =
    Swap.recoverChildren(fs, new Path(root), new Path(root + ".tmp"), bakOf(root),
      b => b >= 0 && readMeta(fs, root).exists(_.batch == b))

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

  /** The base bucket count of a new root: one per shuffle partition, so
    * each write task gets one bucket, or one per `target` bytes of the
    * plan's size estimate when that is more. A plan Spark cannot bound
    * counts as unknown: its estimate, or a leaf's, is the default size (a
    * projection or aggregate over an unbounded leaf, like a stream
    * batch's, scales that default down to a huge estimate that bounds
    * nothing). The reference likewise sizes snapshot parts from table
    * size (sharding_storage.go `DesiredTableSize`). */
  private def initialBuckets(first: DataFrame, target: Long): Int = {
    val conf = first.sparkSession.sessionState.conf
    val plan = first.queryExecution.optimizedPlan
    val perTarget =
      if ((plan +: plan.collectLeaves()).exists(_.stats.sizeInBytes >= conf.defaultSizeInBytes))
        BigInt(0)
      else (plan.stats.sizeInBytes + target - 1) / target
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
    *    of `sizing` (what the first batch writes). Both settings are
    *    Spark's own, read from the session.
    *  - **Growth.** Once the meta's `bytes` pass `maxPartitionBytes` per
    *    bucket, the batch splits bucket `split` ([[Buckets.grown]]): the
    *    split bucket and its new sibling count as touched, so its rows
    *    are re-bucketed by the same clustering, with no job of its own.
    *    A batch splits at most one bucket.
    *  - **One format.** A root is taken only as this call leaves it: a
    *    meta with the layout, `bytes` and the schema, the bucket dirs and
    *    an optional [[SummaryName]]. Any other layout it recognises (rows
    *    without a meta, a meta missing a field) is refused with an
    *    `IllegalStateException` naming the root or the meta, before
    *    anything is written.
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
    val prev = committedMeta(fs, root)
    if (batch < 0 || !prev.exists(_.batch == batch)) {
      val target = spark.sessionState.conf.filesMaxPartitionBytes
      val buckets = prev.fold(Buckets(initialBuckets(sizing, target)))(_.buckets)
      val bytes = prev.fold(0L)(_.bytes)
      val grow = bytes / buckets.count > target
      val after = if (grow) buckets.grown else buckets
      val layout = new Layout(keys, after,
        math.min(after.count, spark.sessionState.conf.numShufflePartitions))
      val owned = probe.storageLevel == StorageLevel.NONE
      if (owned) probe.persist()
      try {
        val split = if (grow) Seq(buckets.split, buckets.split + buckets.m) else Nil
        val touched = (touchedBuckets(probe, keys, after) ++ split).distinct.sorted
        val paths = touched.map(bucketDir(root, _)).filter(fs.exists)
        // bucket dirs exist only under a meta (committedMeta)
        val rows = next(prev.filter(_ => paths.nonEmpty).map(m =>
          spark.read.schema(m.schema).option("basePath", root)
            .parquet(paths.map(_.toString): _*).drop(BucketCol)), layout)
        require(rows.columns.contains(BucketCol),
          s"rows rewritten into $root must be clustered through the batch's Layout")
        rows.sortWithinPartitions(layout.groupCols.map(col): _*)
          .write.partitionBy(BucketCol).parquet(tmp.toString)
        val added = touched.map(b => dataBytes(fs, new Path(tmp, s"$BucketCol=$b"))).sum -
          paths.map(dataBytes(fs, _)).sum
        // typed union schema across drifts: this write's schema wins for
        // the columns it carries (it absorbed every touched bucket's drift
        // through the read above); columns only the previous meta knew,
        // dropped by DDL but still in lagging buckets, stay so reads
        // surface them as null
        val cols = rows.columns.filterNot(_ == BucketCol).toSeq
        val union = StructType(cols.map(rows.schema(_).copy(nullable = true)) ++
          prev.toSeq.flatMap(_.schema.fields.filterNot(f => cols.contains(f.name))))
        // a drift batch replaces the schema summary, so a plain parquet
        // read of the root infers every column, not one bucket's
        val summary =
          if (prev.exists(_.schema.fieldNames.toSet != union.fieldNames.toSet)) Seq(SummaryName)
          else Nil
        summary.foreach(n => writeSummary(spark, new Path(tmp, n), union))
        val out = fs.create(new Path(tmp, MetaName))
        try out.write(metaJson(Meta(after, bytes + added, batch, union)).getBytes("UTF-8"))
        finally out.close()
        Swap.installChildren(fs, live, tmp, bakOf(root),
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
    * `schema`, else with the meta's. `empty`, when given, answers for a
    * root that holds no bucket dir (no state yet, or every row retracted).
    * Refuses what [[write]] refuses. */
  def read(spark: SparkSession, root: String, writer: String,
           schema: Option[StructType] = None,
           empty: Option[() => DataFrame] = None): DataFrame = {
    val fs = fsOf(spark, root)
    requireSettled(fs, root, writer)
    val meta = committedMeta(fs, root)
    lazy val noBuckets = !fs.exists(new Path(root)) || !fs.listStatus(new Path(root))
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    if (empty.isDefined && noBuckets) empty.get()
    else {
      val s = schema.orElse(meta.map(_.schema)).getOrElse(throw new IllegalStateException(
        s"$root holds no bucketed state: it has no $MetaName"))
      val df = spark.read.schema(s).parquet(root)
      if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
    }
  }
}
