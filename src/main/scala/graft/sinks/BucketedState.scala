package graft.sinks

import graft.functions.Hashing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The bucketed state layout, end to end: a root directory whose rows
  * live in `__bucket=i/` children keyed by a stable hash of the row key,
  * plus small sidecar files beside them. A batch rewrites only the
  * buckets its keys land in, so rewrite I/O follows the batch's key
  * spread, never the state's size. Two writers use it: the CDC merge
  * ([[graft.streaming.CdcStream.mergeBatch]], sidecar `_graft_meta.json`)
  * and the bucketed rollups ([[graft.operators.Rollup.foldBucketed]],
  * sidecar `_graft_batch`). docs/state-layout.md is the contract.
  *
  * One batch is [[recover]] → [[rewrite]] → optionally [[read]]:
  *
  *  - [[recover]] finishes or rolls back a [[Swap]] children swap that
  *    died mid-flight, before anything is read;
  *  - [[rewrite]] persists the batch's probe frame and collects its
  *    touched bucket ids in one job, reads the existing touched buckets,
  *    and hands them with the batch's [[Layout]] to the caller's row
  *    logic, which clusters its rows through the layout's one Exchange;
  *    it writes the result key-sorted into `<root>.tmp` with the sidecars
  *    staged last, and swaps the touched buckets and sidecars in as one
  *    set. A batch is three Spark jobs: touched set, shuffle, write
  *    (a probe with a shuffle in its lineage, like the rollup's delta,
  *    adds the jobs that build its cache). The bucket count may grow by
  *    one in the same batch and swap: [[Buckets]] is the layout's linear
  *    hashing;
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

  /** Swap recovery on entry; run it before reading anything under
    * `root`. `committed` recognises a crash after a caller's commit
    * record (a sidecar) moved in but before the swap's sentinel was
    * written (see [[Swap.recoverChildren]]). */
  def recover(spark: SparkSession, root: String,
              committed: Long => Boolean = _ => false): Unit =
    Swap.recoverChildren(fsOf(spark, root), new Path(root),
      new Path(root + ".tmp"), bakOf(root), committed)

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
    * that. A CDC state that [[graft.streaming.CdcStream.mergeBatch]]
    * sizes itself starts with at least one bucket per shuffle
    * partition. */
  final class Layout private[sinks] (keys: Seq[String], val buckets: Buckets, k: Int) {
    /** The caller's grouping: the bucket, then the keys. */
    def groupCols: Seq[String] = BucketCol +: keys

    def cluster(rows: DataFrame): DataFrame =
      rows.withColumn(BucketCol, bucketOf(keys, buckets)).repartitionById(k, col(BucketCol))
  }

  /** What replaces the touched buckets: their new rows, which carry the
    * key columns and [[BucketCol]] (take them from the grouping, not
    * from an aggregated struct, so the grouping's ordering reaches the
    * write), and the sidecar files staged after them, in swap order. The
    * sidecars are made once the rows are written, from the bytes the
    * batch adds to the state's data files (negative when it removes
    * more). A sidecar with no text replaces its live namesake by
    * nothing. `summary`, when given, replaces the state's
    * [[SummaryName]] file, ahead of the sidecars. */
  final case class Rewrite(rows: DataFrame,
                           sidecars: Long => Seq[(String, Option[String])],
                           summary: Option[StructType] = None)

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
  def sizeOf(fs: FileSystem, root: String): Long =
    if (!fs.exists(new Path(root))) 0L
    else fs.listStatus(new Path(root)).filter(st => st.isDirectory &&
      st.getPath.getName.startsWith(s"$BucketCol=")).map(st => dataBytes(fs, st.getPath)).sum

  /** Rewrite the buckets `probe` touches. `probe` carries the key
    * columns of every row the batch changes; it is persisted for the
    * call (unless the caller already cached it), so `next` may read it
    * again from the cache. `next` gets the existing rows of the touched
    * buckets, read through `reader` with `basePath` (None when none of
    * them exists yet), and the batch's [[Layout]]; it returns their
    * replacement, clustered through the layout.
    *
    * `grow` splits bucket `buckets.split` in the same batch: the batch's
    * layout is `buckets.grown`, and the split bucket and its new sibling
    * count as touched, so the split bucket's rows are re-bucketed by the
    * same clustering, with no job of its own. The caller records
    * `layout.buckets` in a sidecar.
    *
    * `flat` is a state not bucketed yet (a legacy flat layout): every
    * bucket counts as touched, `flat` is its current rows, and the
    * root's flat files are swapped out for nothing.
    *
    * Per batch: one job for the touched set, then one plan with one
    * Exchange (the layout's clustering, before `partitionBy`: otherwise
    * every task writes a file into every bucket dir, tasks × buckets
    * files per batch). The caller's grouping runs after that Exchange,
    * on the write tasks. Rows are key-sorted within each bucket, so
    * parquet min/max stats prune a point read inside it. Untouched
    * buckets are never read or written. The touched buckets' data bytes
    * before and after the write, from their listings, give the sidecars
    * the batch's byte change. `batch` heads the swap manifest. */
  def rewrite(root: String, keys: Seq[String], buckets: Buckets, probe: DataFrame,
              reader: DataFrameReader => DataFrameReader = identity,
              flat: Option[DataFrame] = None, batch: Long = -1L,
              grow: Boolean = false)
             (next: (Option[DataFrame], Layout) => Rewrite): Unit = {
    val spark = probe.sparkSession
    val fs = fsOf(spark, root)
    val (live, tmp) = (new Path(root), new Path(root + ".tmp"))
    val owned = probe.storageLevel == StorageLevel.NONE
    if (owned) probe.persist()
    try {
      val after = if (grow) buckets.grown else buckets
      val layout = new Layout(keys, after,
        math.min(after.count, spark.sessionState.conf.numShufflePartitions))
      val split = if (grow) Seq(buckets.split, buckets.split + buckets.m) else Nil
      val touched = if (flat.isDefined) 0 until after.count
        else (touchedBuckets(probe, keys, after) ++ split).distinct.sorted
      val paths = touched.map(bucketDir(root, _)).filter(fs.exists)
      val Rewrite(rows, sidecars, summary) = next(flat.orElse(
        if (paths.isEmpty) None
        else Some(reader(spark.read.option("basePath", root))
          .parquet(paths.map(_.toString): _*).drop(BucketCol))), layout)
      require(rows.columns.contains(BucketCol),
        s"rows rewritten into $root must be clustered through the batch's Layout")
      rows.sortWithinPartitions(layout.groupCols.map(col): _*)
        .write.partitionBy(BucketCol).parquet(tmp.toString)
      val added = touched.map(b => dataBytes(fs, new Path(tmp, s"$BucketCol=$b"))).sum -
        paths.map(dataBytes(fs, _)).sum
      summary.foreach(writeSummary(spark, new Path(tmp, SummaryName), _))
      val staged = sidecars(added)
      for ((name, Some(text)) <- staged) {
        val out = fs.create(new Path(tmp, name))
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      val flatFiles = if (flat.isEmpty) Nil
        else fs.listStatus(live).filter(_.isFile).map(_.getPath.getName).toSeq
      Swap.installChildren(fs, live, tmp, bakOf(root), flatFiles ++
        touched.map(b => s"$BucketCol=$b") ++ summary.map(_ => SummaryName) ++
        staged.map(_._1), batch)
    } finally if (owned) probe.unpersist()
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

  /** The whole settled state without its layout column, read through
    * `reader`. `empty`, when given, answers for a root that holds no
    * bucket dir (no state yet, or every row retracted). */
  def read(spark: SparkSession, root: String, writer: String,
           reader: DataFrameReader => DataFrameReader = identity,
           empty: Option[() => DataFrame] = None): DataFrame = {
    val fs = fsOf(spark, root)
    requireSettled(fs, root, writer)
    lazy val noBuckets = !fs.exists(new Path(root)) || !fs.listStatus(new Path(root))
      .exists(_.getPath.getName.startsWith(s"$BucketCol="))
    if (empty.isDefined && noBuckets) empty.get()
    else {
      val df = reader(spark.read).parquet(root)
      if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df
    }
  }
}
