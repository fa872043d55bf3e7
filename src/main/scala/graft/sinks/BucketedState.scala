package graft.sinks

import graft.functions.Hashing
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
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
  *    adds the jobs that build its cache);
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

  /** Stable bucket of a row: md5-derived hash of the rendered key tuple
    * (engine-stable, skew-free — see [[graft.functions.Hashing]]). NULL
    * components render as [[NullKey]], identically here and in
    * [[bucketOfKey]]. */
  def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(Hashing.hex8ToLong(concat_ws("\u0001",
      keys.map(c => coalesce(col(c).cast("string"), lit(NullKey))): _*)),
      lit(n.toLong)).cast("int")

  /** [[bucketOf]] of one key tuple, computed on the driver. Values must
    * render like Spark's string cast (integral and string keys do). */
  def bucketOfKey(key: Seq[Any], n: Int): Int =
    math.floorMod(Hashing.hex8ToLongJvm(key.map(v =>
      if (v == null) NullKey else String.valueOf(v)).mkString("\u0001")),
      n.toLong).toInt

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
    * [[cluster]] adds [[BucketCol]] and repartitions on it into
    * `k = min(n, shufflePartitions)` partitions: the only shuffle the
    * write needs. A caller aggregates the clustered rows grouped by
    * [[groupCols]] (the bucket, then the keys); the bucket hash
    * partitioning satisfies that grouping, so Spark adds no second
    * Exchange, and an aggregate that sorts its input hands the write rows
    * already in bucket-then-key order.
    *
    * The aggregate therefore runs on the `k` write tasks. With more
    * shuffle partitions than buckets (`p > n`, e.g. a cluster sized at
    * 2-3 partitions per core), a batch that touches every bucket (the
    * bootstrap, a legacy migration, a spread batch) aggregates on `n`
    * tasks where a separate aggregate shuffle would use `p`; it still
    * writes on `n`, as it did before. */
  final class Layout private[sinks] (keys: Seq[String], n: Int, k: Int) {
    /** The caller's grouping: the bucket, then the keys. */
    def groupCols: Seq[String] = BucketCol +: keys

    def cluster(rows: DataFrame): DataFrame =
      rows.withColumn(BucketCol, bucketOf(keys, n)).repartition(k, col(BucketCol))
  }

  /** What replaces the touched buckets: their new rows, which carry the
    * key columns and [[BucketCol]] (take them from a grouping, not from
    * an aggregated struct, so the aggregate's ordering reaches the
    * write), and the sidecar files staged after them, in swap order. A
    * sidecar with no text replaces its live namesake by nothing. */
  final case class Rewrite(rows: DataFrame,
                           sidecars: Seq[(String, Option[String])])

  /** The distinct bucket ids of `probe`'s keys, in one job and no
    * Exchange: each partition sets its ids in a bitset of `n` bits, and
    * the collected bitsets are ORed. The same job builds a persisted
    * probe's cache. */
  private def touchedBuckets(probe: DataFrame, keys: Seq[String], n: Int): Seq[Int] = {
    val words = (n + 63) / 64
    val spark = probe.sparkSession
    import spark.implicits._
    val bits = probe.select(bucketOf(keys, n)).as[Int].mapPartitions { ids =>
      val w = new Array[Long](words)
      ids.foreach(b => w(b >> 6) |= 1L << (b & 63))
      Iterator.single(w)
    }.collect().foldLeft(new Array[Long](words))((a, w) =>
      a.indices.map(i => a(i) | w(i)).toArray)
    (0 until n).filter(b => (bits(b >> 6) & (1L << (b & 63))) != 0)
  }

  /** Rewrite the buckets `probe` touches. `probe` carries the key
    * columns of every row the batch changes; it is persisted for the
    * call (unless the caller already cached it), so `next` may read it
    * again from the cache. `next` gets the existing rows of the touched
    * buckets, read through `reader` with `basePath` (None when none of
    * them exists yet), and the batch's [[Layout]]; it returns their
    * replacement, clustered through the layout.
    *
    * `flat` is a state not bucketed yet (a legacy flat layout): every
    * bucket counts as touched, `flat` is its current rows, and the
    * root's flat files are swapped out for nothing.
    *
    * Per batch: one job for the touched set, then one plan with one
    * Exchange (the layout's clustering, before `partitionBy`: otherwise
    * every task writes a file into every bucket dir, tasks × buckets
    * files per batch). The caller's aggregate runs after that Exchange,
    * on the `min(n, shufflePartitions)` write tasks (see [[Layout]] for
    * what that costs when there are more shuffle partitions than
    * buckets). Rows are key-sorted within each bucket, so parquet
    * min/max stats prune a point read inside it. Untouched buckets are
    * never read or written. `batch` heads the swap manifest. */
  def rewrite(root: String, keys: Seq[String], n: Int, probe: DataFrame,
              reader: DataFrameReader => DataFrameReader = identity,
              flat: Option[DataFrame] = None, batch: Long = -1L)
             (next: (Option[DataFrame], Layout) => Rewrite): Unit = {
    val spark = probe.sparkSession
    val fs = fsOf(spark, root)
    val (live, tmp) = (new Path(root), new Path(root + ".tmp"))
    val owned = probe.storageLevel == StorageLevel.NONE
    if (owned) probe.persist()
    try {
      val touched = if (flat.isDefined) 0 until n else touchedBuckets(probe, keys, n)
      val paths = touched.map(bucketDir(root, _)).filter(fs.exists)
      val layout = new Layout(keys, n,
        math.min(n, spark.sessionState.conf.numShufflePartitions))
      val Rewrite(rows, sidecars) = next(flat.orElse(
        if (paths.isEmpty) None
        else Some(reader(spark.read.option("basePath", root))
          .parquet(paths.map(_.toString): _*).drop(BucketCol))), layout)
      require(rows.columns.contains(BucketCol),
        s"rows rewritten into $root must be clustered through the batch's Layout")
      rows.sortWithinPartitions(layout.groupCols.map(col): _*)
        .write.partitionBy(BucketCol).parquet(tmp.toString)
      for ((name, Some(text)) <- sidecars) {
        val out = fs.create(new Path(tmp, name))
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      val flatFiles = if (flat.isEmpty) Nil
        else fs.listStatus(live).filter(_.isFile).map(_.getPath.getName).toSeq
      Swap.installChildren(fs, live, tmp, bakOf(root), flatFiles ++
        touched.map(b => s"$BucketCol=$b") ++ sidecars.map(_._1), batch)
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
