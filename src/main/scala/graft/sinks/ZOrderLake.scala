package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton-curve) data layout + min/max file skipping.
  *
  * A lake sorted on ONE column prunes files only for predicates on that
  * column; every other dimension's values smear across all files.
  * Interleaving the bits of d columns into one z-value and range-
  * partitioning on it gives every file a tight bounding box in ALL d
  * dimensions, so a predicate on ANY of them skips most files — the
  * layout trick behind Delta/Iceberg OPTIMIZE ZORDER, rebuilt here on
  * plain parquet + a stats manifest.
  *
  * Scale shape: the z-value is a pure codegen projection (shift/and/or
  * over already-read columns — zero extra I/O), the layout write is one
  * range shuffle (identical cost to any sorted write), and the manifest
  * is one row per FILE, so planning a 100 TB scan reads a few thousand
  * manifest rows instead of footers of every file.
  *
  * Reference ground: the reference's sharded upload orders parts by a
  * single PK range (sharding upload, pkg/abstract/storage.go TableDescription
  * ranges); multi-dimensional read patterns are where that layout stops
  * pruning and this one keeps going.
  */
object ZOrderLake {

  /** Interleave the low `bits` bits of each (non-negative integer)
    * column: dimension d contributes its bit i at position i*n+d.
    * Callers MUST bound their columns first (e.g. `pmod`, bucketized
    * ranks): a value >= 2^bits contributes only its LOW bits, aliasing
    * onto a small value and landing the row in the wrong z-range —
    * which silently widens file bounding boxes and erodes pruning. */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && bits * cols.size <= 62,
      s"need bits*dims <= 62, got $bits*${cols.size}")
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, d) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast(LongType), i).bitwiseAND(lit(1L)), i * n + d)
    terms.reduce(_ bitwiseOR _)
  }

  /** DuckDB twin of [[zValue]], generated from the same loop so the
    * oracle recomputes bit-identical z-values. */
  def zValueSql(cols: Seq[String], bits: Int = 16): String = {
    val n = cols.size
    (for {
      i <- 0 until bits
      (c, d) <- cols.zipWithIndex
    } yield s"(((CAST($c AS BIGINT) >> $i) & 1) << ${i * n + d})")
      .mkString(" | ")
  }

  /** Write `df` z-ordered on `dims` into `files` range-partitioned
    * parquet files and return the path of a one-row-per-file min/max
    * manifest over `dims` (written next to the data as parquet). */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[String],
                    files: Int, bits: Int = 16): String = {
    val z = zValue(dims.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    buildManifest(df.sparkSession, path, dims)
  }

  /** (Re)build the per-file min/max manifest for `dims` — one scan of
    * the dim columns, grouped by source file. */
  def buildManifest(spark: SparkSession, path: String,
                    dims: Seq[String]): String = {
    val manifestPath = path.stripSuffix("/") + "_manifest"
    minMaxStats(spark.read.parquet(path), dims)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)
    manifestPath
  }

  private def minMaxStats(df: DataFrame, dims: Seq[String]): DataFrame = {
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d")))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental manifest maintenance for append/compact workloads:
    * scan ONLY files not yet in the manifest, drop manifest rows for
    * files that no longer exist, keep the rest untouched. A full
    * rebuild rescans the whole lake — at 100 TB an append of one file
    * must cost one file's scan, which is what this does. Parquet file
    * names are immutable (writers never modify a committed file), so a
    * known file's stats can never go stale.
    *
    * The file listing comes from the read relation's file index
    * (driver metadata, no data scan); the manifest itself is
    * file-count-sized, so the known-set comparison is driver-cheap.
    * The new manifest replaces the old one by a [[Swap]] directory swap
    * (Hadoop rename cannot overwrite a directory): a crash at any step
    * leaves the old manifest or the new one once the next call has
    * recovered it on entry. This is a single-writer maintenance op;
    * readers racing the swap window should retry. */
  def updateManifest(spark: SparkSession, path: String,
                     dims: Seq[String]): String =
    incrementalUpdate(spark, path, path.stripSuffix("/") + "_manifest",
      () => buildManifest(spark, path, dims),
      added => minMaxStats(spark.read.parquet(added: _*), dims))

  /** Incremental [[bloomManifest]] maintenance — same known-files diff
    * as [[updateManifest]]: an append indexes one file's worth. */
  def updateBloomManifest(spark: SparkSession, path: String,
                          column: String, bits: Int = 4096): String =
    incrementalUpdate(spark, path,
      path.stripSuffix("/") + s"_bloom_$column",
      () => bloomManifest(spark, path, column, bits),
      added => bloomStats(spark.read.parquet(added: _*), column, bits))

  /** Incremental [[trigramBloomManifest]] maintenance. Files whose rows
    * are all sub-trigram-length get no manifest row (matching the full
    * build) and so are re-listed as unknown on each update — a no-op
    * rescan of an effectively empty file, never a correctness issue. */
  def updateTrigramManifest(spark: SparkSession, path: String,
                            column: String, bits: Int = 65536): String =
    incrementalUpdate(spark, path,
      path.stripSuffix("/") + s"_trgm_$column",
      () => trigramBloomManifest(spark, path, column, bits),
      added => trigramStats(spark.read.parquet(added: _*), column, bits))

  /** The shared known-files diff + atomic swap behind all three index
    * updates. `freshStats(addedFiles)` must produce rows schema-equal
    * to the full build's (one row per file, keyed `file`).
    *
    * The manifest never rides through the driver: kept rows are a
    * `left_semi` of the old manifest against the current file listing
    * (dropping removed files' rows), fresh rows a distributed stats
    * scan of the added files, and the union is written directly — at
    * 1M+ indexed files the old collect-and-parallelize here was a
    * driver OOM (bloom/trigram rows carry KB-sized position arrays).
    * Only two driver-sized pieces remain, both inherent: the current
    * file LISTING (the same list Spark's own FileIndex materializes to
    * plan any scan of the lake) and the ADDED-file list (bounded by
    * one maintenance interval's append volume, needed to open exactly
    * those files). */
  private def incrementalUpdate(spark: SparkSession, path: String,
                                manifestPath: String,
                                rebuild: () => String,
                                freshStats: Seq[String] => DataFrame)
      : String = {
    val hPath = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(manifestPath + "_bak")
    val tmp = new org.apache.hadoop.fs.Path(manifestPath + "_new")
    Swap.recoverDir(fs, hPath, tmp, bak)
    if (!fs.exists(hPath)) return rebuild()

    import spark.implicits._
    val current = spark.read.parquet(path).inputFiles.toSeq.sorted
    val currentDf = current.toDF("file")
    val old = spark.read.parquet(manifestPath)
    // added = listed but unknown — small (one interval's appends), and
    // needed driver-side anyway to open exactly those files
    val added = currentDf.join(old.select("file"), Seq("file"), "left_anti")
      .as[String].collect().toSeq.sorted
    val anyRemoved = !old.select("file")
      .join(currentDf, Seq("file"), "left_anti").isEmpty
    if (added.isEmpty && !anyRemoved) return manifestPath

    val kept = old.join(currentDf, Seq("file"), "left_semi")
    val combined =
      if (added.isEmpty) kept
      else kept.unionByName(freshStats(added).select(old.columns.map(col): _*))

    // size output files to the manifest's own row count (one row per
    // lake file) — a single output file would bottleneck at millions
    // of entries, 32 shuffle-sized ones litter small lakes
    val parts = math.max(1, math.min(32, current.size / 50000))
    combined.coalesce(parts).write.mode("overwrite").parquet(tmp.toString)
    Swap.installDir(fs, hPath, tmp, bak)
    manifestPath
  }

  /** Files whose bounding box intersects `lo <= dim <= hi` — the
    * planning step. The manifest is file-count-sized, so this is a
    * driver-cheap metadata query. */
  def candidateFiles(spark: SparkSession, manifestPath: String,
                     dim: String, lo: Long, hi: Long): Seq[String] =
    spark.read.parquet(manifestPath)
      .filter(col(s"min_$dim") <= hi && col(s"max_$dim") >= lo)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Manifest-pruned scan: read only intersecting files, then apply the
    * exact predicate. Result-identical to a full scan + filter; I/O
    * proportional to the bounding-box selectivity instead of the table
    * size. */
  def prunedRead(spark: SparkSession, path: String, manifestPath: String,
                 dim: String, lo: Long, hi: Long): DataFrame = {
    val files = candidateFiles(spark, manifestPath, dim, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(dim) >= lo && col(dim) <= hi)
  }

  /** Bloom-filter file index for POINT lookups — the complement of the
    * min/max manifest, which prunes nothing for an equality probe on a
    * high-cardinality key spread across the full value range.
    *
    * Per file, per indexed column: the set of occupied positions
    * `md5-hash(value) % bits` — a bloom bitset in sparse form, bounded
    * by `bits` entries regardless of file size, built by ONE map-side-
    * combined aggregation. False-positive rate ~ fill ratio (choose
    * bits >= a few x the expected per-file distinct count); false
    * negatives impossible, so pruned reads stay result-exact. */
  def bloomManifest(spark: SparkSession, path: String, column: String,
                    bits: Int = 4096): String = {
    val manifestPath = path.stripSuffix("/") + s"_bloom_$column"
    bloomStats(spark.read.parquet(path), column, bits)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)
    manifestPath
  }

  private def bloomStats(df: DataFrame, column: String,
                         bits: Int): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(sort_array(collect_set(pmod(
        graft.functions.Hashing.hex8ToLong(col(column).cast("string")),
        lit(bits.toLong)).cast("int"))).as("positions"))

  /** Files whose bloom bitset contains the probe value's position. */
  def bloomCandidateFiles(spark: SparkSession, bloomPath: String,
                          value: String, bits: Int = 4096): Seq[String] = {
    val pos = math.floorMod(
      graft.functions.Hashing.hex8ToLongJvm(value), bits.toLong).toInt
    spark.read.parquet(bloomPath)
      .filter(array_contains(col("positions"), pos))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Point-lookup scan through the bloom index: result-identical to a
    * full scan + equality filter, reading only files that can contain
    * the value. */
  def bloomPointRead(spark: SparkSession, path: String, bloomPath: String,
                     column: String, value: String,
                     bits: Int = 4096): DataFrame = {
    val files = bloomCandidateFiles(spark, bloomPath, value, bits)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(column).cast("string") === value)
  }

  /** Trigram bloom index: substring-search file pruning. Neither
    * min/max nor a value bloom can prune `contains(text, needle)` —
    * the standard trick (pg_trgm, log-search engines) is a bloom over
    * every 3-char window of the column: a file can contain the needle
    * only if it contains EVERY trigram of the needle. One indexing
    * pass (the trigram explode is |text| rows per doc, map-side
    * combined into a per-file position set bounded by `bits`);
    * probing is a driver-cheap manifest filter. Case-sensitive;
    * needles shorter than 3 chars cannot prune (every file stays a
    * candidate). False negatives impossible, so pruned reads are
    * result-exact. */
  def trigramBloomManifest(spark: SparkSession, path: String,
                           column: String, bits: Int = 65536): String = {
    val manifestPath = path.stripSuffix("/") + s"_trgm_$column"
    trigramStats(spark.read.parquet(path), column, bits)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)
    manifestPath
  }

  private def trigramStats(df: DataFrame, column: String,
                           bits: Int): DataFrame = {
    val s = col(column).cast("string")
    df.filter(s.isNotNull && length(s) >= 3)
      .select(input_file_name().as("file"),
        explode(sequence(lit(1), length(s) - 2)).as("i"), s.as("__s"))
      .select(col("file"), pmod(
        graft.functions.Hashing.hex8ToLong(
          substring(col("__s"), col("i"), lit(3))),
        lit(bits.toLong)).cast("int").as("pos"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("pos"))).as("positions"))
  }

  private def trigramPositions(needle: String, bits: Int): Seq[Int] =
    (0 to needle.length - 3).map { i =>
      math.floorMod(graft.functions.Hashing.hex8ToLongJvm(
        needle.substring(i, i + 3)), bits.toLong).toInt
    }.distinct

  /** Files that can contain `needle` as a substring (all of the
    * needle's trigram positions occupied). Requires a needle of at
    * least 3 chars — shorter needles cannot consult this index (files
    * whose rows are all sub-trigram-length have no manifest row). */
  def trigramCandidateFiles(spark: SparkSession, trgmPath: String,
                            needle: String,
                            bits: Int = 65536): Seq[String] = {
    val pos = trigramPositions(needle, bits)
    require(pos.nonEmpty,
      s"needle '$needle' is shorter than a trigram — no pruning possible")
    spark.read.parquet(trgmPath)
      .filter(pos.map(p =>
        array_contains(col("positions"), p)).reduce(_ && _))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Substring-search scan through the trigram index: result-identical
    * to a full scan + contains filter. Sub-trigram needles fall back
    * to a full scan (the index cannot speak for rows shorter than a
    * trigram). */
  def trigramRead(spark: SparkSession, path: String, trgmPath: String,
                  column: String, needle: String,
                  bits: Int = 65536): DataFrame = {
    val pred = (df: DataFrame) =>
      df.filter(col(column).cast("string").contains(needle))
    if (needle.length < 3) return pred(spark.read.parquet(path))
    val files = trigramCandidateFiles(spark, trgmPath, needle, bits)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    pred(base)
  }
}
