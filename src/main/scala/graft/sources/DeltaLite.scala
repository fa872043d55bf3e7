package graft.sources

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal Delta Lake table reader/writer (reference: the `delta` source
  * provider, pkg/providers/delta — reads Delta tables without the
  * warehouse runtime; the table protocol is public:
  * https://github.com/delta-io/delta/blob/master/PROTOCOL.md).
  *
  * Reads `_delta_log/` JSON commits (and the latest parquet checkpoint
  * if present), replays add/remove actions to the current active file
  * set, and scans those parquet files. Supports partitioned tables
  * (Hive-style directory layout + partitionValues per add action, the
  * layout every mainstream Delta writer emits) with partition-pruned
  * reads; column mapping/DVs are out of scope and rejected loudly
  * rather than misread. Row-level writes ([[deleteWhere]], [[upsert]],
  * [[mergeCdc]]) share one copy-on-write step ([[copyOnWrite]]); every
  * tenth version also writes a checkpoint.
  */
object DeltaLite {

  /** One active data file after replay: table-relative path plus the
    * add action's partitionValues (empty for unpartitioned tables). */
  private final case class AddFile(path: String, partitionValues: Map[String, String])

  /** Table metadata recovered from the log: the table's stable GUID
    * (protocol: metaData.id never changes across versions), the latest
    * schemaString, and the partition columns. */
  final case class TableMeta(id: String, schemaJson: Option[String],
                             partitionColumns: Seq[String])

  private final case class Replay(adds: Seq[AddFile], meta: Option[TableMeta],
                                  txns: Map[String, Long])

  // ---------------------------------------------------------------- read

  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val rep = replayAt(spark, tablePath, None)
    require(rep.adds.nonEmpty, s"Delta table at $tablePath has no active files")
    readFiles(spark, tablePath, rep, rep.adds)
  }

  /** Partition-pruned read: only files whose add-action partitionValues
    * satisfy `pred` are opened — the log IS the file index, so planning
    * touches zero data files and the scan's I/O is proportional to the
    * matching partitions, not the table (the first thing a 100 TB
    * date-partitioned reader needs). Result-identical to read+filter
    * when `pred` mirrors the row predicate on partition columns. */
  def readPruned(spark: SparkSession, tablePath: String,
                 pred: Map[String, String] => Boolean): DataFrame = {
    val rep = replayAt(spark, tablePath, None)
    val files = rep.adds.filter(f => pred(f.partitionValues))
    if (files.isEmpty) {
      val schema = declaredSchema(rep).getOrElse(
        throw new IllegalArgumentException(
          s"no files match and no schemaString recorded at $tablePath"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    } else readFiles(spark, tablePath, rep, files)
  }

  /** Time travel: the table exactly as of commit `version` (the public
    * protocol's `versionAsOf`). Same log replay as [[read]], truncated
    * at `version` — data files are immutable and removes are logical
    * log entries, so every historical state stays reconstructible until
    * a vacuum physically deletes files. */
  def readAt(spark: SparkSession, tablePath: String, version: Long): DataFrame = {
    val rep = replayAt(spark, tablePath, Some(version))
    if (rep.adds.nonEmpty) readFiles(spark, tablePath, rep, rep.adds)
    else {
      // legitimately-empty historical version (e.g. an empty
      // overwrite): schema from the log when recorded, else from any
      // data file in the table history; a never-written table has none
      declaredSchema(rep) match {
        case Some(s) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
        case None =>
          val fs = tableFs(spark, tablePath)
          val anyData = fs.listStatus(new org.apache.hadoop.fs.Path(tablePath))
            .map(_.getPath).filter(_.getName.endsWith(".parquet"))
          if (anyData.isEmpty) spark.emptyDataFrame
          else spark.read.parquet(anyData.head.toString).limit(0)
      }
    }
  }

  private def declaredSchema(rep: Replay): Option[StructType] =
    rep.meta.flatMap(_.schemaJson)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** Nullability erased recursively — schema comparison for write
    * enforcement must not reject an append whose only drift is a
    * non-null column landing in a nullable slot. */
  private def normalizeNullability(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, normalizeNullability(f.dataType), nullable = true)))
    case a: ArrayType =>
      ArrayType(normalizeNullability(a.elementType), containsNull = true)
    case m: MapType => MapType(normalizeNullability(m.keyType),
      normalizeNullability(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Table schema + the incoming frame's NEW columns, appended in
    * their incoming order; a column present on both sides with a
    * different type is a conflict (no silent cast widening). */
  private[sources] def mergeSchemas(table: StructType,
                                    incoming: StructType): StructType = {
    val tTypes = table.fields
      .map(f => f.name -> normalizeNullability(f.dataType)).toMap
    incoming.fields.foreach { f =>
      tTypes.get(f.name).foreach { t =>
        require(t == normalizeNullability(f.dataType),
          s"column '${f.name}' type ${f.dataType.simpleString} conflicts " +
            s"with the table's declared type — schema evolution adds " +
            "columns, it does not change them")
      }
    }
    StructType(table.fields ++
      incoming.fields.filterNot(f => tTypes.contains(f.name))
        .map(f => f.copy(nullable = true)))
  }

  /** Scan a replayed file set with the log's DECLARED schema — the
    * protocol contract: the log, not parquet footer inference, says
    * what the table looks like. Files written before a schema
    * evolution lack the newer columns and read back as NULL there;
    * files carrying columns the declared schema dropped don't leak
    * them. Partitioned tables add basePath: partition column values
    * live in the directory names (the data files do not carry them,
    * per the layout every Delta writer emits), and the explicit schema
    * pins their types — no string/int inference drift. A log with no
    * schemaString (external writer) falls back to a merge-read. */
  private def readFiles(spark: SparkSession, tablePath: String, rep: Replay,
                        files: Seq[AddFile]): DataFrame = {
    val paths = files.map(f => s"$tablePath/${f.path}")
    val pcols = rep.meta.map(_.partitionColumns).getOrElse(Nil)
    if (pcols.isEmpty)
      declaredSchema(rep) match {
        case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
        case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
      }
    else {
      val schema = declaredSchema(rep).getOrElse(throw new IllegalStateException(
        s"partitioned table at $tablePath has no schemaString in its log"))
      spark.read.schema(schema).option("basePath", tablePath)
        .parquet(paths: _*)
        .select(schema.fieldNames.toIndexedSeq
          .map(org.apache.spark.sql.functions.col): _*)
    }
  }

  // -------------------------------------------------------------- replay

  /** Active data files after replaying the log (table-relative paths,
    * insertion-ordered). Starts from the latest parquet checkpoint when
    * `_last_checkpoint` points at one (the public protocol's
    * log-compaction mechanism), then replays only the JSON commits
    * AFTER it — without this, a 10k-commit table costs a driver-side
    * O(n) JSON replay on every read. */
  def activeFiles(spark: SparkSession, tablePath: String): Seq[String] =
    activeFilesAt(spark, tablePath, None)

  def activeFilesAt(spark: SparkSession, tablePath: String,
                    asOf: Option[Long]): Seq[String] =
    replayAt(spark, tablePath, asOf).adds.map(_.path)

  /** Active files with their partitionValues — the planning surface
    * [[readPruned]] filters on. */
  def activeAdds(spark: SparkSession, tablePath: String): Seq[(String, Map[String, String])] =
    replayAt(spark, tablePath, None).adds.map(f => (f.path, f.partitionValues))

  /** The table's stable metadata (GUID, schema, partition columns). */
  def tableMeta(spark: SparkSession, tablePath: String): Option[TableMeta] =
    replayAt(spark, tablePath, None).meta

  /** Replay to `asOf` (or the head): the checkpoint shortcut applies
    * only when the checkpoint is not newer than `asOf` (a newer one
    * already folds commits that must be excluded), and the requested
    * version must actually be committed. */
  private def replayAt(spark: SparkSession, tablePath: String,
                       asOf: Option[Long]): Replay = {
    val fs = tableFs(spark, tablePath)
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    require(fs.exists(logDir), s"not a Delta table: no _delta_log at $tablePath")

    val ckptVersion: Option[Long] = graft.sinks.Swap.readText(fs,
        new org.apache.hadoop.fs.Path(logDir, "_last_checkpoint"))
      .flatMap(text => Option(mapper.readTree(text).get("version")))
      .map(_.asLong)
      .filter(v => asOf.forall(v <= _))
    asOf.foreach { v =>
      val committed = ckptVersion.contains(v) || fs.exists(
        new org.apache.hadoop.fs.Path(logDir, f"$v%020d.json"))
      require(committed, s"version $v was never committed at $tablePath")
    }
    val adds = scala.collection.mutable.LinkedHashMap[String, Map[String, String]]()
    var meta: Option[TableMeta] = None
    // highest committed streaming-transaction version per appId (the
    // protocol's txn actions — the exactly-once handshake for
    // [[writeTxn]]); checkpoints persist them like adds
    val txns = scala.collection.mutable.Map[String, Long]()
    ckptVersion.foreach { v =>
      val ckpt = new org.apache.hadoop.fs.Path(logDir, f"$v%020d.checkpoint.parquet")
      require(fs.exists(ckpt), s"_last_checkpoint points at missing $ckpt")
      val df = spark.read.parquet(ckpt.toString)
      import org.apache.spark.sql.functions.col
      df.where(col("metaData").isNotNull)
        .select("metaData.id", "metaData.schemaString",
          "metaData.partitionColumns")
        .collect().headOption.foreach { r =>
          meta = Some(TableMeta(Option(r.getString(0)).getOrElse(""),
            Option(r.getString(1)),
            Option(r.getSeq[String](2)).map(_.toSeq).getOrElse(Nil)))
        }
      df.where(col("add").isNotNull)
        .select("add.path", "add.partitionValues").collect()
        .foreach { r =>
          val pv = Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty[String, String])
          adds(r.getString(0)) = pv
        }
      // older checkpoints (pre-txn) have no txn column; guard on shape
      if (df.columns.contains("txn"))
        df.where(col("txn").isNotNull)
          .select("txn.appId", "txn.version").collect()
          .foreach(r => txns(r.getString(0)) = r.getLong(1))
    }

    val entries = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .filter(n => ckptVersion.forall(n.stripSuffix(".json").toLong > _))
      .filter(n => asOf.forall(n.stripSuffix(".json").toLong <= _))
      .sorted
    entries.foreach { name =>
      val p = new org.apache.hadoop.fs.Path(logDir, name)
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.linesIterator.filter(_.nonEmpty).foreach { line =>
        parseLine(line) match {
          case ActAdd(path, pv) => adds(path) = pv
          case ActRemove(path) => adds.remove(path)
          case ActMeta(id, schemaJson, pcols) =>
            // schemaString may evolve; the id is the table's stable GUID
            meta = Some(TableMeta(
              if (id.nonEmpty) id else meta.map(_.id).getOrElse(""),
              schemaJson.orElse(meta.flatMap(_.schemaJson)), pcols))
          case ActTxn(appId, v) =>
            txns(appId) = math.max(v, txns.getOrElse(appId, Long.MinValue))
          case ActOther => ()
        }
      }
    }
    Replay(adds.map { case (p, pv) => AddFile(p, pv) }.toSeq, meta,
      txns.toMap)
  }

  // ------------------------------------------------------------- actions

  private sealed trait Action
  private final case class ActAdd(path: String, partitionValues: Map[String, String]) extends Action
  private final case class ActRemove(path: String) extends Action
  private final case class ActMeta(id: String, schemaJson: Option[String],
                                   partitionColumns: Seq[String]) extends Action
  private final case class ActTxn(appId: String, version: Long) extends Action
  private case object ActOther extends Action

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Every this many versions a commit also writes a checkpoint. */
  private val CheckpointInterval = 10

  /** One log action, parsed with a REAL JSON parser: a substring scan
    * misreads external writers' commitInfo lines whose
    * operationParameters happen to contain `"add"` followed by
    * `"path"` (e.g. a serialized predicate), silently injecting a
    * phantom file into the active set. Protocol features we do not
    * implement (deletion vectors, column mapping) are detected and
    * rejected loudly rather than misread. */
  private def parseLine(line: String): Action = {
    import scala.jdk.CollectionConverters._
    val node = mapper.readTree(line)
    if (node.has("add")) {
      val a = node.get("add")
      require(!a.has("deletionVector") || a.get("deletionVector").isNull,
        "DeltaLite does not support deletion vectors")
      val pv = Option(a.get("partitionValues")).map { m =>
        m.fieldNames().asScala.map(k =>
          k -> (if (m.get(k).isNull) null else m.get(k).asText())).toMap
      }.getOrElse(Map.empty[String, String])
      ActAdd(a.get("path").asText(), pv)
    } else if (node.has("remove")) {
      ActRemove(node.get("remove").get("path").asText())
    } else if (node.has("txn")) {
      val t = node.get("txn")
      ActTxn(t.get("appId").asText(), t.get("version").asLong())
    } else if (node.has("metaData")) {
      val m = node.get("metaData")
      Option(m.get("configuration")).foreach { c =>
        require(!c.fieldNames().asScala.exists(_.contains("columnMapping")),
          "DeltaLite does not support column mapping")
      }
      ActMeta(
        Option(m.get("id")).filterNot(_.isNull).map(_.asText()).getOrElse(""),
        Option(m.get("schemaString")).filterNot(_.isNull).map(_.asText()),
        Option(m.get("partitionColumns")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))
    } else ActOther
  }

  // -------------------------------------------------------------- vacuum

  /** Physical cleanup (the protocol's VACUUM): delete data files not
    * referenced by the active set of any of the newest
    * `retainVersions` commits. Removes are LOGICAL until this runs —
    * that is what makes time travel free — so storage only shrinks
    * here. After a vacuum, [[readAt]] older than the retention horizon
    * fails on missing files, exactly like real Delta.
    *
    * Concurrent-writer safety: a writer stages files under `.stage-*`
    * before committing — those are never touched here. `minAgeMs`
    * additionally protects data files moved into place but whose
    * commit json is not yet written (the rename-then-commit window):
    * real Delta's retention-hours check exists for exactly this race.
    * The default 0 is for single-writer tables; set it above your
    * longest write duration when writers run concurrently.
    * Returns the deleted file count. */
  def vacuum(spark: SparkSession, tablePath: String,
             retainVersions: Int = 1, minAgeMs: Long = 0L): Int = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val fs = tableFs(spark, tablePath)
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    val versions = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).sorted
    require(versions.nonEmpty, s"no commits at $tablePath")
    val retained = versions.takeRight(retainVersions)
    val referenced: Set[String] = retained.flatMap(v =>
      activeFilesAt(spark, tablePath, Some(v))).toSet

    val root = new org.apache.hadoop.fs.Path(tablePath)
    val it = fs.listFiles(root, true)
    var deleted = 0
    val rootUri = root.toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri)
        .stripPrefix("/")
      val isData = rel.endsWith(".parquet") &&
        !rel.startsWith("_delta_log") && !rel.contains(".stage-") &&
        !rel.contains(".ckpt-")
      val oldEnough = minAgeMs <= 0L ||
        st.getModificationTime < System.currentTimeMillis() - minAgeMs
      if (isData && oldEnough && !referenced.contains(rel)) {
        fs.delete(st.getPath, false)
        deleted += 1
      }
    }
    deleted
  }

  // --------------------------------------------------------------- write

  /** Minimal Delta-protocol WRITER (the emit direction of the same
    * public protocol): stages parquet data files into the table dir
    * under version-tagged names (Hive-style `col=value/` subdirs when
    * partitioned), then commits one `_delta_log/<version>.json` —
    * protocol on the first commit, metaData with the table's STABLE id
    * on every commit, `remove` actions for the previous active set on
    * overwrite, one `add` (with partitionValues) per data file. The
    * commit file is created with create-exclusive semantics, so two
    * racing writers cannot both claim a version; the loser re-reads the
    * log and retries at the next version (optimistic concurrency per
    * the protocol). Readable by [[read]] and by any Delta reader of
    * reader-version 1. Returns the committed version.
    *
    * `partitionBy` applies on table creation only; appends inherit the
    * table's recorded partitioning (passing a different one raises). */
  def write(df: DataFrame, tablePath: String,
            overwrite: Boolean = false,
            partitionBy: Seq[String] = Nil,
            mergeSchema: Boolean = false,
            txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val fs = tableFs(spark, tablePath)
    val base = nextVersion(fs, tablePath) - 1L
    val existing =
      if (base >= 0L) Some(replayAt(spark, tablePath, None)) else None
    val pcols = existing.flatMap(_.meta).map(_.partitionColumns)
      .getOrElse(partitionBy)
    require(partitionBy.isEmpty || pcols == partitionBy,
      s"table is partitioned by $pcols; cannot write with $partitionBy")
    // Schema enforcement + evolution (the public writer contract): an
    // append must match the table schema; with mergeSchema=true new
    // columns extend it (old files read back as NULL there) while
    // existing columns must keep their types. An overwrite replaces
    // the schema outright — it replaces the data the schema describes.
    val tableSchema = existing.flatMap(declaredSchema)
    val commitSchema = tableSchema match {
      case Some(ts) if !overwrite =>
        def shape(s: StructType) =
          s.fields.map(f => f.name -> normalizeNullability(f.dataType)).toMap
        if (shape(ts) == shape(df.schema)) ts
        else if (mergeSchema) mergeSchemas(ts, df.schema)
        else throw new IllegalArgumentException(
          s"append schema ${df.schema.simpleString} does not match table " +
            s"schema ${ts.simpleString} at $tablePath; pass " +
            "mergeSchema = true to evolve (new columns append, existing " +
            "columns keep their types)")
      case _ => df.schema
    }
    val moved = stageIn(df, fs, tablePath, base + 1L, partitionBy = pcols)
    commitRetrying(spark, tablePath, commitSchema, moved,
      removesThunk = () =>
        if (overwrite && existing.isDefined) activeFiles(spark, tablePath)
        else Nil,
      // overwrite re-targets whatever is active at the winning version,
      // so a lost race is never a conflict — recompute and go again
      abortOnRemoveConflict = false, pcols,
      mintedId = existing.flatMap(_.meta).map(_.id).filter(_.nonEmpty),
      baseVersion = base, txn = txn)
  }

  /** CONVERT TO DELTA (the public protocol's in-place adoption op):
    * take an existing plain-parquet directory — optionally
    * Hive-partitioned `col=value/` — and mint version 0 of a Delta log
    * that records the files AS THEY ARE. No data is rewritten or
    * moved: conversion cost is one directory listing plus one footer
    * read for schema, independent of table size, which is the entire
    * point of the migration path (a 100 TB lake converts in seconds).
    * After conversion every DeltaLite op (append, merge, time travel,
    * vacuum, optimize) works against the adopted files. */
  def convert(spark: SparkSession, tablePath: String): Long = {
    val fs = tableFs(spark, tablePath)
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    require(!fs.exists(logDir), s"$tablePath is already a Delta table")
    val baseUri = fs.getFileStatus(new org.apache.hadoop.fs.Path(tablePath))
      .getPath.toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(tablePath), true)
    val adds = scala.collection.mutable.ArrayBuffer[(String, Long, Map[String, String])]()
    while (it.hasNext) {
      val st = it.next()
      val relDir = st.getPath.getParent.toUri.getPath
        .stripPrefix(baseUri).stripPrefix("/")
      val segs = relDir.split("/").filter(_.nonEmpty).toSeq
      val hidden = st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith(".") ||
        segs.exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && st.getPath.getName.endsWith(".parquet")) {
        val pv = segs.map { seg =>
          val i = seg.indexOf('=')
          require(i > 0, s"non-partition subdirectory '$seg' under " +
            s"$tablePath — convert expects a flat or Hive-partitioned layout")
          seg.substring(0, i) -> unescapePathValue(seg.substring(i + 1))
        }
        val rel = if (segs.isEmpty) st.getPath.getName
          else segs.mkString("", "/", "/") + st.getPath.getName
        adds += ((rel, st.getLen, pv.toMap))
      }
    }
    require(adds.nonEmpty, s"no parquet files to convert under $tablePath")
    // partition columns in directory order; every file must agree
    val pcols = adds.head._1.split("/").dropRight(1).toSeq
      .map(s => s.substring(0, s.indexOf('=')))
    adds.foreach { case (rel, _, pv) =>
      require(pv.keySet == pcols.toSet,
        s"file $rel has partition keys ${pv.keySet}, expected $pcols")
    }
    // schema from footers + path inference (partition columns land as
    // inferred types, pinned into the log so later reads don't re-infer)
    val schema = spark.read.option("basePath", tablePath)
      .parquet(tablePath).schema
    commitRetrying(spark, tablePath, schema, adds.toSeq,
      removesThunk = () => Nil, abortOnRemoveConflict = true,
      pcols, mintedId = None, baseVersion = -1L)
  }

  private def tableFs(spark: SparkSession, tablePath: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tablePath), spark.sparkContext.hadoopConfiguration)

  /** Next version = max(committed json, checkpointed) + 1 — json
    * commits at or below a checkpoint may have been cleaned up. */
  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem,
                          tablePath: String): Long = {
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    if (!fs.exists(logDir)) 0L
    else {
      val jsons = fs.listStatus(logDir).map(_.getPath.getName)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong)
      val ckpts = fs.listStatus(logDir).map(_.getPath.getName)
        .filter(_.endsWith(".checkpoint.parquet"))
        .map(_.stripSuffix(".checkpoint.parquet").toLong)
      (jsons ++ ckpts).maxOption.map(_ + 1).getOrElse(0L)
    }
  }

  /** Undo Hive path escaping (%XX sequences) in a partition dir value;
    * the sentinel dir name maps back to a NULL partition value. */
  private def unescapePathValue(s: String): String =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else "%([0-9A-Fa-f]{2})".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))

  /** Stage `df`'s part files, then move them in under version-tagged
    * names (`tag` keeps two stagings of one commit distinct). With
    * `partitionBy`, files land under Hive-style `col=value/` subdirs
    * and each add records its partitionValues (decoded from the dir
    * names the staging write produced). */
  private def stageIn(df: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
                      tablePath: String, version: Long,
                      tag: String = "",
                      partitionBy: Seq[String] = Nil): Seq[(String, Long, Map[String, String])] = {
    // staging dir is writer-unique, not just version-tagged: two racing
    // writers both staging "version 1" must not clobber each other's
    // temp tree (the commit race is arbitrated later, at the log)
    val staging = new org.apache.hadoop.fs.Path(
      s"$tablePath/.stage-$version$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staging.toString)
    val stagingUri = staging.toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(staging, true)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Long, Map[String, String])]()
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.startsWith("part-")) {
        val relDir = st.getPath.getParent.toUri.getPath
          .stripPrefix(stagingUri).stripPrefix("/")
        val pv = relDir.split("/").filter(_.nonEmpty).map { seg =>
          val i = seg.indexOf('=')
          require(i > 0, s"unexpected staging subdir $seg")
          seg.substring(0, i) -> unescapePathValue(seg.substring(i + 1))
        }.toMap
        val newName = s"part-$version$tag-${name.stripPrefix("part-")}"
        val destDir =
          if (relDir.isEmpty) new org.apache.hadoop.fs.Path(tablePath)
          else new org.apache.hadoop.fs.Path(tablePath, relDir)
        if (relDir.nonEmpty) fs.mkdirs(destDir)
        graft.sinks.Swap.rename(fs, st.getPath,
          new org.apache.hadoop.fs.Path(destDir, newName))
        val rel = if (relDir.isEmpty) newName else s"$relDir/$newName"
        moved += ((rel, st.getLen, pv))
      }
    }
    fs.delete(staging, true)
    moved.toSeq
  }

  private def commitPath(tablePath: String, version: Long) =
    new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log", f"$version%020d.json")

  /** The remove-action paths of one committed version — the winner's
    * write set, consulted by the retry loop's conflict check. */
  private def commitRemoves(fs: org.apache.hadoop.fs.FileSystem,
                            tablePath: String, version: Long): Set[String] = {
    val p = commitPath(tablePath, version)
    if (!fs.exists(p)) return Set.empty
    val in = fs.open(p)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    content.linesIterator.filter(_.nonEmpty).flatMap(parseLine(_) match {
      case ActRemove(path) => Some(path)
      case _ => None
    }).toSet
  }

  /** Optimistic-concurrency commit: claim the next version with a
    * create-exclusive write; on losing the race, re-read the log,
    * conflict-check the winners, and re-commit at the next version
    * (the already-staged data files carry over — the protocol does not
    * require add paths to encode the version).
    *
    * `baseVersion` is the transaction's READ snapshot (the latest
    * version its removes/survivors were computed from): EVERY commit
    * that landed after it is conflict-checked, not just the one that
    * raced the create call — the commit that slips in between a COW
    * op's touched-file probe and its commit attempt is exactly the
    * dangerous one.
    *
    * Conflict rule: a winner that REMOVED a file this commit also
    * removes rewrote data this commit's survivors were computed from —
    * a write-write conflict, aborted with
    * ConcurrentModificationException (real Delta's
    * ConcurrentDeleteDeleteException). Appends (no removes) never
    * conflict; overwrites pass `abortOnRemoveConflict = false` and
    * re-target the new active set instead. Like real Delta's default
    * WriteSerializable level, concurrent APPENDS are not conflicts —
    * two upserts inserting the same new key commute textually, not
    * semantically; serialize writers per key domain if that matters. */
  private[sources] def commitRetrying(spark: SparkSession, tablePath: String,
                             schema: StructType,
                             adds: Seq[(String, Long, Map[String, String])],
                             removesThunk: () => Seq[String],
                             abortOnRemoveConflict: Boolean,
                             partitionColumns: Seq[String],
                             mintedId: Option[String],
                             baseVersion: Long,
                             maxAttempts: Int = 20,
                             txn: Option[(String, Long)] = None): Long = {
    val fs = tableFs(spark, tablePath)
    val freshId = java.util.UUID.randomUUID().toString
    var removes = removesThunk()
    var checked = baseVersion // commits at or below are conflict-cleared
    var attempt = 0
    while (true) {
      val version = nextVersion(fs, tablePath)
      ((checked + 1) until version).foreach { v =>
        val winner = commitRemoves(fs, tablePath, v)
        if (abortOnRemoveConflict && winner.intersect(removes.toSet).nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"commit $v at $tablePath removed files this transaction " +
              s"also rewrites: ${winner.intersect(removes.toSet).take(3).mkString(", ")}")
      }
      // interleaved commits may include a racing writer of the SAME
      // streaming app (restart overlap): re-check the txn watermark so
      // the losing twin skips instead of double-committing its batch
      if (txn.isDefined && version - 1 > checked) {
        val committed = replayAt(spark, tablePath, None).txns
        if (txn.exists { case (a, v) =>
              committed.get(a).exists(_ >= v) })
          return -1L
      }
      // overwrite semantics: re-target whatever the interleaved commits
      // left active, so the overwrite stays a true replace-all
      if (!abortOnRemoveConflict && version - 1 > checked)
        removes = removesThunk()
      checked = version - 1
      // the table's stable GUID: reuse the id minted at version 0 (from
      // the caller's replay, or re-read after losing a v0 race) — a
      // fresh UUID per commit would change the table's identity under
      // every external reader that keys on it (streams, catalogs, CDF)
      val tableId = mintedId
        .orElse(if (version == 0L) None
                else replayAt(spark, tablePath, None).meta
                  .map(_.id).filter(_.nonEmpty))
        .getOrElse(freshId)
      try {
        writeCommit(spark, tablePath, version, schema, adds, removes,
          partitionColumns, tableId, txn)
        return version
      } catch {
        case e: java.io.IOException if fs.exists(commitPath(tablePath, version)) =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Emit one commit of add+remove actions at `version`
    * (create-exclusive: racing writers lose), then checkpoint every
    * [[CheckpointInterval]] versions. Each action line is built by the
    * same `mapper` that [[parseLine]] reads it with, so any string a
    * caller passes (partition value, txn appId) is escaped the way the
    * reader expects. */
  private def writeCommit(spark: SparkSession, tablePath: String,
                          version: Long, schema: StructType,
                          adds: Seq[(String, Long, Map[String, String])],
                          removes: Seq[String],
                          partitionColumns: Seq[String],
                          tableId: String,
                          txn: Option[(String, Long)] = None): Unit = {
    val fs = tableFs(spark, tablePath)
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    def action(kind: String)(fill: ObjectNode => Unit): String = {
      val line = mapper.createObjectNode()
      fill(line.putObject(kind))
      mapper.writeValueAsString(line)
    }
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    if (version == 0L)
      actions += action("protocol")(
        _.put("minReaderVersion", 1).put("minWriterVersion", 2))
    // the txn action rides IN the same commit as its data files —
    // that atomicity is the whole exactly-once guarantee
    txn.foreach { case (appId, v) =>
      actions += action("txn")(
        _.put("appId", appId).put("version", v).put("lastUpdated", now))
    }
    // metaData rides on every commit (protocol-legal replacement, so the
    // log stays self-describing across schema evolution) — with the
    // table's STABLE id, not a per-commit UUID
    actions += action("metaData") { m =>
      m.put("id", tableId)
      m.putObject("format").put("provider", "parquet").putObject("options")
      m.put("schemaString", schema.json)
      val pcols = m.putArray("partitionColumns")
      partitionColumns.foreach(c => pcols.add(c))
      m.putObject("configuration")
      m.put("createdTime", now)
    }
    removes.foreach { p =>
      actions += action("remove")(
        _.put("path", p).put("deletionTimestamp", now).put("dataChange", true))
    }
    adds.foreach { case (name, len, pv) =>
      actions += action("add") { a =>
        a.put("path", name)
        val pvNode = a.putObject("partitionValues")
        pv.foreach { case (k, v) => pvNode.put(k, v) } // null -> JSON null
        a.put("size", len).put("modificationTime", now).put("dataChange", true)
      }
    }
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    val commit = commitPath(tablePath, version)
    val payload = (actions.result().mkString("\n") + "\n").getBytes("UTF-8")
    // Claim the version atomically WITH its content already complete.
    // Hadoop's local create(overwrite=false) is a non-atomic
    // exists-then-create (two racing writers can both pass and one
    // commit is silently overwritten) and it exposes a partially
    // written file to concurrent log readers; stage the payload under a
    // dot-name and hard-link it into place — link(2) is atomic and
    // exclusive, so racing writers lose with FileAlreadyExistsException
    // (an IOException, which the retry loop maps to the next version).
    // On cluster stores (HDFS/object) create-exclusive IS the store's
    // atomic claim — keep it.
    val isLocal = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (isLocal) {
      val dir = java.nio.file.Paths.get(logDir.toUri.getPath)
      val tmpP = java.nio.file.Files.createTempFile(dir, s".$version-", ".tmp")
      try {
        java.nio.file.Files.write(tmpP, payload)
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(commit.toUri.getPath), tmpP)
        ()
      } finally {
        java.nio.file.Files.deleteIfExists(tmpP)
        ()
      }
    } else {
      val out = fs.create(commit, false)
      try out.write(payload) finally out.close()
    }
    if (version > 0 && version % CheckpointInterval == 0)
      checkpoint(spark, tablePath, version, schema)
  }

  /** The table-relative path of an absolute file URI (as
    * `input_file_name` yields) — partition subdirs included, so
    * remove actions stay correct on partitioned layouts. */
  private def relPath(fs: org.apache.hadoop.fs.FileSystem,
                      tablePath: String, uri: String): String = {
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(tablePath))
      .toUri.getPath.stripSuffix("/")
    new java.net.URI(uri).getPath.stripPrefix(root).stripPrefix("/")
  }

  /** The one copy-on-write step of the row-level writers
    * ([[deleteWhere]], [[upsert]], [[mergeCdc]]), which say only what
    * differs: which rows `touches` a file, which of a touched file's
    * rows `keep` keeps, what rows are `added`, and the optional
    * streaming `txn` watermark. The step replays the head, finds the
    * touched files with one scan carrying `input_file_name` (driver
    * state ≤ one string per touched file), stages the touched files'
    * kept rows and the added rows, and commits the new files with
    * removes of the touched ones as ONE version through
    * [[commitRetrying]] (its OCC conflict check and txn re-check
    * included). Untouched files are never rewritten — on a lake
    * clustered by key or predicate locality a call rewrites a sliver
    * of the table, never the whole of it. With `added`, a table that
    * does not exist yet is created by writing it. Returns the committed
    * version, or -1 when nothing is touched and nothing is added (no
    * empty commit) or a racing writer already committed `txn`. */
  private def copyOnWrite(spark: SparkSession, tablePath: String,
                          touches: DataFrame => DataFrame,
                          keep: DataFrame => DataFrame,
                          added: Option[DataFrame],
                          txn: Option[(String, Long)] = None): Long = {
    val fs = tableFs(spark, tablePath)
    val base = nextVersion(fs, tablePath) - 1L
    if (base < 0L && added.isDefined)
      return write(added.get, tablePath, txn = txn)
    val rep = replayAt(spark, tablePath, None)
    require(rep.adds.nonEmpty || added.isDefined,
      s"Delta table at $tablePath has no active files")
    val cur = readFiles(spark, tablePath, rep, rep.adds)
    val touchedUris = touches(cur.withColumn("__file",
        org.apache.spark.sql.functions.input_file_name()))
      .select("__file").distinct().collect().map(_.getString(0)).toSeq
    if (touchedUris.isEmpty && added.isEmpty) return -1L
    val touched = touchedUris.map(relPath(fs, tablePath, _)).toSet
    val touchedAdds = rep.adds.filter(a => touched(a.path))
    require(touchedAdds.size == touched.size, s"touched files missing " +
      s"from the log at $tablePath: ${touched -- touchedAdds.map(_.path)}")
    val pcols = rep.meta.map(_.partitionColumns).getOrElse(Nil)
    val survivors =
      if (touched.isEmpty) Nil
      else stageIn(keep(readFiles(spark, tablePath, rep, touchedAdds)),
        fs, tablePath, base + 1L, tag = "k", partitionBy = pcols)
    val staged = added.toSeq.flatMap(
      stageIn(_, fs, tablePath, base + 1L, tag = "u", partitionBy = pcols))
    commitRetrying(spark, tablePath, added.fold(cur.schema)(_.schema),
      survivors ++ staged, () => touchedAdds.map(_.path),
      abortOnRemoveConflict = true, pcols, mintedId = rep.meta.map(_.id),
      baseVersion = base, txn = txn)
  }

  /** Copy-on-write DELETE (row-level delete under the public protocol,
    * without deletion vectors): only files CONTAINING a row whose
    * `predicate` is TRUE are rewritten, keeping every row whose
    * predicate is FALSE or NULL — SQL DELETE semantics. Returns the
    * committed version, or -1 when no row matched (no commit written —
    * the delete is a no-op, not an empty commit). */
  def deleteWhere(spark: SparkSession, tablePath: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    copyOnWrite(spark, tablePath, touches = _.filter(predicate),
      keep = _.filter(not(coalesce(predicate, lit(false)))), added = None)
  }

  /** Copy-on-write MERGE (PK upsert): files holding rows whose key
    * matches an update are rewritten without those rows; the update
    * batch itself lands as new files, so unmatched keys become inserts
    * by construction. `updates` must be PK-unique (collapse the
    * changelog first, [[graft.operators.Collapse]]). Upserting into a
    * table that does not exist yet creates it. */
  def upsert(spark: SparkSession, tablePath: String, updates: DataFrame,
             pks: Seq[String]): Long = {
    require(pks.nonEmpty, "upsert requires primary keys")
    val keys = updates.select(pks.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
    copyOnWrite(spark, tablePath, touches = _.join(keys, pks, "left_semi"),
      keep = _.join(keys, pks, "left_anti"), added = Some(updates))
  }

  /** Exactly-once CDC merge into a Delta table — the replication
    * loop's foreachBatch body when the target is a LAKE table rather
    * than the engine's bucketed state dir: the enveloped batch
    * collapses last-write-wins per key, surviving upserts replace
    * their keys, deletes drop theirs, and the copy-on-write rewrite
    * commits as ONE version optionally carrying the streaming txn
    * watermark — a replayed micro-batch skips whole (-1). */
  def mergeCdc(spark: SparkSession, tablePath: String, batch0: DataFrame,
               pks: Seq[String], txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions._
    require(pks.nonEmpty, "mergeCdc requires primary keys")
    val E = graft.model.CdcEnvelope
    if (txn.exists { case (a, v) =>
          lastTxnVersion(spark, tablePath, a).exists(_ >= v) })
      return -1L
    val batch =
      if (batch0.columns.contains(E.Kind)) batch0
      else E.fromSnapshot(batch0, lit(0L))
    val collapsed = graft.operators.Collapse.lastWriteWins(
      batch.filter(E.isRowEvent(col(E.Kind))), pks)
    val dataCols = E.dataCols(collapsed)
    val upserts = collapsed.filter(col(E.Kind) =!= E.Delete)
      .select(dataCols.map(col): _*)
    // affected keys = upserted AND deleted — both evict their old rows
    val keys = collapsed.select(pks.map(col): _*).distinct()
    copyOnWrite(spark, tablePath, touches = _.join(keys, pks, "left_semi"),
      keep = _.join(keys, pks, "left_anti"), added = Some(upserts), txn)
  }

  /** Protocol-committed small-file compaction (the lakehouse OPTIMIZE):
    * bin-packs active files smaller than `targetBytes` into
    * ~target-sized rewrites and commits add+remove in one version — a
    * logical no-op (same rows), so readers never see a torn table and
    * time travel still reconstructs every pre-compaction version.
    * Partitioned tables re-stage through their partition layout, so
    * packing is per partition value. Returns the committed version, or
    * -1 when fewer than two small files exist (nothing to gain — no
    * empty commit). Complements the layout-preserving compactor in
    * [[graft.sinks.Sinks]], which targets plain (log-less) lakes. */
  def optimize(spark: SparkSession, tablePath: String,
               targetBytes: Long = 128L * 1024 * 1024): Long = {
    val fs = tableFs(spark, tablePath)
    val base = nextVersion(fs, tablePath) - 1L
    val rep = replayAt(spark, tablePath, None)
    val small = rep.adds.map(a => a -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$tablePath/${a.path}")).getLen)
      .filter(_._2 < targetBytes)
    if (small.size < 2) return -1L
    val totalBytes = small.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val pcols = rep.meta.map(_.partitionColumns).getOrElse(Nil)
    val packed = readFiles(spark, tablePath, rep, small.map(_._1)).coalesce(nOut)
    val moved = stageIn(packed, fs, tablePath, base + 1L, partitionBy = pcols)
    commitRetrying(spark, tablePath, packed.schema, moved,
      () => small.map(_._1.path), abortOnRemoveConflict = true,
      pcols, mintedId = rep.meta.map(_.id),
      baseVersion = base)
  }

  /** Highest committed streaming-transaction version for `appId`, or
    * None if the app never committed — the replay-side half of the
    * protocol's txn handshake. */
  def lastTxnVersion(spark: SparkSession, tablePath: String,
                     appId: String): Option[Long] = {
    val fs = tableFs(spark, tablePath)
    if (nextVersion(fs, tablePath) == 0L) None
    else replayAt(spark, tablePath, None).txns.get(appId)
  }

  /** Exactly-once streaming append (the protocol's `txn` action — what
    * a foreachBatch Delta sink needs for end-to-end exactly-once): the
    * batch's data files and a `{appId, version}` txn action commit in
    * ONE log entry, so a replayed micro-batch (crash after commit,
    * before the streaming checkpoint recorded it) is detected by its
    * watermark and skipped — never appended twice. Returns the
    * committed log version, or -1 when the (appId, txnVersion) pair was
    * already committed (the replay no-op). Racing same-app writers
    * (restart overlap) are resolved inside the OCC retry loop: the
    * loser sees the winner's watermark and skips. */
  def writeTxn(df: DataFrame, tablePath: String, appId: String,
               txnVersion: Long,
               partitionBy: Seq[String] = Nil,
               mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    if (lastTxnVersion(spark, tablePath, appId).exists(_ >= txnVersion))
      return -1L
    write(df, tablePath, overwrite = false,
      partitionBy, mergeSchema, txn = Some((appId, txnVersion)))
  }

  /** RESTORE TO VERSION AS OF — re-activate an earlier version's file
    * set (and schema) as a NEW commit at the head, so the restore is
    * itself versioned, auditable and time-travelable; history is never
    * rewritten (the public protocol's RESTORE semantics). Files removed
    * since the target version re-enter via add actions with their
    * recorded partition values; files added since leave via removes —
    * pure log surgery, no data movement. Fails loudly when a restored
    * file was physically vacuumed; returns -1 without writing an empty
    * commit when the head already matches the target. */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    val fs = tableFs(spark, tablePath)
    val base = nextVersion(fs, tablePath) - 1L
    require(base >= 0, s"not a Delta table at $tablePath")
    val target = replayAt(spark, tablePath, Some(version))
    val head = replayAt(spark, tablePath, None)
    val headPaths = head.adds.map(_.path).toSet
    val targetPaths = target.adds.map(_.path).toSet
    val removes = head.adds.map(_.path).filterNot(targetPaths)
    val readds = target.adds.filterNot(a => headPaths(a.path))
    if (removes.isEmpty && readds.isEmpty) return -1L
    val adds = readds.map { a =>
      val p = new org.apache.hadoop.fs.Path(s"$tablePath/${a.path}")
      require(fs.exists(p), s"cannot restore $tablePath to version " +
        s"$version: data file ${a.path} was vacuumed")
      (a.path, fs.getFileStatus(p).getLen, a.partitionValues)
    }
    val schema = declaredSchema(target).getOrElse(throw new IllegalStateException(
        s"version $version at $tablePath recorded no schemaString"))
    val pcols = target.meta.map(_.partitionColumns).getOrElse(Nil)
    commitRetrying(spark, tablePath, schema, adds, () => removes,
      abortOnRemoveConflict = true, pcols,
      mintedId = head.meta.map(_.id).filter(_.nonEmpty),
      baseVersion = base)
  }

  /** Change data feed by snapshot diff: the row-level changes between
    * two committed versions, keyed on `pks` — right-only keys emit as
    * inserts, left-only as deletes, changed payloads as updates with
    * BOTH images. Output shape is exactly
    * [[graft.operators.Rollup.retractions]]' input (`before`/`after`
    * structs + kind/lsn/counter), so a lake diff folds straight into a
    * maintained aggregate. Cost is one full-outer join of the two
    * version snapshots (this minimal log stores no per-commit change
    * files; the diff is computed, not replayed — the DBLog
    * snapshot-reconcile tradeoff, reference pkg/dblog). Unchanged rows
    * are dropped via null-safe struct comparison. */
  def changesBetween(spark: SparkSession, tablePath: String,
                     fromV: Long, toV: Long,
                     pks: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(pks.nonEmpty, "changesBetween requires primary keys")
    val E = graft.model.CdcEnvelope
    val a = readAt(spark, tablePath, fromV)
    val b = readAt(spark, tablePath, toV)
    val l = a.select(pks.map(col) :+
      struct(a.columns.map(col).toIndexedSeq: _*).as("before"): _*)
    val r = b.select(pks.map(col) :+
      struct(b.columns.map(col).toIndexedSeq: _*).as("after"): _*)
    val kind = when(col("before").isNull, E.Insert)
      .when(col("after").isNull, E.Delete)
      .when(not(col("before") <=> col("after")), E.Update)
    l.join(r, pks, "full_outer")
      .select(col("before"), col("after"), kind.as(E.Kind),
        lit(toV).as(E.Lsn), lit(0).as(E.Counter))
      .filter(col(E.Kind).isNotNull)
  }

  private val ckptSchema = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType))))))

  /** Write a protocol checkpoint at `version`: one parquet file
    * `_delta_log/<version>.checkpoint.parquet` holding the full replayed
    * state (protocol + metaData + one `add` row per active file, with
    * partitionValues), then point `_last_checkpoint` at it. Readers
    * start from the newest checkpoint and replay only later JSON
    * commits; JSON commits at or below the checkpoint become prunable
    * (log cleanup). Single-file checkpoint naming per the public
    * protocol. */
  def checkpoint(spark: SparkSession, tablePath: String, version: Long,
                 schema: StructType): Unit = {
    val fs = tableFs(spark, tablePath)
    val logDir = new org.apache.hadoop.fs.Path(s"$tablePath/_delta_log")
    // replay AT the labeled version, not HEAD: under OCC a concurrent
    // commit landing after `version` must not be baked into a
    // checkpoint labeled `version`, or readAt(asOf) starting from this
    // checkpoint would silently return post-asOf state
    val rep = replayAt(spark, tablePath, Some(version))
    val now = System.currentTimeMillis()
    val metaId = rep.meta.map(_.id).filter(_.nonEmpty)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val pcols = rep.meta.map(_.partitionColumns).getOrElse(Nil)
    // the schema stamped into the checkpoint must be the one the log
    // recorded AT `version` — a caller passing the HEAD schema after
    // evolution would otherwise bake a future schema into a historical
    // checkpoint and skew readAt(asOf) replays that start from it
    val schemaAtVersion =
      rep.meta.flatMap(_.schemaJson).getOrElse(schema.json)
    val rows: Seq[Row] =
      (Row(Row(1, 2), null, null, null) +:
      Row(null, Row(metaId, Row("parquet"),
        schemaAtVersion, pcols, now), null, null) +:
      rep.adds.map { f =>
        val len = fs.getFileStatus(
          new org.apache.hadoop.fs.Path(tablePath, f.path)).getLen
        Row(null, null, Row(f.path, f.partitionValues, len, now, true), null)
      }) ++
      // streaming-transaction watermarks survive checkpointing, or the
      // exactly-once replay check would forget committed batches once
      // their JSON commits fall behind a checkpoint
      rep.txns.toSeq.sortBy(_._1).map { case (appId, v) =>
        Row(null, null, null, Row(appId, v))
      }
    import scala.jdk.CollectionConverters._
    val staging = new org.apache.hadoop.fs.Path(s"$tablePath/.ckpt-$version")
    spark.createDataFrame(rows.asJava, ckptSchema).coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val part = fs.listStatus(staging)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException("checkpoint write lost"))
    val dst = new org.apache.hadoop.fs.Path(logDir, f"$version%020d.checkpoint.parquet")
    graft.sinks.Swap.replaceFile(fs, part, dst)
    fs.delete(staging, true)
    // _last_checkpoint LAST: a crash before this line leaves the old
    // pointer valid; the orphan checkpoint file is harmless
    graft.sinks.Swap.writeText(fs,
      new org.apache.hadoop.fs.Path(logDir, "_last_checkpoint"),
      s"""{"version":$version,"size":${rows.length}}""")
  }
}
