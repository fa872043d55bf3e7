package graft.streaming

import graft.model.{CdcEnvelope => E}
import graft.operators.{Collapse, TransformerChain}
import graft.sinks.{BucketedState, Swap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming replication: the Spark Structured Streaming re-expression of
  * the reference's replication loop (reference:
  * runtime/local/replication.go:210-234 `Source.Run(AsyncSink)` with
  * retry/backoff; pkg/middlewares/synchronizer/bufferer/bufferer.go:16-32
  * flush triggers; retrier + PK-upsert idempotence sink.go:14-20).
  *
  * Mapping: source offsets/acks -> checkpointed offsets; bufferer
  * count/size/interval -> micro-batch triggers; at-least-once + PK upsert
  * -> exactly-once via checkpoint + idempotent per-batch MERGE.
  */
object CdcStream {

  /** Bufferer flush-trigger config (reference: bufferer.go:16-32
    * TriggingCount/TriggingSize/TriggingInterval). Count/size triggers
    * map to source rate limits (`maxOffsetsPerTrigger` etc.) which are
    * source options; the interval maps to the processing trigger. */
  final case class Bufferer(interval: Option[String] = Some("10 seconds"),
                            availableNow: Boolean = false,
                            maxRecordsPerBatch: Option[Long] = None,
                            maxBytesPerBatch: Option[Long] = None) {
    def trigger: Trigger =
      if (availableNow) Trigger.AvailableNow()
      else interval.map(Trigger.ProcessingTime(_)).getOrElse(
        Trigger.ProcessingTime(0L))

    /** Count/size flush limits become source rate options (the trigger
      * point is source-specific: Kafka uses maxOffsetsPerTrigger, file
      * sources maxFilesPerTrigger/maxBytesPerTrigger). */
    def sourceOptions(sourceKind: String): Map[String, String] =
      sourceKind match {
        case "kafka" =>
          maxRecordsPerBatch.map("maxOffsetsPerTrigger" -> _.toString).toMap
        case "file" =>
          maxBytesPerBatch.map("maxBytesPerTrigger" -> _.toString).toMap ++
            maxRecordsPerBatch.map("maxFilesPerTrigger" -> _.toString).toMap
        case _ => Map.empty
      }
  }

  /** State-dir metadata: the bucket layout every batch agrees on
    * ([[BucketedState.Buckets]]: base count, level and split pointer),
    * the data bytes of the buckets, and the column set, so bucket schemas
    * stay homogeneous. `bytes` is kept from each batch's touched-bucket
    * listings; an older meta has none (nor a level or split pointer, so
    * its `numBuckets` is the base count at level 0), and its buckets are
    * then listed once. `schema` is the TYPED union across drifts: with
    * it, state reads pass an explicit schema instead of mergeSchema,
    * skipping the per-batch footer-inference job over every affected
    * bucket — at lake scale a mergeSchema read sweeps EVERY file footer
    * of the affected buckets before the real read even starts, and at
    * streaming cadence that job recurs per micro-batch. Lagging buckets
    * (lazy DDL migration) read identically either way: the parquet
    * reader surfaces null for schema columns a file predates — the
    * exact semantics mergeSchema produced. Absent when it would not
    * cover every logical column, and on older metas: readers then fall
    * back to mergeSchema. */
  private final case class StateMeta(buckets: BucketedState.Buckets,
      bytes: Option[Long], columns: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)

  private val MetaName = "_graft_meta.json"
  /** The writer call named by readers that refuse a half-swapped state. */
  private val Writer = "CdcStream.mergeBatch"

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
                       dir: String): Option[StateMeta] = {
    val p = new org.apache.hadoop.fs.Path(dir, MetaName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      def num(name: String): Option[Long] = s""""$name"\\s*:\\s*(\\d+)""".r
        .findFirstMatchIn(raw).map(_.group(1).toLong)
      val buckets = num("n0").map(n0 => BucketedState.Buckets(n0.toInt,
          num("level").getOrElse(0L).toInt, num("split").getOrElse(0L).toInt))
        .orElse(num("numBuckets").map(n => BucketedState.Buckets(n.toInt)))
      val cols = """"columns"\s*:\s*\[(.*?)\]""".r.findFirstMatchIn(raw)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      // typed schema, base64 of StructType.json — base64 keeps the
      // regex-parsed meta file free of nested quotes/braces. Any parse
      // failure degrades to None (mergeSchema fallback), never an error.
      val schema = """"schemaB64"\s*:\s*"([A-Za-z0-9+/=]*)"""".r
        .findFirstMatchIn(raw).map(_.group(1)).flatMap { b64 =>
          scala.util.Try {
            org.apache.spark.sql.types.DataType.fromJson(new String(
              java.util.Base64.getDecoder.decode(b64), "UTF-8"))
              .asInstanceOf[org.apache.spark.sql.types.StructType]
          }.toOption
        }
      buckets.map(StateMeta(_, num("bytes"), cols.getOrElse(Nil), schema))
    }
  }

  /** The meta's file text. The meta is a sidecar of the bucket swap:
    * staged beside the rewritten buckets and moved in last, so it is
    * never overwritten in place. */
  private def metaJson(meta: StateMeta): String = {
    val schemaField = meta.schema.map { s =>
      s""","schemaB64":"${java.util.Base64.getEncoder
        .encodeToString(s.json.getBytes("UTF-8"))}""""
    }.getOrElse("")
    val b = meta.buckets
    s"""{"numBuckets":${b.count},"n0":${b.n0},"level":${b.level},""" +
      s""""split":${b.split},"bytes":${meta.bytes.getOrElse(0L)},"columns":[""" +
      meta.columns.map("\"" + _ + "\"").mkString(",") + s"]$schemaField}"
  }

  /** Buckets may sit at different drift generations (lazy migration), so
    * a state read must union their schemas, not inherit whichever file
    * the reader samples first. With the meta's typed union schema that
    * union is known: reads pass it and skip the footer-inference
    * mergeSchema job (lagging buckets surface null for columns they
    * predate either way, see [[StateMeta]]); a meta without one falls
    * back to mergeSchema. */
  private def stateReader(meta: Option[StateMeta])
      (r: org.apache.spark.sql.DataFrameReader) =
    meta.flatMap(_.schema).fold(r.option("mergeSchema", "true"))(r.schema)

  /** Read the merged state back without the layout's bucket column.
    * Schema-merging: under lazy DDL migration bucket dirs may sit at
    * different drift generations; the union schema surfaces null for
    * columns a lagging bucket predates. Throws on a half-swapped state
    * dir, naming the paths ([[BucketedState.requireSettled]]). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    BucketedState.read(spark, stateDir, Writer,
      stateReader(readMeta(BucketedState.fsOf(spark, stateDir), stateDir)))

  /** Point lookup: compute the key's bucket on the DRIVER
    * ([[BucketedState.bucketOfKey]], the twin of the layout's hash) and
    * scan ONLY that bucket dir — I/O is one bucket of the state, and the
    * PK-sorted files prune further via parquet min/max stats. Key values
    * must render like Spark's string cast (integral/string keys do).
    * Under lazy DDL migration the result carries the BUCKET's schema
    * generation (a bucket dir is always internally homogeneous —
    * rewrites replace it whole); a lagging bucket simply lacks columns
    * it predates, the same contract as a pre-drift read of the whole
    * state. Throws on a half-swapped state dir, as [[readState]] does. */
  def lookup(spark: SparkSession, stateDir: String, pks: Seq[String],
             key: Seq[Any]): DataFrame = {
    require(pks.length == key.length, "one value per key column")
    val fs = BucketedState.fsOf(spark, stateDir)
    BucketedState.requireSettled(fs, stateDir, Writer)
    val buckets = readMeta(fs, stateDir).map(_.buckets).getOrElse(
      throw new IllegalArgumentException(s"$stateDir is not a bucketed state"))
    val dir = BucketedState.bucketDir(stateDir, BucketedState.bucketOfKey(key, buckets))
    // an absent bucket dir means no rows hash there: an empty result in
    // the state schema, not an error
    val df =
      if (fs.exists(dir)) spark.read.parquet(dir.toString)
      else readState(spark, stateDir).limit(0)
    // null-safe equality: a null key value must MATCH null cells, not
    // filter everything (=== with null is null)
    pks.zip(key).foldLeft(df) { case (d, (k, v)) => d.filter(col(k) <=> lit(v)) }
  }

  /** Upsert-MERGE a micro-batch into a PK-hash-bucketed parquet state
    * dir ([[BucketedState]]). Idempotent: replaying a batch converges to
    * the same state (PK last-write-wins by (__lsn, __counter)), which is
    * what makes checkpoint-replay exactly-once.
    *
    * Incremental by construction: the state is laid out as
    * `stateDir/__bucket=i/` dirs keyed by a stable PK hash, and a batch
    * rewrites ONLY the buckets containing its keys — rewrite I/O scales
    * with the batch's key spread, not total state size (the flat-layout
    * predecessor rewrote the whole state every batch). Per-batch plan,
    * three Spark jobs: one pass over the batch's row events for the
    * touched-bucket set (it also builds their cache); then ONE plan with
    * ONE Exchange, the layout's clustering of (the touched buckets
    * re-entered as older-than-everything inserts) ∪ (the row events) on
    * the bucket, one write task per bucket while there are no more
    * buckets than shuffle partitions, followed by ONE last-write-wins
    * ([[Collapse.lastWriteWinsClustered]]: the newest row per (bucket,
    * pks), one sort inside the clustered partitions) and the partitioned
    * write, which reuses that sort. Keeping the newest event per key is
    * associative, so this equals collapsing the batch first and merging
    * the result; the bucket is a function of the pks, so grouping by it
    * too changes no row. The rewritten buckets and the new meta then
    * replace the old ones in one [[graft.sinks.Swap]] children swap, so
    * a crash at any step leaves the pre-batch or the post-batch state,
    * and the replayed batch converges because the merge itself is
    * idempotent. At warehouse scale the same batch function lands on a
    * Delta/Iceberg MERGE INTO — the last-write-wins rule, key discipline
    * and bucket-pruned rewrite are identical (reference semantics:
    * pkg/sink_factory/sink_factory.go:100-133 middleware ordering,
    * Collapse before write change_item_collapse.go:48).
    *
    * Bucket count: the meta's layout, else `numBuckets`, else a new
    * state gets one bucket per shuffle partition, or one per
    * `spark.sql.files.maxPartitionBytes` of the plan's size estimate of
    * what its first batch writes when that is more (one per shuffle
    * partition when the estimate is unknown). The state then grows by
    * linear hashing ([[BucketedState.Buckets]]): the meta keeps the
    * buckets' data bytes, and once they pass `maxPartitionBytes` per
    * bucket, a batch splits the bucket at the split pointer into two in
    * its own children swap, with the meta moved last and no extra Spark
    * job; a batch splits at most one bucket. Both settings are Spark's
    * own, read from the session; the reference likewise sizes snapshot
    * parts from table size (sharding_storage.go `DesiredTableSize`).
    *
    * Schema drift (DDL adding columns, change_item.go DDL kinds) migrates
    * LAZILY, per bucket: a drifting batch rewrites only the buckets its
    * keys touch (each bucket dir is homogeneous — it is replaced whole on
    * every rewrite), untouched buckets keep their pre-drift files
    * byte-identical, and converge to the new schema when a later batch
    * CARRYING the drifted columns touches them — directly, or via the
    * schema-union affected-bucket read. Untouched buckets may lag the
    * meta's union indefinitely, by design: reads stay correct (the
    * union schema null-backfills columns a file predates) without the
    * stop-the-world rewrite that at 100 TB of state would be an
    * unbounded pause inside one micro-batch. The meta
    * carries the TYPED union schema, so (a) state reads pass it
    * explicitly instead of paying a mergeSchema footer sweep per
    * batch, and (b) any rewrite a batch does perform projects the
    * touched buckets to the union (null-filled drifted columns) —
    * observable results are identical either way, convergence is just
    * faster. A meta without the typed schema falls back to mergeSchema
    * reads. The meta's column set records the
    * logical union across drifts. A legacy flat-layout dir is still
    * migrated whole on first contact (its layout, not just its
    * schema, changes). */
  def mergeBatch(batch0: DataFrame, stateDir: String, pks: Seq[String],
                 numBuckets: Option[Int] = None): Unit = {
    // with no key, every row would hash to one bucket and the
    // last-write-wins would keep one row per bucket
    require(pks.nonEmpty, s"mergeBatch into $stateDir needs at least one primary key")
    // plain (non-enveloped) frames merge as snapshot inserts
    val batch =
      if (batch0.columns.contains(E.Kind)) batch0
      else E.fromSnapshot(batch0, lit(0L))
    val spark = batch.sparkSession
    val fs = BucketedState.fsOf(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val bak = new org.apache.hadoop.fs.Path(stateDir + ".bak")
    // a .bak without a swap manifest that holds flat part-* files is an
    // interrupted legacy migration in the older layout: it does not
    // name the bucket dirs already moved in, and all of them are
    // replay debris (the flat snapshot is the pre-batch state)
    if (Swap.unlisted(fs, bak) && fs.listStatus(bak)
        .exists(_.getPath.getName.startsWith("part-")))
      fs.listStatus(root).filter(_.getPath.getName.startsWith(BucketedState.BucketCol))
        .foreach(st => fs.delete(st.getPath, true))
    // a swap that died mid-flight never reached the checkpoint, so its
    // batch replays: recovery restores the pre-batch buckets and meta
    // (or finishes a committed teardown) before anything is read
    BucketedState.recover(spark, stateDir)
    val meta = readMeta(fs, stateDir)

    // legacy flat layout: state exists but predates the bucketed meta —
    // the only full migration left (the LAYOUT changes, not just the
    // schema; DDL drift migrates lazily per touched bucket instead).
    // A legacy dir is read whole, and its flat files are swapped out
    val flat =
      if (meta.isEmpty && fs.exists(root) && fs.listStatus(root).exists(s =>
          s.isFile && s.getPath.getName.startsWith("part-")))
        Some(spark.read.parquet(stateDir))
      else None
    val target = spark.sessionState.conf.filesMaxPartitionBytes
    val buckets = meta.map(_.buckets).orElse(numBuckets.map(BucketedState.Buckets(_)))
      .getOrElse(BucketedState.Buckets(initialBuckets(batch0 +: flat.toSeq, target)))
    val bytes = meta.flatMap(_.bytes).getOrElse(BucketedState.sizeOf(fs, stateDir))

    // the batch's raw row events, projected to data columns + ordering:
    // the probe whose keys name the touched buckets AND the new side of
    // the one last-write-wins below (read back from the probe's cache)
    val rows = batch.filter(E.isRowEvent(col(E.Kind)))
    val events = rows.select(
      (E.dataCols(rows) ++ Seq(E.Kind, E.Lsn, E.Counter)).map(col): _*)
    BucketedState.rewrite(stateDir, pks, buckets, events, stateReader(meta),
        flat = flat, grow = bytes / buckets.count > target) { (existing, layout) =>
      // current state re-enters as older-than-everything inserts.
      // unionByName with allowMissingColumns absorbs mid-stream schema
      // drift (DDL adding/dropping columns): new columns backfill null
      // in old state, dropped columns null out in new events —
      // Delta-style mergeSchema semantics (SURVEY §1.4 DDL mapping).
      // The union is clustered once, by the layout; the bucket is a
      // function of the pks, so grouping by it too keeps one row per key
      val merged = Collapse.lastWriteWinsClustered(layout.cluster(existing.fold(events)(cur =>
        cur.withColumn(E.Kind, lit(E.Insert))
          .withColumn(E.Lsn, lit(Long.MinValue))
          .withColumn(E.Counter, lit(0))
          .unionByName(events, allowMissingColumns = true))), layout.groupCols)
      // union of old-state and new-batch data columns (schema drift)
      val outCols = E.dataCols(merged).filterNot(_ == BucketedState.BucketCol)
      val out = merged.filter(col(E.Kind) =!= E.Delete)
        .select((BucketedState.BucketCol +: outCols).map(col): _*)

      // the meta column set is the LOGICAL union across drifts: untouched
      // buckets may lag it on disk until a batch touches them
      val prevCols = meta.map(_.columns).getOrElse(Nil)
      val logicalCols = prevCols ++ outCols.filterNot(prevCols.contains)
      // typed union schema: this write's data schema wins for the columns
      // it carries (it already absorbed every affected bucket's drift via
      // the schema-union read above); columns only the previous meta's
      // schema knew — dropped by DDL but still present in lagging buckets
      // — are retained so reads keep surfacing them as null
      val outSchema = outCols.map(out.schema(_).copy(nullable = true))
      val names = outSchema.map(_.name).toSet
      val unionSchema = org.apache.spark.sql.types.StructType(outSchema ++
        meta.flatMap(_.schema).toSeq.flatMap(_.fields.filterNot(f => names(f.name))))
      // bake the schema only when it covers every logical column: a
      // previous meta without one cannot say what a drift column living
      // only in untouched buckets looks like, and baking a partial schema
      // would hide that column from every later read — stay on mergeSchema
      val typed = Some(unionSchema)
        .filter(u => logicalCols.forall(u.fieldNames.toSet))
      // a drift batch also replaces the root's schema summary, so a plain
      // parquet read of the root infers every column, not one bucket's
      BucketedState.Rewrite(out, added => Seq(MetaName -> Some(metaJson(
        StateMeta(layout.buckets, Some(bytes + added), logicalCols, typed)))),
        summary = Some(unionSchema).filter(_ => meta.exists(_.columns != logicalCols)))
    }
  }

  /** The base bucket count of a new state: one per shuffle partition, so
    * each write task gets one bucket, or one per `target` bytes of the
    * plans' size estimates when that is more. A plan Spark cannot bound
    * (its estimate is the default size) counts as unknown. */
  private def initialBuckets(first: Seq[DataFrame], target: Long): Int = {
    val conf = first.head.sparkSession.sessionState.conf
    val sizes = first.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
    val perTarget =
      if (sizes.exists(_ >= conf.defaultSizeInBytes)) BigInt(0)
      else (sizes.sum + target - 1) / target
    math.max(conf.numShufflePartitions, perTarget.min(Int.MaxValue).toInt)
  }

  /** The state directory of table `table` under `baseDir`: table names
    * may contain '/' (table_splitter routes) and other characters a
    * directory name should not, so every character outside
    * `[A-Za-z0-9_.-]` becomes '_'. The one rule the multi-table writers
    * and readers ([[mergeMultiTable]], [[graft.operators.Lifecycle]])
    * share. */
  def tableDir(baseDir: String, table: String): String =
    s"$baseDir/${table.replaceAll("[^A-Za-z0-9_.-]", "_")}"

  /** Multi-table batch routing: split an enveloped batch on its
    * `__table` column and MERGE each group into its own state directory
    * ([[tableDir]]; reference: SplitByTableID + per-table sink
    * pipelines, load_snapshot.go builds one sink per table part;
    * table_splitter/rename_tables feed this column). Two tables of one
    * batch whose names map to the same directory fail the batch before
    * any merge rather than mix into one state. The distinct-table list
    * is tiny (tables, not rows); each per-table merge is a full
    * distributed job. Returns the batch's tables, sorted. */
  def mergeMultiTable(batch0: DataFrame, baseDir: String,
                      pks: Seq[String]): Seq[String] = {
    require(batch0.columns.contains(E.Table), s"missing ${E.Table}")
    // one materialization feeds the table listing AND every per-table
    // merge — without it the batch lineage (often a multi-source
    // union) recomputes once per table plus once for the listing
    val batch = batch0.persist()
    try {
      val tables = batch.select(E.Table).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      tables.groupBy(tableDir(baseDir, _)).foreach { case (dir, ts) =>
        require(ts.size == 1,
          s"tables ${ts.mkString(", ")} map to one state directory $dir")
      }
      tables.foreach { t =>
        mergeBatch(batch.filter(col(E.Table) === t).drop(E.Table),
          tableDir(baseDir, t), pks)
      }
      tables
    } finally { batch.unpersist() }
  }

  /** The replication loop: a checkpointed `foreachBatch` that applies one
    * idempotent [[mergeBatch]] per micro-batch (reference: §3.2
    * RunReplication, runtime/local/replication.go:83). The offsets live in
    * the checkpoint, and a restart replays the last uncommitted batch,
    * which the merge absorbs: that is what makes the loop exactly-once.
    * It is the one streaming writer for a Merge target.
    *
    * `chain` runs per micro-batch, on the batch the stream delivers, so it
    * may hold batch-only operators. With `errorsPath` set, the chain's
    * quarantine rows go there ([[TransformerChain.routed]]): a batch the
    * chain can reject rows from is persisted once, so its source is
    * scanned once, and a batch with no quarantine row writes no file.
    * Otherwise the batch is merged as it comes, with no cache and no
    * extra job. `bufferer` sets the trigger;
    * its row and byte limits are source options
    * ([[Bufferer.sourceOptions]]). */
  def replicate(stream: DataFrame, stateDir: String, checkpointDir: String,
                pks: Seq[String],
                bufferer: Bufferer = Bufferer(),
                chain: TransformerChain = TransformerChain(Nil),
                errorsPath: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(bufferer.trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        chain.routed(batch, errorsPath)(mergeBatch(_, stateDir, pks))
      }

  /** Per-key LSN monotonicity guard: drops events at or below the
    * highest LSN already seen for their key — the "idempotent MERGE
    * keyed on PK + lsn monotonicity" discipline for exactly-once
    * delivery to non-transactional sinks (SURVEY §7.4; reference:
    * at-least-once source + PK-upsert sink, retrier.go + sink.go).
    *
    * Built on flatMapGroupsWithState: the state is ONE long per key
    * (bounded, partitioned by the shuffle), late replays and duplicate
    * redeliveries are filtered before they reach the sink. The key is a
    * single string-rendered column (compose upstream for composite
    * keys).
    *
    * At billions of PKs even one long per key is tens of GB of state,
    * which the default HDFS-backed store keeps in executor heap —
    * cluster deployments should switch the store to RocksDB (off-heap,
    * spill-to-disk): [[graft.GraftSession.scaleStreamingState]].
    * `idleTimeout` bounds state
    * LIFETIME too: a key idle longer than the duration (set it past the
    * source's replay horizon, e.g. the queue retention) has its state
    * dropped, so the guard's footprint tracks the active key set
    * instead of every key ever seen. A replay older than the horizon
    * arriving after the drop is no longer filtered — by contract such
    * replays cannot occur (the source has already compacted them
    * away). See docs/state-layout.md. */
  def monotonicGuard(stream: DataFrame, keyCol: String,
                     idleTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val spark = stream.sparkSession
    val schema = stream.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val lsnIdx = schema.fieldIndex(E.Lsn)
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    implicit val strEnc = Encoders.STRING
    implicit val longEnc = Encoders.scalaLong
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    stream.as[Row](rowEnc)
      .groupByKey((r: Row) => String.valueOf(r.get(keyIdx)))(strEnc)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var maxSeen = state.getOption.getOrElse(Long.MinValue)
            val out = rows.filter { r =>
              val lsn = r.getLong(lsnIdx)
              if (lsn > maxSeen) { maxSeen = lsn; true } else false
            }.toVector
            state.update(maxSeen)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }(longEnc, rowEnc)
  }

  /** Watermarked duplicate suppression for replayed queue events
    * (reference: late/duplicate replays collapsed by PK at the sink —
    * SURVEY §2.7): event-time watermark + per-key dedup inside the
    * watermark window. */
  def watermarkDedup(df: DataFrame, eventTimeCol: String, delay: String,
                     keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream interval join (event correlation): a right-side
    * event matches a left-side event with the same keys when it arrives
    * within `[leftTime, leftTime + maxLag]`. Both sides are
    * watermarked, and the time-range predicate is what lets Spark
    * EXPIRE join state: a buffered left row stops waiting once the
    * right watermark passes `leftTime + maxLag`, so state is bounded by
    * event rate × (delay + maxLag) — never by stream length. That
    * bound is the scale condition for an unbounded correlation join
    * (SURVEY §2.7; the reference correlates queue events downstream of
    * the transfer — Structured Streaming makes it an engine operator).
    * Key columns must share names across sides; the duplicate right
    * copies are dropped from the output. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   delay: String, maxLag: String): DataFrame = {
    val l = left.withWatermark(leftTime, delay)
    val r = right.withWatermark(rightTime, delay)
    val keyCond = keys.map(k => l(k) === r(k)).reduceLeft(_ && _)
    val timeCond = r(rightTime) >= l(leftTime) &&
      r(rightTime) <= l(leftTime) + expr(s"INTERVAL $maxLag")
    keys.foldLeft(l.join(r, keyCond && timeCond))((d, k) => d.drop(r(k)))
  }

  /** Deterministic rate-limited sample stream (reference: the `sample`
    * provider used for replication tests): rate source mapped to the
    * same IoT shape as [[graft.sources.SampleSource]]. */
  def sampleStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("value").as("event_id"),
        pmod(col("value") * 2654435761L, lit(100)).as("device_id"),
        col("timestamp").as("ts"),
        (pmod(col("value") * 1103515245L + 12345L, lit(100000L))
          .cast("double") / 100.0).as("value"))
}
