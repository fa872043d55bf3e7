package graft.streaming

import graft.model.{CdcEnvelope => E}
import graft.operators.{Collapse, TransformerChain}
import graft.sinks.BucketedState
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
    * TriggingInterval): the interval maps to the processing trigger. The
    * reference's count and size triggers are source rate limits, which
    * belong to the source read, not to this trigger. */
  final case class Bufferer(interval: Option[String] = Some("10 seconds"),
                            availableNow: Boolean = false) {
    def trigger: Trigger =
      if (availableNow) Trigger.AvailableNow()
      else interval.map(Trigger.ProcessingTime(_)).getOrElse(
        Trigger.ProcessingTime(0L))
  }

  /** The writer call named by readers that refuse a half-swapped state. */
  private val Writer = "CdcStream.mergeBatch"

  /** Read the merged state back without the layout's bucket column.
    * Under lazy DDL migration bucket dirs may sit at different drift
    * generations; the meta's union schema surfaces null for columns a
    * lagging bucket predates. Throws on a half-swapped state dir, naming
    * the paths ([[BucketedState.requireSettled]]), and on a layout
    * [[BucketedState.write]] does not produce. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    BucketedState.read(spark, stateDir, Writer)

  /** Point lookup: compute the key's bucket on the DRIVER
    * ([[BucketedState.bucketOfKey]], the twin of the layout's hash) and
    * scan ONLY that bucket dir — I/O is one bucket of the state, and the
    * PK-sorted files prune further via parquet min/max stats. Key values
    * must render like Spark's string cast (integral/string keys do).
    * Under lazy DDL migration the result carries the BUCKET's schema
    * generation (a bucket dir is always internally homogeneous —
    * rewrites replace it whole); a lagging bucket simply lacks columns
    * it predates, the same contract as a pre-drift read of the whole
    * state. That schema is read from the bucket's footer on the driver,
    * so the lookup's collect is its only Spark job. Throws on a
    * half-swapped state dir or a refused layout, as [[readState]] does. */
  def lookup(spark: SparkSession, stateDir: String, pks: Seq[String],
             key: Seq[Any]): DataFrame = {
    require(pks.length == key.length, "one value per key column")
    val fs = BucketedState.fsOf(spark, stateDir)
    BucketedState.requireSettled(fs, stateDir, Writer)
    val buckets = BucketedState.layout(fs, stateDir).getOrElse(
      throw new IllegalArgumentException(s"$stateDir is not a bucketed state"))
    val dir = BucketedState.bucketDir(stateDir, BucketedState.bucketOfKey(key, buckets))
    // a bucket dir that is absent or holds no data file means no rows hash
    // there: an empty result in the state schema, not an error
    val df = BucketedState.readBucket(spark, fs, dir)
      .getOrElse(readState(spark, stateDir).limit(0))
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
    * with the batch's key spread, not total state size. Per-batch plan,
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
    * Bucket count: [[BucketedState.write]] sizes a new state from this
    * first batch, one bucket per shuffle
    * partition or more, and grows it by linear hashing, one bucket split
    * per batch at most, in the batch's own swap and with no extra job.
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
    * faster. A state dir in any layout the writer does not produce is
    * refused, naming the dir or its meta. */
  def mergeBatch(batch0: DataFrame, stateDir: String, pks: Seq[String]): Unit = {
    // with no key, every row would hash to one bucket and the
    // last-write-wins would keep one row per bucket
    require(pks.nonEmpty, s"mergeBatch into $stateDir needs at least one primary key")
    // plain (non-enveloped) frames merge as snapshot inserts
    val batch =
      if (batch0.columns.contains(E.Kind)) batch0
      else E.fromSnapshot(batch0, lit(0L))
    // the batch's raw row events, projected to data columns + ordering:
    // the probe whose keys name the touched buckets AND the new side of
    // the one last-write-wins below (read back from the probe's cache)
    val rows = batch.filter(E.isRowEvent(col(E.Kind)))
    val events = rows.select(
      (E.dataCols(rows) ++ Seq(E.Kind, E.Lsn, E.Counter)).map(col): _*)
    BucketedState.write(stateDir, pks, events, sizing = batch0) { (existing, layout) =>
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
      merged.filter(col(E.Kind) =!= E.Delete)
        .select((BucketedState.BucketCol +: outCols).map(col): _*)
    }
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
    * extra job. `bufferer` sets the trigger. */
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
