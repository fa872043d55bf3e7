package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Collapse, TransformerChain, Transformers => T}
import graft.parsers.Debezium
import graft.sources.Readers
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `replicate_spread` and `replicate_hot`: one operation is one
  * micro-batch of a Debezium change log: one file-queue spool file is
  * dropped in, and the running `CdcStream.replicate` query (no trigger
  * interval, one file per trigger) parses it, filters and HMAC-masks it,
  * and merges it into a bucketed state bootstrapped from a seeded orders
  * table; the next file is spooled only once the query has processed
  * everything. Point lookups follow the replay. The final state and every
  * lookup must equal a naive last-write-wins replay computed on the
  * driver.
  *
  * `TransferRunner.runReplication` is not used: it fixes a 10-second
  * processing-time trigger, so a benchmark through it would time the
  * trigger interval instead of the engine. */
final class Replication(spark: SparkSession, seed: Long, keys: Inputs.Keys,
                        stateKeys: Int = Sizes.StateKeys,
                        eventsPerBatch: Int = Sizes.EventsPerBatch)
    extends Workload {
  private val pks = Seq("o_orderkey")
  private val topic = "orders"
  private val params = Inputs.rng(seed, s"replication-params-$keys")
  /** Inserts below this price are filtered out (about 8% to 12% of them). */
  private val minPrice: Int = 40000 + params.nextInt(20000)
  private val salt: String = f"salt-${params.nextLong()}%016x"

  private val parse = T.Lambda("debezium",
    df => Debezium.receive(df, "value", Inputs.ordersSchema))
  private val steps = Seq(T.FilterRows(Seq(s"o_totalprice >= $minPrice")),
    T.MaskField(Seq("o_orderpriority"), salt))

  private var dir: Path = _
  private var nextBatch = 0
  private var applied = 0
  /** (batches applied when it ran, key, rows returned) per lookup. */
  private val lookups = mutable.ArrayBuffer.empty[(Int, Long, Seq[Row])]
  private var queryFailures = 0
  private var timedBatches = 0

  private[graftbench] def state = dir.resolve("state").toString
  private def spool = dir.resolve("spool")

  def prepare(d: Path): Unit = {
    stopQuery()
    dir = d; nextBatch = 0; applied = 0; lookups.clear()
    val base = Inputs.orders(seed, stateKeys)
    Workload.write(spark.createDataFrame(base.map(_.toRow).asJava,
      Inputs.ordersSchema), d.resolve("orders.parquet"))
    CdcStream.mergeBatch(spark.read.parquet(d.resolve("orders.parquet").toString),
      state, pks)
    Files.createDirectories(spool.resolve(topic))
  }

  def warmUp(): Unit = step(new Tracer(spark.sparkContext, false))

  private def batch(b: Int): IndexedSeq[Inputs.Event] =
    Inputs.changeBatch(seed, stateKeys, b, eventsPerBatch, keys)

  // ------------------------------------------------------------ traced batch

  private val batchTraces = mutable.Map.empty[Long, Replication.BatchTrace]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def bucketFiles(): Map[String, Set[String]] = {
    val root = java.nio.file.Paths.get(state)
    val s = Files.list(root)
    try s.iterator().asScala.filter(Files.isDirectory(_)).map { b =>
      val f = Files.list(b)
      try b.getFileName.toString -> f.iterator().asScala.map(_.getFileName.toString).toSet
      finally f.close()
    }.toMap finally s.close()
  }

  /** The replicate loop's batch function, split per layer: each layer's
    * output is persisted and counted inside its own span. */
  private def tracedBatch(tracer: Tracer)(batch: DataFrame, id: Long): Unit = {
    val op = tracer.openOp("op")
    try {
      val parsed = tracer.span("parsers.debezium") {
        val p = TransformerChain(Seq(parse))(batch).persist(); p.count(); p
      }
      val (chained, nIn) = tracer.span("operators.chain") {
        val c = TransformerChain(steps)(parsed).persist(); (c, c.count())
      }
      val (collapsed, nOut) = tracer.span("operators.collapse") {
        val c = Collapse.lastWriteWins(chained, pks).persist(); (c, c.count())
      }
      val before = bucketFiles()
      tracer.span("streaming.merge") { CdcStream.mergeBatch(collapsed, state, pks) }
      val after = bucketFiles()
      val touched = (before.keySet ++ after.keySet).count(b => before.get(b) != after.get(b))
      batchTraces(id) = Replication.BatchTrace(op, nIn, nOut, touched)
      Seq(collapsed, chained, parsed).foreach(_.unpersist())
    } finally tracer.closeOp()
  }

  // ------------------------------------------------------------ replay

  /** The running replication query and whether it is the traced one. */
  private var query: Option[(StreamingQuery, Boolean)] = None
  /** Batch ids measured in a traced phase. */
  private val tracedIds = mutable.Set.empty[Long]

  private def start(tracer: Tracer): StreamingQuery = {
    val raw = Readers.fileQueueStream(spark, spool.toString, topic, Some(1))
    val ckpt = dir.resolve("checkpoint").toString
    // no trigger interval: each spool file is picked up as soon as it lands
    val bufferer = CdcStream.Bufferer(interval = None)
    if (!tracer.enabled)
      CdcStream.replicate(TransformerChain(parse +: steps)(raw), state, ckpt,
        pks, bufferer).start()
    else
      raw.writeStream.option("checkpointLocation", ckpt)
        .trigger(bufferer.trigger)
        .foreachBatch { (b: DataFrame, id: Long) => tracedBatch(tracer)(b, id) }
        .start()
  }

  private def stopQuery(): Unit = { query.foreach(_._1.stop()); query = None }

  /** Spool the next batch and block until the running query has merged
    * it: (wall ms, the batch's progress). A query is started on first use
    * and kept running, so only the warm-up batch pays the first-batch
    * cost of a query start. */
  private def step(tracer: Tracer): (Double, StreamingQueryProgress) = {
    val q = query match {
      case Some((q, traced)) if traced == tracer.enabled => q
      case _ => stopQuery(); val q = start(tracer); query = Some(q -> tracer.enabled); q
    }
    val seen = q.recentProgress.count(_.numInputRows > 0)
    val f = Inputs.writeSpool(dir.resolve("staging"), nextBatch, batch(nextBatch))
    nextBatch += 1
    val (_, ms) = Workload.timedMs {
      Files.move(f, spool.resolve(topic).resolve(f.getFileName))
      q.processAllAvailable()
    }
    q.exception.foreach(e => throw e)
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    require(ps.length == seen + 1, s"expected one micro-batch, saw ${ps.length - seen}")
    applied += 1
    (ms, ps.last)
  }

  private def lookupKeys: Seq[Long] = {
    val r = Inputs.rng(seed, s"lookups-$keys")
    val hot = keys match {
      case Inputs.Hot(n) => Inputs.hotKeys(seed, stateKeys, n)
      case Inputs.Spread => Nil
    }
    hot ++ Seq.fill(Sizes.Lookups - hot.length)(r.nextLong(stateKeys.toLong))
  }

  def measure(seconds: Double, tracer: Tracer): Phase = {
    // a new query (the traced one) first merges one untimed batch
    if (!query.exists(_._2 == tracer.enabled)) step(tracer)
    var wallMs = 0.0
    val opMs = mutable.ArrayBuffer.empty[Double]
    var events = 0L
    var failed = 0
    while (wallMs < seconds * 1000 && failed == 0) {
      timedBatches += 1
      try {
        val (ms, p) = step(tracer)
        wallMs += ms
        opMs += p.durationMs.get("triggerExecution").toDouble
        events += p.numInputRows
        if (tracer.enabled) { progress += p; tracedIds += p.batchId }
      } catch {
        case e: Exception =>
          e.printStackTrace(); failed += 1; queryFailures += 1
      }
    }
    val lookupMs = lookupKeys.map { k =>
      val (rows, ms) = Workload.timedMs(tracer.op("lookup") {
        tracer.span("streaming.lookup") {
          CdcStream.lookup(spark, state, pks, Seq(k)).collect().toSeq
        }
      })
      lookups += ((applied, k, rows))
      ms
    }
    Phase(opMs.toSeq, events, wallMs / 1000, opMs.length + failed, failed, lookupMs)
  }

  /** Naive last-write-wins over the base plus the events of the first
    * `batches` batches, with the chain's filter and mask applied per
    * event. */
  private def reference(batches: Int): Map[Long, Inputs.Order] = {
    val mask = Workload.hmacHex(salt)
    val m = mutable.HashMap.empty[Long, Inputs.Order]
    Inputs.orders(seed, stateKeys).foreach(o => m(o.orderkey) = o)
    (0 until batches).foreach(b => batch(b).foreach { e =>
      val masked = e.row.copy(priority = mask(e.row.priority))
      e.op match {
        case 'd' => m.remove(e.row.orderkey)
        case 'c' if e.row.totalprice < minPrice => ()
        case _ => m(e.row.orderkey) = masked
      }
    })
    m.toMap
  }

  private def asOrder(r: Row): Inputs.Order = Inputs.Order(
    r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
    r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
    r.getAs[java.sql.Timestamp]("o_orderdate").getTime / 1000,
    r.getAs[String]("o_orderpriority"))

  def verify(): (Int, Seq[String]) = {
    stopQuery()
    val refs = mutable.Map.empty[Int, Map[Long, Inputs.Order]]
    def ref(batches: Int) = refs.getOrElseUpdate(batches, reference(batches))
    val want = ref(applied)
    val got = CdcStream.readState(spark, state).collect().map(asOrder)
    val gotMap = got.map(o => o.orderkey -> o).toMap
    val stateBad = got.length != gotMap.size || gotMap != want
    val lookupBad = lookups.count { case (n, k, rows) =>
      rows.map(asOrder) != ref(n).get(k).toSeq
    }
    val msgs =
      (if (queryFailures > 0) Seq(s"$queryFailures replay queries failed") else Nil) ++
      (if (stateBad) Seq(s"final state (${got.length} rows) differs from the " +
        s"last-write-wins reference (${want.size} rows) after $applied batches")
       else Nil) ++
      (if (lookupBad > 0) Seq(s"$lookupBad of ${lookups.length} lookups differ") else Nil)
    // a wrong final state cannot be pinned on one batch: all of them fail
    (if (stateBad) timedBatches else 0) + lookupBad -> msgs
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    // operation roots opened in the batch function take the trigger's
    // interval from its progress report, so the offset and commit phases
    // sit inside the operation they belong to
    val clockNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val offsets = progress.flatMap { p =>
      batchTraces.get(p.batchId).map { bt =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + clockNs
        bt.op.startNs = start
        bt.op.endNs = start + d("triggerExecution") * 1000000L
        val off = d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)
        tracer.record("sources.stream.offset", bt.op.id, bt.op.op, start,
          start + off * 1000000L)
        d
      }
    }
    // only the timed batches, plus the lookups
    val timedOps = tracedIds.flatMap(batchTraces.get).map(_.op.op)
    val spans0 = tracer.finished()
    val lookupOps = spans0.filter(_.name == "lookup").map(_.op).toSet
    val all = spans0.filter(s => timedOps(s.op) || lookupOps(s.op))
    def trig(key: String): Seq[Double] = offsets.map(_.getOrElse(key, 0L).toDouble).toSeq
    val merge = Layers.spanMedians(tracer, all, "streaming.merge")
    val traces = tracedIds.toSeq.flatMap(batchTraces.get)
    val (stateFiles, stateBytes) = Workload.partFiles(java.nio.file.Paths.get(state))
    Layers.pick(Layers.spanMedians(tracer, all, "parsers.debezium"),
        "parsers.debezium.ms", "parsers.debezium.cpu_ms") ++
      Layers.pick(Layers.spanMedians(tracer, all, "operators.chain"),
        "operators.chain.ms", "operators.chain.cpu_ms", "operators.chain.core_util") ++
      Layers.pick(Layers.spanMedians(tracer, all, "operators.collapse"),
        "operators.collapse.ms", "operators.collapse.shuffle_bytes") ++
      Layers.pick(merge, "streaming.merge.ms", "streaming.merge.out_bytes",
        "streaming.merge.shuffle_bytes", "streaming.merge.jobs",
        "streaming.merge.stages", "streaming.merge.tasks",
        "streaming.merge.task_ms", "streaming.merge.cpu_ms") ++
      Layers.pick(Layers.spanMedians(tracer, all, "streaming.lookup"),
        "streaming.lookup.ms") ++
      Layers.medianOf(trig("latestOffset").zip(trig("getBatch")).map { case (a, b) => a + b })
        .map("sources.stream.offset_ms" -> _) ++
      Layers.medianOf(trig("addBatch")).map("streaming.trigger.add_batch_ms" -> _) ++
      Layers.medianOf(trig("walCommit")).map("streaming.trigger.wal_commit_ms" -> _) ++
      Layers.medianOf(trig("commitOffsets")).map("streaming.trigger.commit_ms" -> _) ++
      Layers.medianOf(trig("queryPlanning")).map("streaming.trigger.planning_ms" -> _) ++
      Layers.medianOf(traces.map(t => t.eventsIn.toDouble / (t.netRows max 1L)))
        .map("operators.collapse.ratio" -> _) ++
      Layers.medianOf(traces.map(_.bucketsTouched.toDouble))
        .map("streaming.merge.buckets_touched" -> _) ++
      Layers.medianOf(traces.flatMap(t =>
        all.find(s => s.name == "streaming.merge" && s.parent == t.op.id)
          .map(s => tracer.workOf(s).outRecords.toDouble / (t.netRows max 1L))))
        .map("streaming.merge.rewrite_amp" -> _) ++
      Map("streaming.state.files" -> stateFiles.toDouble,
        "streaming.state.bytes" -> stateBytes.toDouble) ++
      Layers.opMedians(tracer, all)
  }
}

private object Replication {
  /** What the traced batch function saw of one micro-batch. */
  final case class BatchTrace(op: Span, eventsIn: Long, netRows: Long,
                              bucketsTouched: Int)
}
