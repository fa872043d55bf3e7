package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input sizes and traffic parameters of every workload. They are scaled
  * from the sf0.1 fixtures so that one run, set-up included, fits the
  * time a full benchmark pass allows (see the README). */
object Sizes {
  /** Input generations per untraced run; `setup_s` takes their median. */
  val SetupReps = 3
  val LineitemRows = 60000
  val StateKeys = 50000
  val EventsPerBatch = 5000
  val HotKeys = 8
  val Lookups = 10
  val Docs = 1000
  val ArrivalDocs = 200
  /** Both indexes are compacted after every this many arrivals. */
  val CompactEvery = 2
}

/** What one timed phase measured. `opMs` holds one entry per operation;
  * `wallS` is the phase's measured wall time. */
final case class Phase(opMs: Seq[Double], records: Long, wallS: Double,
                       attempted: Int, failed: Int,
                       lookupMs: Seq[Double] = Nil)

/** One benchmark workload. A run calls [[prepare]] one or more times
  * (each in a fresh directory; the last one's inputs are used), then
  * [[warmUp]] once, then [[measure]] once per timed phase, then
  * [[verify]]. */
trait Workload {
  /** Generate the inputs under `dir` and bootstrap any state. */
  def prepare(dir: Path): Unit
  /** Run one untimed operation on the prepared inputs. */
  def warmUp(): Unit
  /** Run operations back to back, one at a time, until `seconds` of them
    * have been measured. */
  def measure(seconds: Double, tracer: Tracer): Phase
  /** Check every output of every phase against references computed here,
    * outside the timed phases: (operations that failed, messages). */
  def verify(): (Int, Seq[String])
  /** Per-layer metrics of the traced phase. */
  def layers(tracer: Tracer): Map[String, Double]
}

object Workload {
  private val byName: Map[String, (SparkSession, Long) => Workload] = Map(
    "snapshot_chain" -> (new SnapshotChain(_, _)),
    "replicate_spread" -> (new Replication(_, _, Inputs.Spread)),
    "replicate_hot" -> (new Replication(_, _, Inputs.Hot(Sizes.HotKeys))),
    "index_maintain" -> (new IndexMaintain(_, _)))

  val names: Seq[String] = byName.keys.toSeq.sorted

  def apply(name: String, spark: SparkSession, seed: Long): Workload =
    byName(name)(spark, seed)

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Parquet part files under `p` and their total bytes. */
  def partFiles(p: Path): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.length, fs.map(Files.size).sum)
      } finally s.close()
    }

  def write(df: DataFrame, path: Path): Unit =
    df.repartition(1).write.mode("overwrite").parquet(path.toString)

  def hmacHex(salt: String): String => String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(salt.getBytes("UTF-8"), "HmacSHA256"))
    v => mac.doFinal(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** Per-layer metric names, units, and the medians they report. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.scan.ms" -> "ms", "sources.scan.tasks" -> "count",
    "sources.scan.in_bytes" -> "bytes", "sources.stream.offset_ms" -> "ms",
    "parsers.debezium.ms" -> "ms", "parsers.debezium.cpu_ms" -> "ms",
    "operators.chain.ms" -> "ms", "operators.chain.cpu_ms" -> "ms",
    "operators.chain.core_util" -> "ratio",
    "operators.collapse.ms" -> "ms", "operators.collapse.shuffle_bytes" -> "bytes",
    "operators.collapse.ratio" -> "ratio",
    "streaming.merge.ms" -> "ms", "streaming.merge.out_bytes" -> "bytes",
    "streaming.merge.shuffle_bytes" -> "bytes",
    "streaming.merge.buckets_touched" -> "count",
    "streaming.merge.rewrite_amp" -> "ratio",
    "streaming.merge.jobs" -> "count", "streaming.merge.stages" -> "count",
    "streaming.merge.tasks" -> "count", "streaming.merge.task_ms" -> "ms",
    "streaming.merge.cpu_ms" -> "ms",
    "streaming.trigger.add_batch_ms" -> "ms",
    "streaming.trigger.wal_commit_ms" -> "ms",
    "streaming.trigger.commit_ms" -> "ms",
    "streaming.trigger.planning_ms" -> "ms",
    "streaming.lookup.ms" -> "ms", "streaming.state.files" -> "count",
    "streaming.state.bytes" -> "bytes",
    "sinks.parquet.ms" -> "ms", "sinks.parquet.out_bytes" -> "bytes",
    "sinks.parquet.out_files" -> "count", "sinks.parquet.tasks" -> "count",
    "functions.band_update.ms" -> "ms", "functions.band_update.jobs" -> "count",
    "functions.band_update.tasks" -> "count",
    "functions.containment_update.ms" -> "ms",
    "functions.containment_update.jobs" -> "count",
    "functions.containment_update.tasks" -> "count",
    "functions.containment_update.cpu_ms" -> "ms",
    "functions.compact.ms" -> "ms", "functions.index.files" -> "count",
    "functions.pairs_found" -> "count",
    "op.jobs" -> "count", "op.stages" -> "count", "op.tasks" -> "count",
    "op.task_ms" -> "ms", "op.cpu_ms" -> "ms", "op.gc_ms" -> "ms",
    "op.shuffle_bytes" -> "bytes", "op.core_util" -> "ratio",
    "op.unattributed_ms" -> "ms",
    "trace.overhead.op_ms_p50" -> "ms", "trace.overhead.rows_per_s" -> "rows/s")

  private val cores = Runtime.getRuntime.availableProcessors().toDouble


  /** Median wall time, jobs, stages, tasks, task/CPU/GC time, shuffle,
    * input and output bytes, and core utilisation of the spans named
    * `layer`, keyed `<layer>.<field>`. */
  def spanMedians(tracer: Tracer, spans: Seq[Span], layer: String): Map[String, Double] = {
    val mine = spans.filter(_.name == layer)
    if (mine.isEmpty) Map.empty
    else {
      val ws = mine.map(s => s -> tracer.workUnder(s, spans))
      def m(f: (Span, Work) => Double): Double = Stats.median(ws.map(f.tupled))
      Map(
        s"$layer.ms" -> m((s, _) => s.wallNs / 1e6),
        s"$layer.jobs" -> m((_, w) => w.jobs.toDouble),
        s"$layer.stages" -> m((_, w) => w.stages.toDouble),
        s"$layer.tasks" -> m((_, w) => w.tasks.toDouble),
        s"$layer.task_ms" -> m((_, w) => w.taskMs.toDouble),
        s"$layer.cpu_ms" -> m((_, w) => w.cpuNs / 1e6),
        s"$layer.gc_ms" -> m((_, w) => w.gcMs.toDouble),
        s"$layer.shuffle_bytes" -> m((_, w) => w.shuffleBytes.toDouble),
        s"$layer.in_bytes" -> m((_, w) => w.inBytes.toDouble),
        s"$layer.out_bytes" -> m((_, w) => w.outBytes.toDouble),
        s"$layer.core_util" -> m((s, w) => w.taskMs / (s.wallNs / 1e6 * cores)))
    }
  }

  /** `op.*` medians over the operation roots (spans named "op"), with
    * unattributed time = op wall minus the union of its child spans. */
  def opMedians(tracer: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val ops = spans.filter(s => s.parent == -1L && s.name == "op")
    val base = spanMedians(tracer, spans, "op")
    medianOf(ops.map(o => Tracer.selfNs(o, kids.getOrElse(o.id, Nil)) / 1e6))
      .fold(base)(u => base + ("op.unattributed_ms" -> u))
  }

  /** Every per-layer metric, in the order of [[all]]; a layer the
    * workload never calls reports 0. */
  def complete(found: Map[String, Double]): Seq[Stats.Metric] =
    all.map { case (n, u) => Stats.Metric(n, found.getOrElse(n, 0.0), u) }

  def pick(m: Map[String, Double], names: String*): Map[String, Double] =
    m.filter { case (k, _) => names.contains(k) }

  def medianOf(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs))
}
