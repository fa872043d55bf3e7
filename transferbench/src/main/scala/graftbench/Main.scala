package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run it through `run.py`, which builds
  * the classpath):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <working dir> --traces <span file dir>
  *
  * Untraced runs generate their inputs [[Sizes.SetupReps]] times and
  * report the end-to-end metrics; traced runs generate them once, measure
  * an untraced phase
  * and then a traced one, and report the per-layer metrics plus the
  * tracing overhead (traced minus untraced). The last stdout line is the
  * JSON result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, traces: Path)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, Paths.get(get("work")).toAbsolutePath, Paths.get(get("traces")).toAbsolutePath)
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    GraftSession.init(GraftSession.builder(s"local[$n]", n)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate())
  }

  private def e2e(p: Phase): Map[String, Double] =
    Map("rows_per_s" -> p.records / p.wallS, "op_ms_p50" -> Stats.median(p.opMs))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val cores = Runtime.getRuntime.availableProcessors()
    try {
      val w = Workload(a.workload, spark, a.seed)
      // set-up = session start + input generation and state bootstrap
      // (repeated; their median counts) + one warm-up operation
      val reps = if (a.trace) 1 else Sizes.SetupReps
      val setups = (0 until reps).map { r =>
        val d = a.work.resolve(s"setup$r")
        val (_, ms) = Workload.timedMs(w.prepare(d))
        if (r > 0) Workload.deleteTree(a.work.resolve(s"setup${r - 1}"))
        ms / 1000
      }
      val (_, warmMs) = Workload.timedMs(w.warmUp())
      val setupS = sessionS + Stats.median(setups) + warmMs / 1000
      val untraced = w.measure(a.seconds, new Tracer(sc, false))
      val u = e2e(untraced)
      val (metrics, phases) =
        if (!a.trace) {
          (Seq(Stats.Metric("rows_per_s", u("rows_per_s"), "rows/s"),
            Stats.Metric("op_ms_p50", u("op_ms_p50"), "ms"),
            Stats.Metric("setup_s", setupS, "s")), Seq(untraced))
        } else {
          val tracer = new Tracer(sc, true)
          val traced = w.measure(a.seconds, tracer)
          val t = e2e(traced)
          val found = w.layers(tracer) ++ Map(
            "trace.overhead.op_ms_p50" -> (t("op_ms_p50") - u("op_ms_p50")),
            "trace.overhead.rows_per_s" -> (t("rows_per_s") - u("rows_per_s")))
          tracer.write(a.traces.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
          tracer.close()
          (Layers.complete(found), Seq(untraced, traced))
        }
      val ((badOps, msgs), verifyMs) = Workload.timedMs(w.verify())
      val attempted = phases.map(_.attempted).sum
      val failed = (phases.map(_.failed).sum + badOps) min attempted
      msgs.foreach(m => println(s"check failed: $m"))
      val tail = Stats.tail(untraced.opMs)
      val lookup = Layers.medianOf(untraced.lookupMs)
      println(s"report: workload=${a.workload} seed=${a.seed} cores=$cores " +
        s"trace=${if (a.trace) 1 else 0} prepare_s=${setups.map(s => f"$s%.3f").mkString(",")} " +
        s"warm_up_s=${f"${warmMs / 1000}%.3f"} " +
        s"session_s=${f"$sessionS%.3f"} ops=${untraced.opMs.length} " +
        s"op_ms=${untraced.opMs.map(m => f"$m%.0f").mkString(",")} " +
        s"rows_per_s_per_core=${untraced.records / untraced.wallS / cores} " +
        tail.fold("op_ms_tail=n/a")(t => s"op_ms_tail=${t._2} (p${f"${t._1}%.1f"} of ${untraced.opMs.length})") +
        lookup.fold("")(l => s" lookup_ms_p50=$l (of ${untraced.lookupMs.length})") +
        s" failed_frac=${failed.toDouble / attempted} attempted=$attempted" +
        s" peak_rss_mb=${Stats.peakRssMb()}" +
        s" verify_s=${f"${verifyMs / 1000}%.3f"}")
      println(Stats.resultLine(failed == 0 && msgs.isEmpty, attempted, failed, metrics))
    } finally spark.stop()
  }
}
