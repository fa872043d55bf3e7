package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. The benched action is a
  * noop-sink write, which executes the FULL physical plan (projections,
  * casts, hashes included) — `count()` would let Catalyst prune all
  * column-producing work. Failing queries report an `err` marker and are
  * excluded from the total instead of poisoning it. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors()))
    val spark = GraftSession.init(GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen path once so the first measured query isn't
    // charged several seconds of one-time initialization
    spark.range(100000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — for isolated re-measurement
    // of individual queries (regression triage without session crowding)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_REPEAT=n runs each query n times and reports the LAST
    // time — steady-state triage (cold-vs-warm split without a profiler)
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
    // Streaming rows are LATENCY-bound, not compute-bound: their wall
    // time is micro-batch trigger work PLUS trigger scheduling waits,
    // and on a parking VM the waits absorb multi-second host stalls
    // that then read as row regressions (measured: stream_sketch 2.85→7.61 s
    // with untouched code). Accumulate each row's actual per-trigger
    // compute (`durationMs.triggerExecution` summed over every progress
    // event in the row's window) so the artifact carries a wait-free
    // "busy" number per streaming row and the diff tool can normalize
    // streaming rows on compute, making VM-park false flags
    // structurally impossible.
    val streamBusyMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs
          if (d != null && d.containsKey("triggerExecution"))
            streamBusyMs.addAndGet(d.get("triggerExecution").longValue())
        }
      })
    val streamBusy = scala.collection.mutable.Map[String, Double]()
    // Park heartbeat: the instantaneous transfer probe
    // cannot see INTERMITTENT host stalls — BENCH_r16 read 1.45x the
    // committed anchor on an anchor-class probe because mid-run VM
    // parks inflate individual rows (containment_compact 132.8 s vs
    // 13.0 s isolated) while the probe, run at the end, reads quiet.
    // A daemon thread sleeps a fixed 100 ms period and records every
    // overshoot > 250 ms as a park interval: a stall of the whole VM
    // (vCPU preemption, hypervisor pause) stalls this thread exactly
    // like it stalls executor threads, so the overshoot IS the stolen
    // wall-clock. Each row's reported window is then annotated with
    // its overlapping park seconds (`park_secs` in the artifact) so
    // bench_diff can normalize batch rows on (wall - park) the way it
    // already normalizes streaming rows on busy — and refuse a verdict
    // outright when park coverage makes the session unadjudicable.
    // Known conflation: a stop-the-world GC pause also overshoots; for
    // a single row's wall time that is equally non-code inflation (the
    // quiesce between rows GCs outside the timers), so discounting it
    // errs on the side of not flagging — the conservative direction
    // for a regression canary whose false flags cost a round of triage.
    val parkMeter = new graft.ParkMeter()
    def parkOverlapSecs(winStart: Long, winEnd: Long): Double =
      parkMeter.overlapSecs(winStart, winEnd)
    val parkSecs = scala.collection.mutable.Map[String, Double]()
    // sustained sub-threshold steal: a host stealing 30-60% of
    // the vCPU continuously trips NO park interval yet inflates rows
    // 2-6x in alphabetical bands (reproduced:
    // mysql_binlog_parse 16.6 s in-session vs 1.1 s isolated with
    // park_secs 0). Emitted per row as a DIAGNOSTIC — bench_diff
    // refuses a verdict on a steal-soaked session but never subtracts
    // it (see ParkMeter's note on heartbeat lag under legitimate load).
    val stealSecs = scala.collection.mutable.Map[String, Double]()
    // classes compiled, and compile time, in each row's window
    val codegen = scala.collection.mutable.Map[String, Codegen]()
    // materialize the wire-parse fixture caches BEFORE the timed loop: a
    // regenerated sf dir invalidates their signature and a cold rebuild
    // inside the timed region charges the parse query ~10x its
    // steady-state time (measured: mysql_binlog_parse 10.6s vs ~1.1s warm)
    val selectedNames = selected.map(_._1).toSet
    for (name <- Queries.wireCached if selectedNames(name);
         fn <- SparkEntry.queries.get(name))
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    val results: Seq[(String, Either[String, Double])] =
      selected.map { case (name, fn) =>
        val r =
          try {
            var last = 0.0
            var winStart = 0L
            var winEnd = 0L
            for (_ <- 1 to repeat) {
              // reset per iteration: the reported busy matches the LAST
              // (reported) run, same convention as the wall time
              streamBusyMs.set(0)
              val cg0 = Codegen.now()
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              winStart = t0
              winEnd = System.nanoTime()
              codegen(name) = Codegen.now() - cg0
              last = (winEnd - t0) / 1e9
            }
            // park overlap of the LAST (reported) run's window — the
            // same convention as the wall time and busy split
            val pk = parkOverlapSecs(winStart, winEnd)
            if (pk >= 0.05) parkSecs(name) = pk
            val st = parkMeter.stealSecs(winStart, winEnd)
            if (st >= 0.25) stealSecs(name) = st
            // progress events are async — drain the bus before reading
            // the accumulator or the final trigger undercounts
            org.apache.spark.sql.graft.bridge
              .drainListenerBus(spark, 2000L)
            val busyMs = streamBusyMs.get()
            if (busyMs > 0) streamBusy(name) = busyMs / 1e3
            Right(last)
          } catch {
            case e: Throwable =>
              Left(e.getClass.getSimpleName)
          }
        // isolate measurements: a streaming query (merge_*/monotonic_guard/
        // replicate_stream) leaves state-store maintenance threads, and a
        // few queries cache frames — both tax every query measured after
        // them (mysql_binlog_parse/native_parse ran 1.8-1.9x slower in
        // the full session than isolated). Quiesce between queries.
        // From a 21-row regression triage (BENCH_DIFF_r14.md):
        // clearCache only drops the SQL cache — eager localCheckpoints
        // (the standing-index rows materialize found-pairs/index slices
        // that way) register as PERSISTENT RDDs and stay pinned in the
        // 8 GiB driver's storage pool for the rest of the run, and every
        // checkpointed stream leaves its state-store provider loaded.
        // Reproduced: confluent_decode 1.2 s isolated → 9.6 s when run
        // after 7 standing-index rows. Unpersist every lingering RDD block,
        // unload state-store providers, and GC (outside the timer) so
        // the ContextCleaner can drop dead shuffle files — one row's
        // residue must not masquerade as another row's regression.
        try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        try org.apache.spark.sql.graft.bridge.unloadStateStores()
        catch { case _: Throwable => }
        System.gc()
        name -> r
      }
    val qs = results.map {
      case (k, Right(v)) => s""""$k":$v"""
      case (k, Left(err)) => s""""$k":{"err":"$err"}"""
    }.mkString("{", ",", "}")
    val ok = results.collect { case (_, Right(v)) => v }
    val total = if (ok.nonEmpty) ok.sum else 0.0
    val nErr = results.count(_._2.isLeft)
    // headline split: lifecycle rows
    // (standing-index multi-update cycles, checkpointed streams) are
    // fixed-overhead-bound at sf0.1 — report their sum separately so
    // `value_core` is the run-over-run comparable number
    val lifecycleSum = results.collect {
      case (k, Right(v)) if Queries.lifecycle(k) => v }.sum
    val coreSum = total - lifecycleSum
    // The reference's primary KPI is transfer rows/sec (docs/benchmarks.md:
    // 26-36): an end-to-end snapshot transfer of lineitem through the
    // engine (read -> envelope -> sink write). Measured after the loop
    // (the JIT-warmed steady state a long-running transfer actually sees
    // — a cold-JVM measurement reads 2x low), but QUIESCED first: drop
    // the loop's GC debt, then one discarded warm-up transfer, then
    // median of 3 timed runs (a single run is within-session noise —
    // 588k vs 529k rows/s measured on the same code).
    // KPI sub-evidence (a 19% full-run drop with flat
    // per-query wall was undecidable between sandbox noise and a real
    // transfer regression) — emit the raw per-run times of the
    // median-of-3, the row count, and the written bytes/file count, so
    // variance vs regression is decidable from the artifact alone.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val (rowsPerSec, transferEvidence) = try {
      System.gc()
      val li = Tables.load(spark, sfDir, "lineitem")
      val n = li.count()
      val timed = (0 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sinks.Sinks.parquet(li, "/tmp/graft_bench_transfer",
          graft.sinks.Sinks.Drop)
        val t1 = System.nanoTime()
        ((t1 - t0) / 1e9, parkOverlapSecs(t0, t1))
      }.drop(1)
      val secs = timed.map(_._1)
      val rates = secs.map(n / _).sorted
      val dir = new java.io.File("/tmp/graft_bench_transfer")
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      // per-run park overlap rides along: a parked KPI run is decidable
      // from the artifact (a 19%-class KPI drop once needed a human)
      val parkEv =
        if (timed.exists(_._2 >= 0.05))
          s""","park_run_secs":[${timed.map(t => r3(t._2)).mkString(",")}]"""
        else ""
      val ev = s""""transfer":{"rows":$n,""" +
        s""""run_secs":[${secs.map(r3).mkString(",")}],""" +
        s""""bytes":${files.map(_.length).sum},""" +
        s""""files":${files.length}$parkEv}"""
      (rates(rates.length / 2), ev)
    } catch { case _: Throwable => (-1.0, """"transfer":{}""") }
    val lifecycleNames = Queries.lifecycle.toSeq.sorted
      .map(n => s""""$n"""").mkString("[", ",", "]")
    // per-streaming-row compute seconds (wall − busy = trigger waits):
    // the diff tool prefers busy for rows present here in both
    // artifacts, so trigger-wait jitter cannot read as a regression
    val streamBusyJson = streamBusy.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    // per-row park overlap (heartbeat overshoot ∩ row window) + the
    // session-wide park total: bench_diff normalizes batch rows on
    // (wall − park) and refuses a verdict when coverage is too high
    parkMeter.stop()
    val parkJson = parkSecs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val parkInQueries = parkSecs.values.sum
    val stealJson = stealSecs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val stealInQueries = stealSecs.values.sum
    val codegenJson = codegen.toSeq.sortBy(_._1).map { case (k, c) =>
      s""""$k":{"compiles":${c.compiles},"compile_ms":${r3(c.compileMs)}}"""
    }.mkString("{", ",", "}")
    // digest of the FULL per-query map: the compact
    // printed line deliberately carries only the 5 slowest rows (the
    // driver's ~2 KB tail-capture window), which let a query that got
    // FASTER read as "dropped_from_bench" in the per-query diff. The
    // compact line now carries the full map's row count and a stable
    // hash of the map itself, and the full artifact carries the same
    // digest — so any consumer can verify the committed
    // BENCH_full_latest.json IS this session's 278-row map and diff
    // that instead of the top-5 window.
    val qDigest = graft.functions.Hashing.hex(java.security.MessageDigest
      .getInstance("MD5")
      .digest(qs.getBytes(java.nio.charset.StandardCharsets.UTF_8))).take(16)
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","value_core":${r3(coreSum)},"value_lifecycle":${r3(lifecycleSum)},"lifecycle":$lifecycleNames,"queries":$qs,"rows":${results.size},"qdigest":"$qDigest","stream_busy":$streamBusyJson,"park_secs":$parkJson,"park_in_queries_secs":${r3(parkInQueries)},"steal_secs":$stealJson,"steal_in_queries_secs":${r3(stealInQueries)},"codegen":$codegenJson,"n_ok":${ok.size},"n_err":$nErr,"transfer_rows_per_sec":${rowsPerSec.round},$transferEvidence,"sf":"$sfDir"}"""
    // The final printed line must fit the driver's ~2 KB tail-capture
    // window: 158 queries x 17-digit doubles is 4.6 KB and arrives
    // decapitated (early bench artifacts read `parsed: null`). Print a
    // COMPACT summary as the last line — totals plus only the 5 slowest
    // queries, seconds rounded to 3 decimals (~400 bytes) — and leave the
    // full per-query map in /tmp/graft_bench.json for forensics.
    val top5 = results.collect { case (k, Right(v)) => k -> v }
      .sortBy(-_._2).take(5)
      .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
    val fullPath =
      if (only.isDefined) "/tmp/graft_bench_only.json"
      else "/tmp/graft_bench.json"
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec","value_core":${r3(coreSum)},"value_lifecycle":${r3(lifecycleSum)},"queries":$top5,"rows":${results.size},"qdigest":"$qDigest","park_in_queries_secs":${r3(parkInQueries)},"steal_in_queries_secs":${r3(stealInQueries)},"n_ok":${ok.size},"n_err":$nErr,"transfer_rows_per_sec":${rowsPerSec.round},$transferEvidence,"sf":"$sfDir","full":"$fullPath"}"""
    // Emission must be un-losable: streaming queries leave state-store
    // maintenance threads that race RpcEnv shutdown and can dump multi-KB
    // stack traces AFTER our output (this once cost a whole perf signal:
    // the artifact read `parsed: null`). Quiesce streams, silence the logger, stop
    // Spark, THEN persist the JSON to a file and print the compact line as
    // the very last output before a hard exit so no straggler thread can
    // write after it.
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // the full per-query map goes to /tmp AND into the working tree
    // (BENCH_full_latest.json): /tmp may not survive the session, and
    // per-query regression review across changes needs the committed file
    // — the next change commits it.
    // The repo copy is resolved against the repo ROOT (env override,
    // else walk up from cwd to the dir holding build.sbt), not the
    // JVM's cwd — a bench launched from elsewhere must not silently
    // strand the committed-artifact trail; failed writes are logged.
    val repoRoot = sys.env.get("GRAFT_REPO_DIR").getOrElse {
      var d = new java.io.File(sys.props.getOrElse("user.dir", "."))
        .getAbsoluteFile
      while (d != null && !new java.io.File(d, "build.sbt").isFile)
        d = d.getParentFile
      if (d == null) sys.props.getOrElse("user.dir", ".") else d.getPath
    }
    // an SPARK_GRAFT_ONLY-filtered run is a triage probe, not a full
    // bench — it must never clobber the committed full-artifact trail
    // (an isolated stream_sketch run once overwrote the session's
    // 278-row anchor artifact with a 1-row file)
    val artifacts =
      if (only.isDefined) Seq("/tmp/graft_bench_only.json")
      else Seq("/tmp/graft_bench.json", s"$repoRoot/BENCH_full_latest.json")
    for (p <- artifacts)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        Console.err.println(s"bench artifact write failed: $p: $e")
      }
    println(compact)
    Console.out.flush()
    sys.exit(0)
  }
}
