package graft

/** Whole-VM stall (park) detector — the [[Bench]] heartbeat, so each
  * measured row carries its park overlap instead of being read as a
  * "minimum under unknown contamination".
  *
  * A daemon thread sleeps a fixed period and records every overshoot
  * beyond `threshMs` as a park interval: a stall of the whole VM
  * (vCPU preemption, hypervisor pause) stalls this thread exactly like
  * it stalls executor threads, so the overshoot IS the stolen
  * wall-clock. Known conflation: a stop-the-world GC pause also
  * overshoots — for a measured window that is equally non-code
  * inflation, so discounting it errs conservative (see Bench.scala's
  * fuller discussion). */
final class ParkMeter(periodMs: Long = 100L, threshMs: Long = 250L) {
  private val parks =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  // SUSTAINED fractional steal: a host stealing 30-60% of the
  // vCPUs continuously never produces a single >250 ms heartbeat
  // overshoot — the kernel wakes a sleeping thread promptly even under
  // 2x CPU oversubscription (measured: a 64-spinner synthetic slowed
  // rows 2-4x with ZERO heartbeat lag) — yet it inflates rows 2-6x in
  // alphabetical bands with park_secs ~0 (reproduced in a full
  // baseline run: 16.6 s for a row whose
  // isolated steady state is 1.1 s). The authoritative signal is the
  // kernel's own steal accounting: /proc/stat's cpu line, field 8, is
  // cumulative jiffies the hypervisor did not schedule this VM's
  // vCPUs. Sample it every tick; a window's delta, normalized by the
  // vCPU count, is the whole-VM-equivalent stolen seconds. It cannot
  // be confounded with the bench's OWN load (the kernel only counts
  // involuntary hypervisor preemption). DIAGNOSTIC only — bench_diff
  // refuses a verdict on a steal-soaked session but never subtracts
  // per-row (a fractional stall's effect on a parallel job is not
  // linearly separable the way a hard park's is).
  private val stealSamples =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val stealPath = java.nio.file.Paths.get("/proc/stat")
  private val hasProcStat = java.nio.file.Files.isReadable(stealPath)
  private val nCpus = Runtime.getRuntime.availableProcessors()
  // steal divisor: the number of per-cpu lines /proc/stat ITSELF
  // reports, counted once on the first tick — in a cgroup-limited
  // container availableProcessors() returns the (smaller) quota while
  // the aggregate `cpu ` line spans the whole host/VM, and mixing the
  // two overstates whole-VM-equivalent steal enough to trip
  // bench_diff's 15% refusal spuriously. Falls back to
  // availableProcessors() when /proc/stat carries no cpuN lines.
  @volatile private var nCpusStat = 0
  private def stealJiffies(): Long =
    try {
      // reader CLOSED every tick (an unclosed BufferedReader leaked
      // one fd per 100 ms tick for the session)
      val r = java.nio.file.Files.newBufferedReader(stealPath)
      try {
        val first = r.readLine()
        if (nCpusStat == 0) {
          var n = 0
          var line = r.readLine()
          while (line != null) {
            if (line.startsWith("cpu")) n += 1
            line = r.readLine()
          }
          if (n > 0) nCpusStat = n
        }
        // cpu  user nice system idle iowait irq softirq steal ...
        val parts = first.trim.split("\\s+")
        if (parts.length > 8) parts(8).toLong else -1L
      } finally r.close()
    } catch { case _: Throwable => -1L }
  private val periodNs = periodMs * 1000000L
  private val threshNs = threshMs * 1000000L
  @volatile private var stopped = false
  private val t = new Thread(() => {
    while (!stopped) {
      val t0 = System.nanoTime()
      try Thread.sleep(periodMs) catch { case _: InterruptedException => }
      val dt = System.nanoTime() - t0
      // attribute the stall to the tail of the interval: the sleep was
      // due at t0+period, everything after that is overshoot
      if (dt - periodNs > threshNs) parks.add((t0 + periodNs, t0 + dt))
      if (hasProcStat) {
        val j = stealJiffies()
        if (j >= 0) stealSamples.add((t0 + dt, j))
      }
    }
  }, "graft-park-meter")
  t.setDaemon(true)
  t.start()

  /** Seconds of detected park intervals overlapping [t0Nanos, t1Nanos]
    * (System.nanoTime() values). */
  def overlapSecs(t0Nanos: Long, t1Nanos: Long): Double = {
    var sum = 0L
    val it = parks.iterator()
    while (it.hasNext) {
      val (ps, pe) = it.next()
      val o = math.min(t1Nanos, pe) - math.max(t0Nanos, ps)
      if (o > 0) sum += o
    }
    sum / 1e9
  }

  /** Whole-VM-equivalent stolen seconds inside [t0Nanos, t1Nanos]:
    * the /proc/stat steal-jiffies delta across the window's bracketing
    * samples, divided by USER_HZ (100 on Linux) and the vCPU count.
    * 0.0 when /proc/stat is unavailable or the window holds < 2
    * samples. Diagnostic only: see the class note on why this must not
    * be subtracted from a row's wall. */
  def stealSecs(t0Nanos: Long, t1Nanos: Long): Double = {
    var first = -1L
    var last = -1L
    val it = stealSamples.iterator()
    while (it.hasNext) {
      val (ts, j) = it.next()
      if (ts >= t0Nanos && ts <= t1Nanos) {
        if (first < 0) first = j
        last = j
      }
    }
    if (first < 0 || last < first) 0.0
    else (last - first) / 100.0 /
      math.max(1, if (nCpusStat > 0) nCpusStat else nCpus)
  }

  def stop(): Unit = stopped = true
}
