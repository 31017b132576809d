package graft

/** Host-contention probes read from /proc: [[Metrics]] windows and the
  * whole-run [[Sampler]] of [[Bench]] and [[ScaleBench]], so both
  * records measure contamination the same way.
  * Every reader returns -1 (in each field) where /proc is unavailable;
  * nothing here touches the data path.
  */
private[graft] object HostLoad {

  private def proc(file: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc", file)), "UTF-8")

  /** 1-minute load average, -1 where unavailable. Sampled
    * CONTINUOUSLY through a run ([[Sampler]]), not just at the
    * endpoints: round 9's record read `contended: false` from two idle
    * endpoints while a co-scheduled driver gate mid-run inflated
    * individual queries 5–12× — an endpoint flag BLESSES a
    * contaminated record, which is worse than no flag.
    */
  def loadAvg(): Double =
    try proc("loadavg").split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (total USER+NICE jiffies across all cpus, THIS process's utime,
    * total SYSTEM jiffies, THIS process's stime, host STEAL jiffies) —
    * the pairs whose per-interval deltas isolate OTHER processes' CPU.
    * Raw loadavg cannot decide `contended`: a 32-core bench raises its
    * OWN 1-min load past any fixed bar, while the co-scheduled-gate
    * case round 9 exposed needs a mid-run signal. `(Δtotal − Δself)/Δt`
    * over a window is that signal: self-load cancels exactly (Spark
    * local mode is one process), and a concurrent sbt/driver gate shows
    * as whole foreign cores. The DECIDING signal is USER time only,
    * deliberately: kernel writeback of the run's OWN shuffle/artifact
    * files runs in kworker threads whose SYSTEM time would read as ~1
    * foreign core on every write-heavy family (measured: sql 1.25, llm
    * 1.05 on an otherwise-idle host). The SYSTEM pair is ADVISORY
    * (`foreign_sys_cores_max`): a foreign rsync/backup is
    * system-time-dominated and slips the user-cpu bar, but the kworker
    * allowance keeps it from gating `contended`. Steal (/proc/stat cpu
    * field 8) counts cycles the HYPERVISOR withheld from the whole
    * guest — host-side co-tenancy invisible to every in-guest load
    * metric (a build-family record read uniformly ~2× slow with every
    * other signal clean and 3.7 stolen cores), so it gates `contended`
    * exactly like foreign user-cpu.
    */
  def cpuJiffies(): (Long, Long, Long, Long, Long) =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val stat = proc("stat").linesIterator.next().trim.split("\\s+")
      // fields 14/15 (1-based): utime/stime — after comm, which is
      // parenthesized and contains no spaces for plain `java`.
      val self = proc("self/stat").split(" ")
      (stat(1).toLong + stat(2).toLong, self(13).toLong,
        stat(3).toLong, self(14).toLong, stat(8).toLong)
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L, -1L) }

  /** (this process's MAJOR page faults, this process's storage-layer
    * read bytes) — the I/O-pressure pair: foreign USER cpu misses
    * page-cache eviction by a co-resident process, after which this
    * JVM pays real disk reads it normally never does. majflt counts
    * mapped-page misses that hit storage; /proc/self/io read_bytes
    * counts ALL bytes fetched from the storage layer (a warm run reads
    * ~0). Either spiking on an outlier entry names I/O pressure as the
    * contaminant; both flat says the slowdown was CPU-side.
    */
  def ioStat(): (Long, Long) =
    try {
      val majflt = proc("self/stat").split(" ")(11).toLong // field 12 (1-based)
      val rb = proc("self/io").linesIterator.collectFirst {
        case l if l.startsWith("read_bytes:") =>
          l.substring("read_bytes:".length).trim.toLong
      }.getOrElse(-1L)
      (majflt, rb)
    } catch { case _: Throwable => (-1L, -1L) }

  /** This process's block-I/O delay ticks (/proc/self/stat field 42,
    * delayacct_blkio_ticks): time it sat blocked on block I/O —
    * residual writeback throttling shows here and nowhere else.
    */
  def blkioTicks(): Long =
    try proc("self/stat").split(" ")(41).toLong
    catch { case _: Throwable => -1L }

  /** Cores busy over `dt` seconds for a delta of `jiffies`
    * (USER_HZ = 100/s).
    */
  def cores(jiffies: Long, dt: Double): Double = jiffies / 100.0 / math.max(dt, 1e-3)

  /** Whole-run watermarks: a daemon thread samples every 15 s and keeps
    * the maxima of the load average, foreign user cores, foreign system
    * cores (advisory) and stolen cores over each window.
    */
  final class Sampler(threadName: String) {
    val loadStart: Double = loadAvg()
    val loadMax = new java.util.concurrent.atomic.AtomicReference[Double](loadStart)
    val foreignMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val foreignSysMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val stealMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)

    private def raise(m: java.util.concurrent.atomic.AtomicReference[Double],
                      v: Double): Unit = m.updateAndGet(x => math.max(x, v))

    private val thread = new Thread(() => {
      var prev = cpuJiffies()
      var prevT = System.nanoTime()
      while (true) {
        Thread.sleep(15000)
        raise(loadMax, loadAvg())
        val cur = cpuJiffies()
        val curT = System.nanoTime()
        if (prev._1 >= 0 && cur._1 >= 0) {
          val dt = (curT - prevT) / 1e9
          raise(foreignMax, cores((cur._1 - prev._1) - (cur._2 - prev._2), dt))
          raise(foreignSysMax, cores((cur._3 - prev._3) - (cur._4 - prev._4), dt))
          raise(stealMax, cores(cur._5 - prev._5, dt))
        }
        prev = cur
        prevT = curT
      }
    }, threadName)
    thread.setDaemon(true)
    thread.start()
  }
}
