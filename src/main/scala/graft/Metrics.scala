package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlAccess, SparkSession}

/** The one count of Spark work. One listener per SparkContext, installed
  * on first use, keeps cumulative counters; [[window]] runs a body and
  * reports the counters' deltas over it, with a host probe of the same
  * wall window.
  *
  * Attribution is by time. The listener bus is drained before the body
  * starts, so earlier work is booked before the opening snapshot, and
  * again after it ends. The DAGScheduler posts a job's task-end,
  * stage-end and job-end events before the action that ran the job
  * returns, so the closing drain books every job the body ran,
  * including jobs its pool threads started. A job some other thread
  * runs while the window is open is charged to the window too: read one
  * window at a time per context. Windows nest; an outer window's
  * counters include its inner windows'.
  */
object Metrics {

  /** Deltas over one window. `tasks` counts the tasks of each completed
    * stage; `cpuNs` is executor CPU (stolen cycles inflate wall time,
    * not this); `peakTaskMemBytes` is the largest single-task
    * execution-memory peak. The host probe (see [[HostLoad]]) reads
    * -1 where /proc is unavailable: `foreignCores` is other processes'
    * user CPU over the window, `stealCores` the hypervisor's, and
    * `peakHeapMb` the heap pools' peak since the latest window opened
    * (in a window with inner windows, since the last inner one opened).
    */
  final case class Window(
      wallS: Double,
      jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleWriteBytes: Long, spilledMemBytes: Long, spilledDiskBytes: Long,
      peakTaskMemBytes: Long,
      foreignCores: Double, majflt: Long, readMb: Double, ioWaitS: Double,
      stealCores: Double, peakHeapMb: Double) {

    /** The host probe's record fields, shared by the Bench and
      * ScaleBench records: `"foreign":..,"majflt":..,"read_mb":..,
      * "io_wait_s":..,"steal_cores":..`.
      */
    def hostJson: String =
      s""""foreign":${Json.num(foreignCores)},"majflt":$majflt,""" +
        s""""read_mb":${Json.num(readMb)},"io_wait_s":${Json.num(ioWaitS)},""" +
        s""""steal_cores":${Json.num(stealCores)}"""
  }

  private final class Counters extends SparkListener {
    val jobs, stages, tasks, cpuNs, shuffleBytes, spillMem, spillDisk = new AtomicLong()
    /** One task-memory peak per open window. */
    val peaks = java.util.concurrent.ConcurrentHashMap.newKeySet[AtomicLong]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        peaks.forEach(p => p.accumulateAndGet(m.peakExecutionMemory, math.max))
      }
    }

    def totals: Seq[Long] =
      Seq(jobs, stages, tasks, cpuNs, shuffleBytes, spillMem, spillDisk).map(_.get())
  }

  private val installed = new java.util.WeakHashMap[SparkContext, Counters]()

  private def counters(sc: SparkContext): Counters = installed.synchronized {
    Option(installed.get(sc)).getOrElse {
      val c = new Counters
      sc.addSparkListener(c)
      installed.put(sc, c)
      c
    }
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** `body`'s result and the Spark work and host load of its window.
    * If `body` throws, the exception propagates and no window is
    * reported.
    */
  def window[T](spark: SparkSession)(body: => T): (T, Window) = {
    val sc = spark.sparkContext
    val c = counters(sc)
    GraftSqlAccess.drainListenerBus(sc)
    val peak = new AtomicLong()
    c.peaks.add(peak)
    heapPools.foreach(_.resetPeakUsage())
    try {
      val before = c.totals
      val j0 = HostLoad.cpuJiffies(); val io0 = HostLoad.ioStat()
      val b0 = HostLoad.blkioTicks()
      val t0 = System.nanoTime()
      val out = body
      val dt = (System.nanoTime() - t0) / 1e9
      // /proc is sampled flush with the wall endpoint, before the
      // drain: its jiffies do not ride the bus, and time spent draining
      // is not the window's.
      val j1 = HostLoad.cpuJiffies(); val io1 = HostLoad.ioStat()
      val b1 = HostLoad.blkioTicks()
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      GraftSqlAccess.drainListenerBus(sc)
      val d = c.totals.zip(before).map { case (a, b) => a - b }
      val jiffiesOk = j0._1 >= 0 && j1._1 >= 0
      (out, Window(dt, d(0), d(1), d(2), d(3), d(4), d(5), d(6), peak.get(),
        if (jiffiesOk) HostLoad.cores((j1._1 - j0._1) - (j1._2 - j0._2), dt) else -1.0,
        if (io0._1 < 0) -1L else io1._1 - io0._1,
        if (io0._2 < 0) -1.0 else (io1._2 - io0._2) / 1e6,
        if (b0 < 0) -1.0 else (b1 - b0) / 100.0,
        if (jiffiesOk) HostLoad.cores(j1._5 - j0._5, dt) else -1.0,
        heapMb))
    } finally c.peaks.remove(peak)
  }
}
