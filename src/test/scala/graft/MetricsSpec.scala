package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sc = spark.sparkContext

  /** A fresh two-stage RDD action: a 4-way map side, a reduce side. */
  private def shuffled(): Long =
    sc.parallelize(1 to 200, 4).map(i => (i % 7, 1)).reduceByKey(_ + _).count()

  /** `body` with a listener that holds the shared bus 30 ms on every
    * task end, so events reach the listeners well after the action that
    * posted them has returned, as on a loaded driver.
    */
  private def onSlowBus[T](body: => T): T = {
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(30)
    }
    sc.addSparkListener(slow)
    try body finally sc.removeSparkListener(slow)
  }

  private def counters(w: Metrics.Window): Seq[Long] =
    Seq(w.jobs, w.stages, w.tasks, w.cpuNs, w.shuffleWriteBytes,
      w.spilledMemBytes, w.spilledDiskBytes, w.peakTaskMemBytes)

  test("one single-stage action is 1 job, 1 stage and one task per partition") {
    val (n, w) = onSlowBus(Metrics.window(spark)(sc.parallelize(1 to 12, 3).count()))
    assert(n == 12)
    assert((w.jobs, w.stages, w.tasks) == ((1L, 1L, 3L)))
    assert(w.shuffleWriteBytes == 0)
  }

  test("a repartition writes shuffle bytes") {
    val (_, w) = Metrics.window(spark)(sc.parallelize(1 to 1000, 2).repartition(4).count())
    assert(w.shuffleWriteBytes > 0)
    assert((w.jobs, w.stages, w.tasks) == ((1L, 2L, 6L)))
  }

  test("a job started from another thread inside the window is counted") {
    val (_, w) = onSlowBus(Metrics.window(spark) {
      val t = new Thread(() => { sc.parallelize(1 to 8, 2).count(); () })
      t.start()
      sc.parallelize(1 to 8, 2).count()
      t.join()
    })
    assert((w.jobs, w.stages, w.tasks) == ((2L, 2L, 4L)))
  }

  test("a job that finished before the window opened is not charged to it") {
    val (_, w) = onSlowBus {
      (1 to 5).foreach(_ => shuffled())
      Metrics.window(spark)(())
    }
    assert(counters(w).forall(_ == 0), s"empty window charged: $w")
  }

  test("back-to-back windows over the same action report equal counts") {
    val (a, b) = onSlowBus {
      (Metrics.window(spark)(shuffled())._2, Metrics.window(spark)(shuffled())._2)
    }
    assert((a.jobs, a.stages, a.tasks) == ((b.jobs, b.stages, b.tasks)))
    assert(a.jobs == 1 && a.stages == 2)
    assert(a.shuffleWriteBytes == b.shuffleWriteBytes)
  }

  test("a window's counters are never negative, and an outer window covers its inner") {
    val ((_, inner), outer) = Metrics.window(spark) {
      shuffled()
      Metrics.window(spark)(shuffled())
    }
    val empty = Metrics.window(spark)(())._2
    for (w <- Seq(inner, outer, empty)) {
      assert(w.wallS >= 0)
      assert(counters(w).forall(_ >= 0), s"negative counter: $w")
    }
    assert(outer.jobs == 2 * inner.jobs && outer.tasks == 2 * inner.tasks)
    assert(outer.cpuNs >= inner.cpuNs && outer.peakTaskMemBytes >= inner.peakTaskMemBytes)
  }

  test("foreign cores read 0, not negative, when the own delta outruns the host's") {
    // Over 10 ms the own utime moved 3 jiffies and the host's user+nice
    // total only 1: the two counters were read at different instants.
    val (j0, j1) = ((100L, 50L, 0L, 0L, 0L), (101L, 53L, 0L, 0L, 0L))
    assert(HostLoad.foreign(j0, j1, 0.01) == 0.0)
    assert(HostLoad.foreign(j0, (300L, 60L, 0L, 0L, 0L), 1.0) == 1.9)
    assert(HostLoad.foreign((-1L, -1L, -1L, -1L, -1L), j1, 0.01) == -1.0)
  }
}
