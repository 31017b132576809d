package graft

/** Dev tool: run registered queries through the noop sink and print
  * steal-invariant execution-shape counters (jobs, stages, tasks,
  * shuffle bytes, executor-cpu seconds) — the instrument for plan-shape
  * regressions when the host's hypervisor steal makes one-shot wall
  * seconds unusable (r14). Executor CPU time is the per-task
  * `executorCpuTime` sum: stolen cores inflate wall, not CPU.
  *
  * Usage: tools/run.sh graft.QueryProf <q1,q2,...> [sfDir]
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val jobsEnded = new java.util.concurrent.atomic.AtomicLong()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobsEnded.incrementAndGet(); ()
      }
    })
    // Listener events ride an async bus with no completion barrier;
    // under load a stage-completion event can land AFTER a fixed-delay
    // snapshot and get charged to the next query (r14 ADVICE #4).
    // Gate each snapshot on observed completion instead: wait (bounded)
    // until every started job has ended — stage events for a job are
    // delivered before its job-end event on the ordered bus, so
    // started == ended means the counters above are settled.
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs.get() != jobsEnded.get() && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(50) // same-bus margin for the final stage event batch
    }
    def snap(): (Long, Long, Long, Long, Long) =
      (jobs.get(), stages.get(), tasks.get(), cpuNs.get(), shuffle.get())
    // Warm-up
    SparkEntry.queries("rel_filter_project")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Pins.release(spark)
    names.foreach { name =>
      drain()
      val before = snap()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Pins.release(spark)
      drain()
      val after = snap()
      println(f"[prof] $name%-32s wall=$wall%7.2f s  jobs=${after._1 - before._1}%3d  " +
        f"stages=${after._2 - before._2}%4d  tasks=${after._3 - before._3}%6d  " +
        f"cpu=${(after._4 - before._4) / 1e9}%7.2f s  shuffle=${(after._5 - before._5) / 1e6}%8.1f MB")
    }
    spark.stop()
  }
}
