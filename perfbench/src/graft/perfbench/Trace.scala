package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one operation, summed over the Spark jobs and SQL
  * executions attributed to it.
  */
final case class OpCounters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuMs: Double = 0, taskGcMs: Double = 0,
    shuffleWriteBytes: Long = 0, shuffleWriteRecords: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0,
    planningMs: Double = 0, filesWritten: Long = 0,
    jobBusyMs: Double = 0, ungroupedJobs: Long = 0)

/** One traced operation: its wall interval, the jobs it ran, and the
  * counters derived from them. `selfMs` is the wall time not covered by
  * any of its jobs — the driver-only part (planning, listing, commits).
  */
final case class Span(seq: Int, kind: String, startMs: Long, endMs: Long,
                      wallMs: Double, selfMs: Double, c: OpCounters,
                      jobIds: Seq[Int], sqlExecutions: Int)

/** Attributes Spark work to benchmark operations. Every traced
  * operation runs under its own job group, and each job (with its
  * stages and their task metrics) is charged by the group in its start
  * event, never by which operation happens to be running when the
  * asynchronous listener bus delivers it. The bus is drained and the
  * books cleared before an operation starts, and drained again before
  * its counters are read, so no event of one operation lands in
  * another: this is also what charges the QueryExecutionListener's
  * planning times and file counts, which carry no group. Jobs that
  * library code submits from its own pool threads carry no group (or a
  * stale one inherited when the pool thread was created); with a
  * single client they can only belong to the running operation, so
  * they are charged to it and counted as `ungrouped_jobs`.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final case class Job(id: Int, group: String, execId: Long, start: Long,
                               stages: Seq[Int]) { @volatile var end: Long = -1 }
  private final class Stage { var tasks = 0L; var m: org.apache.spark.executor.TaskMetrics = _ }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val planMs = new ConcurrentHashMap[Long, java.lang.Double]()
  private val files = new ConcurrentHashMap[Long, java.lang.Long]()
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  @volatile private var installed = false

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    installed = false
  }

  private val GroupKey = "spark.jobGroup.id"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty(GroupKey))).orNull
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, group, exec, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = new Stage
    s.tasks = e.stageInfo.numTasks
    s.m = e.stageInfo.taskMetrics
    stages.put(e.stageInfo.stageId, s)
  }

  private def record(qe: QueryExecution): Unit = {
    planMs.put(qe.id, qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    files.put(qe.id, numFiles(qe.executedPlan))
  }
  /** Files written by the write commands anywhere in a physical plan,
    * including plans that are not children (AQE stages, command results).
    */
  private def numFiles(p: org.apache.spark.sql.execution.SparkPlan): Long = {
    val own = p match {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val nested = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case c: org.apache.spark.sql.execution.CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => Nil
    }
    own + (p.children ++ nested).map(numFiles).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private var seq = 0

  private def clear(): Unit = {
    jobs.clear(); stages.clear(); planMs.clear(); files.clear()
  }

  /** Run `body` as one traced operation of `kind`. */
  def op[T](kind: String)(body: => T): (T, Span) = {
    seq += 1
    val group = s"perfbench-$seq-$kind"
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    clear()
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e6
    val end = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(sc)
    val mine = jobs.values.asScala.toSeq.sortBy(_.id)
    val execIds = mine.map(_.execId).filter(_ >= 0).toSet ++ planMs.keySet.asScala
    var c = OpCounters(jobs = mine.size, ungroupedJobs = mine.count(_.group != group),
      planningMs = planMs.values.asScala.map(_.doubleValue).sum,
      filesWritten = files.values.asScala.map(_.longValue).sum,
      jobBusyMs = covered(mine.map(j =>
        (math.max(j.start, start), math.min(if (j.end < 0) end else j.end, end)))))
    mine.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id))).foreach { s =>
      c = c.copy(stages = c.stages + 1, tasks = c.tasks + s.tasks)
      val m = s.m
      if (m != null) c = c.copy(
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6,
        taskGcMs = c.taskGcMs + m.jvmGCTime,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = c.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        outputRecords = c.outputRecords + m.outputMetrics.recordsWritten)
    }
    val span = Span(seq, kind, start, end, wall, math.max(0.0, wall - c.jobBusyMs), c,
      mine.map(_.id), execIds.size)
    spans += span
    clear()
    (out, span)
  }

  /** Length of the union of [start, end] intervals, in ms. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val c = s.c
      val fields = Seq(
        "seq" -> s.seq.toString, "kind" -> s"\"${s.kind}\"",
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_ms" -> f"${s.wallMs}%.3f", "self_ms" -> f"${s.selfMs}%.3f",
        "jobs" -> c.jobs.toString, "ungrouped_jobs" -> c.ungroupedJobs.toString,
        "job_ids" -> s.jobIds.mkString("[", ",", "]"),
        "sql_executions" -> s.sqlExecutions.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "planning_ms" -> f"${c.planningMs}%.3f", "executor_cpu_ms" -> f"${c.cpuMs}%.3f",
        "task_gc_ms" -> f"${c.taskGcMs}%.3f",
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_write_records" -> c.shuffleWriteRecords.toString,
        "input_bytes" -> c.inputBytes.toString, "input_records" -> c.inputRecords.toString,
        "output_bytes" -> c.outputBytes.toString, "output_records" -> c.outputRecords.toString,
        "files_written" -> c.filesWritten.toString)
      fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
