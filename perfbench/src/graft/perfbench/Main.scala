package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process. Two modes:
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *     generate W's inputs for seed N under DIR, set up (session
  *     once, then index build and warm-up three times), measure a closed loop of one
  *     client for S seconds, check every output, and print one JSON
  *     result line. With --trace 1 the loop runs three times, untraced,
  *     traced, untraced, and the per-layer metrics are printed instead.
  *
  *   gen --workload W --seed N --out DIR
  *     only write the generated inputs (plus a few stream batches) and
  *     print each file with its row count and content digest, for the
  *     determinism test.
  */
object Main {
  val SetUps = 3
  /** Fixed so that plans and file counts do not depend on the host. */
  val ShufflePartitions = 8

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  /** Heap in use after a full collection, in MB. Collected three
    * times, pausing between, so that Spark's ContextCleaner can drop the
    * broadcast and shuffle blocks whose handles the previous collection
    * freed.
    */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT's threads: its compiler threads, a fixed set because the
    * JVM runs with -XX:-UseDynamicNumberOfCompilerThreads, and the
    * code-cache sweeper.
    */
  private lazy val jitThreads: Seq[Path] = {
    val s = Files.list(Path.of("/proc/self/task"))
    try s.iterator().asScala.toSeq.filter { t =>
      val name = Files.readString(t.resolve("comm")).trim
      name.contains("CompilerThre") || name == "Sweeper thread"
    } finally s.close()
  }

  /** CPU time of the JIT's threads, in seconds: utime + stime, fields
    * 14 and 15 of /proc/self/task/<tid>/stat, in ticks of 1/100 s.
    */
  def jitCpuS(): Double = jitThreads.map { t =>
    val st = Files.readString(t.resolve("stat"))
    val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }.sum / 100.0

  /** CPU time of the whole process (every thread), in seconds. The
    * kernel leaves out time the hypervisor stole from the guest.
    */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** One measured operation: its wall time, the program's CPU time
    * (the process's minus the JIT's) and the JIT's CPU time spent while
    * it ran, all in seconds.
    */
  final case class Sample(kind: String, seconds: Double, cpu: Double, jit: Double, items: Long,
                          userBytes: Long, ok: Boolean, span: Option[Span],
                          readings: Map[String, Double])

  /** Closed loop, one client: the next operation starts when the
    * previous one (and its untimed output check) has finished.
    */
  def loop(w: Workload, seconds: Double, tracer: Option[Tracer], minOps: Int = 1): Seq[Sample] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    while (secs(t0) < seconds || out.length < minOps || (seconds > 0 && !w.atCycleStart)) {
      val op = w.next()
      var span: Option[Span] = None
      val (c0, j0) = (processCpuS(), jitCpuS())
      val s0 = System.nanoTime()
      val res = try {
        tracer match {
          case Some(t) => val (r, sp) = t.op(op.kind)(op.call()); span = Some(sp); Right(r)
          case None => Right(op.call())
        }
      } catch { case e: Throwable => Left(e) }
      val dt = span.map(_.wallMs / 1e3).getOrElse(secs(s0))
      val jit = jitCpuS() - j0
      val cpu = processCpuS() - c0 - jit
      val (ok, readings) = res match {
        case Right(r) =>
          val ok = try r.ok() catch { case e: Throwable => System.err.println(s"check failed: $e"); false }
          (ok, r.readings())
        case Left(e) =>
          System.err.println(s"${op.kind} failed: $e"); e.printStackTrace()
          (false, Map.empty[String, Double])
      }
      if (!ok) System.err.println(s"${op.kind}: wrong output")
      out += Sample(op.kind, dt, cpu, jit, op.items, op.userBytes, ok, span, readings)
    }
    out.toSeq
  }

  final case class SetUp(total: Double, sessionStart: Double, build: Double, warmup: Double,
                         warmupOps: Seq[Sample])

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    mode match {
      case "gen" =>
        val out = Path.of(opt("out"))
        Workload(opt("workload"), seed, out).generate(previewBatches = 4)
        // Manifest: every generated file with its row count and the
        // digest of its decoded content.
        val files = Files.walk(out)
        try files.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toSeq.sorted
          .foreach { f =>
            val (rows, sha) = ParquetOut.contentDigest(f)
            println(s"${out.relativize(f)} $rows $sha")
          }
        finally files.close()
      case "run" => run(opt("workload"), seed, opt("seconds").toDouble,
        opt("trace") == "1", Path.of(opt("work")))
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Unit = {
    val in = work.resolve("inputs")
    val w = Workload(name, seed, in)
    val tGen = System.nanoTime()
    w.generate()
    println(f"# inputs generated in ${secs(tGen)}%.3f s")

    // Set-up = session creation, index build, warm-up. The session is
    // created once (a second one in the same JVM would start warm and
    // understate it); build and warm-up run three times on fresh
    // stores, and setup_s is the session start plus their median.
    val t0 = System.nanoTime()
    val spark = session(work)
    val tSession = secs(t0)
    val setUps = (1 to SetUps).map { k =>
      w.reset()
      val t1 = System.nanoTime()
      w.build(spark, work.resolve(s"setup$k"))
      val tBuild = secs(t1)
      val t2 = System.nanoTime()
      val warm = loop(w, 0, None, minOps = w.warmupOps)
      SetUp(tSession + secs(t1), tSession, tBuild, secs(t2), warm)
    }
    setUps.foreach(s => println(f"# setup: total=${s.total}%.3f s session=${s.sessionStart}%.3f s " +
      f"build=${s.build}%.3f s warmup=${s.warmup}%.3f s"))
    val setupS = median(setUps.map(_.total))

    val plain = loop(w, seconds, None)
    val (samples, metrics) =
      if (!trace) (plain, endToEnd(w, plain, setupS))
      else {
        val tracer = new Tracer(spark)
        tracer.install()
        val gc0 = gcMs()
        val traced = loop(w, seconds, Some(tracer))
        val gcPerOp = (gcMs() - gc0) / traced.length
        val gauges = w.gauges(spark)
        val heap = heapAfterGcMb()
        tracer.uninstall()
        tracer.writeSpans(work.getParent.resolve("traces").resolve(s"$name-seed$seed.jsonl"))
        // Untraced again after the traced half, so the overhead compares
        // the traced half with untraced samples from both sides of it
        // rather than with a colder JVM only.
        val untraced = plain ++ loop(w, seconds, None)
        (untraced ++ traced, perLayer(setUps, untraced, traced, gauges, gcPerOp, heap))
      }
    val check = w.finalCheck(spark)
    check.fold(e => System.err.println(s"final check failed: $e"), m => println(s"# final check: $m"))
    spark.stop()

    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      println(f"# ${ss.length}%d x $k: p50=${median(ss.map(_.seconds)) * 1000}%.1f ms, in order: " +
        ss.map(x => f"${x.seconds * 1000}%.0f").mkString(" "))
      println(f"#   cpu: p50=${median(ss.map(_.cpu)) * 1000}%.1f ms, in order: " +
        ss.map(x => f"${x.cpu * 1000}%.0f").mkString(" "))
      println(f"#   JIT cpu, not counted: p50=${median(ss.map(_.jit)) * 1000}%.1f ms, in order: " +
        ss.map(x => f"${x.jit * 1000}%.0f").mkString(" "))
    }
    // Wall-clock figures of the untraced samples: a diagnostic, not a
    // metric (see the README's "Why CPU time").
    println(f"# wall: latency_p50_ms=${p50(plain, _.seconds)}%.1f " +
      f"throughput_per_s=${perSecond(plain, _.seconds)}%.4f")
    // Every operation counts, warm-up included; a failed final content
    // check counts as one more failed operation.
    val all = setUps.flatMap(_.warmupOps) ++ samples
    val failed = all.count(!_.ok) + (if (check.isLeft) 1 else 0)
    val body = metrics.map { case (n, (v, u)) => s"\"$n\": {\"value\": $v, \"unit\": \"$u\"}" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.length}, """ +
      s""""failed": ${math.min(failed, all.length)}, "metrics": $body}""")
  }

  type Metrics = Seq[(String, (Double, String))]

  /** Median cost, in ms of `cost` (wall or CPU time), of the
    * operations that deliver items to a user (imports, queries);
    * maintenance operations show in the per-second figure instead.
    */
  def p50(s: Seq[Sample], cost: Sample => Double): Double =
    median(s.filter(_.items > 0).map(cost)) * 1000

  /** Items per second of `cost` (wall or CPU time) if every operation
    * cost the median of its kind, over the measured mix: a rate built
    * from medians, so one costly operation moves it no more than it
    * moves a median.
    */
  def perSecond(s: Seq[Sample], cost: Sample => Double): Double = {
    val kinds = s.groupBy(_.kind).values
    kinds.map(_.map(_.items).sum.toDouble).sum /
      kinds.map(k => k.length * median(k.map(cost))).sum
  }

  def endToEnd(w: Workload, s: Seq[Sample], setupS: Double): Metrics = {
    val retained = heapAfterGcMb()
    Seq(
      "setup_s" -> (setupS, "s"),
      "op_cpu_ms_p50" -> (p50(s, _.cpu), "ms"),
      "items_per_cpu_s" -> (perSecond(s, _.cpu), "1/cpu_s"),
      "stored_bytes_ratio" -> (w.storedBytesRatio(), "ratio"),
      "retained_mb" -> (retained, "MB"))
  }

  def perLayer(setUps: Seq[SetUp], untraced: Seq[Sample], traced: Seq[Sample],
               gauges: Map[String, Double], gcPerOp: Double, heap: Double): Metrics = {
    def of(kind: String) = traced.filter(_.kind == kind)
    def med(kind: String)(f: Sample => Double): Double = median(of(kind).map(f))
    def c(s: Sample): OpCounters = s.span.get.c
    def ratio(kind: String)(num: Sample => Double, den: Sample => Double): Double = {
      val d = of(kind).map(den).sum
      if (d == 0) 0.0 else of(kind).map(num).sum / d
    }
    def common(kind: String, which: Seq[String]): Metrics = which.map {
      case "jobs_per_op" => s"$kind.jobs_per_op" -> (med(kind)(c(_).jobs.toDouble), "count")
      case "tasks_per_op" => s"$kind.tasks_per_op" -> (med(kind)(c(_).tasks.toDouble), "count")
      case "planning_ms_per_op" => s"$kind.planning_ms_per_op" -> (med(kind)(c(_).planningMs), "ms")
      case "driver_only_ms_per_op" => s"$kind.driver_only_ms_per_op" -> (med(kind)(_.span.get.selfMs), "ms")
      case "executor_cpu_ms_per_op" => s"$kind.executor_cpu_ms_per_op" -> (med(kind)(c(_).cpuMs), "ms")
      case "gc_ms_per_op" => s"$kind.gc_ms_per_op" -> (med(kind)(c(_).taskGcMs), "ms")
      case "shuffle_write_mb_per_op" =>
        s"$kind.shuffle_write_mb_per_op" -> (med(kind)(c(_).shuffleWriteBytes / 1e6), "MB")
      case "output_mb_per_op" => s"$kind.output_mb_per_op" -> (med(kind)(c(_).outputBytes / 1e6), "MB")
      case "files_written_per_op" =>
        s"$kind.files_written_per_op" -> (med(kind)(c(_).filesWritten.toDouble), "count")
      case "combine_ratio" => s"$kind.combine_ratio" ->
        (ratio(kind)(c(_).shuffleWriteRecords.toDouble, c(_).inputRecords.toDouble), "ratio")
      case "rows_read_per_hit" => s"$kind.rows_read_per_hit" ->
        (ratio(kind)(c(_).inputRecords.toDouble, _.readings.getOrElse("hits", 0.0)), "ratio")
      case "written_bytes_ratio" => s"$kind.written_bytes_ratio" ->
        (ratio(kind)(c(_).outputBytes.toDouble, _.userBytes.toDouble), "ratio")
      case "p50_ms" => s"$kind.p50_ms" ->
        (median(untraced.filter(_.kind == kind).map(_.seconds)) * 1000, "ms")
    }
    val bulk = "index_store.bulk_import"
    val live = "index_store.upsert_partitioned"
    val bm25 = "search.bm25"
    val all = "index_store.search_all"
    val upsert = "search.postings_upsert"
    val compact = "search.postings_compact"
    val sched = Seq("jobs_per_op", "tasks_per_op", "planning_ms_per_op", "driver_only_ms_per_op")
    Seq(
      "engine.session_start_s" -> (median(setUps.map(_.sessionStart)), "s"),
      "engine.index_build_s" -> (median(setUps.map(_.build)), "s"),
      "engine.warmup_s" -> (median(setUps.map(_.warmup)), "s")) ++
    common(bulk, Seq("executor_cpu_ms_per_op", "shuffle_write_mb_per_op", "combine_ratio",
      "output_mb_per_op", "files_written_per_op", "gc_ms_per_op") ++ sched) ++
    Seq("lock", "schema", "probe", "probe_idx", "stage", "commit").map(p =>
      s"$live.${p}_ms" -> (med(live)(_.readings.getOrElse(s"${p}_ms", 0.0)), "ms")) ++
    common(live, sched :+ "written_bytes_ratio") ++
    Seq(s"$live.partitions_rewritten_per_op" ->
      (med(live)(_.readings.getOrElse("partitions_rewritten", 0.0)), "count"),
      s"$live.files_live" -> (gauges.getOrElse("files_live", 0.0), "count")) ++
    common(bm25, Seq("rows_read_per_hit", "p50_ms") ++ sched) ++
    Seq(s"$bm25.segments_live" -> (gauges.getOrElse("segments_live", 0.0), "count"),
      s"$bm25.tombstone_rows" -> (gauges.getOrElse("tombstone_rows", 0.0), "count")) ++
    common(all, Seq("rows_read_per_hit", "jobs_per_op", "driver_only_ms_per_op", "p50_ms")) ++
    common(upsert, Seq("jobs_per_op", "written_bytes_ratio", "p50_ms")) ++
    Seq(s"$compact.ms" -> (med(compact)(_.seconds * 1000), "ms"),
      s"$compact.bytes_rewritten_mb" -> (med(compact)(c(_).outputBytes / 1e6), "MB"),
      "jvm.gc_ms_per_op" -> (gcPerOp, "ms"),
      "jvm.heap_after_gc_mb" -> (heap, "MB"),
      "trace.overhead_op_cpu_ms_p50" -> (p50(traced, _.cpu) - p50(untraced, _.cpu), "ms"),
      "trace.overhead_items_per_cpu_s" ->
        (perSecond(traced, _.cpu) - perSecond(untraced, _.cpu), "1/cpu_s"))
  }
}
