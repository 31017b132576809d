package graft
import org.apache.spark.sql.{DataFrame, GraftSqlAccess}
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Per-round benchmark: times every registered query at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (driver contract), plus
  * the full per-query detail in BENCH_LOCAL.json (stdout capture has
  * truncated in the past; the file is the durable record).
  *
  * Timing discipline: each query materializes fully through the noop
  * sink (count() would let Catalyst prune whole subtrees, e.g. a
  * projected column never computed); a warm-up query first so JVM/
  * codegen startup isn't billed to the first victim; queries run in
  * sorted name order for run-to-run comparability.
  *
  * Two numbers per query: `queries` = end-to-end seconds including the
  * final global ORDER BY that exists only so the DuckDB oracle can
  * hash-compare rows deterministically; `queries_op` = the same plan
  * with that top-level presentation Sort stripped — the number that
  * tracks the OPERATOR's cost round-over-round (a 600k-row global sort
  * is harness artifact, not operator work).
  */
object Bench {

  /** The query minus its top-level global presentation Sort, if any.
    * Only the outermost node is considered — interior sorts (window
    * ordering, sort-merge joins) are real operator work and stay.
    */
  private def stripTopSort(df: DataFrame): Option[DataFrame] =
    df.queryExecution.logical match {
      case s: Sort if s.global =>
        Some(GraftSqlAccess.ofRows(df.sparkSession, s.child))
      case _ => None
    }

  /** queries_op map of the committed idle record (BENCH_LOCAL.json),
    * used to flag mid-run-contaminated outliers for a rerun — absent
    * file or parse failure degrades to "no reference" (empty map), it
    * never fails the bench.
    */
  private def committedOpTimes(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val obj = """"queries_op":\{([^}]*)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  /** Where a finished sweep's record may land (round-11 verdict #2).
    * The asked-for path doubles as the >3×-rerun reference and the
    * drift baseline, so a `contended:true` record never replaces a
    * `contended:false` one there — it diverts to
    * `<stem>_contended.json`. An idle record overwrites anything
    * (recovery direction); a missing or unparseable target is written
    * as asked (nothing idle to protect). Pure decision given the
    * existing file's bytes — spec-pinned in BenchGuardSpec.
    */
  private[graft] def recordTarget(asked: String, contended: Boolean): String = {
    val existingIdle =
      try {
        val p = java.nio.file.Paths.get(asked)
        java.nio.file.Files.exists(p) &&
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .contains(""""contended":false""")
      } catch { case _: Throwable => false }
    if (contended && existingIdle)
      asked.replaceAll("\\.json$", "") + "_contended.json"
    else asked
  }

  private def fmt(v: Double): String = Json.num(v)

  /** The compact final stdout line: headline totals, per-family
    * subtotals and the 24 most expensive entries — sized to fit whole
    * inside a 2 KB tail capture. Every name and the sf path go through
    * [[Json.str]], so an odd path cannot break the parse.
    */
  private[graft] def compactLine(total: Double, totalOp: Double, n: Int,
                                 summed: Seq[(String, (Double, Double))],
                                 load: String, sfDir: String): String = {
    val famOf = (n: String) =>
      if (n.startsWith("_")) "_" + n.stripPrefix("_").takeWhile(_ != '_')
      else n.takeWhile(_ != '_')
    val fams = summed.groupBy { case (k, _) => famOf(k) }.toSeq.sortBy(_._1)
      .map { case (f, es) => s"${Json.str(f)}:${fmt(es.map(_._2._1).filter(_ >= 0).sum)}" }
      .mkString("{", ",", "}")
    val topQs = summed.sortBy(-_._2._1).take(24)
      .map { case (k, (full, _)) => s"${Json.str(k)}:${fmt(full)}" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""total_op":${fmt(totalOp)},"n":$n,"families":$fams,""" +
      s""""queries":$topQs,"load":$load,"sf":${Json.str(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.cpus
    val cores = Runtime.getRuntime.availableProcessors()
    // Bounded wait-for-idle (round-8 verdict #5): every driver-tail
    // record to date was taken on a contended host and is noise for
    // per-query comparison. Poll the 1-min load and delay start until
    // the host is idle (load < 1.0 — the same bar the `contended`
    // flag uses) or the 10-min bound expires; a record that STILL
    // starts loaded self-identifies via `contended: true` below.
    locally {
      val deadline = System.currentTimeMillis() + 10 * 60 * 1000L
      var l = HostLoad.loadAvg()
      while (l > 1.0 && System.currentTimeMillis() < deadline) {
        System.err.println(f"[bench] host 1-min load $l%.2f — waiting for idle " +
          f"(bounded, ${(deadline - System.currentTimeMillis()) / 1000}s left)")
        Thread.sleep(15000)
        l = HostLoad.loadAvg()
      }
    }
    // Whole-run watermarks (see HostLoad): every 15 s sample, not the
    // endpoints, decides `contended` — and the deciding signal is
    // FOREIGN cpu (Δtotal − Δself), because the bench's own 32-core
    // work dominates raw loadavg.
    val sampler = new HostLoad.Sampler("bench-load-sampler")
    import sampler.{foreignMax, foreignSysMax, loadMax, loadStart, stealMax}
    if (loadStart > 0.5 * cores)
      System.err.println(f"[bench] WARNING: host 1-min load $loadStart%.1f exceeds " +
        f"half of $cores cores at start — this record is contention-distorted; " +
        "re-run on an idle host before comparing per-query numbers")
    val spark = Engine.session(cpus)

    // Two [[Metrics]] windows per entry. `probes`: the host probe over
    // the entry's whole wall window (round-10 verdict #1), so an
    // outlier in the committed record SELF-names its contaminant
    // (foreign cores = a co-scheduled JVM; majflt/read_mb = page-cache
    // eviction / I/O pressure — the class the whole-run `contended`
    // flag structurally misses). `work`: the Spark work of the run the
    // entry's counters describe — a registry query's END-TO-END run
    // (the stripped re-run would double-count the same exchanges), a
    // non-query unit's whole window. Shuffle bytes are the
    // scale-limiting quantity (network at 1000 executors); jobs,
    // stages, tasks and executor CPU are steal-free.
    val probes = scala.collection.mutable.LinkedHashMap[String, Metrics.Window]()
    val work = scala.collection.mutable.LinkedHashMap[String, Metrics.Window]()
    def counted(name: String, w: Metrics.Window): Unit = {
      work(name) = w
      System.err.println(f"[bench] $name%-32s wall=${w.wallS}%7.2f s  jobs=${w.jobs}%3d  " +
        f"stages=${w.stages}%4d  tasks=${w.tasks}%6d  cpu=${w.cpuNs / 1e9}%7.2f s  " +
        f"shuffle=${w.shuffleWriteBytes / 1e6}%8.1f MB")
    }
    def probed[T](name: String, counts: Boolean = false)(body: => T): T = {
      val (r, w) = Metrics.window(spark)(body)
      probes(name) = w
      if (counts) counted(name, w)
      r
    }

    def timeNoop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    /** (end-to-end secs, operator secs with presentation sort stripped).
      * The end-to-end run's work is counted under `key`; a failed run
      * bills its partial work to itself.
      */
    def runOnce(name: String, key: String): (Double, Double) = {
      // Construction is timed WITH execution: for declarative queries
      // it is millisecond plan-building, but iterative operators
      // (connected components) run their convergence loop — real work
      // — during construction, and excluding it would under-report
      // them to near zero.
      val (run, w) = Metrics.window(spark) {
        val tBuild = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val buildSecs = (System.nanoTime() - tBuild) / 1e9
          System.err.println(f"[bench] $name build $buildSecs%.2f s")
          Some((df, buildSecs, buildSecs + timeNoop(df)))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      counted(key, w)
      val times = run.fold((-1.0, -1.0)) { case (df, buildSecs, full) =>
        // The stripped (no presentation sort) run goes BEFORE the
        // release: queries that persist intermediates (inverted
        // indexes, signatures) must re-run against the same cache state
        // the e2e run ended with — a cold stripped run would recompute
        // the persisted subtree on every consumer and report operator
        // time far above the e2e number.
        val op = stripTopSort(df) match {
          case None => full
          case Some(stripped) =>
            // Construction work (iterative operators) is operator cost,
            // not presentation cost — keep it in both numbers.
            try buildSecs + timeNoop(stripped)
            catch { case _: Throwable => full }
        }
        (full, op)
      }
      // Release persisted intermediates (the library's documented
      // cleanup handle) so later queries don't run under this query's
      // memory pressure.
      Pins.release(spark)
      times
    }

    // Dev-only subset runs (SPARK_GRAFT_ONLY=a,b,c); the driver never
    // sets it, so round benches always cover the full registry. An
    // entry ending in `*` is a PREFIX — `SPARK_GRAFT_ONLY='sql_*'`
    // runs one family in its own JVM, the isolation mode the idle
    // regression adjudication uses (per-family numbers decouple from
    // suite-order JVM state).
    val onlySpec = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val only: Option[String => Boolean] = onlySpec.map { pats => (n: String) =>
      pats.exists(p =>
        if (p.endsWith("*")) n.startsWith(p.dropRight(1)) else n == p)
    }

    // Warm-up: JVM + codegen + parquet footer caches (its counts are
    // not an entry's).
    runOnce("rel_filter_project", "rel_filter_project")
    work.clear()
    // spark.ml warm-up (class-loading + BLAS probe + fit codegen):
    // without it the alphabetically-first ml query absorbs ~3 s of
    // one-time cost and its number stops tracking the operator.
    locally {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions.{array, col}
      val tiny = spark.range(64).select(array_to_vector(array(
        col("id").cast("double"), (col("id") % 7).cast("double"))).as("features"))
      new KMeans().setK(2).setSeed(1L).setMaxIter(1).fit(tiny)
    }
    // RocksDB state-store + transformWithState warm-up (round-8 verdict
    // #3): stream_distinct_users_hll swung 1.04 → 3.66 s between records
    // with its code untouched — the delta is one-time provider init
    // (RocksDB native-library load + state-store coordinator + TWS batch
    // codegen), which this tiny run absorbs so the real entry tracks the
    // operator (measured: ~2.3 s one-time; see BENCH_LOCAL.md).
    locally {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      org.apache.spark.sql.GraftSqlAccess.ensureStateStoreCoordinator(s2)
      import s2.implicits._
      val tiny = s2.range(16)
        .select((org.apache.spark.sql.functions.col("id") % 3).cast("string"),
          org.apache.spark.sql.functions.col("id").cast("string"))
        .as[(String, String)]
        .map { case (k, v) => streaming.TwsHll.Keyed(k, v) }
      streaming.TwsHll.distinctPerKey(tiny).toDF().write
        .format("noop").mode("overwrite").save()
    }

    // Derived-artifact builds (the near-dup pair graph, the IVFADC
    // vector index) are INGEST-time work shared by many queries.
    // Pre-build them as their own bench entries — artifact deleted
    // first so the number is always the real build cost — and the
    // consumer queries below then run against warm artifacts, i.e.
    // their numbers are steady-state serving cost instead of
    // whichever consumer ran first silently absorbing the build.
    //
    // Every measured NON-QUERY entry below is a RERUNNABLE THUNK
    // (round-10 verdict #1): each owns its full setup (artifact
    // delete, temp dirs), so the >3×-over-committed rerun guard at
    // sweep end re-invokes it exactly like a registry query.
    // Previously these were one-shot inline blocks — exactly the most
    // expensive entries in the suite had no rerun, no isolated record
    // and no per-entry contamination signal, which is how the
    // round-10 record carried `_build_neardup_pairs` 52.9 s vs
    // 8.96 s committed idle under `contended:false` with nothing to
    // adjudicate it. Multi-entry thunks (the postings maintenance
    // cycle, the stream drain with its percentiles) rerun and replace
    // as a UNIT, so percentiles always ride with the run that won.
    def buildArtifact(entry: String, artifactName: String)
                     (build: => Unit): Double = probed(entry, counts = true) {
      val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sfDir))
      store.deleteIndex(artifactName)
      val t0 = System.nanoTime()
      build
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $entry: $dt%.2f s")
      Pins.release(spark)
      dt
    }
    def pairBuildF(): Seq[(String, Double)] = Seq(
      "_build_neardup_pairs" ->
        buildArtifact("_build_neardup_pairs", llm.DedupQueries.PairIndexName) {
          llm.DedupQueries.materializedPairs(spark, sfDir).write
            .format("noop").mode("overwrite").save()
        })
    def vecBuildF(): Seq[(String, Double)] = Seq(
      "_build_vec_index" ->
        buildArtifact("_build_vec_index", llm.SimilarityQueries.VecIndexName) {
          llm.SimilarityQueries.materializedVecIndex(spark, sfDir)._1.write
            .format("noop").mode("overwrite").save()
        })
    def postingsBuildF(): Seq[(String, Double)] = Seq(
      "_build_text_postings" ->
        buildArtifact("_build_text_postings", search.SearchQueries.PostingsName) {
          search.SearchQueries.materializedPostings(spark, sfDir)._1.write
            .format("noop").mode("overwrite").save()
        })
    // The postings maintenance CYCLE behind the lease story: a 100-doc
    // segment upsert (O(batch) — the flat ScaleBench row), then a FULL
    // compaction (resolve tombstones, fold to seg=0 — the op that
    // holds the maintenance lease for hours at 100 TB and motivated
    // the round-9 heartbeat renewal). Runs against the artifact the
    // build above just produced; compaction restores the single-
    // segment layout, so the consumer queries below serve the same
    // resolved content they would have anyway.
    // Isolated in its OWN artifact root (symlinked corpus, untimed
    // fresh build) so the shared artifacts the consumer queries serve
    // from keep their pristine fingerprints — a maintenance batch
    // against the shared root would force every postings consumer
    // below into a silent rebuild and skew its cold number.
    def postingsMaintF(): Seq[(String, Double)] = probed("_compact_postings", counts = true) {
      val maintDir = java.nio.file.Files.createTempDirectory("bench_maint").toString
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(maintDir, "documents.parquet"),
        java.nio.file.Paths.get(sfDir, "documents.parquet"))
      search.SearchQueries.materializedPostings(spark, maintDir) // untimed build
      val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(maintDir))
      val batch = Tables(spark, maintDir, "documents")
        .orderBy(org.apache.spark.sql.functions.col("doc_id")).limit(100)
        .withColumn("doc_id",
          org.apache.spark.sql.functions.col("doc_id") +
            org.apache.spark.sql.functions.lit(90000000L))
        .persist()
      batch.count() // materialize off the clock
      val t0 = System.nanoTime()
      search.SearchQueries.upsertPostings(store, batch, "bench-maint")
      val up = (System.nanoTime() - t0) / 1e9
      batch.unpersist()
      val t1 = System.nanoTime()
      search.SearchQueries.compactPostings(store)
      val comp = (System.nanoTime() - t1) / 1e9
      System.err.println(f"[bench] _upsert_postings_batch: $up%.2f s, " +
        f"_compact_postings: $comp%.2f s")
      Pins.release(spark)
      Seq("_upsert_postings_batch" -> up, "_compact_postings" -> comp)
    }

    def bpeBuildF(): Seq[(String, Double)] = {
      // Two artifacts share one training run; delete both so the
      // timed build is the full k-iteration loop.
      val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sfDir))
      store.deleteIndex(llm.BpeQueries.WordsName)
      Seq("_build_bpe" -> buildArtifact("_build_bpe", llm.BpeQueries.MergesName) {
        llm.BpeQueries.materializedBpe(spark, sfDir)._1.write
          .format("noop").mode("overwrite").save()
      })
    }
    def wpBuildF(): Seq[(String, Double)] = {
      val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sfDir))
      store.deleteIndex(llm.WordPieceQueries.WordsName)
      Seq("_build_wordpiece" ->
        buildArtifact("_build_wordpiece", llm.WordPieceQueries.MergesName) {
          llm.WordPieceQueries.materializedWordPiece(spark, sfDir)._1.write
            .format("noop").mode("overwrite").save()
        })
    }
    def geoBuildF(): Seq[(String, Double)] = Seq(
      "_build_geo_cells" ->
        buildArtifact("_build_geo_cells", search.GeoQueries.GeoIndexName) {
          search.GeoQueries.materializedGeoIndex(spark, sfDir).write
            .format("noop").mode("overwrite").save()
        })

    // The reference's headline metric is bulk-import WRITE throughput
    // (BASELINE.md: 33.6k docs/s at 171M rows) — measure the full
    // scan -> stringify -> keyed-dedup -> partitioned-write pipeline.
    // Skipped in subset probes unless asked for — it is the single
    // most expensive bench item and would dominate a seconds-long
    // targeted measurement.
    def writeBulkF(): Seq[(String, Double)] = probed("_write_bulk_import", counts = true) {
      val out = java.nio.file.Files.createTempDirectory("bench_import").toString
      val store = new etl.IndexStore(spark, out)
      val li = Tables(spark, sfDir, "lineitem")
      val t0 = System.nanoTime()
      val n = store.bulkImport(li, "lineitem", "l_orderkey", numShards = cpus)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] bulk_import: $n rows in $dt%.2fs (${n / dt}%.0f rows/s)")
      Pins.release(spark)
      Seq("_write_bulk_import" -> dt)
    }

    // Concurrent whole-database import — the reference's actual
    // headline scenario (its demo imports every MySQL table in
    // parallel threads, R/README.md:12). All 10 fixture tables through
    // bulkImportAll at parallelism 4, FAIR pools per table.
    def writeImportAllF(): Seq[(String, Double)] = probed("_write_bulk_import_all", counts = true) {
      val out = java.nio.file.Files.createTempDirectory("bench_import_all").toString
      val store = new etl.IndexStore(spark, out)
      val keyed = Seq(
        "region" -> "r_regionkey", "nation" -> "n_nationkey",
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "lineitem" -> "l_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
      val t0 = System.nanoTime()
      val counts = store.bulkImportAll(
        keyed.map { case (t, k) => (t, Tables(spark, sfDir, t), k) },
        parallelism = 4, numShards = 8)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] bulk_import_all: ${counts.size} tables, " +
        f"${counts.values.sum} docs in $dt%.2fs (${counts.size / dt}%.2f tables/s)")
      Pins.release(spark)
      Seq("_write_bulk_import_all" -> dt)
    }

    // True Structured-Streaming ingest latency (round-8 verdict #8):
    // the 14 stream_* entries bench their batch twins; this entry runs
    // the real micro-batch runtime end-to-end — the events table
    // staged TIME-ORDERED as 5 files (streams arrive in rough
    // event-time order; that locality is what makes continuous ingest
    // affordable), readStream(maxFilesPerTrigger=1) → foreachBatch
    // PARTITION-GRANULAR keyed upsert into a date-partitioned
    // IndexStore index (upsertPartitioned — each commit rewrites only
    // the batch's few date partitions, never the accumulated index,
    // so per-batch cost stays flat as history grows; a full
    // copy-on-write upsert here would measure a commit cost that
    // GROWS with every batch — the anti-pattern this entry exists to
    // rule out). Wall seconds for the 5-batch drain; stderr carries
    // the per-batch mean. Checkpointed, AvailableNow trigger.
    def streamLatencyF(): Seq[(String, Double)] = probed("_stream_latency", counts = true) {
      var streamP50 = -1.0
      var streamP95 = -1.0
      import org.apache.spark.sql.streaming.Trigger
      val src = java.nio.file.Files.createTempDirectory("bench_stream_src").toString
      val wh = java.nio.file.Files.createTempDirectory("bench_stream_wh").toString
      Tables(spark, sfDir, "events")
        .withColumn("event_date",
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts")).cast("string"))
        .repartitionByRange(5, org.apache.spark.sql.functions.col("ts"))
        .write.mode("overwrite").parquet(s"$src/in")
      val store = new etl.IndexStore(spark, wh)
      val schema = spark.read.parquet(s"$src/in").schema
      val nBatches = 5
      val batchWalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          // Per-batch wall time + phase breakdown on stderr: FLATNESS
          // of the walls is the evidence the commit cost tracks the
          // batch, not the accumulated index; the phases say where a
          // fixed per-trigger cost lives (round-9 verdict #4).
          val b0 = System.nanoTime()
          if (store.listIndexes().contains("events_live"))
            store.upsertPartitioned(batch, "events_live", "event_id", "event_date")
          else store.bulkImportPartitioned(batch, "events_live", "event_id", "event_date")
          val w = (System.nanoTime() - b0) / 1e9
          batchWalls.add(w)
          val phases = Seq("lock", "schema", "probe", "probe_idx", "stage", "commit")
            .flatMap(p => Option(store.lastPhases.get(p)).map(v => f"$p=$v%.2f"))
          System.err.println(
            f"[bench] _stream_latency batch $id: $w%.2f s (${phases.mkString(" ")})")
          store.lastPhases.clear()
          ()
        }
        .option("checkpointLocation", s"$src/.ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(600000)
      val dt = (System.nanoTime() - t0) / 1e9
      val walls = batchWalls.toArray(Array.empty[java.lang.Double])
        .map(_.doubleValue).sorted
      def pct(p: Double): Double =
        if (walls.isEmpty) 0.0
        else walls(math.min(walls.length - 1, math.ceil(p * walls.length).toInt - 1).max(0))
      streamP50 = pct(0.5)
      streamP95 = pct(0.95)
      System.err.println(f"[bench] _stream_latency: $nBatches micro-batches in " +
        f"$dt%.2f s (${dt / nBatches}%.2f s/batch, p50=$streamP50%.2f " +
        f"p95=$streamP95%.2f, partition-granular keyed upsert)")
      Pins.release(spark)
      // Per-batch percentiles as first-class record entries so the
      // micro-batch latency contract tracks round-over-round without
      // stderr archaeology. They are EXCLUDED from the headline
      // total/total_op sums (round-10 ADVICE #1: they are percentiles
      // of batch walls already fully counted inside `_stream_latency`
      // — summing them double-counted ~5.4 s of pseudo-duration and
      // broke frame comparability with round-9 totals).
      Seq("_stream_latency" -> dt,
        "_stream_latency_p50" -> streamP50,
        "_stream_latency_p95" -> streamP95)
    }

    // Ordered exactly as the one-shot blocks used to run (builds
    // before the registry sweep so consumer queries serve from warm
    // artifacts). Gate name = the entry SPARK_GRAFT_ONLY selects the
    // unit by; an isolated non-query record is
    //   SPARK_GRAFT_ONLY='_build_*,_write_*,_stream_latency,_compact_postings'
    //   SPARK_GRAFT_BENCH_OUT=BENCH_FAMILY_build.json
    // — the same per-family isolation mode the query families use.
    val specials: Seq[(String, () => Seq[(String, Double)])] = Seq(
      "_build_neardup_pairs" -> (pairBuildF _),
      "_build_vec_index" -> (vecBuildF _),
      "_build_text_postings" -> (postingsBuildF _),
      "_compact_postings" -> (postingsMaintF _),
      "_build_bpe" -> (bpeBuildF _),
      "_build_wordpiece" -> (wpBuildF _),
      "_build_geo_cells" -> (geoBuildF _),
      "_write_bulk_import" -> (writeBulkF _),
      "_write_bulk_import_all" -> (writeImportAllF _),
      "_stream_latency" -> (streamLatencyF _))
    val specialResults0: Seq[(String, Seq[(String, Double)])] =
      specials.filter { case (gate, _) => only.forall(_(gate)) }
        .map { case (gate, f) => gate -> f() }

    val coldResults0 = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_(n)))
      .map(n => n -> probed(n)(runOnce(n, n)))

    // Contamination reruns: any measured entry — registry query OR
    // non-query unit — reading >3× its committed idle op-time gets
    // ONE rerun at the end of the sweep and keeps the better (min)
    // result, marked in the record. A transient co-process (the
    // round-9 mid-run driver gate: 5–12× on individual queries under
    // an idle-endpoints flag) is unlikely to hit the same entry
    // twice; a REAL regression reproduces and the min keeps it.
    // Bounded (≤15 units total) so a globally-slow run degrades to
    // the honest `contended` flag instead of doubling the sweep.
    // Exclusions are LOGGED and counted (`rerun_skipped` in the
    // record) so "reruns: []" is distinguishable from "nothing
    // qualified" (round-10 verdict #7).
    val committed = committedOpTimes(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    def trips(n: String, op: Double): Boolean =
      op > 1.0 && committed.get(n).exists(prev => prev >= 0.3 && op > 3 * prev)
    // Rerun-exclusion provenance: entries over 3× their committed
    // reference that the guard nonetheless skips, each with its named
    // reason on stderr. Percentile pseudo-entries are exempt (their
    // unit reruns with `_stream_latency`, the primary).
    var rerunSkipped = 0
    def auditExclusions(entries: Seq[(String, Double)]): Unit =
      entries.foreach { case (n, op) =>
        if (!n.startsWith("_stream_latency_p") && op >= 0) committed.get(n) match {
          case None if op > 1.0 =>
            rerunSkipped += 1
            System.err.println(f"[bench] rerun skipped: $n $op%.2f s — no committed reference")
          case Some(prev) if op > 3 * prev && prev < 0.3 =>
            rerunSkipped += 1
            System.err.println(f"[bench] rerun skipped: $n $op%.2f s — committed ref " +
              f"$prev%.2f s below the 0.3 s floor")
          case Some(prev) if op > 3 * prev && op <= 1.0 =>
            rerunSkipped += 1
            System.err.println(f"[bench] rerun skipped: $n $op%.2f s — at/below the 1.0 s floor")
          case _ => ()
        }
      }
    auditExclusions(coldResults0.map { case (n, (_, op)) => n -> op })
    auditExclusions(specialResults0.flatMap(_._2))
    // First-run probes and counts survive a slower rerun: the
    // per-entry signals must describe the run whose number the record
    // keeps.
    val probesFirst = probes.toMap
    val workFirst = work.toMap
    def keepFirst(n: String): Unit = {
      probesFirst.get(n).foreach(p => probes(n) = p)
      workFirst.get(n).foreach(w => work(n) = w)
    }
    val rerunNames = coldResults0.collect {
      case (n, (_, op)) if trips(n, op) => n
    }.take(15)
    val reruns = rerunNames.map { n =>
      System.err.println(s"[bench] rerun (>3x committed idle op-time): $n")
      n -> probed(n)(runOnce(n, n))
    }.toMap
    val coldResults = coldResults0.map { case (n, first) =>
      reruns.get(n).filter(_._2 >= 0).filter(_._2 < first._2) match {
        case Some(second) => n -> second
        case None =>
          keepFirst(n)
          n -> first
      }
    }
    // Non-query units share the bounded rerun budget; a unit whose
    // ANY entry trips reruns WHOLE (its entries are one measurement
    // frame — a cycle's upsert and compact, a drain and its
    // percentiles) and replaces only if the unit total improved.
    val specialRerunGates = specialResults0.collect {
      case (gate, entries) if entries.exists { case (n, s) => trips(n, s) } => gate
    }.take(math.max(0, 15 - rerunNames.size))
    val specialThunks = specials.toMap
    val specialReruns: Map[String, Seq[(String, Double)]] = specialRerunGates.map { gate =>
      System.err.println(s"[bench] rerun (>3x committed idle op-time): non-query unit $gate")
      gate -> specialThunks(gate)()
    }.toMap
    val specialResults = specialResults0.map { case (gate, first) =>
      specialReruns.get(gate) match {
        case Some(second)
          if second.map(_._2).filter(_ >= 0).sum < first.map(_._2).filter(_ >= 0).sum =>
          gate -> second
        case _ =>
          first.foreach { case (n, _) => keepFirst(n) }
          gate -> first
      }
    }
    val rerunAll = rerunNames ++ specialRerunGates

    // Warm-serving pass: EVERY artifact-served query re-runs in the
    // SAME session after the full sweep — artifacts on disk, parquet
    // footers and codegen hot — so the record carries the
    // steady-state latency a serving deployment sees next to the
    // cold number (which bills plan-time candidate enumeration and
    // first-touch I/O). `_warm_` entries land in BENCH_LOCAL.json.
    // The list is every query that reads a materialized IndexStore
    // artifact (postings / geo cells / vec index), plus search_mget
    // (the point-lookup serving path, artifact-free but footer-bound).
    val servedIndexQueries = Seq(
      // postings-served (SearchQueries + span/suggest/relevance/es files)
      "search_topk_bm25_indexed", "search_phrase_indexed", "search_suggest",
      "search_span_near", "search_intervals_unordered",
      "search_regexp", "search_span_containing", "search_span_multi",
      "search_span_within", "search_span_or", "search_span_first",
      "search_match_bool_prefix", "search_rank_feature",
      "search_suggest_term", "search_suggest_phrase",
      // geo-cell-served
      "search_geo_distance_indexed", "search_geo_bounding_box_indexed",
      // vec-index-served
      "llm_ann_indexed_topk",
      // point-lookup serving path
      "search_mget")
    val warmResults = servedIndexQueries
      .filter(n => only.forall(_(n)))
      .filter(n => coldResults.exists(_._1 == n))
      .map(n => s"_warm_$n" -> probed(s"_warm_$n")(runOnce(n, s"_warm_$n")))

    val results = coldResults ++ warmResults ++
      specialResults.flatMap(_._2).map { case (n, s) => n -> ((s, s)) }

    val qs = results.map { case (k, (full, _)) => s"${Json.str(k)}:${fmt(full)}" }.mkString("{", ",", "}")
    val qsOp = results.map { case (k, (_, op)) => s"${Json.str(k)}:${fmt(op)}" }.mkString("{", ",", "}")
    val sh = work
      .map { case (k, w) => s"${Json.str(k)}:${fmt(w.shuffleWriteBytes / 1e6)}" }
      .mkString("{", ",", "}")
    // Percentile pseudo-entries stay first-class in `queries` but are
    // excluded from the headline sums — they are percentiles of batch
    // walls already fully counted inside `_stream_latency` (round-10
    // ADVICE #1: summing them inflated the total by ~5.4 s of
    // double-counted pseudo-duration).
    val summed = results.filterNot(_._1.startsWith("_stream_latency_p"))
    val total = summed.map(_._2._1).filter(_ >= 0).sum
    val totalOp = summed.map(_._2._2).filter(_ >= 0).sum
    val loadEnd = HostLoad.loadAvg()
    // `contended` rides on BOTH emissions: a driver-tail record taken
    // on a loaded host self-identifies, so a per-query regression in a
    // contended record is inadmissible without an idle re-measure
    // (the `_build_wordpiece` phantom class). The flag is the
    // MAX-over-run of the 15 s samples — endpoint-only sampling
    // blessed round 9's mid-run-contaminated record as idle. The flag
    // reads FOREIGN cpu (other processes' cores, self-load cancelled):
    // >0.5 of a core sustained over any 15 s window while this bench
    // ran means some co-process was eating cycles mid-run.
    val loadPeak = math.max(loadMax.get(), loadEnd)
    val contended = foreignMax.get() > 0.5 || stealMax.get() > 0.5
    // `foreign_sys_cores_max` is ADVISORY (see HostLoad.cpuJiffies):
    // it includes kworker writeback of this bench's own files, so it
    // cannot gate `contended` — but a sys-dominated co-process
    // (rsync/compression/backup) shows here when the user-cpu flag
    // reads clean. `rerun_skipped` counts >3×-over-reference entries
    // the guard deliberately did not rerun (each logged with its
    // reason on stderr), so `"reruns": []` is never ambiguous.
    val loadJson = s"""{"start":${fmt(loadStart)},"end":${fmt(loadEnd)},""" +
      s""""max":${fmt(loadPeak)},"foreign_cores_max":${fmt(foreignMax.get())},""" +
      s""""foreign_sys_cores_max":${fmt(foreignSysMax.get())},""" +
      s""""steal_cores_max":${fmt(stealMax.get())},""" +
      s""""cores":$cores,"contended":$contended,"rerun_skipped":$rerunSkipped,""" +
      rerunAll.map(Json.str).mkString(""""reruns":[""", ",", "]}")
    // Two emissions: the full record (per-query op times + shuffle) goes
    // to a committed file; stdout gets a LEAN driver-contract line —
    // round 1's full line was truncated by the driver's stdout capture,
    // which zeroed the per-query record (`parsed: null`).
    // Per-entry probes (FULL record only — the lean driver line stays
    // lean): the host probe over the entry's own wall window, and the
    // jobs, stages, tasks and executor-CPU seconds of its counted run.
    val probeJson = probes
      .map { case (k, p) =>
        val counts = work.get(k).fold("") { w =>
          s""","jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
            s""""cpu_s":${fmt(w.cpuNs / 1e9)}""" }
        s"""${Json.str(k)}:{${p.hostJson}$counts}""" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_op":${fmt(totalOp)},"queries":$qs,"queries_op":$qsOp,"shuffle_mb":$sh,"probe":$probeJson,"load":$loadJson,"sf":${Json.str(sfDir)}}"""
    val lean =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_op":${fmt(totalOp)},"queries":$qs,"load":$loadJson,"sf":${Json.str(sfDir)}}"""
    // Subset runs are dev probes — don't clobber the committed full
    // record by DEFAULT; an explicit SPARK_GRAFT_BENCH_OUT target is
    // intentional (per-family isolated records, adjudication repeats)
    // and always written.
    //
    // CONTENDED-CLOBBER GUARD (round-11 verdict #2): this output path
    // doubles as the >3×-rerun REFERENCE path (committedOpTimes above)
    // and the drift report's baseline — a contended sweep overwriting
    // an idle record at the same path silently inflates the very
    // baseline both compare against (the round-11 driver sweep, steal
    // 5.75 cores, did exactly that to BENCH_LOCAL.json). A record
    // flagged `contended:true` never replaces one flagged
    // `contended:false` at the same path: it diverts to
    // `<stem>_contended.json` with a named reason. An idle record
    // still freely overwrites a contended one (the recovery
    // direction), and a missing/unparseable target is written as
    // asked. Override only by moving the idle record aside yourself —
    // there is deliberately no env flag to force the overwrite.
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      val asked = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      val target = recordTarget(asked, contended)
      if (target != asked)
        System.err.println(s"[bench] contended record (foreign " +
          f"${foreignMax.get()}%.2f / steal ${stealMax.get()}%.2f cores) " +
          s"would clobber the idle reference at $asked — diverted to $target")
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(target), full.getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    }
    println(lean)
    // r15 (r14 VERDICT #2): the ~12 KB lean line outlives the driver's
    // 2 KB stdout-tail capture, so BOTH r13's and r14's bench lines
    // parsed as null and the driver's per-query/geomean machinery
    // produced nothing. The full emissions above are UNCHANGED (file
    // record + lean line: every entry, same methodology, same schema);
    // this FINAL line is a compact summary with the same key layout —
    // headline totals, per-family subtotals, and the most expensive
    // individual entries — sized to always fit whole inside a 2 KB
    // tail. Nothing is removed or renamed: the full per-query record
    // is still printed and written; this line is additive.
    val loadCompact = s"""{"steal_cores_max":${fmt(stealMax.get())},""" +
      s""""foreign_cores_max":${fmt(foreignMax.get())},"contended":$contended,""" +
      s""""rerun_skipped":$rerunSkipped}"""
    println(compactLine(total, totalOp, results.size, summed, loadCompact, sfDir))
    spark.stop()
  }
}
