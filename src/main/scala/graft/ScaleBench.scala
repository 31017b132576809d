package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured cost-scaling harness: does each scale-critical operator's
  * runtime grow LINEARLY when the corpus grows by `factor`×?
  *
  * The correctness gates prove results right at sf0.01 and sf0.1; the
  * 100 TB argument everywhere else in the repo is structural (df caps,
  * bounded samples, linear shuffles). This main turns that argument
  * into a measured slope: it derives a `factor`× corpus from the base
  * fixture and times the operators that dominate ingest and dedup cost
  * at BOTH sizes, reporting seconds and the time ratio (ideal ≈
  * `factor` for a linear operator; a superlinear pair finder or
  * quantizer would show up as ratio ≫ factor).
  *
  * Corpus derivation (measurement input only — correctness still
  * gates on the driver fixtures): replica k of `documents` offsets
  * doc_id by k·10¹⁰ and suffixes every whitespace token with `⟨rk⟩`,
  * so replicas share NO word-level shingles/fingerprints — the
  * word-3-gram truth structure grows exactly linearly. CHAR-gram
  * features are only MOSTLY disjoint: a char-8-gram taken from the
  * interior of a token ≥ 8 chars (winnowing fingerprints, substring
  * span grams, CDC grams) is identical across replicas, so a bounded
  * cross-replica df inflation leaks into the char-gram dedup
  * operators' measured slopes (conservative direction: it INFLATES
  * posting sizes, so the reported slopes are an upper bound). Each
  * replica is otherwise an independent sub-corpus and the TRUE
  * near-dup structure grows linearly (verbatim replication would
  * instead manufacture
  * C(factor,2) cross-copy duplicate cliques per doc and superlinear
  * PAIR OUTPUT by construction of the data, not the algorithm).
  * `embeddings` replicas offset vec_id and shift dimension 0 by
  * k·10⁻³ (distinct vectors, same geometry). n_chars is recomputed
  * from the perturbed text.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<base> SPARK_GRAFT_SCALE_FACTOR=10
  *   tools/run.sh graft.ScaleBench
  * Writes the derived tables under /tmp/graft_scale_<factor>x (reused
  * across runs via a _READY marker) and one JSON line per run, plus
  * SCALE.json with the full detail.
  */
object ScaleBench {

  private val IdStride = 10000000000L

  private def deriveCorpus(spark: SparkSession, baseDir: String,
                           outDir: String, factor: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ready = new org.apache.hadoop.fs.Path(s"$outDir/_READY")
    if (fs.exists(ready)) return
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val docs = Tables(spark, baseDir, "documents")
    val docReps = (0 until factor).map { k =>
      val perturbed =
        if (k == 0) docs
        else docs.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1" + s"r$k"))
      perturbed
        .withColumn("doc_id", col("doc_id") + lit(k * IdStride))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    }
    docReps.reduce(_ unionAll _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables(spark, baseDir, "embeddings")
    val embReps = (0 until factor).map { k =>
      emb
        .withColumn("vec_id", col("vec_id") + lit(k * IdStride))
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(k * 0.001f)).otherwise(x)))
        .select(col("vec_id"), col("embedding"), col("label"))
    }
    embReps.reduce(_ unionAll _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    fs.create(ready, true).close()
  }

  /** Zipfian synthetic corpus (round-9 verdict #3): the replica-derived
    * corpus above inherits the fixture's ~30-word vocabulary, so every
    * shingle has enormous document frequency and the near-dup CANDIDATE
    * sets approach all-pairs — the measured superlinear shuffle slopes
    * (banded 188×, substring 145× at 100×) are a property of that
    * degenerate vocabulary, or so the standing defense claims. This
    * generator makes the claim testable: documents whose tokens draw
    * from a 50k-word vocabulary with a Zipf(s=1) rank distribution (the
    * natural-language shape — rank = floor(V^u) for uniform u inverts
    * the s=1 CDF), ~50–200 tokens per doc, all hashes seeded by
    * (doc_id, position) so the corpus is fully deterministic. Every
    * 97th document plants a NEAR-DUP TWIN (5% of token positions
    * re-drawn independently, distinct id) so the true pair structure
    * grows exactly linearly and recall stays measurable. No replicas:
    * a factor× corpus is factor× INDEPENDENT documents — the honest
    * shape for a slope measurement.
    */
  private[graft] val ZipfTwinOffset = 7000000000L
  private[graft] def zipfCorpus(spark: SparkSession, outDir: String, nDocs: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val ready = new org.apache.hadoop.fs.Path(s"$outDir/_READY")
    if (fs.exists(ready)) return
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    import org.apache.spark.sql.Column
    val V = 50000.0
    def zipfWord(seed: Column, p: Column, salt: Int): Column = {
      val u = pmod(xxhash64(seed, p, lit(salt)), lit(1000000L))
        .cast("double") / lit(1000000.0)
      concat(lit("w"), floor(pow(lit(V), u)).cast("long").cast("string"))
    }
    val base = spark.range(nDocs).select(col("id").as("i"),
      col("id").as("doc_id"), lit(false).as("is_twin"))
    val twins = spark.range(nDocs).filter(col("id") % 97 === 0)
      .select(col("id").as("i"),
        (col("id") + lit(ZipfTwinOffset)).as("doc_id"), lit(true).as("is_twin"))
    base.unionByName(twins)
      .withColumn("n_tok",
        (pmod(xxhash64(col("i"), lit(1)), lit(151L)) + lit(50L)).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("n_tok")), p => {
          val w = zipfWord(col("i"), p, 0)
          val mutate = pmod(xxhash64(col("i"), p, lit(77)), lit(100L)) < 5
          when(col("is_twin") && mutate, zipfWord(col("i"), p, 99)).otherwise(w)
        })))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("zipf").as("source"), length(col("text")).cast("long").as("n_chars"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // CLUSTERED embeddings (round-9 verdict #6): K=32 deterministic
    // cluster centers in [-1,1]^64, each vector = its cluster's center
    // + per-dim U(-0.1, 0.1) noise — the real-embedding-corpus geometry
    // (near-dup clusters, inter-center distance ≈ 6.5 vs within-cluster
    // spread ≈ 0.5) that the i.i.d. fixture lacks; the IvfDiag tool
    // (last in commit a7d2fb6) ran its probe-recall curve on this
    // table unchanged, closing the "the
    // 9/10 is the fixture's geometry, clustered data reads 10/10
    // cheaply" footnote with a measurement.
    val K = 32L
    def unit(seedA: Column, seedB: Column, salt: Int): Column =
      pmod(xxhash64(seedA, seedB, lit(salt)), lit(2000001L)).cast("double") /
        lit(1000000.0) - lit(1.0)
    spark.range(nDocs).select(col("id").as("vec_id"))
      .withColumn("cl", pmod(xxhash64(col("vec_id"), lit(5)), lit(K)))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (unit(col("cl"), d.cast("long"), 11) +
          unit(col("vec_id"), d.cast("long"), 13) * lit(0.1)).cast("float")))
      .select(col("vec_id"), col("embedding"),
        (col("cl") % 10).cast("int").as("label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    fs.create(ready, true).close()
  }

  /** The operators whose cost dominates a real ingest + curation run
    * and whose scale story the repo argues structurally. All read only
    * documents/embeddings, so the derived corpus serves them all.
    */
  private val Timed = Seq(
    "llm_token_count",        // pure scan-speed baseline
    "llm_vocab_topk",         // vocabulary-shaped agg
    "llm_dedup_exact",        // hash groupBy
    "llm_dedup_winnow",       // native kernel + df-capped posting join
    "llm_dedup_minhash_banded", // banded LSH join + exact verify
    "llm_dedup_segments",     // corpus-wide window fingerprint rewrite
    "llm_dedup_substring",    // anchor + extension span finder
    "search_topk_bm25",       // full-scan relevance
    "llm_ann_pq_topk",        // PQ encode (native) + ADC + re-rank
    "llm_ann_ivf_topk")       // KMeans cells + probe

  /** The SCALE_*.json record. The base dir, corpus mode, io codec,
    * query and witness names and probe keys go through [[Json.str]], so
    * a base dir holding a quote, backslash or tab still yields a record
    * a JSON reader parses. `load` and each query's and probe run's
    * object are JSON already (numbers and booleans only).
    */
  private[graft] def record(base: String, baseDocs: Long, factor: Int,
                            corpus: String, scaledDocs: Long, repeat: Int,
                            ioCodec: String, heapMaxMb: Long, load: String,
                            queries: Seq[(String, String)],
                            probes: Seq[(String, Seq[String])]): String =
    s"""{"base":${Json.str(base)},"base_docs":$baseDocs,"factor":$factor,""" +
      s""""corpus":${Json.str(corpus)},"scaled_docs":$scaledDocs,"repeat":$repeat,""" +
      s""""io_codec":${Json.str(ioCodec)},"heap_max_mb":$heapMaxMb,"load":$load,""" +
      queries.map { case (n, obj) => s"${Json.str(n)}:$obj" }
        .mkString(""""queries":{""", ",", "},") +
      probes.map { case (k, runs) => s"${Json.str(k)}:[${runs.mkString(",")}]" }
        .mkString(""""probes":{""", ",", "}}")

  private def fmt(d: Double): String = Json.num(d)

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The pair-graph artifact build — the headline ingest cost. Timed
    * through the same build-once path Bench prices as
    * `_build_neardup_pairs` (artifact deleted first so the build is
    * real work, not a cache read).
    */
  private def timePairBuild(spark: SparkSession, dir: String): Double = {
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    store.deleteIndex(llm.DedupQueries.PairIndexName)
    val t0 = System.nanoTime()
    llm.DedupQueries.materializedPairs(spark, dir).write
      .format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Served-index maintenance cost vs corpus size — the O(batch)
    * claim measured: build the postings index at this corpus size
    * (expected ~linear), then upsert a FIXED 100-doc batch (expected
    * ~flat: the segment write is O(batch); the one corpus-coupled
    * term is the stats-delta probe, a 2-column column-pruned scan of
    * the postings for the replaced docs' length contribution — tiny
    * constant, reported honestly by this very measurement). The
    * artifact is deleted after timing so downstream runs see no
    * maintained state.
    */
  private def timePostingsMaint(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    store.deleteIndex(search.SearchQueries.PostingsName)
    val t0 = System.nanoTime()
    search.SearchQueries.materializedPostings(spark, dir)._1
      .write.format("noop").mode("overwrite").save()
    val build = (System.nanoTime() - t0) / 1e9
    val batch = Tables(spark, dir, "documents")
      .orderBy(col("doc_id")).limit(100)
      .withColumn("doc_id", col("doc_id") + lit(500L * IdStride))
      .persist()
    batch.count() // materialize the fixed batch off the clock
    val t1 = System.nanoTime()
    search.SearchQueries.upsertPostings(store, batch, "scale-upsert")
    val up = (System.nanoTime() - t1) / 1e9
    batch.unpersist()
    store.deleteIndex(search.SearchQueries.PostingsName)
    Seq("_build_text_postings" -> build, "_upsert_postings_100docs" -> up)
  }

  /** Plain-index partition-granular maintenance vs corpus size — the
    * [[graft.etl.IndexStore.upsertPartitioned]] O(batch) claim
    * measured. Layout: id-RANGE buckets (floor(doc_id/10000)) as the
    * partition column — the append-mostly stream shape, where
    * partitions grow in NUMBER with the corpus while each stays
    * bounded (≤10k docs), so a fixed 100-doc batch of new ids touches
    * ONE bounded partition at ANY corpus size. Build is expected
    * ~linear; the upsert expected ~flat (its only corpus-coupled term
    * is the key probe, In-pushed and row-group-pruned by the
    * within-file id sort). Index deleted after timing.
    */
  private def timePartitionedMaint(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    store.deleteIndex("docs_live")
    def bucketed(df: DataFrame) =
      df.withColumn("id_bucket", floor(col("doc_id") / 10000L))
    val docs = bucketed(Tables(spark, dir, "documents"))
    val t0 = System.nanoTime()
    store.bulkImportPartitioned(docs, "docs_live", "doc_id", "id_bucket")
    val build = (System.nanoTime() - t0) / 1e9
    val batch = bucketed(Tables(spark, dir, "documents")
        .orderBy(col("doc_id")).limit(100)
        .withColumn("doc_id", col("doc_id") + lit(500L * IdStride)))
      .persist()
    batch.count() // materialize the fixed batch off the clock
    val t1 = System.nanoTime()
    store.upsertPartitioned(batch, "docs_live", "doc_id", "id_bucket")
    val up = (System.nanoTime() - t1) / 1e9
    batch.unpersist()
    store.deleteIndex("docs_live")
    Seq("_build_docs_partitioned" -> build, "_upsert_partitioned_100docs" -> up)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = Engine.positiveIntEnv("SPARK_GRAFT_SCALE_FACTOR", 10)
    val scaledDir = s"/tmp/graft_scale_${factor}x"
    val spark = Engine.session(extra = Map(
      "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true",
      // Shuffle/spill codec passthrough for the disk-bound witness
      // decades (lz4 default — Spark's own): the 1000× substring
      // witness's transient on-disk peak (shuffle files + sort spill
      // coexisting) exceeds this sandbox's ~75 GB free even after the
      // round-12 Bloom cut, and zstd halves it. RECORD HONESTY: the
      // choice is stamped into the record (`io_codec`), and shuffle-MB
      // figures are only comparable WITHIN one codec — every ratio in
      // a record is base-vs-scaled of the same run, same codec, so
      // slopes stay valid; cross-record byte comparisons must check
      // the stamp.
      "spark.io.compression.codec" -> sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4")))

    // Controlled-probe mode (dev-only; the per-round records run the
    // full set once): SPARK_GRAFT_SCALE_ONLY=a,b limits the timed set,
    // SPARK_GRAFT_SCALE_REPEAT=n times each operator n× BACK-TO-BACK
    // in one session — the I/O-controlled repeat that separates an
    // algorithmic slope from page-cache/host variance (first run cold,
    // later runs warm; a real superlinearity shows in EVERY run, I/O
    // noise only in the cold one).
    // Corpus mode: `replica` (default — the committed SCALE_*.json
    // records) derives factor× from the fixture; `zipf` synthesizes a
    // natural-vocabulary corpus at the SAME base doc count and factor×
    // of it (see [[zipfCorpus]]) — the witness run for the near-dup
    // shuffle-slope claim. Zipf mode defaults the timed set to the
    // three char/word-gram dedup finders whose shuffle slopes the
    // witness exists to measure; the corpus DOES carry a (clustered)
    // embeddings table, but its recall curve was measured separately
    // (IvfDiag, last in commit a7d2fb6; SCALE.md), not timed here.
    // Whole-run load watermark (round-9 verdict #7 — the same
    // continuous sampling + foreign-cpu discrimination Bench uses):
    // the committed SCALE_*.json self-identifies when a co-scheduled
    // process contaminated it. Foreign cpu = (Δtotal − Δself) jiffies
    // per 15 s window — raw loadavg can't decide contention because a
    // 32-core scale run raises its OWN load past any fixed bar.
    val sampler = new HostLoad.Sampler("scale-load-sampler")
    import sampler.{foreignMax, loadMax, loadStart, stealMax}

    val corpusMode = sys.env.getOrElse("SPARK_GRAFT_SCALE_CORPUS", "replica")
    // WITNESS mode (round-11 verdict #1): SPARK_GRAFT_SCALE_WITNESS=
    // winnowcap times winnow at the DEFAULT df cap (50) next to a
    // cap-12 twin on the same corpus and writes its own record name —
    // the cap/4 scaling moves the df-head's cap crossover (the
    // transiently superlinear decade) into the measurable 10×–1000×
    // span, so the post-crossover re-linearization is measured, not
    // argued. Not a registered query: the extra entry exists only
    // inside this mode.
    val witness = sys.env.get("SPARK_GRAFT_SCALE_WITNESS")
    // Known witness modes — an unknown value would silently run the
    // default zipf set yet write a witness-named record (a mislabeled
    // record, round-12 advice): fail fast instead.
    //  - winnowcap (round-11 verdict #1): winnow at the default df cap
    //    next to a cap-12 twin — the cap/4 scaling moves the df-head's
    //    cap crossover into the measurable span so the post-crossover
    //    re-linearization is measured, not argued.
    //  - substrk<K> (round-12 verdict #2), e.g. substrk20: exact-
    //    substring at gram length K (8 ≤ K < 50) next to the
    //    production k=50 twin — the shorter gram saturates the
    //    pairable-gram fraction (the mechanism behind the 1000×
    //    segment's 1.44) inside the measurable span, so the
    //    POST-SATURATION shuffle constant is witnessed. Neither twin
    //    is a registered query; they exist only inside witness mode.
    val SubstrK = "substrk(\\d+)".r
    val substrWitnessK: Option[Int] = witness.collect {
      case SubstrK(k) if k.toInt >= 8 && k.toInt < 50 => k.toInt }
    witness.filterNot(w =>
      w == "winnowcap" || substrWitnessK.isDefined).foreach { w =>
      System.err.println(s"[scale] unknown SPARK_GRAFT_SCALE_WITNESS '$w' " +
        "(known: winnowcap, substrk<K> for 8 <= K < 50) — refusing " +
        "to write a mislabeled witness record")
      spark.stop()
      sys.exit(2)
    }
    if (witness.isDefined && corpusMode != "zipf") {
      System.err.println("[scale] witness modes measure the Zipf corpus; " +
        "set SPARK_GRAFT_SCALE_CORPUS=zipf (a replica-corpus run would " +
        "write a record that silently drops the witness label)")
      spark.stop()
      sys.exit(2)
    }
    val extraQueries: Map[String, (SparkSession, String) => DataFrame] =
      if (witness.contains("winnowcap"))
        Map("llm_dedup_winnow_cap12" ->
          ((s: SparkSession, d: String) => llm.DedupQueries.winnowPairs(s, d, dfCap = 12)))
      else substrWitnessK.map { k =>
        s"llm_dedup_substring_k$k" ->
          ((s: SparkSession, d: String) =>
            llm.DedupQueries.substringIslands(s, d, spanK = k)
              .groupBy(col("doc_a"), col("doc_b"))
              .agg(count(lit(1)).as("n_spans"), max(col("span_len")).as("max_span"))
              .orderBy(col("doc_a"), col("doc_b")))
      }.toMap
    // In witness mode SPARK_GRAFT_SCALE_ONLY still narrows the set
    // (e.g. cap12-only at 1000×, where the default-cap twin's ~900 s
    // runs are already in the committed record and the single-box
    // memory margin is thin — such runs divert to _probe unless
    // SPARK_GRAFT_SCALE_WITNESS_CANONICAL=1 marks the exception
    // deliberate); the default witness set is both twins same-frame.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
      .orElse(if (witness.contains("winnowcap"))
        Some(Set("llm_dedup_winnow", "llm_dedup_winnow_cap12"))
      else None)
      .orElse(substrWitnessK.map(k =>
        Set("llm_dedup_substring", s"llm_dedup_substring_k$k")))
      .orElse(if (corpusMode == "zipf")
        Some(Set("llm_dedup_minhash_banded", "llm_dedup_substring",
          "llm_dedup_winnow")) else None)
    val repeat = Engine.positiveIntEnv("SPARK_GRAFT_SCALE_REPEAT", 1)

    // HEAP-FLOOR PRE-FLIGHT (round-12 verdict #7): the published
    // single-box envelope (SCALE.md round-12 table) has every zipf
    // dedup finder OOMing at 300×+ under the runner's 8 GB default
    // heap — previously tribal knowledge that killed runs 10 minutes
    // in. Refuse up front with the named requirement instead; the
    // heap actually used is stamped into the record (`heap_max_mb`)
    // either way. SPARK_GRAFT_SCALE_FORCE=1 overrides (e.g. to probe
    // the envelope itself).
    val heapMaxMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    locally {
      // Only the winnow family has the MEASURED 8 GB OOM at 300×+
      // (UNABLE_TO_ACQUIRE_MEMORY in the scaled sort — SCALE.md
      // round-12 envelope table); substring is disk-bound and actually
      // runs FASTER at the small heap (the measured 8g-vs-32g GC-regime
      // swing), so the floor must not force it large.
      val heavyFinders = Set("llm_dedup_winnow", "llm_dedup_winnow_cap12")
      val timesHeavy = only.forall(s => (s intersect heavyFinders).nonEmpty)
      val floorMb = 40000L // 48g requirement, measured via maxMemory (~0.97×)
      if (corpusMode == "zipf" && factor >= 300 && timesHeavy &&
          heapMaxMb < floorMb && !sys.env.contains("SPARK_GRAFT_SCALE_FORCE")) {
        System.err.println(s"[scale] refusing: zipf ${factor}x with a dedup " +
          s"finder in the timed set needs SPARK_DRIVER_MEM=48g (published " +
          s"floor, SCALE.md round-12 envelope: 8 GB OOMs in the scaled " +
          s"sort) but this JVM has ${heapMaxMb} MB. Re-run with " +
          "SPARK_DRIVER_MEM=48g, or SPARK_GRAFT_SCALE_FORCE=1 to probe the " +
          "envelope itself.")
        spark.stop()
        sys.exit(3)
      }
    }

    // Per-operator probes (round-11 verdicts #5/#6): one [[Metrics]]
    // window per timed run. SCALE records used to carry only whole-run
    // watermarks, yet these are the LONGEST runs (30 min at 1000×) — a
    // mid-run steal burst silently inflates exactly one operator and
    // the whole-run flag can't name it. Each window records the host
    // probe Bench records (foreign user-cpu avg, majflt delta,
    // storage-read MB, blkio wait, hypervisor steal) and the memory
    // envelope: the 1000×-class runs are exactly where a single 32-core
    // box runs out of executor memory, so the record carries what each
    // operator PEAKED at, not just how long it took —
    //  - peak_task_mem_mb: max single-task execution-memory peak
    //    (× concurrent tasks ≈ the executor-memory floor);
    //  - spilled_mem/disk_mb: Spark's own spill accounting — nonzero
    //    spill says the operator ALREADY didn't fit and wall time is
    //    partly disk;
    //  - peak_heap_mb: JVM heap-pool peak — the number that actually
    //    OOMs the process.
    // A window's shuffle bytes are its run's volume: at the sizes where a
    // 100× corpus stops fitting a single local JVM comfortably, WALL
    // TIME measures the harness (GC mode, spill thresholds — heap-
    // config swings of ±2× were measured on the same operator and
    // corpus), while shuffle BYTES measure the ALGORITHM: a linear
    // operator's volume ratio equals the data ratio regardless of how
    // the JVM struggled.
    val probeLog = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[String]]()
    // TIMED-window contamination watermarks (round-12 verdict #6): the
    // whole-run sampler above also catches steal/foreign bursts in
    // UNtimed windows (corpus derivation, persists between runs, the
    // gaps GC takes) — real host noise, but noise OUTSIDE every number
    // in the record. The record standard since round 13: `contended`
    // gates on the per-operator probes' own windows (what the numbers
    // actually absorbed); the whole-run view stays published as
    // `contended_any_window` + the raw watermarks.
    val timedForeignMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val timedStealMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    def probedRun[T](key: String)(body: => T): (T, Metrics.Window) = {
      val (r, w) = Metrics.window(spark)(body)
      timedForeignMax.updateAndGet(m => math.max(m, w.foreignCores))
      timedStealMax.updateAndGet(m => math.max(m, w.stealCores))
      val json =
        s"""{${w.hostJson},""" +
          s""""peak_task_mem_mb":${fmt(w.peakTaskMemBytes / 1e6)},""" +
          s""""peak_heap_mb":${fmt(w.peakHeapMb)},""" +
          s""""spilled_mem_mb":${fmt(w.spilledMemBytes / 1e6)},""" +
          s""""spilled_disk_mb":${fmt(w.spilledDiskBytes / 1e6)}}"""
      probeLog.getOrElseUpdate(key,
        scala.collection.mutable.ArrayBuffer[String]()) += json
      (r, w)
    }

    val (baseDirEff, scaledDirEff) =
      if (corpusMode == "zipf") {
        val zb = "/tmp/graft_zipf_base"
        val zs = s"/tmp/graft_zipf_${factor}x"
        val nBaseDocs = Tables(spark, baseDir, "documents").count()
        zipfCorpus(spark, zb, nBaseDocs)
        zipfCorpus(spark, zs, nBaseDocs * factor)
        (zb, zs)
      } else {
        deriveCorpus(spark, baseDir, scaledDir, factor)
        (baseDir, scaledDir)
      }
    val nBase = Tables(spark, baseDirEff, "documents").count()
    val nScaled = Tables(spark, scaledDirEff, "documents").count()

    // Warm-up (JVM + codegen + spark.ml class-loading) off the clock.
    SparkEntry.queries("llm_token_count")(spark, baseDirEff).write
      .format("noop").mode("overwrite").save()
    Pins.release(spark)

    def runAll(dir: String, kind: String): Seq[(String, Seq[(Double, Double)])] = {
      // Pair build FIRST (freshest heap), and an explicit GC after
      // every query: stale broadcast relations from prior queries are
      // reference-collected, and at the 30× corpus their accumulated
      // driver footprint was the difference between the build
      // succeeding (fresh JVM) and a broadcast-build OOM (13th query
      // of the run).
      val pb =
        if (!only.forall(_.contains("_build_neardup_pairs"))) Nil
        else {
          val t = "_build_neardup_pairs" ->
            Seq(probedRun(s"$kind/_build_neardup_pairs")(timePairBuild(spark, dir))._1)
          Pins.release(spark)
          System.gc()
          System.err.println(f"[scale] _build_neardup_pairs @ $dir: ${t._2.head}%.2f s")
          Seq(t)
        }
      val pm =
        if (!only.forall(_.contains("_build_text_postings"))) Nil
        else {
          // The maintenance units time several entries inside one call
          // — the probe window covers the UNIT (keyed by its gate);
          // per-entry attribution inside it stays Bench's job.
          val t = probedRun(s"$kind/_build_text_postings_unit")(
            timePostingsMaint(spark, dir))._1.map { case (n, s) => n -> Seq(s) }
          Pins.release(spark)
          System.gc()
          t.foreach { case (n, s) =>
            System.err.println(f"[scale] $n @ $dir: ${s.head}%.2f s") }
          t
        }
      val up =
        if (!only.forall(_.contains("_build_docs_partitioned"))) Nil
        else {
          val t = probedRun(s"$kind/_build_docs_partitioned_unit")(
            timePartitionedMaint(spark, dir))._1.map { case (n, s) => n -> Seq(s) }
          Pins.release(spark)
          System.gc()
          t.foreach { case (n, s) =>
            System.err.println(f"[scale] $n @ $dir: ${s.head}%.2f s") }
          t
        }
      val q = (Timed ++ extraQueries.keys.toSeq.sorted)
        .filter(n => only.forall(_.contains(n))).map { name =>
        val thunk = extraQueries.getOrElse(name, SparkEntry.queries(name))
        val runs = (1 to repeat).map { i =>
          val (secs, w) = probedRun(s"$kind/$name")(
            timeNoop(thunk(spark, dir)))
          Pins.release(spark)
          System.gc()
          val shMb = w.shuffleWriteBytes / 1e6
          System.err.println(
            f"[scale] $name @ $dir run $i: $secs%.2f s, shuffle $shMb%.1f MB")
          (secs, shMb)
        }
        name -> runs.toSeq
      }
      pb.map { case (n, ss) => n -> ss.map((_, -1.0)) } ++
        pm.map { case (n, ss) => n -> ss.map((_, -1.0)) } ++
        up.map { case (n, ss) => n -> ss.map((_, -1.0)) } ++ q
    }

    val base = runAll(baseDirEff, "base").toMap
    val scaled = runAll(scaledDirEff, "scaled").toMap

    val rows = base.keys.toSeq.sorted.map { n =>
      // Ratio of MINIMA when repeats were asked for: the minimum is
      // the standard noise-floor estimator — transient host I/O only
      // ever ADDS time, so min-over-repeats at both sizes isolates
      // the algorithmic slope the probe exists to measure. Shuffle
      // VOLUME rides alongside (per-run MB and the volume ratio):
      // the machine-independent linearity witness.
      val bT = base(n).map(_._1); val sT = scaled(n).map(_._1)
      val bS = base(n).map(_._2); val sS = scaled(n).map(_._2)
      val r = sT.min / math.max(bT.min, 1e-9)
      val shJson =
        if (bS.exists(_ < 0)) ""
        else s""","base_shuffle_mb":${fmt(bS.max)},"scaled_shuffle_mb":${fmt(sS.max)}""" +
          s""","shuffle_ratio":${fmt(sS.max / math.max(bS.max, 1e-9))}"""
      val runsJson =
        if (repeat == 1) ""
        else s""","base_runs":[${bT.map(fmt).mkString(",")}]""" +
          s""","scaled_runs":[${sT.map(fmt).mkString(",")}]"""
      n -> s"""{"base_s":${fmt(bT.min)},"scaled_s":${fmt(sT.min)},"ratio":${fmt(r)}$shJson$runsJson}"""
    }
    val loadEnd = HostLoad.loadAvg()
    // `contended` = a TIMED window absorbed foreign cpu or steal (the
    // per-operator probes' own watermark — see the probeLog comment);
    // `contendedAnyWindow` = the old whole-run view, still published.
    val contended = timedForeignMax.get() > 0.5 || timedStealMax.get() > 0.5
    val contendedAnyWindow = foreignMax.get() > 0.5 || stealMax.get() > 0.5
    val load =
      s"""{"start":${fmt(loadStart)},"max":${fmt(loadMax.get())},""" +
        s""""end":${fmt(loadEnd)},"foreign_cores_max":${fmt(foreignMax.get())},""" +
        s""""steal_cores_max":${fmt(stealMax.get())},""" +
        s""""timed_foreign_max":${fmt(timedForeignMax.get())},""" +
        s""""timed_steal_max":${fmt(timedStealMax.get())},""" +
        s""""contended":$contended,""" +
        s""""contended_any_window":$contendedAnyWindow}"""
    // One probe object per timed run, keyed base/<op> and scaled/<op>,
    // in run order — aligned with base_runs/scaled_runs so the
    // min-selected number's own window is auditable (round-11 verdict
    // #5/#6).
    val json = record(baseDirEff, nBase, factor, corpusMode, nScaled, repeat,
      sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"), heapMaxMb, load, rows,
      probeLog.toSeq.map { case (k, runs) => k -> runs.toSeq })
    // Probe runs (explicit subset or off-record repeat count) get
    // their own file — the committed record name stays the full
    // canonical-config pass. Zipf mode's committed records run the
    // DEFAULT timed set at repeat=2 (min-over-2 is the committed
    // noise-floor config); an explicit SPARK_GRAFT_SCALE_ONLY or any
    // other repeat is a dev probe and must not clobber the committed
    // witness (the exact hazard that destroyed the round-8 substring
    // adjudication probes — restored in 7a057ef).
    // Witness canonical config = the FULL witness twin set at
    // repeat=2; an explicit SPARK_GRAFT_SCALE_ONLY subset or another
    // repeat is a dev probe and diverts to _probe like non-witness
    // runs (round-12 advice — previously any witness run clobbered
    // the canonical name). A deliberate exception (the 1000× cap12-
    // only record, where the default-cap twin is already committed
    // and the single-box margin is thin) says so explicitly via
    // SPARK_GRAFT_SCALE_WITNESS_CANONICAL=1.
    val witnessCanonical =
      (sys.env.get("SPARK_GRAFT_SCALE_ONLY").isEmpty && repeat == 2) ||
        sys.env.get("SPARK_GRAFT_SCALE_WITNESS_CANONICAL").contains("1")
    val outName =
      if (corpusMode == "zipf") {
        if (witness.isDefined) {
          if (witnessCanonical) s"SCALE_ZIPF_${factor}x_${witness.get}.json"
          else s"SCALE_ZIPF_${factor}x_${witness.get}_probe.json"
        }
        else if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").isEmpty && repeat == 2)
          s"SCALE_ZIPF_${factor}x.json"
        else s"SCALE_ZIPF_${factor}x_probe.json"
      }
      else if (only.isEmpty && repeat == 1) s"SCALE_${factor}x.json"
      else s"SCALE_${factor}x_probe.json"
    // CONTENDED-CLOBBER GUARD, shared with Bench (round-12 verdict
    // #4): a contended scale run must never replace a committed idle
    // record at a canonical name — these files are the cross-round
    // slope references. Same decision function, same recovery
    // direction (idle overwrites anything), no force flag.
    val target = Bench.recordTarget(outName, contended)
    if (target != outName)
      System.err.println(s"[scale] contended record (timed-window foreign " +
        f"${timedForeignMax.get()}%.2f / steal ${timedStealMax.get()}%.2f cores) " +
        s"would clobber the idle reference at $outName — diverted to $target")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(target), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
