package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import llm.SimilarityQueries

/** The materialized IVFADC vector index (llm_ann_indexed_topk): the
  * write-time-encode architecture the inline ANN queries argue for.
  * Contract under test: (1) probing the index gives the SAME answer as
  * the inline IVFADC query (identical deterministic model + probe), (2)
  * the probe is physical partition pruning, (3) the index is built once
  * and reused until the corpus changes, (4) the model sidecar
  * round-trips exactly.
  */
class VecIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  test("indexed ANN answers identically to the inline IVFADC query") {
    val inline = SparkEntry.queries("llm_ann_ivfpq_topk")(spark, sf).collect()
    val indexed = SparkEntry.queries("llm_ann_indexed_topk")(spark, sf).collect()
    assert(inline.map(_.toString).toSeq == indexed.map(_.toString).toSeq,
      s"inline=${inline.mkString("; ")}\nindexed=${indexed.mkString("; ")}")
  }

  /** The zipf generator's clustered-embedding geometry (K=32
    * deterministic centers in [-1,1]^64 + U(-0.1,0.1) noise — the
    * real-embedding-corpus shape), at an arbitrary size. Same xxhash
    * construction as ScaleBench's witness corpus, where the build
    * margin measures 0.04 and the probe curve reads 10/10 at nProbe=1
    * (SCALE.md).
    */
  private def clusteredCorpus(n: Long) = {
    val K = 32L
    def unit(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             salt: Int) =
      pmod(xxhash64(a, b, lit(salt)), lit(2000001L)).cast("double") /
        lit(1000000.0) - lit(1.0)
    spark.range(0, n).select(col("id").as("vec_id"))
      .withColumn("cl", pmod(xxhash64(col("vec_id"), lit(5)), lit(K)))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (unit(col("cl"), d.cast("long"), 11) +
          unit(col("vec_id"), d.cast("long"), 13) * lit(0.1)).cast("float")))
      .select(col("vec_id"), col("embedding"),
        (col("cl") % 10).cast("int").as("label"))
  }

  test("geometry-aware serving: i.i.d. fixture escalates to exhaustive ADC; clustered corpus keeps pruning") {
    // The i.i.d. fixture is the low-margin geometry (dim-64 distance
    // concentration: d2/d1 ≈ 1 corpus-wide — IvfDiag's census), where
    // NO affordable nProbe is reliable. The build stores that margin
    // in the sidecar and the served query must escalate: no cell
    // PartitionFilter, exhaustive quantized scan (the first test in
    // this suite pins that the answer stays the exact top-10).
    val (_, model) = SimilarityQueries.materializedVecIndex(spark, sf)
    assert(model.lowMarginFrac >= SimilarityQueries.MarginEscalateFrac,
      s"i.i.d. fixture must measure low-margin, got ${model.lowMarginFrac}")
    val plan = SparkEntry.queries("llm_ann_indexed_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    // Inspect the BRACKET CONTENTS (the scan line also prints output
    // attributes like cell#N outside the filter list).
    val pfRe = """PartitionFilters: \[([^\]]*)\]""".r
    val pf = pfRe.findAllMatchIn(plan).map(_.group(1)).find(_.contains("cell"))
    assert(pf.isEmpty,
      s"escalated serve must not prune cells: ${pf.getOrElse("")}")
    // The inline IVF and IVFADC demos run the same census on their own
    // assignment pass: escalated, their plans carry no cell filter.
    val cellFilter = """cell#\d+ (IN|INSET) """.r
    def inlinePlan(name: String, d: String) =
      SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString
    for (name <- Seq("llm_ann_ivf_topk", "llm_ann_ivfpq_topk")) {
      val p = inlinePlan(name, sf)
      assert(cellFilter.findFirstIn(p).isEmpty, s"escalated $name must not filter cells:\n$p")
    }

    // Clustered geometry: wide margins -> the sidecar says the probe
    // is reliable and the scan must keep genuine partition pruning.
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx_c").toString
    clusteredCorpus(2000).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val (_, cModel) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(cModel.lowMarginFrac >= 0 &&
      cModel.lowMarginFrac < SimilarityQueries.MarginEscalateFrac,
      s"clustered corpus must measure wide-margin, got ${cModel.lowMarginFrac}")
    val cdf = SparkEntry.queries("llm_ann_indexed_topk")(spark, dir)
    val cPlan = cdf.queryExecution.executedPlan.toString
    val cpf = cPlan.linesIterator.filter(_.contains("PartitionFilters: ["))
      .find(_.contains("cell"))
    assert(cpf.isDefined, s"no PartitionFilters on cell in:\n$cPlan")
    assert(cpf.get.contains(" IN ") || cpf.get.contains("cell#"),
      s"cell probe not in PartitionFilters: ${cpf.get}")
    // The inline demos measure the same wide margin and keep the probe.
    for (name <- Seq("llm_ann_ivf_topk", "llm_ann_ivfpq_topk")) {
      val p = inlinePlan(name, dir)
      assert(cellFilter.findFirstIn(p).isDefined, s"wide-margin $name must filter cells:\n$p")
    }
    // And the pruned probe on this geometry serves the exact top-10.
    val got = cdf.collect().map(_.getLong(0)).toSeq
    val e = SimilarityQueries.embDouble(Tables(spark, dir, "embeddings"))
    val exact = e.crossJoin(
        broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qv"))))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(sqrt(
          aggregate(zip_with(col("emb"), col("qv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v)), 6).as("l2"))
      .orderBy(col("l2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, s"pruned probe lost exactness: got=$got exact=$exact")
  }

  test("index is hive-partitioned by cell with the model sidecar, and reused") {
    // First access (possibly) builds; second must NOT rewrite — parquet
    // part files carry unique names, so any rewrite changes the listing.
    SimilarityQueries.materializedVecIndex(spark, sf)
    val root = new java.io.File(
      graft.etl.IndexStore.artifactRoot(sf), SimilarityQueries.VecIndexName)
    def listing = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(root).sorted
    }
    val before = listing
    assert(before.exists(_.contains("cell=")), s"not hive-partitioned: $before")
    assert(before.exists(_.endsWith(SimilarityQueries.ModelSidecar)),
      "model sidecar missing")
    SimilarityQueries.materializedVecIndex(spark, sf)
    assert(listing == before, "unchanged corpus must not trigger a rebuild")
    // The sidecar is invisible to the parquet scan (no phantom rows/cols).
    val (idx, _) = SimilarityQueries.materializedVecIndex(spark, sf)
    assert(idx.columns.toSet == Set("vec_id", "label", "codes", "cell"))
  }

  test("corpus change invalidates the fingerprint and rebuilds") {
    // A synthetic corpus dir we own end-to-end (the fixture dir is
    // read-only): build, overwrite the corpus, assert rebuild.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx").toString
    def writeCorpus(n: Long): Unit =
      spark.range(0, n)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((col("id") + d) % 17).cast("float")).as("embedding"),
          (col("id") % 3).cast("string").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeCorpus(300)
    val (idx1, _) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(idx1.count() == 300)
    writeCorpus(400)
    val (idx2, _) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(idx2.count() == 400, "stale index served after corpus changed")
  }

  test("streaming embedding ingest maintains the index under the frozen model") {
    // Continuous ANN-index maintenance: micro-batches of new embeddings
    // are encoded with the index's SIDECAR model (never retrained
    // in-stream — retraining is a rebuild) and merged in via the typed
    // artifact upsert, which must keep array columns intact, keep the
    // hive cell layout, carry the model sidecar through the swap, and
    // stay idempotent under replay.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx_s").toString
    def corpus(from: Long, until: Long) =
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((col("id") * 3 + d) % 23).cast("float")).as("embedding"),
          (col("id") % 3).cast("string").as("label"))
    corpus(0, 300).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (idx0, model0) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(idx0.count() == 300)

    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val srcDir = java.nio.file.Files.createTempDirectory("vecidx_src")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("vecidx_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(name))
    }
    def runPass(): Unit = {
      val q = spark.readStream.schema(corpus(0, 1).schema)
        .parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          SimilarityQueries.upsertVecIndex(store, batch, "stream-maintained")
          ()
        }
        .option("checkpointLocation", srcDir.resolve(".ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }

    stage(corpus(300, 400), "b1.parquet")
    runPass()
    val idx1 = store.read(SimilarityQueries.VecIndexName)
    assert(idx1.count() == 400, "streamed batch must merge into the index")
    // Frozen model: sidecar survives the upsert swap byte-for-byte.
    assert(store.artifactSidecar(SimilarityQueries.VecIndexName,
      SimilarityQueries.ModelSidecar).contains(model0.serialize))
    // Streamed rows carry exactly the codes/cells a batch encode under
    // the same model produces (types intact through the typed merge).
    val streamed = idx1.filter(col("vec_id") >= 300)
      .select(col("vec_id"), col("cell"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    val expected = SimilarityQueries.encodeWithModel(
        SimilarityQueries.embDouble(corpus(300, 400)), model0)
      .select(col("vec_id"), col("cell"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(streamed == expected)
    // Replay of the same batch (new file, same content) stays idempotent.
    stage(corpus(300, 400), "b2.parquet")
    runPass()
    assert(store.read(SimilarityQueries.VecIndexName).count() == 400,
      "replayed batch must upsert, not append")
  }

  test("vec upsert is CELL-granular: a 1-vector batch rewrites <=2 cell dirs; empty batch no-ops") {
    // The partition-granular contract made PHYSICAL (the geo test's
    // mtime discipline): untouched cell directories must not be
    // rewritten by a micro-batch, and an empty foreachBatch batch
    // (routine in streaming) must not crash the staging path.
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx_g").toString
    def corpus(from: Long, until: Long) =
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((col("id") * 3 + d) % 23).cast("float")).as("embedding"),
          (col("id") % 3).cast("string").as("label"))
    corpus(0, 300).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (idx0, _) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(idx0.count() == 300)
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir),
      SimilarityQueries.VecIndexName)
    def dirMtimes: Map[String, Long] = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val mt0 = dirMtimes
    assert(mt0.size > 1, "need a multi-cell layout for the granularity claim")
    // ONE new vector: lands in exactly one cell, its key occupies none.
    val n1 = SimilarityQueries.upsertVecIndex(store, corpus(300, 301), "one-vec")
    assert(n1 == 301)
    val changed = dirMtimes.filter { case (d, t) => mt0.get(d).forall(_ != t) }.keySet
    assert(changed.size <= 2, s"one-vector batch rewrote cell dirs: $changed")
    // Empty batch: count unchanged, zero cell dirs rewritten, no crash.
    val mt1 = dirMtimes
    val n2 = SimilarityQueries.upsertVecIndex(store, corpus(0, 0), "noop")
    assert(n2 == 301)
    assert(dirMtimes == mt1, "empty batch must not rewrite any cell")
  }

  test("vec upsert: duplicate keys WITHIN a batch serve one row per key") {
    // Two updates to one vec_id in a single micro-batch: the anti-join
    // only removes OLD index rows, so without batch-internal dedup
    // both rows survive the union — duplicate keys in a served index.
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx_d").toString
    def corpus(from: Long, until: Long) =
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((col("id") * 3 + d) % 23).cast("float")).as("embedding"),
          (col("id") % 3).cast("string").as("label"))
    corpus(0, 300).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    SimilarityQueries.materializedVecIndex(spark, dir)
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    // Batch: vec_id 300 twice (different embeddings) + vec_id 0 twice
    // (an EXISTING key, also updated twice).
    val batch = corpus(300, 301).unionByName(
        corpus(301, 302).withColumn("vec_id", lit(300L)))
      .unionByName(corpus(0, 1))
      .unionByName(corpus(5, 6).withColumn("vec_id", lit(0L)))
    val n = SimilarityQueries.upsertVecIndex(store, batch, "dup-batch")
    assert(n == 301, s"301 distinct keys expected, index serves $n rows")
    val idx = store.read(SimilarityQueries.VecIndexName)
    assert(idx.filter(col("vec_id") === 300L).count() == 1)
    assert(idx.filter(col("vec_id") === 0L).count() == 1)
    assert(idx.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count() == 0, "no key may serve >1 row")
  }

  test("two-level layout: past the capped-quantizer regime probes prune inside cells") {
    // 8000 genuinely-varied vectors at nList=16 is ~500 members per
    // cell — past 4×IdxTargetCellSize, the capped-quantizer regime
    // where the corpus outgrew the fixed coarse cell count (nList
    // cannot grow without retraining every code). The build must give
    // every oversized cell a level-2 codebook, lay the index out on
    // composite cell ids, prune the probe on those composite values,
    // and still serve the exact brute-force answer after the re-rank.
    // Clustered geometry (so the sidecar margin keeps the pruned-probe
    // branch — the escalation test above owns the i.i.d. case) at a
    // size where every cell crosses 4×IdxTargetCellSize.
    val dir = java.nio.file.Files.createTempDirectory("graft_vecidx_2l").toString
    clusteredCorpus(8000).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val (idx, model) = SimilarityQueries.materializedVecIndex(spark, dir)
    assert(model.sub.nonEmpty, "oversized cells must get level-2 codebooks")
    assert(idx.count() == 8000)
    // Hive layout carries composite ids (c1·4096 [+ c2 + 1]).
    val root = new java.io.File(
      graft.etl.IndexStore.artifactRoot(dir), SimilarityQueries.VecIndexName)
    def cellDirs(f: java.io.File): Seq[Long] =
      if (!f.isDirectory) Nil
      else f.listFiles().toSeq.flatMap(cellDirs) ++
        f.listFiles().toSeq.filter(_.getName.startsWith("cell="))
          .map(_.getName.stripPrefix("cell=").toLong)
    val cells = cellDirs(root).distinct
    // Composite space: unsplit cells sit at c1·4096 (c1=0 encodes to
    // 0), split cells add c2+1 < 4096; every sub-cell id must belong
    // to a level-1 cell that actually has a sub-codebook.
    assert(cells.nonEmpty && cells.forall(c =>
      c % 4096 == 0 || model.sub.contains((c / 4096).toInt)),
      s"layout not composite: $cells")
    assert(cells.exists(_ % 4096 != 0), s"no split sub-cells present: $cells")
    // The probe reaches the scan as PartitionFilters on composite ids.
    val df = SparkEntry.queries("llm_ann_indexed_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters: ["))
      .find(_.contains("cell"))
    assert(pf.isDefined, s"no PartitionFilters on cell in:\n$plan")
    // Served answer == exact brute-force L2 top-10 (same rounding and
    // tie-break as the query).
    val got = df.collect().map(_.getLong(0)).toSeq
    val e = SimilarityQueries.embDouble(Tables(spark, dir, "embeddings"))
    val exact = e.crossJoin(
        broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qv"))))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(sqrt(
          aggregate(zip_with(col("emb"), col("qv"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v)), 6).as("l2"))
      .orderBy(col("l2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact,
      s"two-level probe lost exactness: got=$got exact=$exact")

    // Upsert into the COMPOSITE layout: the frozen sidecar model must
    // reproduce the build's two-level cell assignment (the sub-
    // codebooks ride the serialized model), the new vector must land
    // in a valid composite cell dir, and only its cell may rewrite.
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    def segDirs: Map[String, Long] = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val mt0 = segDirs
    val one = clusteredCorpus(8001).filter(col("vec_id") === 8000)
    val n = SimilarityQueries.upsertVecIndex(store, one, "two-level-upsert")
    assert(n == 8001)
    val changed = segDirs.filter { case (d, t) => mt0.get(d).forall(_ != t) }.keySet
    assert(changed.size <= 2, s"two-level upsert rewrote: $changed")
    val newCell = store.read(SimilarityQueries.VecIndexName)
      .filter(col("vec_id") === 8000).select(col("cell")).head.getInt(0).toLong
    assert(newCell % 4096 == 0 || model.sub.contains((newCell / 4096).toInt),
      s"upserted vector landed in a non-composite cell id $newCell")
  }

  test("model sidecar serialization round-trips bit-exactly") {
    val e = SimilarityQueries.embDouble(Tables(spark, sf, "embeddings"))
    val m = SimilarityQueries.IvfPqModel.train(e, nList = 4, m = 8, subDim = 8, nCent = 16)
    val back = SimilarityQueries.IvfPqModel.parse(m.serialize)
    assert(back.nList == m.nList && back.m == m.m &&
      back.subDim == m.subDim && back.nCent == m.nCent)
    assert(back.coarse.flatten.toSeq == m.coarse.flatten.toSeq)
    assert(back.codebooks.flatten.flatten.toSeq == m.codebooks.flatten.flatten.toSeq)
    // Margin diagnostic rides the header and round-trips exactly ...
    val withMargin = m.copy(lowMarginFrac = 0.8125)
    assert(SimilarityQueries.IvfPqModel.parse(withMargin.serialize).lowMarginFrac == 0.8125)
    // ... and a legacy 4-token header (pre-margin sidecar) parses with
    // the unknown sentinel, which never escalates.
    val legacy = m.serialize.replaceFirst("^ivfpq (\\d+) (\\d+) (\\d+) (\\d+)[^\\n]*",
      "ivfpq $1 $2 $3 $4")
    assert(SimilarityQueries.IvfPqModel.parse(legacy).lowMarginFrac == -1.0)
  }
}
