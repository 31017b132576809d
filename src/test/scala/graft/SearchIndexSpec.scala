package graft

import org.scalatest.funsuite.AnyFunSuite

import search.SearchQueries

/** The materialized inverted index (search_topk_bm25_indexed): the ES
  * serving model owned natively. Contract: (1) index-served BM25 is
  * byte-identical to the scan-based scoring (the DuckDB gate enforces
  * the same via a shared oracle — this pins it in-engine too), (2) the
  * query's terms reach the postings scan as a pushed In filter over
  * the range-sort key (row-group skipping), (3) the artifact builds
  * once and is reused until the corpus changes.
  */
class SearchIndexSpec extends AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Docs [from, until) of a small corpus: 12 tokens each over six
    * words, with the columns the `documents` table carries.
    */
  private def docsDf(from: Long, until: Long): DataFrame = {
    val words = Seq("spark", "vector", "join", "table", "fast", "row")
    spark.range(from, until).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        element_at(typedlit(words), ((col("id") + i * 7) % 6 + 1).cast("int"))): _*)
        .as("text"),
      lit("en").as("lang"), lit("src0").as("source"), lit(60L).as("n_chars"))
  }

  /** A fresh corpus dir holding docs [0, n) and its built postings. */
  private def builtCorpus(prefix: String, n: Long): (String, etl.IndexStore) = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    docsDf(0, n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SearchQueries.materializedPostings(spark, dir)
    (dir, new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir)))
  }

  test("index-served BM25 equals the scan-based scoring exactly") {
    val scan = SparkEntry.queries("search_topk_bm25")(spark, sf).collect()
    val idx = SparkEntry.queries("search_topk_bm25_indexed")(spark, sf).collect()
    assert(scan.map(_.toString).toSeq == idx.map(_.toString).toSeq,
      s"scan=${scan.mkString("; ")}\nindexed=${idx.mkString("; ")}")
  }

  test("query terms prune the postings scan (pushed In filter on the sort key)") {
    val df = SparkEntry.queries("search_topk_bm25_indexed")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains(SearchQueries.PostingsName))
    assert(scanLine.isDefined, s"no postings scan in:\n$plan")
    assert(scanLine.get.contains("PushedFilters: [In(term"),
      s"term filter not pushed: ${scanLine.get}")
  }

  test("doclen sidecar: maintained per segment, coverage-gap fallback, compaction heals") {
    // The stats-delta probe reads the 1-row-per-doc `_doclen` table
    // instead of semi-scanning the full postings. The sidecar follows
    // the same segment lifecycle; a PARTIAL table (e.g. a pre-doclen
    // artifact that received one upsert) must NOT be trusted — the
    // stats would silently under-count removed docs.
    val (_, store) = builtCorpus("graft_doclen", 40)
    val doclenDir = new java.io.File(
      store.artifactPath(SearchQueries.PostingsName), "_doclen")
    assert(new java.io.File(doclenDir, "seg=0").isDirectory,
      "build must write doclen seg=0")
    def statsOk(): Unit = {
      val Array(n, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
        SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
      val perDoc = SearchQueries.resolvedPostings(store)
        .select(col("doc_id"), col("n_tokens")).distinct()
      assert(perDoc.count().toDouble == n, "sidecar doc count drifted")
      assert(perDoc.agg(sum(col("n_tokens"))).head.getLong(0).toDouble == sumDl,
        "sidecar token sum drifted")
    }
    // Upsert (re-writes docs 0..9 → removed contribution from doclen).
    SearchQueries.upsertPostings(store, docsDf(0, 10))
    assert(new java.io.File(doclenDir, "seg=1").isDirectory,
      "upsert must append its doclen segment")
    statsOk()
    // Coverage gap: nuke seg=0's doclen only — the probe must fall
    // back to derive-from-postings and stats stay exact.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    rm(new java.io.File(doclenDir, "seg=0"))
    SearchQueries.upsertPostings(store, docsDf(10, 20))
    statsOk()
    // Compaction heals: one seg=0 doclen table again, covering all.
    SearchQueries.compactPostings(store)
    assert(new java.io.File(doclenDir, "seg=0").isDirectory)
    assert(!new java.io.File(doclenDir, "seg=1").exists(),
      "compaction must fold doclen to a single segment")
    SearchQueries.upsertPostings(store, docsDf(20, 25))
    statsOk()
    // Empty micro-batch: no new segment generation, stats untouched.
    val segsBefore = new java.io.File(
      store.artifactPath(SearchQueries.PostingsName)).listFiles()
      .map(_.getName).filter(_.startsWith("seg=")).toSet
    SearchQueries.upsertPostings(store, docsDf(0, 0))
    val segsAfter = new java.io.File(
      store.artifactPath(SearchQueries.PostingsName)).listFiles()
      .map(_.getName).filter(_.startsWith("seg=")).toSet
    assert(segsAfter == segsBefore, "empty batch must not burn a segment")
    statsOk()
  }

  test("mget: request order, found flags, duplicates honored, In pushed to the scan") {
    val df = SparkEntry.queries("search_mget")(spark, sf)
    val rows = df.collect()
    // One row per REQUEST entry, request order, duplicate id twice.
    assert(rows.map(_.getAs[Long]("req_ord")).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(3L, 999999999L, 7L, 42L, 42L))
    assert(rows.map(_.getAs[Boolean]("found")).toSeq ==
      Seq(true, false, true, true, true))
    assert(rows(1).isNullAt(rows(1).fieldIndex("lang")),
      "missing id must carry null fields, like an ES found=false entry")
    // The id list reaches the corpus scan as a pushed In filter — the
    // footer-stats point-read path, not a corpus scan + join filter.
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("documents"))
    assert(scanLine.isDefined, s"no documents scan in:\n$plan")
    assert(scanLine.get.contains("PushedFilters: [In(doc_id"),
      s"id list not pushed: ${scanLine.get}")
  }

  test("span_near probes prune the postings scan (pushed per-clause term filters)") {
    // The ordered-span query reads three posting lists; every clause's
    // term must reach the scan as a pushed equality/In filter so probe
    // cost is the probed lists (row-group skips on the term-sorted
    // artifact), never the postings table.
    val df = SparkEntry.queries("search_span_near")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(SearchQueries.PostingsName))
      .toSeq
    assert(scanLines.size >= 3, s"expected 3 postings probes in:\n$plan")
    assert(scanLines.forall(l =>
      l.contains("PushedFilters: [") && l.contains("EqualTo(term") ||
        l.contains("In(term")),
      s"clause term not pushed:\n${scanLines.mkString("\n")}")
  }

  test("streaming doc ingest maintains the inverted index, scoring stays scan-exact") {
    // Continuous search-index maintenance — the ES continuous-indexing
    // story for the SEARCH index: each micro-batch of documents
    // replaces its docs' posting rows (doc-granular anti-join + union,
    // so a changed doc can LOSE terms without leaving stale postings),
    // and the corpus-stats sidecar advances by the batch DELTA — never
    // a corpus rescan. Proof of correctness: BM25 served from the
    // MAINTAINED index equals the scan-based scoring over the grown
    // corpus, byte for byte.
    import org.apache.spark.sql.streaming.Trigger

    val (dir, store) = builtCorpus("graft_postings_s", 40)

    val srcDir = java.nio.file.Files.createTempDirectory("postings_src")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("postings_stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(name))
    }
    def runPass(): Unit = {
      val q = spark.readStream.schema(docsDf(0, 1).schema)
        .parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          SearchQueries.upsertPostings(store, batch)
          ()
        }
        .option("checkpointLocation", srcDir.resolve(".ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }

    // Physical immutability baseline: the built segment's files.
    val root = new java.io.File(
      etl.IndexStore.artifactRoot(dir), SearchQueries.PostingsName)
    def segMtimes: Map[String, Long] = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val mtBefore = segMtimes
    assert(mtBefore.keySet == Set("seg=0"), s"fresh build layout: $mtBefore")

    // Batch 1: 15 NEW docs + 5 CHANGED docs (ids 35..39 get new text,
    // so their old postings must vanish).
    stage(docsDf(40, 55).unionByName(
      docsDf(35, 40).withColumn("text", lit("table row fast"))), "b1.parquet")
    runPass()

    // SEGMENT-APPEND physical claim: the batch landed as a NEW segment
    // and the existing segment's files were not touched (O(batch)
    // maintenance I/O — never a corpus rewrite).
    val mtAfter = segMtimes
    assert(mtAfter.keySet.size > 1, s"no new segment appended: $mtAfter")
    assert(mtAfter("seg=0") == mtBefore("seg=0"),
      "segment append rewrote the immutable base segment")
    // The same batch lands in the document index with UPSERT semantics
    // (doc_id is the `_id`): the corpus after ingest is old∖batch ∪
    // batch — rewrite documents.parquet to that state so the scan side
    // sees what an IndexStore.upsert of the batch would produce.
    docsDf(0, 35)
      .unionByName(docsDf(35, 40).withColumn("text", lit("table row fast")))
      .unionByName(docsDf(40, 55))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val Array(nDocs, sumDl) = store.artifactSidecar(
      SearchQueries.PostingsName, SearchQueries.PostingsStatsSidecar)
      .get.split(' ').map(_.toDouble)
    assert(nDocs == 55.0, s"stats sidecar nDocs=$nDocs")
    // Changed docs must serve NO stale postings: old-segment rows are
    // physically present (segments are immutable) but tombstoned out
    // of the RESOLVED view — their served term set is now exactly
    // {table, row, fast}.
    val staleTerms = SearchQueries.resolvedPostings(store)
      .filter(col("doc_id") >= 35 && col("doc_id") < 40)
      .filter(!col("term").isin("table", "row", "fast"))
      .count()
    assert(staleTerms == 0, "segment replace served stale postings")

    // THE correctness proof: index-served BM25 over the maintained
    // index == scan-based BM25 over the grown corpus. The scan query
    // reads $dir/documents.parquet, which now includes the batch.
    // NOTE: deliberately NOT materializedPostings here — that would
    // rebuild from the corpus; the point is the MAINTAINED index.
    val served = SearchQueries.bm25FromPostings(
      SearchQueries.resolvedPostings(store), nDocs, sumDl,
      Seq("spark", "vector", "join")).collect()
    val scanned = SparkEntry.queries("search_topk_bm25")(spark, dir).collect()
    assert(served.map(_.toString).toSeq == scanned.map(_.toString).toSeq,
      s"served=${served.mkString("; ")}\nscanned=${scanned.mkString("; ")}")

    // COMPACTION (the Lucene force-merge): folds every segment +
    // tombstone back to a single seg=0 with identical resolved content
    // — BM25 byte-identical before/after — and the tombstone set gone.
    def servedContent: Seq[String] = SearchQueries.resolvedPostings(store)
      .select("term", "doc_id", "n_tokens", "tf", "positions") // seg is physical
      .orderBy(col("term"), col("doc_id")).collect().map(_.toString).toSeq
    val resolvedBefore = servedContent
    SearchQueries.compactPostings(store)
    assert(segMtimes.keySet == Set("seg=0"), s"compaction layout: $segMtimes")
    assert(!new java.io.File(root, SearchQueries.PostingsDeleted).exists(),
      "compaction must clear the tombstone set")
    val resolvedAfter = servedContent
    assert(resolvedAfter == resolvedBefore, "compaction changed served content")
    val servedCompact = SearchQueries.bm25FromPostings(
      SearchQueries.resolvedPostings(store), nDocs, sumDl,
      Seq("spark", "vector", "join")).collect()
    assert(servedCompact.map(_.toString).toSeq == scanned.map(_.toString).toSeq)
  }

  test("postings artifact builds once, carries corpus stats, and is reused") {
    SearchQueries.materializedPostings(spark, sf)
    val root = new java.io.File(
      graft.etl.IndexStore.artifactRoot(sf), SearchQueries.PostingsName)
    def listing = root.listFiles().map(_.getName).sorted.toSeq
    val before = listing
    assert(before.contains(SearchQueries.PostingsStatsSidecar))
    val (postings, nDocs, sumDl) = SearchQueries.materializedPostings(spark, sf)
    assert(listing == before, "unchanged corpus must not rebuild the postings")
    // Stats sidecar agrees with what the postings themselves say.
    val fromIndex = postings.select(col("doc_id"), col("n_tokens")).distinct()
      .agg(count(lit(1)).cast("double"), sum(col("n_tokens")).cast("double"))
      .head
    assert(fromIndex.getDouble(0) == nDocs && fromIndex.getDouble(1) == sumDl)
  }

  test("the postings, _doclen and _deleted schemas are what the writers leave on disk") {
    // The readers pass these constants to .schema(...) instead of
    // inferring; they must stay equal to what every writer produces.
    val (_, store) = builtCorpus("graft_schemas", 30)
    val root = store.artifactPath(SearchQueries.PostingsName)
    val tables = Seq(
      root -> SearchQueries.PostingsSchema,
      s"$root/${SearchQueries.PostingsDoclen}" -> SearchQueries.DoclenSchema,
      s"$root/${SearchQueries.PostingsDeleted}" -> SearchQueries.DeletedSchema)
    def check(stage: String): Int = tables.count { case (path, want) =>
      val present = new java.io.File(path).isDirectory
      if (present) assert(spark.read.parquet(path).schema == want, s"$path after $stage")
      present
    }
    assert(check("build") == 2)
    SearchQueries.upsertPostings(store, docsDf(20, 35))
    assert(check("upsert") == 3)
    SearchQueries.compactPostings(store)
    assert(check("compaction") == 2)
  }

  test("building search_topk_bm25_indexed over a built artifact runs no Spark job") {
    SearchQueries.materializedPostings(spark, sf)
    val sc = spark.sparkContext
    val group = "bm25-build"
    val marker = "bm25-marker"
    @volatile var built = 0
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => built += 1
          case Some(`marker`) => markerSeen = true
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build the indexed BM25 query")
      try SparkEntry.queries("search_topk_bm25_indexed")(spark, sf)
      finally sc.clearJobGroup()
      // Listener delivery is async but ordered: once the marker job's
      // start arrives, every job started before it has been counted.
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(markerSeen, "marker job never reached the listener")
      assert(built == 0, s"building the query ran $built Spark job(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("the indexed BM25 read scans the postings once; df reuses the tf exchange") {
    val df = SparkEntry.queries("search_topk_bm25_indexed")(spark, sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString // the final plan alone, not the initial one
      case p => p.toString
    }
    val scans = plan.linesIterator
      .count(l => l.contains("FileScan") && l.contains(SearchQueries.PostingsName))
    assert(scans == 1, s"expected one postings scan in:\n$plan")
    assert(plan.linesIterator.exists(_.contains("ReusedExchange")),
      s"the df aggregate does not reuse the tf exchange:\n$plan")
  }

  test("a doc upserted twice before compaction: two tombstones, BM25 still scan-exact") {
    val (dir, store) = builtCorpus("graft_twice", 40)
    val v1 = docsDf(30, 40).withColumn("text", lit("table row fast spark"))
    val v2 = docsDf(35, 45).withColumn("text", lit("vector join vector row"))
    SearchQueries.upsertPostings(store, v1)
    SearchQueries.upsertPostings(store, v2)
    val tomb = spark.read.schema(SearchQueries.DeletedSchema).parquet(
      s"${store.artifactPath(SearchQueries.PostingsName)}/${SearchQueries.PostingsDeleted}")
    assert(tomb.filter(col("doc_id") === 37).count() == 2,
      "a doc upserted twice must leave one tombstone row per upsert")
    // The corpus those upserts describe: 0..29, v1's 30..34, v2's 35..44.
    docsDf(0, 30).unionByName(v1.filter(col("doc_id") < 35)).unionByName(v2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val Array(nDocs, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
      SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
    val served = SearchQueries.bm25FromPostings(SearchQueries.resolvedPostings(store),
      nDocs, sumDl, Seq("spark", "vector", "join")).collect()
    val scanned = SparkEntry.queries("search_topk_bm25")(spark, dir).collect()
    assert(scanned.nonEmpty)
    assert(served.map(_.toString).toSeq == scanned.map(_.toString).toSeq,
      s"served=${served.mkString("; ")}\nscanned=${scanned.mkString("; ")}")
  }
}
