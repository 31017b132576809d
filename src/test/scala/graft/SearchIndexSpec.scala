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

  test("doclen table: maintained per segment, compaction folds it to seg=0") {
    // The stats-delta probe reads the 1-row-per-doc `_doclen` table
    // instead of semi-scanning the full postings. The table follows
    // the same segment lifecycle as the postings, and every build and
    // compaction writes its seg=0 before the artifact goes live.
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
    SearchQueries.upsertPostings(store, docsDf(10, 20))
    statsOk()
    // Compaction: one seg=0 doclen table again, covering all.
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
    // physically present (segments are immutable) but, killed by the
    // batch's `_doclen` segment, dropped from the RESOLVED view — their served term set is now exactly
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

    // COMPACTION (the Lucene force-merge): folds every segment back to
    // a single seg=0 with identical resolved content — BM25
    // byte-identical before/after — and `_doclen` back to seg=0 alone,
    // so no kill set is left.
    def servedContent: Seq[String] = SearchQueries.resolvedPostings(store)
      .select("term", "doc_id", "n_tokens", "tf", "positions") // seg is physical
      .orderBy(col("term"), col("doc_id")).collect().map(_.toString).toSeq
    val resolvedBefore = servedContent
    assert(!new java.io.File(root, SearchQueries.PostingsDeleted).exists(),
      "an upsert wrote a _deleted dir")
    SearchQueries.compactPostings(store)
    assert(segMtimes.keySet == Set("seg=0"), s"compaction layout: $segMtimes")
    assert(new java.io.File(root, SearchQueries.PostingsDoclen).list().toSeq
      .filter(_.startsWith("seg=")) == Seq("seg=0"), "compaction must clear the kill set")
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

  test("the postings and _doclen schemas match their writers; no _deleted dir appears") {
    // The readers pass these constants to .schema(...) instead of
    // inferring; they must stay equal to what every writer produces.
    // Each table is read the way the program reads it, and the footers
    // of the files that read covers are inferred.
    val (_, store) = builtCorpus("graft_schemas", 30)
    val root = store.artifactPath(SearchQueries.PostingsName)
    val art = SearchQueries.postingsArtifact(store)
    def check(stage: String): Unit = {
      Seq(SearchQueries.PostingsTable, SearchQueries.DoclenTable).foreach { t =>
        val read = art.read(t)
        assert(read.schema == t.schema, s"${t.dir} after $stage")
        val files = read.inputFiles
        assert(files.nonEmpty, s"no ${t.dir} files after $stage")
        assert(spark.read.parquet(files: _*).schema ==
          org.apache.spark.sql.types.StructType(t.schema.filter(_.name != "seg")),
          s"${t.dir} footers after $stage")
      }
      assert(!new java.io.File(root, SearchQueries.PostingsDeleted).exists(),
        s"a _deleted dir after $stage")
    }
    check("build")
    SearchQueries.upsertPostings(store, docsDf(20, 35))
    check("upsert")
    SearchQueries.compactPostings(store)
    check("compaction")
  }

  test("a NULL-text doc keeps its _doclen row through compaction; n_docs stays exact") {
    // A doc whose text is NULL has a `_doclen` row (n_tokens NULL) but
    // no postings. Compaction must keep that row, or the doc's next
    // upsert finds nothing to remove and the stats over-count it.
    val dir = java.nio.file.Files.createTempDirectory("graft_null_text").toString
    def withText5 = docsDf(5, 6)
    def nullText5 = docsDf(5, 6).withColumn("text", lit(null).cast("string"))
    docsDf(0, 5).unionByName(nullText5).unionByName(docsDf(6, 20))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SearchQueries.materializedPostings(spark, dir)
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    SearchQueries.upsertPostings(store, withText5)
    SearchQueries.compactPostings(store)
    SearchQueries.upsertPostings(store, nullText5)
    SearchQueries.compactPostings(store)
    SearchQueries.upsertPostings(store, withText5)
    docsDf(0, 20).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val Array(nDocs, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
      SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
    assert(nDocs == 20.0, s"stats sidecar reads $nDocs $sumDl for a 20-doc corpus")
    val served = SearchQueries.bm25FromPostings(SearchQueries.resolvedPostings(store),
      nDocs, sumDl, Seq("spark", "vector", "join")).collect()
    val scanned = SparkEntry.queries("search_topk_bm25")(spark, dir).collect()
    assert(scanned.nonEmpty)
    assert(served.map(_.toString).toSeq == scanned.map(_.toString).toSeq,
      s"served=${served.mkString("; ")}\nscanned=${scanned.mkString("; ")}")
  }

  test("a batch carrying a doc twice upserts one version of it; n_docs stays exact") {
    // Two updates of one doc in one micro-batch: the postings must keep
    // one version (the keyed upserts' last-write-wins), not both.
    val (dir, store) = builtCorpus("graft_batch_dup", 20)
    val batch = docsDf(5, 6).withColumn("text", lit("spark spark"))
      .unionByName(docsDf(5, 6).withColumn("text", lit("vector join row")))
    SearchQueries.upsertPostings(store, batch)
    docsDf(0, 5).unionByName(store.dedupByKey(batch, "doc_id")).unionByName(docsDf(6, 20))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val Array(nDocs, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
      SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
    assert(nDocs == 20.0, s"stats sidecar reads $nDocs $sumDl for a 20-doc corpus")
    val lens = SearchQueries.resolvedPostings(store).filter(col("doc_id") === 5)
      .select(col("n_tokens")).distinct().collect()
    assert(lens.length == 1, s"doc 5 is served with n_tokens ${lens.mkString(", ")}")
    val served = SearchQueries.bm25FromPostings(SearchQueries.resolvedPostings(store),
      nDocs, sumDl, Seq("spark", "vector", "join")).collect()
    val scanned = SparkEntry.queries("search_topk_bm25")(spark, dir).collect()
    assert(scanned.nonEmpty)
    assert(served.map(_.toString).toSeq == scanned.map(_.toString).toSeq,
      s"served=${served.mkString("; ")}\nscanned=${scanned.mkString("; ")}")
  }

  test("building search_topk_bm25_indexed over a built artifact runs no Spark job") {
    SearchQueries.materializedPostings(spark, sf)
    val (_, built) = jobsRunBy(SparkEntry.queries("search_topk_bm25_indexed")(spark, sf))
    assert(built == 0, s"building the query ran $built Spark job(s)")
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
    // Each upsert's `_doclen` segment is its docs' tombstone for every
    // older segment.
    val root = store.artifactPath(SearchQueries.PostingsName)
    val dl = s"$root/${SearchQueries.PostingsDoclen}"
    val later = spark.read.schema(SearchQueries.DoclenSchema).option("basePath", dl)
      .parquet(s"$dl/seg=1", s"$dl/seg=2")
    assert(later.filter(col("doc_id") === 37).select("seg").collect().map(_.getInt(0))
      .sorted.toSeq == Seq(1, 2), "a doc upserted twice must have a _doclen row per upsert")
    assert(!new java.io.File(root, SearchQueries.PostingsDeleted).exists(),
      "an upsert wrote a _deleted dir")
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

  test("upserts and BM25 reads log no 'All paths were ignored' for _deleted or _doclen") {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    val (_, store) = builtCorpus("graft_hidden", 40)
    val ignored = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "ignored-paths", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("All paths were ignored")) ignored.add(m)
      }
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      classOf[org.apache.spark.sql.execution.datasources.DataSource]).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      // Two upserts: the second reads the first's `_doclen` segment, as
      // kill set and stats probe.
      SearchQueries.upsertPostings(store, docsDf(30, 45))
      SearchQueries.upsertPostings(store, docsDf(40, 50))
      val Array(nDocs, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
        SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
      assert(SearchQueries.bm25FromPostings(SearchQueries.resolvedPostings(store),
        nDocs, sumDl, Seq("spark", "vector")).collect().nonEmpty)
      assert(ignored.isEmpty, s"hidden-path warnings: ${ignored.toArray.mkString("; ")}")
      // The capture itself works: reading the hidden root directly warns.
      spark.read.schema(SearchQueries.DoclenSchema).parquet(
        s"${store.artifactPath(SearchQueries.PostingsName)}/${SearchQueries.PostingsDoclen}")
      assert(ignored.size == 1, "the logger capture saw no warning from a hidden root")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** The newest-segment rule as a broadcast anti-join states it, over
    * the raw segments and the `_doclen` rows of every segment past 0.
    */
  private def antiJoined(store: etl.IndexStore): DataFrame = {
    val root = store.artifactPath(SearchQueries.PostingsName)
    val dl = s"$root/${SearchQueries.PostingsDoclen}"
    val rows = spark.read.schema(SearchQueries.PostingsSchema).parquet(root)
    val later = new java.io.File(dl).list().toSeq.filter(d => d.startsWith("seg=") && d != "seg=0")
    val t = spark.read.schema(SearchQueries.DoclenSchema).option("basePath", dl)
      .parquet(later.map(d => s"$dl/$d"): _*)
    rows.join(broadcast(t),
      rows("doc_id") === t("doc_id") && rows("seg") < t("seg"), "left_anti")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])

  test("driver-applied tombstones keep exactly the anti-join's rows, also past the cap") {
    val (_, store) = builtCorpus("graft_tomb_rule", 40)
    val root = store.artifactPath(SearchQueries.PostingsName)
    val dl = s"$root/${SearchQueries.PostingsDoclen}"
    // Docs 30..39 get a `_doclen` row in seg=1 and docs 35..44 one in
    // seg=2: docs 35..39 have rows in two later segments.
    SearchQueries.upsertPostings(store, docsDf(30, 40).withColumn("text", lit("table row fast")))
    SearchQueries.upsertPostings(store, docsDf(35, 45).withColumn("text", lit("vector join")))
    // A NULL-doc_id posting in seg=0, a NULL-doc_id `_doclen` row in
    // seg=1, and a `_doclen` file with zero rows in seg=2.
    val posting = org.apache.spark.sql.Row("spark", null, 3, 1L, Seq(0))
    spark.createDataFrame(java.util.Arrays.asList(posting),
        org.apache.spark.sql.types.StructType(SearchQueries.PostingsSchema.dropRight(1)))
      .coalesce(1).write.mode("append").parquet(s"$root/seg=0")
    def appendDoclen(seg: Int, rows: org.apache.spark.sql.Row*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(SearchQueries.DoclenSchema.dropRight(1)))
        .coalesce(1).write.mode("append").parquet(s"$dl/seg=$seg")
    appendDoclen(1, org.apache.spark.sql.Row(null, 5))
    def parts = new java.io.File(s"$dl/seg=2").listFiles().count(_.getName.endsWith(".parquet"))
    val before = parts
    appendDoclen(2)
    assert(parts == before + 1, "the empty append wrote no zero-row _doclen file")

    val want = sortedRows(antiJoined(store))
    val resolved = SearchQueries.resolvedPostings(store)
    assert(!hasJoin(resolved), s"a small kill set was joined:\n${resolved.queryExecution.optimizedPlan}")
    assert(sortedRows(resolved) == want)
    assert(resolved.filter(col("doc_id").isNull).count() == 1,
      "the NULL-doc_id posting must survive")
    assert(resolved.filter(col("doc_id") === 37).select("seg").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(2),
      "a doc with rows in two later segments must keep only its newest")

    // Past the cap: MaxInPush + 1 `_doclen` rows past seg=0 take the
    // broadcast path.
    val have = Seq(1, 2).map(g => spark.read.parquet(s"$dl/seg=$g").count()).sum
    spark.range(etl.IndexStore.MaxInPush + 1 - have)
      .select((col("id") + 1000000L).as("doc_id"), lit(1).as("n_tokens"))
      .coalesce(1).write.mode("append").parquet(s"$dl/seg=2")
    val pastCap = SearchQueries.resolvedPostings(store)
    assert(hasJoin(pastCap), "a kill set past the cap must be anti-joined")
    assert(sortedRows(pastCap) == want)
  }

  test("a BM25 read over a tombstoned artifact runs 4 Spark jobs") {
    val (_, store) = builtCorpus("graft_bm25_jobs", 40)
    SearchQueries.upsertPostings(store, docsDf(30, 45))
    val Array(nDocs, sumDl) = store.artifactSidecar(SearchQueries.PostingsName,
      SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
    val (hits, jobs) = jobsRunBy(SearchQueries.bm25FromPostings(
      SearchQueries.resolvedPostings(store), nDocs, sumDl, Seq("spark", "vector")).collect())
    assert(hits.nonEmpty)
    // The tf exchange, the df aggregate, its broadcast and the top-k:
    // the kill set is applied on the driver, with no broadcast job.
    assert(jobs == 4, s"a tombstoned BM25 read ran $jobs Spark jobs")
  }

  test("a small postings upsert runs at most 4 jobs and writes one file per segment") {
    val (_, store) = builtCorpus("graft_upsert_jobs", 40)
    val (gen, jobs) = jobsRunBy(SearchQueries.upsertPostings(store, docsDf(30, 45)))
    // The batch's (doc_id, n_tokens) collect, the removed docs' probe,
    // the postings segment and the `_doclen` segment.
    assert(jobs <= 4, s"a 15-doc postings upsert ran $jobs Spark jobs")
    val root = store.artifactPath(SearchQueries.PostingsName)
    Seq(s"$root/seg=$gen", s"$root/${SearchQueries.PostingsDoclen}/seg=$gen").foreach { d =>
      val files = new java.io.File(d).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$d holds ${files.mkString(", ")}")
    }
  }
}
