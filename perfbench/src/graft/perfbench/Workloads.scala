package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.etl.IndexStore
import graft.search.SearchQueries

/** What a timed call hands back: a check of its output and a few
  * readings for the trace, both evaluated after the clock stops.
  */
final case class OpOut(ok: () => Boolean, readings: () => Map[String, Double] = () => Map.empty)

/** One operation of a workload: `call` is the timed part (a call into
  * the program's public entry point); its inputs are already generated
  * and written when the Op is built. `items` is what the operation
  * delivers to a user — docs written or queries answered — and
  * `userBytes` the stringified bytes of what it ingests.
  */
final case class Op(kind: String, items: Long, userBytes: Long, call: () => OpOut)

/** A benchmark workload. Lifecycle per set-up: `reset` (untimed: input
  * generator state and reference model back to the seed's start),
  * `build` (timed as set-up: the index the operations run against),
  * then warm-up and measured operations from `next`.
  */
trait Workload {
  def warmupOps: Int
  /** True when the next operation starts a new round of the workload's
    * operation mix; measurement ends only there, so every run of a
    * workload measures the same mix.
    */
  def atCycleStart: Boolean = true
  /** Write the seed's inputs under the input dir (no Spark). */
  def generate(previewBatches: Int = 0): Unit
  def reset(): Unit
  def build(spark: SparkSession, root: Path): Unit
  def next(): Op
  /** Compare the index content with the reference model. */
  def finalCheck(spark: SparkSession): Either[String, String]
  /** Index bytes on disk per stringified byte of the live documents. */
  def storedBytesRatio(): Double
  /** Gauges read once at the end of a traced phase. */
  def gauges(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, seed: Long, in: Path): Workload = name match {
    case "bulk_import" => new BulkImport(seed, in)
    case "search_serve" => new SearchServe(seed, in)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Bytes of the data an index keeps: every file except local-FS
    * checksum files (dot-prefixed) and job markers (_SUCCESS).
    */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && n != "_SUCCESS"
      }.map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def allString(schema: Schema): StructType =
    StructType(schema.names.map(StructField(_, StringType)))

  /** Digest of collected index rows, columns taken by name in schema order. */
  def digestOf(rows: Array[Row], schema: Schema): Digest = {
    val d = new Digest
    rows.foreach(r => d.add(schema.names.map(n => r.getAs[Any](n)).map(String.valueOf).toArray))
    d
  }

  def check(got: Digest, want: Digest): Either[String, String] =
    if (want.rows == 0) Left("reference model is empty")
    else if (got.same(want)) Right(s"index equals reference ($got)")
    else Left(s"index $got != reference $want")
}

/** Repeated full re-imports of one lineitem-shaped source. */
final class BulkImport(seed: Long, in: Path) extends Workload {
  private val src = in.resolve("lineitem")
  private var store: IndexStore = _
  private var spark: SparkSession = _
  private var root: Path = _

  private def eachFile[T](f: Int => T): Seq[T] =
    java.util.stream.IntStream.range(0, Gen.LineitemFiles).parallel()
      .mapToObj[T](i => f(i)).toArray.toSeq.map(_.asInstanceOf[T])

  /** Last-write-wins fold of the source, computed without Spark.
    * dedupByKey keeps, per id, the row whose non-id columns form the
    * largest tuple of stringified values, compared column by column.
    * Files hold disjoint orders, so each folds on its own.
    */
  private lazy val want: Digest = {
    def larger(a: Array[String], b: Array[String]): Boolean = {
      var i = 1
      while (i < a.length && a(i) == b(i)) i += 1
      i < a.length && a(i).compareTo(b(i)) > 0
    }
    val d = new Digest
    eachFile { f =>
      val best = new java.util.HashMap[java.lang.Long, Array[String]]()
      Gen.lineitem(seed, f).foreach { row =>
        val s = Gen.Lineitem.strings(row)
        val k = java.lang.Long.valueOf(row(0).asInstanceOf[Long])
        val cur = best.get(k)
        if (cur == null || larger(s, cur)) best.put(k, s)
      }
      best.values.asScala.toSeq
    }.foreach(_.foreach(d.add))
    d
  }

  val warmupOps = 1

  def generate(previewBatches: Int): Unit =
    eachFile(f => ParquetOut.writeFile(src.resolve(ParquetOut.fileName(f)), Gen.Lineitem,
      Gen.lineitem(seed, f)))

  def reset(): Unit = want

  def build(spark: SparkSession, root: Path): Unit = {
    this.spark = spark
    this.root = root.resolve("store")
    store = new IndexStore(spark, this.root.toString)
  }

  def next(): Op = Op("index_store.bulk_import", want.rows, want.bytes, () => {
    val n = store.bulkImport(spark.read.parquet(src.toString), "lineitem", "l_orderkey")
    OpOut(() => n == want.rows)
  })

  def finalCheck(spark: SparkSession): Either[String, String] =
    Workload.check(Workload.digestOf(store.read("lineitem").collect(), Gen.Lineitem), want)

  def storedBytesRatio(): Double =
    Workload.dirBytes(root.resolve("lineitem")).toDouble / want.bytes
}

/** A served search corpus under live maintenance: BM25 and keyword
  * reads, with each new document batch upserted into the
  * date-partitioned document index (upsertPartitioned) and into the
  * postings (upsertPostings), and the postings compacted periodically.
  * Keyword search fans out (searchAll) over a flat snapshot of the
  * corpus in its own store: searchAll skips hive-partitioned indexes,
  * so it cannot serve the live document index.
  */
final class SearchServe(seed: Long, in: Path) extends Workload {
  private val corpusDir = in.resolve("corpus")
  private val zipf = new Gen.Zipf(seed)
  private val wordId: Map[String, Int] = zipf.words.zipWithIndex.toMap
  private var stream: Gen.DocStream = _
  /** Reference models: the postings' documents as word ids (for BM25),
    * the live document index's rows as stringified columns, and the
    * snapshot's (for keyword search). The first two differ between the
    * op that upserts a batch into one index and the op that upserts it
    * into the other.
    */
  private val docs = new java.util.HashMap[java.lang.Long, Array[Int]]()
  private val rows = new java.util.HashMap[java.lang.Long, Array[String]]()
  private var snapshot: Seq[(Long, Array[String])] = Nil
  private var pending: Array[Array[Any]] = Array.empty
  private var rng: java.util.SplittableRandom = _
  private var opNo = 0
  private var readNo = 0
  private var batchNo = 0
  private var spark: SparkSession = _
  private var store: IndexStore = _
  private var docStore: IndexStore = _
  private var snapStore: IndexStore = _
  private var docsDir: Path = _
  private val DocsIndex = "docs"

  /** The operation mix, repeated: 14 reads, 1 document batch upserted
    * into the document index (P) and then the postings (U), and 1
    * postings compaction (C). Every fifth read is a keyword search, the
    * rest BM25. Warm-up is the first read; a measured run is the rest
    * of the round (about 18 s here), plus whole rounds if that was
    * shorter than the run length. Reads are most of the round so that
    * their median is taken over enough samples, and all but the first
    * two of a round see the batch's new segment and tombstones.
    */
  private val Mix = "RRPURRRRRRRRRRRRC"
  val warmupOps = 1
  override def atCycleStart: Boolean = opNo % Mix.length == 0

  private def artifactRoot = Path.of(IndexStore.artifactRoot(corpusDir.toString))
  private def postingsDir = Path.of(store.artifactPath(SearchQueries.PostingsName))

  def generate(previewBatches: Int): Unit = {
    val s = new Gen.DocStream(seed, zipf)
    ParquetOut.write(corpusDir.resolve("documents.parquet"), Gen.Documents, Gen.CorpusFiles,
      s.corpus(), Gen.CorpusDays * Gen.DocsPerDay / Gen.CorpusFiles)
    (0 until previewBatches).foreach(b => writeBatch(s.nextBatch(), b))
  }

  private def writeBatch(batch: Array[Array[Any]], b: Int): Path = {
    val f = in.resolve("batches").resolve(f"b$b%05d").resolve(ParquetOut.fileName(0))
    Files.deleteIfExists(f)
    ParquetOut.writeFile(f, Gen.Documents, batch.iterator)
    f.getParent
  }

  private def foldRow(r: Array[Any]): Unit =
    rows.put(r(0).asInstanceOf[Long], Gen.Documents.strings(r))
  private def foldDoc(r: Array[Any]): Unit =
    docs.put(r(0).asInstanceOf[Long], r(2).asInstanceOf[String].split(" ").map(wordId))

  def reset(): Unit = {
    stream = new Gen.DocStream(seed, zipf)
    docs.clear()
    rows.clear()
    stream.corpus().foreach { r => foldRow(r); foldDoc(r) }
    snapshot = rows.asScala.toSeq.map { case (id, cols) => (id.longValue, cols) }
    rng = Gen.rng(seed, 5)
    opNo = 0
    readNo = 0
    batchNo = 0
    Workload.deleteTree(artifactRoot)
  }

  def build(spark: SparkSession, root: Path): Unit = {
    this.spark = spark
    val corpus = spark.read.parquet(corpusDir.resolve("documents.parquet").toString)
    snapStore = new IndexStore(spark, root.resolve("snapshot").toString)
    snapStore.bulkImport(corpus, DocsIndex, "doc_id")
    docStore = new IndexStore(spark, root.resolve("live").toString)
    docsDir = root.resolve("live").resolve(DocsIndex)
    docStore.bulkImportPartitioned(corpus, DocsIndex, "doc_id", "day")
    SearchQueries.materializedPostings(spark, corpusDir.toString)
    store = new IndexStore(spark, artifactRoot.toString)
  }

  def next(): Op = {
    val kind = Mix(opNo % Mix.length)
    opNo += 1
    kind match {
      case 'P' => docsUpsertOp()
      case 'U' => postingsUpsertOp()
      case 'C' => compactOp()
      case _ =>
        readNo += 1
        if (readNo % 5 == 2) keywordOp() else bm25Op()
    }
  }

  private def df(w: Int): Int = docs.values.asScala.count(_.contains(w))

  private def bm25Op(): Op = {
    // Two terms past the 20 most frequent words, so posting-list sizes
    // stay in one range; the first is drawn until it occurs, so no
    // answer is empty.
    var first = zipf.rank(rng, 20)
    while (df(first) == 0) first = zipf.rank(rng, 20)
    val terms = Seq(first, zipf.rank(rng, 20)).distinct
    val want = referenceBm25(terms)
    Op("search.bm25", 1, 0, () => {
      val Array(n, dl) = store.artifactSidecar(SearchQueries.PostingsName,
        SearchQueries.PostingsStatsSidecar).get.split(' ').map(_.toDouble)
      val got = SearchQueries.bm25FromPostings(SearchQueries.resolvedPostings(store), n, dl,
        terms.map(zipf.words(_))).collect().map(r => (r.getLong(0), r.getDouble(2)))
      OpOut(() => want.nonEmpty && got.sameElements(want),
        () => Map("hits" -> got.length.toDouble))
    })
  }

  /** BM25 top-10 over the current documents, in the program's exact
    * arithmetic order (SearchQueries.bm25FromPostings), computed fresh.
    */
  private def referenceBm25(terms: Seq[Int]): Array[(Long, Double)] = {
    val all = docs.asScala.toSeq
    val n = all.size.toDouble
    val sumDl = all.map(_._2.length.toLong).sum.toDouble
    val dfs = terms.map(t => all.count(_._2.contains(t)).toDouble)
    def part(tf: Double, df: Double, nt: Double): Double =
      StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
        ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (nt * n / sumDl))))
    all.flatMap { case (id, toks) =>
      val tfs = terms.map(t => toks.count(_ == t).toDouble)
      if (tfs.forall(_ == 0)) None
      else {
        val raw = terms.indices.map(i => part(tfs(i), dfs(i), toks.length)).reduce(_ + _)
        val score = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        if (score > 0) Some((id.longValue, score)) else None
      }
    }.sortBy { case (id, s) => (-s, id) }.take(10).toArray
  }

  private def keywordOp(): Op = {
    def hits(kw: String) = snapshot.collect {
      case (id, cols) if cols.exists(_.contains(kw)) => id.toString }.toSet
    var kw = zipf.words(zipf.rank(rng, 50))
    while (hits(kw).isEmpty) kw = zipf.words(zipf.rank(rng, 50))
    val want = hits(kw)
    Op("index_store.search_all", 1, 0, () => {
      val got = snapStore.searchAll(kw).collect()
      val ids = got.map(r => "\"doc_id\":\"(\\d+)\"".r.findFirstMatchIn(r.getString(1))
        .map(_.group(1)).getOrElse(""))
      OpOut(() => {
        ids.length == want.size && ids.toSet == want },
        () => Map("hits" -> got.length.toDouble))
    })
  }

  private def batchBytes(b: Array[Array[Any]]): Long =
    b.map(r => Gen.Documents.strings(r).map(_.length.toLong).sum).sum

  private def docsUpsertOp(): Op = {
    val batch = stream.nextBatch()
    pending = batch
    val dir = writeBatch(batch, batchNo)
    batchNo += 1
    batch.foreach(foldRow)
    val keys = batch.map(_(0)).distinct.length.toLong
    val before = layout()
    Op("index_store.upsert_partitioned", 0, batchBytes(batch), () => {
      docStore.lastPhases.clear()
      val n = docStore.upsertPartitioned(spark.read.parquet(dir.toString), DocsIndex,
        "doc_id", "day")
      val phases = docStore.lastPhases.asScala.map { case (k, v) => s"${k}_ms" -> v * 1000 }.toMap
      OpOut(() => n == keys, () => {
        val after = layout()
        phases + ("partitions_rewritten" ->
          (before.keySet ++ after.keySet).count(p => before.get(p) != after.get(p)).toDouble)
      })
    })
  }

  /** Parquet files of every partition of the document index. */
  private def layout(): Map[String, Set[String]] = {
    val s = Files.list(docsDir)
    try s.iterator().asScala.filter(Files.isDirectory(_)).map { p =>
      val f = Files.list(p)
      try p.getFileName.toString -> f.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally f.close()
    }.toMap
    finally s.close()
  }

  private def postingsUpsertOp(): Op = {
    val batch = pending
    val dir = in.resolve("batches").resolve(f"b${batchNo - 1}%05d")
    batch.foreach(foldDoc)
    Op("search.postings_upsert", 0, batchBytes(batch), () => {
      val gen = SearchQueries.upsertPostings(store,
        spark.read.parquet(dir.toString).select("doc_id", "text"))
      OpOut(() => gen > 0)
    })
  }

  private def compactOp(): Op = Op("search.postings_compact", 0, 0, () => {
    SearchQueries.compactPostings(store)
    OpOut(() => Files.isDirectory(postingsDir.resolve("seg=0")))
  })

  /** Both indexes against their models: the document index's rows, and
    * the served (resolved) postings' (term, doc_id, tf) rows.
    */
  def finalCheck(spark: SparkSession): Either[String, String] = {
    val gotRows = Workload.digestOf(spark.read.schema(Workload.allString(Gen.Documents))
      .parquet(docsDir.toString).collect(), Gen.Documents)
    val wantRows = new Digest
    rows.values.asScala.foreach(wantRows.add)
    val gotPostings = new Digest
    SearchQueries.resolvedPostings(store).select("term", "doc_id", "tf").collect()
      .foreach(r => gotPostings.add(Array(r.getString(0), r.getLong(1).toString, r.getLong(2).toString)))
    val wantPostings = new Digest
    docs.asScala.foreach { case (id, toks) =>
      toks.groupBy(identity).foreach { case (w, occ) =>
        wantPostings.add(Array(zipf.words(w), id.toString, occ.length.toString))
      }
    }
    for {
      a <- Workload.check(gotRows, wantRows)
      b <- Workload.check(gotPostings, wantPostings)
    } yield s"documents: $a; postings: $b"
  }

  private def userBytes: Long = rows.values.asScala.map(_.map(_.length.toLong).sum).sum

  /** Both indexes' bytes per stringified byte of the live documents. */
  def storedBytesRatio(): Double =
    (Workload.dirBytes(postingsDir) + Workload.dirBytes(docsDir)).toDouble / userBytes

  override def gauges(spark: SparkSession): Map[String, Double] = {
    def count(p: Path, prefix: String): Int = {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith(prefix)) finally s.close()
    }
    val deleted = postingsDir.resolve(SearchQueries.PostingsDeleted)
    val tomb = if (Files.isDirectory(deleted)) spark.read.parquet(deleted.toString).count() else 0L
    Map("segments_live" -> count(postingsDir, "seg=").toDouble, "tombstone_rows" -> tomb.toDouble,
      "files_live" -> layout().values.map(_.size).sum.toDouble)
  }
}
