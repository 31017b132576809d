package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's index-lifecycle surface (SURVEY.md §2.1 #6–#12),
  * re-expressed as a parquet-backed warehouse:
  *
  *  - create/delete/list indexes (`ElasticServiceImpl.java:35-114`):
  *    one directory per index under `root`, names lowercased
  *    (`BulkProcessImpl.java:64`), system names (leading '.')
  *    filtered from listings (`ElasticServiceImpl.java:97-101`).
  *  - bulk import (`BulkProcessImpl.java:82-157`): scan → stringify →
  *    keyed last-write-wins upsert on the id column (the ES `_id`
  *    overwrite, `:124`) → partitioned parquet write. The reference's
  *    200k-row batches / 10 concurrent bulks / 300 MB flushes
  *    (`:186-190`) map to task parallelism over `numShards` write
  *    partitions — no hand-rolled batching.
  *  - count (`ElasticService.java:14`, unimplemented there): owned
  *    natively as a metadata-only parquet count.
  *
  * Scale notes: the upsert shuffles once on the id (hash partition →
  * in-partition window); the write fans out over `numShards`
  * (reference default 5 shards, `BulkProcessImpl.java:66`). Re-import
  * is idempotent: same ids in → same surviving docs out.
  */
class IndexStore(spark: SparkSession, root: String) {

  private def fs = org.apache.hadoop.fs.FileSystem
    .get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def dir(index: String) = new Path(root, index.toLowerCase)

  /** The session this store reads and writes through — for readers that
    * build their own scan (a fixed schema, an artifact's hidden tables)
    * and so must not pay [[read]]'s schema inference to get it.
    */
  private[graft] def session: SparkSession = spark

  /** Driver-side phase timings of the most recent partition-granular
    * maintenance call on THIS store instance — the `_stream_latency`
    * bench reads it per micro-batch to publish a lock/schema/probe/
    * stage/commit breakdown (a few nanoTime reads per commit; no
    * effect on the data path). ConcurrentHashMap because
    * bulkImportAll shares one store across FAIR-pool threads;
    * last-writer-wins per key — diagnostics, not state.
    */
  private[graft] val lastPhases =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Index schema cache for the partition-granular streaming path:
    * [[upsertKeyed]] runs once per micro-batch and the index
    * schema CANNOT change mid-stream (that path rejects drift; schema
    * widening is [[upsert]]'s full-rewrite job), so the per-trigger
    * footer-read schema inference was a pure fixed cost on the hot
    * commit. Invalidated by every full-rewrite path (all of which go
    * through [[swapIn]]) and by [[deleteIndex]]. Scoped to THIS store
    * instance. The SAFETY BOUNDARY is the single-maintainer contract
    * (the maintenance lease: one live writer per index), which the
    * streaming ingest loop satisfies — NOT the schema-match require
    * below. That require catches batch-vs-cache drift, but an external
    * writer that swaps the index to a new layout between this store's
    * batches, while incoming batches still match the STALE cached
    * layout, passes the require and would read renamed/missing columns
    * as null — silent, not loud. Inside the lease contract that writer
    * cannot exist; violate the contract and the cache is one of
    * several things that break.
    */
  private val colsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally lastPhases.put(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Crash recovery + GC for swap leftovers. [[swapIn]] can die between
    * the rename-aside and the rename-in, leaving the live dir absent
    * and the only copy under `.old_<name>_<id>` — which listIndexes
    * hides, so the index looks deleted until someone renames it back.
    * On construction: (1) restore the newest backup of any index whose
    * live dir is missing; (2) delete dot-dirs older than `maxAgeMs`.
    * The age guard exists because a CONCURRENT store on the same root
    * may own in-flight `.tmp_`/`.old_` dirs — only dirs no live swap
    * can still hold are collected (a swap is seconds, the guard is an
    * hour).
    */
  private[graft] def recoverOrphans(maxAgeMs: Long = 60 * 60 * 1000L): Unit = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return
    // .aliastmp_ files are setAlias write-asides orphaned by a crash
    // before the atomic rename-over — never live state, safe to GC by
    // age like the swap leftovers. .lock_ files are maintenance LEASES
    // ([[withMaintenanceLock]]): a LIVE holder renews its lease by
    // touching the lock mtime every [[IndexStore.LockHeartbeatMs]], so
    // an hour-stale mtime means the holder is dead (crashed writer)
    // regardless of how long its batch was going to run — a full
    // compaction legitimately holds the lock for hours at 100 TB, and
    // before lease renewal this guard would have GC'd that live
    // holder's lock and let a second writer interleave (round-8
    // verdict finding #1).
    def dotDirs = fs.listStatus(rootPath).filter(e =>
      (e.isDirectory && (e.getPath.getName.startsWith(".old_") ||
        e.getPath.getName.startsWith(".tmp_"))) ||
        e.getPath.getName.startsWith(".aliastmp_") ||
        e.getPath.getName.startsWith(".lock_"))
    dotDirs.filter(_.getPath.getName.startsWith(".old_"))
      .groupBy(_.getPath.getName.stripPrefix(".old_").dropRight(9)) // drop _<8-char id>
      .foreach { case (name, backups) =>
        if (name.nonEmpty && !fs.exists(new Path(root, name)))
          fs.rename(backups.maxBy(_.getModificationTime).getPath,
            new Path(root, name)) // best effort: false just leaves the backup
      }
    val now = System.currentTimeMillis()
    dotDirs.filter(now - _.getModificationTime > maxAgeMs)
      .foreach(e => fs.delete(e.getPath, true))
  }
  recoverOrphans()

  /** Create an empty index (directory). Lowercases the name like the
    * reference; no-op if present (ES create-on-existing just errors —
    * idempotent create is the saner contract and what `df.write` needs).
    */
  def createIndex(name: String): Unit = fs.mkdirs(dir(name))

  /** Crash-safe copy-on-write swap: `write` materializes the new index
    * contents into a unique dot-prefixed tmp dir; the live dir is then
    * renamed aside to a unique backup, the tmp renamed in, and the
    * backup dropped. Every intermediate state keeps the data under
    * SOME name (tmp / backup / live) — a crash loses at most the
    * in-flight rewrite, never the index (a delete-then-rename swap has
    * a window where the only copy is gone, which is unrecoverable data
    * loss under a streaming checkpoint that already marked the batch
    * committed). Unique suffixes also keep concurrent operations on
    * one index from colliding on a shared tmp path. A `write` that
    * fails removes its tmp dir and leaves the live dir as it was.
    */
  private def swapIn(indexName: String)(write: Path => Unit): Unit = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val live = dir(indexName)
    val tmp = new Path(root, s".tmp_${indexName.toLowerCase}_$id")
    val bak = new Path(root, s".old_${indexName.toLowerCase}_$id")
    try write(tmp)
    catch { case t: Throwable => fs.delete(tmp, true); throw t }
    // Hadoop FileSystem.rename reports failure by returning FALSE, not
    // throwing — an unchecked failed rename-aside would leave `live` in
    // place and the next rename would nest tmp INSIDE it, silently
    // dropping the rewrite. Fail loudly instead; the data still exists
    // under tmp (and live), so a failed swap loses nothing.
    def renameOrThrow(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"swap rename failed: $from -> $to")
    if (fs.exists(live)) renameOrThrow(live, bak)
    renameOrThrow(tmp, live)
    fs.delete(bak, true)
    colsCache.remove(indexName.toLowerCase)
  }

  /** Shared last-write-wins survivor: pack `ordPrefix ++ data` columns
    * into one struct, take the per-key MAX (struct comparison is
    * field-order lexicographic — identical to ORDER BY all-DESC +
    * row_number()=1; ties are bit-identical rows), unpack the data
    * fields. A hash aggregate with map-side partial combine: each
    * input partition shuffles at most one candidate per key, where the
    * window form shuffles and sorts every duplicate — at a 100 TB
    * re-import that is shuffling the delta, not the corpus.
    */
  private[graft] def dedupByKey(df: DataFrame, idCol: String,
                                ordPrefix: Seq[String] = Nil): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == idCol || ordPrefix.contains(c))
    val packed = struct((ordPrefix ++ dataCols).map(col): _*)
    val outCols = df.columns.filterNot(ordPrefix.contains)
    df.groupBy(col(idCol))
      .agg(max(packed).as("__doc"))
      .select(outCols.map(c =>
        if (c == idCol) col(idCol) else col("__doc").getField(c).as(c)): _*)
  }

  def deleteIndex(name: String): Unit = {
    colsCache.remove(name.toLowerCase)
    fs.delete(dir(name), true)
  }

  /** All index names, system (dot-prefixed) entries filtered. */
  def listIndexes(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .toSeq.sorted

  /** Bulk import: stringify all columns, last-write-wins on `idCol`
    * ordered by `orderCols` descending-last semantics, write
    * `numShards` parquet parts. Overwrite = the reference's re-import
    * behavior (same `_id` space).
    */
  def bulkImport(df: DataFrame, indexName: String, idCol: String,
                 numShards: Int = 5): Long = {
    val deduped = dedupByKey(Stringify.all(df), idCol)
    // Through the same crash-safe swap as every other rewrite: a direct
    // Overwrite of the live dir deletes the previous index before the
    // job commits — a mid-write crash on a RE-import would lose the
    // existing data unrecoverably.
    swapIn(indexName) { tmp =>
      deduped.repartition(numShards)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    count(indexName)
  }

  /** Concurrent multi-table import — the reference's headline tuning:
    * its demo pipeline imports several MySQL tables in parallel threads
    * (`R/README.md:12`, demo `R/README.md:145-314`), which is where its
    * "doubled throughput" number comes from. Spark translation: each
    * table's import is an independent job (scan → stringify →
    * dedup-shuffle → write); submitting them from `parallelism` driver
    * threads lets one table's shuffle/write overlap another's scan, so
    * the cluster never idles at per-table stage boundaries. Each thread
    * tags its jobs into its own scheduler pool — under
    * `spark.scheduler.mode=FAIR` that enforces fair shares so one giant
    * table cannot starve the small ones; under the default FIFO the
    * jobs still interleave at free-slot granularity.
    * Returns index name -> surviving doc count.
    */
  def bulkImportAll(tables: Seq[(String, DataFrame, String)],
                    parallelism: Int = 4, numShards: Int = 5): Map[String, Long] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = tables.map { case (idx, df, idCol) =>
        scala.concurrent.Future {
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"import_${idx.toLowerCase}")
          try idx.toLowerCase -> bulkImport(df, idx, idCol, numShards)
          finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** Incremental upsert: merge a batch of new/updated docs into an
    * existing index — the ES continuous-indexing mode (each bulk
    * request upserts by `_id`). Implementation: union existing +
    * incoming (incoming tagged newer), re-run last-write-wins keyed
    * on `idCol` with the recency tag leading the order, rewrite.
    * This is a copy-on-write merge (read + shuffle + write of one
    * index) — right for full re-imports and schema widening; the
    * 100 TB continuous-ingest form is [[upsertPartitioned]], which
    * rewrites only the partitions a batch touches.
    */
  def upsert(incoming: DataFrame, indexName: String, idCol: String,
             numShards: Int = 5): Long = {
    val existing = read(indexName).withColumn("__gen", lit(0))
    val next = Stringify.all(incoming).withColumn("__gen", lit(1))
    // Same hash-agg last-write-wins as bulkImport, with the recency tag
    // leading the comparison tuple (incoming generation always beats
    // existing; ties within a generation break on the data columns).
    // allowMissingColumns = ES dynamic mapping: a batch carrying NEW
    // fields widens the index schema (old docs read NULL there), and a
    // batch missing known fields upserts with NULLs — continued ingest
    // must never be rejected for schema drift, exactly like the
    // reference's mapping-free bulk path (`BulkProcessImpl.java:66-68`:
    // index settings only, ES infers fields per document).
    val merged = dedupByKey(
      existing.unionByName(next, allowMissingColumns = true), idCol,
      ordPrefix = Seq("__gen"))
    // Write via temp dir then swap: the source of the merge is the
    // index itself, so a direct overwrite would truncate its input.
    swapIn(indexName) { tmp =>
      merged.repartition(numShards).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    count(indexName)
  }

  /** Bootstrap a PARTITIONED document index for [[upsertPartitioned]]:
    * bulkImport's stringify + last-write-wins dedup, laid out as hive
    * partitions on `partCol` (a LOW-cardinality locality column — the
    * ingest date for an event stream, a tenant/source id for a
    * multi-source corpus) with every partition's files sorted on
    * `idCol` so the maintenance key probe prunes row groups. This is
    * the upsert layout [[upsert]]'s scaladoc promises at 100 TB:
    * sharded so a keyed merge rewrites touched shards, not the index.
    */
  def bulkImportPartitioned(df: DataFrame, indexName: String, idCol: String,
                            partCol: String): Long = {
    val deduped = dedupByKey(Stringify.all(df), idCol)
    writeArtifact(deduped, indexName, fingerprint = "live",
      partitionCols = Seq(partCol), withinFileSortCols = Seq(idCol))
    count(indexName)
  }

  /** Partition-granular keyed upsert — [[upsert]]'s 100 TB form, on
    * an index laid out by [[bulkImportPartitioned]]: only the
    * partitions the batch TOUCHES rewrite (the partitions its rows
    * land in, plus the partitions its keys currently occupy, so a row
    * whose locality value changed leaves no stale copy behind);
    * every other partition's files are physically untouched. A
    * time-local micro-batch (the streaming ingest case — events
    * arrive roughly in event-time order) therefore costs O(batch +
    * its few date partitions) per commit instead of [[upsert]]'s
    * O(index) copy-on-write — the difference between a stream you
    * can run forever and one whose commit cost grows with history.
    * The algorithm is [[upsertKeyed]], shared with the geo and vector
    * indexes; this caller's layout step is the stringify, done before
    * the last-write-wins dedup as [[bulkImportPartitioned]] does. The
    * incoming schema must match the index (schema widening is
    * [[upsert]]'s full-rewrite job — a partition subset cannot widen
    * the rest). Returns the number of docs UPSERTED (the ES bulk
    * acknowledgment), NOT the index size — counting the index per
    * commit would list every file, an O(index) driver step this
    * O(batch) path must not hide.
    */
  def upsertPartitioned(incoming: DataFrame, indexName: String, idCol: String,
                        partCol: String): Long =
    upsertKeyed(Stringify.all(incoming), indexName, idCol, partCol, "live")(identity)._1

  /** The one keyed partition upsert (the reference's `_id` overwrite,
    * `BulkProcessImpl.java:124`, made partition-granular) behind
    * [[upsertPartitioned]], `GeoQueries.upsertGeoPoints` and
    * `SimilarityQueries.upsertVecIndex`. `batch` is deduplicated
    * last-write-wins on `idCol` over ITS columns, then `layout` maps it
    * to the index's columns (stringify, a cell id, an encoding), so the
    * in-batch winner is the caller's. Runs under the artifact's
    * maintenance lock; [[overwritePartitions]] brackets the commit
    * with the fingerprint. Returns (distinct keys upserted, partitions
    * touched); an empty batch writes nothing.
    */
  private[graft] def upsertKeyed(batch: DataFrame, indexName: String, idCol: String,
                                 partCol: String, fingerprint: String)
                                (layout: DataFrame => DataFrame): (Long, Int) = {
    val tEnter = System.nanoTime()
    withMaintenanceLock(indexName) {
      lastPhases.put("lock", (System.nanoTime() - tEnter) / 1e9)
      val laidOut = layout(batch)
      val (schema, existing) = phase("schema") {
        // Layout from the instance cache (see colsCache) — a footer
        // read only on the FIRST batch of a stream, not per trigger.
        val indexSchema = colsCache.computeIfAbsent(indexName.toLowerCase,
          _ => read(indexName).schema)
        require(indexSchema.fieldNames.sorted.sameElements(laidOut.columns.sorted),
          s"keyed upsert: batch columns must match index $indexName " +
            s"(got ${laidOut.columns.sorted.mkString(",")}, index has " +
            s"${indexSchema.fieldNames.sorted.mkString(",")}); upsert() " +
            "widens a document index")
        // The partition column is read as the BATCH types it. A user-
        // supplied schema bypasses hive partition-value type inference,
        // so a string partition compares BYTE-IDENTICALLY to its
        // directory name — an inferred-then-cast value diverges for any
        // value whose inferred-type string form differs from its
        // directory form (zero-padded numerics: dir `part=007`, inferred
        // int reads back "7"), and the drop path `part=<value>` would
        // then miss the real directory, leaving STALE rows of moved
        // keys served next to the rewritten copy. Integer cells stay
        // integers.
        val partType = laidOut.schema(partCol).dataType
        val schema = org.apache.spark.sql.types.StructType(indexSchema.map(f =>
          if (f.name == partCol) f.copy(dataType = partType) else f))
        (schema, spark.read.schema(schema).parquet(dir(indexName).toString))
      }
      def deduped = layout(dedupByKey(batch, idCol))
      val nullPart = s"keyed upsert: NULL $partCol in batch — null partition " +
        "values do not round-trip hive partition directories; assign a " +
        "sentinel value upstream"
      // Driver push cap: below it the batch's (key, part) PAIRS collect
      // to the driver (a few MB at the cap — the same bounded-collect
      // class as every other probe here) and keys push into scans as
      // In/InSet filters; above it everything stays distributed. 50k
      // covers the real streaming micro-batch range (the fixture's
      // events drain runs ~20k-row triggers); an In of 50k keys
      // evaluates as a hash InSet, and the parquet pushdown above the
      // in-filter threshold degrades to min/max range pruning, which
      // the within-file key sort keeps selective.
      // ONE bounded SINGLE-STAGE batch job serves the key list, the
      // new-partition values AND the null-partition guard: collect the
      // RAW pairs under a limit (CollectLimit — no shuffle) and dedup
      // keys on the driver. newParts from RAW rows is a superset of the
      // survivors' partitions — a superseded row's partition rewrites
      // unnecessarily but correctly — and the null guard is
      // correspondingly stricter (a null part fails even in a row that
      // would lose last-write-wins: loud beats subtle). The cap counts
      // raw rows, not distinct keys, so a large batch falls to the
      // distributed path slightly earlier — also safe.
      val raw = phase("probe") {
        laidOut.select(col(idCol), col(partCol)).limit(IndexStore.MaxInPush + 1).collect()
      }
      if (raw.length <= IndexStore.MaxInPush) {
        // Hive writes a NULL partition value to the
        // __HIVE_DEFAULT_PARTITION__ sentinel directory, which would
        // not round-trip the touched-value compare or the drop path.
        require(raw.forall(!_.isNullAt(1)), nullPart)
        // MICRO-BATCH path (the per-trigger streaming commit — every
        // per-trigger cost here is a latency floor): the key list is
        // already on the driver, so (a) key removal is an In-filter
        // fused into the stage scan, never an anti-join; (b) a batch
        // whose raw keys are UNIQUE (the normal event-stream shape)
        // skips the last-write-wins dedup shuffle outright — its
        // survivors ARE the batch; (c) the moved-key probe (partitions
        // the batch keys currently occupy OUTSIDE the batch's target
        // partitions — almost always none for a time-local stream)
        // runs CONCURRENTLY with the stage job instead of serially
        // before it, so its wall cost hides behind the write; the rare
        // non-empty result pays one extra bounded rewrite after the
        // main commit.
        val keyList: Array[Any] = raw.map(_.get(0)).distinct
        // The In() filters below run under SQL three-valued logic: a
        // NULL in the In-list makes `NOT id IN (...)` evaluate NULL (=
        // dropped) for EVERY non-matching row, and a NULL id in an
        // existing row evaluates NULL against any list. The past-cap
        // anti-join KEEPS null-id rows on both sides (a null key never
        // join-matches), so this path must match: the In-list carries
        // only non-null keys (a batch null-id row never replaces
        // anything) and every keep-filter carries an explicit
        // `id IS NULL OR` arm so existing null-id rows survive.
        val nonNullKeys = keyList.filter(_ != null).toSeq
        val keepNotInBatch = col(idCol).isNull || !col(idCol).isin(nonNullKeys: _*)
        val newParts: Set[Any] = raw.map(_.get(1)).toSet
        if (keyList.isEmpty) (0L, 0)
        else {
          import scala.concurrent.ExecutionContext.Implicits.global
          val movedFut = scala.concurrent.Future(phase("probe_idx") {
            // In-pushed + row-group pruned by the within-file key sort;
            // reads ONLY partitions outside newParts (partition filter),
            // which the concurrent commit never touches — no race with
            // the stage/rename of newParts directories.
            existing
              .filter(!col(partCol).isInCollection(newParts) &&
                col(idCol).isin(nonNullKeys: _*))
              .select(col(partCol)).distinct()
              .collect().map(_.get(0)).toSet
          })
          // Deliberately NOT persisted: caching was measured SLOWER on
          // the micro-batch path (the InMemoryRelation build roughly
          // doubled the probe job, +0.6 s/batch at 100-doc batches) —
          // recomputing a batch-bounded dedup is cheaper than
          // materializing it columnar.
          val b = if (keyList.length == raw.length) laidOut else deduped
          overwritePartitions(
            existing.filter(col(partCol).isInCollection(newParts) && keepNotInBatch)
              .unionByName(b),
            indexName, partCol, fingerprint,
            withinFileSortCols = Seq(idCol), dropEmptiedOf = newParts.map(_.toString))
          val moved = scala.concurrent.Await.result(movedFut,
            scala.concurrent.duration.Duration.Inf) -- newParts
          if (moved.nonEmpty)
            // A key changed its partition: remove its stale copy from
            // each old partition. FRESH read (not `existing`) — the
            // commit above already replaced newParts files under the
            // old frame's file-index snapshot; this scan touches only
            // `moved` partitions, which both commits rewrite
            // exclusively here, under the same maintenance lock. A
            // crash between the two commits leaves the stale copy one
            // more batch — the streaming checkpoint replays the batch
            // and this idempotent merge converges.
            overwritePartitions(
              spark.read.schema(schema).parquet(dir(indexName).toString)
                .filter(col(partCol).isInCollection(moved) && keepNotInBatch),
              indexName, partCol, fingerprint,
              withinFileSortCols = Seq(idCol), dropEmptiedOf = moved.map(_.toString))
          (keyList.length.toLong, (newParts ++ moved).size)
        }
      } else {
        // BULK path (past the driver push cap): distributed probes — a
        // plain semi-join, no broadcast HINT (a bulk batch's key set is
        // unbounded, and the session's AQE promotes the join from
        // ACTUAL runtime sizes — the broadcast-discipline rule every
        // probe here follows), and the classic anti-join merge over
        // all touched partitions at once.
        val b = deduped
        val newParts: Set[Any] = b.select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSet
        require(!newParts.contains(null), nullPart)
        val keys = b.select(col(idCol)).distinct()
        val oldParts = phase("probe_idx") {
          existing.join(keys, Seq(idCol), "left_semi")
            .select(col(partCol)).distinct()
            .collect().map(_.get(0)).toSet
        }
        val touched = oldParts ++ newParts
        // Counted BEFORE the commit: a batch whose lineage reads this
        // index would count a different frame after it.
        val upserted = keys.count()
        // The merge plan executes ONCE: overwritePartitions stages it to
        // parquet and finds emptied partitions (touched minus staged)
        // by listing the stage.
        overwritePartitions(
          existing.filter(col(partCol).isInCollection(touched))
            .join(keys, Seq(idCol), "left_anti")
            .unionByName(b.select(existing.columns.map(col).toSeq: _*)),
          indexName, partCol, fingerprint,
          withinFileSortCols = Seq(idCol), dropEmptiedOf = touched.map(_.toString))
        (upserted, touched.size)
      }
    }
  }

  /** Delete-by-query (ES `_delete_by_query`): rewrite the index
    * without matching docs. Copy-on-write like [[upsert]]; returns
    * docs deleted.
    */
  def deleteWhere(indexName: String, predicate: org.apache.spark.sql.Column): Long = {
    val before = count(indexName)
    // ES _delete_by_query deletes only docs that MATCH the query: rows
    // where the predicate is NULL (unknown) are KEPT, so the keep-filter
    // is "not definitely matching", not "definitely not matching".
    val kept = read(indexName).filter(!coalesce(predicate, lit(false)))
    swapIn(indexName) { tmp =>
      kept.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    before - count(indexName)
  }

  /** ES `_update_by_query`: apply column assignments to every doc
    * MATCHING the predicate (the script-free `ctx._source.f = v`
    * form), leave the rest byte-identical. NULL predicate rows do NOT
    * match — same tri-state rule as [[deleteWhere]]. One filtered
    * rewrite behind the same atomic swap as every other destructive
    * edit: matching rows get the assignments projected in, non-matching
    * rows pass through, so the pass is a single scan + write — never a
    * read-modify-write per document (the ES implementation's
    * scroll+bulk loop, which at 100 TB is the wrong shape). Returns the
    * number of updated docs.
    */
  def updateWhere(indexName: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val matches = coalesce(predicate, lit(false))
    val src = read(indexName)
    val updated = assignments.foldLeft(src) { case (d, (f, v)) =>
      // A new field appears as NULL on non-matching docs (ES documents
      // are schemaless; parquet needs the explicit null branch).
      val orig = if (src.columns.contains(f)) col(f) else lit(null)
      d.withColumn(f, when(matches, v).otherwise(orig))
    }
    val n = src.filter(matches).count()
    swapIn(indexName) { tmp =>
      updated.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    n
  }

  /** Compaction (ES force-merge): rewrite the index into `numShards`
    * files. Small-file accumulation is THE silent killer of 100 TB
    * scan throughput (per-file open cost + tiny row groups defeat
    * min/max skipping); periodic compaction restores it.
    */
  def compact(indexName: String, numShards: Int): Long = {
    swapIn(indexName) { tmp =>
      read(indexName).repartition(numShards)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    fs.listStatus(dir(indexName)).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** The UI's "all index" search option (reference
    * `indexView.html:15-17`): one keyword fanned out across every
    * index, hits tagged with their index name. Schemas differ per
    * index, so each hit is emitted as its JSON document (the ES
    * `_source` shape). Plan-level union of independent pruned scans —
    * no shuffle; cost = sum of the per-index scans, like ES's
    * multi-index URI search.
    */
  def searchAll(keyword: String): DataFrame = {
    import spark.implicits._
    listIndexes()
      // A created-but-never-loaded index has no parquet footers to
      // infer a schema from; it can't match anything, so it simply
      // contributes zero hits instead of failing the whole fan-out.
      .filter(idx => hasData(dir(idx)))
      .map { idx =>
        val df = read(idx)
        df.filter(graft.search.SearchQueries.anyFieldContains(df, keyword))
          .select(lit(idx).as("index_name"),
            to_json(struct(df.columns.map(col): _*)).as("doc"))
      }.reduceOption(_.unionByName(_))
      .getOrElse(Seq.empty[(String, String)].toDF("index_name", "doc"))
  }

  // ---- Snapshot / restore (ES `_snapshot` API) ------------------------

  /** Point-in-time snapshot of an index: a full copy under the hidden
    * `.snap/<index>/<id>` tree (dot-prefixed root, so hidden from
    * listings and scans), taken from the live dir. The per-index
    * SUBDIRECTORY makes the namespace unambiguous: a flat
    * `.snap_<index>_<id>` encoding collides when `_` appears in index
    * names (`.snap_docs_v1_s1` is snapshot s1 of docs_v1 AND a
    * plausible "v1_s1" of docs). ES snapshots are incremental
    * segment-level; at this layer a parquet index IS its immutable
    * segment set after a swap, so a copy is the honest equivalent (on
    * a real object store this is a server-side copy, no data through
    * the client). Returns the snapshot id.
    */
  def snapshot(indexName: String): String = {
    // Next id = max existing + 1 (NOT count+1): retention pruning
    // deletes from the oldest end, and a count-derived id would then
    // re-issue an old id — colliding with the `(length, id)` oldest-
    // first ordering retention itself relies on.
    val ids = listSnapshots(indexName).map(_.drop(1).toLong)
    val id = s"s${(0L +: ids).max + 1}"
    val src = dir(indexName)
    require(fs.exists(src), s"no such index: $indexName")
    val dst = snapPath(indexName, id)
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true,
      spark.sparkContext.hadoopConfiguration)
    id
  }

  private def snapDir(indexName: String) =
    new Path(new Path(root, ".snap"), indexName.toLowerCase)

  private def snapPath(indexName: String, id: String) =
    new Path(snapDir(indexName), id)

  /** Read-side migration of pre-`.snap/<index>/<id>` snapshots: a
    * store written under the old flat `.snap_<index>_<id>` encoding
    * would otherwise lose its committed snapshots to the new layout
    * (unlisted, unrestorable, never GC'd). The tail anchored on
    * `_s<digits>$` is unambiguous even with `_` in index names —
    * `.snap_docs_v1_s1` migrates for index docs_v1 (tail "s1"), never
    * for docs (tail "v1_s1" fails the anchor). Renames are per-
    * directory atomic; a crash mid-migration leaves the remainder
    * flat, picked up on the next call.
    */
  private def migrateLegacySnapshots(indexName: String): Unit = {
    if (!fs.exists(new Path(root))) return // fresh store: nothing to migrate
    val prefix = s".snap_${indexName.toLowerCase}_"
    val tail = "^s\\d+$".r
    fs.listStatus(new Path(root)).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        tail.matches(p.getName.drop(prefix.length)))
      .foreach { p =>
        val id = p.getName.drop(prefix.length)
        fs.mkdirs(snapDir(indexName))
        fs.rename(p, snapPath(indexName, id))
      }
  }

  /** Snapshot ids of an index, oldest first. */
  def listSnapshots(indexName: String): Seq[String] = {
    migrateLegacySnapshots(indexName)
    val d = snapDir(indexName)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d)
      .map(_.getPath.getName)
      .toSeq.sortBy(s => (s.length, s))
  }

  /** Restore an index to a snapshot — through the same crash-safe swap
    * as every rewrite (the pre-restore state survives as the swap
    * backup until the restore commits).
    */
  def restore(indexName: String, snapshotId: String): Unit = {
    migrateLegacySnapshots(indexName)
    val snap = snapPath(indexName, snapshotId)
    require(fs.exists(snap), s"no such snapshot: $indexName/$snapshotId")
    swapIn(indexName) { tmp =>
      org.apache.hadoop.fs.FileUtil.copy(fs, snap, fs, tmp, false, true,
        spark.sparkContext.hadoopConfiguration)
    }
  }

  /** Time-travel read: query a snapshot's contents DIRECTLY, without
    * restoring it over the live index — the "inspect a snapshot before
    * you roll back" / "query the table as of snapshot s3" operation
    * (ES exposes it by restoring into a renamed index; an engine that
    * stores snapshots as immutable parquet can just scan them). Zero
    * copies: the returned frame scans the snapshot directory with the
    * same pushdown/pruning as any live read.
    */
  def readSnapshot(indexName: String, snapshotId: String): DataFrame = {
    migrateLegacySnapshots(indexName)
    val snap = snapPath(indexName, snapshotId)
    require(fs.exists(snap), s"no such snapshot: $indexName/$snapshotId")
    spark.read.parquet(snap.toString)
  }

  // ---- Aliases (ES `_aliases` API) -------------------------------------

  private def aliasPath(alias: String) =
    new Path(root, s".alias_${alias.toLowerCase}")

  /** Point `alias` at `indexName` ATOMICALLY (write-aside + atomic
    * rename-over) — the ES blue/green pattern: load v2 under a new
    * name, re-point the serving alias, drop v1; readers never see a
    * half state. `FileContext.rename(..., Rename.OVERWRITE)` is the
    * one Hadoop rename with defined overwrite-an-existing-file
    * semantics on both HDFS and the local FS, so there is NO window
    * where the alias file is absent (a delete-then-rename has one: a
    * concurrent [[readByName]] would fall back to the alias name as a
    * concrete index, and a crash in the window loses the alias). A
    * crash before the rename leaves only an orphaned `.aliastmp_`
    * file, GC'd by [[recoverOrphans]].
    */
  def setAlias(alias: String, indexName: String): Unit = {
    require(fs.exists(dir(indexName)), s"no such index: $indexName")
    val tmp = new Path(root,
      s".aliastmp_${alias.toLowerCase}_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(indexName.toLowerCase.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      .rename(tmp, aliasPath(alias), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The index an alias points at, if set. */
  def resolveAlias(alias: String): Option[String] = readSmallFile(aliasPath(alias))

  def dropAlias(alias: String): Unit = fs.delete(aliasPath(alias), false)

  /** ES `_rollover`: when the index behind `alias` reaches `maxDocs`,
    * create the next GENERATION (`<base>-NNNNNN`, ES's rollover naming)
    * and atomically re-point the alias at it — the time-series /
    * append-log index pattern: writers always address the alias, reads
    * fan out over the generations, and no single index grows without
    * bound. Returns the new index name when a rollover happened. The
    * alias swap rides [[setAlias]]'s atomic rename, so a crash leaves
    * either the old target (rollover simply retries) or the completed
    * new state — never a missing alias. At warehouse scale the doc
    * count comes from parquet footer metadata ([[count]] is a
    * metadata-only query), so the threshold check is O(files), not a
    * scan.
    */
  def rollover(alias: String, maxDocs: Long): Option[String] = {
    val cur = resolveAlias(alias).getOrElse(
      throw new IllegalArgumentException(s"no such alias: $alias"))
    if (count(cur) < maxDocs) None
    else {
      val gen = "^(.*)-(\\d{6})$".r
      val next = cur match {
        case gen(base, n) => f"$base-${n.toLong + 1}%06d"
        case _ => f"$cur-${2}%06d" // unsuffixed bootstrap: treat as gen 1
      }
      createIndex(next)
      setAlias(alias, next)
      Some(next)
    }
  }

  /** Snapshot retention (the ES SLM `expire_after`/`min_count` policy,
    * by count): keep the `keep` most recent snapshots, delete the
    * rest, oldest first. Returns the deleted ids. Safe against the id
    * sequence: [[snapshot]] issues max+1, so pruned ids are never
    * re-used and the oldest-first ordering stays truthful.
    */
  def pruneSnapshots(indexName: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val doomed = listSnapshots(indexName).dropRight(keep)
    doomed.foreach(id => fs.delete(snapPath(indexName, id), true))
    doomed
  }

  /** Read through a name that may be an alias or a concrete index —
    * how a serving layer addresses the store.
    */
  def readByName(name: String): DataFrame =
    read(resolveAlias(name).getOrElse(name))

  /** Doc count; 0 for a created-but-never-written index (ES `_count`
    * on an empty index returns 0 — and a freshly rolled-over
    * generation IS such an index until its first bulk, so schema
    * inference must not be asked to run on zero files).
    */
  def count(indexName: String): Long = {
    val d = dir(indexName)
    if (!hasData(d)) 0L else spark.read.parquet(d.toString).count()
  }

  /** Data present = a top-level parquet part file (flat layout) OR a
    * hive partition directory (cell-/key-partitioned artifacts, which
    * have ONLY `col=value` dirs at the top level). Sidecars and commit
    * markers (`_`-prefixed) and checksums (`.`-prefixed) are not data.
    */
  private def hasData(d: Path): Boolean =
    fs.exists(d) && fs.listStatus(d).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") &&
        (if (st.isFile) name.endsWith(".parquet") else name.contains("="))
    }

  def read(indexName: String): DataFrame =
    spark.read.parquet(dir(indexName).toString)

  /** ES `_reindex`: copy an index into another through an optional
    * per-row transform (the painless-script role — field rewrites,
    * filters, projections), re-keyed on `idCol` in the destination.
    * Runs as one distributed read→transform→bulkImport pipeline; ES's
    * `slices` parallelism is task parallelism here. The destination
    * goes through bulkImport's stringify + last-write-wins dedup +
    * crash-safe swap, so reindexing INTO an existing index is a full
    * replace with the same mid-crash safety as any other rewrite, and
    * a transform that drops or renames `idCol` fails fast inside
    * bulkImport rather than silently mis-keying.
    */
  def reindex(src: String, dst: String, idCol: String,
              transform: DataFrame => DataFrame = identity,
              numShards: Int = 5): Long = {
    require(src.toLowerCase != dst.toLowerCase,
      s"reindex src and dst must differ: $src")
    bulkImport(transform(read(src)), dst, idCol, numShards)
  }

  // ---- Derived-artifact materialization -------------------------------
  //
  // Expensive derived structures (the near-dup pair graph, posting
  // lists) are built ONCE PER INGEST and consumed by many queries —
  // rebuilding them per query is the round-2 bench's ~22 s of repeated
  // pair-finding. An artifact is a TYPED parquet index (bulkImport's
  // stringify is the document-import contract; derived artifacts keep
  // native types) written through the same crash-safe swap, tagged with
  // a provenance fingerprint of its inputs; readers rebuild only when
  // the fingerprint no longer matches (ingest happened). The tag lives
  // in an underscore-prefixed sidecar inside the index dir — invisible
  // to parquet scans (Hadoop hidden-file filter) and swapped atomically
  // WITH the data it describes.

  private val MetaFile = "_graft_provenance"

  /** Write a typed artifact + its provenance fingerprint, crash-safe.
    *
    * `partitionCols` makes the artifact a PARTITIONED index (hive
    * layout): a reader's filter on those columns becomes partition
    * pruning — directories that never open a footer. This is how the
    * IVF cell id turns into physical data skipping at query time.
    * `sidecars` are extra underscore-prefixed metadata
    * files (e.g. a serialized quantizer model) swapped atomically WITH
    * the data they describe — invisible to parquet scans like the
    * provenance tag.
    */
  def writeArtifact(df: DataFrame, name: String, fingerprint: String,
                    numShards: Int = 5, partitionCols: Seq[String] = Nil,
                    withinFileSortCols: Seq[String] = Nil,
                    sidecars: Map[String, String] = Map.empty): Unit =
    swapArtifact(name, fingerprint, sidecars) { tmp =>
      val writer =
        if (partitionCols.nonEmpty)
          // EXPLICIT partition count: a bare repartition(cols) is an
          // AQE-coalescible shuffle, and a small-SF build collapses to
          // ONE task that then opens every hive-partition's parquet
          // writer SEQUENTIALLY (measured: 1024 cell dirs at sf0.1 =
          // all part-00000 files, 17 s of single-threaded writer
          // inits). Pinning the session's shuffle parallelism keeps
          // cell-file creation spread across tasks — each writes
          // ~cells/tasks files — while still producing exactly one
          // file per (task, cell), so the file count per cell dir
          // stays 1 and reader-side pruning is unchanged.
          // `withinFileSortCols` additionally sorts every (task, cell)
          // file by the given KEY columns — partition pruning on the
          // hive columns stays the primary skip, and a pushed
          // key-filter (the maintenance probes' In(id) list) then
          // prunes ROW GROUPS inside each cell file via min/max stats.
          // The tasks stay partition-spread, so cell-writer creation
          // keeps its parallelism (the 17 s single-task lesson).
          df.repartition(
            spark.conf.get("spark.sql.shuffle.partitions").toInt,
            partitionCols.map(col): _*)
            .sortWithinPartitions(
              (partitionCols ++ withinFileSortCols).map(col): _*)
            .write.partitionBy(partitionCols: _*)
        else df.repartition(numShards).write
      writer.mode(SaveMode.Overwrite).parquet(tmp)
    }

  /** The artifact swap itself: `write` fills the tmp dir it is given,
    * the `sidecars` and the fingerprint are written next to its data,
    * and only then is the tmp dir renamed live — a failure anywhere
    * before leaves the previous artifact untouched.
    */
  private[etl] def swapArtifact(name: String, fingerprint: String,
                                sidecars: Map[String, String])(write: String => Unit): Unit =
    swapIn(name) { tmp =>
      write(tmp.toString)
      writeSidecars(tmp, sidecars + (MetaFile -> fingerprint))
    }

  /** Write small UTF-8 sidecar files into `d`, each overwritten whole.
    * Names must be underscore-prefixed, so parquet scans skip them.
    */
  private def writeSidecars(d: Path, files: Map[String, String]): Unit =
    files.foreach { case (file, content) =>
      require(file.startsWith("_"),
        s"sidecar must be underscore-prefixed (hidden from scans): $file")
      val out = fs.create(new Path(d, file), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** A small file's UTF-8 contents, None when it does not exist. */
  private def readSmallFile(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Partition-granular incremental maintenance of a hive-PARTITIONED
    * artifact: rewrite ONLY the partitions present in `df`, drop those
    * of `dropEmptiedOf` that `df` leaves empty, and leave every other
    * partition's files physically untouched. This is the commit step of
    * [[upsertKeyed]], where the keyed upsert of the document, geo and
    * vector indexes lives; at 100 TB a moved point costs its source and
    * target CELL rewrites, never a corpus rebuild.
    *
    * Failure contract ([[SegmentedArtifact.append]]'s bracket, made
    * partition-granular): partition swaps commit PER PARTITION, so a
    * crash mid-commit can leave a subset of touched partitions
    * updated. The provenance fingerprint is therefore cleared BEFORE
    * any data moves and restamped only after the last partition
    * commits + empties drop — a crashed upsert leaves a fingerprint
    * mismatch that forces readers to REBUILD rather than serve a
    * half-applied batch — and the restamp is [[stampArtifact]], so a
    * batch whose maintenance lease was lost mid-commit is refused
    * certification too. `df` is staged to a sibling directory first
    * (ONE materialization of the touched partitions, hive-partitioned
    * and key-sorted in the same write), so its lineage may freely
    * READ the artifact being rewritten; the commit itself is pure
    * driver-side directory renames — zero Spark jobs — which on the
    * streaming micro-batch path halves the per-trigger fixed cost the
    * old stage-then-rewrite shape paid (an unpartitioned stage write,
    * a second full write under dynamic partitionOverwriteMode, and an
    * emptied-detection scan of the staged data).
    *
    * Partition VALUES are assumed hive-clean (no characters hive
    * escapes in directory names): every caller partitions by dates,
    * integer cells, or stringified numerics, and the byte-identity
    * contract between values and directory names is already load-
    * bearing in [[upsertKeyed]]'s probe and the drop path.
    */
  def overwritePartitions(df: DataFrame, name: String, partitionCol: String,
                          fingerprint: String,
                          withinFileSortCols: Seq[String] = Nil,
                          dropEmptiedOf: Set[String] = Set.empty): Unit = {
    val d = dir(name)
    require(fs.exists(d), s"overwritePartitions: no artifact $name")
    clearArtifactFingerprint(name)
    // `.tmp_` prefix: hidden from listIndexes/catalog scans, and a
    // crash mid-upsert leaves a dir the age-guarded recoverOrphans GC
    // sweep already collects (a bare-named stage dir would masquerade
    // as an index forever). Unique suffix keeps concurrent upserts on
    // one root from clobbering each other's stage.
    val stage = new Path(root, s".tmp_${name.toLowerCase}_stage_" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      phase("stage") {
        // Rewritten cells keep the build's within-file KEY sort (see
        // writeArtifact's withinFileSortCols) so maintenance never
        // degrades the row-group-pruning layout the probes rely on.
        // Shuffle-partition sizing: hash-repartitioning BY VALUE puts
        // one partition value in one task no matter the count, so any
        // task beyond the touched-partition count (dropEmptiedOf,
        // when the caller supplies it) is guaranteed EMPTY — sizing
        // to the touched count drops ~30 empty-task launches per
        // micro-batch commit without changing per-value parallelism
        // at any scale.
        val nShuffle = {
          val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
          if (dropEmptiedOf.nonEmpty) math.min(conf, dropEmptiedOf.size)
          else conf
        }
        val sorted =
          if (withinFileSortCols.isEmpty) df
          else df.repartition(nShuffle, col(partitionCol))
            .sortWithinPartitions((partitionCol +: withinFileSortCols).map(col): _*)
        sorted.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
          .parquet(stage.toString)
      }
      phase("commit") {
        // The staged directory names ARE the touched-partition values
        // that kept rows (a touched partition that kept none never
        // materializes a dir) — emptied detection is a driver listing,
        // not a Spark job, and the swap is per-partition renames.
        val stagedParts = fs.listStatus(stage)
          .filter(e => e.isDirectory &&
            e.getPath.getName.startsWith(s"$partitionCol="))
          .map(_.getPath.getName.stripPrefix(s"$partitionCol=")).toSet
        // Hadoop rename/delete report failure by returning FALSE —
        // unchecked, a failed swap would leave a partition's STALE rows
        // served under a fingerprint stamped valid below. Fail loudly
        // instead (the fingerprint stays cleared, forcing a rebuild),
        // mirroring swapIn's rename discipline.
        stagedParts.foreach { v =>
          val live = new Path(d, s"$partitionCol=$v")
          if (fs.exists(live) && !fs.delete(live, true))
            throw new java.io.IOException(
              s"overwritePartitions: failed to clear partition $live")
          if (!fs.rename(new Path(stage, s"$partitionCol=$v"), live))
            throw new java.io.IOException(
              s"overwritePartitions: failed to commit partition $live")
        }
        (dropEmptiedOf -- stagedParts).toSeq.sorted.foreach { v =>
          val p = new Path(d, s"$partitionCol=$v")
          if (!fs.delete(p, true) && fs.exists(p))
            throw new java.io.IOException(
              s"overwritePartitions: failed to drop emptied partition $p")
        }
      }
    } finally fs.delete(stage, true)
    stampArtifact(name, fingerprint)
  }

  /** Clear an artifact's provenance fingerprint — the FIRST step of a
    * multi-write maintenance bracket ([[SegmentedArtifact.append]]):
    * with the fingerprint gone, a crash anywhere
    * before [[stampArtifact]] leaves a mismatch that forces readers to
    * REBUILD rather than serve a half-applied batch.
    */
  def clearArtifactFingerprint(name: String): Unit =
    fs.delete(new Path(dir(name), MetaFile), false)

  /** Single-writer maintenance lock — the Lucene `write.lock` model,
    * upgraded to a renewed LEASE. Every partition-granular maintenance
    * path (segment append, cell overwrite, compaction) is a
    * read-modify-write of SHARED artifact state (segment generation
    * numbers, the stats sidecar, the fingerprint bracket): two
    * interleaved writers would race the generation listing (same seg
    * id), lose one writer's sidecar delta, or stamp a fingerprint over
    * the other's half-applied batch. One writer per artifact is
    * therefore the CONTRACT, and contention fails LOUDLY here rather
    * than corrupting silently — the caller routes batches through one
    * maintainer (the streaming foreachBatch loop is naturally serial)
    * or retries after the holder finishes.
    *
    * Lease mechanics. Acquisition is an atomic create-if-absent
    * (`O_CREAT|O_EXCL` on local paths, create-no-overwrite — atomic on
    * HDFS — elsewhere) that writes a per-acquisition OWNER TOKEN into
    * the file. While the body runs, a daemon heartbeat touches the
    * lock mtime every `heartbeatMs` — so [[recoverOrphans]]'s age
    * guard collects only EXPIRED leases (no heartbeat for an hour =
    * dead holder), never a live long-running batch: a full postings
    * compaction at 100 TB holds this lock for hours, and a fixed-age
    * GC would have stolen it from under the compactor. At release the
    * token is re-verified before the delete: if some other writer
    * replaced the lock mid-batch (possible only under a misconfigured
    * shorter-than-heartbeat age guard, or a manual break-lock), the
    * holder fails LOUDLY instead of deleting the thief's lock and
    * letting the corruption pass silently.
    *
    * Filesystem contract: supported on local POSIX and HDFS, where
    * create-no-overwrite is atomic. On object stores (s3a/gs/abfs…)
    * that call is a client-side check-then-write — two racers can both
    * "acquire" — so construction REFUSES those schemes rather than
    * silently voiding the single-writer contract; an object-store
    * deployment needs a conditional-put (etag/If-None-Match) lock,
    * which these stores' own committers also require.
    */
  private[graft] def withMaintenanceLock[T](
      name: String,
      heartbeatMs: Long = IndexStore.LockHeartbeatMs)(body: => T): T = {
    val lock = new Path(root, s".lock_${name.toLowerCase}")
    val scheme = lock.toUri.getScheme
    IndexStore.requireLockableScheme(scheme)
    val token = java.util.UUID.randomUUID().toString
    val tokenBytes = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val acquired = scheme match {
      case null | "file" =>
        val f = new java.io.File(lock.toUri.getPath)
        f.getParentFile.mkdirs()
        // POSIX O_CREAT|O_EXCL — atomic. The token lands in a second
        // step; a racer can't get between them (it already lost the
        // create), and a reader seeing a momentarily-empty lock still
        // sees the lock.
        f.createNewFile() && {
          java.nio.file.Files.write(f.toPath, tokenBytes); true
        }
      case _ =>
        try {
          val out = fs.create(lock, false) // create-no-overwrite: atomic on HDFS
          try out.write(tokenBytes) finally out.close()
          true
        }
        catch { case _: java.io.IOException => false }
    }
    if (!acquired)
      throw new java.util.ConcurrentModificationException(
        s"maintenance lock for '$name' is held ($lock): one writer per " +
          "artifact — route batches through a single maintainer or retry " +
          "after the holder finishes; a dead writer's lease expires (no " +
          "heartbeat for an hour) and is GC'd on store construction")
    IndexStore.heldLeases.put((root, name.toLowerCase), token)
    def readToken(): Option[String] = readLockToken(lock)
    // Lease renewal: touch the lock mtime on a daemon heartbeat so the
    // age GC can tell a live long batch from a dead holder. Touch
    // failures are swallowed (a transient FS hiccup must not kill the
    // batch); if EVERY touch fails for an hour the lease genuinely
    // expires and the release-time token check below still catches a
    // resulting steal loudly.
    val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-lock-heartbeat-$name")
        t.setDaemon(true)
        t
      })
    hb.scheduleAtFixedRate(
      () => try fs.setTimes(lock, System.currentTimeMillis(), -1)
            catch { case _: Throwable => () },
      heartbeatMs, heartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    var bodyFailed = false
    try body
    catch { case t: Throwable => bodyFailed = true; throw t }
    finally {
      hb.shutdownNow()
      IndexStore.heldLeases.remove((root, name.toLowerCase), token)
      if (readToken().contains(token)) fs.delete(lock, false)
      else if (!bodyFailed)
        // Do NOT delete: the file now belongs to whoever took it.
        throw new java.util.ConcurrentModificationException(
          s"maintenance lock for '$name' was stolen mid-batch ($lock): " +
            "this batch's writes may interleave with the thief's — the " +
            "artifact fingerprint bracket forces readers to rebuild; " +
            "check for a second maintainer or a broken age guard")
    }
  }

  /** Contents of a maintenance lock file (the owner token), None when
    * unreadable/absent.
    */
  private def readLockToken(lock: Path): Option[String] =
    try readSmallFile(lock) catch { case _: java.io.IOException => None }

  /** Re-stamp fingerprint + sidecars — the LAST step of a maintenance
    * bracket opened by [[clearArtifactFingerprint]].
    */
  def stampArtifact(name: String, fingerprint: String,
                    sidecars: Map[String, String] = Map.empty): Unit = {
    // Lease-loss guard (round-8 advice: "re-verify lock ownership
    // before the final stampArtifact"): the stamp is what makes a
    // maintenance bracket LOOK valid to readers — if this store's
    // lease was lost mid-batch (pathological: a paused holder outliving
    // the hour guard despite the heartbeat, or a manual break-lock),
    // refuse to certify a possibly-interleaved batch. The fingerprint
    // stays cleared, so readers rebuild — the safe outcome. Only
    // brackets opened by withMaintenanceLock in THIS JVM are checked;
    // bootstrap writes (writeArtifact's swap) stamp outside any lease.
    IndexStore.heldLeases.get((root, name.toLowerCase)) match {
      case null => ()
      case token =>
        val lock = new Path(root, s".lock_${name.toLowerCase}")
        if (!readLockToken(lock).contains(token))
          throw new java.util.ConcurrentModificationException(
            s"refusing to stamp '$name': this writer's maintenance lease " +
              s"was lost mid-batch ($lock no longer carries our token) — " +
              "the batch may have interleaved with another writer; the " +
              "cleared fingerprint forces readers to rebuild")
    }
    writeSidecars(dir(name), sidecars + (MetaFile -> fingerprint))
  }

  /** Absolute path of an artifact/index directory — for maintenance
    * structures that live INSIDE it under underscore-hidden names
    * (e.g. the postings' `_doclen` table), which plain [[read]] scans
    * never see.
    */
  def artifactPath(name: String): String = dir(name).toString

  /** A sidecar metadata file of an artifact, if present. */
  def artifactSidecar(name: String, file: String): Option[String] =
    readSmallFile(new Path(dir(name), file))

  /** The fingerprint an artifact was built from, if it exists. */
  def artifactFingerprint(name: String): Option[String] =
    artifactSidecar(name, MetaFile)

  /** Read an artifact, (re)building it first when absent or stale. */
  def readOrBuildArtifact(name: String, fingerprint: String)
                         (build: => DataFrame): DataFrame = {
    if (!artifactFingerprint(name).contains(fingerprint))
      writeArtifact(build, name, fingerprint)
    read(name)
  }

}

object IndexStore {

  /** Lease-renewal period for [[IndexStore.withMaintenanceLock]]: the
    * holder touches the lock mtime this often, so the hour age guard
    * in `recoverOrphans` has 12 missed heartbeats of slack before a
    * live holder's lease could expire — generous against GC pauses
    * and FS hiccups while still collecting a crashed writer within
    * the hour.
    */
  private[graft] val LockHeartbeatMs: Long = 5 * 60 * 1000L

  /** Driver push cap of the keyed probes ([[IndexStore.upsertKeyed]],
    * `upsertPostings`): a batch of at most this many rows collects its
    * keys to the driver and pushes them into scans as In filters; a
    * larger one stays distributed. [[SegmentedArtifact.resolved]] reads
    * its kill set on the driver up to the same size. Sized above the
    * ~20k-row triggers of the `_stream_latency` events drain.
    */
  private[graft] val MaxInPush = 50000

  /** The range-sorted layout of every [[SegmentedArtifact]] segment:
    * `df` as `numShards` partitions that tile the `sortCols` key space
    * (placed by a range-partition sample), each sorted, so min/max
    * row-group stats skip everything outside a key filter's range. One
    * shard is one sorted partition, with no sample.
    */
  private[graft] def rangeSorted(df: DataFrame, numShards: Int,
                                 sortCols: Seq[String]): DataFrame =
    (if (numShards == 1) df.coalesce(1)
     else df.repartitionByRange(numShards, sortCols.map(col): _*))
      .sortWithinPartitions(sortCols.map(col): _*)

  /** Live maintenance leases held by THIS JVM: (artifact root, name) →
    * owner token. [[IndexStore.stampArtifact]] consults it to refuse
    * certifying a bracket whose lease was lost mid-batch.
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** URI schemes where create-no-overwrite is a client-side
    * check-then-write rather than an atomic operation — maintenance
    * locking refuses these (see [[IndexStore.withMaintenanceLock]]).
    */
  private[graft] val NonAtomicCreateSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** Fail fast when the artifact root's scheme can't honor the
    * single-writer contract ([[NonAtomicCreateSchemes]]).
    */
  private[graft] def requireLockableScheme(scheme: String): Unit =
    require(!NonAtomicCreateSchemes.contains(scheme),
      s"maintenance locking is not supported on '$scheme': create-no-" +
        "overwrite is a non-atomic client-side check on object stores, so " +
        "two writers could both acquire — use HDFS/local for artifact " +
        "roots, or front maintenance with an external conditional-put lock")

  /** Filesystem-metadata fingerprint of an input path: (path, length,
    * mtime) of every data file under it — a snapshot/version id read
    * from directory metadata, never a data scan (the staleness check
    * must stay O(files), or checking would cost what it saves).
    */
  def pathFingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    val sig = leaves(fs.getFileStatus(p))
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Artifact warehouse root for a corpus dir. Local tmp here (the
    * fixture world is a local FS); on a cluster this is an HDFS/S3
    * prefix next to the corpus — everything above is FileSystem-API
    * portable.
    */
  def artifactRoot(corpusDir: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_artifacts_$tag").toString
  }
}
