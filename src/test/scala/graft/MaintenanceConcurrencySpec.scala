package graft

import java.util.ConcurrentModificationException
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer hardening for served-index maintenance
  * (VERDICT r7 #3): two stores on ONE artifact root performing
  * partition-granular maintenance must either serialize (both batches
  * land) or fail LOUDLY — never interleave into silently-corrupt
  * shared state (duplicate segment generations, a lost stats-sidecar
  * delta, a fingerprint stamped over a half-applied batch). The
  * contract is Lucene's `write.lock`: single writer per artifact,
  * enforced by [[graft.etl.IndexStore.withMaintenanceLock]], with
  * crashed-writer locks collected by the same age guard as swap
  * leftovers.
  */
class MaintenanceConcurrencySpec extends AnyFunSuite {
  import SparkTestSession._

  private val words = Seq("spark", "vector", "join", "table", "fast", "row")
  private def docsDf(from: Long, until: Long) =
    spark.range(from, until).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        element_at(typedlit(words), ((col("id") + i * 7) % 6 + 1).cast("int"))): _*)
        .as("text"),
      lit("en").as("lang"), lit("src0").as("source"), lit(60L).as("n_chars"))

  private def freshPostingsFixture(): (String, etl.IndexStore) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_p").toString
    docsDf(0, 40).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    search.SearchQueries.materializedPostings(spark, dir)
    (dir, new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir)))
  }

  test("a held maintenance lock rejects a second postings writer loudly") {
    val (dir, storeA) = freshPostingsFixture()
    // A SECOND store on the same root — two independent maintainers.
    val storeB = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val inLock = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() =>
      storeA.withMaintenanceLock(search.SearchQueries.PostingsName) {
        inLock.countDown()
        release.await(60, TimeUnit.SECONDS)
        ()
      })
    holder.start()
    assert(inLock.await(30, TimeUnit.SECONDS), "holder never acquired")
    // Writer B must fail fast and loud, artifact untouched.
    val fpBefore = storeB.artifactFingerprint(search.SearchQueries.PostingsName)
    intercept[ConcurrentModificationException] {
      search.SearchQueries.upsertPostings(storeB, docsDf(40, 44))
    }
    assert(storeB.artifactFingerprint(search.SearchQueries.PostingsName) == fpBefore,
      "a rejected writer must not have touched the fingerprint bracket")
    release.countDown()
    holder.join(60000)
    // Lock released -> the same batch lands cleanly.
    search.SearchQueries.upsertPostings(storeB, docsDf(40, 44))
    val resolved = search.SearchQueries.resolvedPostings(storeB)
    assert(resolved.select("doc_id").distinct().count() == 44)
  }

  test("interleaved postings writers: every landed batch is complete, stats consistent") {
    val (dir, _) = freshPostingsFixture()
    val storeA = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val storeB = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def submit(store: etl.IndexStore, from: Long, until: Long) =
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await(30, TimeUnit.SECONDS)
          try { search.SearchQueries.upsertPostings(store, docsDf(from, until)); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    val fa = submit(storeA, 100, 110)
    val fb = submit(storeB, 200, 210)
    start.countDown()
    val (ra, rb) = (fa.get(180, TimeUnit.SECONDS), fb.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    // Any failure must be the loud lock rejection, nothing else.
    Seq(ra, rb).flatten.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException],
        s"unexpected failure class: $e"))
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    // After any outcome the artifact must be servable: fingerprint
    // stamped (no half-applied bracket) and no leftover lock.
    assert(store.artifactFingerprint(search.SearchQueries.PostingsName).isDefined,
      "fingerprint missing after maintenance — half-applied state")
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    assert(!root.listFiles().exists(_.getName.startsWith(".lock_")),
      "maintenance lock leaked")
    // Every batch that reported success is FULLY present; a rejected
    // batch is FULLY absent.
    val resolved = search.SearchQueries.resolvedPostings(store)
    val docIds = resolved.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    def batchIds(from: Long, until: Long) = (from until until).toSet
    Seq((ra, batchIds(100, 110)), (rb, batchIds(200, 210))).foreach {
      case (None, ids) =>
        assert(ids.subsetOf(docIds), s"landed batch partially missing")
      case (Some(_), ids) =>
        assert((ids & docIds).isEmpty, s"rejected batch partially present")
    }
    // No duplicated segment generation: every live doc resolves to
    // exactly ONE segment (a gen collision would serve a doc's rows
    // from two segments at once).
    assert(resolved.select(col("doc_id"), col("seg")).distinct()
      .groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0,
      "a doc resolves from two segments — generation collision")
    // Stats sidecar equals a recompute from the resolved content.
    val Array(n, sumDl) = store.artifactSidecar(
        search.SearchQueries.PostingsName, search.SearchQueries.PostingsStatsSidecar)
      .get.split(' ').map(_.toDouble)
    val perDoc = resolved.select(col("doc_id"), col("n_tokens")).distinct()
    assert(perDoc.count().toDouble == n,
      "stats sidecar doc count diverged from resolved content (lost update)")
    assert(perDoc.agg(sum(col("n_tokens"))).head.getLong(0).toDouble == sumDl,
      "stats sidecar token sum diverged from resolved content (lost update)")
  }

  test("interleaved vec-index writers: one-row-per-key survives, sidecar model intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_v").toString
    def corpus(from: Long, until: Long) =
      spark.range(from, until)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => ((col("id") * 3 + d) % 23).cast("float")).as("embedding"),
          (col("id") % 3).cast("string").as("label"))
    corpus(0, 300).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (_, model0) = llm.SimilarityQueries.materializedVecIndex(spark, dir)
    val storeA = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val storeB = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def submit(store: etl.IndexStore, from: Long, until: Long) =
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await(30, TimeUnit.SECONDS)
          try { llm.SimilarityQueries.upsertVecIndex(store, corpus(from, until), s"b$from"); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    val fa = submit(storeA, 300, 310)
    val fb = submit(storeB, 310, 320)
    start.countDown()
    val (ra, rb) = (fa.get(180, TimeUnit.SECONDS), fb.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    Seq(ra, rb).flatten.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException],
        s"unexpected failure class: $e"))
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    val idx = store.read(llm.SimilarityQueries.VecIndexName)
    // One row per key regardless of outcome; landed batches complete.
    assert(idx.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0)
    val ids = idx.select("vec_id").collect().map(_.getLong(0)).toSet
    Seq((ra, (300L until 310L).toSet), (rb, (310L until 320L).toSet)).foreach {
      case (None, batch) => assert(batch.subsetOf(ids), "landed batch incomplete")
      case (Some(_), batch) => assert((batch & ids).isEmpty, "rejected batch leaked rows")
    }
    // The frozen sidecar model survives byte-for-byte.
    assert(store.artifactSidecar(llm.SimilarityQueries.VecIndexName,
      llm.SimilarityQueries.ModelSidecar).contains(model0.serialize))
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    assert(!root.listFiles().exists(_.getName.startsWith(".lock_")),
      "maintenance lock leaked")
  }

  test("an aged lock under a LIVE renewing holder is not stolen (lease renewal)") {
    // The round-8 verdict hazard: compactPostings holds the lock for
    // hours at 100 TB, so a fixed-age GC on a concurrently-constructed
    // store would collect the LIVE holder's lock and let a second
    // writer acquire. With lease renewal the holder's heartbeat keeps
    // the mtime fresh — age the lock artificially and prove a second
    // store (a) does not GC it and (b) still fails to acquire.
    val (dir, storeA) = freshPostingsFixture()
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    val name = search.SearchQueries.PostingsName
    val inLock = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() =>
      storeA.withMaintenanceLock(name, heartbeatMs = 100L) {
        inLock.countDown()
        release.await(60, TimeUnit.SECONDS)
        ()
      })
    holder.start()
    assert(inLock.await(30, TimeUnit.SECONDS), "holder never acquired")
    val lock = new java.io.File(root, s".lock_${name.toLowerCase}")
    // Age the lease two hours past the guard — pre-renewal this is the
    // exact state recoverOrphans would GC.
    assert(lock.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    // Give the heartbeat time to renew the lease.
    Thread.sleep(500)
    assert(System.currentTimeMillis() - lock.lastModified() < 60 * 1000L,
      "heartbeat did not renew the lease mtime")
    // A second store's construction-time GC must keep the live lease...
    val storeB = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    assert(lock.exists(), "construction GC stole a LIVE renewing holder's lock")
    // ...and a second writer must still be rejected loudly.
    intercept[ConcurrentModificationException] {
      storeB.withMaintenanceLock(name) { fail("second writer acquired a held lock") }
    }
    release.countDown()
    holder.join(60000)
    assert(!lock.exists(), "holder did not release its lock")
  }

  test("a stolen lock fails the original holder loudly at release") {
    val (dir, storeA) = freshPostingsFixture()
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    val name = search.SearchQueries.PostingsName
    val lock = new java.io.File(root, s".lock_${name.toLowerCase}")
    intercept[ConcurrentModificationException] {
      storeA.withMaintenanceLock(name) {
        // Simulate a break-lock + re-acquire by another writer.
        assert(lock.delete())
        java.nio.file.Files.write(lock.toPath, "thief-token".getBytes("UTF-8"))
      }
    }
    // The thief's lock must NOT have been deleted by the losing holder.
    assert(lock.exists() &&
      new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8") == "thief-token",
      "losing holder deleted the thief's lock")
    assert(lock.delete())
  }

  test("interleaved upsertPartitioned writers: batches land whole or fail loudly") {
    val whDir = java.nio.file.Files.createTempDirectory("graft_conc_up").toString
    val storeA = new etl.IndexStore(spark, whDir)
    val storeB = new etl.IndexStore(spark, whDir)
    def rows(from: Long, until: Long) = {
      import SparkTestSession.spark.implicits._
      (from until until).map(i => (i, (i % 3).toString, s"p$i"))
        .toDF("doc_id", "part", "payload")
    }
    storeA.bulkImportPartitioned(rows(0, 30), "pidx", "doc_id", "part")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def submit(store: etl.IndexStore, from: Long, until: Long) =
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await(30, TimeUnit.SECONDS)
          try { store.upsertPartitioned(rows(from, until), "pidx", "doc_id", "part"); None }
          catch { case e: Throwable => Some(e) }
        }
      })
    val fa = submit(storeA, 100, 110)
    val fb = submit(storeB, 200, 210)
    start.countDown()
    val (ra, rb) = (fa.get(180, TimeUnit.SECONDS), fb.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    Seq(ra, rb).flatten.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException],
        s"unexpected failure class: $e"))
    val ids = storeA.read("pidx").select("doc_id")
      .collect().map(_.getString(0).toLong).toSet
    Seq((ra, (100L until 110L).toSet), (rb, (200L until 210L).toSet)).foreach {
      case (None, batch) => assert(batch.subsetOf(ids), "landed batch incomplete")
      case (Some(_), batch) => assert((batch & ids).isEmpty, "rejected batch leaked rows")
    }
    assert((0L until 30L).toSet.subsetOf(ids), "base rows lost")
    assert(!new java.io.File(whDir).listFiles().exists(_.getName.startsWith(".lock_")),
      "maintenance lock leaked")
  }

  test("a lost lease refuses to STAMP the artifact (bracket stays cleared)") {
    // The stamp is what certifies a maintenance bracket to readers —
    // after a mid-batch lease loss it must refuse (round-8 advice:
    // re-verify ownership before the final stampArtifact), leaving the
    // fingerprint cleared so readers rebuild instead of serving a
    // possibly-interleaved batch.
    val (dir, storeA) = freshPostingsFixture()
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    val name = search.SearchQueries.PostingsName
    val lock = new java.io.File(root, s".lock_${name.toLowerCase}")
    var stampRefused = false
    intercept[ConcurrentModificationException] { // release fails loudly too
      storeA.withMaintenanceLock(name) {
        storeA.clearArtifactFingerprint(name)
        assert(lock.delete())
        java.nio.file.Files.write(lock.toPath, "thief-token".getBytes("UTF-8"))
        intercept[ConcurrentModificationException] {
          storeA.stampArtifact(name, "fp-after-steal")
        }
        stampRefused = true
      }
    }
    assert(stampRefused, "stampArtifact did not refuse after the lease was lost")
    assert(storeA.artifactFingerprint(name).isEmpty,
      "fingerprint must stay cleared after a refused stamp")
    assert(lock.delete())
  }

  test("a keyed upsert whose lease is lost mid-batch is not certified") {
    // The keyed upsert's commit brackets the fingerprint like a segment
    // append, so a batch whose lease was stolen mid-commit must be
    // refused the stamp: readers then rebuild instead of serving it.
    val whDir = java.nio.file.Files.createTempDirectory("graft_conc_keyed").toString
    val store = new etl.IndexStore(spark, whDir)
    def rows(from: Long, until: Long) = {
      import SparkTestSession.spark.implicits._
      (from until until).map(i => (i, (i % 3).toString, s"p$i"))
        .toDF("doc_id", "part", "payload")
    }
    store.bulkImportPartitioned(rows(0, 30), "kidx", "doc_id", "part")
    assert(store.artifactFingerprint("kidx").contains("live"))
    val lock = new java.io.File(whDir, ".lock_kidx")
    intercept[ConcurrentModificationException] {
      store.upsertKeyed(etl.Stringify.all(rows(100, 110)), "kidx", "doc_id", "part",
          "live") { batch =>
        // `layout` runs inside the lock: a second writer takes it over.
        java.nio.file.Files.write(lock.toPath, "thief-token".getBytes("UTF-8"))
        batch
      }
    }
    assert(store.artifactFingerprint("kidx").isEmpty,
      "a batch whose lease was lost must leave the fingerprint cleared")
    assert(lock.delete())
  }

  test("maintenance locking refuses object-store schemes (non-atomic create)") {
    intercept[IllegalArgumentException] {
      etl.IndexStore.requireLockableScheme("s3a")
    }
    intercept[IllegalArgumentException] {
      etl.IndexStore.requireLockableScheme("gs")
    }
    // Local (scheme-less) and HDFS paths stay lockable.
    etl.IndexStore.requireLockableScheme(null)
    etl.IndexStore.requireLockableScheme("file")
    etl.IndexStore.requireLockableScheme("hdfs")
  }

  test("a crashed writer's stale lock is GC'd by age; a fresh lock is not") {
    val (dir, store) = freshPostingsFixture()
    val root = new java.io.File(etl.IndexStore.artifactRoot(dir))
    val stale = new java.io.File(root, ".lock_crashed_artifact")
    assert(stale.createNewFile())
    // A fresh store with the default hour guard keeps a young lock.
    new etl.IndexStore(spark, etl.IndexStore.artifactRoot(dir))
    assert(stale.exists(), "age guard must not collect a live-aged lock")
    // With the guard forced past, the stale lock is collected.
    store.recoverOrphans(maxAgeMs = -1L)
    assert(!stale.exists(), "stale lock must be GC'd like swap leftovers")
  }
}
