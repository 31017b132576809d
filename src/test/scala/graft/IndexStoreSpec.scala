package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end index lifecycle: the reference's CLI flow (§3.1 —
  * create → bulk import → count) against a temp warehouse, plus the
  * invariants its logs checked manually: imported count == source
  * distinct-key count, and re-import idempotence.
  */
class IndexStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def newStoreWithRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft_idx").toString
    (new etl.IndexStore(spark, root), root)
  }

  private def newStore = newStoreWithRoot._1

  test("create / list / delete with system-index filtering") {
    val store = newStore
    store.createIndex("Orders") // lowercased like the reference
    store.createIndex(".kibana") // system index — hidden from listing
    assert(store.listIndexes() == Seq("orders"))
    store.deleteIndex("orders")
    assert(store.listIndexes() == Seq.empty)
  }

  test("bulk import: count == distinct keys, all values stringified") {
    val store = newStore
    val orders = Tables(spark, sf, "orders")
    val n = store.bulkImport(orders, "ORDERS", "o_orderkey")
    assert(n == orders.select("o_orderkey").distinct().count())
    assert(store.read("orders").schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("incremental upsert: new ids append, existing ids overwrite") {
    import spark.implicits._
    val store = newStore
    val orders = Tables(spark, sf, "orders")
    val n0 = store.bulkImport(orders, "orders", "o_orderkey")

    // One existing id with changed payload + one brand-new id.
    val existingKey = orders.select("o_orderkey").orderBy("o_orderkey")
      .first().getLong(0)
    val batch = Seq(
      (existingKey, 999L, "Z", 1.23, new java.sql.Timestamp(0), "9-UPSERTED"),
      (999999999L, 1L, "N", 4.56, new java.sql.Timestamp(0), "1-NEW")
    ).toDF(orders.columns: _*)
    val n1 = store.upsert(batch, "orders", "o_orderkey")

    assert(n1 == n0 + 1, s"expected one net-new doc: $n0 -> $n1")
    val updated = store.read("orders")
      .filter(col("o_orderkey") === existingKey.toString).collect()
    assert(updated.length == 1)
    assert(updated(0).getAs[String]("o_orderpriority") == "9-UPSERTED",
      "incoming generation must win over the existing doc")
    assert(store.read("orders")
      .filter(col("o_orderkey") === "999999999").count() == 1)
  }

  test("upsert widens the schema on new fields (ES dynamic mapping)") {
    // The reference's bulk path sets NO mapping (BulkProcessImpl.java:
    // 66-68) — ES infers fields per document, so continued ingest with
    // new/missing fields must never be rejected. New fields widen the
    // index (old docs read NULL); missing known fields upsert as NULL.
    import spark.implicits._
    val store = newStore
    store.bulkImport(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "docs", "id")
    // Batch with a NEW column and one missing known column.
    store.upsert(Seq((2L, "lang-en"), (3L, "lang-fr")).toDF("id", "extra"),
      "docs", "id")
    val back = store.read("docs")
    assert(back.columns.toSet == Set("id", "v", "extra"))
    val byId = back.collect()
      .map(r => r.getString(back.columns.indexOf("id")) ->
        (r.getString(back.columns.indexOf("v")),
          r.getString(back.columns.indexOf("extra")))).toMap
    assert(byId("1") == (("a", null))) // untouched doc: new field NULL
    assert(byId("2") == ((null, "lang-en"))) // overwritten: v not in batch
    assert(byId("3") == ((null, "lang-fr"))) // new doc
  }

  test("delete-by-query removes matching docs, keeps the rest intact") {
    val store = newStore
    val orders = Tables(spark, sf, "orders")
    val n0 = store.bulkImport(orders, "orders", "o_orderkey")
    val urgent = store.read("orders")
      .filter(col("o_orderpriority") === "1-URGENT").count()
    val deleted = store.deleteWhere("orders", col("o_orderpriority") === "1-URGENT")
    assert(deleted == urgent && deleted > 0)
    assert(store.count("orders") == n0 - urgent)
    assert(store.read("orders")
      .filter(col("o_orderpriority") === "1-URGENT").count() == 0)
  }

  test("compaction merges to the requested file count, data unchanged") {
    val store = newStore
    store.bulkImport(Tables(spark, sf, "orders"), "orders", "o_orderkey",
      numShards = 16)
    val before = store.read("orders").orderBy(col("o_orderkey")).collect()
    val files = store.compact("orders", 2)
    assert(files == 2, s"expected 2 files, got $files")
    val after = store.read("orders").orderBy(col("o_orderkey")).collect()
    assert(before.sameElements(after))
  }

  test("searchAll fans out across every index and tags hits") {
    val store = newStore
    store.bulkImport(Tables(spark, sf, "orders"), "orders", "o_orderkey")
    store.bulkImport(Tables(spark, sf, "customer"), "customer", "c_custkey")
    val urgent = store.searchAll("URGENT")
    assert(urgent.count() > 0)
    assert(urgent.select("index_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("orders"),
      "URGENT lives only in orders.o_orderpriority")
    val cust = store.searchAll("Customer#")
    assert(cust.count() > 0)
    assert(cust.select("index_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("customer"))
    assert(store.searchAll("no_such_token_anywhere").count() == 0)
  }

  test("searchAll reaches hive-partitioned indexes") {
    // A bulkImportPartitioned index has only `col=value` dirs at its
    // top level and no top-level part file; it is loaded all the same.
    val store = newStore
    val orders = Tables(spark, sf, "orders")
      .withColumn("o_bucket", col("o_orderkey") % 4)
    store.bulkImportPartitioned(orders, "orders_live", "o_orderkey", "o_bucket")
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(urgent > 0)
    val hits = store.searchAll("1-URGENT")
    assert(hits.count() == urgent)
    assert(hits.select("index_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("orders_live"))
  }

  test("deleteWhere keeps NULL-predicate rows (ES matches-only semantics)") {
    import spark.implicits._
    val store = newStore
    val df = Seq((1L, Option("a")), (2L, None), (3L, Option("b")))
      .toDF("id", "v")
    store.bulkImport(df, "t", "id")
    // Predicate is NULL for id=2: _delete_by_query deletes only MATCHING
    // docs, so the unknown row must survive.
    val deleted = store.deleteWhere("t", col("v") === "a")
    assert(deleted == 1, s"expected 1 deleted, got $deleted")
    assert(store.count("t") == 2)
    assert(store.read("t").filter(col("id") === "2").count() == 1)
  }

  test("updateWhere: matching docs updated in place, NULL-predicate rows untouched, new fields null-filled") {
    import spark.implicits._
    val store = newStore
    val df = Seq((1L, Option("a"), 10L), (2L, None, 20L), (3L, Option("b"), 30L))
      .toDF("id", "v", "n")
    store.bulkImport(df, "t", "id")
    // _update_by_query: assignment applies only to MATCHING docs; the
    // NULL-predicate row (id=2) must pass through byte-identical, and
    // a brand-new field materializes as NULL on non-matching docs.
    val updated = store.updateWhere("t", col("v") === "a",
      Map("n" -> (col("n") + 1L), "flagged" -> lit("yes")))
    assert(updated == 1, s"expected 1 updated, got $updated")
    val out = store.read("t").orderBy(col("id"))
      .select(col("id").cast("long"), col("v"), col("n").cast("long"), col("flagged"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        Option(r.getString(3))))
    assert(out.toSeq == Seq(
      (1L, Some("a"), 11L, Some("yes")),
      (2L, None, 20L, None),
      (3L, Some("b"), 30L, None)), out.toSeq)
  }

  test("snapshot/restore: point-in-time copy survives destructive edits") {
    import spark.implicits._
    val store = newStore
    store.bulkImport((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      "docs", "id")
    val snap = store.snapshot("docs")
    assert(store.listSnapshots("docs") == Seq(snap))
    // Destructive edit after the snapshot...
    store.deleteWhere("docs", col("id").cast("long") <= 50)
    assert(store.count("docs") == 50)
    // ...restore brings the full point-in-time state back, and the
    // snapshot itself stays hidden from the catalog.
    store.restore("docs", snap)
    assert(store.count("docs") == 100)
    assert(store.listIndexes() == Seq("docs"))
    // Second snapshot gets a distinct id; both restorable.
    val snap2 = store.snapshot("docs")
    assert(store.listSnapshots("docs") == Seq(snap, snap2))
  }

  test("readSnapshot: time-travel query without restoring, live unchanged") {
    import spark.implicits._
    val store = newStore
    store.bulkImport((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"),
      "docs", "id")
    val snap = store.snapshot("docs")
    store.deleteWhere("docs", col("id").cast("long") <= 50)
    // The snapshot still serves the full pre-delete state...
    assert(store.readSnapshot("docs", snap).count() == 100)
    // ...without touching the live index (no implicit restore).
    assert(store.count("docs") == 50)
    val err = intercept[IllegalArgumentException] {
      store.readSnapshot("docs", "s999")
    }
    assert(err.getMessage.contains("no such snapshot"))
  }

  test("rollover: generations advance and the alias re-points at the threshold") {
    import spark.implicits._
    val store = newStore
    store.bulkImport((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      "logs-000001", "id")
    store.setAlias("logs", "logs-000001")
    // Under the threshold: no-op, alias untouched.
    assert(store.rollover("logs", maxDocs = 11) == None)
    assert(store.resolveAlias("logs").contains("logs-000001"))
    // At the threshold: next generation created, alias re-pointed,
    // the old generation keeps its data (reads fan out over both).
    assert(store.rollover("logs", maxDocs = 10) == Some("logs-000002"))
    assert(store.resolveAlias("logs").contains("logs-000002"))
    assert(store.count("logs-000001") == 10)
    assert(store.count("logs-000002") == 0)
    // New writes land in the new generation via the alias.
    store.bulkImport((11L to 15L).map(i => (i, s"v$i")).toDF("id", "v"),
      store.resolveAlias("logs").get, "id")
    assert(store.count("logs-000002") == 5)
    // An unsuffixed bootstrap index still rolls into the ES pattern.
    store.bulkImport((1L to 3L).map(i => (i, s"v$i")).toDF("id", "v"),
      "events", "id")
    store.setAlias("ev", "events")
    assert(store.rollover("ev", maxDocs = 1) == Some("events-000002"))
  }

  test("snapshot retention prunes oldest-first and never re-issues an id") {
    import spark.implicits._
    val store = newStore
    store.bulkImport((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"),
      "docs", "id")
    val s1 = store.snapshot("docs")
    store.deleteWhere("docs", col("id").cast("long") <= 1)
    val s2 = store.snapshot("docs")
    store.deleteWhere("docs", col("id").cast("long") <= 2)
    val s3 = store.snapshot("docs")
    assert(store.listSnapshots("docs") == Seq(s1, s2, s3))
    // keep=2 deletes exactly the oldest.
    assert(store.pruneSnapshots("docs", keep = 2) == Seq(s1))
    assert(store.listSnapshots("docs") == Seq(s2, s3))
    // The id sequence advances past pruned ids (max+1, not count+1):
    // a re-issued old id would sort BEFORE the survivors and corrupt
    // the oldest-first order retention depends on.
    val s4 = store.snapshot("docs")
    assert(s4 == "s4", s"expected s4, got $s4")
    assert(store.listSnapshots("docs") == Seq(s2, s3, s4))
    // Survivors still restore.
    store.restore("docs", s2)
    assert(store.count("docs") == 4)
  }

  test("listSnapshots on a fresh store (root dir absent) is empty, not an error") {
    // Nothing imported yet → the store root doesn't exist on disk; the
    // legacy-layout migration sweep must not listStatus a missing root.
    val root = java.nio.file.Files.createTempDirectory("graft_idx").toString + "/never_written"
    val store = new etl.IndexStore(spark, root)
    assert(store.listSnapshots("docs").isEmpty)
    intercept[IllegalArgumentException](store.restore("docs", "s1"))
  }

  test("snapshot namespace: underscore-overlapping index names don't collide") {
    import spark.implicits._
    val store = newStore
    // "docs" is a proper prefix of "docs_v1" — a flat .snap_<index>_<id>
    // encoding would let docs_v1's snapshots leak into docs' listing
    // (and a restore would silently pull another index's data).
    store.bulkImport(Seq((1L, "base")).toDF("id", "v"), "docs", "id")
    store.bulkImport((1L to 9L).map(i => (i, "v1")).toDF("id", "v"),
      "docs_v1", "id")
    val sV1 = store.snapshot("docs_v1")
    assert(store.listSnapshots("docs").isEmpty,
      "docs_v1's snapshot must not appear under docs")
    val sDocs = store.snapshot("docs")
    assert(store.listSnapshots("docs") == Seq(sDocs))
    assert(store.listSnapshots("docs_v1") == Seq(sV1))
    // Cross-restore must be rejected, and the right restore still works.
    intercept[IllegalArgumentException](store.restore("docs", "nope"))
    store.deleteWhere("docs", col("id").cast("long") === 1)
    store.restore("docs", sDocs)
    assert(store.count("docs") == 1)
    assert(store.count("docs_v1") == 9)
  }

  test("legacy flat-layout snapshots migrate on read instead of leaking") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    store.bulkImport((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      "docs_v1", "id")
    // Simulate a store written before the .snap/<index>/<id> layout:
    // a full copy under the old flat .snap_docs_v1_s1 root entry.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(root, "docs_v1"),
      fs, new org.apache.hadoop.fs.Path(root, ".snap_docs_v1_s1"),
      false, true, spark.sparkContext.hadoopConfiguration)
    // An underscore-ambiguous name is NOT claimed by the wrong index
    // (checked while the flat dir still exists): for index "docs" the
    // tail "v1_s1" fails the _s<digits> anchor, so nothing migrates.
    assert(store.listSnapshots("docs").isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, ".snap_docs_v1_s1")))
    // The owning index's listing surfaces it (migrated into the new
    // layout), the next id doesn't collide, and the legacy snapshot
    // restores.
    assert(store.listSnapshots("docs_v1") == Seq("s1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, ".snap_docs_v1_s1")))
    val s2 = store.snapshot("docs_v1")
    assert(s2 == "s2")
    store.deleteWhere("docs_v1", col("id").cast("long") > 1)
    store.restore("docs_v1", "s1")
    assert(store.count("docs_v1") == 20)
  }

  test("alias swap leaves no window and orphaned aliastmp files are GC'd") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    store.bulkImport(Seq((1L, "a")).toDF("id", "v"), "v1", "id")
    store.bulkImport(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "v2", "id")
    store.setAlias("live", "v1")
    store.setAlias("live", "v2") // atomic rename-over an EXISTING alias file
    assert(store.resolveAlias("live").contains("v2"))
    // A crash between write-aside and rename leaves only a .aliastmp_
    // orphan; recoverOrphans collects it without touching the live alias.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, ".aliastmp_live_deadbeef")
    val out = fs.create(orphan, true)
    try out.write("v1".getBytes) finally out.close()
    store.recoverOrphans(maxAgeMs = -1L)
    assert(!fs.exists(orphan), "orphaned aliastmp must be GC'd")
    assert(store.resolveAlias("live").contains("v2"), "live alias untouched")
  }

  test("aliases: atomic re-point (the blue/green serving pattern)") {
    import spark.implicits._
    val store = newStore
    store.bulkImport(Seq((1L, "old")).toDF("id", "v"), "docs_v1", "id")
    store.bulkImport(Seq((1L, "new"), (2L, "new")).toDF("id", "v"), "docs_v2", "id")
    store.setAlias("live", "docs_v1")
    assert(store.resolveAlias("live").contains("docs_v1"))
    assert(store.readByName("live").count() == 1)
    // Atomic re-point: readers switch from v1 to v2 in one rename.
    store.setAlias("live", "docs_v2")
    assert(store.readByName("live").count() == 2)
    // Aliases are serving metadata, not catalog entries.
    assert(store.listIndexes() == Seq("docs_v1", "docs_v2"))
    // Concrete names still resolve through readByName.
    assert(store.readByName("docs_v1").count() == 1)
    store.dropAlias("live")
    assert(store.resolveAlias("live").isEmpty)
  }

  test("copy-on-write swap leaves no tmp/backup residue at the root") {
    val (store, root) = newStoreWithRoot
    val orders = Tables(spark, sf, "orders")
    store.bulkImport(orders, "orders", "o_orderkey")
    store.upsert(orders.limit(5), "orders", "o_orderkey")
    store.deleteWhere("orders", col("o_orderpriority") === "1-URGENT")
    store.compact("orders", 2)
    val leftover = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("."))
    assert(leftover.isEmpty, s"dot-dir residue after swaps: ${leftover.toSeq}")
    assert(store.listIndexes() == Seq("orders"))
  }

  test("overwritePartitions: stage dir is hidden from listings and a crashed stage is GC'd") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    val df = Seq((1L, "a", "p0"), (2L, "b", "p1")).toDF("id", "v", "part")
    store.writeArtifact(df, "arti", "fp1", partitionCols = Seq("part"))
    store.overwritePartitions(
      Seq((3L, "c", "p1")).toDF("id", "v", "part"), "arti", "part", "fp2")
    // No stage residue survives a successful upsert.
    val leftover = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains("stage"))
    assert(leftover.isEmpty, s"stage residue: ${leftover.toSeq}")
    // A crash mid-upsert leaves the dot-prefixed stage dir: the
    // catalog must NOT list it as an index and the age-guard GC must
    // collect it (a bare-named dir would satisfy neither).
    val orphan = new java.io.File(root, ".tmp_arti_stage_deadbeef")
    assert(orphan.mkdir())
    assert(!store.listIndexes().exists(_.contains("stage")))
    store.recoverOrphans(maxAgeMs = -1L)
    assert(!orphan.exists(), "GC must collect an orphaned stage dir")
  }

  test("overwritePartitions: duplicate-key rows in one call are the caller's contract") {
    // IndexStore.overwritePartitions is partition-replacement, not
    // key-merge — the keyed upsert paths (upsertVecIndex /
    // upsertGeoPoints) dedup by key BEFORE calling it. This pins the
    // lower-level contract so the dedup lives exactly one layer up.
    import spark.implicits._
    val (store, _) = newStoreWithRoot
    store.writeArtifact(Seq((1L, "a", "p0")).toDF("id", "v", "part"),
      "arti2", "fp1", partitionCols = Seq("part"))
    store.overwritePartitions(
      Seq((7L, "x", "p0"), (7L, "y", "p0")).toDF("id", "v", "part"),
      "arti2", "part", "fp2")
    assert(store.read("arti2").filter(col("id") === 7L).count() == 2)
  }

  test("bulkImport's hash-agg survivor == sort-window survivor") {
    import org.apache.spark.sql.expressions.Window
    // bulkImport dedups via max_by(struct) hash agg (map-side combine);
    // the reference semantics is the all-desc sort window. They must
    // pick bit-identical survivors (struct comparison == lexicographic
    // column order).
    val store = newStore
    val li = Tables(spark, sf, "lineitem")
    store.bulkImport(li, "li", "l_orderkey")
    val stringified = etl.Stringify.all(li)
    val dataCols = stringified.columns.filterNot(_ == "l_orderkey")
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(dataCols.map(c => col(c).desc): _*)
    val windowForm = stringified
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select(stringified.columns.map(col): _*)
    val stored = store.read("li").select(stringified.columns.map(col): _*)
    assert(stored.exceptAll(windowForm).isEmpty &&
      windowForm.exceptAll(stored).isEmpty,
      "agg-based and window-based survivors must be identical")
  }

  test("re-import is idempotent (last-write-wins on the id)") {
    val store = newStore
    val orders = Tables(spark, sf, "orders")
    val n1 = store.bulkImport(orders, "orders", "o_orderkey")
    // Re-import the same table unioned with itself: duplicate ids must
    // collapse to the same count, like ES _id overwrite.
    val n2 = store.bulkImport(orders.unionAll(orders), "orders", "o_orderkey")
    assert(n1 == n2)
    val a = store.read("orders").orderBy(col("o_orderkey")).collect()
    store.bulkImport(orders, "orders", "o_orderkey")
    val b = store.read("orders").orderBy(col("o_orderkey")).collect()
    assert(a.sameElements(b), "same input must produce identical surviving docs")
  }

  test("reindex: transform applied, destination replaced, source untouched") {
    val store = newStore
    val orders = Tables(spark, sf, "orders")
    store.bulkImport(orders, "orders", "o_orderkey")
    val srcBefore = store.read("orders").orderBy(col("o_orderkey")).collect()
    // Transform = the painless-script role: filter + derived field.
    val n = store.reindex("orders", "orders_open", "o_orderkey",
      df => df.filter(col("o_orderstatus") === "O")
        .withColumn("priority_class", substring(col("o_orderpriority"), 1, 1)))
    val expected = orders.filter(col("o_orderstatus") === "O").count()
    assert(n == expected, "reindex must carry exactly the transformed rows")
    assert(store.count("orders_open") == expected)
    assert(store.read("orders_open").columns.contains("priority_class"))
    // Re-running replaces (not appends) — same ES _reindex-into-existing
    // semantics as any bulkImport rewrite.
    assert(store.reindex("orders", "orders_open", "o_orderkey",
      df => df.filter(col("o_orderstatus") === "O")) == expected)
    // The source is untouched by the copy.
    assert(store.read("orders").orderBy(col("o_orderkey")).collect()
      .sameElements(srcBefore))
    // Self-reindex is refused (it would read-and-overwrite the same dir).
    intercept[IllegalArgumentException] {
      store.reindex("orders", "Orders", "o_orderkey")
    }
  }

  test("bulkImportAll: concurrent imports match serial counts and survive listing") {
    val (store, _) = newStoreWithRoot
    val tables = Seq(
      ("region", "r_regionkey"), ("nation", "n_nationkey"),
      ("customer", "c_custkey"), ("supplier", "s_suppkey"))
    val counts = store.bulkImportAll(
      tables.map { case (t, k) => (t, Tables(spark, sf, t), k) },
      parallelism = 4)
    assert(store.listIndexes() == tables.map(_._1).sorted)
    tables.foreach { case (t, k) =>
      val expect = Tables(spark, sf, t).select(k).distinct().count()
      assert(counts(t) == expect, s"$t: concurrent import count")
      assert(store.count(t) == expect, s"$t: stored count")
    }
  }

  test("artifact: built once per fingerprint, rebuilt on staleness, typed") {
    import spark.implicits._
    val store = newStore
    var builds = 0
    def build(v: Int) = { builds += 1; Seq((1L, v)).toDF("id", "v") }
    // First read builds; a fresh fingerprint re-reads WITHOUT building.
    val r1 = store.readOrBuildArtifact("pairs", "fp_v1")(build(1))
    assert(r1.as[(Long, Int)].collect().toSeq == Seq((1L, 1)))
    store.readOrBuildArtifact("pairs", "fp_v1")(build(99))
    assert(builds == 1, "fresh artifact must be served from disk")
    // Types survive the round-trip (artifacts are NOT stringified).
    assert(r1.schema("v").dataType.typeName == "integer")
    // A changed fingerprint (new ingest) forces a rebuild.
    val r2 = store.readOrBuildArtifact("pairs", "fp_v2")(build(2))
    assert(builds == 2 && r2.as[(Long, Int)].collect().toSeq == Seq((1L, 2)))
    assert(store.artifactFingerprint("pairs").contains("fp_v2"))
  }

  test("crash recovery: an interrupted swap's backup is restored on construction") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    store.bulkImport(Seq((1L, "a")).toDF("id", "v"), "idx", "id")
    // Simulate dying between rename-aside and rename-in: live dir gone,
    // data only under the hidden backup name.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "idx"),
      new org.apache.hadoop.fs.Path(root, ".old_idx_deadbeef")))
    assert(store.listIndexes().isEmpty, "mid-crash state: index invisible")
    // A new store on the same root recovers the backup...
    val recovered = new etl.IndexStore(spark, root)
    assert(recovered.listIndexes() == Seq("idx"))
    assert(recovered.count("idx") == 1L)
    // ...and age-expired swap leftovers are collected.
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".tmp_idx_feedf00d"))
    recovered.recoverOrphans(maxAgeMs = -1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, ".tmp_idx_feedf00d")))
    assert(recovered.count("idx") == 1L, "live index untouched by GC")
  }

  test("upsertPartitioned rewrites ONLY touched partitions; moves and drops are clean") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_up_part").toString
    val store = new etl.IndexStore(spark, root)
    def docs(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "part", "payload")
    store.bulkImportPartitioned(
      docs((1, "a", "p1"), (2, "a", "p2"), (3, "b", "p3"), (4, "c", "p4")),
      "pidx", "doc_id", "part")
    assert(store.count("pidx") == 4)
    def partFiles(v: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/pidx/part=$v")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = partFiles("b")
    val cBefore = partFiles("c")
    assert(bBefore.nonEmpty && cBefore.nonEmpty)
    // Update a key in 'a' + add a new key to 'a': b and c files must be
    // PHYSICALLY untouched (same names, same mtimes) — the whole point
    // of the partition-granular path.
    Thread.sleep(1100) // mtime granularity guard
    store.upsertPartitioned(docs((1, "a", "p1v2"), (5, "a", "p5")),
      "pidx", "doc_id", "part")
    assert(store.count("pidx") == 5)
    assert(partFiles("b") == bBefore, "untouched partition b was rewritten")
    assert(partFiles("c") == cBefore, "untouched partition c was rewritten")
    val afterA = store.read("pidx").filter(col("part") === "a")
      .select("doc_id", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(afterA == Map("1" -> "p1v2", "2" -> "p2", "5" -> "p5"))
    // Move key 3 from b to c: no stale copy in b (b emptied -> dir
    // dropped), present in c; a untouched this time.
    val aBefore = partFiles("a")
    Thread.sleep(1100)
    store.upsertPartitioned(docs((3, "c", "p3moved")), "pidx", "doc_id", "part")
    assert(partFiles("a") == aBefore, "untouched partition a was rewritten")
    assert(partFiles("b").isEmpty, "emptied source partition must drop")
    val inC = store.read("pidx").filter(col("part") === "c")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(inC == Set("3", "4"))
    assert(store.count("pidx") == 5)
    // Schema drift is a loud error, not a silent widen.
    val widened = Seq((9L, "a", "x", "extra")).toDF("doc_id", "part", "payload", "new_col")
    intercept[IllegalArgumentException] {
      store.upsertPartitioned(widened, "pidx", "doc_id", "part")
    }
    // Idempotent replay: same batch, same result (task-retry safety).
    store.upsertPartitioned(docs((3, "c", "p3moved")), "pidx", "doc_id", "part")
    assert(store.count("pidx") == 5)
  }

  test("upsertPartitioned: inference-hostile partition values round-trip; NULL fails fast") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_up_infer").toString
    val store = new etl.IndexStore(spark, root)
    def docs(rows: (Long, String, String)*) =
      rows.toSeq.toDF("doc_id", "part", "payload")
    // Zero-padded values: hive type inference reads `part=007` back as
    // int 7, whose cast-to-string "7" never matches the directory name
    // — the drop path would miss the real dir and serve the moved
    // key's STALE copy next to the rewritten one. The explicit-string
    // read must keep directory values byte-identical.
    store.bulkImportPartitioned(
      docs((1, "007", "a"), (2, "010", "b"), (3, "1.10", "c")),
      "zidx", "doc_id", "part")
    assert(new java.io.File(s"$root/zidx/part=007").exists(),
      "directory written under the literal string value")
    // Move key 1 from '007' (emptied -> must drop) to '010'.
    store.upsertPartitioned(docs((1, "010", "a2")), "zidx", "doc_id", "part")
    assert(!new java.io.File(s"$root/zidx/part=007").exists(),
      "emptied zero-padded partition must physically drop")
    // Read back the way the store does (explicit string schema — a
    // plain read would itself re-infer `part` as double here, which is
    // exactly the trap this test pins).
    def readStr() = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        Seq("doc_id", "part", "payload").map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
      .parquet(s"$root/zidx")
    val all = readStr().select("doc_id", "part", "payload")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set(("1", "010", "a2"), ("2", "010", "b"), ("3", "1.10", "c")),
      s"moved key must leave no stale copy: $all")
    // Decimal-looking value '1.10' (inference would read 1.1) survives
    // an in-place update without duplicating.
    store.upsertPartitioned(docs((3, "1.10", "c2")), "zidx", "doc_id", "part")
    assert(readStr().filter(col("doc_id") === "3").count() == 1L)
    // NULL partition value: loud error, not __HIVE_DEFAULT_PARTITION__
    // corruption.
    val withNull = Seq((9L, Option.empty[String], "x"))
      .toDF("doc_id", "part", "payload")
    val e = intercept[IllegalArgumentException] {
      store.upsertPartitioned(withNull, "zidx", "doc_id", "part")
    }
    assert(e.getMessage.contains("NULL part"), e.getMessage)
  }

  test("upsertPartitioned fast path: NULL ids match the anti-join semantics") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_up_null").toString
    val store = new etl.IndexStore(spark, root)
    def docs(rows: (Option[Long], String, String)*) =
      rows.toSeq.toDF("doc_id", "part", "payload")
    // Seed: three keyed rows + one NULL-id row. The bulk path's
    // anti-join KEEPS null-id rows (a null key never join-matches);
    // the capped fast path's In()-filter rewrite must behave
    // identically — under raw three-valued logic it wouldn't (see
    // the nonNullKeys note in upsertPartitioned).
    store.bulkImportPartitioned(
      docs((Some(1L), "a", "p1"), (Some(2L), "a", "p2"),
        (Some(3L), "b", "p3"), (None, "a", "keepme")),
      "nidx", "doc_id", "part")
    assert(store.count("nidx") == 4)
    def rowsIn(part: String): Set[(String, String)] =
      store.read("nidx").filter(col("part") === part)
        .select("doc_id", "payload").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // 1) Null-free batch touching partition 'a': the existing NULL-id
    //    row must survive the rewrite (pre-fix: `NOT id IN ('1')`
    //    evaluates NULL for it and silently drops it).
    store.upsertPartitioned(docs((Some(1L), "a", "p1v2")), "nidx", "doc_id", "part")
    assert(rowsIn("a") == Set(("1", "p1v2"), ("2", "p2"), (null, "keepme")),
      s"existing null-id row must survive a null-free upsert: ${rowsIn("a")}")
    // 2) Batch CONTAINING a null id: pre-fix the null poisons the
    //    whole In-list (`NOT id IN ('2', NULL)` is never TRUE) and the
    //    rewrite drops EVERY pre-existing row in the touched
    //    partitions. Post-fix: keyed rows upsert normally; the batch's
    //    null row appends (a null key replaces nothing — exactly what
    //    the bulk path's anti-join + union produces).
    store.upsertPartitioned(
      docs((None, "a", "nullv2"), (Some(2L), "a", "p2v2")),
      "nidx", "doc_id", "part")
    assert(rowsIn("a") == Set(("1", "p1v2"), ("2", "p2v2"),
      (null, "keepme"), (null, "nullv2")),
      s"null-id batch must not drop unrelated existing rows: ${rowsIn("a")}")
    assert(rowsIn("b") == Set(("3", "p3")), "untouched partition intact")
    assert(store.count("nidx") == 5)
    // 3) ALL-null batch: the non-null In-list is EMPTY — the commit
    //    must still run cleanly (empty isin() folds to false; the
    //    isNull arm keeps existing nulls... which this batch then
    //    appends to, anti-join-style) and must not disturb keyed rows.
    store.upsertPartitioned(docs((None, "b", "onlynull")), "nidx", "doc_id", "part")
    assert(rowsIn("b") == Set(("3", "p3"), (null, "onlynull")),
      s"all-null batch must append without touching keyed rows: ${rowsIn("b")}")
    assert(store.count("nidx") == 6)
  }

  test("upsertPartitioned past the push cap equals a last-write-wins fold") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    // Keys 50..99 sit alone in partition `gone`; the batch moves them
    // all out, so the distributed path must drop that partition.
    store.bulkImportPartitioned((0L until 1000L).map(k =>
        (k, if (k >= 50 && k < 100) "gone" else s"p${k % 4}", s"old$k"))
      .toDF("doc_id", "part", "payload"), "capidx", "doc_id", "part")
    val batchRows = (50L to 50050L).map(k => (k, s"p${(k / 7) % 4}", s"new$k"))
    val batch = batchRows.toDF("doc_id", "part", "payload")
    assert(batch.count() > etl.IndexStore.MaxInPush, "the batch must pass the push cap")
    assert(store.upsertPartitioned(batch, "capidx", "doc_id", "part") == batchRows.size)
    val fold = ((0L until 50L).map(k => (k, s"p${k % 4}", s"old$k")) ++ batchRows)
      .map { case (k, p, v) => (k.toString, p, v) }.toSet
    val got = store.read("capidx").select("doc_id", "part", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.length == fold.size, "one row per key")
    assert(got.toSet == fold)
    assert(!new java.io.File(s"$root/capidx/part=gone").exists(),
      "the emptied partition must drop")
  }

  test("keyed upsert on an integer-partitioned artifact drops a partition it empties") {
    import spark.implicits._
    val (store, root) = newStoreWithRoot
    store.writeArtifact(Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 7)).toDF("id", "v", "p"),
      "intidx", "fp0", partitionCols = Seq("p"), withinFileSortCols = Seq("id"))
    // Key 3 is partition 7's only key: moving it must drop p=7 whole.
    val (upserted, touched) = store.upsertKeyed(
      Seq((3L, "c2", 0)).toDF("id", "v", "p"), "intidx", "id", "p", "fp1")(identity)
    assert((upserted, touched) == ((1L, 2)))
    assert(!new java.io.File(s"$root/intidx/p=7").exists(), "emptied partition must drop")
    val rows = store.read("intidx").select("id", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((1L, "a", 0), (2L, "b", 0), (3L, "c2", 0)), s"stale row left: $rows")
    assert(store.artifactFingerprint("intidx").contains("fp1"))
  }

  test("pathFingerprint tracks file metadata, not path strings only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp")
    val f = tmp.resolve("t.parquet")
    java.nio.file.Files.write(f, "aaaa".getBytes)
    val fp1 = etl.IndexStore.pathFingerprint(spark, f.toString)
    assert(fp1 == etl.IndexStore.pathFingerprint(spark, f.toString),
      "fingerprint must be deterministic")
    java.nio.file.Files.write(f, "bbbbbbbb".getBytes) // ingest rewrites
    assert(fp1 != etl.IndexStore.pathFingerprint(spark, f.toString),
      "rewritten input must change the fingerprint")
  }
}
