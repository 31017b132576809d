package graft

import org.scalatest.funsuite.AnyFunSuite

/** The segmented-artifact lifecycle on a toy two-table artifact: a
  * `rows` table at the root (several rows per key, sorted by value) and
  * a `_keys` key table (one row per key per segment). Contract: (1)
  * `resolved` keeps exactly the rows the newest-segment rule keeps,
  * stated as an explicit `seg < t.seg` anti-join, on the driver path
  * and past the push cap; (2) compaction keeps every table's resolved
  * content and folds it to `seg=0`; (3) a build or compaction that
  * fails while writing its second table leaves the live artifact as it
  * was — no fingerprint is ever seen without every table.
  */
class SegmentedArtifactSpec extends AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._
  import etl.SegmentedArtifact.Table

  private val Rows = Table("", StructType(Seq(StructField("k", LongType),
    StructField("v", StringType), StructField("seg", IntegerType))), "v", 2)
  private val Keys = Table("_keys", StructType(Seq(StructField("k", LongType),
    StructField("n", IntegerType), StructField("seg", IntegerType))), "k", 2)
  private val Name = "toy"

  private def fresh(): (etl.IndexStore, etl.SegmentedArtifact) = {
    val store = new etl.IndexStore(spark,
      java.nio.file.Files.createTempDirectory("graft_segmented").toString)
    (store, new etl.SegmentedArtifact(store, Name, Seq(Rows, Keys), Keys, "k", Seq("_toy_meta")))
  }

  /** `rows` of keys `ks`, two per key (values `<tag>a<k>`, `<tag>b<k>`),
    * and their `_keys` rows; a None key is a NULL key.
    */
  private def frames(tag: String, ks: Option[Long]*): Seq[DataFrame] = {
    val rows = ks.flatMap(k => Seq("a", "b").map(x =>
      Row(k.map(Long.box).orNull, s"$tag$x${k.getOrElse("null")}")))
    val keys = ks.map(k => Row(k.map(Long.box).orNull, 2))
    Seq(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Rows.schema.dropRight(1))),
      spark.createDataFrame(java.util.Arrays.asList(keys: _*),
        StructType(Keys.schema.dropRight(1))))
  }

  private def keys(r: Range): Seq[Option[Long]] = r.map(i => Some(i.toLong))

  private def append(store: etl.IndexStore, art: etl.SegmentedArtifact,
                     fs: Seq[DataFrame], oneFile: Boolean = true): Int =
    store.withMaintenanceLock(Name)(art.append(fs, "fp", Map("_toy_meta" -> "m"), oneFile))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])

  /** The rule as a broadcast anti-join over every table's raw rows and
    * the key table's rows of every segment past 0.
    */
  private def antiJoined(store: etl.IndexStore, t: Table): DataFrame = {
    val root = store.artifactPath(Name)
    val rows = if (t.dir.isEmpty) spark.read.schema(t.schema).parquet(root)
      else spark.read.schema(t.schema).option("basePath", s"$root/${t.dir}")
        .parquet(new java.io.File(s"$root/${t.dir}").list().toSeq
          .filter(_.startsWith("seg=")).map(d => s"$root/${t.dir}/$d"): _*)
    val later = new java.io.File(s"$root/_keys").list().toSeq
      .filter(d => d.startsWith("seg=") && d != "seg=0")
    val kill = spark.read.schema(Keys.schema).option("basePath", s"$root/_keys")
      .parquet(later.map(d => s"$root/_keys/$d"): _*)
    rows.join(broadcast(kill), rows("k") === kill("k") && rows("seg") < kill("seg"), "left_anti")
  }

  /** A built artifact with keys 1..10 in seg=0, then seg=1 {3,4,5},
    * seg=2 {4,5,6, NULL} and seg=3 {5}.
    */
  private def maintained(): (etl.IndexStore, etl.SegmentedArtifact) = {
    val (store, art) = fresh()
    art.build(frames("s0", (keys(1 to 10) :+ None): _*), "fp", Map("_toy_meta" -> "m"))
    assert(append(store, art, frames("s1", keys(3 to 5): _*)) == 1)
    assert(append(store, art, frames("s2", (keys(4 to 6) :+ None): _*)) == 2)
    assert(append(store, art, frames("s3", keys(5 to 5): _*), oneFile = false) == 3)
    (store, art)
  }

  test("newest segment wins over 3 later segments; a NULL key kills nothing and survives") {
    val (_, art) = maintained()
    assert(art.segments(Rows) == Seq(0, 1, 2, 3) && art.segments(Keys) == Seq(0, 1, 2, 3))
    def segOf(t: Table, k: Long): Seq[Int] = art.resolved(t).filter(col("k") === k)
      .select("seg").distinct().collect().map(_.getInt(0)).toSeq
    Seq(Rows, Keys).foreach { t =>
      assert(segOf(t, 5) == Seq(3), s"${t.dir}: key 5 must keep only its seg=3 rows")
      assert(segOf(t, 4) == Seq(2), s"${t.dir}: key 4 must keep only its seg=2 rows")
      assert(segOf(t, 3) == Seq(1) && segOf(t, 6) == Seq(2) && segOf(t, 7) == Seq(0))
      assert(art.resolved(t).filter(col("k").isNull).select("seg").collect()
        .map(_.getInt(0)).toSeq.sorted == (if (t == Rows) Seq(0, 0, 2, 2) else Seq(0, 2)),
        s"${t.dir}: the NULL-key rows of seg=0 and seg=2 must all survive")
    }
    assert(art.resolved(Rows).count() == 2 * 12 && art.resolved(Keys).count() == 12)
  }

  test("resolved equals the explicit seg < t.seg anti-join, on the driver and past the cap") {
    val (store, art) = maintained()
    Seq(Rows, Keys).foreach { t =>
      val resolved = art.resolved(t)
      assert(!hasJoin(resolved), s"a small kill set was joined:\n${resolved.queryExecution.optimizedPlan}")
      assert(sortedRows(resolved) == sortedRows(antiJoined(store, t)))
    }
    // A key segment past the push cap takes the broadcast path; its
    // keys are new, so the surviving rows are the same plus its own.
    val big = spark.range(etl.IndexStore.MaxInPush + 1)
      .select((col("id") + 1000000L).as("k"), lit(1).as("n"))
    append(store, art, Seq(spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Rows.schema.dropRight(1))), big))
    Seq(Rows, Keys).foreach { t =>
      val pastCap = art.resolved(t)
      assert(hasJoin(pastCap), "a kill set past the cap must be anti-joined")
      assert(sortedRows(pastCap) == sortedRows(antiJoined(store, t)))
    }
  }

  test("compaction keeps both tables' resolved content in seg=0 and carries the sidecars") {
    val (store, art) = maintained()
    def content(t: Table): Seq[String] = sortedRows(art.resolved(t).drop("seg"))
    val before = Seq(Rows, Keys).map(content)
    art.compact()
    assert(art.segments(Rows) == Seq(0) && art.segments(Keys) == Seq(0))
    assert(Seq(Rows, Keys).map(content) == before, "compaction changed resolved content")
    assert(store.artifactFingerprint(Name).contains("fp"))
    assert(store.artifactSidecar(Name, "_toy_meta").contains("m"))
  }

  /** Every file under the store root (relative path -> bytes). */
  private def snapshot(store: etl.IndexStore): Map[String, Seq[Byte]] = {
    val root = new java.io.File(store.artifactPath(Name)).getParentFile.toPath
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
    finally s.close()
  }

  test("a build or compaction failing in its second table leaves the live artifact as it was") {
    def failing(tag: String): Seq[DataFrame] = {
      val Seq(rows, ks) = frames(tag, keys(1 to 4): _*)
      Seq(rows, ks.withColumn("n",
        when(col("k") === 3, raise_error(lit("boom"))).otherwise(col("n"))))
    }
    // No artifact yet: a failed first build leaves nothing, stamped or not.
    val (store0, art0) = fresh()
    intercept[Exception](art0.build(failing("f"), "fp", Map("_toy_meta" -> "m")))
    assert(store0.artifactFingerprint(Name).isEmpty)
    assert(snapshot(store0).isEmpty, s"a failed build left ${snapshot(store0).keys}")

    val (store, art) = maintained()
    val before = snapshot(store)
    intercept[Exception](art.build(failing("f"), "fp2", Map("_toy_meta" -> "m2")))
    assert(snapshot(store) == before, "a failed rebuild touched the store")
    assert(store.artifactFingerprint(Name).contains("fp"))

    // Compaction's second table fails mid-write: a corrupt key-table
    // file in seg=0, which only the write job reads.
    val seg0 = new java.io.File(s"${store.artifactPath(Name)}/_keys/seg=0")
    val victim = seg0.listFiles().filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    java.nio.file.Files.write(victim.toPath, Array.fill[Byte](victim.length.toInt)(7))
    val corrupt = snapshot(store)
    intercept[Exception](art.compact())
    assert(snapshot(store) == corrupt, "a failed compaction touched the store")
    assert(store.artifactFingerprint(Name).contains("fp"))
    assert(art.segments(Keys) == Seq(0, 1, 2, 3))
  }
}
