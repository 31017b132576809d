package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** An artifact of immutable SEGMENTS — Lucene's index model over the
  * warehouse. Each of its `tables` keeps one hive directory per
  * segment, `seg=k`: the first table at the artifact root, every other
  * one under an underscore-hidden subdirectory that plain scans of the
  * root never see. `keyTable` holds one row per `key` value (a LONG
  * column every table carries) per segment that wrote it, and it
  * decides liveness by the NEWEST-SEGMENT RULE: a row (key, seg) of
  * any table is dead once `keyTable` has a row for its key in a later
  * segment. Segment 0 therefore kills nothing, and a NULL key kills
  * nothing and never dies.
  *
  * Lifecycle, all on this one class:
  *  - [[build]] and [[compact]] write every table's `seg=0` into the
  *    crash-safe swap's tmp dir, stamp the fingerprint there, and only
  *    then rename the whole artifact live: no state has a fingerprint
  *    without every table;
  *  - [[append]] adds segment `max + 1` to every table, each staged
  *    and renamed into place, inside a cleared-first fingerprint
  *    bracket: a crash mid-batch leaves a mismatch that forces readers
  *    to rebuild;
  *  - [[read]] is a table's unfiltered scan and [[resolved]] its live
  *    rows.
  * `carried` names the sidecar files compaction keeps as they are.
  *
  * Appends and compaction are read-modify-writes of shared state (the
  * segment numbers, the sidecars): callers run [[append]] inside the
  * store's maintenance lock on `name`, which [[compact]] takes itself.
  */
final class SegmentedArtifact(store: IndexStore, name: String,
                              tables: Seq[SegmentedArtifact.Table],
                              keyTable: SegmentedArtifact.Table, key: String,
                              carried: Seq[String]) {
  import SegmentedArtifact._

  require(tables.head.dir.isEmpty && tables.tail.forall(_.dir.startsWith("_")) &&
    tables.contains(keyTable), "the first table sits at the artifact root, the " +
    "others (the key table among them) in _-hidden dirs")

  private def spark = store.session
  private def base = store.artifactPath(name)
  private def fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirOf(root: String, t: Table): String =
    if (t.dir.isEmpty) root else s"$root/${t.dir}"

  /** The `seg=k` segment ids of `t`, ascending (none if it is absent). */
  def segments(t: Table = tables.head): Seq[Int] = {
    val p = new Path(dirOf(base, t))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .map(_.getPath.getName.stripPrefix("seg=").toInt).sorted
  }

  /** Segments `segs` of `t`, unfiltered, read with its fixed schema (no
    * footer opened to infer it). The root table is read from the root,
    * so its scan is the plain artifact scan. A hidden table is read
    * through its listed `seg=k` dirs with its own dir as the base path
    * `seg` is parsed from: Spark ignores a root whose own name starts
    * with `_`, and warns when it probes a glob for a streaming-sink log.
    */
  private def readSegs(t: Table, segs: Seq[Int]): DataFrame =
    if (t.dir.isEmpty) spark.read.schema(t.schema).parquet(base)
    else spark.read.schema(t.schema).option("basePath", dirOf(base, t))
      .parquet(segs.map(g => s"${dirOf(base, t)}/seg=$g"): _*)

  /** Every row of `t`, dead ones included, `seg` last. */
  def read(t: Table): DataFrame = readSegs(t, segments(t))

  /** The live rows of `t` under the newest-segment rule. The kill set is
    * `keyTable`'s rows in segments past 0. Below
    * [[IndexStore.MaxInPush]] rows it is read on the driver, `seg` taken
    * from the directory name, and applied as a plain Filter — per
    * newest segment g, `seg < g AND key IN ids_g`, negated null-safely
    * so a NULL-key row survives — which adds no Spark job to any read.
    * Past the cap those rows are broadcast and anti-joined on
    * `seg < t.seg`; both forms keep the same rows. With no segment past
    * 0 the rows come back unfiltered, so plans change only once
    * maintenance has happened.
    *
    * Snapshot rule: the frame carries the kill set as it was when the
    * frame was built, as its scan carries the file listing of that
    * moment. Segments are only ever appended, and build and compaction
    * swap the whole artifact directory, so a built frame never mixes
    * the segments of one state with the kill set of another.
    */
  def resolved(t: Table): DataFrame = {
    val rows = read(t)
    val k = dirOf(base, keyTable)
    val later = segments(keyTable).filter(_ >= 1)
    val parts = later.flatMap(g => fs.listStatus(new Path(s"$k/seg=$g")).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map(g -> _))
    if (parts.isEmpty) rows
    else newestSegOnDriver(parts) match {
      case Some(newest) if newest.isEmpty => rows
      case Some(newest) =>
        val dies = newest.groupMap(_._2)(_._1).toSeq.sortBy(_._1).map { case (g, ids) =>
          col("seg") < g && col(key).isin(ids.toSeq.sorted: _*)
        }.reduce(_ || _)
        rows.filter(!coalesce(dies, lit(false)))
      case None =>
        val kill = readSegs(keyTable, later)
        rows.join(broadcast(kill),
          rows(key) === kill(key) && rows("seg") < kill("seg"), "left_anti")
    }
  }

  /** The kill set as key → the newest segment that holds a row for it,
    * read from `parts` (each a key-table part file with its segment) on
    * the driver with parquet-mr (no Spark job), or None once more than
    * [[IndexStore.MaxInPush]] rows have been read. A NULL key matches no
    * row, so such a row kills nothing.
    */
  private def newestSegOnDriver(parts: Seq[(Int, Path)]): Option[Map[Long, Int]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val cap = IndexStore.MaxInPush
    val newest = scala.collection.mutable.HashMap.empty[Long, Int]
    var n = 0
    for ((seg, file) <- parts if n <= cap) {
      val reader = ParquetReader.builder(new GroupReadSupport, file)
        .withConf(spark.sparkContext.hadoopConfiguration).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null && n <= cap).foreach { g =>
        n += 1
        if (g.getFieldRepetitionCount(key) > 0)
          newest.updateWith(g.getLong(key, 0))(s => Some(s.fold(seg)(math.max(_, seg))))
      } finally reader.close()
    }
    if (n > cap) None else Some(newest.toMap)
  }

  /** Write `df` as segment `seg` of `t` under `root`: its schema's
    * columns cast to their types, laid out by [[IndexStore.rangeSorted]]
    * on `t.sortCol` — `numShards` files that tile the sort-key space, or
    * one sorted file and no range sample.
    */
  private def writeSeg(df: DataFrame, t: Table, path: String, numShards: Int): Unit =
    IndexStore.rangeSorted(df.select(t.schema.fields.toSeq.filter(_.name != "seg")
      .map(f => col(f.name).cast(f.dataType)): _*), numShards, Seq(t.sortCol))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** (Re)build the artifact from one frame per table, in `tables`
    * order: every table's `seg=0`, the `sidecars` and the fingerprint
    * are written into the swap's tmp dir before it is renamed live, so
    * a failure at any point leaves the previous artifact as it was.
    */
  def build(frames: Seq[DataFrame], fingerprint: String,
            sidecars: Map[String, String]): Unit = {
    require(frames.size == tables.size, s"$name: one frame per table")
    store.swapArtifact(name, fingerprint, sidecars) { tmp =>
      tables.zip(frames).foreach { case (t, df) =>
        writeSeg(df, t, s"${dirOf(tmp, t)}/seg=0", t.numShards)
      }
    }
  }

  /** Append one segment, `max + 1`, to every table from one frame per
    * table, then stamp `fingerprint` and `sidecars`; returns its id. No
    * existing file is touched. Each table's segment stages under a
    * hidden dir and renames into place, so readers never see a partial
    * one. `oneFile` writes each as one sorted file with no range
    * sample, the form for a flush whose rows fit one file. Runs inside
    * the caller's maintenance lock.
    */
  def append(frames: Seq[DataFrame], fingerprint: String,
             sidecars: Map[String, String], oneFile: Boolean): Int = {
    require(frames.size == tables.size, s"$name: one frame per table")
    val gen = segments().lastOption.getOrElse(-1) + 1
    store.clearArtifactFingerprint(name)
    tables.zip(frames).foreach { case (t, df) =>
      val d = dirOf(base, t)
      val target = new Path(s"$d/seg=$gen")
      require(!fs.exists(target), s"$name: segment $target already exists")
      val stage = new Path(s"$d/__append_$gen")
      fs.delete(stage, true)
      writeSeg(df, t, stage.toString, if (oneFile) 1 else t.numShards)
      fs.delete(new Path(stage, "_SUCCESS"), false)
      require(fs.rename(stage, target), s"$name: rename failed: $target")
    }
    store.stampArtifact(name, fingerprint, sidecars)
    gen
  }

  /** Fold every table back to one segment — the Lucene force-merge: each
    * table's resolved rows become its `seg=0` through [[build]]'s swap,
    * under the current fingerprint and the `carried` sidecars, so the
    * later segments and the kill set they formed go with the old
    * directory. The resolved CONTENT of every table is unchanged.
    */
  def compact(): Unit = store.withMaintenanceLock(name) {
    val fp = store.artifactFingerprint(name).getOrElse(sys.error(
      s"compact: $name has no fingerprint — a crashed append must rebuild, not compact"))
    val keep = carried.map(f => f -> store.artifactSidecar(name, f)
      .getOrElse(sys.error(s"$name has no $f sidecar"))).toMap
    build(tables.map(t => resolved(t).drop("seg")), fp, keep)
  }
}

object SegmentedArtifact {

  /** One table of a segmented artifact: `dir` is "" for the table at
    * the artifact root and an underscore-prefixed name otherwise;
    * `schema` is the table as read, with the INT `seg` partition column
    * last; each segment's files are range-sorted on `sortCol` over
    * `numShards` files.
    */
  final case class Table(dir: String, schema: StructType, sortCol: String, numShards: Int)
}
