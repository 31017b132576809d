package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** The engine session at 4 cores, with a throwaway warehouse. */
  lazy val spark: SparkSession = Engine.session(4, Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
  val sf = "/root/testdata/sf0.001"

  /** Events fixture staged for streaming file sources: the
    * Tables-normalized frame re-written as ONE standard parquet file,
    * so `readStream.schema(stagedEventsSchema)` sees a plain TIMESTAMP
    * column regardless of the fixture's on-disk encoding — the driver
    * has shipped `events.ts` both as TIMESTAMP(NANOS) (read as long +
    * truncated) and as micros across rounds, and a spec that hardcodes
    * one encoding silently corrupts every event time under the other.
    */
  lazy val stagedEventsFile: java.nio.file.Path = {
    val df = Tables(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("events_staged")
    dir.toFile.deleteOnExit()
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val it = java.nio.file.Files.list(dir)
    try it.filter(p => p.toString.endsWith(".parquet")).findFirst.get
    finally it.close()
  }
  lazy val stagedEventsSchema: org.apache.spark.sql.types.StructType =
    Tables(spark, sf, "events").schema

  /** `body`'s result and the number of Spark jobs started while it ran,
    * from any thread (a [[Metrics]] window).
    */
  def jobsRunBy[T](body: => T): (T, Int) =
    Metrics.window(spark)(body) match { case (out, w) => (out, w.jobs.toInt) }
}

class SparkEntrySpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("forCompute fans out small scans, never reshuffles already-parallel ones") {
    import org.apache.spark.sql.functions._
    // Fixture-scale documents arrive as ONE split — must fan out.
    assert(Tables.forCompute(spark, sf, "documents").rdd.getNumPartitions
      == spark.sparkContext.defaultParallelism)
    // A table whose scan already splits >= parallelism must pass
    // through untouched (at 100 TB the repartition would shuffle the
    // corpus to rebalance what file-splitting already balanced).
    val dir = java.nio.file.Files.createTempDirectory("graft_fc").toString
    spark.range(0, 40000).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 8).map(i =>
          md5(concat(col("id").cast("string"), lit(i)))): _*).as("text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val wide = Tables.forCompute(spark, dir, "documents")
    assert(wide.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism,
      s"test fixture too small: ${wide.rdd.getNumPartitions} splits")
    assert(!wide.queryExecution.executedPlan.toString.contains("Exchange"),
      "already-parallel scan must not be reshuffled")
  }

  test("every query runs at sf0.001 and is non-empty") {
    // rel_join_anti may legitimately be empty if every customer ordered;
    // everything else must produce rows.
    val mayBeEmpty = Set("rel_join_anti")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sf).count()
        if (n == 0 && !mayBeEmpty(name)) Some(s"$name: empty") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
