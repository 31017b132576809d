package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table loader (see /root/repo/TESTDATA.md, FIXTURES.md).
  *
  * Stands in for the reference's JDBC full-table scan
  * (`BulkProcessImpl.java:96` — `"SELECT * from " + tableName` over a
  * streaming cursor). On a real cluster this would be
  * `spark.read.format("jdbc").option("partitionColumn", ...)` for parallel
  * range scans; here the driver-generated parquet is the source of record.
  * Parquet scans are chunked by `spark.sql.files.maxPartitionBytes`, so a
  * 100 TB table splits into parallel tasks with column pruning + predicate
  * pushdown for free.
  */
object Tables {
  /** TPC-H-ish star schema (FIXTURES.md). */
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** All fixture tables, including the stream + LLM-pipeline extensions. */
  val all: Seq[String] = starSchema ++ Seq("events", "documents", "embeddings")

  /** Like [[apply]], but fanned out to full parallelism — for
    * compute-bound operators over byte-small inputs. Parquet splitting
    * is governed by `maxPartitionBytes`, so a few-MB documents file
    * arrives as ONE partition; shingling/hashing it would then run on
    * one core. One tiny shuffle up front buys full-cluster (here:
    * 32-thread) parallelism for the expensive narrow stages.
    *
    * GATED on the scan's actual split count: a table that already
    * splits into >= cluster parallelism needs no help, and blindly
    * repartitioning a 100 TB corpus would shuffle the whole corpus
    * just to rebalance what file-splitting already balanced. The
    * check reads the planned partition count (plan-time metadata from
    * the file index — no job runs).
    */
  def forCompute(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val parallelism = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= parallelism) df
    else df.repartition(parallelism)
  }

  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Memoized table row count, served from parquet FOOTER metadata.
    *
    * The ANN shortlist knobs (R = N/50) and quantizer-size knobs
    * (k = N/2000) need the corpus size N at plan-construction time.
    * A plain `df.count()` there runs a full count JOB during DataFrame
    * construction — so plan-only consumers (PlanDump) pay real scans,
    * and every bench run pays one extra scan per query. This instead compiles count(*) to
    * `PushedAggregation` on the DSv2 parquet scan (the
    * rel_agg_pushdown cloned-session pattern — own SQLConf, shared
    * SparkContext), which answers from a few KB of row-group footers
    * per file even at 100 TB, and memoizes per (dir, table): the
    * fixture dirs are immutable, so one footer read per JVM serves
    * every knob, every query, every bench iteration.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.computeIfAbsent((dir, name), { _: (String, String) =>
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.conf.set("spark.sql.sources.useV1SourceList",
        s2.conf.get("spark.sql.sources.useV1SourceList")
          .split(",").filterNot(_ == "parquet").mkString(","))
      s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Long.box(s2.read.parquet(s"$dir/$name.parquet")
        .agg(count(lit(1))).head.getLong(0))
    })

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet's ts encoding varies by driver round: some rounds
    // ship TIMESTAMP(NANOS) — which Spark's vectorized reader rejects,
    // so it is read as long (Engine's nanosAsLong setting) and
    // truncated to micros here — and some ship micros TIMESTAMP_NTZ,
    // which is cast to TIMESTAMP (identical values: Engine pins UTC)
    // because Structured Streaming refuses watermarks on NTZ event
    // time. Either way callers see one canonical TIMESTAMP column;
    // DuckDB oracles see the same micros via epoch math.
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    } else df
  }
}
