package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy. Every tool program and the test
  * session build through [[session]]; a library caller that owns its
  * session applies the same SQL settings with [[configure]] (plus
  * `spark.sql.extensions=graft.GraftExtensions` on its builder, which
  * cannot be set at runtime).
  */
object Engine {
  /** Runtime-settable SQL settings, each with the reason it is set. */
  val sqlSettings: Seq[(String, String)] = Seq(
    // Broadcast discipline (scale safety): static auto-broadcast OFF —
    // Catalyst's static size estimates for aggregate/cache-derived
    // frames read tiny and would broadcast corpus-scale build sides
    // (measured driver OOM at the 30x ScaleBench corpus); AQE promotes
    // joins to broadcast only from ACTUAL runtime sizes. Explicit
    // broadcast() on bounded frames is unaffected.
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB",
    // Partition discovery of cell-partitioned artifacts (up to 1024
    // geo/IVF cell dirs) runs DRIVER-SIDE below this threshold: a
    // 1024-task listing JOB costs ~1.7 s of pure task overhead per
    // query CONSTRUCTION (measured, geo probe r8) vs ~50 ms of driver
    // listStatus calls. Above ~8k dirs the distributed listing wins
    // again - exactly Spark's intended use of the knob.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192",
    // Shuffle-partition scaling: sizing for the FIXTURE starves a 100x
    // corpus (measured: the substring finder's real 1.2 slope at
    // 30->100x collapses to ~linear at 512 initial partitions, 154 ->
    // 107 s at 100x). The scale-correct discipline is a HIGH initial
    // count with AQE coalescing down to the data.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512",
    // Cached-plan builds go through AQE too (r14): the library's pinned
    // frames are AGGREGATE outputs persisted for multiple consumers;
    // with this off (the upstream default) the cache materializes at
    // the raw initialPartitionNum=512 and every consumer scan pays 512
    // tasks regardless of data size — measured 7x on the PMI unigram
    // table at sf0.1.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Local small-SF stand-in for cluster file parallelism: the fixture
    // files are a few MB, far below the 128m default, so every scan
    // would be ONE partition and per-row compute would single-thread.
    // At real scale (multi-GB files) the override is harmless.
    "spark.sql.files.maxPartitionBytes" -> "1m",
    // Event times are UTC throughout (Tables, the DuckDB twins).
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet may ship TIMESTAMP(NANOS), which the vectorized
    // reader rejects; Tables reads it as long and truncates to micros.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Local core count: `SPARK_GRAFT_CPUS` if set, else every core. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(v: Option[String]): Int =
    positiveInt("SPARK_GRAFT_CPUS", v, Runtime.getRuntime.availableProcessors())

  /** The positive integer env var `name` holds, or `default` if unset. */
  private[graft] def positiveIntEnv(name: String, default: => Int): Int =
    positiveInt(name, sys.env.get(name), default)

  /** `v` as a positive integer, `default` when absent; any other value
    * fails naming the variable it came from.
    */
  private[graft] def positiveInt(name: String, v: Option[String], default: => Int): Int =
    v match {
      case None => default
      case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$s'"))
    }

  /** Every setting goes on the builder: sessions cloned with
    * `newSession()` inherit builder settings, not runtime `conf.set`s.
    */
  def session(cpus: Int = Engine.cpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // FAIR so concurrent per-table imports share executor slots
      // instead of queueing behind the biggest table.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
    (sqlSettings ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply [[sqlSettings]] to a session the caller owns; idempotent. */
  def configure(spark: SparkSession): SparkSession = {
    sqlSettings.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
