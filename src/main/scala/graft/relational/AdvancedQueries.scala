package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Advanced relational operators beyond the core set: as-of join,
  * pivot, cube, approximate aggregates.
  *
  * The as-of join is the one operator here Spark has no built-in for.
  * Preference order per the build rules: compose existing ops first —
  * and the composition below IS the scalable plan, so no custom
  * SparkStrategy is warranted:
  *
  *   naive form:  a LEFT JOIN b ON a.key = b.key AND b.ts <= a.ts,
  *                then keep max(b.ts) — an inequality join Spark
  *                executes as a per-key cartesian (O(n·m) per key).
  *   this form:   union the two tagged streams, ONE shuffle on
  *                (key), in-partition sort on (ts, side), then
  *                last_value(ignoreNulls) over the ordered window —
  *                O((n+m) log(n+m)) per key, no join at all.
  */
object AdvancedQueries {

  private val dec2 = (c: Column) => c.cast(DecimalType(12, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join via union + window (no inequality join): each order
    // picks the most recent event (any user) at or before its
    // order date — order stream as-of event stream on time, keyed by
    // a derived bucket so the shuffle has a key (realistic as-of joins
    // are keyed; key here = orderkey % 16 matching event user bucket).
    "rel_asof_join" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") % 8).as("k"),
          col("o_orderdate").as("ts"))
      val events = Tables(s, dir, "events")
        .select((col("user_id") % 8).as("k"), col("ts"),
          col("event_id"), col("event_type"))
      // Tag: right rows carry the payload; left rows carry nulls.
      // Sort (k, ts, side) — side 0 (right) before side 1 (left) at
      // equal ts so "at or before" includes ties; last_value ignoring
      // nulls gives the latest right payload seen so far.
      val tagged = events
        .select(col("k"), col("ts"), lit(0).as("side"),
          lit(null).cast(LongType).as("o_orderkey"),
          col("event_id"), col("event_type"))
        .unionByName(orders.select(col("k"), col("ts"), lit(1).as("side"),
          col("o_orderkey"),
          lit(null).cast(LongType).as("event_id"),
          lit(null).cast(StringType).as("event_type")))
      val w = Window.partitionBy(col("k"))
        .orderBy(col("ts"), col("side"), col("event_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("asof_event_id", last(col("event_id"), ignoreNulls = true).over(w))
        .withColumn("asof_event_type", last(col("event_type"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("o_orderkey"), col("k"), col("ts"),
          col("asof_event_id"), col("asof_event_type"))
        .orderBy(col("o_orderkey"))
    }),

    // Native pivot: revenue matrix returnflag × linestatus through
    // df.groupBy().pivot(values) — pinned pivot values (no extra
    // distinct-scan job, and stable output schema at any scale).
    "rel_pivot" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec2(col("l_quantity"))).cast(DoubleType))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy(col("l_returnflag"))
    }),

    // NULL-semantics sweep — the correctness corner every engine must
    // own: count(*) vs count(col) vs count(DISTINCT col) under nulls,
    // null-group membership, and the equi-join vs NULL-SAFE (<=>)
    // join distinction (nulls never match '=', match once under
    // IS NOT DISTINCT FROM). Nulls are derived in-query (the fixture
    // columns are dense) via nullif; output is one row of counts —
    // each a one-line proof of the semantic.
    "rel_null_semantics" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(expr("nullif(c_mktsegment, 'BUILDING')").as("seg"))
      val base = c.agg(
        count(lit(1)).as("n_rows"),
        count(col("seg")).as("n_nonnull"),
        countDistinct(col("seg")).as("n_distinct"),
        count(when(col("seg").isNull, 1)).as("n_null"))
      // The '=' vs '<=>' join-cardinality probe runs on the PRE-
      // AGGREGATED (seg, cnt) sides — row counts come out as
      // sum(cnt_a·cnt_b), identical to joining the raw rows, but the
      // join is O(distinct²) instead of a quadratic row self-join
      // (which would be one of those 100 TB dead jobs this suite's
      // own plan invariants forbid).
      val segCnt = c.groupBy(col("seg")).agg(count(lit(1)).as("cnt"))
      val eqJ = segCnt.as("a").join(segCnt.as("b"), col("a.seg") === col("b.seg"))
        .agg(sum(col("a.cnt") * col("b.cnt")).cast(LongType).as("eq_join_rows"))
      val nsJ = segCnt.as("a").join(segCnt.as("b"), col("a.seg") <=> col("b.seg"))
        .agg(sum(col("a.cnt") * col("b.cnt")).cast(LongType).as("nullsafe_join_rows"))
      base.crossJoin(broadcast(eqJ)).crossJoin(broadcast(nsJ)) // 1-row aggs
    }),

    // Native unpivot (melt) — the dual of rel_pivot: wide per-part
    // numeric columns to long (part, measure, value) form. Spark's
    // Dataset.unpivot is a zero-shuffle per-row expansion (each input
    // row emits one row per measure, no exchange — the shape that
    // matters when un-pivoting a 100-column fact at scale).
    "rel_unpivot" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")),
          "measure", "value")
        .orderBy(col("p_partkey"), col("measure"))
    }),

    // CUBE: all 2^2 grouping-set combinations with exact sums.
    "rel_cube" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Approximate aggregates — the 100 TB workhorses: HLL distinct
    // (fixed relative error, tiny sketch vs a full distinct shuffle)
    // and log-bucket percentiles. Both ENGINE-OWNED and deterministic:
    // distinct parts via the native `hll_est` aggregate at m=4096
    // (md5 registers + integer estimator, 4 KB partial state per
    // group), percentiles via the HdrHistogram-style 6-significand-bit
    // sketch (bucket LOWER BOUNDS in exact integer cents, ≤1.6%
    // guaranteed relative error, bounded bucket table). Replacing
    // approx_count_distinct/approx_percentile — whose engine-internal
    // sketches cannot hash-compare — keeps the identical mergeable
    // partial+final scale shape while making the sketch itself
    // DuckDB-oracle-verified; drift vs exact is additionally bounded
    // in LlmSpec.
    "rel_approx_agg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_partkey").cast(StringType).as("pk"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("v"))
      val card = li.groupBy(col("l_returnflag"))
        .agg(call_function("hll_est", col("pk"), lit(4096)).as("approx_parts"))
      val sketch = li
        .withColumn("shift", greatest(length(bin(col("v"))) - 7, lit(0)))
        .withColumn("lb", expr("shiftleft(shiftright(v, shift), shift)"))
        .groupBy(col("l_returnflag"), col("lb")).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("lb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("l_returnflag"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = sketch
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
      def pick(q: Int) = min(when(col("cum") * 100 >= col("n") * q, col("lb")))
      val pcts = cum.groupBy(col("l_returnflag"))
        .agg(pick(50).as("approx_median_price_cents"),
          pick(99).as("approx_p99_price_cents"))
      card.join(pcts, "l_returnflag").orderBy(col("l_returnflag"))
    }),

    // Aggregate pushdown to parquet FOOTER STATISTICS: with the DSv2
    // read path + spark.sql.parquet.aggregatePushdown, global
    // COUNT/MIN/MAX compile to `PushedAggregation` on the scan and
    // the job reads row-group metadata only — at 100 TB this answers
    // from a few KB of footers per file instead of scanning the
    // corpus (the same reason `count(*)` on a warehouse table is
    // instant). Timestamp min/max is deliberately absent (parquet
    // timestamp stats are not pushable; including one silently
    // disables the whole pushdown). The v2-source confs are set on a
    // CLONED session (`newSession`: same SparkContext and cache, own
    // SQLConf) — bucketed reads elsewhere need the v1 path, and a
    // session-global set/restore window would silently flip any query
    // planned concurrently on the shared session (the FAIR-pool
    // bulkImportAll pattern); PlanSpec asserts the pushed plan.
    // Engine-owned mergeable QUANTILE sketch — the HdrHistogram shape
    // (log-scale buckets with 3 significand bits ⇒ ≤ 12.5% guaranteed
    // relative error): the fourth sketch family next to CMS (counts),
    // HLL (distincts) and KMV (sets), and the one behind every latency/
    // price percentile dashboard. The sketch is a groupBy on the bucket
    // lower bound — a few hundred buckets regardless of row count,
    // merged across partitions by plain sum (partial+final agg), unlike
    // a sort-based exact percentile. Quantile selection is the exact
    // integer cross-multiply 100·cum ≥ N·q on the cumulative bucket
    // counts (window over the bounded bucket table). Values ride as
    // integer CENTS via DECIMAL(18,2) so no float touches the sketch;
    // the exact percentiles (computed the expensive way) ride alongside
    // with an err_pm column the 1/8 bound caps by construction.
    "rel_hdr_quantiles" -> ((s, dir) => {
      val cents = Tables(s, dir, "lineitem")
        .select((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("v"))
      // r15: the whole query now reads lineitem ONCE — the sketch's
      // bucket counts derive from the exact side's persisted value
      // histogram (lb/ub are pure functions of v, so
      // count(*) GROUP BY bucket ≡ sum(c) over the histogram rows
      // whose v falls in the bucket; exact BIGINT either way). Before,
      // the sketch ran its own corpus scan + aggregation next to the
      // histogram's (2 scans; see plans/r15/rel_hdr_quantiles_*).
      val exHist = cents.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("hi", expr("shiftright(v, 16)"))
        .transform(graft.Pins.pin)
      val bucketed = exHist
        .withColumn("e", length(bin(col("v"))) - 1)
        .withColumn("shift", greatest(col("e") - 3, lit(0)))
        .withColumn("lb", expr("shiftleft(shiftright(v, shift), shift)"))
        .withColumn("ub", expr("lb + shiftleft(CAST(1 AS BIGINT), shift) - 1"))
      val sketch = bucketed.groupBy(col("lb"), col("ub"))
        .agg(sum(col("c")).as("c"))
      val wCum = Window.orderBy(col("lb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = sketch
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
      def pick(q: Int, c: Column) =
        min(when(col("cum") * 100 >= col("n") * q, c))
      val est = cum.agg(
        max(col("n")).as("n_rows"),
        pick(50, col("lb")).as("p50_lb"), pick(50, col("ub")).as("p50_ub"),
        pick(90, col("lb")).as("p90_lb"), pick(90, col("ub")).as("p90_ub"),
        pick(99, col("lb")).as("p99_lb"), pick(99, col("ub")).as("p99_ub"))
      // Exact percentiles via the value-histogram technique (no global
      // row sort — value-cardinality-shaped, same as llm_length_trim).
      // r15 (r14 VERDICT #4): the histogram cumsum was TWO
      // unpartitioned windows — value-cardinality rows (distinct cent
      // values, which grow with the corpus) through ONE task. First
      // fix was the generic range-partitioned prefix sum
      // (PrefixSum.exclusivePrefixSum); measured at sf0.1 its
      // machinery COSTS more than it saves on this shape (4.8 → 27
      // executor-CPU-s: the histogram barely reduces — 583k distinct
      // cents of 600k rows — so boundary sampling + eager
      // localCheckpoint + subtotal collect each re-touch a near-
      // corpus-sized frame). This shape has a cheaper exact scan: the
      // cumsum partitions by a key DERIVED FROM THE VALUE (hi =
      // v >> 16), so no sampling, no checkpoint, no driver round-trip
      // — per-bucket running sums are a parallel window over ≤ 2¹⁶
      // values each, and the bucket base offsets come from one
      // unpartitioned window over the COARSE histogram, whose row
      // count is ⌈value-domain/2¹⁶⌉ (price domain, NOT corpus size —
      // ~170 rows for any cents domain ≤ 10⁷; the same domain-bounded
      // class as the ≤512-bucket sketch windows above). cum(v) =
      // coarse_excl(hi) + within_bucket(v): exact BIGINT, total order
      // preserved (u >> 16 < v >> 16 ⟹ u < v). The histogram is
      // persisted across its consumers (sketch agg above + fine
      // window + coarse agg; value-cardinality — the allowed
      // aggregate-persist class, Pins-registered); N rides the
      // q11/q15 broadcast-1-row mechanism, derived from the tiny
      // coarse side.
      val coarse = exHist.groupBy(col("hi")).agg(sum(col("c")).as("cc"))
      val wCoarse = Window.orderBy(col("hi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val coarseOff = coarse
        .withColumn("off", sum(col("cc")).over(wCoarse) - col("cc"))
      val wFine = Window.partitionBy(col("hi")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exCum = exHist
        .withColumn("within", sum(col("c")).over(wFine))
        .join(broadcast(coarseOff.select(col("hi"), col("off"))), "hi")
        .withColumn("cum", col("off") + col("within"))
      val nTot = broadcast(coarse.agg(sum(col("cc")).as("n")))
      val exact = exCum.crossJoin(nTot).agg(
        pick(50, col("v")).as("p50_exact"),
        pick(90, col("v")).as("p90_exact"),
        pick(99, col("v")).as("p99_exact"))
      est.crossJoin(broadcast(exact))
        .withColumn("p50_err_pm", expr("(abs(p50_lb - p50_exact) * 1000) DIV p50_exact"))
        .withColumn("p90_err_pm", expr("(abs(p90_lb - p90_exact) * 1000) DIV p90_exact"))
        .withColumn("p99_err_pm", expr("(abs(p99_lb - p99_exact) * 1000) DIV p99_exact"))
    }),

    "rel_agg_pushdown" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.conf.set("spark.sql.sources.useV1SourceList",
        s2.conf.get("spark.sql.sources.useV1SourceList")
          .split(",").filterNot(_ == "parquet").mkString(","))
      s2.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "rel_hdr_quantiles" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (
        |  SELECT v, greatest(len(bin(v)) - 1 - 3, 0) AS shift FROM cents),
        |b2 AS (
        |  SELECT ((v >> shift) << shift) AS lb,
        |         ((v >> shift) << shift) + (1::BIGINT << shift) - 1 AS ub
        |  FROM b),
        |sk AS (SELECT lb, ub, count(*) AS c FROM b2 GROUP BY 1, 2),
        |cum AS (
        |  SELECT lb, ub,
        |    CAST(sum(c) OVER (ORDER BY lb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM sk),
        |est AS (
        |  SELECT max(n) AS n_rows,
        |    min(CASE WHEN cum*100 >= n*50 THEN lb END) AS p50_lb,
        |    min(CASE WHEN cum*100 >= n*50 THEN ub END) AS p50_ub,
        |    min(CASE WHEN cum*100 >= n*90 THEN lb END) AS p90_lb,
        |    min(CASE WHEN cum*100 >= n*90 THEN ub END) AS p90_ub,
        |    min(CASE WHEN cum*100 >= n*99 THEN lb END) AS p99_lb,
        |    min(CASE WHEN cum*100 >= n*99 THEN ub END) AS p99_ub
        |  FROM cum),
        |excum AS (
        |  SELECT v,
        |    CAST(sum(c2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c2) OVER () AS BIGINT) AS n
        |  FROM (SELECT v, count(*) AS c2 FROM cents GROUP BY v) t),
        |exact AS (
        |  SELECT
        |    min(CASE WHEN cum*100 >= n*50 THEN v END) AS p50_exact,
        |    min(CASE WHEN cum*100 >= n*90 THEN v END) AS p90_exact,
        |    min(CASE WHEN cum*100 >= n*99 THEN v END) AS p99_exact
        |  FROM excum)
        |SELECT n_rows, p50_lb, p50_ub, p90_lb, p90_ub, p99_lb, p99_ub,
        |  p50_exact, p90_exact, p99_exact,
        |  (abs(p50_lb - p50_exact) * 1000) // p50_exact AS p50_err_pm,
        |  (abs(p90_lb - p90_exact) * 1000) // p90_exact AS p90_err_pm,
        |  (abs(p99_lb - p99_exact) * 1000) // p99_exact AS p99_err_pm
        |FROM est CROSS JOIN exact""".stripMargin,
    "rel_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    "rel_asof_join" ->
      """WITH tagged AS (
        |  SELECT user_id % 8 AS k, ts, 0 AS side,
        |         CAST(NULL AS BIGINT) AS o_orderkey, event_id, event_type
        |  FROM events
        |  UNION ALL
        |  SELECT o_custkey % 8 AS k, o_orderdate AS ts, 1 AS side,
        |         o_orderkey, CAST(NULL AS BIGINT) AS event_id,
        |         CAST(NULL AS VARCHAR) AS event_type
        |  FROM orders),
        |filled AS (
        |  SELECT *,
        |    last_value(event_id IGNORE NULLS) OVER (
        |      PARTITION BY k ORDER BY ts, side, event_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_event_id,
        |    last_value(event_type IGNORE NULLS) OVER (
        |      PARTITION BY k ORDER BY ts, side, event_id ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_event_type
        |  FROM tagged)
        |SELECT o_orderkey, k, ts, asof_event_id, asof_event_type
        |FROM filled WHERE side = 1
        |ORDER BY o_orderkey""".stripMargin,
    "rel_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |       THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |       THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_null_semantics" ->
      """WITH c AS (
        |  SELECT nullif(c_mktsegment, 'BUILDING') AS seg FROM customer)
        |SELECT
        |  (SELECT count(*) FROM c) AS n_rows,
        |  (SELECT count(seg) FROM c) AS n_nonnull,
        |  (SELECT count(DISTINCT seg) FROM c) AS n_distinct,
        |  (SELECT count(*) FROM c WHERE seg IS NULL) AS n_null,
        |  (SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT)
        |     FROM (SELECT seg, count(*) AS cnt FROM c GROUP BY seg) a
        |     JOIN (SELECT seg, count(*) AS cnt FROM c GROUP BY seg) b
        |       ON a.seg = b.seg) AS eq_join_rows,
        |  (SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT)
        |     FROM (SELECT seg, count(*) AS cnt FROM c GROUP BY seg) a
        |     JOIN (SELECT seg, count(*) AS cnt FROM c GROUP BY seg) b
        |       ON a.seg IS NOT DISTINCT FROM b.seg) AS nullsafe_join_rows""".stripMargin,
    "rel_unpivot" ->
      """SELECT p_partkey, measure, value FROM (
        |  SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
        |ORDER BY p_partkey, measure""".stripMargin,
    "rel_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // Engine-owned sketches, hash-exact: hll_est m=4096 registers
    // (HUGEINT estimator — the BigInt branch's twin) + 6-significand-
    // bit HDR bucket lower bounds on integer cents.
    "rel_approx_agg" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(l_partkey AS VARCHAR) AS pk,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |flags AS (SELECT DISTINCT l_returnflag FROM li),
        |mb AS (SELECT unnest(generate_series(0, 4095)) AS bucket),
        |h AS (
        |  SELECT l_returnflag,
        |    ('0x' || substr(md5(pk), 1, 8))::BIGINT % 4096 AS bucket,
        |    ('0x' || substr(md5(pk), 9, 8))::BIGINT AS w
        |  FROM li),
        |regs AS (
        |  SELECT l_returnflag, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - len(bin(w)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |full_regs AS (
        |  SELECT f.l_returnflag, b.bucket, coalesce(r.rho, 0) AS rho
        |  FROM flags f CROSS JOIN mb b
        |  LEFT JOIN regs r ON r.l_returnflag = f.l_returnflag AND r.bucket = b.bucket),
        |per AS (
        |  SELECT l_returnflag,
        |    CAST(sum(1::BIGINT << (33 - rho)) AS BIGINT) AS s_sum,
        |    CAST(count(*) FILTER (rho > 0) AS BIGINT) AS nz
        |  FROM full_regs GROUP BY 1),
        |card AS (
        |  SELECT l_returnflag,
        |    CASE WHEN raw <= 10240 AND nz < 4096
        |         THEN CAST(round(4096.0 * ln(4096.0 / (4096 - nz)), 0) AS BIGINT)
        |         ELSE raw END AS approx_parts
        |  FROM (SELECT l_returnflag, nz,
        |          CAST((7213::HUGEINT * 4096 * 4096 * 4096 * 8589934592) //
        |               (10::HUGEINT * 4097079 * s_sum) AS BIGINT) AS raw
        |        FROM per) t),
        |b2 AS (
        |  SELECT l_returnflag,
        |    ((v >> shift) << shift) AS lb
        |  FROM (SELECT l_returnflag, v,
        |          greatest(len(bin(v)) - 7, 0) AS shift FROM li) t),
        |sk AS (SELECT l_returnflag, lb, count(*) AS c FROM b2 GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, lb,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY lb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM sk),
        |pct AS (
        |  SELECT l_returnflag,
        |    min(CASE WHEN cum*100 >= n*50 THEN lb END) AS approx_median_price_cents,
        |    min(CASE WHEN cum*100 >= n*99 THEN lb END) AS approx_p99_price_cents
        |  FROM cum GROUP BY 1)
        |SELECT l_returnflag, approx_parts,
        |  approx_median_price_cents, approx_p99_price_cents
        |FROM card JOIN pct USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin
  )
}
