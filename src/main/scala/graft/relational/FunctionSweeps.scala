package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Scalar/aggregate function-library breadth (SURVEY.md §2.2 "scalar
  * function library: none" — owned natively here): exact percentiles,
  * string, date, and array function sweeps, and GROUPING SETS with
  * grouping_id. All per-row or single-aggregation shapes; every query
  * oracle-checked against the DuckDB twin (which doubles as a dialect
  * map for the functions whose names differ).
  */
object FunctionSweeps {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact interpolated percentiles (sort-based, deterministic) —
    // round(9) absorbs interpolation-arithmetic ulp differences.
    "rel_percentiles" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 9).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 9).as("p25_price"),
          round(expr("percentile(l_extendedprice, 0.95)"), 9).as("p95_price"))
        .orderBy(col("l_returnflag"))
    }),

    // String function sweep over part names.
    "rel_string_funcs" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(
          col("p_partkey"),
          initcap(col("p_name")).as("name_initcap"),
          reverse(col("p_name")).as("name_rev"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_masked"),
          lpad(col("p_brand"), 12, "#").as("brand_padded"),
          repeat(col("p_brand"), 2).as("brand_twice"),
          levenshtein(col("p_brand"), lit("Brand#11")).as("brand_dist"),
          coalesce(nullif(col("p_type"), lit("")), lit("unknown")).as("type_or_unknown"),
          format_string("%s/%d", col("p_brand"), col("p_size")).as("brand_size"))
        .orderBy(col("p_partkey"))
    }),

    // Date/time function sweep over order dates.
    "rel_date_funcs" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          weekofyear(col("o_orderdate")).as("woy"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType)).as("days_since_95"),
          add_months(col("o_orderdate"), 3).as("plus_quarter"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey"))
    }),

    // Array function sweep over tokenized documents.
    "rel_array_funcs" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks).as("n_toks"),
          // Arrays serialized at the output boundary (array_join) so the
          // oracle harness can sort/hash rows; the array ops themselves
          // (slice/sort_array/array_distinct) still run.
          array_join(slice(toks, 1, 3), "|").as("first3"),
          array_join(sort_array(array_distinct(slice(toks, 1, 8))), "|").as("first8_sorted"),
          array_contains(toks, "spark").as("has_spark"),
          array_position(toks, "data").cast(LongType).as("data_pos"),
          element_at(toks, -1).as("last_tok"),
          array_join(slice(toks, 1, 3), "-").as("first3_joined"))
        .orderBy(col("doc_id"))
    }),

    // Statistical aggregates the deterministic way: stddev/variance/
    // correlation derived from EXACT decimal sums (n, Σx, Σx², Σxy) so
    // the result is order-independent — engine-native stddev_samp uses
    // float merge trees whose last-ulp noise never hash-compares.
    // min_by/max_by with unique keys are deterministic as-is.
    "rel_stat_agg" -> ((s, dir) => {
      val q = col("l_quantity").cast(DecimalType(20, 4))
      val p = col("l_extendedprice").cast(DecimalType(20, 4))
      // Total-order key: the DuckDB twin rides a zero-padded string
      // (struct compare SEMANTICS differ across engines, so the twin
      // can't use a struct) — the engine side orders on the raw
      // (shipdate, orderkey, linenumber) struct instead, which is the
      // SAME total order (field-by-field lexicographic over
      // non-negative, width-bounded fields = the padded string's
      // order, and the key is unique so there are no ties to break)
      // without the two per-row Formatter+unix_timestamp evaluations
      // the string key cost (r14: measured ~35% of the operator).
      val ordKey = struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sq"), sum(q * q).as("sq2"),
          sum(p).as("sp"), sum(p * p).as("sp2"),
          sum(q * p).as("sqp"),
          min_by(col("l_orderkey"), ordKey).as("first_shipped_order"),
          max_by(col("l_orderkey"), ordKey).as("last_shipped_order"))
        .select(
          col("l_returnflag"), col("n"),
          round(sqrt((col("sq2").cast(DoubleType) - col("sq").cast(DoubleType) * col("sq").cast(DoubleType) / col("n"))
            / (col("n") - 1)), 6).as("stddev_qty"),
          round((col("sqp").cast(DoubleType) - col("sq").cast(DoubleType) * col("sp").cast(DoubleType) / col("n"))
            / ((col("n") - 1).cast(DoubleType)), 4).as("covar_qty_price"),
          col("first_shipped_order"), col("last_shipped_order"))
        .orderBy(col("l_returnflag"))
    }),

    // Deterministic string aggregation (listagg/string_agg family):
    // collect_list is order-nondeterministic under parallelism, so the
    // canonical deterministic form sorts before joining — same trick
    // both engines can express. Plus the boolean aggregate pair.
    "rel_string_agg" -> ((s, dir) => {
      Tables(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(
          array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"),
          bool_and(col("n_nationkey") >= 0).as("all_nonneg"),
          bool_or(col("n_name").startsWith("NATION_1")).as("any_teen"))
        .orderBy(col("n_regionkey"))
    }),

    // GROUPING SETS with grouping_id — finer than rollup/cube: the
    // exact set list {(flag,status), (flag), ()}.
    "sql_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS INT) AS g_status,
          |  count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "rel_percentiles" ->
      """SELECT l_returnflag,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 9) AS median_qty,
        |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 9) AS p25_price,
        |  round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 9) AS p95_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_string_funcs" ->
      """SELECT p_partkey,
        |  array_to_string(list_transform(string_split(lower(p_name), ' '),
        |    w -> upper(w[1]) || w[2:]), ' ') AS name_initcap,
        |  reverse(p_name) AS name_rev,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_vowels,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_masked,
        |  lpad(p_brand, 12, '#') AS brand_padded,
        |  repeat(p_brand, 2) AS brand_twice,
        |  CAST(levenshtein(p_brand, 'Brand#11') AS INT) AS brand_dist,
        |  coalesce(nullif(p_type, ''), 'unknown') AS type_or_unknown,
        |  format('{}/{}', p_brand, p_size) AS brand_size
        |FROM part ORDER BY p_partkey""".stripMargin,
    "rel_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(weekofyear(o_orderdate) AS INT) AS woy,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
        |  CAST(o_orderdate + INTERVAL '3 months' AS DATE) AS plus_quarter,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "rel_array_funcs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INT) AS n_toks,
        |  array_to_string(toks[1:3], '|') AS first3,
        |  array_to_string(list_sort(list_distinct(toks[1:8])), '|') AS first8_sorted,
        |  list_contains(toks, 'spark') AS has_spark,
        |  CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS data_pos,
        |  toks[-1] AS last_tok,
        |  list_aggregate(toks[1:3], 'string_agg', '-') AS first3_joined
        |FROM t ORDER BY doc_id""".stripMargin,
    "rel_stat_agg" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sq,
        |    SUM(CAST(l_quantity AS DECIMAL(20,4)) * CAST(l_quantity AS DECIMAL(20,4))) AS sq2,
        |    SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS sp,
        |    SUM(CAST(l_quantity AS DECIMAL(20,4)) * CAST(l_extendedprice AS DECIMAL(20,4))) AS sqp,
        |    arg_min(l_orderkey, format('{:020d}|{:012d}|{:04d}',
        |      CAST(epoch(l_shipdate) AS BIGINT), l_orderkey, l_linenumber)) AS first_shipped_order,
        |    arg_max(l_orderkey, format('{:020d}|{:012d}|{:04d}',
        |      CAST(epoch(l_shipdate) AS BIGINT), l_orderkey, l_linenumber)) AS last_shipped_order
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
        |        / (n - 1)), 6) AS stddev_qty,
        |  round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE) / n)
        |        / CAST(n - 1 AS DOUBLE), 4) AS covar_qty_price,
        |  first_shipped_order, last_shipped_order
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "rel_string_agg" ->
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(n_name)), ',') AS nations,
        |  count(*) AS n_nations,
        |  bool_and(n_nationkey >= 0) AS all_nonneg,
        |  bool_or(starts_with(n_name, 'NATION_1')) AS any_teen
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin
  )
}
