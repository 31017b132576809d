package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The last stretch of the ES 6.6 surface the reference's users reach
  * through `q=` / `_search` (SURVEY.md §2.3; reference
  * `indexView.html:13-20`): `significant_text`, `scripted_metric`,
  * `global` + `missing` aggregation scopes, `date_range` and
  * `ip_range` aggregations, `span_or` / `span_first` positional
  * queries, the `common` terms query, and sliced scroll.
  *
  * Scale notes shared by the family:
  *  - every aggregation here is a partial+final hash aggregate on a
  *    bounded key set (bucket keys, event types, ring/range labels) —
  *    constant-size output regardless of corpus size;
  *  - the span queries are served from the positional postings
  *    artifact with the probed terms pushed as an `In` filter, so cost
  *    is the probed posting lists, never the corpus (same contract as
  *    search_span_near);
  *  - the scripted-metric map/combine/reduce contract is LITERALLY
  *    Spark's execution model — map = codegen'd per-row projection,
  *    combine = map-side partial aggregate, reduce = final aggregate
  *    after one shuffle of partial states — which is why the operator
  *    costs no more than a plain sum at 100 TB;
  *  - sliced scroll is the ES analog of a partitioned parallel scan:
  *    the slice-membership hash predicate pushes into the scan and
  *    each slice's client reads a disjoint ~1/max of the corpus.
  *
  * Cross-engine discipline (see graft-gotchas): money doubles become
  * exact integer cents via floor(value·100) — floor agrees between
  * engines, CAST(double AS BIGINT) does not; all ratios that reach
  * output are rounded doubles or exact integers; every output column
  * is a 64-bit type.
  */
object EsTailQueries {

  /** holt_winters seasonal period (daily buckets, weekly seasonality).
    * The 30-day fixture span gives 2 full seasons for seeding + 23
    * recurrence steps at every SF.
    */
  private val HwPeriod = 7

  private def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Exact integer cents of the events `value` column (two-decimal
    * money stored as DOUBLE): floor(value·100) — both engines floor
    * the identical IEEE product, so the carrier hash-matches.
    */
  private val cents: Column = floor(col("value") * lit(100)).cast(LongType)
  private val CentsSql = "CAST(floor(value * 100) AS BIGINT)"

  /** Shared-text SQL rendering a non-negative 32-bit integer column
    * `ip32` as a dotted-quad IPv4 string, parameterized on the
    * integer-division token (`DIV` Spark, `//` DuckDB) — the
    * geohash2StrExpr pattern.
    */
  private def dottedQuadExpr(div: String, c: String): String =
    s"concat(CAST(($c $div 16777216) % 256 AS STRING), '.', " +
      s"CAST(($c $div 65536) % 256 AS STRING), '.', " +
      s"CAST(($c $div 256) % 256 AS STRING), '.', " +
      s"CAST($c % 256 AS STRING))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ES `significant_text` aggregation with filter_duplicate_text and
    // the chi_square significance heuristic: foreground = docs whose
    // RE-ANALYZED text contains 'dup', background = whole corpus.
    // Unlike significant_terms (which reads pre-indexed terms), the
    // text form first DEDUPLICATES identical text blocks — exactly the
    // skew the 'dup' fixture docs would otherwise inject (copy-paste
    // boilerplate dominating the foreground counts; ES added
    // filter_duplicate_text for precisely this). Dedup = group by text,
    // keep min doc_id — one hash shuffle of (text-hash, id) at scale,
    // the llm_dedup_exact shape. Scoring: chi-square
    // (fg_rate − bg_rate)²/bg_rate with include_negatives=false,
    // rounded at 9 before ordering per the float discipline.
    "search_significant_text" -> ((s, dir) => {
      val deduped = Tables(s, dir, "documents")
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      val toksCol = tokens(col("text"))
      val base = deduped
        .withColumn("is_fg", array_contains(toksCol, "dup"))
        .select(col("doc_id"), col("is_fg"),
          explode(array_distinct(toksCol)).as("term"))
      val totals = base.select(col("doc_id"), col("is_fg")).distinct()
        .agg(sum(when(col("is_fg"), 1L).otherwise(0L)).cast(DoubleType).as("fg_total"),
          count(lit(1)).cast(DoubleType).as("bg_total"))
      base.groupBy(col("term"))
        .agg(sum(when(col("is_fg"), 1L).otherwise(0L)).as("fg_docs"),
          count(lit(1)).as("bg_docs"))
        .filter(col("fg_docs") >= 3)
        .crossJoin(broadcast(totals))
        .withColumn("fg_rate", col("fg_docs").cast(DoubleType) / col("fg_total"))
        .withColumn("bg_rate", col("bg_docs").cast(DoubleType) / col("bg_total"))
        .filter(col("fg_rate") > col("bg_rate")) // include_negatives: false
        .withColumn("chi2", round(
          (col("fg_rate") - col("bg_rate")) * (col("fg_rate") - col("bg_rate"))
            / col("bg_rate"), 9))
        .select(col("term"), col("fg_docs"), col("bg_docs"), col("chi2"))
        .orderBy(col("chi2").desc, col("term"))
        .limit(15)
    }),

    // ES `scripted_metric` aggregation — the user-defined
    // map/combine/reduce metric. The script here: map emits each
    // event's exact cents doubled when its props.k is even (a
    // "premium" weighting), combine sums partials per shard, reduce
    // sums shard partials — which IS Spark's partial+final aggregate,
    // so the custom metric costs exactly one scan + one 5-row
    // shuffle. All integer arithmetic (cents carrier).
    "search_scripted_metric" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir, "events")
        .select(col("event_type"), cents.as("cents"),
          when(k % 2 === 0, 1L).otherwise(0L).as("premium"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("premium") === 1L, col("cents") * 2)
            .otherwise(col("cents"))).as("weighted_cents"),
          sum(col("premium")).as("n_premium"))
        // Exact integer FLOOR division, sign-safe: Spark's DIV truncates
        // toward zero while DuckDB's // floors (they diverge when a
        // negative event value drives weighted_cents < 0 — the
        // geo_centroid divergence note). Subtracting pmod first makes
        // the dividend an exact multiple, so DIV's truncation IS the
        // floor, for any sign.
        .withColumn("avg_weighted_cents",
          expr("(weighted_cents - pmod(weighted_cents, n_events)) DIV n_events"))
        .orderBy(col("event_type"))
    }),

    // ES `global` + `missing` aggregation scopes in one search: the
    // query scope is event_type='click', a `global` sub-agg escapes
    // the query to compute corpus-wide totals (ES's "compare my
    // filtered bucket against everything" idiom), and a `missing` agg
    // counts docs where the sparse derived field conv_cents (defined
    // only for purchase/signup — a conversion value) is absent. ONE
    // scan computes all three scopes as conditional aggregates, then
    // stacks them — no second pass over the corpus for the global
    // scope, which is the Spark-native form of ES's
    // one-pass-multi-collector execution.
    "search_facets_global" -> ((s, dir) => {
      val conv = when(col("event_type").isin("purchase", "signup"), cents)
      val one = Tables(s, dir, "events")
        .select(col("event_type"), cents.as("cents"), conv.as("conv_cents"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("q_n"),
          sum(when(col("event_type") === "click", col("cents"))
            .otherwise(0L)).as("q_cents"),
          count(lit(1)).as("g_n"), sum(col("cents")).as("g_cents"),
          sum(when(col("conv_cents").isNull, 1L).otherwise(0L)).as("m_n"))
      one.select(explode(array(
          struct(lit("query").as("scope"), col("q_n").as("doc_count"),
            col("q_cents").as("sum_cents")),
          struct(lit("global").as("scope"), col("g_n").as("doc_count"),
            col("g_cents").as("sum_cents")),
          struct(lit("missing_conv").as("scope"), col("m_n").as("doc_count"),
            lit(0L).as("sum_cents")))).as("r"))
        .select(col("r.scope").as("scope"), col("r.doc_count").as("doc_count"),
          col("r.sum_cents").as("sum_cents"))
        .orderBy(col("scope"))
    }),

    // ES `date_range` aggregation with keyed buckets (the from/to
    // form users write for cohort windows): three keyed ranges over
    // the event timeline, each with doc_count, distinct users, and
    // exact cents. CASE bucketing on the raw timestamp, one
    // partial+final aggregate on a 3-key space.
    "search_facets_date_range" -> ((s, dir) => {
      val bucket = when(col("ts") < to_timestamp(lit("2024-02-01 00:00:00")), "early")
        .when(col("ts") < to_timestamp(lit("2024-04-01 00:00:00")), "spring")
        .otherwise("late")
      Tables(s, dir, "events")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("doc_count"),
          countDistinct(col("user_id")).as("n_users"),
          sum(cents).as("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // ES `ip_range` aggregation. The fixtures carry no addresses, so
    // each event gets a DETERMINISTIC synthetic IPv4 derived from its
    // user key by the same modular spread the geo family documents
    // (GeoQueries): ip32 = pmod(user_id·2654435761, 2³²) — fixture
    // synthesis, not an operator; a real deployment reads stored
    // addresses. pmod (not %) keeps ip32 in [0, 2³²) even past the
    // int64 product wrap at user_id ≳ 3.5e9; the DuckDB twin's plain %
    // agrees wherever the product doesn't wrap (any realistic oracle
    // fixture — DuckDB errors on int64 overflow rather than wrapping).
    // Buckets are the four /2 CIDR blocks; rendering to dotted quads is
    // shared-text integer arithmetic (DIV vs //).
    "search_facets_ip_range" -> ((s, dir) =>
      Tables(s, dir, "events")
        .withColumn("ip32", pmod(col("user_id") * 2654435761L, lit(4294967296L)))
        .withColumn("bucket",
          concat((expr("ip32 DIV 1073741824") * 64).cast(StringType),
            lit(".0.0.0/2")))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("doc_count"),
          expr(dottedQuadExpr("DIV", "min(ip32)")).as("min_ip"),
          expr(dottedQuadExpr("DIV", "max(ip32)")).as("max_ip"))
        .orderBy(col("bucket"))),

    // ES `span_or` — the union of span clauses: every occurrence of
    // ANY of {scan, merge} is a span. Served from the positional
    // postings artifact with In(term) pushed into the range-sorted
    // scan (row-group skip); per doc the union is sum(tf) spans, the
    // earliest span start, and how many clauses matched. Posting-list
    // cost, never corpus cost.
    "search_span_or" -> ((s, dir) => {
      val (postings, _, _) = SearchQueries.materializedPostings(s, dir)
      postings.filter(col("term").isin("scan", "merge"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_spans"),
          min(array_min(col("positions"))).cast(LongType).as("first_pos"),
          count(lit(1)).as("n_clauses"))
        .orderBy(col("doc_id"))
    }),

    // ES `span_first` — clause 'join' with end ≤ 8: the span must lie
    // entirely within the first 8 positions, i.e. 0-based start ≤ 7
    // for a single-term clause. One pruned posting probe + a per-doc
    // HOF over the position array.
    "search_span_first" -> ((s, dir) => {
      val (postings, _, _) = SearchQueries.materializedPostings(s, dir)
      postings.filter(col("term") === "join")
        .withColumn("w", filter(col("positions"), p => p <= lit(7)))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"),
          size(col("w")).cast(LongType).as("n_in_window"),
          array_min(col("w")).cast(LongType).as("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // ES `common` terms query (the pre-BM25 stopword-aware match):
    // query terms are split by DOCUMENT FREQUENCY at
    // cutoff_frequency=0.5 — low-frequency terms ('dup' here) are
    // REQUIRED (AND semantics), high-frequency terms ('the', 'a',
    // 'vector' — stopword-ish in this corpus) only contribute score.
    // The df split is computed from the corpus, not hardcoded: one
    // 1-row stats aggregate broadcasts, then one scan filters on the
    // required terms and scores by summed tf of every query term.
    // Exact integer scoring ⇒ hash-oracle-able.
    "search_common_terms" -> ((s, dir) => {
      val qTerms = Seq("dup", "vector", "the", "a")
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id") +:
          qTerms.map(t => SearchQueries.tfOf("text", t).cast(LongType).as(s"tf_$t")): _*)
      val stats = scored.agg(
        count(lit(1)).as("n_docs"),
        qTerms.map(t =>
          sum((col(s"tf_$t") > 0).cast(LongType)).as(s"df_$t")): _*)
      scored.crossJoin(broadcast(stats))
        // required: every LOW-frequency term (df·2 ≤ n_docs) must match
        .filter(qTerms.map(t =>
          (col(s"df_$t") * 2 > col("n_docs")) || col(s"tf_$t") > 0)
          .reduce(_ && _))
        .withColumn("score", qTerms.map(t => col(s"tf_$t")).reduce(_ + _))
        .withColumn("n_high_matched", qTerms.map(t =>
          ((col(s"df_$t") * 2 > col("n_docs")) && col(s"tf_$t") > 0)
            .cast(LongType)).reduce(_ + _))
        .select(col("doc_id"), col("score"), col("n_high_matched"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    }),

    // ES sliced scroll — `slice: {id: 1, max: 4}` + `search_after`
    // paging: the corpus is split into 4 disjoint slices by a
    // deterministic hash of the document key (pmod(doc_id·2654435761,
    // 4) — ES slices on a hash of `_id` the same way), and this
    // client reads slice 1's SECOND page of 20 in doc_id order. pmod
    // (not %) is what makes the 4 slices a DISJOINT COVER at any id
    // magnitude: past doc_id ≈ 3.5e9 the int64 product wraps negative
    // and % would emit remainders in (-4, 0] that match no slice; the
    // DuckDB twin's plain % agrees wherever the product doesn't wrap
    // (all oracle fixtures — DuckDB errors on overflow, not wraps).
    // The slice predicate is a codegen'd scan filter — 4 clients each
    // scan-filter their quarter in parallel, the ES contract for
    // parallel reindex/export; at 100 TB each slice is an
    // independent ~25 TB scan with no coordination.
    "search_scroll_slice" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .filter(pmod(col("doc_id") * 2654435761L, lit(4)) === 1)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .offset(20).limit(20)),

    // ES `post_filter` — the search-body field whose entire point is
    // SCOPE ASYMMETRY: aggregations are computed over the QUERY scope
    // (docs matching 'data'), while hits are additionally filtered by
    // the post_filter (lang = en) — the faceted-navigation contract
    // (click a facet, the other facets' counts must not collapse).
    // Output stacks both result sets ES returns in one response:
    // ('agg', lang, scope_count) rows over ALL langs in scope +
    // ('hit', doc_id, tf) rows for the post-filtered top-10. One
    // shared scan feeds both collectors; the agg is a bounded-key
    // partial+final, the hits a TakeOrderedAndProject.
    "search_post_filter" -> ((s, dir) => {
      val scope = Tables(s, dir, "documents")
        .withColumn("tf_data", SearchQueries.tfOf("text", "data"))
        .filter(col("tf_data") > 0)
      val aggs = scope.groupBy(col("lang"))
        .agg(count(lit(1)).as("v"))
        .select(lit("agg").as("row_type"), col("lang").as("key"), col("v"))
      val hits = scope.filter(col("lang") === "en")
        .orderBy(col("tf_data").desc, col("doc_id")).limit(10)
        .select(lit("hit").as("row_type"),
          col("doc_id").cast("string").as("key"),
          col("tf_data").cast(LongType).as("v"))
      aggs.unionByName(hits).orderBy(col("row_type"), col("key"))
    }),

    // ES `moving_avg` models `simple`, `linear`, `ewma` (window 3)
    // over a date_histogram — with `holt` (search_holt_forecast) and
    // `holt_winters` (search_holt_winters, below) this completes
    // every ES 6.6 moving_avg model (ES itself deprecated moving_avg
    // for moving_fn in 6.4). All three here are CLOSED FORMS over the 3-bucket
    // window, so the usual recurrence floats vanish into exact integer
    // micro-units: simple = Σ·1e6 DIV 3; linear = (1·x₋₃+2·x₋₂+3·x₋₁)
    // ·1e6 DIV 6; ewma α=0.3 unrolls to (49·x₋₃+21·x₋₂+30·x₋₁)·1e6
    // DIV 100 (weights are exact rationals over a fixed window).
    // Wrap-free while daily counts < 10¹¹. The window runs over the
    // BOUNDED bucket list (days), the corpus-scale work is the one
    // histogram agg — the search_pipeline_aggs shape.
    "search_moving_avg_models" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
        .withColumn("x1", lag(col("doc_count"), 1).over(w))
        .withColumn("x2", lag(col("doc_count"), 2).over(w))
        .withColumn("x3", lag(col("doc_count"), 3).over(w))
        .filter(col("x3").isNotNull)
        .select(col("day").as("window_start"), col("doc_count"),
          expr("(x3 + x2 + x1) * 1000000 DIV 3").as("simple_x1e6"),
          expr("(x3 + 2 * x2 + 3 * x1) * 1000000 DIV 6").as("linear_x1e6"),
          expr("(49 * x3 + 21 * x2 + 30 * x1) * 1000000 DIV 100").as("ewma_x1e6"))
        .orderBy(col("window_start"))
    }),

    // ES `moving_avg` model `holt_winters` (additive, period 7) over
    // the daily histogram — triple exponential smoothing: level,
    // trend, and a PERIOD-LENGTH seasonal state vector, the last
    // moving_avg model. Seeding is the textbook additive init (level =
    // first-season mean, trend = mean season-over-season delta,
    // seasonals = first-season residuals); the recurrence with
    // α=3/10, β=1/10, γ=3/10 then runs t = L..n−1 on a ×100
    // fixed-point carrier:
    //   l_t = (3(x_t − s[t mod 7]) + 7(l + b)) div 10
    //   b_t = ((l_t − l) + 9b)                div 10
    //   s[t mod 7] = (3(x_t − l_t) + 7·s[t mod 7]) div 10
    // Every step is integer multiply + `div`, which truncates toward
    // zero in BOTH engines (Spark IntegralDivide and DuckDB `//` —
    // verified on negative operands, where a floor-semantics engine
    // would diverge: seasonal residuals go negative by construction).
    // Scale shape: identical to holt — the corpus-scale work is the
    // one partial+final histogram agg; the inherently-sequential
    // recurrence folds through one aggregate() HOF over the BOUNDED
    // (days-long) bucket array on a single row, never a driver loop.
    // The DuckDB twin walks the same recurrence as a recursive CTE
    // carrying the seasonal vector as a list.
    "search_holt_winters" -> ((s, dir) => {
      val L = HwPeriod
      // l_t / b_t / s_t inlined (HOF lambdas have no let-binding) —
      // the idx sub-expressions reference the PRE-update state, so
      // textual duplication is semantically safe.
      val idx1 = s"(pmod(acc.i, $L) + 1)" // 1-based seasonal slot of t
      val lNew = s"((3 * (x.x - element_at(acc.s, $idx1)) + 7 * (acc.l + acc.b)) div 10)"
      val bNew = s"((($lNew) - acc.l + 9 * acc.b) div 10)"
      val sNew = s"((3 * (x.x - ($lNew)) + 7 * element_at(acc.s, $idx1)) div 10)"
      val sUpd = s"concat(slice(acc.s, 1, pmod(acc.i, $L)), array($sNew), " +
        s"slice(acc.s, pmod(acc.i, $L) + 2, $L - pmod(acc.i, $L) - 1))"
      val step = s"""struct(
        |  concat(acc.out, array(struct(
        |    x.day as day, x.x div 100 as doc_count,
        |    $lNew as l, $bNew as b, $sNew as s_emit,
        |    ($lNew) + ($bNew) + element_at($sUpd, pmod(acc.i + 1, $L) + 1) as fc))) as out,
        |  $lNew as l, $bNew as b, $sUpd as s, acc.i + 1 as i)""".stripMargin
      Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg((count(lit(1)) * 100).as("x"))
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("xs"))
        .withColumn("l0", expr(
          s"aggregate(slice(xs, 1, $L), 0L, (a, e) -> a + e.x) div $L"))
        .withColumn("b0", expr(
          s"(aggregate(slice(xs, ${L + 1}, $L), 0L, (a, e) -> a + e.x) - " +
          s"aggregate(slice(xs, 1, $L), 0L, (a, e) -> a + e.x)) div ${L * L}"))
        .withColumn("s0", expr(s"transform(slice(xs, 1, $L), e -> e.x - l0)"))
        .select(explode(expr(
          s"""aggregate(
             |  slice(xs, ${L + 1}, size(xs) - $L),
             |  struct(
             |    cast(array() as array<struct<day:timestamp,doc_count:bigint,
             |                                 l:bigint,b:bigint,s_emit:bigint,fc:bigint>>) as out,
             |    l0 as l, b0 as b, s0 as s, $L as i),
             |  (acc, x) -> $step,
             |  acc -> acc.out)""".stripMargin)).as("h"))
        .select(col("h.day").as("day"), col("h.doc_count").as("doc_count"),
          col("h.l").as("level_x100"), col("h.b").as("trend_x100"),
          col("h.s_emit").as("season_x100"), col("h.fc").as("forecast_next_x100"))
        .orderBy(col("day"))
    }),

    // ES `percentiles_bucket` — p25/p50/p75 over a date_histogram's
    // per-bucket doc_counts (the "typical daily volume" panel),
    // computed EXACTLY in integer micro-units: the sibling buckets
    // sort into one array (bucket cardinality is days — bounded, the
    // sum-bucket contract), then linear interpolation at rank
    // (n−1)·p/100 is carried as v_lo·1e6 + (v_hi−v_lo)·rem·10⁴ with
    // rem = (n−1)·p mod 100 — pure int64 (wrap-free while bucket
    // counts < ~9·10¹², far past any daily count), so the twin
    // hash-matches with no float interpolation in either engine.
    // This closes the ES 6.6 pipeline-agg family (stats/min/max/avg/
    // sum_bucket, bucket_script/selector/sort, cumulative_sum,
    // derivative, serial_diff, moving_fn shipped earlier).
    "search_pipeline_percentiles_bucket" -> ((s, dir) => {
      val buckets = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
      def pExpr(p: Int): Column = {
        val pos = s"((n - 1) * $p)"
        def at(i: String) = s"element_at(a, CAST($i AS INT))"
        expr(s"${at(s"$pos DIV 100 + 1")} * 1000000 + " +
          s"(${at(s"least($pos DIV 100 + 2, n)")} - " +
          s"${at(s"$pos DIV 100 + 1")}) * ($pos % 100) * 10000")
          .as(s"p${p}_x1e6")
      }
      buckets
        .agg(array_sort(collect_list(col("doc_count"))).as("a"))
        .withColumn("n", size(col("a")).cast(LongType))
        .select(col("n").as("n_buckets"), pExpr(25), pExpr(50), pExpr(75))
    }),

    // ES `extended_stats_bucket` over the same sibling buckets:
    // count/min/max/sum exact, avg and POPULATION variance in integer
    // micro-units via the cross-multiplied moments (n·Σx² − (Σx)²)
    // carried in DECIMAL(38,0) — the anomaly-hours/t-test carrier —
    // then cast to int64 within the documented domain (variance·1e6
    // fits while per-bucket counts < 3·10⁶; past that drop the ppm
    // scaling — the metric, not the carrier, outgrows 64 bits).
    // σ/std_bounds are presentation-layer sqrt of the exact variance.
    "search_pipeline_extended_stats_bucket" -> ((s, dir) => {
      val d38 = DecimalType(38, 0)
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
        .agg(count(lit(1)).as("n_buckets"),
          min(col("doc_count")).as("min_bucket"),
          max(col("doc_count")).as("max_bucket"),
          sum(col("doc_count")).cast(LongType).as("sum_buckets"),
          sum(col("doc_count").cast(d38) * col("doc_count").cast(d38))
            .cast(d38).as("sum_sq"))
        .select(col("n_buckets"), col("min_bucket"), col("max_bucket"),
          col("sum_buckets"),
          // IntegralDivide (DIV) on the decimal carriers returns LONG
          // with exact truncation — matching DuckDB's `//` floor on
          // the non-negative operands (decimal `/` would HALF_UP-round
          // at result scale first and can diverge by one ulp).
          expr("CAST(sum_buckets AS DECIMAL(38,0)) * 1000000 DIV n_buckets")
            .as("avg_x1e6"),
          expr("""(CAST(n_buckets AS DECIMAL(38,0)) * sum_sq -
                 | CAST(sum_buckets AS DECIMAL(38,0)) *
                 | CAST(sum_buckets AS DECIMAL(38,0))) * 1000000 DIV
                 | (CAST(n_buckets AS DECIMAL(38,0)) *
                 |  CAST(n_buckets AS DECIMAL(38,0)))""".stripMargin)
            .as("variance_x1e6"))
    }),

    // ES `_mget` — the multi-get-by-id-list endpoint (GET /index/_mget
    // {"ids": [...]}): one entry PER REQUESTED ID, in request order,
    // with found=false rows for ids the index lacks and duplicates
    // honored (ES answers each entry independently). The engine form:
    // the request ids compile to ONE `In` filter pushed to the parquet
    // scan — at 100 TB the scan touches only row groups whose min/max
    // straddle a requested key (the same footer-stats pruning a real
    // point-read service leans on) — and the tiny request list
    // LEFT-joins the hits to restore request order and found flags
    // (BroadcastHashJoin; the ≤k-row hit set is the build side).
    "search_mget" -> ((s, dir) => {
      import s.implicits._
      // 42 twice (duplicate entry), 999999999 absent at every SF.
      val ids = Seq(3L, 999999999L, 7L, 42L, 42L)
      val req = ids.zipWithIndex
        .map { case (id, ord) => (ord.toLong, id) }
        .toDF("req_ord", "doc_id")
      val hits = Tables(s, dir, "documents")
        .filter(col("doc_id").isin(ids.distinct: _*))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          lit(true).as("hit"))
      req.join(broadcast(hits), Seq("doc_id"), "left")
        .select(col("req_ord"), col("doc_id"),
          coalesce(col("hit"), lit(false)).as("found"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy(col("req_ord"))
    }),

    // ES `moving_fn` with an ARBITRARY script — the general form the
    // four named models (simple/linear/ewma via moving_avg, holt,
    // holt_winters, moving_fn(sum)) specialize: ES hands the script
    // the window's `values` ARRAY and takes back one number. The
    // engine primitive is exactly that: collect_list over a row-frame
    // window materializes the values array per bucket, then any
    // HOF expression computes the script body. Two representative
    // scripts, both integer-exact so the twin hash-matches:
    // mid-range ((max+min)·1e6 DIV 2, the smoothing ES docs use as
    // the custom-script example) and the scaled squared deviation
    // Σ(n·x−s)² (a volatility panel — integer because the mean is
    // carried as the (n·x−s) cross-multiply, never divided).
    // The squared deviation rides the DECIMAL(38,0) carrier (HUGEINT
    // in the twin) — in 64-bit Long the square wraps SILENTLY past
    // per-day doc_count ≈ 8.6e8 while DuckDB raises, a silent
    // engine/oracle divergence exactly at the 100 TB regime (round-8
    // advice). The final BIGINT cast keeps the same documented domain
    // as the other ppm metrics (overflow now surfaces as NULL/error,
    // never a wrapped value); past it, serve the carrier undowncast.
    // Scale shape: pipeline-agg contract — the corpus-scale work is
    // the one histogram agg; the window runs over the BOUNDED bucket
    // list, and partial leading windows are served (ES gives the
    // script whatever window exists), with w_size exposing the width.
    "search_moving_fn_scripted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day")).rowsBetween(-4, Window.currentRow)
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
        .withColumn("vals", collect_list(col("doc_count")).over(w))
        .withColumn("w_size", size(col("vals")).cast(LongType))
        .withColumn("w_sum", expr("aggregate(vals, 0L, (a, x) -> a + x)"))
        .select(col("day"), col("doc_count"), col("w_size"),
          expr("(array_max(vals) + array_min(vals)) * 1000000 DIV 2")
            .as("script_midrange_x1e6"),
          expr("""CAST(aggregate(vals, CAST(0 AS DECIMAL(38,0)),
                 |  (a, x) -> a + (CAST(w_size AS DECIMAL(38,0)) * x - w_sum)
                 |              * (CAST(w_size AS DECIMAL(38,0)) * x - w_sum))
                 |  AS BIGINT)""".stripMargin).as("script_sq_dev_nx2"))
        .orderBy(col("day"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "search_mget" ->
      """WITH req(req_ord, doc_id) AS (
        |  VALUES (0::BIGINT, 3::BIGINT), (1, 999999999), (2, 7),
        |         (3, 42), (4, 42))
        |SELECT req_ord, req.doc_id,
        |  d.doc_id IS NOT NULL AS found,
        |  d.lang, d.source, d.n_chars
        |FROM req LEFT JOIN documents d ON req.doc_id = d.doc_id
        |ORDER BY req_ord""".stripMargin,
    "search_moving_fn_scripted" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |wv AS (
        |  SELECT day, doc_count,
        |    list(doc_count) OVER (ORDER BY day
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vals
        |  FROM b)
        |SELECT day, doc_count,
        |  CAST(len(vals) AS BIGINT) AS w_size,
        |  (list_aggregate(vals, 'max') + list_aggregate(vals, 'min'))
        |    * 1000000 // 2 AS script_midrange_x1e6,
        |  CAST(list_sum(list_transform(vals,
        |    x -> (CAST(len(vals) AS HUGEINT) * x - list_sum(vals))
        |       * (CAST(len(vals) AS HUGEINT) * x - list_sum(vals)))) AS BIGINT)
        |    AS script_sq_dev_nx2
        |FROM wv ORDER BY day""".stripMargin,
    "search_significant_text" ->
      """WITH deduped AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |base AS (
        |  SELECT doc_id,
        |    list_contains(regexp_split_to_array(lower(text), '\s+'), 'dup') AS is_fg,
        |    unnest(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS term
        |  FROM deduped),
        |totals AS (
        |  SELECT CAST(sum(CASE WHEN is_fg THEN 1 ELSE 0 END) AS DOUBLE) AS fg_total,
        |         CAST(count(*) AS DOUBLE) AS bg_total
        |  FROM (SELECT DISTINCT doc_id, is_fg FROM base)),
        |per_term AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN is_fg THEN 1 ELSE 0 END) AS BIGINT) AS fg_docs,
        |    count(*) AS bg_docs
        |  FROM base GROUP BY term
        |  HAVING sum(CASE WHEN is_fg THEN 1 ELSE 0 END) >= 3),
        |r AS (
        |  SELECT term, fg_docs, bg_docs,
        |    fg_docs / fg_total AS fg_rate, bg_docs / bg_total AS bg_rate
        |  FROM per_term, totals)
        |SELECT term, fg_docs, bg_docs,
        |  round((fg_rate - bg_rate) * (fg_rate - bg_rate) / bg_rate, 9) AS chi2
        |FROM r WHERE fg_rate > bg_rate
        |ORDER BY chi2 DESC, term LIMIT 15""".stripMargin,
    "search_scripted_metric" ->
      s"""WITH m AS (
         |  SELECT event_type, $CentsSql AS cents,
         |    CASE WHEN CAST(json_extract_string(props, '$$.k') AS BIGINT) % 2 = 0
         |         THEN 1 ELSE 0 END AS premium
         |  FROM events)
         |SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN premium = 1 THEN cents * 2 ELSE cents END)
         |       AS BIGINT) AS weighted_cents,
         |  CAST(sum(premium) AS BIGINT) AS n_premium,
         |  CAST(sum(CASE WHEN premium = 1 THEN cents * 2 ELSE cents END)
         |       AS BIGINT) // count(*) AS avg_weighted_cents
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_global" ->
      s"""WITH m AS (
         |  SELECT event_type, $CentsSql AS cents,
         |    CASE WHEN event_type IN ('purchase', 'signup')
         |         THEN $CentsSql END AS conv_cents
         |  FROM events),
         |one AS (
         |  SELECT
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS q_n,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS BIGINT) AS q_cents,
         |    count(*) AS g_n, CAST(sum(cents) AS BIGINT) AS g_cents,
         |    CAST(sum(CASE WHEN conv_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m_n
         |  FROM m)
         |SELECT 'query' AS scope, q_n AS doc_count, q_cents AS sum_cents FROM one
         |UNION ALL
         |SELECT 'global', g_n, g_cents FROM one
         |UNION ALL
         |SELECT 'missing_conv', m_n, 0 FROM one
         |ORDER BY scope""".stripMargin,
    "search_facets_date_range" ->
      s"""SELECT CASE WHEN ts < TIMESTAMP '2024-02-01 00:00:00' THEN 'early'
         |            WHEN ts < TIMESTAMP '2024-04-01 00:00:00' THEN 'spring'
         |            ELSE 'late' END AS bucket,
         |  count(*) AS doc_count,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum($CentsSql) AS BIGINT) AS sum_cents
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_ip_range" ->
      s"""WITH ips AS (
         |  SELECT (user_id * 2654435761) % 4294967296 AS ip32 FROM events)
         |SELECT concat(CAST((ip32 // 1073741824) * 64 AS VARCHAR), '.0.0.0/2') AS bucket,
         |  count(*) AS doc_count,
         |  ${dottedQuadExpr("//", "min(ip32)")} AS min_ip,
         |  ${dottedQuadExpr("//", "max(ip32)")} AS max_ip
         |FROM ips GROUP BY 1 ORDER BY 1""".stripMargin,
    // Scan-computed twins of the index-served span queries (the
    // driver's gate proves index-served == scan-computed, the
    // search_span_near contract). Positions 0-based (i-1).
    "search_span_or" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i))
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(min(p) AS BIGINT) AS first_pos,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_clauses
        |FROM p WHERE tok IN ('scan', 'merge')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_span_first" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i))
        |SELECT doc_id, count(*) AS n_in_window,
        |  CAST(min(p) AS BIGINT) AS first_pos
        |FROM p WHERE tok = 'join' AND p <= 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_common_terms" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x = 'dup')) AS BIGINT) AS tf_dup,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x = 'vector')) AS BIGINT) AS tf_vector,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x = 'the')) AS BIGINT) AS tf_the,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x = 'a')) AS BIGINT) AS tf_a
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector,
        |    CAST(sum(CASE WHEN tf_the > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_the,
        |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_a
        |  FROM scored)
        |SELECT doc_id,
        |  tf_dup + tf_vector + tf_the + tf_a AS score,
        |  CAST((CASE WHEN df_dup * 2 > n_docs AND tf_dup > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN df_vector * 2 > n_docs AND tf_vector > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN df_the * 2 > n_docs AND tf_the > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN df_a * 2 > n_docs AND tf_a > 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_high_matched
        |FROM scored, stats
        |WHERE (df_dup * 2 > n_docs OR tf_dup > 0)
        |  AND (df_vector * 2 > n_docs OR tf_vector > 0)
        |  AND (df_the * 2 > n_docs OR tf_the > 0)
        |  AND (df_a * 2 > n_docs OR tf_a > 0)
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "search_scroll_slice" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE (doc_id * 2654435761) % 4 = 1
        |ORDER BY doc_id LIMIT 20 OFFSET 20""".stripMargin,
    "search_post_filter" ->
      """WITH scope AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        t -> t = 'data')) AS tf_data
        |  FROM documents),
        |sc AS (SELECT * FROM scope WHERE tf_data > 0),
        |a AS (
        |  SELECT 'agg' AS row_type, lang AS key, count(*) AS v
        |  FROM sc GROUP BY 2),
        |h AS (
        |  SELECT 'hit' AS row_type, CAST(doc_id AS VARCHAR) AS key,
        |    CAST(tf_data AS BIGINT) AS v
        |  FROM sc WHERE lang = 'en'
        |  ORDER BY tf_data DESC, doc_id LIMIT 10)
        |SELECT * FROM a UNION ALL SELECT * FROM h
        |ORDER BY row_type, key""".stripMargin,
    "search_moving_avg_models" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |l AS (
        |  SELECT day, doc_count,
        |    lag(doc_count, 1) OVER (ORDER BY day) AS x1,
        |    lag(doc_count, 2) OVER (ORDER BY day) AS x2,
        |    lag(doc_count, 3) OVER (ORDER BY day) AS x3
        |  FROM b)
        |SELECT day AS window_start, doc_count,
        |  (x3 + x2 + x1) * 1000000 // 3 AS simple_x1e6,
        |  (x3 + 2 * x2 + 3 * x1) * 1000000 // 6 AS linear_x1e6,
        |  (49 * x3 + 21 * x2 + 30 * x1) * 1000000 // 100 AS ewma_x1e6
        |FROM l WHERE x3 IS NOT NULL
        |ORDER BY window_start""".stripMargin,
    // The same truncating-div recurrence as a recursive CTE; the
    // seasonal vector rides the recursion as a list, updated by
    // slice-concat at the t mod 7 slot. `//` truncates toward zero in
    // DuckDB (verified on negatives) — identical to Spark's div.
    "search_holt_winters" -> {
      val L = HwPeriod
      val idx1 = s"((r.t + 1) % $L) + 1" // 1-based seasonal slot of the new t
      val lNew = s"(3*(x.x - r.s[$idx1]) + 7*(r.l + r.b)) // 10"
      val sNew = s"(3*(x.x - ($lNew)) + 7*r.s[$idx1]) // 10"
      val sUpd = s"r.s[1:((r.t + 1) % $L)] || [$sNew] || r.s[((r.t + 1) % $L) + 2:$L]"
      s"""WITH RECURSIVE base AS (
         |  SELECT date_trunc('day', ts) AS d, count(*)*100 AS x
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |xs AS (SELECT row_number() OVER (ORDER BY d) - 1 AS t, d, x FROM base),
         |init AS (
         |  SELECT
         |    (SELECT CAST(sum(x) AS BIGINT) FROM xs WHERE t < $L) // $L AS l0,
         |    ((SELECT CAST(sum(x) AS BIGINT) FROM xs WHERE t >= $L AND t < ${2 * L})
         |     - (SELECT CAST(sum(x) AS BIGINT) FROM xs WHERE t < $L)) // ${L * L} AS b0),
         |s0 AS (
         |  SELECT list(x - (SELECT l0 FROM init) ORDER BY t) AS s
         |  FROM xs WHERE t < $L),
         |rec AS (
         |  SELECT ${L - 1} AS t, CAST(NULL AS TIMESTAMP) AS d, CAST(NULL AS BIGINT) AS cnt,
         |         (SELECT l0 FROM init) AS l, (SELECT b0 FROM init) AS b,
         |         (SELECT s FROM s0) AS s,
         |         CAST(NULL AS BIGINT) AS s_emit, CAST(NULL AS BIGINT) AS fc
         |  UNION ALL
         |  SELECT x.t, x.d, x.x // 100 AS cnt,
         |    $lNew AS l,
         |    (($lNew) - r.l + 9*r.b) // 10 AS b,
         |    $sUpd AS s,
         |    $sNew AS s_emit,
         |    ($lNew) + ((($lNew) - r.l + 9*r.b) // 10)
         |      + ($sUpd)[((x.t + 1) % $L) + 1] AS fc
         |  FROM rec r JOIN xs x ON x.t = r.t + 1)
         |SELECT d AS day, cnt AS doc_count, l AS level_x100, b AS trend_x100,
         |  s_emit AS season_x100, fc AS forecast_next_x100
         |FROM rec WHERE d IS NOT NULL ORDER BY day""".stripMargin
    },

    "search_pipeline_percentiles_bucket" -> {
      def p(pct: Int): String = {
        val pos = s"((n - 1) * $pct)"
        s"a[$pos // 100 + 1] * 1000000 + " +
          s"(a[least($pos // 100 + 2, n)] - a[$pos // 100 + 1]) * " +
          s"($pos % 100) * 10000 AS p${pct}_x1e6"
      }
      s"""WITH b AS (
         |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1),
         |s AS (
         |  SELECT list_sort(list(doc_count)) AS a,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM b)
         |SELECT n AS n_buckets, ${p(25)}, ${p(50)}, ${p(75)}
         |FROM s""".stripMargin
    },
    "search_pipeline_extended_stats_bucket" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |s AS (
        |  SELECT count(*) AS n, min(doc_count) AS mn, max(doc_count) AS mx,
        |    sum(doc_count) AS sm,
        |    sum(CAST(doc_count AS HUGEINT) * doc_count) AS q
        |  FROM b)
        |SELECT CAST(n AS BIGINT) AS n_buckets,
        |  CAST(mn AS BIGINT) AS min_bucket,
        |  CAST(mx AS BIGINT) AS max_bucket,
        |  CAST(sm AS BIGINT) AS sum_buckets,
        |  CAST((CAST(sm AS HUGEINT) * 1000000) // n AS BIGINT) AS avg_x1e6,
        |  CAST(((CAST(n AS HUGEINT) * q - CAST(sm AS HUGEINT) * CAST(sm AS HUGEINT))
        |        * 1000000) // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT))
        |       AS BIGINT) AS variance_x1e6
        |FROM s""".stripMargin)
}
