package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Mergeable sketches + corpus scaling-law diagnostics.
  *
  * The 100 TB problem these solve: exact `COUNT(DISTINCT x)`, exact
  * set-overlap and exact membership all need a full shuffle (or
  * broadcast) of the distinct key space, and a cross-SOURCE overlap
  * matrix needs it per source pair. The sketch operators here
  * (HyperLogLog registers, KMV/theta, the Bloom membership filter —
  * with CMS counts and HDR quantiles elsewhere, the five mergeable
  * families) reduce each key space to a constant-size summary that
  * merges with `max`/top-k/`bit_or` — the partial+final agg shape —
  * after which every estimate and set operation is arithmetic on
  * summaries. All are ENGINE-OWNED and fully deterministic
  * (md5-derived hashes, integer register/bit math), so unlike
  * `approx_count_distinct` (whose HLL++ is an implementation detail of
  * one engine) the whole pipeline is DuckDB-oracle-checkable bit for
  * bit; each query also reports the exact value next to the estimate,
  * which doubles as a standing accuracy measurement.
  *
  * The scaling-law queries (Heaps vocabulary growth, Zipf rank-frequency)
  * are the corpus-composition diagnostics read before committing a
  * tokenizer/vocab budget to a crawl: both are exact integer accounting
  * in one or two vocabulary-shaped aggregations.
  */
object CorpusStatsQueries {

  /** Nonempty whitespace tokens with their source/doc. */
  private def srcTokens(s: SparkSession, dir: String): DataFrame =
    Tables.forCompute(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Engine-owned HyperLogLog (Flajolet et al. 2007), m = 64 registers,
    // per-source distinct-token estimate. Register build is ONE
    // partial+final `max` agg keyed (source, bucket) — 64 rows per
    // source regardless of corpus size, the textbook mergeable-sketch
    // shape (cross-partition merge of HLL registers IS max). The
    // indicator sum Σ2^(-M_j) is carried as the INTEGER Σ2^(33-M_j)
    // (every term a power of two — dyadic rationals scale to exact
    // integers), so the raw estimate α·m²·2^33/S is one integer DIV:
    // no float ever crosses a row boundary and the DuckDB twin matches
    // hash-exact. Bucket and rank come from independent md5 substrings
    // (the repo's cross-engine hash convention). The exact distinct
    // count per source is joined alongside — at fixture scale it is the
    // standing accuracy check (err_pm ~ 1.04/√64 ≈ 130‰ theoretical);
    // at 100 TB it is the column you drop.
    "llm_hll_distinct" -> ((s, dir) => {
      val toks = srcTokens(s, dir)
      val hashed = toks.select(col("source"), col("token"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast(LongType) % 64)
          .as("bucket"),
        conv(substring(md5(col("token")), 9, 8), 16, 10).cast(LongType).as("w"))
      val regs = hashed
        .withColumn("rho",
          when(col("w") === 0, lit(33)).otherwise(lit(33) - length(bin(col("w")))))
        .groupBy(col("source"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val allB = Tables(s, dir, "documents").select(col("source")).distinct()
        .select(col("source"), explode(sequence(lit(0), lit(63))).as("bucket"))
      val per = allB.join(regs, Seq("source", "bucket"), "left")
        .na.fill(0, Seq("m"))
        .groupBy(col("source"))
        .agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), 33 - m)")).as("s_sum"),
          count_if(col("m") > 0).as("v_nonzero"))
        .withColumn("raw_est",
          expr("(CAST(709 AS BIGINT) * 4096 * 8589934592) DIV (s_sum * 1000)"))
        // Small-range correction (Flajolet §4): below 2.5·m the raw
        // estimator is badly biased — switch to linear counting on the
        // empty-bucket count, m·ln(m/(m−V)). The ln runs on one
        // integer-derived double per SOURCE row (never summed across
        // rows) and is rounded to a long immediately, so the
        // cross-engine float discipline holds.
        .withColumn("est_distinct",
          when(col("raw_est") <= 160 && col("v_nonzero") < 64,
            round(lit(64.0) * log(lit(64.0) /
              (lit(64) - col("v_nonzero")).cast(DoubleType)), 0).cast(LongType))
            .otherwise(col("raw_est")))
      val exact = toks.groupBy(col("source"))
        .agg(countDistinct(col("token")).as("exact_distinct"))
      per.join(exact, Seq("source"))
        .withColumn("err_pm",
          expr("(abs(est_distinct - exact_distinct) * 1000) DIV exact_distinct"))
        .select(col("source"), col("v_nonzero"), col("s_sum"),
          col("est_distinct"), col("exact_distinct"), col("err_pm"))
        .orderBy(col("source"))
    }),

    // The NATIVE-AGGREGATE form of the HLL estimate: the same register
    // arithmetic as llm_hll_distinct, but run through the engine's
    // custom Catalyst `TypedImperativeAggregate`
    // ([[graft.functions.HllEstAgg]], registered by GraftExtensions as
    // `hll_est`) — partial state is a 64-BYTE buffer per group instead
    // of 64 (group, bucket) rows, merge is bytewise max inside the
    // normal partial+final aggregation. Same DuckDB twin as the
    // compositional query ⇒ the custom aggregate is oracle-checked bit
    // for bit, and CorpusStatsSpec pins native == compositional.
    "llm_hll_native" -> ((s, dir) => {
      srcTokens(s, dir)
        .groupBy(col("source"))
        .agg(call_function("hll_est", col("token")).as("est_distinct"))
        .orderBy(col("source"))
    }),

    // KMV/theta sketch (Bar-Yossef et al. 2002; the Datasketches theta
    // family) with SET OPERATIONS: per-source k=32 minimum hash values
    // of distinct document contents, then for every source pair the
    // union estimate from the merged sketch and the intersection by
    // inclusion-exclusion — the cross-feed overlap matrix computed from
    // constant-size summaries instead of a corpus² join. est = (k−1)·H /
    // h_(k) on a 56-bit md5 domain (so (k−1)·H stays in BIGINT), exact integer DIV; a sketch smaller
    // than k IS its complete set, so the estimate degrades to exact
    // (the standard KMV small-set rule, applied to the merged union
    // sketch too — if the union holds < k values both inputs were
    // complete). The exact intersection rides alongside as the accuracy
    // check: one linear equi-join on the 56-bit hash, the thing the
    // sketch replaces at scale.
    "llm_kmv_overlap" -> ((s, dir) => {
      val k = 32
      val H = 72057594037927936L // 2^56
      val hashed = Tables.forCompute(s, dir, "documents")
        .select(col("source"),
          conv(substring(md5(col("text")), 1, 14), 16, 10).cast(LongType).as("h"))
        .distinct()
      val w = Window.partitionBy(col("source")).orderBy(col("h"))
      val sketch = hashed.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
      val perSrc = sketch.groupBy(col("source"))
        .agg(max(col("h")).as("kth"), count(lit(1)).as("n_sk"))
        .join(hashed.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct")),
          Seq("source"))
        .withColumn("est", when(col("n_sk") < k, col("exact_distinct"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * $H) DIV kth")))
      val a = perSrc.select(col("source").as("src_1"), col("est").as("est_1"))
      val b = perSrc.select(col("source").as("src_2"), col("est").as("est_2"))
      // source-count × source-count pair frame: both sides are
      // per-source aggregates (a handful of rows at any corpus size),
      // broadcast keeps it a BNLJ over O(sources²), never a shuffle.
      val pairs = a.crossJoin(broadcast(b)).filter(col("src_1") < col("src_2"))
      val sk = sketch.select(col("source"), col("h"))
      val u1 = pairs.join(sk.withColumnRenamed("source", "src_1"), Seq("src_1"))
        .select(col("src_1"), col("src_2"), col("h"))
      val u2 = pairs.join(sk.withColumnRenamed("source", "src_2"), Seq("src_2"))
        .select(col("src_1"), col("src_2"), col("h"))
      val wu = Window.partitionBy(col("src_1"), col("src_2")).orderBy(col("h"))
      val uk = u1.unionByName(u2).distinct()
        .withColumn("rn", row_number().over(wu)).filter(col("rn") <= k)
        .groupBy(col("src_1"), col("src_2"))
        .agg(max(col("h")).as("kth_u"), count(lit(1)).as("n_u"))
        .withColumn("est_union", when(col("n_u") < k, col("n_u"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * $H) DIV kth_u")))
      val exactInter = hashed.select(col("source").as("src_1"), col("h"))
        .join(hashed.select(col("source").as("src_2"), col("h")), Seq("h"))
        .filter(col("src_1") < col("src_2"))
        .groupBy(col("src_1"), col("src_2"))
        .agg(count(lit(1)).as("exact_intersection"))
      pairs
        .join(uk.select(col("src_1"), col("src_2"), col("est_union")),
          Seq("src_1", "src_2"))
        .join(exactInter, Seq("src_1", "src_2"), "left")
        .na.fill(0, Seq("exact_intersection"))
        .withColumn("est_intersection",
          greatest(lit(0L), col("est_1") + col("est_2") - col("est_union")))
        .select(col("src_1"), col("src_2"), col("est_1"), col("est_2"),
          col("est_union"), col("est_intersection"), col("exact_intersection"))
        .orderBy(col("src_1"), col("src_2"))
    }),

    // Heaps-law vocabulary growth — distinct types vs cumulative tokens
    // at ten corpus prefixes (doc_id order): the curve that says whether
    // a vocabulary budget saturates or keeps growing with crawl size,
    // and the dataset-ordering twin of llm_ngram_novelty. No global
    // sort/cumsum anywhere: prefix cutoffs derive from max(doc_id)
    // alone (dense surrogate ids — the ingest key), each doc/type
    // contributes to the deciles it falls under via a bounded ×10
    // explode, and both sides collapse in one partial+final agg keyed
    // by decile. The type side reuses the first-occurrence min-agg
    // (vocabulary-shaped, never broadcast).
    "llm_vocab_growth" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(tokens(col("text")), t => length(t) > 0)).as("n_toks"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val docSide = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("n_toks"), col("mx"),
          explode(sequence(lit(1), lit(10))).as("decile"))
        .filter(col("doc_id") <= expr("(mx * decile) DIV 10"))
        .groupBy(col("decile"))
        .agg(max(expr("(mx * decile) DIV 10")).as("cutoff_doc_id"),
          count(lit(1)).as("n_docs_cum"),
          sum(col("n_toks")).as("n_tokens_cum"))
      val firstOcc = srcTokens(s, dir)
        .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
      val typeSide = firstOcc.crossJoin(broadcast(mx))
        .select(col("first_doc"), col("mx"),
          explode(sequence(lit(1), lit(10))).as("decile"))
        .filter(col("first_doc") <= expr("(mx * decile) DIV 10"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_types_cum"))
      docSide.join(typeSide, Seq("decile"))
        .select(col("decile"), col("cutoff_doc_id"), col("n_docs_cum"),
          col("n_tokens_cum"), col("n_types_cum"))
        .orderBy(col("decile"))
    }),

    // Engine-owned BLOOM FILTER membership screen — the fifth sketch
    // family (counts/CMS, distincts/HLL, sets/KMV, quantiles/HDR, and
    // now membership), and the production form of incremental dedup's
    // "have we seen this content?" at 100 TB: the exact content-hash
    // set is corpus-sized, the filter is m=2²⁰ bits = 16,384 BIGINT
    // words — buildable as ONE bit_or agg (merge across partitions IS
    // bitwise OR, the mergeable-sketch contract again) and small
    // enough to broadcast to every probe. k=4 positions by
    // Kirsch-Mitzenmacher double hashing (h1 + j·h2 mod m) from two
    // independent md5 halves — exact integer, so bits, verdicts and
    // the false-positive accounting all hash-compare. The batch is
    // screened against the corpus filter, then the exact join
    // (the thing the filter avoids at scale) classifies each "maybe"
    // into true duplicate vs false positive, reported per source with
    // the no-false-negative invariant baked into the oracle compare.
    "llm_dedup_bloom" -> ((s, dir) => {
      val m = 1048576L // 2^20 bits
      def h1(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)
      def h2(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 9, 8), 16, 10).cast(LongType)
      val docs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          h1(col("text")).as("hA"), h2(col("text")).as("hB"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val words = corpus
        .select(explode(sequence(lit(0), lit(3))).as("j"), col("hA"), col("hB"))
        .select(expr(s"pmod(hA + j * hB, $m)").as("pos"))
        .select(expr("pos DIV 64").as("word"), expr("pos % 64").as("bit"))
        .groupBy(col("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").as("bits"))
      val probed = batch
        .select(col("doc_id"), col("source"), col("hA"), col("hB"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("pos", expr(s"pmod(hA + j * hB, $m)"))
        .withColumn("word", expr("pos DIV 64"))
        .withColumn("bit", expr("pos % 64"))
        .join(broadcast(words), Seq("word"), "left")
        .withColumn("hit",
          expr("(shiftright(coalesce(bits, CAST(0 AS BIGINT)), CAST(bit AS INT)) & 1)"))
        .groupBy(col("doc_id"), col("source"))
        .agg(min(col("hit")).as("maybe_seen"))
      val exact = batch.join(
        corpus.select(col("text")).distinct(), Seq("text"), "left_semi")
        .select(col("doc_id"), lit(1L).as("seen_exact"))
      probed.join(exact, Seq("doc_id"), "left")
        .na.fill(0, Seq("seen_exact"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_batch"),
          sum(col("maybe_seen")).as("n_maybe"),
          sum(col("seen_exact")).as("n_exact"),
          sum(when(col("maybe_seen") === 1 && col("seen_exact") === 0, 1L)
            .otherwise(0L)).as("false_positives"),
          sum(when(col("maybe_seen") === 0 && col("seen_exact") === 1, 1L)
            .otherwise(0L)).as("false_negatives"))
        .orderBy(col("source"))
    }),

    // Most-duplicated exact substring census — the "top duplicated
    // spans" table dedup papers print (Lee et al. 2022 §5 reports the
    // most-repeated sequences before/after dedup): stride-8 16-char
    // grams of the lowercased text, counted corpus-wide, top-20
    // recurring in ≥2 docs. The census COMPLEMENTS llm_dedup_substring
    // (which returns doc PAIRS with shared spans) by answering "what
    // text is duplicated", the triage view read before choosing cut
    // thresholds. Per-row gram expansion is a bounded ×(len/8)
    // projection (no self-join), the count is one vocabulary-shaped
    // partial+final agg + TakeOrderedAndProject.
    "llm_substring_census" -> ((s, dir) => {
      val G = 16
      val stride = 8
      val grams = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= G)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, ((length(t) - $G) div $stride) + 1), " +
            s"i -> substring(t, (i - 1) * $stride + 1, $G))")).as("gram"))
      grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("occurrences").desc, col("gram"))
        .limit(20)
    }),

    // Zipf rank-frequency profile — the top-50 tokens with rank·freq
    // (Zipf predicts ≈ constant) and each frequency as a ppm ratio of
    // rank 1: the two-number summary of how head-heavy the token
    // distribution is (weights vocabulary truncation and stopword-list
    // decisions). One vocabulary-shaped agg + TakeOrderedAndProject
    // top-50; the rank window runs on the 50 survivors only.
    "llm_zipf_profile" -> ((s, dir) => {
      val top = srcTokens(s, dir)
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(50)
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("token"))))
        .withColumn("rank_x_freq", expr("rank * freq"))
        .withColumn("f1", max(col("freq")).over(wAll))
        // DECIMAL(38) like PmiExpr: the top token's freq is ~5% of corpus
        // tokens (~10^12 at 100 TB), so freq*10^6 crosses int64.
        .withColumn("freq_ratio_ppm",
          expr("(CAST(freq AS DECIMAL(38,0)) * 1000000) DIV f1"))
        .select(col("rank"), col("token"), col("freq"), col("rank_x_freq"),
          col("freq_ratio_ppm"))
        .orderBy(col("rank"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "llm_hll_distinct" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |  FROM documents),
        |t2 AS (SELECT source, token FROM toks WHERE len(token) > 0),
        |h AS (
        |  SELECT source, token,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
        |    ('0x' || substr(md5(token), 9, 8))::BIGINT AS w
        |  FROM t2),
        |regs AS (
        |  SELECT source, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - len(bin(w)) END) AS m
        |  FROM h GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |allb AS (
        |  SELECT source, gs.bucket
        |  FROM srcs CROSS JOIN
        |    (SELECT unnest(generate_series(0, 63)) AS bucket) gs),
        |reg2 AS (
        |  SELECT a.source, a.bucket, coalesce(r.m, 0) AS m
        |  FROM allb a LEFT JOIN regs r
        |    ON a.source = r.source AND a.bucket = r.bucket),
        |per AS (
        |  SELECT source,
        |    CAST(sum(1::BIGINT << (33 - m)) AS BIGINT) AS s_sum,
        |    CAST(count(*) FILTER (m > 0) AS BIGINT) AS v_nonzero
        |  FROM reg2 GROUP BY 1),
        |raw AS (
        |  SELECT source, s_sum, v_nonzero,
        |    (709::BIGINT * 4096 * 8589934592) // (s_sum * 1000) AS raw_est
        |  FROM per),
        |corrected AS (
        |  SELECT source, s_sum, v_nonzero,
        |    CASE WHEN raw_est <= 160 AND v_nonzero < 64
        |         THEN CAST(round(64.0 * ln(64.0 / (64 - v_nonzero)), 0) AS BIGINT)
        |         ELSE raw_est END AS est_distinct
        |  FROM raw),
        |ex AS (
        |  SELECT source, count(DISTINCT token) AS exact_distinct
        |  FROM t2 GROUP BY 1)
        |SELECT c.source, v_nonzero, s_sum, est_distinct, exact_distinct,
        |  (abs(est_distinct - exact_distinct) * 1000) // exact_distinct AS err_pm
        |FROM corrected c JOIN ex USING (source) ORDER BY source""".stripMargin,
    // Same register/estimator SQL as llm_hll_distinct, projected to
    // the native aggregate's output shape.
    "llm_hll_native" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |  FROM documents),
        |t2 AS (SELECT source, token FROM toks WHERE len(token) > 0),
        |h AS (
        |  SELECT source, token,
        |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket,
        |    ('0x' || substr(md5(token), 9, 8))::BIGINT AS w
        |  FROM t2),
        |regs AS (
        |  SELECT source, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - len(bin(w)) END) AS m
        |  FROM h GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM t2),
        |allb AS (
        |  SELECT source, gs.bucket
        |  FROM srcs CROSS JOIN
        |    (SELECT unnest(generate_series(0, 63)) AS bucket) gs),
        |reg2 AS (
        |  SELECT a.source, a.bucket, coalesce(r.m, 0) AS m
        |  FROM allb a LEFT JOIN regs r
        |    ON a.source = r.source AND a.bucket = r.bucket),
        |per AS (
        |  SELECT source,
        |    CAST(sum(1::BIGINT << (33 - m)) AS BIGINT) AS s_sum,
        |    CAST(count(*) FILTER (m > 0) AS BIGINT) AS v_nonzero
        |  FROM reg2 GROUP BY 1),
        |raw AS (
        |  SELECT source, s_sum, v_nonzero,
        |    (709::BIGINT * 4096 * 8589934592) // (s_sum * 1000) AS raw_est
        |  FROM per)
        |SELECT source,
        |  CASE WHEN raw_est <= 160 AND v_nonzero < 64
        |       THEN CAST(round(64.0 * ln(64.0 / (64 - v_nonzero)), 0) AS BIGINT)
        |       ELSE raw_est END AS est_distinct
        |FROM raw ORDER BY source""".stripMargin,
    "llm_kmv_overlap" ->
      """WITH hashed AS (
        |  SELECT DISTINCT source,
        |    ('0x' || substr(md5(text), 1, 14))::BIGINT AS h
        |  FROM documents),
        |sk AS (
        |  SELECT source, h FROM hashed
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 32),
        |per AS (
        |  SELECT s.source, max(s.h) AS kth, count(*) AS n_sk, e.exact_distinct
        |  FROM sk s JOIN (
        |    SELECT source, count(*) AS exact_distinct FROM hashed GROUP BY 1) e
        |    USING (source)
        |  GROUP BY s.source, e.exact_distinct),
        |est1 AS (
        |  SELECT source,
        |    CASE WHEN n_sk < 32 THEN exact_distinct
        |         ELSE (31::BIGINT * 72057594037927936) // kth END AS est
        |  FROM per),
        |pairs AS (
        |  SELECT a.source AS src_1, b.source AS src_2,
        |         a.est AS est_1, b.est AS est_2
        |  FROM est1 a CROSS JOIN est1 b WHERE a.source < b.source),
        |uni AS (
        |  SELECT DISTINCT p.src_1, p.src_2, s.h
        |  FROM pairs p JOIN sk s ON s.source = p.src_1 OR s.source = p.src_2),
        |uk AS (
        |  SELECT src_1, src_2, max(h) AS kth_u, count(*) AS n_u
        |  FROM (SELECT src_1, src_2, h FROM uni
        |        QUALIFY row_number() OVER (
        |          PARTITION BY src_1, src_2 ORDER BY h) <= 32) q
        |  GROUP BY 1, 2),
        |eu AS (
        |  SELECT src_1, src_2,
        |    CASE WHEN n_u < 32 THEN n_u
        |         ELSE (31::BIGINT * 72057594037927936) // kth_u END AS est_union
        |  FROM uk),
        |xin AS (
        |  SELECT a.source AS src_1, b.source AS src_2,
        |         count(*) AS exact_intersection
        |  FROM hashed a JOIN hashed b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_1, p.src_2, est_1, est_2, est_union,
        |  greatest(0, est_1 + est_2 - est_union) AS est_intersection,
        |  coalesce(exact_intersection, 0) AS exact_intersection
        |FROM pairs p
        |JOIN eu USING (src_1, src_2)
        |LEFT JOIN xin USING (src_1, src_2)
        |ORDER BY src_1, src_2""".stripMargin,
    "llm_vocab_growth" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        t -> len(t) > 0)) AS n_toks
        |  FROM documents),
        |mx AS (SELECT max(doc_id) AS mx FROM docs),
        |deciles AS (SELECT unnest(generate_series(1, 10)) AS decile),
        |docside AS (
        |  SELECT decile, max((mx * decile) // 10) AS cutoff_doc_id,
        |    count(*) AS n_docs_cum,
        |    CAST(sum(n_toks) AS BIGINT) AS n_tokens_cum
        |  FROM docs CROSS JOIN mx CROSS JOIN deciles
        |  WHERE doc_id <= (mx * decile) // 10
        |  GROUP BY decile),
        |firstocc AS (
        |  SELECT token, min(doc_id) AS first_doc FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |    FROM documents) t
        |  WHERE len(token) > 0 GROUP BY token),
        |typeside AS (
        |  SELECT decile, count(*) AS n_types_cum
        |  FROM firstocc CROSS JOIN mx CROSS JOIN deciles
        |  WHERE first_doc <= (mx * decile) // 10
        |  GROUP BY decile)
        |SELECT decile, cutoff_doc_id, n_docs_cum, n_tokens_cum, n_types_cum
        |FROM docside JOIN typeside USING (decile) ORDER BY decile""".stripMargin,
    // Same double-hash positions, bit_or words, probe and
    // classification; false_negatives is structurally 0 (a Bloom
    // filter never misses) and the hash compare proves it.
    "llm_dedup_bloom" ->
      """WITH docs AS (
        |  SELECT doc_id, source, text,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS hA,
        |    ('0x' || substr(md5(text), 9, 8))::BIGINT AS hB
        |  FROM documents),
        |corpus AS (SELECT * FROM docs WHERE doc_id % 10 <> 0),
        |batch AS (SELECT * FROM docs WHERE doc_id % 10 = 0),
        |pos AS (
        |  SELECT (hA + j * hB) % 1048576 AS pos
        |  FROM corpus, unnest(generate_series(0, 3)) AS u(j)),
        |words AS (
        |  SELECT pos // 64 AS word,
        |    bit_or(1::HUGEINT << CAST(pos % 64 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |probe AS (
        |  SELECT b.doc_id, b.source,
        |    (b.hA + u.j * b.hB) % 1048576 AS pos
        |  FROM batch b, unnest(generate_series(0, 3)) AS u(j)),
        |hits AS (
        |  SELECT p.doc_id, p.source,
        |    min((coalesce(w.bits, 0) >> CAST(p.pos % 64 AS INT)) & 1)
        |      AS maybe_seen
        |  FROM probe p LEFT JOIN words w ON p.pos // 64 = w.word
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT doc_id, 1 AS seen_exact FROM batch
        |  WHERE text IN (SELECT text FROM corpus))
        |SELECT h.source,
        |  count(*) AS n_batch,
        |  CAST(sum(maybe_seen) AS BIGINT) AS n_maybe,
        |  CAST(sum(coalesce(seen_exact, 0)) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN maybe_seen = 1 AND coalesce(seen_exact, 0) = 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
        |  CAST(sum(CASE WHEN maybe_seen = 0 AND coalesce(seen_exact, 0) = 1
        |           THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
        |FROM hits h LEFT JOIN ex USING (doc_id)
        |GROUP BY h.source ORDER BY h.source""".stripMargin,
    "llm_substring_census" ->
      """WITH g AS (
        |  SELECT doc_id, substr(lower(text), (i - 1) * 8 + 1, 16) AS gram
        |  FROM documents,
        |    unnest(generate_series(1, ((len(text) - 16) // 8) + 1)) AS u(i)
        |  WHERE len(text) >= 16)
        |SELECT gram, count(*) AS occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY gram
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY occurrences DESC, gram LIMIT 20""".stripMargin,
    "llm_zipf_profile" ->
      """WITH cnts AS (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |    FROM documents) t
        |  WHERE len(token) > 0 GROUP BY token),
        |top AS (
        |  SELECT token, freq FROM cnts
        |  ORDER BY freq DESC, token LIMIT 50),
        |ranked AS (
        |  SELECT row_number() OVER (ORDER BY freq DESC, token) AS rank,
        |    token, freq, max(freq) OVER () AS f1
        |  FROM top)
        |SELECT rank, token, freq, rank * freq AS rank_x_freq,
        |  CAST(CAST(freq AS HUGEINT) * 1000000 // f1 AS BIGINT) AS freq_ratio_ppm
        |FROM ranked ORDER BY rank""".stripMargin
  )
}
