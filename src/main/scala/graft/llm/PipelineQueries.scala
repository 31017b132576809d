package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Remaining training-data-pipeline stages (SURVEY.md §2.4 family):
  * PII scrubbing, deterministic corpus splitting, hash-bucket
  * sampling. All per-row regex/hash work — shuffle-free scan-speed
  * stages, the shape that matters when the corpus is 100 TB.
  */
object PipelineQueries {

  /** Email/URL/phone redaction — the standard pre-training scrub.
    * Simple char-class regexes chosen to behave identically in
    * java.util.regex and RE2 (DuckDB).
    */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^ ]+"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  def scrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Deterministic split: bucket = first hex digit of md5(normalized
    * text) — content-stable (same doc lands in the same split on any
    * engine, any partitioning, any run), which is what makes
    * train/eval splits reproducible across a 100 TB reshuffle.
    * 'train' = digits 0..c (13/16), 'eval' = d..f (3/16).
    */
  def splitBucket(c: Column): Column =
    when(substring(md5(lower(trim(c))), 1, 1).isin("d", "e", "f"), lit("eval"))
      .otherwise(lit("train"))

  /** The policy blocklist — placeholder terms standing in for the real
    * list a deployment supplies (C4's was the "List of Dirty, Naughty,
    * Obscene..." words; any list slots in unchanged).
    */
  private val Blocklist = Seq("slow", "broken", "fatal")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Blocklist (bad-words) filter — the C4 §2.2 safety stage every
    // web-scale curation run applies: DROP any document containing any
    // blocked term, report the per-language damage (how much of each
    // language the policy costs is the number the corpus owner reviews
    // — over-aggressive lists famously gutted minority dialects from
    // C4). Token-exact matching (not substring) so "slowly" doesn't
    // trip "slow". One scan + HOF count per doc + per-lang agg: the
    // blocklist is an O(1) literal in the plan (a real list of ~10³
    // terms would broadcast-join the token explode instead — same
    // linear shape); exact integer accounting incl. a DIV-ppm drop
    // rate.
    "llm_blocklist_filter" -> ((s, dir) => {
      val nBlocked = size(filter(tokens(col("text")),
        t => t.isin(Blocklist: _*)))
      Tables.forCompute(s, dir, "documents")
        .withColumn("n_blocked", nBlocked)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("n_blocked") > 0).cast(LongType)).as("n_dropped"),
          sum(col("n_blocked").cast(LongType)).as("blocked_occurrences"),
          expr("(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) * 1000000) " +
            "DIV count(1)").as("drop_ppm"))
        .orderBy(col("lang"))
    }),

    // PII scrub audit: redact, count redactions per doc (via length
    // deltas of each pass), emit scrubbed text hash for stability.
    "llm_pii_scrub" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(scrub(col("text"))).as("scrubbed_md5"),
          (length(col("text")) - length(regexp_replace(col("text"), emailRe, "")))
            .as("email_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), urlRe, "")))
            .as("url_chars"))
        .orderBy(col("doc_id"))
    }),

    // k-ANONYMITY audit over the release metadata (Sweeney 2002): any
    // combination of quasi-identifiers shared by fewer than k=5
    // documents is a re-identification risk — the privacy check a
    // corpus release runs on its metadata columns BEFORE publishing
    // (the text is scrubbed by llm_pii_scrub; the metadata can still
    // single someone out). Quasi-identifier here = (lang, source,
    // length-centile bucket); the audit reports, per (lang, source)
    // feed, how many equivalence classes exist, how many are
    // undersized, and how many documents sit in them — the rows a
    // release gate suppresses or generalizes. Two linear aggs (QID
    // groups, then feed rollup), map-side combined; at 100 TB the QID
    // space is bounded by the metadata cardinality product, never by
    // corpus size.
    "llm_k_anonymity" -> ((s, dir) => {
      val groups = Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 100).cast("int").as("len_bucket"))
        .agg(count(lit(1)).as("cnt"))
      groups.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_groups"),
          count_if(col("cnt") < 5).as("n_small_groups"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(lit(0L)))
            .as("n_at_risk_docs"))
        .orderBy(col("lang"), col("source"))
    }),

    // Deterministic train/eval split with per-split stats.
    "llm_train_eval_split" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("split", splitBucket(col("text")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"), col("lang"))
    }),

    // Hash-bucket sampling: content-hash mod-16 bucket 0 => a
    // deterministic ~1/16 sample, reproducible on any engine (vs
    // rand()-based sampling, which never hash-compares).
    "llm_hash_sample" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .filter(substring(md5(lower(trim(col("text")))), 1, 1) === "0")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Stratified sampling with EXACT per-stratum quotas — training-mix
    // curation ("20 docs per language"), deterministic: rank within the
    // stratum by content hash (content-stable under any reshuffle,
    // unlike rand()), keep the first k. One shuffle on the stratum key.
    // Scale note: k is small and fixed, so at 100 TB the right physical
    // form is the same window with a partial top-k per partition first
    // (rank <= k can't survive a partition unless it's in that
    // partition's top k) — Spark's WindowGroupLimit pushdown does
    // exactly this when the filter sits directly on the rank.
    "llm_stratified_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(lower(trim(col("text")))), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 20)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Sequence packing — the last batch-side stage before the trainer:
    // concatenate documents in a deterministic content-hash order and
    // cut every B=512 tokens (GPT-style concat-and-chunk packing; a
    // doc crossing a boundary spans both sequences). Packing runs per
    // LANGUAGE stream, but the running sum itself goes through the
    // two-pass distributed scan (graft.relational.PrefixSum): a
    // per-lang window cumsum funnels each language through ONE task,
    // which is fine until one language dominates the corpus — the
    // two-pass form splits every stream across range partitions
    // regardless of skew. Shape: one GLOBAL exclusive prefix in the
    // total order (lang, hash, doc_id), then each language rebases by
    // its first row's global prefix (= everything before the language
    // block) via a tiny per-lang min aggregation broadcast back — so
    // per-language starts are bit-identical to the per-lang window
    // cumsum (proven against it in PrefixSumSpec, incl. the
    // skewed-language case). Output: per-sequence fill accounting
    // (docs beginning in each sequence + their token mass).
    "llm_pack_sequences" -> ((s, dir) => {
      val B = 512
      val nToks = size(tokens(col("text")))
      val tokd = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), nToks.as("n_toks"),
          md5(lower(trim(col("text")))).as("__h"))
      val glob = graft.relational.PrefixSum.exclusivePrefixSum(
        tokd, Seq(col("lang"), col("__h"), col("doc_id")),
        col("n_toks"), "__g")
      val langOffsets = glob.groupBy(col("lang")).agg(min(col("__g")).as("__off"))
      glob.join(broadcast(langOffsets), "lang")
        .withColumn("start_tok", col("__g") - col("__off"))
        .withColumn("seq_id", floor(col("start_tok") / B))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("begun_toks"))
        .orderBy(col("lang"), col("seq_id"))
    }),

    // Domain-mixture resampling — turn per-source mixture weights into
    // an epoch-expanded corpus (upsample src0 ×2.5, downsample src2 to
    // a quarter): every doc repeats floor(w) times, plus once more for
    // the first frac(w)·n docs by content-hash rank within the source —
    // deterministic fractional epochs, the standard pre-training
    // domain-reweighting stage. The expansion is a per-row explode
    // (shuffle-free); the rank is one window per source partition. At
    // 100 TB the epoch column also becomes the natural shard key for
    // writing the mixed corpus.
    "llm_mixture_resample" -> ((s, dir) => {
      val weights = Seq("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.25)
      val wexpr = weights.foldLeft(lit(1.0)) { case (acc, (src, wt)) =>
        when(col("source") === src, lit(wt)).otherwise(acc)
      }
      val perSrc = Window.partitionBy(col("source"))
      val rank = perSrc.orderBy(md5(lower(trim(col("text")))), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("w", wexpr)
        .withColumn("__rn", row_number().over(rank))
        .withColumn("__cnt", count(lit(1)).over(perSrc))
        .withColumn("n_copies",
          (floor(col("w")) +
            when(col("__rn") <= floor((col("w") - floor(col("w"))) * col("__cnt")), 1)
              .otherwise(0)).cast("int"))
        .withColumn("epoch",
          explode(when(col("n_copies") >= 1, sequence(lit(1), col("n_copies")))
            .otherwise(array().cast(ArrayType(IntegerType)))))
        .groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("epoch"))
    }),

    // T5/UL2-style span-corruption planning (Raffel et al. 2020 §3.1.4
    // — mask contiguous token spans, train to reconstruct): the
    // DATA-side half, emitting the deterministic span plan (which
    // tokens each sentinel replaces) that the trainer's collator
    // consumes. Spans are placed one per 20-token block at a
    // hash-derived offset — the corpus-reproducible stand-in for the
    // collator's RNG (same md5 pinning as every sampling op), giving
    // a 15% corruption rate (3 of 20) with no span overlap or
    // adjacency by construction, no iterative carving needed. Per-row
    // projection + explode — scan speed, shuffle-free; exact integer/
    // string arithmetic → hash-checked.
    "llm_span_corruption" -> ((s, dir) => {
      val block = 20
      val span = 3
      val t = tokens(col("text"))
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), t.as("t"))
        .filter(size(col("t")) >= block)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0),
            (size(col("t")) / block).cast(IntegerType) - 1)).as("b"))
        .withColumn("o",
          pmod(conv(substring(md5(concat(col("doc_id"), lit("#"), col("b"))), 1, 8), 16, 10)
            .cast(LongType), lit(block - span + 1)))
        .withColumn("start_pos", col("b") * block + col("o") + 1)
        .select(col("doc_id"), col("b").as("span_id"), col("start_pos"),
          array_join(slice(col("t"), col("start_pos"), lit(span)), " ")
            .as("masked_tokens"))
        .orderBy(col("doc_id"), col("span_id"))
    }),

    // Temperature-scaled language mixture (the mT5 §3.1 / XLM-R
    // sampling stage: draw languages ∝ p^α so low-resource languages
    // are upweighted relative to their corpus share) — here α = 0.5,
    // computed as w_l = floor(sqrt(c_l·10⁶)) in INTEGER arithmetic:
    // IEEE sqrt is correctly rounded and c_l·10⁶ is double-exact, so
    // both engines produce the identical BIGINT weight (a float
    // normalization Σw would be summation-order-dependent and break
    // the hash compare; integer DIV doesn't). Quota_l = (B·w_l) DIV
    // Σw capped at c_l; selection = content-hash rank within language
    // (deterministic, unbiased). Scale shape: the count/weight/quota
    // tables are VOCABULARY-sized (one row per language) and
    // broadcast; the only corpus-scale work is the per-language rank
    // window, same as llm_stratified_sample.
    "llm_temperature_mixture" -> ((s, dir) => {
      val B = 200
      val docs = Tables(s, dir, "documents")
      val cnts = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .withColumn("w", floor(sqrt(col("c") * lit(1000000L))).cast(LongType))
      val tot = cnts.agg(sum(col("w")).as("tw"))
      val quotas = cnts.crossJoin(broadcast(tot))
        .withColumn("quota", least(expr(s"($B * w) DIV tw"), col("c")))
        .select(col("lang"), col("quota"))
      val rank = Window.partitionBy(col("lang"))
        .orderBy(md5(lower(trim(col("text")))), col("doc_id"))
      docs.withColumn("__rn", row_number().over(rank))
        .join(broadcast(quotas), "lang")
        .filter(col("__rn") <= col("quota"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Curriculum sharding — order the corpus by a quality signal and
    // cut it into N shards so training can schedule easy/clean shards
    // first (curriculum learning's data-side half). The quality
    // signal is the type-token ratio quantized to exact integer ppm
    // (distinct_tokens·10⁶ DIV tokens — no float anywhere), and the
    // GLOBAL quality rank comes from the distributed two-pass prefix
    // sum over ones (graft.relational.PrefixSum) — a global
    // row_number window would funnel the whole corpus through one
    // task; the two-pass scan range-partitions the order instead
    // (same scale path llm_pack_sequences rides). shard =
    // rank·N DIV total: equal-size bands, deterministic under any
    // partitioning. Output: per-shard doc counts + quality band
    // edges, all exact integers.
    "llm_curriculum_shards" -> ((s, dir) => {
      val NShards = 8
      val t = tokens(col("text"))
      val docs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(1 AS BIGINT)").as("__one"),
          size(array_distinct(t)).cast(LongType).as("__nd"),
          size(t).cast(LongType).as("__nt"))
        .withColumn("q", expr("(__nd * 1000000) DIV __nt"))
        .withColumn("__qneg", -col("q"))
      val n = docs.count()
      graft.relational.PrefixSum.exclusivePrefixSum(
          docs, Seq(col("__qneg"), col("doc_id")), col("__one"), "__rank")
        .withColumn("shard", expr(s"CAST((__rank * $NShards) DIV $n AS INT)"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("q")).as("best_q"),
          min(col("q")).as("worst_q"))
        .orderBy(col("shard"))
    }),

    // Eval-set decontamination — the op every serious pre-training run
    // needs: find train-split documents sharing any word-8-gram with
    // the eval split (the n-gram-overlap contamination test). Inverted-
    // index join on the 8-gram (never doc×doc): the eval side is small
    // by construction, so its postings broadcast and the train side
    // streams through — linear in corpus size at 100 TB.
    "llm_decontaminate" -> ((s, dir) => {
      // r15: native one-pass 8-gram kernel (ngrams_ws, bit-exact HOF
      // twin pinned in FunctionsSpec) — the 8-wide concat_ws HOF paid
      // a regex split plus eight element_at probes per gram on both
      // the train and eval branches.
      val grams8 = array_distinct(call_function("ngrams_ws", col("text"), lit(8)))
      // r15 (was: persist the exploded (doc, 8-gram) projection and
      // filter it per branch — the corpus-sized×8 cache this file's
      // own policy forbids elsewhere: at 100 TB that is petabytes of
      // cache for one query, and locally the materialization write+
      // read dominated the op). Instead each branch filters the RAW
      // docs on the split BEFORE exploding: every doc is 8-grammed by
      // exactly one branch (splits partition the corpus), so total
      // tokenize work is unchanged, the only duplicated work is the
      // cheap md5 split predicate (2 corpus text passes), and nothing
      // corpus-scale is ever materialized. The r02 42 s trap
      // (branch filters on the EXPLODED frame pushed below the
      // repartition) does not apply: the split filter pushing to the
      // scan is now exactly where it belongs — the expensive gram
      // Generate stays above the forCompute repartition, distributed.
      // evalG keeps no static broadcast hint: eval postings are small
      // at fixture scale (AQE promotes to broadcast from the runtime
      // size) but grow with the corpus — the static-broadcast-off
      // discipline everywhere else in the engine.
      val base = Tables.forCompute(s, dir, "documents")
      val evalG = base.filter(splitBucket(col("text")) === "eval")
        .select(explode(grams8).as("g")).distinct()
      base.filter(splitBucket(col("text")) === "train")
        .select(col("doc_id"), explode(grams8).as("g"))
        .join(evalG, "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared_8grams"))
        .orderBy(col("doc_id"))
    }),

    // DSIR data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): rank raw documents
    // by the importance weight log p_target(x)/p_raw(x) under two
    // add-one-smoothed bag-of-words unigram models — target = the
    // lang='en' slice standing in for the wanted domain, raw = the
    // whole corpus. The scale discipline is in WHERE the log runs:
    // once per VOCABULARY term (the per-term micro-nat log-ratio
    // table, O(V) ln calls), never per corpus token; each term's
    // ratio is rounded to integer micro-nats there, so the per-doc
    // weight Σ tf·r is pure BIGINT arithmetic — exact, order-free,
    // hash-oracle-checked. Joins are term-keyed shuffles (a 100 TB
    // vocabulary is not broadcastable); the only broadcast is the
    // 1-row totals frame. Three passes over the token stream (raw
    // counts, target counts, per-doc tf) — recomputed rather than
    // checkpointed, per the no-corpus-sized-materialization rule.
    "llm_dsir_weights" -> ((s, dir) => {
      val toksOf = tokens(col("text"))
      def stream(s2: SparkSession) = Tables.forCompute(s2, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(toksOf).as("term"))
      val raw = stream(s).groupBy(col("term")).agg(count(lit(1)).as("c_r"))
      val tgt = stream(s).filter(col("lang") === "en")
        .groupBy(col("term")).agg(count(lit(1)).as("c_t"))
      val vocab = raw.join(tgt, Seq("term"), "left")
        .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
      val tot = vocab.agg(
        count(lit(1)).cast(DoubleType).as("v"),
        sum(col("c_r")).cast(DoubleType).as("n_r"),
        sum(col("c_t")).cast(DoubleType).as("n_t"))
      val lr = vocab.crossJoin(broadcast(tot))
        .withColumn("r_unats",
          round(log(((col("c_t") + lit(1.0)) * (col("n_r") + col("v"))) /
            ((col("c_r") + lit(1.0)) * (col("n_t") + col("v")))) *
            lit(1000000), 0).cast(LongType))
        .select(col("term"), col("r_unats"))
      val tf = stream(s).groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      tf.join(lr, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("r_unats")).as("dsir_unats"))
        .orderBy(col("dsir_unats").desc, col("doc_id"))
        .limit(100)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "llm_blocklist_filter" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        t -> t IN ('slow', 'broken', 'fatal'))) AS n_blocked
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(n_blocked) AS BIGINT) AS blocked_occurrences,
        |  CAST((sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS drop_ppm
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_pii_scrub" ->
      s"""SELECT doc_id,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |      'https?://[^ ]+', '<URL>', 'g'),
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g')) AS scrubbed_md5,
         |  CAST(length(text) - length(regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g')) AS INT) AS email_chars,
         |  CAST(length(text) - length(regexp_replace(text,
         |      'https?://[^ ]+', '', 'g')) AS INT) AS url_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Same QID grouping (integer length centile), same k=5 threshold.
    "llm_k_anonymity" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(n_chars // 100 AS INT) AS len_bucket,
        |         count(*) AS cnt
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source,
        |  count(*) AS n_groups,
        |  CAST(count(*) FILTER (cnt < 5) AS BIGINT) AS n_small_groups,
        |  CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_at_risk_docs
        |FROM g GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "llm_train_eval_split" ->
      """SELECT CASE WHEN substr(md5(lower(trim(text))), 1, 1) IN ('d','e','f')
        |            THEN 'eval' ELSE 'train' END AS split,
        |       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(lower(trim(text))), 1, 1) = '0'
        |ORDER BY doc_id""".stripMargin,
    "llm_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY md5(lower(trim(text))), doc_id) <= 20
        |ORDER BY lang, doc_id""".stripMargin,
    "llm_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(lower(text), '\s+')) AS n_toks,
        |    md5(lower(trim(text))) AS h
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_toks,
        |    sum(n_toks) OVER (PARTITION BY lang ORDER BY h, doc_id
        |                      ROWS UNBOUNDED PRECEDING) - n_toks AS start_tok
        |  FROM d)
        |SELECT lang, CAST(floor(start_tok / 512.0) AS BIGINT) AS seq_id,
        |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS begun_toks
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same block partition, same md5-derived offsets, same slices.
    "llm_span_corruption" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, tk, u.b AS b,
        |    ('0x' || substr(md5(doc_id || '#' || u.b), 1, 8))::BIGINT % 18 AS o
        |  FROM t, unnest(generate_series(0, len(tk) // 20 - 1)) AS u(b)
        |  WHERE len(tk) >= 20)
        |SELECT doc_id, CAST(b AS INT) AS span_id,
        |  CAST(b * 20 + o + 1 AS BIGINT) AS start_pos,
        |  array_to_string(tk[b * 20 + o + 1 : b * 20 + o + 3], ' ') AS masked_tokens
        |FROM b ORDER BY doc_id, span_id""".stripMargin,
    // Same integer weights (floor of the correctly-rounded IEEE sqrt),
    // same integer quota DIV, same content-hash rank.
    "llm_temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |w AS (SELECT lang, c, CAST(floor(sqrt(c * 1000000)) AS BIGINT) AS w FROM c),
        |t AS (SELECT sum(w) AS tw FROM w),
        |q AS (SELECT lang, least((200 * w) // tw, c) AS quota FROM w, t),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(lower(trim(text))), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
        |WHERE rn <= quota ORDER BY lang, doc_id""".stripMargin,
    "llm_mixture_resample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CASE source WHEN 'src0' THEN 2.5::DOUBLE WHEN 'src1' THEN 2.0::DOUBLE
        |                WHEN 'src2' THEN 0.25::DOUBLE ELSE 1.0::DOUBLE END AS w,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(lower(trim(text))), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    CAST(floor(w) + CASE WHEN rn <= floor((w - floor(w)) * cnt)
        |                         THEN 1 ELSE 0 END AS INT) AS n_copies
        |  FROM d)
        |SELECT source, CAST(u.epoch AS INT) AS epoch, count(*) AS n_docs
        |FROM c, unnest(generate_series(1, n_copies)) AS u(epoch)
        |WHERE n_copies >= 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_curriculum_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    (len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) * 1000000)
        |      // len(regexp_split_to_array(lower(text), '\s+')) AS q
        |  FROM documents),
        |r AS (
        |  SELECT q,
        |    row_number() OVER (ORDER BY q DESC, doc_id) - 1 AS rnk,
        |    count(*) OVER () AS n
        |  FROM d)
        |SELECT CAST((rnk * 8) // n AS INT) AS shard, count(*) AS n_docs,
        |  CAST(max(q) AS BIGINT) AS best_q, CAST(min(q) AS BIGINT) AS worst_q
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(lower(trim(text))), 1, 1) IN ('d','e','f')
        |         THEN 'eval' ELSE 'train' END AS split,
        |    regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, split,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS g
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE split = 'eval')
        |SELECT a.doc_id, count(DISTINCT a.g) AS n_shared_8grams
        |FROM sh a JOIN ev ON a.g = ev.g
        |WHERE a.split = 'train'
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // DSIR twin: the per-term log-ratio is the only float — computed
    // once per vocab term with the identical operand order, rounded to
    // micro-nats there; the doc weight is an exact BIGINT Σ tf·r.
    "llm_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |raw AS (SELECT term, count(*) AS c_r FROM toks GROUP BY term),
        |tgt AS (SELECT term, count(*) AS c_t FROM toks
        |        WHERE lang = 'en' GROUP BY term),
        |vocab AS (
        |  SELECT r.term, r.c_r, COALESCE(t.c_t, 0) AS c_t
        |  FROM raw r LEFT JOIN tgt t USING (term)),
        |tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS v,
        |         CAST(sum(c_r) AS DOUBLE) AS n_r,
        |         CAST(sum(c_t) AS DOUBLE) AS n_t
        |  FROM vocab),
        |lr AS (
        |  SELECT term,
        |    CAST(round(ln(((c_t + 1.0) * (n_r + v)) /
        |                  ((c_r + 1.0) * (n_t + v))) * 1000000, 0) AS BIGINT) AS r_unats
        |  FROM vocab CROSS JOIN tot),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM toks GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(tf * r_unats) AS BIGINT) AS dsir_unats
        |FROM tf JOIN lr USING (term)
        |GROUP BY doc_id
        |ORDER BY dsir_unats DESC, doc_id LIMIT 100""".stripMargin
  )
}
