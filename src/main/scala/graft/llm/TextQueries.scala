package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Text-analysis operators for a large-scale training-data pipeline
  * (SURVEY.md §2.4): language-ID, quality scoring, token counting,
  * document fingerprinting. All per-row, codegen'd, shuffle-free except
  * the final explicit aggregations — the shape that streams through a
  * 100 TB corpus at scan speed.
  *
  * Determinism: scores are integer counts and single IEEE divisions;
  * cross-row float aggregation goes through DECIMAL. All expressible in
  * ANSI SQL → every query here is DuckDB-oracle-checked.
  */
object TextQueries {

  private def toks(c: Column): Column = split(lower(c), "\\s+")

  /** Stopword-hit count for a language's marker-word list — the n-gram
    * heuristic core of the language classifier. Exact token equality,
    * set-free (duplicates count) so common words dominate.
    */
  private def hits(c: Column, words: Seq[String]): Column =
    size(filter(toks(c), t => words.map(w => t === lit(w)).reduce(_ || _)))

  private val enWords = Seq("the", "a", "and", "of", "to")
  private val deWords = Seq("der", "die", "das", "und", "ist")
  private val frWords = Seq("le", "la", "et", "les", "des")
  private val esWords = Seq("el", "la", "y", "los", "de")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text normalization — the stage every corpus run applies BEFORE
    // fingerprinting/dedup (casefold, control chars → space, whitespace
    // runs collapsed, trimmed): normalization differences otherwise
    // masquerade as content differences and deflate dedup recall.
    // Pure per-row codegen'd string expressions — scan speed, zero
    // shuffle beyond the presentation sort; at 100 TB this runs fused
    // into the ingest scan. (Unicode NFKC would slot in here as a
    // native expression; the fixture is ASCII so casefold+cntrl+ws IS
    // the full normalization.)
    "llm_normalize_text" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "\\p{Cntrl}", " "),
        "\\s+", " "))
      Tables(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"),
          length(norm).cast(LongType).as("n_chars_norm"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget truncation — clip every document to its first 32
    // tokens (the context-window prep step before packing/batching;
    // cf. `llm_pack_sequences` which packs the SURVIVING lengths).
    // Per-row array slice + rejoin: codegen'd, shuffle-free, scan
    // speed at 100 TB.
    "llm_truncate_to_budget" -> ((s, dir) => {
      val t = toks(col("text"))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(t).cast(LongType).as("n_toks"),
        least(size(t), lit(32)).cast(LongType).as("n_kept"),
        concat_ws(" ", slice(t, 1, 32)).as("trunc_text"))
        .orderBy(col("doc_id"))
    }),

    // Out-of-vocabulary rate per document against the corpus's own
    // top-10 token vocabulary — the tokenizer-health metric that flags
    // documents a fixed vocab would shred into rare pieces (cf. BPE
    // fertility audits). Two passes: a bounded vocab agg (top-k by
    // frequency, lexicographic tie-break — 10 rows however large the
    // corpus), then one explode + broadcast-vocab probe + per-doc agg.
    // The OOV rate is exact integer ppm — oracle-checkable.
    "llm_oov_rate" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
        .select(col("tok").as("v_tok"))
      tok.join(broadcast(vocab), col("tok") === col("v_tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          count_if(col("v_tok").isNull).as("n_oov"))
        .withColumn("oov_ppm", expr("n_oov * 1000000 DIV n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Corpus statistics per language/source cell: doc counts, exact
    // char/token sums (map-side partial agg → final), type-token info.
    "llm_text_stats" -> ((s, dir) => {
      Tables.forCompute(s, dir, "documents")
        .withColumn("n_tokens", size(toks(col("text"))))
        .withColumn("n_distinct_tokens", size(array_distinct(toks(col("text")))))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tokens").cast(LongType)).as("total_tokens"),
          sum(col("n_distinct_tokens").cast(LongType)).as("total_distinct_tokens"),
          (sum(col("n_chars")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // Quality scoring: length, punctuation ratio, stopword ratio,
    // type-token ratio — the standard pre-training quality filters.
    // Each ratio is one integer count over one integer count (single
    // IEEE division; byte-identical across engines).
    "llm_quality_score" -> ((s, dir) => {
      val t = toks(col("text"))
      val nTok = size(t).cast(DoubleType)
      val nStop = hits(col("text"), enWords).cast(DoubleType)
      val nPunct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast(DoubleType)
      val nDistinct = size(array_distinct(t)).cast(DoubleType)
      Tables.forCompute(s, dir, "documents")
        .select(
          col("doc_id"),
          size(t).as("n_tokens"),
          (nStop / nTok).as("stopword_ratio"),
          (nPunct / col("n_chars").cast(DoubleType)).as("punct_ratio"),
          (nDistinct / nTok).as("type_token_ratio"),
          (size(t) >= 20 && nStop / nTok > 0.01 && nDistinct / nTok > 0.2)
            .as("passes_quality"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality rules (Rae et al. 2021, "Scaling Language
    // Models", Appendix A) with PER-RULE accounting — unlike
    // llm_quality_score's single composite verdict, a curation run
    // needs to know WHICH rule rejected each document (the per-rule
    // rejection histogram is how thresholds get tuned). Five rules,
    // thresholds adapted to the fixture's text shape: word count in
    // [20,400], mean word length in [3.00,5.00], ≥80% alphabetic
    // tokens, ≥2 distinct stopwords, type-token ratio ≥0.6. Every
    // statistic is exact integer arithmetic (mean word length carried
    // as ×100 integral divide, ratios as cross-multiplied integer
    // comparisons — no floats anywhere), so the whole accounting is
    // hash-oracle-checked. Per-row codegen'd, shuffle-free: at 100 TB
    // this fuses into the ingest scan like the other per-row filters.
    "llm_gopher_rules" -> ((s, dir) => {
      val t = toks(col("text"))
      Tables.forCompute(s, dir, "documents")
        .withColumn("n_words", size(t))
        .withColumn("sum_wlen",
          aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x))
        .withColumn("n_alpha", size(filter(t, x => x.rlike("[a-z]"))))
        .withColumn("n_distinct", size(array_distinct(t)))
        .withColumn("n_stop",
          size(filter(array_distinct(t),
            x => enWords.map(w => x === lit(w)).reduce(_ || _))))
        .withColumn("mwl_x100", expr("(sum_wlen * 100) DIV n_words"))
        .withColumn("r_wordcount", col("n_words").between(20, 400))
        .withColumn("r_meanlen", col("mwl_x100").between(300, 500))
        .withColumn("r_alpha", col("n_alpha") * 100 >= col("n_words") * 80)
        .withColumn("r_stopwords", col("n_stop") >= 2)
        .withColumn("r_ttr", col("n_distinct") * 100 >= col("n_words") * 60)
        .withColumn("n_rules_passed",
          Seq("r_wordcount", "r_meanlen", "r_alpha", "r_stopwords", "r_ttr")
            .map(c => col(c).cast(IntegerType)).reduce(_ + _))
        .withColumn("keep",
          col("r_wordcount") && col("r_meanlen") && col("r_alpha") &&
            col("r_stopwords") && col("r_ttr"))
        .select(col("doc_id"), col("n_words"), col("mwl_x100"),
          col("r_wordcount"), col("r_meanlen"), col("r_alpha"),
          col("r_stopwords"), col("r_ttr"), col("n_rules_passed"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID: argmax over per-language marker-word counts with a
    // deterministic priority tie-break (en > de > fr > es > unknown).
    // A real pipeline swaps the word lists for char-n-gram profiles;
    // the operator shape (per-row classify, group-audit vs labeled
    // lang) is identical.
    "llm_lang_id" -> ((s, dir) => {
      val en = hits(col("text"), enWords)
      val de = hits(col("text"), deWords)
      val fr = hits(col("text"), frWords)
      val es = hits(col("text"), esWords)
      val best = greatest(en, de, fr, es)
      val pred = when(best === 0, lit("unknown"))
        .when(en === best, lit("en"))
        .when(de === best, lit("de"))
        .when(fr === best, lit("fr"))
        .otherwise(lit("es"))
      Tables.forCompute(s, dir, "documents")
        .withColumn("pred_lang", pred)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Token counting, BPE-ish: words, numbers, and single
    // non-alphanumeric symbols as separate tokens (the regex family
    // GPT-2-style BPE pre-tokenizers use). Simple char classes only →
    // identical semantics in java.util.regex and RE2.
    "llm_token_count" -> ((s, dir) => {
      val bpe = size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          size(toks(col("text"))).as("ws_tokens"),
          bpe.as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Repetition-based quality filter (the Gopher/C4-style rule):
    // fraction of word-3-grams that are duplicates of an earlier
    // 3-gram in the same document. High ratio = boilerplate/spam; the
    // standard pre-training repetition cut. Pure per-row HOF arithmetic
    // (integer counts + one division) — scan-speed, shuffle-free.
    "llm_repetition_filter" -> ((s, dir) => {
      // r15: native one-pass gram kernel (ngrams_ws) instead of the
      // regex-split + per-gram concat_ws HOF — same grams bit-exactly
      // (FunctionsSpec twin pin), ~one allocation per gram instead of
      // a split array + n element_at probes per gram per consumer.
      val grams = call_function("ngrams_ws", col("text"), lit(3))
      Tables.forCompute(s, dir, "documents")
        .withColumn("total_3grams", size(grams))
        .withColumn("uniq_3grams", size(array_distinct(grams)))
        .select(col("doc_id"), col("total_3grams"), col("uniq_3grams"),
          round(when(col("total_3grams") > 0,
            (col("total_3grams") - col("uniq_3grams")).cast(DoubleType) /
              col("total_3grams").cast(DoubleType)).otherwise(0.0), 6)
            .as("rep_ratio"),
          (col("total_3grams") > 0 &&
            (col("total_3grams") - col("uniq_3grams")) * 25 > col("total_3grams"))
            .as("flagged")) // rep_ratio > 0.04, integer arithmetic
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: md5 content fingerprint over normalized
    // text plus a coarse structural fingerprint (length bucket + first
    // token), the (hash, len-bucket) pair a 100 TB dedup pass blocks on.
    "llm_fingerprint" -> ((s, dir) => {
      Tables.forCompute(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(lower(trim(col("text")))).as("content_fp"),
          (col("n_chars") / 100).cast(IntegerType).as("len_bucket"),
          element_at(toks(col("text")), 1).as("first_token"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level boilerplate detection (the C4 "remove lines seen in
    // many documents" rule, at n-gram granularity since the fixture
    // docs are single-line): a word-3-gram occurring in >= 5 DISTINCT
    // documents is boilerplate (headers, licence blurbs, templated
    // snippets — at corpus scale no organic 3-gram repeats across
    // unrelated docs). Per-doc output: how much of the doc is made of
    // corpus-common material. Shape: the exploded distinct-gram
    // projection feeds both the corpus-df agg and the per-doc probe
    // and is RECOMPUTED per consumer — deliberately: the (doc, gram)
    // frame is ~50× the corpus, and materializing it (cache /
    // localCheckpoint at replication 1) at 100 TB is petabytes of
    // unreplicated executor disk where one lost executor kills the
    // job. Two scans of a columnar source are the cheap path. Both
    // aggregations are linear in corpus size, never doc×doc; AQE
    // broadcasts the boilerplate side when it is small.
    "llm_boilerplate_ngrams" -> ((s, dir) => {
      // r15: the gram pass is the native ngrams_ws kernel (bit-exact
      // HOF twin pinned in FunctionsSpec) — this projection runs per
      // CONSUMER (twice), so the regex split + per-gram concat_ws it
      // replaces was the query's dominant CPU (38.8 executor-CPU-s at
      // sf0.1, as Bench's per-entry `cpu_s` counts it).
      val grams = array_distinct(call_function("ngrams_ws", col("text"), lit(3)))
      val docGrams = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(grams).as("g"))
      val boiler = docGrams.groupBy(col("g"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      docGrams.join(boiler, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_boiler_grams"),
          max(col("df")).as("max_gram_df"))
        .orderBy(col("doc_id"))
    }),

    // N-gram language-model quality score — the KenLM-perplexity stage
    // of a pre-training pipeline, re-expressed in exact integer
    // arithmetic so it hash-compares across engines: train an add-one-
    // smoothed bigram model ON the corpus itself, then score each doc
    // by its mean bigram probability (low mean = surprising/atypical =
    // quality-suspect). The float-determinism trick (same family as
    // more_like_this's ⌊10⁴/df⌋): quantize each conditional
    // probability to q = (c₂+1)·10⁹ DIV (c₁+V) — integer division of
    // exact integer counts — so the per-doc Σq is exact and the only
    // float op is one final division, rounded. Shape: the bigram
    // explode feeds the TYPE-count aggregation and the probe and is
    // RECOMPUTED per consumer (2 scans) — the exploded (doc, bigram)
    // frame is corpus-sized×expansion, so materializing it
    // (replication-1 localCheckpoint) at 100 TB is petabytes of
    // executor-local disk with no recompute path on executor loss;
    // extra columnar scans are the scale-safe trade. The VOCABULARY-
    // shaped LM table (bigram counts c₂; prefix counts c₁ = Σ_w₂ c₂
    // derive from it) IS persisted — the same aggregate-only persist
    // policy as the substring op's candidate grams — then pre-joined
    // vocab-side so the positions-scale probe pays ONE equi-join
    // shuffle and one per-doc agg: every stage linear in corpus
    // size, the LM table shuffle-partitioned by its key at 100 TB
    // exactly like any dimension join.
    "llm_ngram_lm_quality" -> ((s, dir) => {
      // r14 plan rework, same results by construction (oracle-pinned):
      //  - bigrams ride as (w1, w2) structs — the old "w1 w2" string key
      //    concat'd per occurrence and re-split() per probe row; the
      //    struct key is injective to it (tokens contain no spaces) so
      //    every count and join is unchanged.
      //  - the bigram-TYPE table c2 (vocabulary-shaped, the same class
      //    as the substring op's candidate grams) is persisted once and
      //    serves c1 (Σ_w2 c2 = the old per-w1 occurrence count,
      //    exactly), the vocabulary size, and the probe join — the old
      //    shape re-tokenized the corpus for EACH of those consumers
      //    (4 scans; no exchange reuse fires across their differently
      //    pruned aggregates) and ran the vocab count as an EAGER
      //    driver action at construction time (one whole extra pass).
      //  - vocab rides as a broadcast 1-row frame (same idiom as KN's
      //    t_types), and c1 pre-joins onto c2 VOCAB-side so the
      //    positions-scale probe stream shuffles ONCE on (w1, w2)
      //    instead of once per statistic (guide §2.3/§2.4).
      val t = toks(col("text"))
      val pairs = when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
        .otherwise(array().cast(ArrayType(StructType(Seq(
          StructField("w1", StringType), StructField("w2", StringType))))))
      val bg = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(pairs).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .transform(graft.Pins.pin)
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val vocab = broadcast(c1.agg(count(lit(1)).as("vocab_sz")))
      val lm = c2.join(c1, "w1").crossJoin(vocab)
      bg.join(lm, Seq("w1", "w2"))
        .withColumn("q",
          expr("((c2 + 1) * 1000000000) DIV (c1 + vocab_sz)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
        .withColumn("mean_qprob",
          round(col("sum_q").cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6))
        .select(col("doc_id"), col("n_bigrams"), col("mean_qprob"))
        .orderBy(col("mean_qprob"), col("doc_id"))
        .limit(20)
    }),

    // Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    // smoothing KenLM ships and CCNet-style quality filters actually
    // run) — strictly better-calibrated than the add-one twin above:
    //   P(w2|w1) = (c12 − d)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/T
    // with discount d = 3/4 EXACT RATIONAL, so the whole probability
    // is one integer quotient (see [[KnExpr]]) and the per-doc mean
    // hash-matches DuckDB. The statistics are three vocabulary-shaped
    // aggs off one bigram frame (token counts, per-context and
    // per-continuation TYPE counts — the continuation counts are what
    // distinguish KN: "francisco" is frequent but follows only "san",
    // so its unigram weight collapses); T (bigram type count) is a
    // 1-row broadcast like PMI's N. Per-doc scoring is the same
    // vocabulary-shaped join + doc agg as the add-one LM — linear,
    // no corpus² anywhere.
    "llm_kneser_ney_quality" -> ((s, dir) =>
      knDocScores(s, dir)
        .orderBy(col("mean_kn_ppb"), col("doc_id"))
        .limit(20)),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.3): rank
    // every document by its LM score WITHIN ITS LANGUAGE and split into
    // head/middle/tail tertiles — the mixture knob CCNet exposes
    // ("train on head+middle, drop tail") and the stage a 100 TB
    // curation run applies right after language ID. Rides the same KN
    // scorer as llm_kneser_ney_quality; the tertile is ntile(3) over
    // the (rounded score, doc_id) total order per language — exact and
    // engine-identical, unlike a float-threshold split. Output is the
    // per-(lang, tertile) audit panel: doc count + score range. Shape:
    // scorer (linear) + one per-lang window + one agg; at 100 TB the
    // window partitions by lang — tens of partitions, each internally
    // sorted by the shuffle's range partitioner, no global sort.
    "llm_perplexity_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val langs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("mean_kn_ppb"), col("doc_id"))
      knDocScores(s, dir).join(langs, "doc_id")
        .withColumn("tertile", ntile(3).over(w))
        .groupBy(col("lang"), col("tertile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("mean_kn_ppb")).as("min_score"),
          max(col("mean_kn_ppb")).as("max_score"))
        .orderBy(col("lang"), col("tertile"))
    }),

    // Per-document keyword extraction: each doc's top-3 distinguishing
    // terms by tf·idf — the topic-tagging / cluster-labeling feature a
    // curation pipeline attaches to every document. Both shuffles are
    // vocabulary-shaped, never corpus²: (1) the exploded (doc, term)
    // tf aggregation (map-side combine collapses repeats before the
    // exchange), (2) the per-term document-frequency rollup derived
    // from tf itself, joined back ON TERM as a shuffle join — at
    // 100 TB the vocabulary is many millions of terms, so broadcast is
    // wrong here and the equi-join is the scale path. The corpus size
    // N is the only broadcast (one row). Per-doc top-3 is a window
    // with the rank filter directly on row_number → WindowGroupLimit
    // keeps 3 rows per doc per partition before the exchange. Scoring
    // orders by the ROUNDED score (term asc tie-break) so both engines
    // rank identical values.
    "llm_keyword_extract" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).cast(DoubleType).as("df"))
      val n = Tables.forCompute(s, dir, "documents")
        .agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val rank = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast(DoubleType) * log(col("n_docs") / col("df")), 6))
        .withColumn("rk", row_number().over(rank))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Collocation extraction: the corpus's top-20 word bigrams by PMI
    // — pointwise mutual information, the statistic behind
    // merge-into-one-token decisions in vocabulary construction
    // (word2vec's phrase pass, SentencePiece seeding). PMI's monotone
    // core P(ab)/(P(a)P(b)) = c₂·N/(c₁ₐ·c₁ᵦ) is ranked in exact
    // integer arithmetic (×10⁶ integral divide — no log needed for
    // ordering) carried in DECIMAL(38,0): see [[PmiExpr]]. Two
    // vocabulary-shaped
    // aggregations (bigram + unigram counts) joined on the words —
    // shuffle joins, never broadcast, because a 100 TB vocabulary
    // isn't; min-support c₂ ≥ 5 prunes the hapax tail before the
    // joins. N is the only broadcast (one row).
    "llm_collocations_pmi" -> ((s, dir) => {
      val t = toks(col("text"))
      val words = Tables.forCompute(s, dir, "documents")
        .select(explode(t).as("w"))
      // Unigram table persisted (r14): vocabulary-shaped, feeds three
      // consumers (both PMI probe joins and the corpus token count
      // N = Σc₁ — exactly the old words.count, one aggregation
      // shallower). Before, each consumer re-tokenized the corpus —
      // 3 scans; now 2 (unigrams + bigrams), same aggregate-only
      // persist policy as the LM/type tables.
      val uni = words.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        .transform(graft.Pins.pin)
      // coalesce keeps the old count(*) non-null contract on an empty
      // corpus (sum() is NULL over zero rows; r14 ADVICE #3).
      val n = uni.agg(coalesce(sum(col("c1")), lit(0L)).as("n_tokens"))
      val bigrams = Tables.forCompute(s, dir, "documents")
        .select(explode(when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
          .otherwise(array().cast(ArrayType(StructType(Seq(
            StructField("w1", StringType), StructField("w2", StringType))))))).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .filter(col("c2") >= 5)
      bigrams
        .join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
        .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
        .crossJoin(broadcast(n))
        .withColumn("pmi_ppm", expr(PmiExpr))
        .select(col("w1"), col("w2"), col("c2"), col("pmi_ppm"))
        .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Per-document n-gram NOVELTY profile — for each doc, the fraction
    // of its distinct word-3-shingles whose FIRST corpus occurrence
    // (min doc_id over containing docs) is the doc itself. The
    // dataset-ordering diagnostic behind dedup-aware curriculum and
    // memorization studies: a late doc with near-zero novelty is
    // recombined boilerplate even when no single pair-finder flags it.
    // Shape: distinct-shingle explode, min-aggregation per gram (the
    // first-occurrence table — gram-keyed, corpus-scaled, so its join
    // back is never FORCED broadcast; Catalyst/AQE sizes it, landing
    // on a shuffle join at corpus scale), one doc_id re-group. All
    // integer arithmetic → hash-checked.
    "llm_ngram_novelty" -> ((s, dir) => {
      val grams = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(DedupQueries.shingles3(col("text"))).as("g"))
      val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_grams"))
        .orderBy(col("doc_id"))
    }),

    // Linear quality classifier via the hashing trick (the fastText
    // shape, Joulin et al. 2016 — the architecture behind the CCNet /
    // GPT-3 "looks like reference text" quality filters): each token
    // hashes into one of QcDim buckets; the model IS the QcDim-entry
    // weight vector; doc score = Σ w[h(tok) mod QcDim]. Here the
    // weights are a pinned pseudo-random projection (md5 of the bucket
    // id, the same cross-engine hash every sketch op uses) rather than
    // trained coefficients — the serving-path plumbing is what the
    // engine owns; swapping in trained weights is a literal-array
    // change. All-integer arithmetic → hash-checked oracle.
    // Scale: explode + per-token md5 + hash-groupBy(doc_id) with
    // map-side combine — one linear shuffle of (doc_id, partial sums),
    // weights need no table at all (computed in-expression). At 100 TB
    // this is scan-speed; a trained model would broadcast QcDim longs.
    "llm_quality_classifier" -> ((s, dir) => {
      val d = QcDim
      val bucket = pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast(LongType), lit(d))
      val weight = pmod(conv(substring(md5(concat(lit("w#"), col("b"))), 1, 8), 16, 10)
        .cast(LongType), lit(2001)) - 1000
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .withColumn("b", bucket)
        .withColumn("w", weight)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
        .withColumn("label",
          when(col("score") > 0, lit("keep")).otherwise(lit("drop")))
        .orderBy(col("doc_id"))
    }),

    // Skip-gram co-occurrence counts (window +2, forward) — the
    // word2vec/GloVe training-data prep stage: the (center, context)
    // count matrix every classical embedding trainer consumes
    // (Mikolov '13 counts exactly these pairs; GloVe §3 weights them).
    // Shape: per-row projection builds both offset-pair arrays (no
    // self-join of the token stream — the naive positions⋈positions
    // formulation shuffles the corpus twice), one explode, then a
    // partial+final (w1, w2) count agg and a TakeOrdered top-k. At
    // 100 TB the map-side combine on the Zipf-skewed pair space is
    // what keeps the shuffle vocabulary-shaped rather than
    // token-stream-shaped.
    "llm_cooccurrence" -> ((s, dir) => {
      val t = toks(col("text"))
      val emptyPairs = array().cast(ArrayType(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType)))))
      def pairsAt(d: Int) = when(size(t) > d,
        transform(sequence(lit(1), size(t) - d), i =>
          struct(element_at(t, i).as("w1"), element_at(t, i + d).as("w2"))))
        .otherwise(emptyPairs)
      Tables.forCompute(s, dir, "documents")
        .select(explode(concat(pairsAt(1), pairsAt(2))).as("p"))
        .filter(length(col("p.w1")) > 0 && length(col("p.w2")) > 0)
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Feature-hashing text embedder (the hashing trick — Weinberger et
    // al., ICML'09): every token lands in one of 64 signed buckets
    // (dim = md5 hex % 64, sign = next-nibble parity), giving each doc
    // a 64-d integer vector with NO vocabulary table at all — the
    // cheap scan-speed embedding used for dedup blocking, DSIR-style
    // importance features, and classifier inputs when a trained
    // encoder is too expensive for a first pass over 100 TB. One
    // explode + one (doc, dim) partial+final agg; the projection is
    // stateless per token, so the pass parallelizes perfectly and an
    // incremental ingest embeds only new docs. Output = per-doc sparse
    // summary (nnz + exact integer squared norm); all arithmetic is
    // md5-derived integers, hash-exact against the twin.
    "llm_hash_embed" -> ((s, dir) => {
      val dim = pmod(conv(substring(md5(col("term")), 1, 8), 16, 10)
        .cast(LongType), lit(64L)).cast(IntegerType)
      val sgn = when(pmod(conv(substring(md5(col("term")), 9, 1), 16, 10)
        .cast(LongType), lit(2L)) === 0, lit(1L)).otherwise(lit(-1L))
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .withColumn("dim", dim).withColumn("sgn", sgn)
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sgn")).as("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"),
          sum(col("w") * col("w")).as("sq_norm"))
        .orderBy(col("doc_id"))
    })
  )

  /** Per-document interpolated Kneser–Ney bigram score (ppb mean over
    * the doc's bigrams, rounded at 6) — the shared scorer behind
    * llm_kneser_ney_quality (bottom-20 audit) and
    * llm_perplexity_buckets (per-lang tertile mixture). Docs with < 2
    * tokens contribute no bigrams and drop out, in both engines.
    */
  private def knDocScores(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val pairs = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      .otherwise(array().cast(ArrayType(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType))))))
    val bg = Tables.forCompute(s, dir, "documents")
      .select(col("doc_id"), explode(pairs).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // The bigram-TYPE table is VOCABULARY-shaped and feeds four
    // consumers (ctx, cont, t_types, the probe join) — persisted once
    // (r14; the same aggregate-only persist policy as the substring
    // op's candidate grams — the content-exploded bg frame itself
    // stays recompute-per-consumer, 2 corpus scans). Before, each
    // consumer re-tokenized the corpus from scratch: Catalyst prunes
    // each copy differently, so no exchange reuse fired — 5 scans and
    // 3 positions-scale shuffles, measured in
    // plans/r14/llm_kneser_ney_quality_before.txt.
    val types = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(graft.Pins.pin)
    val ctx = types.groupBy(col("w1"))
      .agg(sum(col("c12")).cast(LongType).as("c1"),
        count(lit(1)).as("nctx"))
    val cont = types.groupBy(col("w2"))
      .agg(count(lit(1)).as("ncont"))
    val tTypes = broadcast(types.agg(count(lit(1)).as("t_types")))
    // Statistics pre-joined VOCAB-side so the positions-scale probe
    // stream shuffles ONCE on (w1, w2) — the old probe chain
    // re-shuffled the whole bigram stream per statistic (on (w1,w2),
    // then w1, then w2; guide §2.3 "shuffle fewer bytes").
    val lm = types.join(ctx, "w1").join(cont, "w2").crossJoin(tTypes)
    bg.join(lm, Seq("w1", "w2"))
      .withColumn("q_ppb", expr(KnExpr))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("q_ppb")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_q").cast(DoubleType) / col("n_bigrams").cast(DoubleType),
          6).as("mean_kn_ppb"))
  }

  /** Hashed-feature dimensionality of the quality classifier. 64 keeps
    * the fixture's bucket collisions frequent enough to exercise the
    * hashing trick; a production model would use 2²⁰+.
    */
  val QcDim = 64

  /** PMI's exact-integer ranking core. The naive int64 form
    * `c2 * n_tokens * 1000000` wraps at ~10⁹ corpus tokens (a 100 TB
    * corpus is ~10¹³: under ANSI the query dies, without it the
    * ranking is silent garbage), so the products are carried in
    * DECIMAL(38,0) — worst case c2·N·10⁶ ≈ 10³² fits — and the
    * integral divide of decimals lands back in BIGINT (the quotient is
    * bounded by N·10⁶ / min_support < 2⁶³). The DuckDB twin rides
    * HUGEINT (int128) to the same exact quotient; LlmSpec proves both
    * forms against BigInt at counts where int64 wraps.
    */
  private[graft] val PmiExpr =
    "(CAST(c2 AS DECIMAL(38,0)) * n_tokens * 1000000) DIV (CAST(c1a AS DECIMAL(38,0)) * c1b)"

  /** Kneser–Ney's exact-integer probability core, parts-per-billion.
    * With d = 3/4, P = (c12−3/4)/c1 + (3/4)·nctx/c1 · ncont/T
    * multiplies out to ((4·c12−3)·T + 3·nctx·ncont) / (4·c1·T) — one
    * integer quotient, no float. c12 ≥ 1 keeps the discounted count
    * positive, so the max(·,0) of the textbook form never binds.
    * Carried in DECIMAL(38,0): worst case 10⁹·4·c12·T ≈ 10³⁴ at the
    * 100 TB regime (c12 ~ 10¹³, T ~ 10¹²) fits; the quotient is a
    * probability scaled by 10⁹ so it lands back in BIGINT. The DuckDB
    * twin rides HUGEINT to the same quotient; LlmSpec proves both
    * against BigInt at counts where int64 wraps.
    */
  private[graft] val KnExpr =
    "(CAST(1000000000 AS DECIMAL(38,0)) * " +
      "((4 * CAST(c12 AS DECIMAL(38,0)) - 3) * t_types + " +
      "3 * CAST(nctx AS DECIMAL(38,0)) * ncont)) " +
      "DIV (4 * CAST(c1 AS DECIMAL(38,0)) * t_types)"

  /** DuckDB CTE chain producing per-doc KN scores as `scores(doc_id,
    * n_bigrams, mean_kn_ppb)` — the twin of [[knDocScores]], shared by
    * the bottom-20 audit and the tertile-mixture oracle.
    */
  private val KnScoreCtes: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |  FROM t, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i)),
      |ty AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |               count(*) AS nctx FROM ty GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS ncont FROM ty GROUP BY 1),
      |tt AS (SELECT count(*) AS t_types FROM ty),
      |q AS (
      |  SELECT b.doc_id,
      |    CAST(CAST(1000000000 AS HUGEINT)
      |         * ((4 * CAST(c12 AS HUGEINT) - 3) * t_types
      |            + 3 * CAST(nctx AS HUGEINT) * ncont)
      |         // (4 * CAST(c1 AS HUGEINT) * t_types) AS BIGINT) AS q
      |  FROM b JOIN ty USING (w1, w2) JOIN ctx USING (w1)
      |       JOIN cont USING (w2), tt),
      |scores AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    round(CAST(sum(q) AS BIGINT)::DOUBLE / CAST(count(*) AS DOUBLE), 6)
      |      AS mean_kn_ppb
      |  FROM q GROUP BY 1)""".stripMargin

  private val toksSql = "regexp_split_to_array(lower(text), '\\s+')"
  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter($toksSql, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  val oracleSql: Map[String, String] = Map(
    "llm_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'),
        |                      '\s+', ' ', 'g')) AS norm_text,
        |  CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'),
        |                               '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_truncate_to_budget" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_toks,
        |  CAST(least(len(regexp_split_to_array(lower(text), '\s+')), 32) AS BIGINT) AS n_kept,
        |  array_to_string(regexp_split_to_array(lower(text), '\s+')[1:32], ' ') AS trunc_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_oov_rate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |v AS (
        |  SELECT tok FROM t GROUP BY tok
        |  ORDER BY count(*) DESC, tok LIMIT 10)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(count(*) FILTER (tok NOT IN (SELECT tok FROM v)) AS BIGINT) AS n_oov,
        |  CAST((count(*) FILTER (tok NOT IN (SELECT tok FROM v)) * 1000000)
        |       // count(*) AS BIGINT) AS oov_ppm
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS total_tokens,
         |  CAST(sum(CAST(len(list_distinct($toksSql)) AS BIGINT)) AS BIGINT) AS total_distinct_tokens,
         |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  CAST(${hitsSql(enWords)} AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) AS stopword_ratio,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
         |  CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) AS type_token_ratio,
         |  (len($toksSql) >= 20
         |   AND CAST(${hitsSql(enWords)} AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) > 0.01
         |   AND CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST(len($toksSql) AS DOUBLE) > 0.2) AS passes_quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_words,
         |    CAST(list_sum(list_transform(toks, x -> len(x))) AS INT) AS sum_wlen,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS INT) AS n_alpha,
         |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |    CAST(len(list_filter(list_distinct(toks),
         |      x -> x IN ('the','a','and','of','to'))) AS INT) AS n_stop
         |  FROM t),
         |r AS (
         |  SELECT doc_id, n_words, n_alpha, n_distinct, n_stop,
         |    CAST((sum_wlen * 100) // n_words AS INT) AS mwl_x100
         |  FROM m)
         |SELECT doc_id, n_words, mwl_x100,
         |  n_words BETWEEN 20 AND 400 AS r_wordcount,
         |  mwl_x100 BETWEEN 300 AND 500 AS r_meanlen,
         |  n_alpha * 100 >= n_words * 80 AS r_alpha,
         |  n_stop >= 2 AS r_stopwords,
         |  n_distinct * 100 >= n_words * 60 AS r_ttr,
         |  CAST(CAST(n_words BETWEEN 20 AND 400 AS INT)
         |     + CAST(mwl_x100 BETWEEN 300 AND 500 AS INT)
         |     + CAST(n_alpha * 100 >= n_words * 80 AS INT)
         |     + CAST(n_stop >= 2 AS INT)
         |     + CAST(n_distinct * 100 >= n_words * 60 AS INT) AS INT) AS n_rules_passed,
         |  (n_words BETWEEN 20 AND 400) AND (mwl_x100 BETWEEN 300 AND 500)
         |    AND (n_alpha * 100 >= n_words * 80) AND (n_stop >= 2)
         |    AND (n_distinct * 100 >= n_words * 60) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "llm_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    ${hitsSql(enWords)} AS en, ${hitsSql(deWords)} AS de,
         |    ${hitsSql(frWords)} AS fr, ${hitsSql(esWords)} AS es
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'unknown'
         |         WHEN en = greatest(en, de, fr, es) THEN 'en'
         |         WHEN de = greatest(en, de, fr, es) THEN 'de'
         |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |         ELSE 'es' END AS pred_lang
         |  FROM scored)
         |SELECT lang, pred_lang, count(*) AS n_docs FROM pred
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "llm_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_repetition_filter" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN len($toksSql) >= 3
         |         THEN list_transform(generate_series(1, len($toksSql) - 2),
         |                i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])
         |         ELSE [] END AS grams
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(grams) AS INT) AS total_3grams,
         |  CAST(len(list_distinct(grams)) AS INT) AS uniq_3grams,
         |  round(CASE WHEN len(grams) > 0
         |        THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
         |             / CAST(len(grams) AS DOUBLE) ELSE 0.0 END, 6) AS rep_ratio,
         |  (len(grams) > 0 AND
         |   (len(grams) - len(list_distinct(grams))) * 25 > len(grams)) AS flagged
         |FROM g ORDER BY doc_id""".stripMargin,
    "llm_fingerprint" ->
      s"""SELECT doc_id, md5(lower(trim(text))) AS content_fp,
         |  CAST(n_chars // 100 AS INT) AS len_bucket,
         |  $toksSql[1] AS first_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_boilerplate_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)),
        |d AS (
        |  SELECT g, count(*) AS df FROM g GROUP BY 1 HAVING count(*) >= 5)
        |SELECT a.doc_id, count(*) AS n_boiler_grams,
        |  CAST(max(d.df) AS BIGINT) AS max_gram_df
        |FROM g a JOIN d USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_ngram_lm_quality" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS g, w[i] AS w1
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i)),
        |c2 AS (SELECT g, count(*) AS c2 FROM b GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM c1),
        |q AS (
        |  SELECT b.doc_id, ((c2.c2 + 1) * 1000000000) // (c1.c1 + v.vocab) AS q
        |  FROM b JOIN c2 USING (g) JOIN c1 USING (w1), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(q) AS BIGINT)::DOUBLE / CAST(count(*) AS DOUBLE), 6) AS mean_qprob
        |FROM q GROUP BY 1
        |ORDER BY mean_qprob, doc_id LIMIT 20""".stripMargin,
    "llm_kneser_ney_quality" ->
      s"""WITH $KnScoreCtes
         |SELECT doc_id, n_bigrams, mean_kn_ppb
         |FROM scores
         |ORDER BY mean_kn_ppb, doc_id LIMIT 20""".stripMargin,
    // Same KN scores, ntile(3) per language over the identical
    // (score, doc_id) total order, same audit panel.
    "llm_perplexity_buckets" ->
      s"""WITH $KnScoreCtes,
         |tiled AS (
         |  SELECT d.lang, s.mean_kn_ppb,
         |    ntile(3) OVER (PARTITION BY d.lang
         |                   ORDER BY s.mean_kn_ppb, s.doc_id) AS tertile
         |  FROM scores s JOIN documents d USING (doc_id))
         |SELECT lang, CAST(tertile AS INT) AS tertile,
         |  count(*) AS n_docs,
         |  min(mean_kn_ppb) AS min_score,
         |  max(mean_kn_ppb) AS max_score
         |FROM tiled GROUP BY 1, 2 ORDER BY lang, tertile""".stripMargin,
    "llm_keyword_extract" ->
      """WITH tf AS (
        |  SELECT doc_id, u.term, count(*) AS tf
        |  FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS u(term)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    round(CAST(tf AS DOUBLE) * ln(n_docs / df.df), 6) AS score
        |  FROM tf JOIN df USING (term), n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term,
        |       CAST(tf AS BIGINT) AS tf, score
        |FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "llm_collocations_pmi" ->
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS c1 FROM w GROUP BY w),
        |n AS (SELECT count(*) AS n_tokens FROM w),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c2
        |  FROM t, unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS g(i)
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
        |  CAST(CAST(c2 AS HUGEINT) * n_tokens * 1000000
        |       // (CAST(a.c1 AS HUGEINT) * b.c1) AS BIGINT) AS pmi_ppm
        |FROM bg
        |JOIN uni a ON bg.w1 = a.w
        |JOIN uni b ON bg.w2 = b.w, n
        |ORDER BY pmi_ppm DESC, w1, w2 LIMIT 20""".stripMargin,
    // Same distinct 3-shingles, same min-doc_id first-occurrence
    // attribution, same integer ppm.
    "llm_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (first_doc = doc_id) AS BIGINT) AS n_novel,
        |  CAST(count(*) FILTER (first_doc = doc_id) * 1000000 // count(*) AS BIGINT) AS novelty_ppm
        |FROM g JOIN f USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same bucket hash (first 8 md5 hex digits), same pinned weight
    // derivation md5('w#' || bucket) % 2001 - 1000, summed per doc.
    "llm_quality_classifier" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    sum((('0x' || substr(md5('w#' ||
         |        (('0x' || substr(md5(tok), 1, 8))::BIGINT % $QcDim)), 1, 8))::BIGINT
         |      % 2001) - 1000) AS score
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(score AS BIGINT) AS score,
         |  CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM sc ORDER BY doc_id""".stripMargin,
    // Same two forward offsets via a generate_series cross-unnest.
    "llm_cooccurrence" ->
      """WITH t AS (
        |  SELECT regexp_split_to_array(lower(text), '\s+') AS w FROM documents),
        |p AS (
        |  SELECT w[i] AS w1, w[i + d] AS w2
        |  FROM t,
        |       unnest(generate_series(1, len(w) - 1)) AS u(i),
        |       unnest([1, 2]) AS v(d)
        |  WHERE i + d <= len(w))
        |SELECT w1, w2, count(*) AS cnt FROM p
        |WHERE len(w1) > 0 AND len(w2) > 0
        |GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
    // Same md5-nibble bucket/sign derivation, same (doc, dim) signed
    // sums, exact integer squared norm.
    "llm_hash_embed" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS dim,
        |    CASE WHEN ('0x' || substr(md5(term), 9, 1))::BIGINT % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, dim, sum(sgn) AS w FROM f GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS nnz,
        |  CAST(sum(w * w) AS BIGINT) AS sq_norm
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
