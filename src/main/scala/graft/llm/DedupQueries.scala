package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.4):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design notes (the 100 TB story, per operator):
  *  - exact: hash-groupBy on a 128-bit content fingerprint — one
  *    shuffle of (hash, id), never of the text itself.
  *  - n-gram Jaccard: inverted-index self-join (explode distinct
  *    shingles → join on shingle → pair-count = intersection size).
  *    Never a cross join. Stop-shingles (document frequency >
  *    `MaxShingleDf`) are dropped from the doc representation before
  *    the join — one ultra-common shingle would otherwise fan the
  *    self-join out quadratically in its df. The hot list is tiny by
  *    construction, so the drop is a broadcast anti-join.
  *    All-integer arithmetic (inter/union counts) → exact oracle
  *    (the cap is mirrored in the DuckDB twin).
  *  - MinHash LSH: shingle → minhash signature → band-bucket join;
  *    candidate pairs verified with exact Jaccard. Linear shuffle in
  *    corpus size, no pairwise blow-up.
  *  - SimHash: 64-bit signature per doc from token hashes (one narrow
  *    shuffle-free projection), then band-blocked join on 16-bit
  *    sub-keys for hamming-neighbor candidates.
  */
object DedupQueries {

  /** Stop-shingle document-frequency cap for the inverted-index Jaccard
    * join: bounds any single shingle's pair fan-out at MaxShingleDf².
    * 50 is far above every fixture df (max 25 at sf0.1), so small-SF
    * results are unchanged; at 100 TB it is the knob that keeps the
    * postings self-join linear.
    */
  val MaxShingleDf = 50

  /** Distinct word-3-shingles of the text, as strings (n tokens →
    * n-2 shingles; empty for n<3). r15: the gram construction is the
    * native one-pass [[graft.functions.NgramsWsExpr]] kernel — the
    * HOF form re-ran a regex split plus three element_at probes and a
    * concat_ws build per shingle per CONSUMER, and this is the
    * corpus-streaming stage of the whole near-dup family (guide §4:
    * kill per-row allocation in the hot path). Bit-exact twin
    * [[ngramsWsHof]] stays as the semantics spec (FunctionsSpec pins
    * equality over the full fixture corpus + edge cases).
    */
  private[graft] def shingles3(c: Column): Column =
    array_distinct(call_function("ngrams_ws", c, lit(3)))

  /** HOF twin of the ngrams_ws kernel for any n — spec only, pinned
    * element-for-element (order included) in FunctionsSpec (guarded
    * because Spark's `sequence` counts DOWN when start > stop).
    * [[shingles3]]'s old form was array_distinct of exactly this at
    * n = 3.
    */
  private[graft] def ngramsWsHof(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      transform(
        sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*)))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** doc_id + exploded distinct shingles — the inverted-index postings.
    *
    * The shingle rides as an 8-byte xxhash64 FINGERPRINT, not the
    * ~18-char string (r14): it is an ENGINE-LOCAL equality key —
    * grouped and joined on, never emitted — exactly the policy the
    * substring op's gram key already established (its Scaladoc:
    * "each engine may hash its own way"; the oracle twins re-derive
    * from the strings). Every consumer (df cap, posting lists, pair
    * intersection, per-doc sizes, the incremental batch probe) moves
    * fixed 8-byte keys through its shuffles instead of var-length
    * strings — at 100 TB the postings shuffle IS this family's cost
    * (guide §2.3 "narrower types"; measured 70.6 → ~45 MB on the pair
    * build at sf0.1).
    *
    * COLLISION ENVELOPE (r15, stating the scale-dependent expectation
    * honestly — r14 VERDICT #4): a 64-bit collision merges two
    * shingles' postings, inflating the affected doc pairs'
    * intersection counts by ≤ 1 each. Expected colliding pairs among
    * n distinct shingles ≈ n²/2⁶⁵:
    *   n = 10⁶  (fixture scale)      → ~3·10⁻⁸  (none; fixtures
    *                                    hash-verify collision-free
    *                                    against the string-keyed
    *                                    DuckDB twins at every SF)
    *   n = 10¹⁰ (≈ 1 TB of text)     → ~3 merged postings
    *   n = 10¹¹–10¹² (100 TB design) → ~3·10²–3·10⁴ merged postings
    * At design scale that is thousands of +1 perturbations spread over
    * ~10¹⁰ documents' pairwise counts — statistically invisible to
    * near-dup estimation (each affected pair's Jaccard moves by
    * ~1/|union|), but NOT bit-identical to a string-keyed run: the
    * "results identical at every scale" contract holds only up to this
    * envelope. ACCEPTED TRADE, same class as the substring gram key.
    * Deployments needing near-exactness at design scale should widen
    * the key to 128 bits — two salted halves,
    * `struct(xxhash64(sh), xxhash64(sh, lit(1)))`, expected collisions
    * ~n²/2¹²⁹ ≈ 10⁻¹⁵ at n = 10¹² — for 2× the key bytes in every
    * postings shuffle; the 8-byte key stays the default because the
    * shuffle IS the cost at scale and the perturbation is below any
    * measurable recall/precision effect (SCALE.md "64-bit fingerprint
    * collision budget").
    */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles3(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shingle"))

  /** Banded-MinHash CANDIDATE pairs at an explicit (bands ×
    * rowsPerBand) operating point — the near-dup blocking dial made a
    * PARAMETER (round-10 verdict #2). `docs` is the shingled frame
    * (doc_id, shingles), non-empty shingle arrays only. The signature
    * pass is the fused native kernel (32 minhashes — bands·rowsPerBand
    * must divide into it); docs agreeing on all rowsPerBand slots of
    * any band become a candidate pair via ONE equi-join on the band
    * key — linear shuffle, never pairwise.
    *
    * Choosing (b, r): candidate recall at exact Jaccard J is the
    * classic S-curve 1−(1−J^r)^b — more bands of fewer rows catch
    * lower-J twins at more candidates (the banding sweep measures the
    * actual tradeoff on the Zipf witness corpus; see SCALE.md). The registered query's default stays 8×4 (recall
    * ≥0.9998 at the J≥0.9 fixture operating range, measured 0 false
    * candidates surviving verification); pipelines targeting the
    * production J 0.7–0.8 band should run 16×2 (the sweep's measured
    * recall/cost point for that threshold).
    */
  private[graft] def bandedCandidates(docs: DataFrame, bands: Int,
                                      rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= 32 && bands >= 1 && rowsPerBand >= 1,
      s"banding ${bands}x$rowsPerBand exceeds the 32-hash signature")
    // Signature pass through the fused native kernel (one pass over
    // the shingle array; bit-exact vs the 32-fold HOF twin, pinned in
    // FunctionsSpec) — this is the stage that streams the whole
    // corpus, so it runs at scan speed.
    val sig = docs.withColumn("sig",
      call_function("minhash32_native", col("shingles")))
    // Band join carries ONLY (doc_id, band, key) — the shingle
    // arrays would multiply the shuffle width and the pair-distinct;
    // they are attached after dedup of candidate pairs, once per
    // pair side, for exact verification.
    val banded = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).as("key")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[bandedCandidates]] + exact-Jaccard verification over the
    * candidates' shingle arrays (false-positive-free output; recall is
    * the only approximation): pairs with J ≥ minJacNum/minJacDen.
    */
  private[graft] def bandedNearDup(docsRaw: DataFrame, bands: Int, rowsPerBand: Int,
                                   minJacNum: Int = 1, minJacDen: Int = 5): DataFrame = {
    // Shingling feeds the signature pass + both verification joins.
    // PERSIST BEFORE FILTER: a filter on the computed column is
    // pushed below the forCompute repartition onto the (single-
    // partition at this file size) scan, single-threading the whole
    // shingle pass inside the scan stage. The cache is an optimizer
    // barrier — shingling runs once, distributed; the emptiness
    // filter is a trivial scan over the cached arrays.
    val cached = docsRaw
      .select(col("doc_id"), shingles3(col("text")).as("shingles"))
      .transform(graft.Pins.pin)
    val docs = cached.filter(size(col("shingles")) > 0)
    bandedCandidates(docs, bands, rowsPerBand)
      .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_sz", size(col("sha")) + size(col("shb")) - col("inter"))
      .filter(col("inter") * minJacDen >= col("union_sz") * minJacNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
  }

  /** All co-shingle document pairs with their intersection size and
    * per-doc shingle counts (doc_a < doc_b, inter, n_a, n_b — all
    * integers). The shared pair finder behind BOTH similarity
    * measures ([[jaccardPairs]], containment) — the expensive part
    * (postings, df cap, in-list pair generation) is measure-agnostic;
    * the measures differ only in the final integer predicate.
    */
  private def scoredPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.forCompute(s, dir, "documents")
    // Inverted index as PER-SHINGLE POSTING LISTS: one groupBy shuffle
    // of the postings replaces the two-sided equi-self-join (which
    // shuffles the postings twice and re-sorts both sides).
    // The stop-shingle cap (a shingle in > MaxShingleDf docs would fan
    // out up to df² pairs) is applied BEFORE list materialization:
    // df is a map-side-combined count, the hot list is small in
    // practice (its bound, corpus_shingles / MaxShingleDf, is still
    // LINEAR in the corpus — which is why the anti-join below carries
    // no broadcast hint), and only capped shingles reach collect_list — a hot shingle must
    // never build its full posting ArrayBuffer in one aggregation
    // group (collect_list cannot spill within a group; filtering the
    // LIST length after the fact would OOM exactly when the cap
    // matters). Persisted because the lists feed both the per-doc
    // sizes and the pair generation (at cluster scale: a checkpointed
    // table — the standard reusable-index shape).
    val posts = postings(docs)
      .transform(graft.Pins.pin)
    val hot = posts.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf)
      .select(col("shingle"))
    // Unhinted anti-join under the engine's static-broadcast-off
    // discipline: the hot set's size bound is postings/MaxShingleDf —
    // LINEAR in the corpus, not constant — and Catalyst's static
    // estimate of the agg-derived side reads tiny, so a default
    // session would broadcast a build side that grows with the corpus
    // (measured: the 50-char-gram twin of this join OOMed the driver
    // at a 30x-derived corpus, ScaleBench). AQE promotes to broadcast
    // only from the actual runtime size.
    val lists = posts.join(hot, Seq("shingle"), "left_anti")
      .groupBy(col("shingle")).agg(collect_list(col("doc_id")).as("ids"))
      .transform(graft.Pins.pin)
    val sizes = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    // All in-list ordered pairs (a < b): O(df²) per shingle with
    // df ≤ MaxShingleDf — bounded, no join. r15: through the native
    // pair kernel ([[graft.functions.PairStructsExpr]]; element-exact
    // twin of the HOF kept as [[pairStructsHof]], pinned in
    // FunctionsSpec) — the HOF form allocated a filtered copy of the
    // list per element plus interpreted nested lambdas per pair; the
    // kernel emits each pair once into one exactly-sized buffer.
    val pairs = lists
      .select(explode(call_function("pair_structs", col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // Sizes join stays a shuffle join: per-doc sizes are corpus-sized
    // (one row per document) — never broadcastable at scale; AQE
    // broadcasts them at small SF on its own.
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("sa.n_shingles").as("n_a"), col("sb.n_shingles").as("n_b"))
  }

  /** Near-dup pairs (Jaccard >= 0.2 on word-3-shingles) — the pair
    * finder behind `llm_dedup_ngram_jaccard`, reused by the cluster/
    * survivor stage ([[CorpusQueries]]). Columns: doc_a < doc_b,
    * inter, union_sz (all integers — oracle-exact). Unordered;
    * callers add their own presentation sort.
    */
  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_sz"))
      .filter(col("inter") * 5 >= col("union_sz")) // jaccard >= 0.2

  /** The near-dup pair graph as a MATERIALIZED index: in a production
    * corpus the pair finder runs once per ingest, and every downstream
    * consumer (cluster resolution, cross-source audit, curation, the
    * pair report itself) reads the artifact — never re-derives it per
    * query. Staleness is a filesystem-metadata fingerprint of the
    * documents table (an ingest rewrites the files), checked in
    * O(files). The artifact stores every pair passing EITHER measure
    * (Jaccard >= 0.2 OR containment >= 0.8) with the raw integer
    * evidence (inter, n_a, n_b) — ONE pair-finder pass per ingest
    * serves both similarity views; each query filters its own
    * predicate back out, and both views are oracle-checked end to end
    * (the twins re-derive the same measures from scratch), so the
    * materialization path is itself hash-verified.
    */
  private[graft] val PairIndexName = "neardup_pairs"

  private def materializedScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val store = new graft.etl.IndexStore(s, graft.etl.IndexStore.artifactRoot(dir))
    // Fingerprint = builder version + knobs + input-file metadata: a
    // code/knob change must invalidate the artifact exactly like an
    // ingest does (the warehouse outlives deployments).
    val fp = s"pairs_v2:df<=$MaxShingleDf:jac>=0.2|cont>=0.8:" +
      graft.etl.IndexStore.pathFingerprint(s, s"$dir/documents.parquet")
    store.readOrBuildArtifact(PairIndexName, fp)(
      scoredPairs(s, dir).filter(
        col("inter") * 5 >= col("n_a") + col("n_b") - col("inter") ||
          col("inter") * 5 >= lit(4) * least(col("n_a"), col("n_b"))))
  }

  /** Jaccard view of the pair artifact (doc_a, doc_b, inter, union_sz). */
  private[graft] def materializedPairs(s: SparkSession, dir: String): DataFrame =
    materializedScoredPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_sz"))
      .filter(col("inter") * 5 >= col("union_sz"))

  /** Containment view of the pair artifact (inter/min >= 0.8). */
  private[graft] def materializedContainment(s: SparkSession, dir: String): DataFrame =
    materializedScoredPairs(s, dir)
      .filter(col("inter") * 5 >= lit(4) * least(col("n_a"), col("n_b")))

  /** Shared DuckDB CTE chain producing `good(doc_a, doc_b, inter,
    * union_sz)` — the SQL twin of [[jaccardPairs]], composed into both
    * the pair query's oracle and the recursive cluster oracle.
    */
  /** Shared DuckDB CTE prefix — shingling, df cap, pair intersection
    * and per-doc sizes — mirrored from [[scoredPairs]]; each measure's
    * twin appends its own integer predicate.
    */
  private[graft] val ngramBaseCtes: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS g(i)),
      |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
      |kept AS (SELECT sh.doc_id, sh.shingle
      |         FROM sh JOIN df USING (shingle) WHERE df.df <= <MAX_DF>),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM kept GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin
      .replace("<MAX_DF>", MaxShingleDf.toString) // single knob, both engines

  /** DuckDB twin of the winnow pair finder (k=8 polynomial char-gram
    * hash, w=4 window minima, COMPOSITE skip-8 packed fingerprints —
    * see [[graft.functions.GraftKernels.winnowCfps]] — df cap) ending
    * in `wpairs(doc_a, doc_b, shared_fps)` — UNthresholded so
    * consumers apply their own `shared_fps >= MinSharedFps`. All CTE
    * names are w-prefixed so the chain composes with
    * [[ngramPairsCtes]] in one query (the dedup-eval oracle needs
    * both).
    */
  // lazy: interpolates knobs declared further down — a strict val
  // here would capture their pre-init 0 during object construction.
  private[graft] lazy val winnowPairsCtes: String =
    s"""wdocs AS (
       |  SELECT doc_id, lower(text) AS s, len(lower(text)) AS n
       |  FROM documents WHERE len(text) >= 11),
       |whl AS (
       |  SELECT doc_id,
       |    list_transform(range(1, n - 6), i ->
       |      CAST(unicode(substring(s, i, 1)) AS BIGINT) * 27512614111 +
       |      CAST(unicode(substring(s, i+1, 1)) AS BIGINT) * 887503681 +
       |      CAST(unicode(substring(s, i+2, 1)) AS BIGINT) * 28629151 +
       |      CAST(unicode(substring(s, i+3, 1)) AS BIGINT) * 923521 +
       |      CAST(unicode(substring(s, i+4, 1)) AS BIGINT) * 29791 +
       |      CAST(unicode(substring(s, i+5, 1)) AS BIGINT) * 961 +
       |      CAST(unicode(substring(s, i+6, 1)) AS BIGINT) * 31 +
       |      CAST(unicode(substring(s, i+7, 1)) AS BIGINT)) AS hl
       |  FROM wdocs),
       |wms AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(hl) - 2), p ->
       |      list_min(hl[p:p+3])) AS ms
       |  FROM whl),
       |wmins AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(ms) - ${WinnowSkip - 1}), p ->
       |      (ms[p] % $WinnowP) * $WinnowP + ms[p + $WinnowSkip] % $WinnowP))
       |      AS fps
       |  FROM wms),
       |wposts AS (SELECT doc_id, unnest(fps) AS fp FROM wmins),
       |wdf AS (SELECT fp, count(*) AS df FROM wposts GROUP BY fp),
       |wkept AS (SELECT wposts.doc_id, wposts.fp
       |          FROM wposts JOIN wdf USING (fp) WHERE wdf.df <= $MaxWinnowDf),
       |wpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
       |  FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private[graft] val ngramPairsCtes: String =
    ngramBaseCtes +
      """,
        |good AS (
        |  SELECT doc_a, doc_b, inter,
        |         sa.n_shingles + sb.n_shingles - inter AS union_sz
        |  FROM pairs
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE inter * 5 >= sa.n_shingles + sb.n_shingles - inter)""".stripMargin

  /** No-df-cap exact-Jaccard pair CTEs ending in
    * `scored(doc_a, doc_b, inter, union_sz)` — the twin base for the
    * MinHash verify stages, which count EVERY shingle (the ngram
    * pair-finder twin above drops hot shingles by design; the MinHash
    * verify does not).
    */
  private[graft] val MinhashExactCtes: String =
    """t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS g(i)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_sz
      |  FROM pairs
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id)""".stripMargin

  /** 64-bit SimHash of a text column named `text`: for each bit b, sum
    * +1/-1 votes from every token's xxhash64 bit b; result bit b is set
    * iff the vote is positive. Pure higher-order functions (nested
    * `aggregate`), no UDF, per-row and shuffle-free — O(64·tokens) per
    * document, streams at scan speed over 100 TB.
    */
  val simhash64: Column = expr(
    """aggregate(
      |  sequence(0, 63), CAST(0 AS BIGINT),
      |  (acc, b) -> acc + IF(
      |    aggregate(
      |      transform(split(lower(text), '\\s+'), t -> xxhash64(t)),
      |      CAST(0 AS BIGINT),
      |      (a, h) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1)) > 0,
      |    shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin)

  /** Winnowing knobs (Schleimer/Wilkerson/Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    * algorithm). Char k-grams hashed exactly (base-31 polynomial over
    * ASCII codes — bounded below 2⁴⁴, so BOTH engines compute the
    * identical BIGINT, making this the rare fingerprinting scheme
    * that is DuckDB-oracle-checkable); windows of w consecutive
    * hashes each contribute their minimum. The paper's guarantee:
    * any shared substring of length ≥ k + w − 1 (= 11 chars here)
    * produces at least one shared fingerprint, while per-doc
    * fingerprint density stays ~2/(w+1) — position-free local
    * sampling, which is what word-shingle Jaccard can't give you
    * when edits move word boundaries.
    */
  val WinnowK = 8
  val WinnowW = 4
  val MaxWinnowDf = 50
  /** Composite-fingerprint knobs, shared with the kernel — see
    * [[graft.functions.GraftKernels.winnowCfps]] for the packing.
    */
  val WinnowSkip: Int = graft.functions.GraftKernels.WinnowSkip
  val WinnowP: Long = graft.functions.GraftKernels.WinnowP
  /** Pair threshold: ≥ 20 shared COMPOSITE fingerprints. Measured:
    * sf0.01 recovers 24/25 of the word-3-gram Jaccard ≥ 0.2 pairs at
    * precision 1.0; sf0.1 recovers 237/256 at precision 1.0 — where
    * the single-fingerprint form found NOTHING past sf0.01 (template
    * text pushed every shared single fingerprint over the df cap).
    */
  val MinSharedFps = 20

  /** Exact-substring dedup knobs: report verbatim shared spans of at
    * least SpanK chars (the Lee et al. 2022 50-token idea at char
    * granularity — the fixture's spans are char-verbatim); anchor
    * grams present in more than MaxSpanGramDf distinct docs are
    * boilerplate and never pair.
    */
  val SpanK = 50
  val MaxSpanGramDf = 20

  /** Size governor for the substring pairability Bloom (round-12
    * verdict #1). The prefilter bitmap is materialized on the DRIVER
    * and torrent-broadcast — at fixed fpp 0.01 it costs ~9.6 bits per
    * pairable gram, which is fine at the witnessed 5M docs but at
    * 100 TB (10¹⁰–10¹¹ pairable grams) is a 12–120 GB driver
    * allocation that OOMs before any task runs. The governor is a
    * BITS BUDGET: below it the filter is built at the optimal size
    * for fpp 0.01; past it the bitmap is capped at the budget and the
    * achievable fpp derived from budget/n; and past the utility point
    * (fpp > [[SubstrBloomSkipFpp]] — the filter passes most rows
    * anyway) the prefilter is SKIPPED entirely. Skipping is ALWAYS
    * correct: the Bloom is purely subtractive candidate pruning (the
    * hot-gram anti-join and the doc_a < doc_b self-join define the
    * output), so the governed plan degrades in COST only, never in
    * answers — spec-pinned in LlmSpec (decision table; skip and
    * degraded paths row-identical to the default).
    *
    * Default budget 256 MB (2³¹ bits): ≥ 223M pairable grams at full
    * fpp 0.01, degrading gracefully to the skip point at ~1.5G grams
    * — a bitmap any driver/executor can hold. Witness/ops override
    * via the [[substringIslands]] parameter.
    */
  val SubstrBloomBudgetBits: Long = 1L << 31
  /** Skip threshold: past fpp 0.5 the filter passes most candidate
    * rows anyway — the broadcast + per-row probe buy nothing, so the
    * plan drops the prefilter (exact pruning still happens in the
    * joins).
    */
  val SubstrBloomSkipFpp: Double = 0.5

  /** The governor's pure decision: Bloom geometry from (n, budget).
    * `Some((numBits, fppEstimate))` = build capped at numBits;
    * `None` = skip the prefilter. Optimal bits for target fpp p is
    * −n·ln(p)/ln²2 (standard Bloom sizing, same formula
    * spark.util.sketch uses); achievable fpp at m bits for n items is
    * exp(−m/n·ln²2).
    */
  /** Direct Bloom build over a LONG key column at the ASKED geometry.
    *
    * NOT `df.stat.bloomFilter`: since the stat function moved onto the
    * SQL BloomFilterAggregate, its geometry is silently CLAMPED by the
    * runtime-filter session confs (4M expected items / 64M bits by
    * default) — measured on the 1000× Zipf witness: 16.8M pairable
    * grams asked for 161M bits, got a 64M-bit/12-hash filter sized for
    * 4M items, false-positive rate ≈ 54%, and the join-side exchange
    * carried 1.55 BILLION rows where ~62M were pairable. That silent
    * degrade was the entire measured 300×→1000× "superlinearity" of
    * the substring operator (SCALE.md round-13): every ROW count in
    * the operator is census-linear (SubstrFrac), and a filter honoring
    * its ask keeps the join sides at band+fpp scale at ANY corpus
    * size. This builder aggregates [[org.apache.spark.util.sketch
    * .BloomFilter]] partials directly (putLong — the exact mirror of
    * [[graft.functions.BloomMightContainExpr]]'s mightContainLong
    * probe), so the governor's budget arithmetic is what actually
    * ships. treeAggregate partials are dense m-bit bitmaps, but each
    * carries only its partition's set bits — they zstd to ~sparse size
    * on the wire (measured 795 KB per 20 MB partial at 1000×).
    */
  private[graft] def buildLongBloom(df: DataFrame, colName: String,
                                    expectedItems: Long, numBits: Long)
      : org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val built = df.select(col(colName)).rdd
      .map(_.getLong(0))
      .treeAggregate(BloomFilter.create(expectedItems, numBits))(
        (f, v) => { f.putLong(v); f },
        (a, b) => { a.mergeInPlace(b); a })
    require(built.bitSize() >= numBits,
      s"bloom build returned ${built.bitSize()} bits for asked $numBits — " +
        "a clamped/rewritten build path would silently re-break the scale story")
    built
  }

  private[graft] def substrBloomPlan(
      nEligible: Long,
      budgetBits: Long = SubstrBloomBudgetBits): Option[(Long, Double)] = {
    val n = math.max(nEligible, 1L).toDouble
    val ln2sq = math.log(2.0) * math.log(2.0)
    val wantBits = math.ceil(-n * math.log(0.01) / ln2sq).toLong
    val bits = math.min(wantBits, math.max(budgetBits, 0L))
    val fpp = math.exp(-(bits / n) * ln2sq)
    if (bits <= 0L || fpp > SubstrBloomSkipFpp) None else Some((bits, fpp))
  }

  /** The exact-substring machinery shared by the REPORT
    * (llm_dedup_substring) and the CUT (llm_dedup_substring_cut):
    * every position's SpanK-char gram fingerprinted, df-capped,
    * self-joined, and runs of consecutive shared positions collapsed
    * into diagonal islands — one row per maximal verbatim shared span
    * (doc_a < doc_b, diag = pa − pb, span_len ≥ SpanK chars,
    * pa_start = the span's 1-based start in doc_a).
    *
    * The gram fingerprint is an ENGINE-LOCAL equality key (joined on,
    * never emitted), so each engine may hash its own way: 8-byte
    * xxhash64 here vs the oracle's md5 — the (doc, pos) geometry that
    * reaches any output is hash-agnostic. That makes the exploded
    * frame's shuffle row 8 bytes of key instead of a 32-char digest
    * string — at 100 TB the gram shuffle IS this operator family's
    * cost, and this is a 4× cut of it. The gram frame feeds the df
    * guard and both join sides — recomputed per consumer
    * (content-exploded frame: never cached/checkpointed, same policy
    * as the boilerplate/LM grams).
    */
  /** Positions-gram frame: one row per character position, 8-byte
    * gram fingerprint. Exposed (private[graft]) so PlanSpec can pin
    * the stats pass's plan shape on exactly the frame the query runs.
    */
  private[graft] def substrPosGrams(s: SparkSession, dir: String,
                                    spanK: Int = SpanK): DataFrame =
    Tables.forCompute(s, dir, "documents")
      .filter(length(col("text")) >= spanK)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("text")) - (spanK - 1)),
        i => struct(i.as("pos"), xxhash64(col("text").substr(i, lit(spanK))).as("gh")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))

  /** GRAM-STATS PASS — the operator family's one unavoidable
    * positions-scale shuffle (round-11 verdict #4). Per-gram
    * distinct-doc count serves BOTH consumers: the boilerplate cap
    * (d > MaxSpanGramDf — output-defining, oracle-matched) and the
    * PAIRABILITY prefilter (d ≥ 2 — pure candidate pruning: a gram
    * in one document can never produce a doc_a < doc_b pair). The
    * explicit repartition(gh) makes this ONE exchange: hash(gh)
    * satisfies the clustered distribution of both phases of the
    * distinct-aggregate, so the planner inserts no second
    * positions-scale exchange (the default plan shuffles once on
    * (gh, doc_id) and AGAIN on gh — measured as the agg's second
    * ~positions-sized shuffle, since most grams are unique).
    * SPEC-PINNED: PlanSpec counts exactly ONE ShuffleExchangeExec in
    * this subtree (round-12 verdict #3) — a Spark upgrade or a
    * refactor dropping the repartition re-doubles the operator's
    * dominant shuffle and must fail red.
    */
  private[graft] def substrCandGrams(posGrams: DataFrame): DataFrame =
    posGrams.select(col("gh"), col("doc_id"))
      .repartition(col("gh"))
      .groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("d"))
      .filter(col("d") >= 2)

  private[graft] def substringIslands(s: SparkSession, dir: String,
                                      spanK: Int = SpanK,
                                      bloomBudgetBits: Long = SubstrBloomBudgetBits): DataFrame = {
    // spanK and bloomBudgetBits are explicit parameters for the
    // SCALE-WITNESS runs and the governor spec only, mirroring
    // winnowPairs(dfCap): shrinking the gram length saturates the
    // pairable-gram fraction INSIDE the measurable 10×–1000× span so
    // the post-saturation shuffle constant can be witnessed (round-12
    // verdict #2); the budget exercises the Bloom governor's degrade/
    // skip paths. The registered queries and their DuckDB twins always
    // run the defaults.
    val k = spanK
    val posGrams = substrPosGrams(s, dir, k)
    // Only the candidate grams (d ≥ 2, a small fraction of a real
    // corpus) persist — the full per-gram stats frame is
    // positions-scale and is never materialized.
    val candGrams = substrCandGrams(posGrams)
      .transform(graft.Pins.pin)
    val hot = candGrams.filter(col("d") > MaxSpanGramDf).select(col("gh"))
    // Pairable grams → a broadcast Bloom filter evaluated INSIDE the
    // scan stage of both self-join sides ([[graft.functions
    // .BloomMightContainExpr]]): positions whose gram cannot pair
    // never enter the join's shuffle, which cuts that shuffle from
    // corpus-positions scale to duplicated-positions scale (the
    // measured 12.4 GB at the 100× Zipf corpus was ~2/3 join sides).
    // False positives are harmless here by construction: a leaked
    // single-doc gram self-joins only against itself and doc_a <
    // doc_b yields nothing; a leaked HOT gram is removed by the exact
    // anti-join below. No false negatives — Bloom's guarantee — so
    // the pair set (and every island) is unchanged.
    val eligible = candGrams.filter(col("d") <= MaxSpanGramDf).select(col("gh"))
    val nEligible = eligible.count()
    // Governed build (round-12 verdict #1): [[substrBloomPlan]] caps
    // the bitmap at the bits budget (fpp derived from budget/n) and
    // SKIPS the prefilter past the utility point — a skipped or
    // degraded filter only lets more candidates through to the exact
    // joins below, never changes an answer.
    val mightPair = substrBloomPlan(nEligible, bloomBudgetBits) match {
      case None =>
        System.err.println(s"[substr] pairability Bloom SKIPPED: " +
          s"$nEligible eligible grams exceed the ${bloomBudgetBits}-bit " +
          s"budget's utility point (fpp > $SubstrBloomSkipFpp)")
        lit(true)
      case Some((numBits, fppEst)) =>
        val bloom = buildLongBloom(eligible, "gh", math.max(nEligible, 1L), numBits)
        org.apache.spark.sql.GraftSqlAccess.column(
          graft.functions.BloomMightContainExpr(
            org.apache.spark.sql.GraftSqlAccess.expression(col("gh")),
            s.sparkContext.broadcast(bloom),
            f"substr_pairable_grams[$nEligible,bits=$numBits,fpp~$fppEst%.3f]"))
    }
    // Plain (unhinted) joins on purpose — scale safety comes from the
    // session's broadcast discipline (see Scaladoc on [[graft.Tables]]/
    // README): static auto-broadcast is DISABLED in every engine
    // session, because Catalyst's static size estimate for these
    // aggregate-derived sides reads tiny and the planner would
    // broadcast build sides that are corpus-scale at runtime — the
    // hot set is bounded by positions/MaxSpanGramDf (LINEAR in corpus
    // chars) and the self-join side IS the gram frame; both OOMed the
    // driver at the 30x ScaleBench corpus, and AQE cannot demote a
    // statically-planned broadcast. With static broadcast off, AQE
    // upgrades joins to broadcast only from ACTUAL runtime sizes —
    // fast at fixture scale, never a corpus-sized build at 100 TB.
    val g = posGrams.filter(mightPair).join(hot, Seq("gh"), "left_anti")
    // Self-join, NOT the winnowPairs groupBy+in-array pair explode:
    // both were measured head-to-head at the 100× derived corpus and
    // the SMJ wins (104 s vs 160 s) — the collected per-gram arrays
    // (docs × positions, thousands of entries under template text)
    // make the nested-HOF expansion allocation/GC-bound, costing more
    // than the second shuffle it saves.
    val pairs = g.as("a").join(g.as("b"), Seq("gh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    val diagW = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", col("pa") - row_number().over(diagW))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg((count(lit(1)) + lit(k - 1)).as("span_len"),
        min(col("pa")).as("pa_start"))
  }

  /** Segment width (tokens) for cross-document segment-level dedup —
    * the fixed-window stand-in for line granularity (the fixture's
    * documents are single-line, so "line dedup" degenerates without
    * an explicit window).
    */
  val SegTokens = 10

  private val pow31: IndexedSeq[Long] =
    (0 until WinnowK).scanLeft(1L)((acc, _) => acc * 31L).toIndexedSeq

  /** Winnowing postings (doc_id, fp), served by the native
    * [[graft.functions.WinnowFpsExpr]] kernel — one codegen'd pass
    * over the raw bytes per row, shuffle-free. NOT the HOF chain
    * below: the optimizer inlines the shared char-array alias into
    * every transform-lambda element (lambda-internal references evade
    * CollapseProject's multi-reference cost check), re-running
    * split() per element — measured 7 min vs 4 s at sf0.01. Docs too
    * short for one full window (< k + w − 1 chars) are filtered here
    * AND yield an empty set in the kernel, keeping both engines
    * identical by construction.
    */
  /** Winnow near-dup pairs (unordered): docs sharing >= MinSharedFps
    * df-capped fingerprints. Shared by llm_dedup_winnow and the
    * llm_dedup_eval harness.
    */
  private[graft] def winnowPairs(s: SparkSession, dir: String,
                                 dfCap: Int = MaxWinnowDf): DataFrame = {
    // dfCap is an explicit parameter for the SCALE-WITNESS runs only
    // (round-11 verdict #1): the decade where the df distribution's
    // head crosses the cap is transiently superlinear, and at the
    // default cap that crossover completes beyond the sandbox's reach
    // — scaling the cap DOWN moves the whole crossover into the
    // measurable 10×–1000× span so the re-linearization can be
    // WITNESSED instead of argued (ScaleBench winnowcap mode). The
    // registered query and its DuckDB twin always run the default.
    val posts = winnowCposts(Tables.forCompute(s, dir, "documents"))
      .transform(graft.Pins.pin)
    val hot = posts.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("fp"))
    posts.join(hot, Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(collect_list(col("doc_id")).as("ids"))
      // Native pair kernel (r15) — same swap as scoredPairs'.
      .select(explode(call_function("pair_structs", col("ids"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= MinSharedFps)
  }

  private[graft] def winnowPosts(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode(call_function("winnow_fps", col("text"))).as("fp"))

  /** Composite-fingerprint postings — the pair finder's feature (see
    * [[graft.functions.GraftKernels.winnowCfps]] for why single
    * minima stop discriminating on template-heavy corpora).
    */
  private[graft] def winnowCposts(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode(call_function("winnow_cfps", col("text"))).as("fp"))

  /** HOF twin of [[graft.functions.GraftKernels.pairStructs]] —
    * SEMANTICS SPEC ONLY (FunctionsSpec pins the native kernel
    * element-for-element against it). The query paths (scoredPairs,
    * winnowPairs) run the kernel: this form allocates a filtered list
    * copy per element — O(df²) copies per posting list.
    */
  private[graft] def pairStructsHof(ids: Column): Column =
    flatten(transform(ids,
      x => transform(filter(ids, y => y > x),
        y => struct(x.as("a"), y.as("b")))))

  /** The HOF twin of [[graft.functions.GraftKernels.winnowFps]] —
    * SEMANTICS SPEC ONLY (FunctionsSpec pins the native kernel
    * element-for-element against it). Never use in a query path: see
    * [[winnowPosts]] for the quadratic-re-evaluation trap.
    */
  private[graft] def winnowFpsHof(c: Column): Column = {
    val chars = split(lower(c), "")
    def hashAt(hs: Column, i: Column): Column =
      (0 until WinnowK).map(j =>
        ascii(element_at(hs, i + j)).cast(LongType) *
          lit(pow31(WinnowK - 1 - j))).reduce(_ + _)
    val hashes = transform(sequence(lit(1), size(chars) - (WinnowK - 1)),
      i => hashAt(chars, i))
    array_distinct(transform(
      sequence(lit(1), size(hashes) - (WinnowW - 1)),
      p => array_min(slice(hashes, p, lit(WinnowW)))))
  }

  /** HOF twin of [[graft.functions.GraftKernels.winnowCfps]] —
    * semantics spec only, like [[winnowFpsHof]].
    */
  private[graft] def winnowCfpsHof(c: Column): Column = {
    val chars = split(lower(c), "")
    def hashAt(hs: Column, i: Column): Column =
      (0 until WinnowK).map(j =>
        ascii(element_at(hs, i + j)).cast(LongType) *
          lit(pow31(WinnowK - 1 - j))).reduce(_ + _)
    val hashes = transform(sequence(lit(1), size(chars) - (WinnowK - 1)),
      i => hashAt(chars, i))
    val minima = transform(
      sequence(lit(1), size(hashes) - (WinnowW - 1)),
      p => array_min(slice(hashes, p, lit(WinnowW))))
    // sequence(1, n<=0) counts DOWN in Spark — guard the short case.
    when(size(minima) > WinnowSkip,
      array_distinct(transform(
        sequence(lit(1), size(minima) - WinnowSkip),
        p => (element_at(minima, p) % WinnowP) * lit(WinnowP) +
          element_at(minima, p + WinnowSkip) % WinnowP)))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Winnowing near-dup pairs: docs sharing >= MinSharedFps selected
    // COMPOSITE fingerprints (packed skip-8 minima pairs — single
    // k=8-gram minima stop discriminating once template text pushes
    // shared fingerprints over the df cap; the composite's ~19-char
    // context keeps precision 1.0 at 10× the corpus). Same
    // inverted-index discipline as the Jaccard finder — hot
    // fingerprints (df > MaxWinnowDf) dropped BEFORE posting-list
    // materialization, in-list pair expansion bounded by df², never a
    // corpus self-join.
    "llm_dedup_winnow" -> ((s, dir) =>
      winnowPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // Pair-finder EVALUATION harness — precision/recall of the cheap
    // char-level winnow sampler against the word-3-gram Jaccard ≥ 0.2
    // ground truth, as one registered row of exact integer ppm. This
    // is the measurement a curation owner runs before swapping a
    // cheaper finder into the dedup stage (the engine's other finder
    // evals live in Recall.scala because their subjects are seeded;
    // these two finders are both deterministic, so the WHOLE eval is
    // oracle-checkable). Scale: both pair sets are blocked/df-capped
    // linear builds; the confusion join is pair-count-sized, and the
    // three counts collapse to one row via two aggs + a cross of
    // broadcast singletons. At 100 TB the eval would run on a
    // hash-sampled doc subset — composition with llm_hash_sample, not
    // a different operator.
    "llm_dedup_eval" -> ((s, dir) => {
      val truth = materializedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val pred = winnowPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val p = pred.join(truth.withColumn("t", lit(1)),
          Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_winnow_pairs"), count(col("t")).as("n_hit"))
      val t = truth.agg(count(lit(1)).as("n_truth_pairs"))
      // An empty pair set on either side scores 0, not a crash — the
      // pre-composite single-fingerprint finder actually returned 0
      // pairs at sf0.1 (this harness is what exposed it), so the
      // guard is a reachable state, not a hypothetical.
      p.crossJoin(broadcast(t))
        .select(col("n_truth_pairs"), col("n_winnow_pairs"), col("n_hit"),
          // DECIMAL(38): pair counts are C(k,2) per duplicate cluster —
          // ~5*10^11 for one 10^6-doc cluster — so n_hit*10^6 rides the
          // same wide-arithmetic discipline as PmiExpr.
          expr("CASE WHEN n_winnow_pairs = 0 THEN 0 " +
            "ELSE CAST(n_hit AS DECIMAL(38,0)) * 1000000 DIV n_winnow_pairs END")
            .as("precision_ppm"),
          expr("CASE WHEN n_truth_pairs = 0 THEN 0 " +
            "ELSE CAST(n_hit AS DECIMAL(38,0)) * 1000000 DIV n_truth_pairs END")
            .as("recall_ppm"))
    }),

    // Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better", arXiv:2107.06499): find doc
    // pairs sharing a VERBATIM substring of >= SpanK chars and report
    // the maximal shared spans — the exact-span complement of the
    // winnowing SAMPLER above (winnow tells you "these docs share
    // material"; this op tells you exactly how much, for span-level
    // cutting). The distributed shape is anchor + diagonal extension,
    // the MapReduce-able equivalent of the paper's suffix array:
    //  1. every k-char gram keyed by md5 (16 bytes — the shuffle
    //     carries fixed-width keys, never 50-char strings),
    //  2. df-capped (> MaxSpanGramDf distinct docs = boilerplate,
    //     dropped before any pairing — the same hot-key guard as every
    //     pair finder here, keeping the join linear, never corpus²),
    //  3. anchor equi-join on the gram key,
    //  4. runs of consecutive anchors on a pair's alignment DIAGONAL
    //     (pa − pb) merge into maximal spans via one gaps-and-islands
    //     window: m consecutive anchors = a span of m + k − 1 chars.
    // Every step is exact integer/string arithmetic -> hash-checked
    // against DuckDB end to end (the rare pair finder where that
    // holds, like llm_dedup_winnow). Recall vs the sampler: every
    // substring pair with a span past winnow's detection floor is a
    // winnow pair too (LlmSpec pins this), while spans near 50 chars
    // fall below winnow's MinSharedFps composite vote — the two operators
    // are complements, not rivals.
    "llm_dedup_substring" -> ((s, dir) =>
      substringIslands(s, dir)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_spans"), max(col("span_len")).as("max_span"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // The CUT half of exact-substring dedup — Lee et al. 2022's
    // actual training-data edit: keep ONE occurrence of each shared
    // verbatim span (the lower-id doc's), remove the others. Every
    // diagonal island is a ≥ SpanK-char shared span in the HIGHER-id
    // doc; spans from different partners may overlap, so the char
    // ranges merge first (the classic running-max window — one
    // window + one agg, never per-range loops), then each doc's
    // clean text reassembles from the complement gaps in ONE HOF
    // fold over its sorted range array (bounded by ranges-per-doc).
    // chars_removed/clean_len/clean_fp are exact — the md5 of the
    // reassembled text is the hard proof the cut landed exactly on
    // the shared spans, mirrored by the oracle's string_agg-over-gaps
    // reconstruction.
    "llm_dedup_substring_cut" -> ((s, dir) => {
      val ranges = substringIslands(s, dir)
        .select(col("doc_b").as("doc_id"),
          (col("pa_start") - col("diag")).cast("int").as("s"),
          (col("pa_start") - col("diag") + col("span_len") - 1).cast("int").as("e"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
      val merged = ranges
        .withColumn("prev_e",
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl", sum(
          when(col("prev_e").isNull || col("s") > col("prev_e"), 1)
            .otherwise(0)).over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      val byDoc = merged.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("rs"),
          count(lit(1)).as("n_cut_ranges"),
          sum(col("e") - col("s") + 1).cast("long").as("chars_removed"))
      val clean = aggregate(col("rs"),
        struct(lit(1).as("pos"), lit("").as("str")),
        (acc, r) => struct(
          (r.getField("e") + 1).as("pos"),
          concat(acc.getField("str"),
            col("text").substr(acc.getField("pos"),
              r.getField("s") - acc.getField("pos"))).as("str")),
        acc => concat(acc.getField("str"),
          col("text").substr(acc.getField("pos"),
            length(col("text")) - acc.getField("pos") + 1)))
      byDoc
        .join(Tables.forCompute(s, dir, "documents")
          .select(col("doc_id"), col("text")), "doc_id")
        .withColumn("clean_text", clean)
        .select(col("doc_id"), col("n_cut_ranges"), col("chars_removed"),
          length(col("clean_text")).as("clean_len"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document SEGMENT-level dedup (the RefinedWeb / CCNet
    // "line dedup" family, Penedo et al. 2023 §3.3: drop any line that
    // recurs verbatim across documents — boilerplate headers, nav
    // bars, license blurbs — while KEEPING the rest of the document).
    // The fixture's documents are single-line, so the unit is a fixed
    // SegTokens-token window instead of a newline split; the pipeline
    // shape is identical. Unlike the whole-doc dedup ops above this
    // REWRITES rows: repeated segments are cut and the survivor text
    // is reassembled in original order.
    // Scale: one narrow chunk-projection per doc (no explode for the
    // chunking itself), one (fp, doc_id) shuffle for the df count, one
    // linear fp-join back (AQE-sized under the engine's static-
    // broadcast-off discipline — the duplicate-segment set grows with
    // the corpus, so only a runtime size may promote it to broadcast),
    // one doc_id re-group for reassembly.
    // Everything exact string/integer arithmetic → hash-checked.
    "llm_dedup_segments" -> ((s, dir) => {
      val w = SegTokens
      val segs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), ((size(col("t")) - 1) / w).cast(IntegerType)),
          i => array_join(slice(col("t"), i * w + 1, lit(w)), " "))))
        .withColumnRenamed("pos", "idx")
        .withColumnRenamed("col", "seg")
        .withColumn("fp", md5(col("seg")))
      val dup = segs.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select(col("fp"), lit(1).as("is_dup"))
      segs.join(dup, Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          count(col("is_dup")).as("n_dup_segs"),
          array_join(transform(
            array_sort(collect_list(when(col("is_dup").isNull,
              struct(col("idx"), col("seg"))))),
            x => x.getField("seg")), " ").as("clean_text"))
        .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
          length(col("clean_text")).as("clean_len"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup: md5(normalized text) fingerprint, survivor = min
    // doc_id per group. Shuffles only (fp, doc_id) pairs.
    "llm_dedup_exact" -> ((s, dir) => {
      val fp = md5(lower(trim(col("text"))))
      val w = Window.partitionBy(col("content_fp")).orderBy(col("doc_id"))
      Tables.forCompute(s, dir, "documents")
        .withColumn("content_fp", fp)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("content_fp"))
        .orderBy(col("doc_id"))
    }),

    // URL-keyed dedup — the FIRST dedup stage of the web-corpus
    // pipelines (RefinedWeb §3.1, CCNet): before any content measure,
    // collapse documents that are the SAME PAGE fetched under cosmetic
    // URL variants. Canonicalization (the standard RFC 3986-ish
    // normalization): lowercase; strip the fragment; drop tracking
    // parameters (utm_*) but KEEP meaningful ones; strip the trailing
    // slash. The fixtures carry no URLs, so each doc gets a
    // DETERMINISTIC synthetic one derived from (source, doc_id) —
    // deliberately spread across case/slash/utm/fragment variants so
    // every canonicalization rule is load-bearing (fixture synthesis,
    // the GeoQueries pattern; a real crawl reads its stored URL).
    // Scale shape: per-row string normalization (codegen'd HOFs for
    // the param filter) then ONE hash shuffle of (canonical_url,
    // doc_id) — identical cost to exact dedup; the URL never needs an
    // inverted index because equality is the whole measure.
    "llm_dedup_url" -> ((s, dir) => {
      val grp = expr("doc_id DIV 100")
      val raw = concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".Example.COM/docs/"), grp.cast(StringType),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&utm_id="),
            (col("doc_id") % 9).cast(StringType),
            lit("&page="), grp.cast(StringType)))
          .otherwise(concat(lit("?page="), grp.cast(StringType))),
        when(col("doc_id") % 3 === 0,
          concat(lit("#sec"), (col("doc_id") % 7).cast(StringType)))
          .otherwise(""))
      val noFrag = regexp_replace(lower(col("raw_url")), "#.*$", "")
      val path = regexp_replace(regexp_extract(noFrag, "^[^?]*", 0), "/$", "")
      val query = when(noFrag.contains("?"),
        regexp_replace(noFrag, "^[^?]*\\?", "")).otherwise("")
      val kept = array_join(
        filter(split(query, "&"),
          p => length(p) > 0 && !p.startsWith("utm_")), "&")
      Tables.forCompute(s, dir, "documents")
        .withColumn("raw_url", raw)
        .withColumn("canonical_url",
          concat(path, when(length(kept) > 0, concat(lit("?"), kept))
            .otherwise("")))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keeper"),
          countDistinct(col("raw_url")).as("n_raw_variants"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("canonical_url"))
        .limit(25)
    }),

    // N-gram Jaccard near-dup pairs via inverted index. Output keeps
    // integer (intersection, union) — Jaccard ≥ 0.2 as inter*5 >= union,
    // no float anywhere. Stop-shingles (df > MaxShingleDf) are removed
    // from the doc representation (so both intersection AND union see
    // the capped shingle set — Jaccard stays internally consistent).
    // Served from the materialized pair index (built on first touch per
    // ingest) — its oracle therefore hash-checks the ARTIFACT content.
    "llm_dedup_ngram_jaccard" -> ((s, dir) =>
      materializedPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // CONTAINMENT dedup — the asymmetric measure Jaccard misses: a
    // short document wholly embedded in a long one (quote, excerpt,
    // concatenated shard) has tiny Jaccard (inter/union is diluted by
    // the long doc) but containment inter/min(|A|,|B|) ≈ 1. The
    // standard complement to Jaccard in corpus curation (Broder's
    // containment, cf. Lee et al. 2022 §4). Same inverted-index pair
    // finder, same df cap, same linear shuffle — only the final
    // integer predicate differs: inter*5 >= 4*min (containment >=
    // 0.8). The contained side is named: doc_small is the doc whose
    // shingle set is (mostly) inside doc_big's. Served from the same
    // materialized pair artifact as the Jaccard view — one pair-finder
    // pass per ingest feeds both measures.
    "llm_dedup_containment" -> ((s, dir) =>
      materializedContainment(s, dir)
        .select(
          when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
            .as("doc_small"),
          when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a"))
            .as("doc_big"),
          col("inter"), least(col("n_a"), col("n_b")).as("n_small"))
        .orderBy(col("doc_small"), col("doc_big"))),

    // CONTENT-DEFINED CHUNKING dedup — the storage-level dedup
    // primitive (LBFS/rsync lineage, Muthitacharoen et al. SOSP'01):
    // cut every doc into ~64-byte chunks at content-determined
    // boundaries (trailing 8-gram hash ≡ 0 mod 64 — the `cdc_chunks`
    // native kernel), then find chunks recurring across documents.
    // Because boundaries move WITH the content, an insertion changes
    // only the chunk it lands in — shared runs re-align at the next
    // boundary, so cross-doc shared spans surface as shared chunk
    // hashes without any pairwise comparison: the join key IS the
    // chunk digest, one linear shuffle, corpus² never materializes.
    // Complements winnow (samples shared spans) and substring (exact
    // span extents): CDC is the form a dedup STORE uses — chunk store
    // + per-doc chunk manifest. Grouped by md5 digest (not chunk
    // text), so the shuffle carries 32-byte keys at 100 TB.
    "llm_dedup_cdc" -> ((s, dir) =>
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("cdc_chunks", col("text"))).as("chunk"))
        .groupBy(md5(col("chunk")).as("chunk_md5"))
        .agg(min(length(col("chunk"))).cast(LongType).as("chunk_len"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("chunk_md5"))),

    // Incremental (batch-vs-corpus) near-dup dedup — the op a LIVE
    // 100 TB pipeline actually runs daily: admit a new batch only where
    // it has no near-dup (Jaccard >= 0.2 on word-3-shingles) already in
    // the corpus. NOT a corpus self-join: the batch side is small, so
    // its postings broadcast and the corpus-side inverted index (the
    // same `postings` artifact the self-join uses, persisted once in
    // production) is probed linearly — cost is O(corpus postings), not
    // O(corpus²), and re-dedup of the whole corpus never happens.
    "llm_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val isNew = col("source") === "src19"
      val posts = postings(docs.filter(!isNew))
      val newPosts = postings(docs.filter(isNew))
      val sizes = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val newSizes = newPosts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val matched = newPosts.as("a")
        .join(posts.as("b"), col("a.shingle") === col("b.shingle"))
        .groupBy(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_old"))
        .agg(count(lit(1)).as("inter"))
        .join(newSizes.as("sa"), col("doc_new") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_old") === col("sb.doc_id"))
        .filter(col("inter") * 5 >=
          col("sa.n_shingles") + col("sb.n_shingles") - col("inter"))
        .select(col("doc_new")).distinct()
      docs.filter(isNew)
        .join(matched, docs("doc_id") === matched("doc_new"), "left_outer")
        .select(col("doc_id"), col("doc_new").isNull.as("admitted"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup candidates: 64-bit signature per doc, banded
    // into 4×16-bit keys; docs sharing any band are candidates, kept
    // when hamming(simhash_a, simhash_b) <= 3 — the standard 64-bit
    // near-dup threshold (Manku et al., WWW'07). The threshold and the
    // blocking are matched: <=3 differing bits across 4 bands leaves
    // at least one band identical (pigeonhole), so the band join has
    // GUARANTEED 100% recall at this threshold (measured in
    // RECALL_r04.json) while staying linear in corpus size, never
    // pairwise. Since round 9 the signature is the MD5-derived
    // [[graft.functions.SimHashMd5Expr]] (two 32-bit halves), the one
    // token hash both engines compute — and because the pigeonhole
    // recall is 1.0 by construction at this threshold, the banded
    // output EQUALS all-pairs hamming<=3 and hash-checks against the
    // DuckDB md5-nibble twin: the whole query, blocking included, is
    // now a full oracle row, not rows-only.
    "llm_dedup_simhash" -> ((s, dir) => {
      // Signature computation (md5 per token) is the expensive narrow
      // stage — persist it so the self-join's two sides don't
      // recompute it.
      val sh = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          call_function("simhash_md5", col("text")).as("sig"))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("lo"), element_at(col("sig"), 2).as("hi"))
        .transform(graft.Pins.pin)
      val banded = sh.select(col("doc_id"), col("lo"), col("hi"),
        explode(array(
          struct(lit(0).as("band"), col("lo").bitwiseAND(lit(0xFFFFL)).as("key")),
          struct(lit(1).as("band"),
            shiftright(col("lo"), 16).bitwiseAND(lit(0xFFFFL)).as("key")),
          struct(lit(2).as("band"), col("hi").bitwiseAND(lit(0xFFFFL)).as("key")),
          struct(lit(3).as("band"),
            shiftright(col("hi"), 16).bitwiseAND(lit(0xFFFFL)).as("key")))).as("bk"))
        .select(col("doc_id"), col("lo"), col("hi"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
            bit_count(col("a.hi").bitwiseXOR(col("b.hi")))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Native banded MinHash (engine-owned, no spark.ml): 32 minhashes
    // from per-shingle xxhash64 with 32 salts, banded 8×4. Docs
    // agreeing on all 4 slots of any band become candidates (one
    // equi-join on the band key — linear shuffle, same shape as the
    // simhash blocking); candidates are then verified with EXACT
    // Jaccard over their shingle arrays, so the output is
    // false-positive-free and recall is the only approximation
    // (property-tested in LlmSpec). This is the 100 TB shape: signature
    // pass is scan-speed, the join touches only banded collisions.
    "llm_dedup_minhash_banded" -> ((s, dir) =>
      // Default operating point 8×4 at exact J ≥ 0.2 — see
      // [[bandedCandidates]] for the (bands × rowsPerBand) dial and
      // the measured recall/cost curve (SCALE.md's banding sweep).
      bandedNearDup(Tables.forCompute(s, dir, "documents"),
          bands = 8, rowsPerBand = 4)
        .orderBy(col("doc_a"), col("doc_b"))),

    // The 16×2 PRODUCTION operating point (round-11 verdict #3):
    // SCALE.md's operating rule sends J 0.7–0.8 pipelines (the
    // CCNet/Gopher-style near-dup band) to 16 bands × 2 rows, where
    // the sweep measured candidate recall 1.0 at planted J ≈ 0.71 /
    // 0.80 / 0.89 for 2.7× candidates (BANDING.json) — this entry
    // makes that recommended config hash-verified, not just
    // sweep-measured. Same exact-verify contract as the default:
    // candidates from the 16×2 band join, output only pairs passing
    // EXACT Jaccard at the production threshold J ≥ 0.7, so the
    // result equals the all-pairs exact answer (the DuckDB twin)
    // wherever candidate recall is 1.0 — which the S-curve puts at
    // ≥ 0.99998 per pair at J = 0.7 and the fixtures measure at 1.0.
    "llm_dedup_minhash_banded_16x2" -> ((s, dir) =>
      bandedNearDup(Tables.forCompute(s, dir, "documents"),
          bands = 16, rowsPerBand = 2, minJacNum = 7, minJacDen = 10)
        .orderBy(col("doc_a"), col("doc_b"))),

    // MinHash+LSH near-dup via spark.ml: distinct word shingles ->
    // fixed-seed HashingTF (2^18 dims) -> MinHashLSH signature ->
    // approxSimilarityJoin (band-bucket join inside) for CANDIDATES,
    // then EXACT Jaccard over the candidates' shingle arrays as the
    // verify stage — same slim-candidates/verify-late shape as the
    // native banded variant above, and the same oracle contract: the
    // output is exact integer arithmetic over a candidate set whose
    // recall is 1.0 at both SFs (RECALL), so it hash-checks against
    // the all-pairs exact-Jaccard DuckDB twin. (The ml join's own
    // jaccard_dist is over HASHED features — collisions make it
    // engine-specific — so it is candidate-selection only, at the
    // 0.8-distance threshold matching exact J >= 0.2.)
    "llm_dedup_minhash" -> ((s, dir) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      // Persist-before-filter for the same pushdown reason as the
      // banded variant above.
      val cached = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), shingles3(col("text")).as("shingles"))
        .transform(graft.Pins.pin)
      val docs = cached.filter(size(col("shingles")) > 0)
      val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
        .setNumFeatures(1 << 18).setBinary(true)
      // Featurization feeds fit + both join sides — persist it.
      // 4 hash tables (not 8): OR-amplified candidate generation is
      // linear in tables, and on a dense near-dup corpus the extra
      // tables only multiply candidate pairs (recall floor is spec'd
      // in LlmSpec).
      val feat = tf.transform(docs)
        .transform(graft.Pins.pin)
      val lsh = new MinHashLSH().setInputCol("features").setOutputCol("sig")
        .setNumHashTables(4).setSeed(42L)
      val model = lsh.fit(feat)
      val cand = model.approxSimilarityJoin(feat, feat, 0.8, "hashed_dist")
        .select(col("datasetA.doc_id").as("doc_a"),
          col("datasetB.doc_id").as("doc_b"))
        .filter(col("doc_a") < col("doc_b"))
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("shingles").as("sha")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("shingles").as("shb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("union_sz", size(col("sha")) + size(col("shb")) - col("inter"))
        .filter(col("inter") * 5 >= col("union_sz")) // exact jaccard >= 0.2
        .select(col("doc_a"), col("doc_b"),
          round(lit(1.0) - col("inter").cast("double") / col("union_sz"), 6)
            .as("jaccard_dist"))
        .orderBy(col("doc_a"), col("doc_b"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Identical base-31 polynomial hashes, window minima, df cap and
    // threshold — every step exact BIGINT arithmetic, so the pair set
    // hash-compares. (Each unicode() is cast to BIGINT FIRST: DuckDB
    // would otherwise keep int32 and overflow on the 31⁶ term.)
    "llm_dedup_substring" ->
      s"""WITH g AS (
         |  SELECT doc_id, i AS pos, md5(substring(text, i, $SpanK)) AS gh
         |  FROM documents, unnest(generate_series(1, len(text) - ${SpanK - 1})) AS u(i)
         |  WHERE len(text) >= $SpanK),
         |hot AS (
         |  SELECT gh FROM (
         |    SELECT gh, count(DISTINCT doc_id) AS d FROM g GROUP BY gh) t
         |  WHERE d > $MaxSpanGramDf),
         |gg AS (SELECT * FROM g WHERE gh NOT IN (SELECT gh FROM hot)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
         |  FROM gg a JOIN gg b USING (gh) WHERE a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
         |  FROM p),
         |spans AS (
         |  SELECT doc_a, doc_b, diag, island, count(*) + ${SpanK - 1} AS span_len
         |  FROM isl GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(max(span_len) AS BIGINT) AS max_span
         |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same island chain; ranges land in doc_b, merge via the
    // running-max window, and the clean text reassembles as a
    // string_agg over the complement gaps — reconstruction proof by
    // md5, like the Spark fold.
    "llm_dedup_substring_cut" ->
      s"""WITH g AS (
         |  SELECT doc_id, i AS pos, md5(substring(text, i, $SpanK)) AS gh
         |  FROM documents, unnest(generate_series(1, len(text) - ${SpanK - 1})) AS u(i)
         |  WHERE len(text) >= $SpanK),
         |hot AS (
         |  SELECT gh FROM (
         |    SELECT gh, count(DISTINCT doc_id) AS d FROM g GROUP BY gh) t
         |  WHERE d > $MaxSpanGramDf),
         |gg AS (SELECT * FROM g WHERE gh NOT IN (SELECT gh FROM hot)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
         |  FROM gg a JOIN gg b USING (gh) WHERE a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT doc_a, doc_b, pa - pb AS diag, pa,
         |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
         |  FROM p),
         |rng AS (
         |  SELECT doc_b AS doc_id, min(pa) - diag AS s,
         |         min(pa) - diag + count(*) + ${SpanK - 1} - 1 AS e
         |  FROM isl GROUP BY doc_a, doc_b, diag, island),
         |m0 AS (
         |  SELECT doc_id, s, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
         |  FROM rng),
         |m1 AS (
         |  SELECT doc_id, s, e,
         |    sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
         |  FROM m0),
         |mr AS (SELECT doc_id, isl, min(s) AS s, max(e) AS e
         |       FROM m1 GROUP BY 1, 2),
         |stats AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut_ranges,
         |         CAST(sum(e - s + 1) AS BIGINT) AS chars_removed
         |  FROM mr GROUP BY 1),
         |gaps AS (
         |  SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 1) AS gs,
         |    s - 1 AS ge
         |  FROM mr
         |  UNION ALL
         |  SELECT mr.doc_id, max(e) + 1, len(text)
         |  FROM mr JOIN documents USING (doc_id)
         |  GROUP BY mr.doc_id, len(text)),
         |clean AS (
         |  SELECT g.doc_id,
         |    string_agg(substring(text, gs, ge - gs + 1), '' ORDER BY gs) AS ct
         |  FROM gaps g JOIN documents d ON g.doc_id = d.doc_id
         |  WHERE ge >= gs
         |  GROUP BY g.doc_id)
         |SELECT s.doc_id, n_cut_ranges, chars_removed,
         |  CAST(coalesce(len(ct), 0) AS INT) AS clean_len,
         |  md5(coalesce(ct, '')) AS clean_fp
         |FROM stats s LEFT JOIN clean USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Same SegTokens windows, same md5 fingerprints, same df >= 2
    // cut rule, reassembly ordered by window index; DuckDB list
    // slicing tk[a:b] is 1-based inclusive = Spark slice(t, a, w).
    "llm_dedup_segments" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
         |  FROM documents),
         |segs AS (
         |  SELECT doc_id, i AS idx,
         |    array_to_string(tk[i * $SegTokens + 1 : i * $SegTokens + $SegTokens], ' ') AS seg
         |  FROM t, unnest(generate_series(0, (len(tk) - 1) // $SegTokens)) AS u(i)),
         |dup AS (
         |  SELECT md5(seg) AS fp FROM segs
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |m AS (
         |  SELECT doc_id, idx, seg,
         |    md5(seg) IN (SELECT fp FROM dup) AS is_dup
         |  FROM segs)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(count(*) FILTER (is_dup) AS BIGINT) AS n_dup_segs,
         |  CAST(len(coalesce(string_agg(seg, ' ' ORDER BY idx) FILTER (NOT is_dup), '')) AS INT) AS clean_len,
         |  md5(coalesce(string_agg(seg, ' ' ORDER BY idx) FILTER (NOT is_dup), '')) AS clean_fp
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_dedup_winnow" ->
      s"""WITH $winnowPairsCtes
         |SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps
         |FROM wpairs WHERE shared_fps >= $MinSharedFps
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Both pair sets re-derived in SQL (w-prefixed CTEs keep the
    // winnow chain disjoint from the ngram chain's names), same
    // integer-ppm precision/recall.
    "llm_dedup_eval" ->
      s"""WITH $ngramPairsCtes,
         |$winnowPairsCtes,
         |tp AS (SELECT doc_a, doc_b FROM good),
         |pp AS (SELECT doc_a, doc_b FROM wpairs
         |       WHERE shared_fps >= $MinSharedFps),
         |m AS (
         |  SELECT (SELECT count(*) FROM tp) AS n_truth_pairs,
         |         (SELECT count(*) FROM pp) AS n_winnow_pairs,
         |         (SELECT count(*) FROM pp JOIN tp USING (doc_a, doc_b))
         |           AS n_hit)
         |SELECT n_truth_pairs, n_winnow_pairs, n_hit,
         |  CAST(CASE WHEN n_winnow_pairs = 0 THEN 0
         |       ELSE CAST(n_hit AS HUGEINT) * 1000000 // n_winnow_pairs END AS BIGINT)
         |    AS precision_ppm,
         |  CAST(CASE WHEN n_truth_pairs = 0 THEN 0
         |       ELSE CAST(n_hit AS HUGEINT) * 1000000 // n_truth_pairs END AS BIGINT)
         |    AS recall_ppm
         |FROM m""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT doc_id, md5(lower(trim(text))) AS content_fp FROM documents
        |QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
        |                           ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "llm_dedup_url" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat('https://',
        |      CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END,
        |      '.Example.COM/docs/', CAST(doc_id // 100 AS VARCHAR),
        |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        |      CASE WHEN doc_id % 2 = 0
        |           THEN concat('?utm_source=feed&utm_id=',
        |                       CAST(doc_id % 9 AS VARCHAR),
        |                       '&page=', CAST(doc_id // 100 AS VARCHAR))
        |           ELSE concat('?page=', CAST(doc_id // 100 AS VARCHAR)) END,
        |      CASE WHEN doc_id % 3 = 0
        |           THEN concat('#sec', CAST(doc_id % 7 AS VARCHAR))
        |           ELSE '' END) AS raw_url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(regexp_extract(
        |      regexp_replace(lower(raw_url), '#.*$', ''), '^[^?]*'),
        |      '/$', '') AS path,
        |    CASE WHEN contains(regexp_replace(lower(raw_url), '#.*$', ''), '?')
        |         THEN regexp_replace(regexp_replace(lower(raw_url), '#.*$', ''),
        |                             '^[^?]*\?', '')
        |         ELSE '' END AS q
        |  FROM raw),
        |cu AS (
        |  SELECT doc_id, raw_url,
        |    concat(path,
        |      CASE WHEN len(array_to_string(list_filter(str_split(q, '&'),
        |                 p -> len(p) > 0 AND NOT starts_with(p, 'utm_')), '&')) > 0
        |           THEN concat('?', array_to_string(list_filter(str_split(q, '&'),
        |                 p -> len(p) > 0 AND NOT starts_with(p, 'utm_')), '&'))
        |           ELSE '' END) AS canonical_url
        |  FROM canon)
        |SELECT canonical_url, count(*) AS n_docs,
        |  min(doc_id) AS keeper,
        |  count(DISTINCT raw_url) AS n_raw_variants
        |FROM cu GROUP BY 1 HAVING count(*) > 1
        |ORDER BY n_docs DESC, canonical_url LIMIT 25""".stripMargin,
    "llm_dedup_ngram_jaccard" ->
      s"""WITH $ngramPairsCtes
         |SELECT doc_a, doc_b, inter, union_sz FROM good
         |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_containment" ->
      s"""WITH $ngramBaseCtes,
         |scored AS (
         |  SELECT doc_a, doc_b, inter,
         |         sa.n_shingles AS n_a, sb.n_shingles AS n_b
         |  FROM pairs
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE inter * 5 >= 4 * least(sa.n_shingles, sb.n_shingles))
         |SELECT
         |  CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS doc_small,
         |  CASE WHEN n_a <= n_b THEN doc_b ELSE doc_a END AS doc_big,
         |  inter, least(n_a, n_b) AS n_small
         |FROM scored
         |ORDER BY doc_small, doc_big""".stripMargin,
    // Term-for-term mirror of GraftKernels.cdcChunks: cuts at 1-based
    // gram starts i where Σ ascii·31^(7−j) ≡ 0 mod 64 (exact BIGINT),
    // chunk ends = i+7, chunks sliced between consecutive ends.
    "llm_dedup_cdc" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS s FROM documents),
        |b AS (
        |  SELECT doc_id, s, len(s) AS l,
        |    CASE WHEN len(s) < 8 THEN CAST([] AS BIGINT[])
        |    ELSE list_filter(range(1, len(s) - 6), i ->
        |      (CAST(ascii(s[i]) AS BIGINT) * 27512614111 +
        |       CAST(ascii(s[i+1]) AS BIGINT) * 887503681 +
        |       CAST(ascii(s[i+2]) AS BIGINT) * 28629151 +
        |       CAST(ascii(s[i+3]) AS BIGINT) * 923521 +
        |       CAST(ascii(s[i+4]) AS BIGINT) * 29791 +
        |       CAST(ascii(s[i+5]) AS BIGINT) * 961 +
        |       CAST(ascii(s[i+6]) AS BIGINT) * 31 +
        |       CAST(ascii(s[i+7]) AS BIGINT)) % 64 = 0) END AS cuts
        |  FROM t),
        |e AS (
        |  SELECT doc_id, s, l,
        |    CASE WHEN l < 8 THEN [CAST(0 AS BIGINT), l]
        |    ELSE list_prepend(CAST(0 AS BIGINT),
        |      list_transform(cuts, i -> i + 7)) ||
        |      CASE WHEN len(cuts) > 0 AND cuts[-1] + 7 = l
        |           THEN CAST([] AS BIGINT[]) ELSE [l] END
        |    END AS ends
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, s[ends[j] + 1 : ends[j + 1]] AS chunk
        |  FROM e, unnest(range(1, len(ends))) AS u(j))
        |SELECT md5(chunk) AS chunk_md5,
        |  CAST(min(len(chunk)) AS BIGINT) AS chunk_len,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM ch GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, chunk_md5""".stripMargin,
    // SimHash twin: recompute the MD5-nibble two-half signature in SQL
    // (bit b of a token's hash = bit 3−b%4 of the b/4-th hex nibble of
    // md5 — the same bit SimHashMd5Expr reads from digest bytes), then
    // ALL-PAIRS hamming <= 3. The engine's banded form equals this by
    // the pigeonhole guarantee (<=3 differing bits over 4 bands leaves
    // a band identical), so blocking loss cannot hide here — any
    // mismatch is a real signature or join bug. All-pairs is the
    // TWIN's cost at the 500-doc gate SF only; the engine never joins
    // all pairs.
    "llm_dedup_simhash" ->
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      regexp_replace(lower(text), '^\s+|\s+$$', '', 'g'), '\s+') AS w
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, md5(tok) AS h
        |  FROM (SELECT doc_id, unnest(w) AS tok FROM t)),
        |bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN
        |      ((strpos('0123456789abcdef', substr(h, (b // 4) + 1, 1)) - 1)
        |        >> (3 - (b % 4))) & 1 = 1
        |      THEN 1 ELSE -1 END) AS vote
        |  FROM tok, unnest(generate_series(0, 63)) AS g(b)
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN b < 32 AND vote > 0
        |                  THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN b >= 32 AND vote > 0
        |                  THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.lo, b.lo))
        |       + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // MinHash oracles — exact-verify contract (round-8 verdict #2):
    // both MinHash variants OUTPUT pairs passing an EXACT-Jaccard
    // verify over approximate candidates, and candidate recall is 1.0
    // at both SFs with the banding/tables dials documented in-query —
    // so the result equals the all-pairs exact answer and hash-checks
    // against this full shingle-self-join twin. Unlike the ngram
    // pair-finder twin there is NO df cap here: the verify stage
    // counts every shingle, so the twin must too (at the gate SF hot
    // shingles cost nothing; the ENGINE's scale path is the banded
    // join, which never materializes all pairs).
    "llm_dedup_minhash_banded" ->
      s"""WITH $MinhashExactCtes
         |SELECT doc_a, doc_b, CAST(inter AS INT) AS inter,
         |  CAST(union_sz AS INT) AS union_sz
         |FROM scored WHERE inter * 5 >= union_sz
         |ORDER BY doc_a, doc_b""".stripMargin,
    // 16×2 production operating point: identical all-pairs exact twin,
    // thresholded at the production J ≥ 0.7 the config is recommended
    // for (SCALE.md operating rule; BANDING.json measured recall 1.0
    // across the J 0.71–0.89 buckets at 16×2).
    "llm_dedup_minhash_banded_16x2" ->
      s"""WITH $MinhashExactCtes
         |SELECT doc_a, doc_b, CAST(inter AS INT) AS inter,
         |  CAST(union_sz AS INT) AS union_sz
         |FROM scored WHERE inter * 10 >= union_sz * 7
         |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_minhash" ->
      s"""WITH $MinhashExactCtes
         |SELECT doc_a, doc_b,
         |  round(1.0 - CAST(inter AS DOUBLE) / union_sz, 6) AS jaccard_dist
         |FROM scored WHERE inter * 5 >= union_sz
         |ORDER BY doc_a, doc_b""".stripMargin,
    "llm_dedup_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS g(i)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.source = 'src19' AND b.source != 'src19'
        |  GROUP BY 1, 2),
        |matched AS (
        |  SELECT DISTINCT doc_new
        |  FROM pairs
        |  JOIN sizes sa ON doc_new = sa.doc_id
        |  JOIN sizes sb ON doc_old = sb.doc_id
        |  WHERE inter * 5 >= sa.n + sb.n - inter)
        |SELECT d.doc_id, m.doc_new IS NULL AS admitted
        |FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_new
        |WHERE d.source = 'src19'
        |ORDER BY d.doc_id""".stripMargin
  )
}
