package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The last three relevance-side query types of the ES `_search`
  * surface the reference delegates to (reference
  * `BigdataSearchPro-master/src/main/resources/templates/indexView.html:13-20`
  * accepts the full Lucene query grammar; these are the remaining
  * match/scoring forms a search box can reach):
  *
  *  - `match_bool_prefix` — the search-as-you-type companion of
  *    match_phrase_prefix: every typed term matches as a TERM except
  *    the last, which matches as a PREFIX, all order-independent
  *    (`bool{should:[term, term, prefix]}`).
  *  - `combined_fields` — the BM25F-style multi-field query: per-term
  *    frequencies are merged across fields into ONE pseudo-field
  *    (weighted tf and dl sums), then scored with a single BM25 —
  *    unlike cross_fields, which keeps per-field stats and takes the
  *    best field per term.
  *  - `rank_feature` — score docs by a stored numeric feature through
  *    the saturation function x/(x+pivot) inside a bool filter
  *    context (the "boost by pagerank/recency/length" pattern).
  *
  * Scale shapes: match_bool_prefix and rank_feature are served from
  * the positional postings artifact ([[SearchQueries.materializedPostings]])
  * — cost is the probed posting lists (pushed Or(EqualTo, EqualTo,
  * StringStartsWith) / EqualTo against the range-sorted dictionary),
  * never the corpus; combined_fields is the one-broadcast corpus-stats
  * scan shape of search_topk_bm25 (grand-aggregate build side — the
  * PlanSpec-blessed 1-row BNLJ).
  */
object RelevanceTailQueries {

  /** match_bool_prefix input "data group v": two full terms + the
    * in-flight prefix. All three clauses hit fixture vocabulary
    * ('v' → value, vector).
    */
  private val MbpTerm1 = "data"
  private val MbpTerm2 = "group"
  private val MbpPrefix = "v"

  /** rank_feature: feature = n_chars (the stored doc-length feature),
    * saturation pivot = 200 (mid-corpus: fixture n_chars spans
    * 48..553). Scores are exact integer parts-per-million —
    * floor(1e6·x/(x+pivot)) — non-negative, so truncating (Spark
    * `DIV`) and flooring (DuckDB `//`) division agree.
    */
  private val RfPivot = 200L

  /** combined_fields weights: body `text` ×1, keyword `source` ×3
    * (source is one token, so its weighted tf is 0 or 3 and every
    * doc's combined length is n_tokens + 3).
    */
  private val CfSourceWeight = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ES `match_bool_prefix`: clauses are OR'd (minimum_should_match
    // = 1); ranking is deterministic structural relevance — matched
    // clause count desc, then total matched-term occurrences desc,
    // then doc_id. One pruned dictionary probe (the Or of two
    // EqualTo and one StringStartsWith pushes into the range-sorted
    // postings scan), then a per-doc aggregate over the surviving
    // posting rows — work is the probed lists, never the corpus.
    "search_match_bool_prefix" -> ((s, dir) => {
      val (postings, _, _) = SearchQueries.materializedPostings(s, dir)
      postings
        .filter(col("term") === MbpTerm1 || col("term") === MbpTerm2 ||
          col("term").startsWith(MbpPrefix))
        .groupBy(col("doc_id"))
        .agg(
          max((col("term") === MbpTerm1).cast(LongType)).as("m1"),
          max((col("term") === MbpTerm2).cast(LongType)).as("m2"),
          max(col("term").startsWith(MbpPrefix).cast(LongType)).as("m3"),
          sum(col("tf")).as("total_tf"))
        .select(col("doc_id"),
          (col("m1") + col("m2") + col("m3")).as("n_clauses"),
          col("total_tf"))
        .orderBy(col("n_clauses").desc, col("total_tf").desc, col("doc_id"))
        .limit(15)
    }),

    // ES `combined_fields` over (text ×1, source ×3), terms 'data' +
    // 'src3': weighted tf/dl merge into one pseudo-field, single BM25
    // (k1=1.2, b=0.75, Lucene idf) over the merged stats — the
    // search_topk_bm25 float discipline (identical association in the
    // twin, round 6) and its exact plan shape: scan + one broadcast
    // grand-aggregate stats row + TakeOrderedAndProject.
    "search_combined_fields" -> ((s, dir) => {
      val terms = Seq("data", "src3")
      SearchQueries.withCorpusStats(Tables(s, dir, "documents"),
          Seq("dl" -> (size(SearchQueries.tokens(col("text"))) + lit(CfSourceWeight))),
          terms.map(t => s"tf_$t" -> (SearchQueries.tfOf("text", t) +
            lit(CfSourceWeight) * (col("source") === t).cast(IntegerType))))
        .withColumn("score", round(
          terms.map(t => SearchQueries.bm25Part(col(s"tf_$t"), col(s"df_$t"),
            col("dl"), col("n_docs"), col("sum_dl"))).reduce(_ + _), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("source"), col("score"))
        .limit(10)
    }),

    // ES `rank_feature` (saturation) in a bool FILTER context: docs
    // matching 'stream' (filter clauses contribute no score), ranked
    // purely by the feature score sat(n_chars) = n_chars/(n_chars +
    // pivot), carried as exact integer ppm. Plan: one pruned postings
    // probe (EqualTo on the dictionary) equi-joined to the doc table
    // for the feature column — no corpus scan on the match side.
    "search_rank_feature" -> ((s, dir) => {
      val (postings, _, _) = SearchQueries.materializedPostings(s, dir)
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      postings.filter(col("term") === "stream")
        .select(col("doc_id"))
        .join(docs, "doc_id")
        .withColumn("sat_ppm",
          expr(s"(n_chars * 1000000) DIV (n_chars + $RfPivot)"))
        .orderBy(col("sat_ppm").desc, col("doc_id"))
        .select(col("doc_id"), col("n_chars"), col("sat_ppm"))
        .limit(15)
    })
  )

  /** Scan-computed twins — the driver's gate proves index-served ==
    * scan semantics for the two postings-probed queries, and mirrors
    * the BM25 association character-for-character for combined_fields.
    */
  val oracleSql: Map[String, String] = Map(
    "search_match_bool_prefix" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, w[i] AS tok
         |  FROM t, unnest(generate_series(1, len(w))) AS u(i)),
         |m AS (
         |  SELECT doc_id,
         |    max(CASE WHEN tok = '$MbpTerm1' THEN 1 ELSE 0 END)
         |      + max(CASE WHEN tok = '$MbpTerm2' THEN 1 ELSE 0 END)
         |      + max(CASE WHEN tok LIKE '$MbpPrefix%' THEN 1 ELSE 0 END) AS n_clauses,
         |    sum(CASE WHEN tok = '$MbpTerm1' OR tok = '$MbpTerm2'
         |             OR tok LIKE '$MbpPrefix%' THEN 1 ELSE 0 END) AS total_tf
         |  FROM p GROUP BY 1)
         |SELECT doc_id, CAST(n_clauses AS BIGINT) AS n_clauses,
         |  CAST(total_tf AS BIGINT) AS total_tf
         |FROM m WHERE n_clauses > 0
         |ORDER BY n_clauses DESC, total_tf DESC, doc_id LIMIT 15""".stripMargin,
    "search_combined_fields" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT) + $CfSourceWeight AS dl,
         |    len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t = 'data'))
         |      + $CfSourceWeight * (CASE WHEN source = 'data' THEN 1 ELSE 0 END) AS tf_data,
         |    len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t = 'src3'))
         |      + $CfSourceWeight * (CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS tf_src3
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) AS sum_dl,
         |    CAST(sum(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_data,
         |    CAST(sum(CASE WHEN tf_src3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_src3
         |  FROM scored),
         |b AS (
         |  SELECT doc_id, source,
         |    round(
         |      ln(1.0 + (n_docs - df_data + 0.5) / (df_data + 0.5)) *
         |        ((tf_data * 2.2) /
         |         (tf_data + 1.2 * (0.25 + 0.75 * (dl * n_docs / sum_dl)))) +
         |      ln(1.0 + (n_docs - df_src3 + 0.5) / (df_src3 + 0.5)) *
         |        ((tf_src3 * 2.2) /
         |         (tf_src3 + 1.2 * (0.25 + 0.75 * (dl * n_docs / sum_dl)))), 6) AS score
         |  FROM scored CROSS JOIN stats)
         |SELECT doc_id, source, score FROM b
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_rank_feature" ->
      s"""SELECT doc_id, n_chars,
         |  (n_chars * 1000000) // (n_chars + $RfPivot) AS sat_ppm
         |FROM documents
         |WHERE len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                      t -> t = 'stream')) > 0
         |ORDER BY sat_ppm DESC, doc_id LIMIT 15""".stripMargin)
}
