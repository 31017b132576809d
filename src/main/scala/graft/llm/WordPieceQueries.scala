package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Distributed WordPiece tokenizer training (Schuster & Nakajima,
  * ICASSP'12; the BERT tokenizer, and the `WordPiece` trainer of the
  * HuggingFace tokenizers library) — the third tokenizer-training
  * family, completing the triad: BPE GROWS a vocabulary by merging the
  * most FREQUENT pair, unigram SELECTS one by likelihood, WordPiece
  * grows by merging the pair with the highest ASSOCIATION score
  * count(l,r) / (count(l)·count(r)) — frequency normalized by the
  * parts' own frequencies, i.e. pick the merge that raises corpus
  * likelihood under a unigram LM most per occurrence.
  *
  * Representation: non-initial symbols carry the `##` continuation
  * prefix from the start (BERT's convention — `hello` seeds as
  * `h ##e ##l ##l ##o`), so "h" and "##h" are distinct vocabulary
  * entries with distinct counts, exactly as in the reference trainer;
  * a merge (l, ##r) emits l+r with the marker spliced out
  * ([[BpeQueries.mergePairInto]]).
  *
  * Scale shape = the BPE trainer's (see [[BpeQueries]]): everything
  * runs on the bounded word-TYPE table; per iteration one symbol-count
  * agg, one pair-count agg, two vocabulary-shaped joins, and a 1-row
  * argmax collect. The extra symbol-count pass is what the score
  * denominator costs over plain BPE — still narrow and vocabulary-
  * bounded, never a corpus rescan.
  *
  * Determinism: the score is quantized to exact integer arithmetic —
  * score_q = cnt·10¹⁸ DIV (cnt_l·cnt_r) in DECIMAL(38,0) (cnt ≤
  * min(cnt_l, cnt_r) ⇒ the quotient ≤ 10¹⁸ fits BIGINT; the products
  * stay under 10³⁸ for any corpus whose token count fits BIGINT) —
  * with ties broken on the (l, r) tuple. Distinct true ratios closer
  * than 10⁻¹⁸ quantize equal and fall to the lex tie-break: a
  * deterministic, documented rounding at the precision where IEEE
  * doubles themselves stop distinguishing ratios. The whole k-level
  * chain is therefore oracle-checkable via unrolled CTEs, like BPE
  * and unlike the float-DP unigram trainer.
  */
object WordPieceQueries {

  /** Word-type table with WordPiece seeding: `seg` is the space-
    * delimited symbol string " h ##e ##l ##l ##o " (sentinel spaces,
    * matching [[BpeQueries.wordTable]]'s framing).
    */
  private[graft] def wordTable(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        concat(lit(" "),
          array_join(
            transform(split(col("word"), ""), (c, i) =>
              when(i === 0, c).otherwise(concat(lit("##"), c))),
            " "),
          lit(" ")))

  private[graft] case class WpMerge(merge_rank: Int, left: String,
                                    right: String, merged: String,
                                    pair_count: Long, score_q: Long)

  /** The WordPiece training loop: k iterations of (symbol-count agg,
    * pair-count agg, score argmax, greedy merge application).
    */
  private[graft] def trainMerges(words0: DataFrame, k: Int,
                                 entryCheckpoint: Boolean = true): (Seq[WpMerge], DataFrame) = {
    // Checkpoint at ENTRY (r14), same reasoning as the BPE trainer's:
    // without it, every pre-rank-4 iteration re-runs the corpus-scale
    // word-type aggregation TWICE per iteration here (symCounts + the
    // pair argmax both walk `words`); the word-type table is
    // vocab-bounded, the class the checkpoint policy allows. Gated on
    // corpus size by the caller (r15) — see
    // [[BpeQueries.trainerEntryCheckpoint]].
    var words = if (entryCheckpoint) words0.localCheckpoint() else words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    for (rank <- 1 to k) {
      val symCounts = words
        .select(col("freq"), explode(split(trim(col("seg")), " ")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("scnt"))
      val top = words
        .select(col("freq"), explode(BpeQueries.adjacentPairsLR(col("seg"))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .join(symCounts.select(col("sym").as("l"), col("scnt").as("lcnt")), "l")
        .join(symCounts.select(col("sym").as("r"), col("scnt").as("rcnt")), "r")
        .withColumn("score_q", expr(
          "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000000000000000 DIV " +
            "(CAST(lcnt AS DECIMAL(38,0)) * CAST(rcnt AS DECIMAL(38,0))) AS BIGINT)"))
        .orderBy(col("score_q").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.nonEmpty) {
        // By NAME, not position: the two USING joins above move their
        // key columns to the front, so positional access would read r
        // where l is expected.
        val (a, b) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"))
        val merged = a + b.stripPrefix("##")
        merges += WpMerge(rank, a, b, merged,
          top(0).getAs[Long]("cnt"), top(0).getAs[Long]("score_q"))
        words = words.withColumn("seg",
          concat(lit(" "),
            array_join(
              BpeQueries.mergePairInto(split(trim(col("seg")), " "), a, b, merged),
              " "),
            lit(" ")))
        if (rank % 4 == 0) words = words.localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  private val NMerges = 8

  /** Per-ingest warehouse artifacts, same contract as the BPE
    * tokenizer's ([[BpeQueries.materializedBpe]]): merge table + the
    * merged word-type table, fingerprinted on trainer version, k, and
    * input-file metadata.
    */
  private[graft] val MergesName = "wordpiece_merges"
  private[graft] val WordsName = "wordpiece_words"

  private[graft] def materializedWordPiece(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val store = new graft.etl.IndexStore(s, graft.etl.IndexStore.artifactRoot(dir))
    // v2: argmax row read by name (the USING joins reorder columns).
    val fp = s"wordpiece_v2:k=$NMerges:" +
      graft.etl.IndexStore.pathFingerprint(s, s"$dir/documents.parquet")
    if (!store.artifactFingerprint(MergesName).contains(fp) ||
        !store.artifactFingerprint(WordsName).contains(fp)) {
      val (merges, words) = trainMerges(
        wordTable(Tables.forCompute(s, dir, "documents")), NMerges,
        entryCheckpoint = BpeQueries.trainerEntryCheckpoint(s, dir))
      store.writeArtifact(s.createDataFrame(merges), MergesName, fp, numShards = 1)
      store.writeArtifact(words, WordsName, fp)
    }
    (store.read(MergesName), store.read(WordsName))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The trained merge table: the first 8 WordPiece merges with their
    // winning pair counts and quantized association scores, served
    // from the per-ingest artifact and hash-checked against the
    // unrolled-CTE DuckDB twin.
    "llm_wordpiece_train" -> ((s, dir) => {
      materializedWordPiece(s, dir)._1.orderBy(col("merge_rank"))
    }),

    // The apply side as corpus statistics — frequency-weighted symbol
    // counts before/after the merges (compression the vocabulary
    // bought), mirroring llm_bpe_segment so the two trainers'
    // compression is directly comparable on the same corpus.
    "llm_wordpiece_segment" -> ((s, dir) => {
      materializedWordPiece(s, dir)._2
        .withColumn("toks_after", size(split(trim(col("seg")), " ")).cast(LongType))
        .withColumn("chars", length(col("word")).cast(LongType))
        .agg(
          sum(col("freq")).as("total_words"),
          sum(col("chars") * col("freq")).as("total_symbols_before"),
          sum(col("toks_after") * col("freq")).as("total_tokens_after"),
          round(sum(col("chars") * col("freq")).cast(DoubleType) /
            sum(col("toks_after") * col("freq")).cast(DoubleType), 6)
            .as("compression"))
    })
  )

  /** The k WordPiece iterations unrolled as DuckDB CTE levels — the
    * BPE chain's structure ([[BpeQueries]] `bpeChainSql`) plus a
    * symbol-count CTE per level for the score denominator. The merge
    * fold appends the marker-spliced continuation (`ms`), not the raw
    * right symbol, so the emitted token is l+r with `##` removed —
    * and since `ms` is non-empty, a freshly merged token can never
    * re-match ` '||l` at the next fold step (restart-after-merge,
    * same boundary argument as the BPE twin).
    */
  private def wpChainSql(k: Int): String = {
    val base =
      """WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE len(word) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    list_prepend(ch[1], list_transform(ch[2:], c -> '##' || c)) AS syms
        |  FROM (SELECT word, freq, regexp_split_to_array(word, '') AS ch
        |        FROM w0))""".stripMargin
    val iters = (1 to k).map { n =>
      s"""v$n AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt FROM (
         |    SELECT unnest(syms) AS sym, freq FROM s${n - 1})
         |  GROUP BY 1),
         |p$n AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT syms[i] AS l, syms[i+1] AS r, freq
         |    FROM s${n - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |    WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |m$n AS MATERIALIZED (
         |  SELECT pp.l, pp.r, pp.cnt,
         |    CAST(pp.cnt::HUGEINT * 1000000000000000000
         |         // (vl.scnt::HUGEINT * vr.scnt) AS BIGINT) AS score_q,
         |    CASE WHEN starts_with(pp.r, '##') THEN pp.r[3:] ELSE pp.r END AS ms
         |  FROM p$n pp JOIN v$n vl ON pp.l = vl.sym
         |              JOIN v$n vr ON pp.r = vr.sym
         |  ORDER BY score_q DESC, pp.l, pp.r LIMIT 1),
         |s$n AS MATERIALIZED (
         |  SELECT word, freq,
         |    str_split(list_reduce(syms, (acc, x) -> CASE
         |      WHEN x = mr AND (acc = ml OR ends_with(acc, ' ' || ml))
         |      THEN acc || mms ELSE acc || ' ' || x END), ' ') AS syms
         |  FROM s${n - 1}, (SELECT l AS ml, r AS mr, ms AS mms FROM m$n) m)""".stripMargin
    }
    (base +: iters).mkString(",\n")
  }

  val oracleSql: Map[String, String] = Map(
    "llm_wordpiece_train" ->
      (wpChainSql(NMerges) + "\n" +
        (1 to NMerges).map { n =>
          s"""SELECT $n AS merge_rank, l AS "left", r AS "right", l || ms AS merged, cnt AS pair_count, score_q FROM m$n"""
        }.mkString("\nUNION ALL ") +
        "\nORDER BY merge_rank"),

    "llm_wordpiece_segment" ->
      (wpChainSql(NMerges) +
        s"""
           |SELECT CAST(sum(freq) AS BIGINT) AS total_words,
           |       CAST(sum(len(word) * freq) AS BIGINT) AS total_symbols_before,
           |       CAST(sum(len(syms) * freq) AS BIGINT) AS total_tokens_after,
           |       round(CAST(sum(len(word) * freq) AS DOUBLE) /
           |             CAST(sum(len(syms) * freq) AS DOUBLE), 6) AS compression
           |FROM s$NMerges""".stripMargin)
  )
}
