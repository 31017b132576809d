package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Search surface the reference delegates to Elasticsearch URI search
  * (SURVEY.md §2.3; `indexView.html:13-20` — `q=<keyword>` across all
  * fields, BM25-ranked top-10), owned natively.
  *
  * Scale design: match queries are a scan + narrow per-row expressions
  * (codegen'd), followed by a filter or a `TakeOrderedAndProject` top-k.
  * Relevance scorers that need corpus statistics add one bounded
  * aggregate (the shape is stated once, at [[withCorpusStats]]).
  * Scoring is deterministic integer/rational arithmetic or a float
  * expression written with the same association as its DuckDB twin,
  * never an order-dependent float accumulation, so the oracle matches
  * exactly.
  */
object SearchQueries {

  /** ES `query_string` keyword match across ALL fields of a document
    * (reference `indexView.html:18`): disjunction of per-column
    * `contains` over the same pinned stringification the bulk importer
    * uses (timestamps `yyyy-MM-dd HH:mm:ss`, money via DECIMAL(18,2)).
    * `private[graft]`: IndexStore.searchAll reuses it for the
    * multi-index fan-out.
    */
  private[graft] def anyFieldContains(df: DataFrame, kw: String): Column =
    df.schema.fields
      .map(f => graft.etl.Stringify.column(col(f.name), f.dataType).contains(kw))
      .reduce(_ || _)

  /** Whitespace tokenizer shared by match + rank queries. */
  private[search] def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Welch's t statistic as ONE fixed-order arithmetic string shared
    * verbatim by both engines — `wide` is the exact integer carrier
    * for the variance numerators n·Σx² − (Σx)² (DECIMAL(38,0) in
    * Spark, HUGEINT in DuckDB; they cross 2⁶³ at corpus scale); every
    * other token is identical, so the double operation sequence — and
    * therefore the rounded result — is too. NULL when either side has
    * < 2 samples or both variances are zero (ES `t_test` gap policy).
    */
  private[graft] def welchT(wide: String): String =
    s"""CASE WHEN n_a >= 2 AND n_b >= 2
       | AND (CAST(n_a AS $wide) * qq_a - CAST(s_a AS $wide) * s_a > 0
       |   OR CAST(n_b AS $wide) * qq_b - CAST(s_b AS $wide) * s_b > 0)
       |THEN round(
       |  (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
       |  / sqrt(
       |      CAST(CAST(n_a AS $wide) * qq_a - CAST(s_a AS $wide) * s_a AS DOUBLE)
       |        / (CAST(n_a AS DOUBLE) * (n_a - 1)) / n_a
       |    + CAST(CAST(n_b AS $wide) * qq_b - CAST(s_b AS $wide) * s_b AS DOUBLE)
       |        / (CAST(n_b AS DOUBLE) * (n_b - 1)) / n_b), 6)
       |END""".stripMargin

  /** Lucene's BM25 idf, ln(1 + (N − df + 0.5)/(df + 0.5)): the one copy
    * behind [[bm25Part]] and `search_explain`'s reported idf.
    */
  private[search] def bm25Idf(dfc: Column, nDocs: Column): Column =
    log(lit(1.0) + (nDocs - dfc + lit(0.5)) / (dfc + lit(0.5)))

  /** One term's Okapi BM25 contribution (k1=1.2, b=0.75, Lucene idf) —
    * the ONE copy of the scoring arithmetic, shared by every scan scorer
    * built on [[withCorpusStats]] and by [[bm25FromPostings]]. Their
    * DuckDB twins mirror this exact text, and the index-served read
    * (`search_topk_bm25_indexed`, the benchmark's BM25 reads) must
    * hash-match the scan, so the expression tree must not change.
    * Constants written literally (2.2 = k1+1, 0.25 = 1−b) so both
    * engines evaluate the same literals.
    */
  private[search] def bm25Part(tfc: Column, dfc: Column, nToks: Column,
                               nDocs: Column, sumDl: Column): Column =
    bm25Idf(dfc, nDocs) *
      ((tfc * lit(2.2)) /
        (tfc + lit(1.2) *
          (lit(0.25) + lit(0.75) * (nToks * nDocs / sumDl))))

  /** tf of `term` in `field`: the exact token-equality count (not
    * substring) every scan scorer ranks by.
    */
  private[search] def tfOf(field: String, term: String): Column =
    size(filter(tokens(col(field)), t => t === lit(term)))

  /** The text field's length, as the `lens` of [[withCorpusStats]]. */
  private[search] def textLen: Seq[(String, Column)] =
    Seq("n_tokens" -> size(tokens(col("text"))))

  /** One `tf_<term>` column per term over the text field, as the `tfs`
    * of [[withCorpusStats]].
    */
  private[search] def textTfs(terms: String*): Seq[(String, Column)] =
    terms.map(t => s"tf_$t" -> tfOf("text", t))

  /** BM25 of a text query over a [[withCorpusStats]] frame built from
    * [[textLen]] and [[textTfs]]: the per-term parts summed left to
    * right in `terms` order, the association the DuckDB twins write.
    */
  private[search] def textBm25(terms: String*): Column =
    terms.map(t => bm25Part(col(s"tf_$t"), col(s"df_$t"), col("n_tokens"),
      col("n_docs"), col("sum_dl"))).reduce(_ + _)

  /** The scan scorer: `docs` with each length and tf column added,
    * narrowed by `candidates`, and cross-joined with one broadcast row
    * of corpus statistics, all DOUBLE: `n_docs`; each length's sum (a
    * per-field `n_toks_<f>` sums to `sum_dl_<f>`; the text `n_tokens`
    * and a blended `dl` or `n_toks_all` sum to `sum_dl`); and
    * `df<x>`, the docs with `tf<x>` > 0, for each `tf<x>`. The row is
    * computed over every doc, never only the candidates, so a rescore
    * window or an explained doc sees the corpus's idf.
    *
    * Plan shape: two `documents` scans, one feeding the scoring
    * projection and one the stats aggregate, whose partial results meet
    * in an `Exchange SinglePartition`; its 1-row result is broadcast to
    * a `BroadcastNestedLoopJoin` (a grand aggregate, so PlanSpec's BNLJ
    * audit proves the build side bounded). The caller adds its filter,
    * score and `TakeOrderedAndProject` top-k on top.
    */
  private[graft] def withCorpusStats(docs: DataFrame, lens: Seq[(String, Column)],
                                     tfs: Seq[(String, Column)],
                                     candidates: DataFrame => DataFrame = identity): DataFrame = {
    val scored = (lens ++ tfs).foldLeft(docs) { case (d, (name, c)) => d.withColumn(name, c) }
    def sumDlOf(len: String): String = len match {
      case s"n_toks_$f" if f != "all" => s"sum_dl_$f"
      case _ => "sum_dl"
    }
    val aggs = count(lit(1)).cast(DoubleType).as("n_docs") +:
      (lens.map { case (l, _) => sum(col(l)).cast(DoubleType).as(sumDlOf(l)) } ++
        tfs.map { case (tf, _) =>
          sum((col(tf) > 0).cast(LongType)).cast(DoubleType).as("df" + tf.stripPrefix("tf")) })
    candidates(scored).crossJoin(broadcast(scored.agg(aggs.head, aggs.tail: _*)))
  }

  /** Query set for the `_rank_eval` harness — all in the fixture
    * vocabulary so every ranking is non-vacuous.
    */
  private val RankEvalTerms = Seq("join", "spark", "vector")

  private[graft] val PostingsName = "text_postings"
  private[graft] val PostingsStatsSidecar = "_graft_corpus_stats"

  /** The postings projection of a document frame — shared by the index
    * build and incremental maintenance (a streamed batch's postings
    * come from the same code). POSITIONAL: each posting carries the
    * token's 0-based positions (sorted — deterministic under any
    * partitioning), which is what lets phrase queries run from the
    * index (ES stores the same; Lucene's "positions" index option).
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** The `seg=k` hive partition every table of the postings artifact
    * carries in its directory names.
    */
  private val SegField = StructField("seg", IntegerType)

  /** Schema of the postings table as read, `seg` last. The artifact's
    * writes cast to it and [[resolvedPostings]] reads with it, so a read
    * opens no footer to infer what the writer already fixed.
    */
  private[graft] val PostingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("n_tokens", IntegerType), StructField("tf", LongType),
    StructField("positions", ArrayType(IntegerType)), SegField))

  /** (doc count, total token count) of a document frame. */
  private[graft] def corpusStatsOf(docs: DataFrame): (Double, Double) = {
    val r = docs.agg(
      count(lit(1)).cast(DoubleType).as("n_docs"),
      sum(size(tokens(col("text")))).cast(DoubleType).as("sum_dl")).head
    (r.getDouble(0), r.getDouble(1))
  }

  private[graft] def statsSidecarText(nDocs: Double, sumDl: Double): String =
    s"$nDocs $sumDl"

  /** The materialized inverted index — the data structure Elasticsearch
    * actually keeps for the reference's delegated search, as a
    * first-class warehouse artifact (same contract as the near-dup pair
    * graph and the IVFADC vector index): positional postings
    * (term, doc_id, n_tokens, tf, positions) built once per ingest,
    * RANGE-SORTED by term so a query's term filter becomes parquet
    * min/max row-group skipping (a term is too high-cardinality for
    * hive partitioning), with the two corpus scalars BM25 needs
    * (doc count, total token count) in a sidecar. Query cost is then
    * proportional to the probed terms' posting lists, not the corpus —
    * the ES serving model. The build writes the postings and `_doclen`
    * as one [[postingsArtifact]]. Returns (postings, nDocs, sumDl).
    */
  private[graft] def materializedPostings(s: SparkSession, dir: String): (DataFrame, Double, Double) = {
    val store = new graft.etl.IndexStore(s, graft.etl.IndexStore.artifactRoot(dir))
    val fp = "postings_v4_segmented:" +
      graft.etl.IndexStore.pathFingerprint(s, s"$dir/documents.parquet")
    if (!store.artifactFingerprint(PostingsName).contains(fp)) {
      val docs = Tables.forCompute(s, dir, "documents")
      val (nDocs, sumDl) = corpusStatsOf(docs)
      postingsArtifact(store).build(Seq(postingsOf(docs), doclenOf(docs)), fp,
        Map(PostingsStatsSidecar -> statsSidecarText(nDocs, sumDl)))
    }
    val Array(nDocs, sumDl) = store.artifactSidecar(PostingsName, PostingsStatsSidecar)
      .getOrElse(sys.error(s"$PostingsName has no corpus-stats sidecar"))
      .split(' ').map(_.toDouble)
    (resolvedPostings(store), nDocs, sumDl)
  }

  /** The hidden dir where earlier builds kept a tombstone table of
    * deleted doc ids. Nothing writes or reads it now: the
    * [[postingsArtifact]] takes its kill set from `_doclen`. The
    * benchmark's gauge still counts its rows, and a build's or
    * compaction's swap removes a leftover one.
    */
  private[graft] val PostingsDeleted = "_deleted"

  /** Doc-length TABLE of the postings artifact — Lucene's norms file:
    * ONE (doc_id, n_tokens) row per doc per segment, doc_id-range-sorted
    * within files, under the underscore-hidden `_doclen/seg=k` dirs. It
    * is the artifact's key table, so also its deleted-docs record (see
    * [[graft.etl.SegmentedArtifact]]). It exists so [[upsertPostings]]'s
    * stats-delta probe (the removed docs' length contribution) reads a
    * 1-row-per-doc projection with the batch's ids PUSHED into the
    * scan, instead of left-semi scanning the full postings (~60–100 rows per doc, term-sorted so
    * doc_id row-group stats prune nothing) — measured 4.1 s → O(batch)
    * at the 100× corpus, and the difference between a micro-batch
    * costing O(batch) and O(corpus/100) at 100 TB.
    */
  private[graft] val PostingsDoclen = "_doclen"

  /** Schema of the `_doclen` table as read, `seg` last. */
  private[graft] val DoclenSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_tokens", IntegerType),
    SegField))

  /** One (doc_id, n_tokens) row per doc of a document frame. */
  private def doclenOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))

  private[graft] val PostingsTable = graft.etl.SegmentedArtifact.Table("", PostingsSchema, "term", 5)
  private[graft] val DoclenTable = graft.etl.SegmentedArtifact.Table(PostingsDoclen, DoclenSchema, "doc_id", 4)

  /** The postings as a [[graft.etl.SegmentedArtifact]]: the postings
    * table at the root, `_doclen` as the key table on `doc_id`, and the
    * corpus-stats sidecar carried through compaction.
    */
  private[graft] def postingsArtifact(store: graft.etl.IndexStore): graft.etl.SegmentedArtifact =
    new graft.etl.SegmentedArtifact(store, PostingsName, Seq(PostingsTable, DoclenTable),
      DoclenTable, "doc_id", Seq(PostingsStatsSidecar))

  /** The SERVED view of the segmented postings: every segment's rows
    * minus those of docs updated in a later segment (the artifact's
    * newest-segment rule). Building it runs no Spark job.
    */
  private[graft] def resolvedPostings(store: graft.etl.IndexStore): DataFrame =
    postingsArtifact(store).resolved(PostingsTable)

  /** Incremental postings maintenance for one ingest batch — the ES/
    * Lucene continuous-indexing loop for the SEARCH index, SEGMENT-
    * APPEND shaped: the batch's postings and `_doclen` rows land as one
    * new immutable segment of the [[postingsArtifact]] (O(batch) write —
    * no existing file is touched), which kills its docs' rows in every
    * older segment (so a changed doc that lost a term serves no stale
    * posting), and the corpus-stats sidecar advances by the batch
    * DELTA (removed docs' contribution comes from the resolved doclen
    * table, one row per doc — never a corpus rescan). At 100 TB a
    * micro-batch therefore costs its own size, not a corpus rewrite —
    * the vec/geo cell-granularity discipline applied to an artifact
    * whose sort key (term) every batch straddles. Read amplification
    * grows with segment count; [[compactPostings]] folds it back.
    *
    * A batch of at most [[graft.etl.IndexStore.MaxInPush]] rows (the
    * micro-batch case) is handled like a Lucene flush: its
    * (doc_id, n_tokens) rows are collected once, the removed docs'
    * stats are summed here from the at most |batch| probed doclen
    * rows, and each table's segment is written as ONE sorted file with
    * no range-sampling job. A larger batch keeps its ids and stats
    * distributed and writes range-partitioned segments. The append's
    * fingerprint bracket is the crash contract. Retokenization policy
    * changes are a rebuild ([[materializedPostings]] fingerprint), not
    * an upsert.
    */
  private[graft] def upsertPostings(store: graft.etl.IndexStore,
                                    batch: DataFrame,
                                    fingerprint: String = "stream-maintained"): Long =
    store.withMaintenanceLock(PostingsName) {
    val art = postingsArtifact(store)
    val Array(oldN, oldDl) = store.artifactSidecar(PostingsName, PostingsStatsSidecar)
      .getOrElse(sys.error(s"$PostingsName has no corpus-stats sidecar"))
      .split(' ').map(_.toDouble)
    // ONE bounded single-stage job over the batch's (doc_id, n_tokens)
    // rows answers whether it is empty, which ids it carries and its
    // (doc count, token sum) — exact, as sums of integer lengths. Past
    // the push cap the ids and stats stay distributed.
    val raw = doclenOf(batch).limit(graft.etl.IndexStore.MaxInPush + 1).collect()
    val capped = raw.length <= graft.etl.IndexStore.MaxInPush
    // An empty micro-batch (routine under foreachBatch) must not burn
    // a segment generation or write empty segment files —
    // return the current max gen untouched (if/else, not `return`:
    // the lock body is by-name).
    if (raw.isEmpty) art.segments().lastOption.getOrElse(0).toLong
    else {
    // Stats-delta probe against the DOCLEN table, with the batch's id
    // list PUSHED into its doc-sorted scan when the batch is
    // micro-batch-sized (the normal streaming case — row-group stats
    // then prune the read to O(batch)); a bulk re-import past the push
    // cap falls back to the distributed semi-join, still over the
    // 1-row-per-doc table rather than the full postings.
    val doclen = art.resolved(DoclenTable)
    // The removed docs' (count, token sum), over distinct
    // (doc_id, n_tokens) pairs either way.
    val (removedN, removedDl) =
      if (capped) {
        val live = doclen.filter(col("doc_id").isin(raw.map(_.getLong(0)).distinct.toSeq: _*))
          .select(col("doc_id"), col("n_tokens")).collect().distinct
        (live.length.toDouble, live.filterNot(_.isNullAt(1)).map(_.getInt(1).toLong).sum.toDouble)
      } else {
        val r = doclen.join(batch.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("n_tokens")).distinct()
          .agg(coalesce(count(lit(1)), lit(0L)).cast(DoubleType),
            coalesce(sum(col("n_tokens")), lit(0L)).cast(DoubleType)).head
        (r.getDouble(0), r.getDouble(1))
      }
    val (batchN, batchDl) =
      if (capped) (raw.length.toDouble,
        raw.filterNot(_.isNullAt(1)).map(_.getInt(1).toDouble).sum)
      else corpusStatsOf(batch)
    art.append(Seq(postingsOf(batch),
        if (capped) store.session.createDataFrame(java.util.Arrays.asList(raw.toSeq: _*), raw.head.schema)
        else doclenOf(batch)), fingerprint,
      Map(PostingsStatsSidecar -> statsSidecarText(
        oldN - removedN + batchN, oldDl - removedDl + batchDl)),
      oneFile = capped).toLong // the new segment's id — O(1), unlike a resolved count
    }
    }

  /** Fold the maintained postings back to a single segment — the Lucene
    * force-merge, run when the per-query segment fan-in or the kill set
    * has grown past taste. Both tables keep their resolved content,
    * one `_doclen` row per live doc included (see
    * [[graft.etl.SegmentedArtifact.compact]]).
    */
  private[graft] def compactPostings(store: graft.etl.IndexStore): Unit =
    postingsArtifact(store).compact()

  /** BM25 top-k computed FROM postings, as ONE lazy query with one
    * postings scan (shared by the registered indexed query, the
    * benchmark's reads and the maintenance specs, which score against
    * a maintained — not rebuilt — index). The per-doc aggregate over
    * (doc_id, n_tokens) yields every query term's tf; each term's df is
    * the count of those groups with tf > 0, a 1-row ungrouped aggregate
    * of the SAME frame broadcast back. That is exact because live
    * postings are unique per (term, doc_id, n_tokens): [[postingsOf]]
    * groups on that key, and the [[postingsArtifact]]'s newest-segment
    * rule serves one version of each doc. Both consumers share one
    * exchange, so Spark reuses it and reads the postings once; building
    * the frame runs no Spark job.
    */
  private[graft] def bm25FromPostings(postings: DataFrame, nDocs: Double,
                                      sumDl: Double, terms: Seq[String]): DataFrame = {
    val tfs = terms.indices.map(i =>
      coalesce(max(when(col("term") === terms(i), col("tf"))), lit(0L)).as(s"tf_$i"))
    val perDoc = postings.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("n_tokens")).agg(tfs.head, tfs.tail: _*)
    val dfs = terms.indices.map(i =>
      count(when(col(s"tf_$i") > 0, lit(1))).cast(DoubleType).as(s"df_$i"))
    perDoc.crossJoin(broadcast(perDoc.agg(dfs.head, dfs.tail: _*)))
      // Left-to-right sum in `terms` order — the same association the
      // scan query (and its DuckDB twin) writes out.
      .withColumn("score", round(
        terms.indices.map(i => bm25Part(col(s"tf_$i"), col(s"df_$i"),
          col("n_tokens"), lit(nDocs), lit(sumDl))).reduce(_ + _), 6))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("score"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // #14: keyword search across every field of the orders "index".
    // The keyword "URGENT" hits o_orderpriority ("1-URGENT") but the
    // predicate genuinely scans all columns, like ES's _all search.
    "search_keyword_all_fields" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      o.filter(anyFieldContains(o, "URGENT"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Tokenized match: documents containing at least one query term;
    // matched_terms = |distinct(tokens) ∩ terms| (set semantics in both
    // engines: array_intersect ≡ list_intersect on distinct elements).
    "search_tokenized_match" -> ((s, dir) => {
      val terms = array(lit("spark"), lit("vector"))
      Tables(s, dir, "documents")
        .withColumn("matched_terms",
          size(array_intersect(tokens(col("text")), terms)))
        .filter(col("matched_terms") > 0)
        .select(col("doc_id"), col("lang"), col("matched_terms"))
        .orderBy(col("doc_id"))
    }),

    // Hit snippets — the highlight payload a search UI renders next to
    // each result (ES returns highlighted fragments for the `q=`
    // search the reference's indexView displays): first-match position
    // plus a window of surrounding context. Per-row string ops at scan
    // speed; identical substring semantics in both engines.
    "search_snippets" -> ((s, dir) => {
      val pos = instr(lower(col("text")), "spark")
      Tables(s, dir, "documents")
        .withColumn("pos", pos)
        .filter(col("pos") > 0)
        .select(col("doc_id"), col("pos"),
          expr("substring(text, greatest(1, pos - 30), 80)").as("snippet"))
        .orderBy(col("doc_id"))
    }),

    // Phrase match: consecutive-token phrase present in the text
    // (ES match_phrase). Normalized-whitespace contains — tokens glued
    // with single spaces on both sides.
    "search_phrase_match" -> ((s, dir) => {
      val normalized = concat_ws(" ", split(lower(col("text")), "\\s+"))
      Tables(s, dir, "documents")
        .filter(normalized.contains("the table"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // span_not — the negative member of the span family (span_near =
    // ordered proximity, intervals = unordered, span_not = proximity
    // EXCLUSION): occurrences of 'table' that are NOT within 3
    // positions of 'key' — the "match X except in context Y" query
    // (e.g. "apple" but not near "pie"). Per-row nested HOF over the
    // two position lists (both tf-sized, so the inner exists is
    // O(tf_incl·tf_excl) per doc, not tokens²); ranked by the clean
    // count. Same scan-speed shape as every positional query, and at
    // serving scale the include term prunes via the positional index
    // with only the exclusion checked against the second posting list.
    "search_span_not" -> ((s, dir) => {
      // Position-list form, not nested HOFs: an array-HOF spelling of
      // this query re-evaluates the token split per lambda element
      // access after Project collapse re-inlines the arrays (measured
      // 9–20 s vs 0.5 s at sf0.1). The posexplode + tf-sized position
      // join is the same shape as search_phrase_slop — and the same
      // per-doc position-list intersection the positional postings
      // index runs at serving time.
      val pos = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      val incl = pos.filter(col("tok") === "table")
        .select(col("doc_id"), col("p"))
      val excl = pos.filter(col("tok") === "key")
        .select(col("doc_id"), col("p").as("pe"))
      val dirty = incl.join(excl, Seq("doc_id"))
        .filter(abs(col("p") - col("pe")) <= 3)
        .select(col("doc_id"), col("p")).distinct()
      val tfTotal = incl.groupBy(col("doc_id")).agg(count(lit(1)).as("tf_total"))
      val tfClean = incl.join(dirty, Seq("doc_id", "p"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("tf_clean"))
      tfTotal.join(tfClean, "doc_id")
        .filter(col("tf_clean") > 0)
        .select(col("doc_id"), col("tf_total").cast("int").as("tf_total"),
          col("tf_clean").cast("int").as("tf_clean"))
        .orderBy(col("tf_clean").desc, col("doc_id"))
        .limit(10)
    }),

    // match_phrase_prefix — ES's "search-as-you-type" phrase query:
    // every term matches exactly except the LAST, which matches as a
    // prefix ("big ta" hits "big table" mid-keystroke — the query the
    // reference UI's search box fires while the user is still
    // typing). Per-row HOF position scan: exists i with t[i] = term
    // and t[i+1] starting with the prefix; tf = number of such
    // positions ranks the hits. Pure codegen'd per-row work at scan
    // speed — and at serving scale the first (exact) term prunes via
    // the positional postings index exactly like search_phrase_indexed,
    // with only the prefix continuation checked positionally.
    "search_phrase_prefix" -> ((s, dir) => {
      // Position-list form (see search_span_not's HOF note): exact
      // first term at p, prefix-matching continuation at p+1 — one
      // tf-sized equi-join on (doc, position).
      val pos = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      val first = pos.filter(col("tok") === "big")
        .select(col("doc_id"), col("lang"), col("p"))
      val cont = pos.filter(col("tok").startsWith("ta"))
        .select(col("doc_id"), (col("p") - 1).as("p"))
      first.join(cont, Seq("doc_id", "p"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).cast("int").as("tf_phrase"))
        .orderBy(col("tf_phrase").desc, col("doc_id"))
        .limit(10)
    }),

    // Sloppy phrase (ES match_phrase with slop=2): "the ... table" with
    // at most 2 intervening tokens, in order — the proximity query
    // between exact-phrase and bag-of-words. Positions via one
    // posexplode + per-term filters + an equi-join on doc_id with the
    // distance predicate — the position-list intersection the
    // positional postings index does at serving time
    // (`search_phrase_indexed`), here in scan form: per-doc position
    // lists are tf-sized, so the join is linear in term occurrences,
    // never in tokens². Reports the tightest span and the pair count.
    "search_phrase_slop" -> ((s, dir) => {
      val pos = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "tok")))
      val a = pos.filter(col("tok") === "the")
        .select(col("doc_id"), col("p").as("p1"))
      val b = pos.filter(col("tok") === "table")
        .select(col("doc_id").as("d2"), col("p").as("p2"))
      a.join(b, col("doc_id") === col("d2") &&
          col("p2") > col("p1") && col("p2") - col("p1") <= lit(3))
        .groupBy(col("doc_id"))
        .agg(min(col("p2") - col("p1")).cast(LongType).as("best_dist"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("doc_id"))
    }),

    // Prefix match (ES prefix / wildcard 'spar*'): any token starts
    // with the prefix.
    "search_prefix_match" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("n_hits",
          size(filter(tokens(col("text")), t => t.startsWith("spar"))))
        .filter(col("n_hits") > 0)
        .select(col("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy match (ES fuzziness=1): any token within edit distance 1
    // of the query term — exists() over tokens with levenshtein, all
    // codegen'd; no index needed at scan speed.
    "search_fuzzy_match" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("n_fuzzy",
          size(filter(array_distinct(tokens(col("text"))),
            t => levenshtein(t, lit("spork")) <= 1)))
        .filter(col("n_fuzzy") > 0)
        .select(col("doc_id"), col("n_fuzzy"))
        .orderBy(col("doc_id"))
    }),

    // Fuzzy match at ES fuzziness=2 with prefix_length=1 — the knob a
    // user reaches for when distance 1 misses (ES AUTO resolves to
    // distance 2 past 5 chars). prefix_length is what makes distance-2
    // viable at scale: candidates must share the query's first char
    // EXACTLY, so a cheap codegen'd prefix test prunes the token set
    // before any edit-distance work (ES prunes its term dictionary the
    // same way), and the banded 3-arg levenshtein (threshold = 2)
    // early-exits instead of filling the full O(|s|·|t|) matrix.
    // Output adds the best (minimum) distance per doc — the field ES
    // exposes as the fuzzy match's score input.
    "search_fuzzy_edit2" -> ((s, dir) => {
      val q = "spork"
      val matched = filter(array_distinct(tokens(col("text"))),
        t => t.startsWith(q.substring(0, 1)) && levenshtein(t, lit(q), 2) >= 0)
      Tables(s, dir, "documents")
        .withColumn("n_fuzzy", size(matched))
        .withColumn("min_dist",
          array_min(transform(matched, t => levenshtein(t, lit(q)))))
        .filter(col("n_fuzzy") > 0)
        .select(col("doc_id"), col("n_fuzzy"), col("min_dist"))
        .orderBy(col("doc_id"))
    }),

    // ES wildcard query — 'sc?n*' ('?' exactly one char, '*' any run)
    // compiled to an anchored token regex. ES runs the pattern as an
    // automaton over its term dictionary; the scan-speed equivalent is
    // one codegen'd RLIKE per DISTINCT token (array_distinct first, so
    // a token repeated 50× in a doc is tested once). Leading-wildcard
    // patterns are the known scale trap in ES for the same reason they
    // are here — nothing prunes — so the demonstrated pattern anchors
    // a literal prefix, and at scale the materialized postings
    // artifact serves it by range-pruning on that prefix exactly like
    // search_suggest's StringStartsWith pushdown.
    "search_wildcard" -> ((s, dir) => {
      val matched = filter(array_distinct(tokens(col("text"))),
        t => t.rlike("^sc.n.*$"))
      Tables(s, dir, "documents")
        .withColumn("n_wild", size(matched))
        .withColumn("first_match", array_min(matched))
        .filter(col("n_wild") > 0)
        .select(col("doc_id"), col("n_wild"), col("first_match"))
        .orderBy(col("doc_id"))
    }),

    // Relevance-ranked top-k (the ES BM25 top-10 role): deterministic
    // tf-weighted score. tf(t) = exact token-equality count (not
    // substring), score = 3*tf(spark) + 2*tf(vector) + tf(join),
    // normalized by doc length via a single double division (identical
    // IEEE op in Spark and DuckDB). Plan: scan → project →
    // TakeOrderedAndProject(k) — each partition keeps 10 rows, driver
    // merges; no global sort at any scale.
    "search_topk_relevance" -> ((s, dir) => {
      val rawScore =
        tfOf("text", "spark") * 3 + tfOf("text", "vector") * 2 + tfOf("text", "join")
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(tokens(col("text"))))
        .withColumn("score",
          rawScore.cast(DoubleType) / col("n_tokens").cast(DoubleType))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("score"))
        .limit(10)
    }),

    // Keyset pagination (the reference's queryDataFrom from/size intent,
    // `ElasticServiceImpl.java:127-130`, done the scale-safe way): the
    // next page is "rows strictly after the last-seen (score, doc_id)
    // cursor", a pure predicate + top-k — every page is the same
    // TakeOrderedAndProject plan, cost independent of page number.
    // OFFSET pagination would sort-and-skip the whole prefix: page 1000
    // of a 100 TB corpus scans everything before it; keyset doesn't.
    "search_page_after" -> ((s, dir) => {
      val rawScore =
        tfOf("text", "spark") * 3 + tfOf("text", "vector") * 2 + tfOf("text", "join")
      val (curScore, curDoc) = (0.08, 0L) // last row of the previous page
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(tokens(col("text"))))
        .withColumn("score",
          rawScore.cast(DoubleType) / col("n_tokens").cast(DoubleType))
        .filter(col("score") > 0 &&
          (col("score") < curScore ||
            (col("score") === curScore && col("doc_id") > curDoc)))
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("score"))
        .limit(10)
    }),

    // tf·idf relevance (one step toward the BM25 the reference's ES
    // `q=` search uses, `indexView.html:13-20`): idf = ln(N/df) from ONE
    // corpus-level aggregation — a single scalar row, broadcast to the
    // scoring scan (crossJoin with a 1-row side is a BroadcastNestedLoop
    // over one row, i.e. free). At 100 TB the df table is per-term tiny
    // regardless of corpus size; the scoring pass stays scan-speed.
    // round(6) absorbs last-ulp ln() differences across engines.
    "search_topk_tfidf" -> ((s, dir) => {
      withCorpusStats(Tables(s, dir, "documents"), textLen,
          textTfs("spark", "vector", "join"))
        .withColumn("score", round(
          (col("tf_spark") * log(col("n_docs") / col("df_spark")) +
            col("tf_vector") * log(col("n_docs") / col("df_vector")) +
            col("tf_join") * log(col("n_docs") / col("df_join"))) /
            col("n_tokens").cast(DoubleType), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("score"))
        .limit(10)
    }),

    // Okapi BM25 (k1=1.2, b=0.75, Lucene idf) — the ACTUAL scoring
    // behind the reference's ES `q=` search (indexView.html:13-20);
    // tf·idf above is the direction, this is the destination. Same
    // one-broadcast corpus-stats shape (plus avg doc length); every
    // float subexpression is written with IDENTICAL association in the
    // DuckDB twin (ln/÷/× are cross-engine bit-stable here — proven by
    // the tf·idf query), then round(6).
    "search_topk_bm25" -> ((s, dir) => {
      val terms = Seq("spark", "vector", "join")
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs(terms: _*))
        .withColumn("score", round(textBm25(terms: _*), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("score"))
        .limit(10)
    }),

    // ES bool-should with minimum_should_match=2 (the `bool` query's
    // precision knob — ES docs: "Minimum Should Match"): a doc
    // qualifies only when at least 2 of the 3 should term-clauses
    // match; the score is unchanged BM25 — clauses that don't match
    // contribute exactly 0 (tf=0 zeroes the part), so the constraint
    // is purely a recall/precision filter, not a scoring change.
    // Plan shape is identical to search_topk_bm25 (one broadcast
    // corpus-stats row, scan-speed match-count predicate,
    // TakeOrderedAndProject top-k) — minimum_should_match costs
    // nothing extra at any scale.
    "search_min_should_match" -> ((s, dir) => {
      val terms = Seq("spark", "vector", "join")
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs(terms: _*))
        .withColumn("n_matched",
          terms.map(t => (col(s"tf_$t") > 0).cast(IntegerType)).reduce(_ + _))
        .filter(col("n_matched") >= 2)
        .withColumn("score", round(textBm25(terms: _*), 6))
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_matched"), col("score"))
        .limit(10)
    }),

    // ES `boosting` query: positive clause ranks, negative clause
    // DEMOTES (multiplies by negative_boost) instead of excluding —
    // "results about dup, but prefer those not mentioning slow".
    // Positive = single-term BM25 on 'dup' (the fixture's one rare,
    // high-idf term, so the top-10 mixes demoted and undemoted rows
    // and both CASE branches land in the gated output); negative =
    // presence of 'slow'; negative_boost = 0.5 (exact IEEE halving, so
    // the twin stays bit-identical). Same scan → project →
    // stats-broadcast → TakeOrderedAndProject shape as every scorer.
    "search_boosting" -> ((s, dir) => {
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs("dup", "slow"))
        .filter(col("tf_dup") > 0)
        .withColumn("demoted", col("tf_slow") > 0)
        .withColumn("score", round(
          textBm25("dup") *
            when(col("demoted"), lit(0.5)).otherwise(lit(1.0)), 6))
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("demoted"), col("score"))
        .limit(10)
    }),

    // ES `terms_set` query: match documents containing at least M of
    // the given terms, M from `minimum_should_match_script` — here the
    // canonical `params.num_terms - 1` form (any 3 of 4). Distinct
    // membership (ES terms_set counts matched TERMS, not occurrences).
    // Pure per-row set arithmetic against a literal array: scan speed,
    // no stats pass, no shuffle beyond the presentation sort.
    "search_terms_set" -> ((s, dir) => {
      val termsSet = Seq("spark", "query", "join", "window")
      val matched = array_intersect(
        array_distinct(tokens(col("text"))),
        array(termsSet.map(lit): _*))
      Tables(s, dir, "documents")
        .withColumn("n_matched", size(matched))
        .filter(col("n_matched") >= termsSet.size - 1)
        .select(col("doc_id"), col("n_matched"),
          array_join(array_sort(matched), ",").as("matched_terms"))
        .orderBy(col("doc_id"))
    }),

    // ES `matrix_stats` aggregation: the multi-field numeric moment
    // matrix (count, mean, variance, covariance, correlation) per
    // bucket — here over (n_chars, n_tokens) grouped by lang. Same
    // determinism discipline as rel_stat_agg: EXACT decimal sums
    // (n, Σx, Σy, Σx², Σy², Σxy) in the one distributed pass, then
    // the float formulas applied once per GROUP on the driver-sized
    // result — order-independent, so it hash-compares, where native
    // float var_samp/corr merge trees don't. One map-side-combined
    // shuffle of 6 decimals per (lang) key at any scale.
    "search_matrix_stats" -> ((s, dir) => {
      val x = col("n_chars").cast(DecimalType(20, 0))
      val y = size(tokens(col("text"))).cast(DecimalType(20, 0))
      Tables(s, dir, "documents")
        .select(col("lang"), x.as("x"), y.as("y"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("lang"), col("n"),
          round(col("sx").cast(DoubleType) / col("n"), 6).as("mean_chars"),
          round(col("sy").cast(DoubleType) / col("n"), 6).as("mean_tokens"),
          round((col("sx2").cast(DoubleType) - col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n"))
            / (col("n") - 1), 6).as("var_chars"),
          round((col("sy2").cast(DoubleType) - col("sy").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))
            / (col("n") - 1), 6).as("var_tokens"),
          round((col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))
            / (col("n") - 1), 6).as("covar"),
          round((col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))
            / sqrt((col("sx2").cast(DoubleType) - col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n"))
              * (col("sy2").cast(DoubleType) - col("sy").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))), 6)
            .as("correlation"))
        .orderBy(col("lang"))
    }),

    // INDEX-SERVED Okapi BM25 — the same scoring as search_topk_bm25
    // but answered from the materialized inverted index instead of a
    // corpus scan: the query's terms prune the term-sorted postings
    // artifact (parquet min/max row-group skipping — the physical form
    // of an ES term lookup), per-term document frequencies are a 1-row
    // aggregate of the same per-doc tf frame inside the one scoring
    // query (no collect while the query is built; the postings are
    // scanned once), corpus scalars come from the index sidecar, and
    // the per-doc score is the IDENTICAL float expression — so this
    // query hash-matches the SCAN-based oracle: the driver's DuckDB
    // gate proves index-served == scan-computed. At 100 TB the cost is
    // the probed posting lists + a top-k, never the corpus — the ES
    // serving model, owned natively.
    "search_topk_bm25_indexed" -> ((s, dir) => {
      val (postings, nDocs, sumDl) = materializedPostings(s, dir)
      bm25FromPostings(postings, nDocs, sumDl, Seq("spark", "vector", "join"))
    }),

    // INDEX-SERVED phrase match — why the postings are POSITIONAL:
    // "the table" as consecutive tokens is answered by intersecting
    // two pruned posting lists (pushed In(term) — two tiny scans) and
    // checking position adjacency with an array overlap on
    // (positions_of_first + 1) ∩ positions_of_second; the corpus text
    // is never read. Token-adjacency semantics are also STRICTER than
    // the scan query's normalized-substring contains (no cross-word
    // artifacts like 'soothe tables'), so this gets its own
    // token-level oracle. Generalizes to k-word phrases by chaining
    // the same adjacency join k-1 times.
    "search_phrase_indexed" -> ((s, dir) => {
      val (postings, _, _) = materializedPostings(s, dir)
      val first = postings.filter(col("term") === "the")
        .select(col("doc_id"), col("positions").as("pa"))
      val second = postings.filter(col("term") === "table")
        .select(col("doc_id"), col("positions").as("pb"))
      first.join(second, "doc_id")
        .filter(arrays_overlap(transform(col("pa"), p => p + 1), col("pb")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Completion suggest (ES term/completion suggester): prefix →
    // top completions ranked by document frequency, served from the
    // postings index — df is just the posting-list length, the prefix
    // is a pushed StringStartsWith over the range-sorted term key
    // (row-group skipping), and the corpus is never scanned. The
    // autocomplete box is an index lookup, as it is in ES.
    "search_suggest" -> ((s, dir) => {
      val (postings, _, _) = materializedPostings(s, dir)
      postings.filter(col("term").startsWith("s"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term"))
        .limit(5)
    }),

    // Percolate (ES percolator — reverse search): stored alert queries
    // are DATA, and each incoming document reports which stored
    // queries it satisfies (terms_set semantics, all terms required).
    // The stored-query table broadcasts (4 rows here; at scale the
    // percolator itself becomes an inverted index over query terms and
    // this same join keys on term instead — the ES implementation);
    // matching is a per-row distinct-token intersect, scan-speed.
    "search_percolate" -> ((s, dir) => {
      import s.implicits._
      val stored = Seq(
        ("q_agg_window_group", Seq("agg", "window", "group")),
        ("q_slow_scan", Seq("slow", "scan")),
        ("q_spark_join", Seq("spark", "join")),
        ("q_vector", Seq("vector")))
      val queriesDf = broadcast(stored.toDF("query_id", "req_terms"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
        .crossJoin(queriesDf)
        .filter(size(array_intersect(col("toks"), col("req_terms")))
          === size(col("req_terms")))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_matched"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("query_id"))
    }),

    // HYBRID retrieval — the modern ES capability (lexical BM25 +
    // vector similarity fused by Reciprocal Rank Fusion, Cormack et
    // al. SIGIR'09; ES exposes it as `rrf`): rank the corpus by the
    // INDEX-SERVED BM25 arm and by embedding cosine (vec_id == doc_id
    // in the fixture — document embeddings), then fuse with
    // 1/(60+rank). Each arm is already a top-k (k rows, corpus-scale
    // independent), so the fusion join/window touch k+k rows — the
    // rank windows are single-partition by construction but over ≤10
    // rows. RRF is rank-only (no score normalization across
    // incomparable scales), which also keeps it oracle-exact: ranks
    // are integers, the fused score is two literal divisions in fixed
    // order. At 100 TB the vector arm swaps to the IVFADC index; here
    // the exact arm keeps the DuckDB twin hash-exact.
    "search_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 60
      val lex = queries("search_topk_bm25_indexed")(s, dir)
        .withColumn("r_lex", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
        .select(col("doc_id"), col("r_lex"))
      val vec = graft.llm.SimilarityQueries.queries("llm_cosine_topk")(s, dir)
        .withColumn("r_vec", row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast(LongType))
        .select(col("vec_id").as("doc_id"), col("r_vec"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(K) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(K) + col("r_vec")), lit(0.0)), 9))
        .select(col("doc_id"), col("r_lex"), col("r_vec"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }),

    // The full query-string syntax the reference's search box accepts
    // (its `q=` goes to ES's query-string parser, indexView.html:13-20):
    // field scoping, AND/OR/NOT with Lucene precedence, quoted phrases,
    // trailing-* prefixes — parsed by [[QueryString]] and compiled onto
    // the same tokenized/phrase/prefix primitives the queries above
    // verify individually. One scan + one codegen'd predicate.
    "search_query_string" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.filter(QueryString(d, "lang:en AND (spark OR vector*) NOT \"the lazy dog\""))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Lucene `/regexp/` literals in the query-string grammar — the
    // `field:/re/` syntax ES's query_string parser accepts from the
    // reference's search box (the standalone `regexp` query's
    // search-box spelling). Implicitly anchored per Lucene (the token
    // must match the WHOLE pattern); composes with the boolean grammar
    // like any atom. Same scan + codegen'd predicate plan as every
    // query_string query — the regexp costs one RLIKE per token.
    "search_query_string_regexp" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      d.filter(QueryString(d, "text:/s(can|ort|low|tream)/ AND lang:en NOT text:batch"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
        .limit(20)
    }),

    // Boosted query-string scoring — the `term^boost` / `field:term^2`
    // syntax of ES's query_string grammar (the relevance-tuning knob a
    // user of the reference's `q=` box reaches for first): the parsed
    // boosts become per-term WEIGHTS on the same Okapi BM25 parts as
    // search_topk_bm25 (weight × part, summed in query order — one
    // literal multiplication per term, float-discipline identical in
    // the DuckDB twin). Same scan + one-broadcast-stats shape; boosts
    // change no plan, only the scoring expression.
    "search_query_string_boosted" -> ((s, dir) => {
      val node = QueryString.parse("text:spark^2 OR text:vector^0.5 OR text:join")
      // Each parsed (field, term, weight) routes tf, document length,
      // and df to ITS OWN field (an unfielded term defaults to text),
      // so per-field BM25 stays correct if the query string gains a
      // lang:/source: clause — the field component of boostedTerms is
      // never discarded.
      val terms = QueryString.boostedTerms(node)
        .map { case (f, t, w) => (f.getOrElse("text"), t, w) }
      val fields = terms.map(_._1).distinct
      // Reported length column = the FIRST term's field, not a
      // hardcoded text: a query string fielded entirely to lang:/
      // source: must not reference a never-computed text-length
      // column.
      val primaryField = terms.head._1
      withCorpusStats(Tables(s, dir, "documents"),
          fields.map(f => s"n_toks_$f" -> size(tokens(col(f)))),
          terms.map { case (f, t, _) => s"tf_${f}_$t" -> tfOf(f, t) })
        .withColumn("score", round(
          terms.map { case (f, t, w) =>
            lit(w) * bm25Part(col(s"tf_${f}_$t"), col(s"df_${f}_$t"),
              col(s"n_toks_$f"), col("n_docs"), col(s"sum_dl_$f")) }
            .reduce(_ + _), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col(s"n_toks_$primaryField").as("n_tokens"), col("score"))
        .limit(10)
    }),

    // ES multi_match type=best_fields — the dis_max combiner (ES docs:
    // best_fields "runs a match query on each field and wraps them in
    // a dis_max"): every query term is analyzed against EVERY field,
    // each field scored independently with the same Okapi arithmetic
    // on its OWN statistics (source is a one-token keyword field, so
    // its length norm and df differ completely from text's), and the
    // document's score is the best field's score plus tie_breaker ×
    // the sum of the other fields' scores. The query "spark src3"
    // finds term matches in different fields per doc — exactly the
    // case dis_max exists for (take the strongest field, don't let
    // weak-field noise accumulate as bool-should would). Plan shape is
    // the one scan + 1-row stats broadcast + TakeOrderedAndProject of
    // every other scorer here; extra fields add codegen'd columns,
    // never passes.
    // multi_match `cross_fields` — the other multi-field mode next to
    // dis_max's best_fields: treat the field GROUP as one big field
    // (ES's own description of the mode). Per term: tf = Σ over
    // fields, document length = Σ of field lengths, df = docs where
    // the term appears in ANY field — the blended statistics that fix
    // best_fields' failure on entity data split across fields
    // ("first_name: will, last_name: smith"). Same scan +
    // 1-row-stats-broadcast + top-k plan as every BM25 variant.
    "search_cross_fields" -> ((s, dir) => {
      val fields = Seq("text", "source")
      val qTerms = Seq("spark", "src3")
      withCorpusStats(Tables(s, dir, "documents"),
          Seq("n_toks_all" -> fields.map(f => size(tokens(col(f)))).reduce(_ + _)),
          qTerms.map(t => s"tf_$t" -> fields.map(f => tfOf(f, t)).reduce(_ + _)))
        .withColumn("score", round(
          qTerms.map(t => bm25Part(col(s"tf_$t"), col(s"df_$t"),
            col("n_toks_all"), col("n_docs"), col("sum_dl"))).reduce(_ + _), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("score"))
        .limit(10)
    }),

    "search_dis_max" -> ((s, dir) => {
      val fields = Seq("text", "source")
      val qTerms = Seq("spark", "src3")
      val tieBreaker = 0.3
      def fieldScore(f: String): Column =
        qTerms.map(t => bm25Part(col(s"tf_${f}_$t"), col(s"df_${f}_$t"),
          col(s"n_toks_$f"), col("n_docs"), col(s"sum_dl_$f")))
          .reduce(_ + _)
      withCorpusStats(Tables(s, dir, "documents"),
          fields.map(f => s"n_toks_$f" -> size(tokens(col(f)))),
          fields.flatMap(f => qTerms.map(t => s"tf_${f}_$t" -> tfOf(f, t))))
        .withColumn("s_text", fieldScore("text"))
        .withColumn("s_source", fieldScore("source"))
        .withColumn("best", greatest(col("s_text"), col("s_source")))
        .withColumn("score", round(
          col("best") + lit(tieBreaker) *
            (col("s_text") + col("s_source") - col("best")), 6))
        .withColumn("best_field",
          when(col("s_text") >= col("s_source"), lit("text"))
            .otherwise(lit("source")))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("best_field"), col("score"))
        .limit(10)
    }),

    // ES function_score with boost_mode=multiply — the score-shaping
    // wrapper around a relevance query: base _score is the one-term
    // BM25 of the match, multiplied by field_value_factor(field=
    // n_chars, modifier=log1p, factor=0.01) — a document-length boost
    // sublinear in length, the classic popularity/size signal — and a
    // constant weight of 1.2. The functions are per-row codegen'd
    // arithmetic on columns the scan already reads, so score shaping
    // is FREE at any scale: same one scan + 1-row stats broadcast +
    // top-k plan as the unshaped query. (ES decay functions slot in
    // the same way — another per-row factor.)
    "search_function_score" -> ((s, dir) => {
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs("spark"))
        .withColumn("score", round(
          textBm25("spark") *
            log(lit(1.0) + lit(0.01) * col("n_chars")) * lit(1.2), 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_chars"), col("score"))
        .limit(10)
    }),

    // Decay-function scoring — ES function_score's `gauss` decay, the
    // most-set function_score knob in practice (boost recent docs /
    // docs near a target value while keeping text relevance): score =
    // BM25 × exp(ln(½)·d²/scale²) with d = max(0, |field−origin|−
    // offset), i.e. the score halves at distance `scale` past the
    // no-penalty offset — ES's exact gauss formula, here decaying on
    // document LENGTH (origin 1000, offset 100, scale 500: prefer
    // medium-length hits; a date field decays identically once the
    // value is epoch-scaled). ln(½) is a hardcoded literal in BOTH
    // engines so neither evaluates its own ln; the multiplicative
    // composition and rounded-6 compare follow search_function_score.
    // Same plan shape: scan + 1-row stats broadcast + top-k.
    "search_decay_scoring" -> ((s, dir) => {
      val dist = greatest(lit(0.0),
        abs(col("n_chars").cast(DoubleType) - lit(1000.0)) - lit(100.0))
      val gauss = exp(lit(-0.6931471805599453) * dist * dist / lit(250000.0))
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs("spark"))
        .withColumn("decay", round(gauss, 6))
        .withColumn("score", round(textBm25("spark") * gauss, 6))
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("n_chars"), col("decay"), col("score"))
        .limit(10)
    }),

    // Multi-index fan-out — the UI's literal "all index" option
    // (`indexView.html:15-17`): the same keyword searched across every
    // index, results tagged with their index. Each branch is an
    // independent pruned scan + codegen'd filter; the union is
    // plan-level (no shuffle), so the cost is the sum of the per-index
    // scans — exactly what ES does for a multi-index URI search.
    "search_all_indexes" -> ((s, dir) => {
      val kw = "0000000"
      val indexes = Seq(
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("nation", "n_nationkey"), ("region", "r_regionkey"))
      indexes.map { case (t, key) =>
        val df = Tables(s, dir, t)
        df.filter(anyFieldContains(df, kw))
          .select(lit(t).as("index_name"), col(key).cast(LongType).as("doc_key"))
      }.reduce(_.unionByName(_))
        .orderBy(col("index_name"), col("doc_key"))
    }),

    // Facet aggregations over a query's hit set — ES `terms` bucket
    // aggregation with a `stats` sub-aggregation (the sidebar counts a
    // search UI renders next to results). One scan evaluates the hit
    // predicate, then one partial+final hash agg; buckets ordered by
    // doc count descending like ES. The avg is a single double
    // division on aggregated integers (never a float accumulation),
    // rounded to 9 decimals on BOTH sides per the repo's
    // float-discipline for hash-compared queries.
    "search_facets" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "spark"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("doc_count"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("avg_chars",
          round(col("sum_chars").cast(DoubleType) / col("doc_count").cast(DoubleType), 9))
        .orderBy(col("doc_count").desc, col("lang"))
    }),

    // ES `cardinality` sub-aggregation inside a terms facet — the
    // approx-distinct count a search UI shows per bucket ("1.2k unique
    // sources"). Served by the ENGINE-OWNED `hll_est` aggregate
    // ([[graft.functions.HllEstAgg]]) at m=4096 registers instead of
    // Spark's approx_count_distinct: identical scale shape (a
    // mergeable 4 KB-per-bucket sketch through the partial+final agg,
    // where exact distinct would shuffle every (bucket, value) pair)
    // but DETERMINISTIC md5-derived registers and an integer
    // estimator, so the result hash-checks against a DuckDB twin —
    // the sketch itself is oracle-verified, not just drift-bounded.
    // Two cardinalities per bucket: distinct contents
    // (high-cardinality) and distinct sources (low-cardinality — the
    // linear-counting small range, exact-ish by construction).
    //
    // ACCURACY BUDGET: expected relative error ~1.04/√m, all
    // corpus-size-independent (the knob is the register count, ES
    // `precision_threshold`'s role):
    //   m=1024 → ~3.3% / 1 KB per bucket
    //   m=4096 → ~1.6% / 4 KB  (this operator's setting)
    //   m=16384 → ~0.8% / 16 KB
    // Measured drift vs exact stays ≤5% (LlmSpec). A user needing
    // exact distincts pays the (bucket, value) shuffle instead — that
    // is `rel_distinct_agg`'s plan, not a facet knob.
    "search_facets_cardinality" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "spark"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("doc_count"),
          call_function("hll_est", col("text"), lit(4096))
            .as("approx_unique_contents"),
          call_function("hll_est", col("source"), lit(4096))
            .as("approx_unique_sources"))
        .orderBy(col("doc_count").desc, col("lang"))
    }),

    // ES `_msearch` — a BATCH of stored queries answered from ONE
    // corpus scan (shared-scan multi-query execution): the per-doc
    // term frequencies for the union of all queries' terms are
    // computed once, each query's (match, score) is a struct in a
    // per-row literal array, and one explode + per-query-partitioned
    // top-k (WindowGroupLimit partial per group) fans the single scan
    // into N ranked result lists. At 100 TB this is the serving
    // amortization lever: N queries cost one scan + O(N·k) shuffle,
    // not N scans. Integer tf scoring → hash-exact oracle.
    "search_msearch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def tf(t: String): Column = tfOf("text", t)
      val scored = Tables(s, dir, "documents")
        .withColumn("tf_spark", tf("spark")).withColumn("tf_join", tf("join"))
        .withColumn("tf_vector", tf("vector")).withColumn("tf_window", tf("window"))
        .withColumn("tf_data", tf("data")).withColumn("tf_slow", tf("slow"))
      val batch = array(
        struct(lit("m1_spark_and_join").as("query_id"),
          (col("tf_spark") > 0 && col("tf_join") > 0).as("matched"),
          (col("tf_spark") + col("tf_join")).as("score")),
        struct(lit("m2_vector_or_window").as("query_id"),
          (col("tf_vector") > 0 || col("tf_window") > 0).as("matched"),
          (col("tf_vector") + col("tf_window")).as("score")),
        struct(lit("m3_data_not_slow").as("query_id"),
          (col("tf_data") > 0 && col("tf_slow") === 0).as("matched"),
          col("tf_data").as("score")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      scored.select(col("doc_id"), explode(batch).as("q"))
        .filter(col("q.matched"))
        .select(col("q.query_id").as("query_id"), col("doc_id"),
          col("q.score").as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
        .orderBy(col("query_id"), col("rk"))
    }),

    // Percentiles facet (the ES `percentiles` sub-aggregation — the
    // latency-dashboard staple): p50/p90/p99 of a numeric field per
    // terms bucket, served from the ENGINE-OWNED HdrHistogram-style
    // sketch (the rel_hdr_quantiles machinery, per-bucket): log-scale
    // buckets with SIX significand bits (shift = max(bitlen−1−6, 0)),
    // so each reported percentile is the exact LOWER BOUND of a
    // bucket whose width is ≤ 1/64 of its value — values below 128
    // are their own bucket (exact), larger values carry ≤1.6%
    // guaranteed relative error. Everything is integer arithmetic →
    // the result hash-checks against a DuckDB twin (Spark's
    // approx_percentile GK sketch, which this replaces, is
    // engine-internal and cannot).
    //
    // Scale shape: the sketch is a (lang, bucket-lb) groupBy — a few
    // hundred buckets per lang regardless of corpus size, merged by
    // plain sum through the partial+final agg; quantile selection is
    // the exact integer cross-multiply 100·cum ≥ N·q over a window on
    // the BOUNDED bucket table (cheap by construction — per-lang
    // partitions of ≤ ~64·33 rows). The accuracy knob is the
    // significand-bit count: b bits → ≤2^−b relative error at
    // ≤ 2^b·64 buckets. Exact order statistics remain available at
    // sort cost via `rel_percentiles`.
    "search_facets_percentiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hits = Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "spark"))
        .select(col("lang"), col("n_chars").cast(LongType).as("v"))
      val sketch = hits
        .withColumn("shift", greatest(length(bin(col("v"))) - 7, lit(0)))
        .withColumn("lb", expr("shiftleft(shiftright(v, shift), shift)"))
        .groupBy(col("lang"), col("lb")).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("lb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("lang"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = sketch
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
      def pick(q: Int) = min(when(col("cum") * 100 >= col("n") * q, col("lb")))
      cum.groupBy(col("lang"))
        .agg(max(col("n")).as("doc_count"),
          pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
        .orderBy(col("doc_count").desc, col("lang"))
    }),

    // ES `percentile_ranks` agg — the INVERSE of percentiles: "what
    // fraction of the bucket sits at or below value v" for fixed
    // values of interest (the SLA-threshold readout: % of docs under
    // the size cap). Unlike the percentiles facet (sketch-based,
    // drift-bounded) this direction is EXACT at scan cost: each rank
    // is one conditional count and one integer division (ppm), no
    // sketch and no sort — so it hash-checks, and at 100 TB it is one
    // partial+final agg like every other facet.
    "search_facets_percentile_ranks" -> ((s, dir) => {
      def rankPpm(v: Int): Column =
        expr(s"(count_if(n_chars <= $v) * 1000000) DIV count(*)")
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "data"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("doc_count"),
          rankPpm(100).as("rank_100_ppm"),
          rankPpm(250).as("rank_250_ppm"),
          rankPpm(400).as("rank_400_ppm"))
        .orderBy(col("lang"))
    }),

    // Date-histogram facet (ES date_histogram bucket agg — its
    // most-used bucket aggregation after `terms`): the hit set bucketed
    // by calendar day with a stats sub-agg. Same one-scan partial+final
    // hash-agg shape as search_facets; `date_trunc` IS the
    // calendar_interval — at 100 TB the bucket count is bounded by the
    // time span, never the corpus. The value sum goes through
    // DECIMAL(18,6) (exact accumulation, order-independent) and casts
    // to double only at the end, per the repo's float discipline.
    "search_facets_date_histogram" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .orderBy(col("day"))
    }),

    // Numeric-range facet (ES `range` bucket agg): fixed bucket edges
    // over a numeric field of the hit set — the "price/size bands"
    // sidebar. The bucket label is a per-row CASE (codegen'd, no
    // lookup join); one partial+final agg like every facet. Buckets
    // with no hits are simply absent, matching ES.
    "search_facets_range" -> ((s, dir) => {
      val bucket = when(col("n_chars") < 100, "0-99")
        .when(col("n_chars") < 250, "100-249")
        .when(col("n_chars") < 400, "250-399")
        .otherwise("400+")
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "data"))
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("doc_count"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    }),

    // ES `histogram` aggregation — fixed-interval numeric buckets
    // (interval=50 on n_chars), the length-distribution panel. The
    // bucket key is arithmetic (floor-div × interval) — codegen'd, no
    // CASE ladder, unbounded bucket space handled by the same
    // partial+final agg as any groupBy; empty buckets absent (ES
    // min_doc_count=1 semantics, so no driver-side densify).
    "search_facets_histogram" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "data"))
        .groupBy((expr("n_chars DIV 50") * 50).as("bucket"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .orderBy(col("bucket"))),

    // ES `filters` aggregation + `global`/`missing` semantics — N named
    // predicate buckets counted in ONE scan via conditional aggregation
    // (count_if per bucket), not N scans: the named-segments dashboard
    // row. At 100 TB this is the difference between one pass and one
    // pass per segment; buckets may overlap (a doc can match several),
    // which a groupBy-CASE cannot express. `everything` is the ES
    // `global` bucket (ignores nothing here — hit-set = corpus);
    // `other` is the unmatched remainder (ES other_bucket=true).
    "search_facets_filters" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val isShort = col("n_chars") < 150
      val isEn = col("lang") === "en"
      val hasData = array_contains(tokens(col("text")), "data")
      docs.agg(
        count(lit(1)).as("everything"),
        count_if(isShort).as("short_docs"),
        count_if(isEn).as("english"),
        count_if(hasData).as("mentions_data"),
        count_if(!(isShort || isEn || hasData)).as("other"))
    }),

    // ES `collapse` — field collapsing: the ranked hit list with AT
    // MOST ONE hit per value of a field (here `lang`), the
    // one-result-per-domain/site dedup every search UI applies. Same
    // scan + one-broadcast-stats BM25 as `search_topk_bm25`, then a
    // per-group rank-1 via row_number — Spark plans it as
    // WindowGroupLimit, a PARTIAL per-group top-1 before the shuffle,
    // so the exchange carries one row per (partition, group), never the
    // full hit list. Group count bounds the output, corpus size doesn't.
    "search_collapse_field" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("spark", "vector", "join")
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs(terms: _*))
        .withColumn("score", round(textBm25(terms: _*), 6))
        .filter(col("score") > 0)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ES PIPELINE aggregations — `cumulative_sum`, `derivative`, and
    // `moving_fn(sum)` chained onto a date_histogram: the trend panel
    // (running total, day-over-day delta, trailing-3-day volume).
    // Pipeline aggs are second-stage arithmetic over the BUCKET frame,
    // not the corpus: the scan+agg produces B rows (bounded by the time
    // span), then one window pass over those B rows — the single
    // partition WindowExec here holds ~days-of-history rows at ANY
    // corpus size, which is why ES computes these on the coordinating
    // node. All outputs are integer counts — exact.
    "search_pipeline_aggs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val buckets = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
      val w = Window.orderBy(col("day"))
      buckets
        .withColumn("cum_count",
          sum(col("doc_count")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("deriv", col("doc_count") - lag(col("doc_count"), 1).over(w))
        .withColumn("moving3_sum",
          sum(col("doc_count")).over(w.rowsBetween(-2, Window.currentRow)))
        .orderBy(col("day"))
    }),

    // ES `top_metrics` aggregation per terms bucket — the metric value
    // AT the top of a sort (here: each event type's `value` at its
    // latest event, (ts, event_id) ordering so ties are deterministic).
    // Unlike top_hits this returns just the sort key + metric, and the
    // plan is the per-bucket top-1 window with the rank filter directly
    // on row_number → WindowGroupLimit forwards ONE row per bucket per
    // partition before the exchange; at 100 TB the shuffle carries
    // O(buckets × partitions) rows, never the corpus.
    "search_facets_top_metrics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("ts").as("top_ts"),
          col("event_id").as("top_event_id"),
          round(col("value"), 6).as("top_value"))
        .orderBy(col("event_type"))
    }),

    // ES `rate` aggregation inside a date_histogram — bucket counts
    // normalized to a smaller calendar unit (purchases per DAY within
    // monthly buckets), the seasonality-comparable form dashboards
    // plot. The divisor is each bucket's own calendar length
    // (dayofmonth(last_day(month)) — 28/30/31), so the rate is exact
    // integer ppm: count·10⁶ DIV days. One partial+final agg, bucket
    // count bounded by the time span.
    "search_facets_rate" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("month", col("ts")).as("month"))
        .agg(count(lit(1)).as("doc_count"))
        .withColumn("days_in_month",
          dayofmonth(last_day(col("month"))).cast(LongType))
        .withColumn("rate_per_day_ppm",
          expr("(doc_count * 1000000) DIV days_in_month"))
        .orderBy(col("month"))
    }),

    // ES `stats_bucket` sibling pipeline aggregation — the 5-stat
    // panel (count/min/max/sum/avg) computed OVER the buckets of a
    // date histogram rather than over documents: the one-row summary
    // ES puts next to the histogram. Two stacked aggregations, the
    // second over a bucket list bounded by the time span (metadata-
    // sized); avg is exact integer micro-units like extended_stats.
    "search_pipeline_stats_bucket" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("doc_count"))
        .agg(count(lit(1)).as("n_buckets"),
          min(col("doc_count")).as("min_bucket"),
          max(col("doc_count")).as("max_bucket"),
          sum(col("doc_count")).cast(LongType).as("sum_buckets"))
        .withColumn("avg_bucket_x1e6",
          expr("(sum_buckets * 1000000) DIV n_buckets"))
    }),

    // ES `adjacency_matrix` aggregation — for N named filters, the hit
    // count of every filter AND every pairwise intersection, in ONE
    // conditional-aggregation scan (the co-occurrence heatmap behind
    // segment-overlap dashboards). Same one-pass count_if discipline as
    // `search_facets_filters`; the output is N + N·(N−1)/2 counters —
    // O(N²) state per partition, independent of corpus size.
    "search_adjacency_matrix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val isShort = col("n_chars") < 150
      val isEn = col("lang") === "en"
      val hasData = array_contains(tokens(col("text")), "data")
      docs.agg(
        count_if(isShort).as("short_docs"),
        count_if(isEn).as("english"),
        count_if(hasData).as("mentions_data"),
        count_if(isShort && isEn).as("short_docs_x_english"),
        count_if(isShort && hasData).as("short_docs_x_mentions_data"),
        count_if(isEn && hasData).as("english_x_mentions_data"))
    }),

    // ES `rare_terms` aggregation — the LONG-TAIL counterpart of
    // `terms`/`significant_terms`: buckets whose document frequency is
    // AT MOST max_doc_count (here 2), the "what almost never appears"
    // audit. Over word-3-shingles (the word field's vocabulary in this
    // fixture is too small to have a tail). terms ordered ascending by
    // df then key, exactly ES's rare-first presentation. One explode +
    // one agg — the same linear shuffle as the terms facet; ES needs a
    // CuckooFilter approximation for this, a distributed engine just
    // aggregates exactly.
    "search_rare_terms" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val t = tokens(col("text"))
      val sh = when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(array().cast(ArrayType(StringType)))
      docs.select(col("doc_id"), explode(array_distinct(sh)).as("shingle"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("doc_count"))
        .filter(col("doc_count") <= 2)
        .orderBy(col("doc_count"), col("shingle"))
    }),

    // ES composite aggregation — the keyset-paginated bucket iterator
    // (the ONLY ES agg designed to export ALL buckets of a large
    // cardinality space): buckets ordered by their composite key
    // (lang, source), resumed strictly AFTER the previous page's last
    // key, page size 5. Same scale argument as search_page_after but
    // for aggregations: every page is the same groupBy + keyset
    // predicate + TakeOrderedAndProject plan, cost independent of the
    // page number — OFFSET over a 10⁹-bucket space would re-aggregate
    // and skip the whole prefix; composite never does.
    "search_facets_composite" -> ((s, dir) => {
      val (afterLang, afterSource) = ("de", "src12") // previous page's last bucket
      Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .filter(col("lang") > afterLang ||
          (col("lang") === afterLang && col("source") > afterSource))
        .orderBy(col("lang"), col("source"))
        .limit(5)
    }),

    // Top-hits sub-aggregation (ES `top_hits` inside a `terms` bucket):
    // the "best N documents per facet bucket" a search UI shows when a
    // facet expands. Rank within each bucket = term frequency of the
    // query word (integer — exact), tie-broken by doc_id; the filter
    // sits DIRECTLY on the row_number so Spark's WindowGroupLimit
    // pushdown keeps only k rows per bucket per partition before the
    // window shuffle — per-bucket top-k, never a global sort. At
    // 100 TB the shuffle carries k rows per (bucket, partition), not
    // the hit set.
    "search_facets_top_hits" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("tf").desc, col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("tf", tfOf("text", "merge"))
        .filter(col("tf") > 0)
        .withColumn("hit_rank", row_number().over(w))
        .filter(col("hit_rank") <= 2)
        .select(col("source"), col("hit_rank"), col("doc_id"), col("tf"))
        .orderBy(col("source"), col("hit_rank"))
    }),

    // Nested bucket aggregation (ES `terms` inside `terms` — the
    // two-level drill-down sidebar): the hit set bucketed by source,
    // each source bucket sub-bucketed by lang, children carrying their
    // parent's total so the UI can render "source (N) > lang (n)".
    // ONE partial+final hash agg on the composite key; the parent
    // total is a window sum over the AGGREGATED frame (bucket-count
    // rows, corpus-independent — the window is cheap because it runs
    // after the reduction, the same order ES computes sub-aggs).
    "search_facets_nested" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "filter"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("source_doc_count",
          sum(col("doc_count")).over(Window.partitionBy(col("source"))))
        .orderBy(col("source_doc_count").desc, col("source"),
          col("doc_count").desc, col("lang"))
    }),

    // Two-phase rescoring (ES `rescore`): a CHEAP first-pass ranking
    // (raw tf of the primary term — one integer per row, no stats
    // needed) selects a candidate window of 50 via
    // TakeOrderedAndProject, and only those 50 rows get the full
    // multi-term Okapi BM25 treatment (index-wide df/corpus stats,
    // like ES rescore which uses index statistics). This is THE
    // serving-cost lever at 100 TB: the expensive scorer runs on a
    // constant-size window, the corpus pays only a scan + top-k merge
    // of the cheap integer score. Same literal BM25 arithmetic and
    // 6-decimal rounding as search_topk_bm25, so the DuckDB twin is
    // hash-exact.
    "search_rescore" -> ((s, dir) => {
      def window50(d: DataFrame): DataFrame = d.filter(col("tf_table") > 0)
        .orderBy(col("tf_table").desc, col("doc_id"))
        .limit(50)
      withCorpusStats(Tables(s, dir, "documents"), textLen,
          textTfs("table", "scan"), window50)
        .withColumn("score", round(textBm25("table", "scan"), 6))
        .orderBy(col("score").desc, col("doc_id"))
        .select(col("doc_id"), col("tf_table"), col("score"))
        .limit(10)
    }),

    // Significant terms (ES significant_terms): words OVERREPRESENTED
    // in the hit set vs the whole corpus — "what is this result set
    // about". Foreground = docs matching 'vector'; the JLH score
    // (fg% − bg%)·(fg% / bg%) is computed on one aggregated row per
    // term — per-row double math, never a cross-row float sum. Shape:
    // one exploded distinct-token projection aggregates to a
    // term-cardinality table (corpus-independent size at 100 TB), the
    // two scalar totals broadcast.
    "search_significant_terms" -> ((s, dir) => {
      val toksCol = tokens(col("text"))
      val base = Tables(s, dir, "documents")
        .withColumn("is_fg", array_contains(toksCol, "vector"))
        .select(col("doc_id"), col("is_fg"),
          explode(array_distinct(toksCol)).as("term"))
      val totals = base.select(col("doc_id"), col("is_fg")).distinct()
        .agg(sum(when(col("is_fg"), 1L).otherwise(0L)).cast(DoubleType).as("fg_total"),
          count(lit(1)).cast(DoubleType).as("bg_total"))
      val perTerm = base.groupBy(col("term"))
        .agg(sum(when(col("is_fg"), 1L).otherwise(0L)).as("fg_docs"),
          count(lit(1)).as("bg_docs"))
        .filter(col("fg_docs") >= 3)
      perTerm.crossJoin(broadcast(totals))
        .withColumn("fg_rate", col("fg_docs").cast(DoubleType) / col("fg_total"))
        .withColumn("bg_rate", col("bg_docs").cast(DoubleType) / col("bg_total"))
        .withColumn("jlh_raw",
          (col("fg_rate") - col("bg_rate")) * (col("fg_rate") / col("bg_rate")))
        .filter(col("jlh_raw") > 0) // pre-round, mirroring the oracle
        .withColumn("jlh", round(col("jlh_raw"), 9))
        .select(col("term"), col("fg_docs"), col("bg_docs"), col("jlh"))
        .orderBy(col("jlh").desc, col("term"))
        .limit(15)
    }),

    // More-like-this (ES more_like_this): rank the corpus by
    // similarity to a SOURCE DOCUMENT — shared-term overlap weighted
    // by rarity. Weight = ⌊10⁴/df⌋: the integer quantization of 1/df
    // keeps every product and the cross-term sum in exact integer
    // arithmetic (a float Σ over a variable term set is
    // order-dependent and would never hash-compare). Shape: the
    // (doc, term, tf) postings build once; the source doc's weighted
    // terms broadcast against them — an inverted-index probe, linear
    // in corpus size like llm_decontaminate, never doc×doc.
    "search_more_like_this" -> ((s, dir) => {
      val srcId = 7L
      val postings = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // The postings frame feeds docfreq, the source terms, and the
      // probe scan, and is RECOMPUTED per consumer: it is corpus-
      // content-sized (every distinct term of every doc), so a
      // replication-1 localCheckpoint at 100 TB is unreplicated
      // executor disk at corpus scale with no recompute path on
      // executor loss. Re-running the scan+agg is the scale-safe
      // trade; the serving path for repeated MLT queries is the
      // materialized postings artifact (search_topk_bm25_indexed),
      // not an in-query cache.
      val docfreq = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("docfreq"))
      val src = postings.filter(col("doc_id") === srcId)
        .select(col("term"), col("tf").as("src_tf"))
      val probe = broadcast(src.join(docfreq, "term")
        .withColumn("wt", floor(lit(10000) / col("docfreq"))))
      postings.filter(col("doc_id") =!= srcId)
        .join(probe, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("src_tf") * col("wt")).as("mlt_score"))
        .orderBy(col("mlt_score").desc, col("doc_id"))
        .limit(10)
    }),

    // ES `span_near` (in_order:true) — the ordered multi-clause
    // proximity query, served from the POSITIONAL index: three term
    // clauses must appear in order with ≤3 positions between
    // consecutive clauses. Each clause is one pruned posting-list
    // probe (pushed In(term) — the same row-group skip as the phrase
    // query); the order+gap check is a per-doc HOF chain over the
    // three position arrays, so cost is the probed lists, never the
    // corpus. Distinct from search_phrase_indexed (strict adjacency,
    // 2 clauses) and search_phrase_slop (scan-based, unordered pair):
    // this is the k-clause ordered-window primitive ES spans provide.
    "search_span_near" -> ((s, dir) => {
      val (postings, _, _) = materializedPostings(s, dir)
      def posOf(t: String, out: String) =
        postings.filter(col("term") === t)
          .select(col("doc_id").as(s"d_$out"), col("positions").as(out))
      val chains = posOf("group", "pa")
        .join(posOf("order", "pb"), col("d_pa") === col("d_pb"))
        .join(posOf("join", "pc"), col("d_pa") === col("d_pc"))
        .withColumn("spans", flatten(transform(col("pa"), p1 =>
          flatten(transform(
            filter(col("pb"), p2 => p2 > p1 && p2 - p1 <= lit(3)), p2 =>
              transform(
                filter(col("pc"), p3 => p3 > p2 && p3 - p2 <= lit(3)),
                p3 => struct(p1.as("p1"), p3.as("p3"))))))))
        .filter(size(col("spans")) > 0)
      chains.select(col("d_pa").as("doc_id"),
          size(col("spans")).as("n_spans"),
          array_min(transform(col("spans"), sp => sp.getField("p1")))
            .cast(LongType).as("first_start"),
          array_min(transform(col("spans"),
            sp => sp.getField("p3") - sp.getField("p1")))
            .cast(LongType).as("min_width"))
        .orderBy(col("doc_id"))
    }),

    // ES `_explain` — the per-term score breakdown for one (query,
    // doc) pair, the API users reach for when "why does this doc rank
    // here" comes up: each query term's tf, df, idf, and BM25
    // contribution as its own row, arithmetic IDENTICAL to the
    // ranking queries (same [[bm25Part]] pieces, so explain provably
    // describes the score the engine actually computed — ES makes the
    // same single-doc guarantee). Cost is one corpus-stats agg + one
    // doc lookup; the stats agg is the same bounded 1-row broadcast
    // the ranking query pays.
    "search_explain" -> ((s, dir) => {
      val terms = Seq("spark", "vector", "join")
      withCorpusStats(Tables(s, dir, "documents"), textLen, textTfs(terms: _*),
          _.filter(col("doc_id") === 7L))
        .select(col("doc_id"), col("n_tokens"), col("n_docs"), col("sum_dl"),
          explode(array(terms.map(t =>
            struct(lit(t).as("term"), col(s"tf_$t").as("tf"),
              col(s"df_$t").as("df"))): _*)).as("e"))
        .select(col("doc_id"), col("e.term").as("term"),
          col("e.tf").cast(LongType).as("tf"),
          col("e.df").cast(LongType).as("df"),
          col("n_tokens"),
          round(bm25Idf(col("e.df"), col("n_docs")), 6).as("idf"),
          round(bm25Part(col("e.tf"), col("e.df"), col("n_tokens"),
            col("n_docs"), col("sum_dl")), 6).as("contribution"))
        .orderBy(col("term"))
    }),

    // ES `intervals` query, `all_of { ordered: false, max_gaps: 3 }` —
    // the UNORDERED proximity complement of search_span_near: both
    // terms within 4 positions of each other in either order. Same
    // positional-index serving shape (two pruned posting probes + a
    // per-doc HOF over the position arrays); the unordered window is
    // |p1 − p2| ≤ 4 instead of the ordered chain. min_dist doubles as
    // the proximity score ES derives from interval width.
    "search_intervals_unordered" -> ((s, dir) => {
      val (postings, _, _) = materializedPostings(s, dir)
      def posOf(t: String, out: String) =
        postings.filter(col("term") === t)
          .select(col("doc_id").as(s"d_$out"), col("positions").as(out))
      posOf("sort", "pa").join(posOf("merge", "pb"),
          col("d_pa") === col("d_pb"))
        .withColumn("dists", flatten(transform(col("pa"), p1 =>
          transform(
            filter(col("pb"), p2 => abs(p2 - p1) <= lit(4)),
            p2 => abs(p2 - p1)))))
        .filter(size(col("dists")) > 0)
        .select(col("d_pa").as("doc_id"),
          size(col("dists")).as("n_windows"),
          array_min(col("dists")).cast(LongType).as("min_dist"))
        .orderBy(col("doc_id"))
    }),

    // ES `terms` query with TERMS LOOKUP — the filter set is not a
    // literal but the token set of another indexed document (ES
    // fetches the lookup doc, then runs the terms filter). The lookup
    // doc's distinct tokens are a bounded single-row collect (the
    // same driver-side shape as the ANN query vector), broadcast into
    // a per-row array intersection; hits rank by overlap. At 100 TB
    // the lookup is one doc fetch + one scan — the corpus side never
    // shuffles.
    "search_terms_lookup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val lookup: Seq[String] = docs.filter(col("doc_id") === 0L)
        .select(array_distinct(tokens(col("text"))))
        .head.getSeq[String](0)
      docs.filter(col("doc_id") =!= 0L)
        .select(col("doc_id"),
          size(array_intersect(array_distinct(tokens(col("text"))),
            typedlit(lookup))).as("overlap"))
        .orderBy(col("overlap").desc, col("doc_id"))
        .limit(20)
    }),

    // ES `multi_terms` bucket agg — compound-key terms buckets
    // ((lang, source) pairs) ranked by doc count: the two-dimension
    // breakdown panel `terms` can't express without a script. One
    // partial+final hash-agg on the compound key; top-10 via the same
    // bounded TakeOrdered every facet uses.
    "search_facets_multi_terms" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .filter(array_contains(tokens(col("text")), "data"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("doc_count"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .orderBy(col("doc_count").desc, col("lang"), col("source"))
        .limit(10)),

    // ES `weighted_avg` agg — Σ(value·weight)/Σ(weight) with the
    // weight taken from a DIFFERENT field (here the JSON prop `k`):
    // the revenue-per-engagement shape. Both sums accumulate in
    // DECIMAL (order-independent — a double Σ would never
    // hash-compare) and meet in ONE final division rounded to 6
    // places, per the repo's float discipline.
    "search_facets_weighted_avg" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6)) * k).as("num"),
          sum(k).cast(LongType).as("den"))
        .select(col("event_type"), col("n_events"),
          round(col("num").cast(DoubleType) / col("den").cast(DoubleType),
            6).as("weighted_avg"))
        .orderBy(col("event_type"))
    }),

    // ES `median_absolute_deviation` agg — the robust dispersion
    // measure (outlier-immune, unlike stddev): median(|x − median(x)|)
    // per terms bucket. Two exact sort-based percentile passes with a
    // broadcast of the per-bucket medians between them (one row per
    // bucket — bounded); interpolated middle-two halves are exact in
    // binary, so the oracle hash-matches despite the doubles. ES
    // computes this approximately (TDigest); exact is strictly
    // stronger and affordable because the agg is per-bucket sort, not
    // corpus sort.
    "search_facets_mad" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val med = docs.groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.5)).as("median_chars"),
          count(lit(1)).as("doc_count"))
      docs.join(broadcast(med), "lang")
        .groupBy(col("lang"), col("doc_count"), col("median_chars"))
        .agg(percentile(abs(col("n_chars") - col("median_chars")),
          lit(0.5)).as("mad_chars"))
        .select(col("lang"), col("doc_count"), col("median_chars"),
          col("mad_chars"))
        .orderBy(col("lang"))
    }),

    // ES `auto_date_histogram` — the histogram that picks its own
    // calendar interval: the coarsest-necessary rung of a fixed ladder
    // (hour → day → week → month) such that the hit set's time span
    // fits in ≤30 buckets. The span comes from a bounded 1-row min/max
    // agg (the driver-side shape of the ANN query vector); the chosen
    // interval is emitted as a column so the consumer knows what it
    // got (ES returns the same in `interval`). Bucketing itself is the
    // one-scan date_trunc agg of the fixed-interval histogram.
    "search_facets_auto_date_histogram" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
      val mm = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head
      val spanSec =
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 1000L
      val interval =
        if (spanSec <= 30L * 3600) "hour"
        else if (spanSec <= 30L * 86400) "day"
        else if (spanSec <= 30L * 604800) "week"
        else "month"
      ev.groupBy(date_trunc(interval, col("ts")).as("bucket"))
        .agg(count(lit(1)).as("doc_count"))
        .select(lit(interval).as("interval"), col("bucket"),
          col("doc_count"))
        .orderBy(col("bucket"))
    }),

    // ES `diversified_sampler` + sub-agg — bound the docs feeding an
    // expensive aggregation while capping any one source's share:
    // per-source top-5 by content hash (the dedup-key diversity ES
    // enforces with max_docs_per_value), then a global top-50 of the
    // survivors, then the sub-agg over that fixed-size sample. The
    // content-hash rank makes the "random" sample deterministic and
    // engine-portable (md5 exists in both engines — the repo's
    // sampling convention); the sample is bounded so the sub-agg cost
    // is O(50) regardless of corpus size.
    "search_sampler_diversified" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = md5(lower(trim(col("text"))))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("h", h)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy(col("h"), col("doc_id"))
        .limit(50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // ES `extended_stats` aggregation per terms bucket — count/min/max/
    // sum/sum_of_squares/avg/variance, the full second-moment panel.
    // One partial+final hash agg (sums and squared sums are the
    // mergeable form — this is WHY extended_stats exists instead of a
    // two-pass variance). avg and the population variance
    // (n·Σx²−(Σx)²)/n² are exact integer micro-units; the variance
    // numerator crosses 2⁶³ at corpus scale so it rides DECIMAL(38,0)
    // (the WordPiece/PMI precedent).
    "search_facets_extended_stats" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"),
          sum(col("n_chars").cast(LongType) * col("n_chars")).as("sum_sq"))
        .withColumn("avg_x1e6", expr("(sum_chars * 1000000) DIV n"))
        .withColumn("var_x1e6", expr(
          "CAST((CAST(n AS DECIMAL(38,0)) * sum_sq - " +
            "CAST(sum_chars AS DECIMAL(38,0)) * sum_chars) * 1000000 " +
            "DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
        .orderBy(col("lang"))
    }),

    // ES `boxplot` aggregation per terms bucket — min/q1/q2/q3/max plus
    // the 1.5·IQR whiskers (the Tukey-fence values ES returns as
    // lower/upper). ES computes quartiles approximately (TDigest);
    // exact sort-based percentiles are strictly stronger and affordable
    // because the sort is per-bucket (the MAD precedent). Two passes:
    // the per-bucket quartile agg (one row per bucket — bounded), then
    // a broadcast probe that keeps only in-fence points and takes their
    // min/max. Fence arithmetic (q1 − 1.5·IQR) is a handful of exact
    // binary double ops on interpolated quartiles — hash-identical
    // across engines, like MAD's interpolated medians.
    "search_facets_boxplot" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val q = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("doc_count"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          percentile(col("n_chars"), lit(0.25)).as("q1"),
          percentile(col("n_chars"), lit(0.5)).as("q2"),
          percentile(col("n_chars"), lit(0.75)).as("q3"))
      val iqr = col("q3") - col("q1")
      docs.join(broadcast(q), "lang")
        .filter(col("n_chars") >= col("q1") - lit(1.5) * iqr &&
          col("n_chars") <= col("q3") + lit(1.5) * iqr)
        .groupBy(col("lang"), col("doc_count"), col("min_chars"),
          col("max_chars"), col("q1"), col("q2"), col("q3"))
        .agg(min(col("n_chars")).as("whisker_lo"),
          max(col("n_chars")).as("whisker_hi"))
        .orderBy(col("lang"))
    }),

    // ES `t_test` aggregation (Welch's unpaired two-sample t), per
    // terms bucket: does mentioning the probe term shift document
    // length? The two populations are one conditional aggregation
    // (counts, sums, squared sums per side — the mergeable form, one
    // partial+final hash agg, scan speed at 100 TB); means and
    // variances assemble DRIVER-FREE in the projection. Per the repo's
    // float discipline the squared sums Σx² THEMSELVES accumulate in
    // DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — per-row x² fits int64
    // but the cross-corpus SUM crosses 2⁶³ around 10¹¹ ten-kchar docs,
    // i.e. inside the 100 TB regime, and Spark's int64 sum wraps
    // SILENTLY there while DuckDB errors — so the wide carrier starts
    // at the aggregate, not at the n·Σx² − (Σx)² assembly. The t
    // statistic is one fixed-order double expression over those exact
    // integers, rounded at 6 — hash-identical to the HUGEINT DuckDB
    // twin. The qq output columns cast to DOUBLE at the boundary
    // (IEEE nearest on both engines; exact below 2⁵³). Buckets where
    // either side has < 2 samples or both variances are zero yield
    // NULL (ES's own gap policy).
    "search_facets_t_test" -> ((s, dir) => {
      val hit = array_contains(tokens(col("text")), "spark")
      val wide = DecimalType(38, 0)
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count_if(hit).as("n_a"),
          count_if(!hit).as("n_b"),
          sum(when(hit, col("n_chars")).otherwise(lit(0)))
            .cast(LongType).as("s_a"),
          sum(when(!hit, col("n_chars")).otherwise(lit(0)))
            .cast(LongType).as("s_b"),
          sum(when(hit, (col("n_chars").cast(LongType) * col("n_chars"))
            .cast(wide)).otherwise(lit(0).cast(wide))).as("qq_a"),
          sum(when(!hit, (col("n_chars").cast(LongType) * col("n_chars"))
            .cast(wide)).otherwise(lit(0).cast(wide))).as("qq_b"))
        .withColumn("t_welch", expr(welchT("DECIMAL(38,0)")))
        .withColumn("qq_a", col("qq_a").cast(DoubleType))
        .withColumn("qq_b", col("qq_b").cast(DoubleType))
        .orderBy(col("lang"))
    }),

    // ES pipeline aggregations — the full SIBLING family on one date
    // histogram: `bucket_script` (a per-bucket metric computed from two
    // sub-agg counters), `serial_diff` (lag-2 differencing, the
    // deseasonalization knob), `bucket_selector` (HAVING over bucket
    // metrics) and `bucket_sort` (order + truncate the bucket list by a
    // computed metric). ES evaluates script/diff on EVERY histogram
    // bucket and only then prunes with the selector, so the windows here
    // run before the filter — order matters for the lag. Bucket count is
    // bounded by the date span, not the corpus, so the single global
    // window partition holds at 100 TB (same argument as
    // search_pipeline_aggs); below the buckets it is one partial+final
    // conditional agg. conv_ppm is integer DIV (null on an empty
    // denominator, ES's gap policy) and non-null after the selector, so
    // the bucket_sort key is never a null-ordering hazard.
    "search_bucket_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count_if(col("event_type") === "click").as("clicks"),
          count_if(col("event_type") === "purchase").as("purchases"))
        .withColumn("conv_ppm",
          when(col("clicks") > 0, expr("(purchases * 1000000) DIV clicks")))
        .withColumn("clicks_diff2", col("clicks") - lag(col("clicks"), 2).over(w))
        .filter(col("clicks") >= 3)
        .orderBy(col("conv_ppm").desc, col("day"))
        .limit(5)
    }),

    // ES `string_stats` aggregation (with show_distribution's Shannon
    // entropy) on the text field: value count, min/max/avg length and
    // the character-level entropy of the whole field corpus. Float
    // discipline: avg is exact integer micro-units; each character's
    // −p·ln p term is quantized to integer nano-nats BEFORE the
    // cross-row sum (the llm_source_entropy precedent — ln on identical
    // doubles agrees across engines, float summation order does not).
    // The char explode is a linear scan-shaped projection (1 row per
    // character) feeding a partial+final agg over a bounded alphabet —
    // the same cost class as the CMS token sketch, no shuffle wider
    // than the alphabet.
    "search_string_stats" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val lens = docs.agg(
        count(lit(1)).as("n_values"),
        min(length(col("text"))).as("min_length"),
        max(length(col("text"))).as("max_length"),
        expr("(sum(length(text)) * 1000000) DIV count(*)").as("avg_length_x1e6"))
      val freq = docs
        .select(explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) === 1)
        .groupBy(col("ch")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("n"))
      val ent = freq.crossJoin(broadcast(tot))
        .withColumn("p", col("c").cast(DoubleType) / col("n").cast(DoubleType))
        .withColumn("t", round(-col("p") * log(col("p")) * lit(1e9), 0).cast(LongType))
        .agg(count(lit(1)).as("n_distinct_chars"), sum(col("t")).as("entropy_nanonats"))
      lens.crossJoin(broadcast(ent))
    }),

    // ES `_termvectors` with term_statistics=true — for ONE document,
    // every term with its in-doc frequency (tf), corpus document
    // frequency (df) and corpus total term frequency (ttf): the
    // debugging surface behind "why does this doc score like that".
    // The target doc's term set is tiny → broadcast semi-join prunes
    // the corpus token stream to just those terms before the stats agg;
    // the corpus side stays one linear explode+agg, never keyed wider
    // than the probe vocabulary.
    "search_termvectors" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val target = docs.filter(col("doc_id") === 7)
        .select(explode(tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("term")).agg(count(lit(1)).as("term_freq"))
      val corpus = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .join(broadcast(target.select(col("term"))), Seq("term"), "left_semi")
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"),
          count(lit(1)).as("ttf"))
      target.join(corpus, Seq("term")).orderBy(col("term"))
    }),

    // ES `_rank_eval` — the search-QUALITY evaluation API: for a query
    // set with relevance judgments, precision@10, MRR and NDCG@10 per
    // query. Judgments here are deterministic ("relevant ⇔ tf ≥ 2",
    // graded gain = min(tf, 3)) so the whole harness is
    // oracle-checkable: precision and MRR are exact integer ppm;
    // NDCG's 1/log2(rank+1) discount is quantized to integer micros
    // PER RANK before the 10-term sum (log2 on the same small-int
    // doubles is identical across engines — the BM25 ln precedent),
    // and IDCG re-ranks the same 10 gains descending. Each query's
    // ranking is the standard one-scan BM25 top-10; the metric windows
    // run on 10-row frames.
    "search_rank_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val metrics = RankEvalTerms.map { term =>
        val ranked = withCorpusStats(Tables(s, dir, "documents"), textLen,
            Seq("tf" -> tfOf("text", term)))
          .withColumn("score", round(
            bm25Part(col("tf"), col("df"), col("n_tokens"),
              col("n_docs"), col("sum_dl")), 6))
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("score").desc, col("doc_id"))))
          .withColumn("gain", least(col("tf"), lit(3)).cast(LongType))
          .withColumn("rel", (col("tf") >= 2).cast(LongType))
          .withColumn("d", round(col("gain").cast(DoubleType) * lit(1e6) /
            log2(col("rank") + 1), 0).cast(LongType))
          .withColumn("ideal_rank", row_number()
            .over(Window.orderBy(col("gain").desc, col("doc_id"))))
          .withColumn("di", round(col("gain").cast(DoubleType) * lit(1e6) /
            log2(col("ideal_rank") + 1), 0).cast(LongType))
        ranked.agg(
          lit(term).as("query_term"),
          count(lit(1)).as("n_ranked"),
          expr("(sum(rel) * 1000000) DIV 10").as("precision_at_10_ppm"),
          coalesce(expr("1000000 DIV min(CASE WHEN rel = 1 THEN rank END)"),
            lit(0L)).as("mrr_x1e6"),
          sum(col("d")).as("dcg_x1e6"),
          sum(col("di")).as("idcg_x1e6"),
          expr("(sum(d) * 1000000) DIV sum(di)").as("ndcg_ppm"))
      }
      metrics.reduce(_.unionByName(_)).orderBy(col("query_term"))
    }),

    // ES query-time SYNONYM expansion (synonym_graph filter, the
    // search-relevance knob after boosts): {join, merge} — a
    // configured "combine operations" synonym set, both members live
    // in the fixture vocabulary so the expansion is observable (a
    // merge-only doc now matches a join query) — score as ONE concept:
    // tf is the sum over the set, df counts docs
    // containing ANY member (exactly how a synonym graph collapses
    // positions), then the ordinary Okapi arithmetic on the concept
    // statistics. Same one-scan + 1-row-stats-broadcast shape as every
    // BM25 variant; the synonym set is a query-side literal, zero
    // index cost (the query-time/index-time tradeoff ES documents).
    "search_synonyms" -> ((s, dir) => {
      val syns = Seq("join", "merge")
      withCorpusStats(Tables(s, dir, "documents"), textLen,
          Seq("tf_concept" -> syns.map(tfOf("text", _)).reduce(_ + _)))
        .withColumn("score", round(textBm25("concept"), 6))
        .filter(col("score") > 0)
        .select(col("doc_id"), col("tf_concept"), col("n_tokens"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // The ES ANALYZER chain as data transformation — lowercase →
    // stopword removal → minimal_english stemming (strip a trailing
    // 's' from tokens longer than 3 chars, the conservative stemmer ES
    // ships) — then a match on the analyzed form. On this fixture's
    // vocabulary the stop filter is the observable stage (the corpus
    // has no plural forms for the stemmer to fold — it runs as
    // identity, kept in the chain because an analyzer IS its full
    // chain); the output carries raw vs analyzed token counts because
    // scoring downstream of an analyzer must use ANALYZED lengths.
    // All per-row higher-order functions fused into one scan — no
    // explode, no shuffle.
    "search_analyzer_pipeline" -> ((s, dir) => {
      val stop = Seq("the", "a", "of", "and", "to", "in")
      val analyzed = transform(
        filter(tokens(col("text")),
          t => !t.isin(stop.map(lit(_)): _*) && length(t) > 0),
        t => when(length(t) > 3 && t.endsWith("s"),
          t.substr(lit(1), length(t) - 1)).otherwise(t))
      Tables(s, dir, "documents")
        .withColumn("n_raw", size(tokens(col("text"))))
        .withColumn("toks", analyzed)
        .withColumn("n_analyzed", size(col("toks")))
        .withColumn("tf_row",
          size(filter(col("toks"), t => t === lit("row"))))
        .filter(col("tf_row") > 0)
        .select(col("doc_id"), col("tf_row"), col("n_raw"), col("n_analyzed"))
        .orderBy(col("doc_id"))
    }),

    // ES `moving_fn` with the `MovingFunctions.holt` model — double
    // exponential smoothing (level + trend) over the date histogram,
    // the pipeline agg behind "forecast next bucket" dashboards. The
    // recurrence s_t = α·x_t + (1−α)(s+b), b_t = β(s_t−s) + (1−β)b is
    // inherently sequential, but the SERIES is bounded by the date
    // span, not the corpus: the corpus-scale work is the one
    // partial+final count agg; the bounded (day,count) array then
    // folds through one `aggregate()` HOF on a single row. α=0.3 and
    // β=0.1 as exact rationals on a ×100 fixed-point carrier — every
    // step is integer multiply/DIV (both engines truncate toward
    // zero), so the whole smoothed path is hash-exact; the DuckDB twin
    // walks the same recurrence as a recursive CTE.
    "search_holt_forecast" -> ((s, dir) => {
      val xs = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .agg(sort_array(collect_list(struct(col("day"), col("cnt")))).as("xs"))
      xs.select(explode(expr(
        """aggregate(
          |  xs,
          |  struct(
          |    cast(array() as array<struct<day:timestamp,cnt:bigint,s:bigint,b:bigint>>) as out,
          |    cast(0 as bigint) as s, cast(0 as bigint) as b, 0 as i),
          |  (acc, x) -> struct(
          |    concat(acc.out, array(struct(
          |      x.day as day, x.cnt as cnt,
          |      IF(acc.i = 0, x.cnt * 100,
          |         (3 * x.cnt * 100 + 7 * (acc.s + acc.b)) div 10) as s,
          |      IF(acc.i = 0, cast(0 as bigint),
          |         (IF(acc.i = 0, x.cnt * 100,
          |             (3 * x.cnt * 100 + 7 * (acc.s + acc.b)) div 10)
          |          - acc.s + 9 * acc.b) div 10) as b))) as out,
          |    IF(acc.i = 0, x.cnt * 100,
          |       (3 * x.cnt * 100 + 7 * (acc.s + acc.b)) div 10) as s,
          |    IF(acc.i = 0, cast(0 as bigint),
          |       (IF(acc.i = 0, x.cnt * 100,
          |           (3 * x.cnt * 100 + 7 * (acc.s + acc.b)) div 10)
          |        - acc.s + 9 * acc.b) div 10) as b,
          |    acc.i + 1 as i),
          |  acc -> acc.out)""".stripMargin)).as("h"))
        .select(col("h.day").as("day"), col("h.cnt").as("cnt"),
          col("h.s").as("s_x100"), col("h.b").as("b_x100"),
          (col("h.s") + col("h.b")).as("forecast_next_x100"))
        .orderBy(col("day"))
    }),

    // ES parent-child `has_child` (join field, score_mode=sum,
    // min_children=2): parents (orders) returned when at least two
    // children (lineitems) match the child query, scored by the sum of
    // matching children's quantities. Relationally: filter children →
    // per-parent partial agg (map-side combine shrinks the shuffle to
    // matching parents only) → one equi-join back to the parent table
    // on its key. ES needs parent/child co-routing to a shard; a
    // distributed engine gets the same co-location from hash
    // partitioning on the join key. Child score summed in DECIMAL so
    // the cross-row sum is exact, then cast to DOUBLE for the output —
    // integer-valued sums ≤ 2^53 are exact in binary, and both engines'
    // hashers then see the same 64-bit representation (DuckDB's
    // sum(DECIMAL(12,2)) widens to DECIMAL(38,2) otherwise).
    "search_has_child" -> ((s, dir) => {
      val hits = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_matching_children"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double")
            .as("child_score"))
        .filter(col("n_matching_children") >= 2)
      Tables(s, dir, "orders")
        .join(hits, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("n_matching_children"), col("child_score"))
        .orderBy(col("child_score").desc, col("o_orderkey"))
        .limit(20)
    }),

    // ES `nested`-object query — the OTHER half of ES's
    // document-relations model next to the join-field (has_child/
    // has_parent) half: a nested mapping stores an array of sub-objects
    // INSIDE the parent document, and a `nested` path query requires
    // the conjunction to match within ONE element. Flattening loses
    // exactly this: an order with item A (qty 49) and item B (flag 'R')
    // "matches" qty>=48 AND flag='R' after flattening even though no
    // single item satisfies both. Here the nested documents are built
    // the way an ES nested index stores them — orders with their
    // lineitems as an array<struct(qty, flag)> (one groupBy shuffle on
    // the order key, array length bounded by items-per-order, ~7) —
    // then the per-element conjunction runs as a codegen'd higher-order
    // `filter` over the array. The query returns the FLATTENED-match
    // superset with `nested_match` marking the truth, so the result
    // exhibits both classes (flattened-only false positives sort
    // first); inner-hit columns (count + best qty) are
    // ORDER-INDEPENDENT aggregates over the matched elements, because
    // collect_list's element order is nondeterministic by contract.
    "search_nested_query" -> ((s, dir) => {
      val matchEl = "x -> x.qty >= 48 AND x.flag = 'R'"
      Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(collect_list(struct(col("l_quantity").as("qty"),
          col("l_returnflag").as("flag"))).as("items"))
        .withColumn("n_items", size(col("items")).cast(LongType))
        .withColumn("n_inner_hits",
          size(expr(s"filter(items, $matchEl)")).cast(LongType))
        .withColumn("nested_match", col("n_inner_hits") > 0)
        .filter(expr("exists(items, x -> x.qty >= 48)") &&
          expr("exists(items, x -> x.flag = 'R')"))
        .withColumn("best_inner_qty",
          expr(s"array_max(transform(filter(items, $matchEl), x -> x.qty))"))
        .select(col("o_orderkey"), col("n_items"), col("n_inner_hits"),
          col("nested_match"), col("best_inner_qty"))
        .orderBy(col("nested_match"), col("o_orderkey"))
        .limit(25)
    }),

    // ES `nested` AGGREGATION + `reverse_nested` — the aggregation
    // half of the nested mapping (search_nested_query is the query
    // half): step INTO the items array (nested agg: bucket/metric over
    // ELEMENTS — n_items counts items, not docs), then `reverse_nested`
    // jumps BACK to the parent scope inside each bucket (n_orders =
    // distinct parent documents contributing to the bucket). Computed
    // through the nested representation (build array → explode), which
    // is how an ES shard stores and walks it; at 100 TB the nested
    // frame is the stored index and the explode is its scan. avg_qty
    // is exact: integer-valued doubles sum exactly under 2⁵³ in any
    // order, and one IEEE divide is deterministic on both engines.
    "search_facets_nested_agg" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(collect_list(struct(col("l_quantity").as("qty"),
          col("l_returnflag").as("flag"))).as("items"))
        .select(col("o_orderkey"), explode(col("items")).as("it"))
        .groupBy(col("it.flag").as("flag"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          round(sum(col("it.qty")) / count(lit(1)), 6).as("avg_qty"))
        .orderBy(col("flag"))),

    // ES `children` AGGREGATION — the join-field counterpart of the
    // nested agg: bucket PARENT documents (orders by status), then the
    // `children` agg steps into each bucket's CHILD documents
    // (lineitems) for element counts and metrics. One shuffle
    // equi-join on the parent key + partial+final agg — the same plan
    // ES executes against its global-ordinals join field, re-expressed
    // relationally. n_parents counts bucket parents that HAVE
    // children (the join is inner — childless orders contribute no
    // child rows, exactly as in ES's children agg); the child metric
    // follows the has_child discipline (exact DECIMAL sum, DOUBLE at
    // the boundary).
    "search_facets_children" -> ((s, dir) =>
      Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
          Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_orderkey")).as("n_parents"),
          count(lit(1)).as("n_children"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double")
            .as("sum_child_qty"))
        .orderBy(col("o_orderstatus"))),

    // ES `pinned` query — editorially promoted documents rank ABOVE
    // all organic results, in the order the pin list gives them; the
    // organic tail keeps its relevance order. The pin list is an O(1)
    // literal (array_position gives each pinned doc its curated rank,
    // 0 = not pinned), so the whole thing is one extra integer sort
    // key on the existing top-k — still TakeOrderedAndProject, no
    // extra pass. Integer tf scoring → hash-exact.
    "search_pinned" -> ((s, dir) => {
      val pins = array(lit(17L), lit(5L), lit(42L))
      Tables(s, dir, "documents")
        .withColumn("score", tfOf("text", "spark"))
        .withColumn("pin_pos", array_position(pins, col("doc_id")))
        .filter(col("score") > 0 || col("pin_pos") > 0)
        .withColumn("pinned", col("pin_pos") > 0)
        .select(col("doc_id"), col("pinned"), col("pin_pos"), col("score"))
        .orderBy(col("pinned").desc, col("pin_pos"),
          col("score").desc, col("doc_id"))
        .limit(15)
    }),

    // ES `distance_feature` query — the recency/proximity booster:
    // score contribution = boost · pivot / (pivot + distance), here on
    // the date axis (origin = the fixed reference date, pivot = 30
    // days). Carried as EXACT INTEGER ppm — (30·10⁶) DIV (30 + days) —
    // so unlike the gauss decay (float exp) this form hash-compares
    // with zero float anywhere. One scan + top-k; the day distance is
    // a codegen'd datediff on the scan projection.
    "search_distance_feature" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "O")
        .withColumn("days_back",
          datediff(lit("2001-08-01").cast("date"), col("o_orderdate").cast("date"))
            .cast(LongType))
        .withColumn("recency_ppm",
          expr("(30 * 1000000) DIV (30 + days_back)"))
        .select(col("o_orderkey"), col("days_back"), col("recency_ppm"))
        .orderBy(col("recency_ppm").desc, col("o_orderkey"))
        .limit(20)),

    // ES RUNTIME FIELD (runtime mappings): a field that exists only at
    // query time, computed from stored fields by a script, usable in
    // queries and aggregations with NO reindex. Here `reading_time_s =
    // n_chars DIV 15` feeds a range filter and a fixed-width histogram
    // — declared once as a projection and reused by both, exactly the
    // ES mental model. The honest trade carries over too: a predicate
    // on a runtime field cannot use the index (here: a filter on the
    // derived column does not reach the parquet scan as a pushed
    // min/max bound, where the equivalent base-field form n_chars >=
    // 150 would) — ES pays the same doc_values-script scan. All-integer
    // arithmetic → hash-exact twin.
    "search_runtime_field" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("reading_time_s", expr("n_chars DIV 15"))
        .filter(col("reading_time_s") >= 10)
        .groupBy((col("reading_time_s") - pmod(col("reading_time_s"), lit(5)))
          .as("bucket_s"))
        .agg(count(lit(1)).as("doc_count"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket_s"))),

    // ES parent-child `has_parent`: children (lineitems) returned when
    // their parent (order) matches the parent query — urgent high-value
    // orders. The parent side is filtered and projected to its key
    // BEFORE the join, so the join input is the matching-parent set,
    // not the parent table; at 100 TB this is one shuffle equi-join on
    // the parent key (or a broadcast when the parent predicate is
    // selective enough for AQE to see it).
    "search_has_parent" -> ((s, dir) => {
      val parents = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 450000.0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      Tables(s, dir, "lineitem")
        .join(parents, Seq("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })
  )

  /** Scan-based BM25 in DuckDB — the oracle for BOTH the scan query
    * and the index-served query (which must match it byte-for-byte).
    */
  private val Bm25OracleSql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
      |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
      |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
      |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
      |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
      |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
      |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
      |  FROM scored),
      |b AS (
      |  SELECT doc_id, n_tokens,
      |    round(
      |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
      |        ((tf_spark * 2.2) /
      |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
      |      ln(1.0 + (n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
      |        ((tf_vector * 2.2) /
      |         (tf_vector + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
      |      ln(1.0 + (n_docs - df_join + 0.5) / (df_join + 0.5)) *
      |        ((tf_join * 2.2) /
      |         (tf_join + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6) AS score
      |  FROM scored CROSS JOIN stats)
      |SELECT doc_id, n_tokens, score FROM b
      |WHERE score > 0
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "search_keyword_all_fields" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE contains(CAST(o_orderkey AS VARCHAR), 'URGENT')
        |   OR contains(CAST(o_custkey AS VARCHAR), 'URGENT')
        |   OR contains(o_orderstatus, 'URGENT')
        |   OR contains(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 'URGENT')
        |   OR contains(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), 'URGENT')
        |   OR contains(o_orderpriority, 'URGENT')
        |ORDER BY o_orderkey""".stripMargin,
    "search_tokenized_match" ->
      """SELECT doc_id, lang,
        |  CAST(len(list_intersect(regexp_split_to_array(lower(text), '\s+'),
        |                          ['spark','vector'])) AS INT) AS matched_terms
        |FROM documents
        |WHERE len(list_intersect(regexp_split_to_array(lower(text), '\s+'),
        |                         ['spark','vector'])) > 0
        |ORDER BY doc_id""".stripMargin,
    "search_phrase_match" ->
      """SELECT doc_id, lang FROM documents
        |WHERE contains(array_to_string(regexp_split_to_array(lower(text), '\s+'), ' '),
        |               'the table')
        |ORDER BY doc_id""".stripMargin,
    "search_span_not" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    list_filter(generate_series(1, len(w)), i -> w[i] = 'table') AS pi,
        |    list_filter(generate_series(1, len(w)), i -> w[i] = 'key') AS pe
        |  FROM t),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(pi) AS INT) AS tf_total,
        |    CAST(len(list_filter(pi, p ->
        |      len(list_filter(pe, q -> abs(p - q) <= 3)) = 0)) AS INT) AS tf_clean
        |  FROM m)
        |SELECT doc_id, tf_total, tf_clean FROM c WHERE tf_clean > 0
        |ORDER BY tf_clean DESC, doc_id LIMIT 10""".stripMargin,
    "search_phrase_prefix" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(generate_series(1, greatest(len(w) - 1, 0)),
        |      i -> w[i] = 'big' AND starts_with(w[i + 1], 'ta'))) AS INT)
        |      AS tf_phrase
        |  FROM t)
        |SELECT doc_id, lang, tf_phrase FROM m WHERE tf_phrase > 0
        |ORDER BY tf_phrase DESC, doc_id LIMIT 10""".stripMargin,
    "search_phrase_slop" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i AS p, w[i] AS tok
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |a AS (SELECT doc_id, p AS p1 FROM p WHERE tok = 'the'),
        |b AS (SELECT doc_id, p AS p2 FROM p WHERE tok = 'table')
        |SELECT a.doc_id,
        |  CAST(min(p2 - p1) AS BIGINT) AS best_dist,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM a JOIN b ON a.doc_id = b.doc_id AND p2 > p1 AND p2 - p1 <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_prefix_match" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                       t -> starts_with(t, 'spar'))) AS INT) AS n_hits
        |FROM documents
        |WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                      t -> starts_with(t, 'spar'))) > 0
        |ORDER BY doc_id""".stripMargin,
    "search_fuzzy_match" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(list_distinct(regexp_split_to_array(lower(text), '\s+')),
        |                       t -> levenshtein(t, 'spork') <= 1)) AS INT) AS n_fuzzy
        |FROM documents
        |WHERE len(list_filter(list_distinct(regexp_split_to_array(lower(text), '\s+')),
        |                      t -> levenshtein(t, 'spork') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,
    "search_fuzzy_edit2" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(list_distinct(regexp_split_to_array(lower(text), '\s+')),
        |      t -> starts_with(t, 's') AND levenshtein(t, 'spork') <= 2) AS mt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(mt) AS INT) AS n_fuzzy,
        |  CAST(list_min(list_transform(mt, t -> levenshtein(t, 'spork'))) AS INT) AS min_dist
        |FROM m WHERE len(mt) > 0 ORDER BY doc_id""".stripMargin,
    "search_wildcard" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(list_distinct(regexp_split_to_array(lower(text), '\s+')),
        |      t -> regexp_matches(t, '^sc.n.*$')) AS mt
        |  FROM documents)
        |SELECT doc_id, CAST(len(mt) AS INT) AS n_wild, list_min(mt) AS first_match
        |FROM m WHERE len(mt) > 0 ORDER BY doc_id""".stripMargin,
    // dis_max twin: per-field Okapi parts verbatim from Bm25OracleSql's
    // arithmetic (each field on its OWN n_toks/sum_dl/df statistics),
    // then best + tie_breaker × rest, mirroring the Spark combiner's
    // exact evaluation order (best computed once in its own CTE).
    "search_cross_fields" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+'))
        |         + len(regexp_split_to_array(lower(source), '\s+')) AS INT) AS n_toks_all,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark'))
        |      + len(list_filter(regexp_split_to_array(lower(source), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'src3'))
        |      + len(list_filter(regexp_split_to_array(lower(source), '\s+'), t -> t = 'src3')) AS tf_src3
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_toks_all) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_src3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_src3
        |  FROM scored),
        |b AS (
        |  SELECT doc_id,
        |    round(
        |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_toks_all * n_docs / sum_dl)))) +
        |      ln(1.0 + (n_docs - df_src3 + 0.5) / (df_src3 + 0.5)) *
        |        ((tf_src3 * 2.2) /
        |         (tf_src3 + 1.2 * (0.25 + 0.75 * (n_toks_all * n_docs / sum_dl)))), 6) AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT doc_id, score FROM b WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_dis_max" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_toks_text,
        |    CAST(len(regexp_split_to_array(lower(source), '\s+')) AS INT) AS n_toks_source,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_text_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'src3')) AS tf_text_src3,
        |    len(list_filter(regexp_split_to_array(lower(source), '\s+'), t -> t = 'spark')) AS tf_source_spark,
        |    len(list_filter(regexp_split_to_array(lower(source), '\s+'), t -> t = 'src3')) AS tf_source_src3
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_toks_text) AS DOUBLE) AS sum_dl_text,
        |    CAST(sum(n_toks_source) AS DOUBLE) AS sum_dl_source,
        |    CAST(sum(CASE WHEN tf_text_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_text_spark,
        |    CAST(sum(CASE WHEN tf_text_src3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_text_src3,
        |    CAST(sum(CASE WHEN tf_source_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_source_spark,
        |    CAST(sum(CASE WHEN tf_source_src3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_source_src3
        |  FROM scored),
        |b AS (
        |  SELECT doc_id,
        |    ln(1.0 + (n_docs - df_text_spark + 0.5) / (df_text_spark + 0.5)) *
        |      ((tf_text_spark * 2.2) /
        |       (tf_text_spark + 1.2 * (0.25 + 0.75 * (n_toks_text * n_docs / sum_dl_text)))) +
        |    ln(1.0 + (n_docs - df_text_src3 + 0.5) / (df_text_src3 + 0.5)) *
        |      ((tf_text_src3 * 2.2) /
        |       (tf_text_src3 + 1.2 * (0.25 + 0.75 * (n_toks_text * n_docs / sum_dl_text)))) AS s_text,
        |    ln(1.0 + (n_docs - df_source_spark + 0.5) / (df_source_spark + 0.5)) *
        |      ((tf_source_spark * 2.2) /
        |       (tf_source_spark + 1.2 * (0.25 + 0.75 * (n_toks_source * n_docs / sum_dl_source)))) +
        |    ln(1.0 + (n_docs - df_source_src3 + 0.5) / (df_source_src3 + 0.5)) *
        |      ((tf_source_src3 * 2.2) /
        |       (tf_source_src3 + 1.2 * (0.25 + 0.75 * (n_toks_source * n_docs / sum_dl_source)))) AS s_source
        |  FROM scored CROSS JOIN stats),
        |b2 AS (
        |  SELECT doc_id, s_text, s_source,
        |         greatest(s_text, s_source) AS best FROM b),
        |b3 AS (
        |  SELECT doc_id,
        |    CASE WHEN s_text >= s_source THEN 'text' ELSE 'source' END AS best_field,
        |    round(best + 0.3 * (s_text + s_source - best), 6) AS score
        |  FROM b2)
        |SELECT doc_id, best_field, score FROM b3 WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // function_score twin: the one-term Okapi part verbatim, multiplied
    // by the log1p field_value_factor and the constant weight in the
    // same left-to-right order as the Spark column expression.
    "search_function_score" ->
      """WITH scored AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark
        |  FROM scored),
        |b AS (
        |  SELECT doc_id, n_chars,
        |    round(
        |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) *
        |      ln(1.0 + 0.01 * n_chars) * 1.2, 6) AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT doc_id, n_chars, score FROM b WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_decay_scoring" ->
      """WITH scored AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark
        |  FROM scored),
        |g AS (
        |  SELECT doc_id, n_chars,
        |    greatest(0.0, abs(CAST(n_chars AS DOUBLE) - 1000.0) - 100.0) AS d,
        |    n_tokens, tf_spark, n_docs, sum_dl, df_spark
        |  FROM scored CROSS JOIN stats),
        |b AS (
        |  SELECT doc_id, n_chars,
        |    round(exp(-0.6931471805599453 * d * d / 250000.0), 6) AS decay,
        |    round(
        |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) *
        |      exp(-0.6931471805599453 * d * d / 250000.0), 6) AS score
        |  FROM g)
        |SELECT doc_id, n_chars, decay, score FROM b WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_topk_relevance" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    3*len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark'))
        |    + 2*len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector'))
        |    + len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS raw
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST(raw AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score
        |FROM scored WHERE raw > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_page_after" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    3*len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark'))
        |    + 2*len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector'))
        |    + len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS raw
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(raw AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS score
        |  FROM scored WHERE raw > 0)
        |SELECT doc_id, n_tokens, score FROM s2
        |WHERE score < 0.08 OR (score = 0.08 AND doc_id > 0)
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_topk_tfidf" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
        |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
        |  FROM scored)
        |SELECT doc_id, n_tokens,
        |  round((tf_spark * ln(n_docs / df_spark)
        |       + tf_vector * ln(n_docs / df_vector)
        |       + tf_join * ln(n_docs / df_join)) / CAST(n_tokens AS DOUBLE), 6) AS score
        |FROM scored CROSS JOIN stats
        |WHERE round((tf_spark * ln(n_docs / df_spark)
        |           + tf_vector * ln(n_docs / df_vector)
        |           + tf_join * ln(n_docs / df_join)) / CAST(n_tokens AS DOUBLE), 6) > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_snippets" ->
      """SELECT doc_id,
        |  CAST(strpos(lower(text), 'spark') AS INT) AS pos,
        |  substr(text, greatest(1, strpos(lower(text), 'spark') - 30), 80) AS snippet
        |FROM documents
        |WHERE strpos(lower(text), 'spark') > 0
        |ORDER BY doc_id""".stripMargin,
    "search_topk_bm25" -> Bm25OracleSql,
    // Bm25OracleSql's scoring verbatim plus the match-count predicate —
    // minimum_should_match filters, never rescores.
    "search_min_should_match" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
        |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
        |  FROM scored),
        |b AS (
        |  SELECT doc_id,
        |    CAST((CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) +
        |         (CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) +
        |         (CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS INT) AS n_matched,
        |    round(
        |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
        |      ln(1.0 + (n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
        |        ((tf_vector * 2.2) /
        |         (tf_vector + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
        |      ln(1.0 + (n_docs - df_join + 0.5) / (df_join + 0.5)) *
        |        ((tf_join * 2.2) /
        |         (tf_join + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6) AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT doc_id, n_matched, score FROM b
        |WHERE n_matched >= 2
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Shared tf CTE, one SELECT per stored query, same top-5 window.
    "search_msearch" ->
      """WITH tfs AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'window')) AS tf_window,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'data')) AS tf_data,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'slow')) AS tf_slow
        |  FROM documents),
        |hits AS (
        |  SELECT 'm1_spark_and_join' AS query_id, doc_id,
        |    tf_spark + tf_join AS score
        |  FROM tfs WHERE tf_spark > 0 AND tf_join > 0
        |  UNION ALL
        |  SELECT 'm2_vector_or_window', doc_id, tf_vector + tf_window
        |  FROM tfs WHERE tf_vector > 0 OR tf_window > 0
        |  UNION ALL
        |  SELECT 'm3_data_not_slow', doc_id, tf_data
        |  FROM tfs WHERE tf_data > 0 AND tf_slow = 0),
        |ranked AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rk
        |  FROM hits)
        |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, CAST(score AS INT) AS score
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // Single-term Okapi part verbatim from Bm25OracleSql's arithmetic,
    // then the negative_boost halving mirrored as the same CASE.
    "search_boosting" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'dup')) AS tf_dup,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'slow')) AS tf_slow
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_dup
        |  FROM scored)
        |SELECT doc_id, tf_slow > 0 AS demoted,
        |  round(
        |    ln(1.0 + (n_docs - df_dup + 0.5) / (df_dup + 0.5)) *
        |      ((tf_dup * 2.2) /
        |       (tf_dup + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) *
        |    (CASE WHEN tf_slow > 0 THEN 0.5 ELSE 1.0 END), 6) AS score
        |FROM scored CROSS JOIN stats
        |WHERE tf_dup > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Distinct-term membership against the literal set, M = 4 - 1.
    "search_terms_set" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_sort(list_filter(list_distinct(regexp_split_to_array(lower(text), '\s+')),
        |      t -> t IN ('spark', 'query', 'join', 'window'))) AS mt
        |  FROM documents)
        |SELECT doc_id, CAST(len(mt) AS INT) AS n_matched,
        |  array_to_string(mt, ',') AS matched_terms
        |FROM m WHERE len(mt) >= 3 ORDER BY doc_id""".stripMargin,
    // Exact decimal sums, then the identical float formula text.
    "search_matrix_stats" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(n_chars AS DECIMAL(20,0)) AS x,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DECIMAL(20,0)) AS y
        |  FROM documents),
        |s AS (
        |  SELECT lang, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2, sum(x * y) AS sxy
        |  FROM b GROUP BY lang)
        |SELECT lang, CAST(n AS BIGINT) AS n,
        |  round(CAST(sx AS DOUBLE) / n, 6) AS mean_chars,
        |  round(CAST(sy AS DOUBLE) / n, 6) AS mean_tokens,
        |  round((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |        / (n - 1), 6) AS var_chars,
        |  round((CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |        / (n - 1), 6) AS var_tokens,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |        / (n - 1), 6) AS covar,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |        / sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |               * (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)), 6) AS correlation
        |FROM s ORDER BY lang""".stripMargin,
    // Same oracle text on purpose: the indexed variant must produce
    // byte-identical results to the scan-based scoring — the gate
    // proves the inverted index serves exactly what a scan computes.
    "search_topk_bm25_indexed" -> Bm25OracleSql,
    // The lexical arm nests the (LIMIT-10) BM25 oracle verbatim as a
    // CTE body — both arms are top-10 before fusion, like the engine.
    "search_hybrid_rrf" ->
      (s"""WITH lex_top AS (
          |$Bm25OracleSql
          |),
          |lex AS (
          |  SELECT doc_id,
          |    row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
          |  FROM lex_top),
          |e AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
          |vec_top AS (
          |  SELECT vec_id,
          |    round(list_dot_product(emb, qv)
          |          / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
          |          9) AS cos_sim
          |  FROM e, q WHERE vec_id <> 0
          |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
          |vec AS (
          |  SELECT vec_id AS doc_id,
          |    row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_vec
          |  FROM vec_top)
          |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, r_lex, r_vec,
          |  round(COALESCE(1.0::DOUBLE / (60 + r_lex), 0.0::DOUBLE)
          |        + COALESCE(1.0::DOUBLE / (60 + r_vec), 0.0::DOUBLE), 9) AS rrf
          |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
          |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    "search_suggest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |p AS (SELECT DISTINCT doc_id, term FROM t)
        |SELECT term, count(*) AS freq FROM p
        |WHERE starts_with(term, 's')
        |GROUP BY term ORDER BY freq DESC, term LIMIT 5""".stripMargin,
    "search_percolate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_distinct(regexp_split_to_array(lower(text), '\s+')) AS t
        |  FROM documents),
        |q(query_id, req) AS (VALUES
        |  ('q_agg_window_group', ['agg','window','group']),
        |  ('q_slow_scan', ['slow','scan']),
        |  ('q_spark_join', ['spark','join']),
        |  ('q_vector', ['vector']))
        |SELECT query_id, count(*) AS n_matched, min(doc_id) AS first_doc
        |FROM toks, q
        |WHERE len(list_intersect(t, req)) = len(req)
        |GROUP BY query_id ORDER BY query_id""".stripMargin,
    "search_phrase_indexed" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id
        |FROM t, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i)
        |WHERE w[i] = 'the' AND w[i+1] = 'table'
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // The exact semantics of the parsed query above, expanded by hand:
    // unfielded atoms search EVERY column's stringified token stream
    // (the ES _all behavior); precedence (lang:en AND (spark OR
    // vector*)) AND NOT <phrase>.
    "search_query_string_regexp" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> regexp_full_match(x, 's(can|ort|low|tream)'))) > 0
        |  AND lang = 'en'
        |  AND NOT len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        x -> x = 'batch')) > 0
        |ORDER BY doc_id LIMIT 20""".stripMargin,
    "search_query_string" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source,
        |    regexp_split_to_array(lower(CAST(doc_id AS VARCHAR)), '\s+') AS t1,
        |    regexp_split_to_array(lower(text), '\s+') AS t2,
        |    regexp_split_to_array(lower(lang), '\s+') AS t3,
        |    regexp_split_to_array(lower(source), '\s+') AS t4,
        |    regexp_split_to_array(lower(CAST(n_chars AS VARCHAR)), '\s+') AS t5
        |  FROM documents)
        |SELECT doc_id, lang, source FROM tok
        |WHERE coalesce(list_contains(t3, 'en'), false)
        |  AND (coalesce(list_contains(t1, 'spark'), false)
        |    OR coalesce(list_contains(t2, 'spark'), false)
        |    OR coalesce(list_contains(t3, 'spark'), false)
        |    OR coalesce(list_contains(t4, 'spark'), false)
        |    OR coalesce(list_contains(t5, 'spark'), false)
        |    OR coalesce(len(list_filter(t1, x -> starts_with(x, 'vector'))) > 0, false)
        |    OR coalesce(len(list_filter(t2, x -> starts_with(x, 'vector'))) > 0, false)
        |    OR coalesce(len(list_filter(t3, x -> starts_with(x, 'vector'))) > 0, false)
        |    OR coalesce(len(list_filter(t4, x -> starts_with(x, 'vector'))) > 0, false)
        |    OR coalesce(len(list_filter(t5, x -> starts_with(x, 'vector'))) > 0, false))
        |  AND NOT (coalesce(contains(array_to_string(t1, ' '), 'the lazy dog'), false)
        |    OR coalesce(contains(array_to_string(t2, ' '), 'the lazy dog'), false)
        |    OR coalesce(contains(array_to_string(t3, ' '), 'the lazy dog'), false)
        |    OR coalesce(contains(array_to_string(t4, ' '), 'the lazy dog'), false)
        |    OR coalesce(contains(array_to_string(t5, ' '), 'the lazy dog'), false))
        |ORDER BY doc_id""".stripMargin,
    // The boosted twin: Bm25OracleSql's parts with each term's parsed
    // boost as a literal multiplier, summed in query order (2.0·spark +
    // 0.5·vector + 1.0·join) — the SQL mirror of boostedTerms feeding
    // the scorer.
    "search_query_string_boosted" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
        |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
        |  FROM scored),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    round(
        |      2.0 * (ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl))))) +
        |      0.5 * (ln(1.0 + (n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
        |        ((tf_vector * 2.2) /
        |         (tf_vector + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl))))) +
        |      1.0 * (ln(1.0 + (n_docs - df_join + 0.5) / (df_join + 0.5)) *
        |        ((tf_join * 2.2) /
        |         (tf_join + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl))))), 6) AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT doc_id, n_tokens, score FROM b
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_all_indexes" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS index_name, CAST(c_custkey AS BIGINT) AS doc_key FROM customer
        |  WHERE contains(CAST(c_custkey AS VARCHAR), '0000000')
        |     OR contains(c_name, '0000000')
        |     OR contains(CAST(c_nationkey AS VARCHAR), '0000000')
        |     OR contains(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR), '0000000')
        |     OR contains(c_mktsegment, '0000000')
        |  UNION ALL
        |  SELECT 'supplier', CAST(s_suppkey AS BIGINT) FROM supplier
        |  WHERE contains(CAST(s_suppkey AS VARCHAR), '0000000')
        |     OR contains(s_name, '0000000')
        |     OR contains(CAST(s_nationkey AS VARCHAR), '0000000')
        |     OR contains(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS VARCHAR), '0000000')
        |  UNION ALL
        |  SELECT 'part', CAST(p_partkey AS BIGINT) FROM part
        |  WHERE contains(CAST(p_partkey AS VARCHAR), '0000000')
        |     OR contains(p_name, '0000000')
        |     OR contains(p_brand, '0000000')
        |     OR contains(p_type, '0000000')
        |     OR contains(CAST(p_size AS VARCHAR), '0000000')
        |     OR contains(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '0000000')
        |  UNION ALL
        |  SELECT 'nation', CAST(n_nationkey AS BIGINT) FROM nation
        |  WHERE contains(CAST(n_nationkey AS VARCHAR), '0000000')
        |     OR contains(n_name, '0000000')
        |     OR contains(CAST(n_regionkey AS VARCHAR), '0000000')
        |  UNION ALL
        |  SELECT 'region', CAST(r_regionkey AS BIGINT) FROM region
        |  WHERE contains(CAST(r_regionkey AS VARCHAR), '0000000')
        |     OR contains(r_name, '0000000'))
        |ORDER BY index_name, doc_key""".stripMargin,
    "search_facets" ->
      """SELECT lang, count(*) AS doc_count,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(sum(n_chars) AS BIGINT)::DOUBLE / count(*)::DOUBLE, 9) AS avg_chars
        |FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'spark')
        |GROUP BY lang
        |ORDER BY doc_count DESC, lang""".stripMargin,
    // Engine-owned HLL (m=4096, md5 registers, integer estimator —
    // the HllEstAgg BigInt branch's HUGEINT twin), per lang bucket,
    // over both measured fields.
    "search_facets_cardinality" ->
      """WITH hits AS (
        |  SELECT lang, text, source FROM documents
        |  WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'spark')),
        |langs AS (SELECT lang, count(*) AS doc_count FROM hits GROUP BY 1),
        |mb AS (SELECT unnest(generate_series(0, 4095)) AS bucket),
        |hc AS (
        |  SELECT lang,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT % 4096 AS bucket,
        |    ('0x' || substr(md5(text), 9, 8))::BIGINT AS w
        |  FROM hits),
        |rc AS (
        |  SELECT lang, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - len(bin(w)) END) AS rho
        |  FROM hc GROUP BY 1, 2),
        |fc AS (
        |  SELECT l.lang, b.bucket, coalesce(rc.rho, 0) AS rho
        |  FROM langs l CROSS JOIN mb b
        |  LEFT JOIN rc ON rc.lang = l.lang AND rc.bucket = b.bucket),
        |pc AS (
        |  SELECT lang,
        |    CAST(sum(1::BIGINT << (33 - rho)) AS BIGINT) AS s_sum,
        |    CAST(count(*) FILTER (rho > 0) AS BIGINT) AS nz
        |  FROM fc GROUP BY 1),
        |ec AS (
        |  SELECT lang,
        |    CASE WHEN raw <= 10240 AND nz < 4096
        |         THEN CAST(round(4096.0 * ln(4096.0 / (4096 - nz)), 0) AS BIGINT)
        |         ELSE raw END AS approx_unique_contents
        |  FROM (SELECT lang, nz,
        |          CAST((7213::HUGEINT * 4096 * 4096 * 4096 * 8589934592) //
        |               (10::HUGEINT * 4097079 * s_sum) AS BIGINT) AS raw
        |        FROM pc) t),
        |hs AS (
        |  SELECT lang,
        |    ('0x' || substr(md5(source), 1, 8))::BIGINT % 4096 AS bucket,
        |    ('0x' || substr(md5(source), 9, 8))::BIGINT AS w
        |  FROM hits),
        |rs AS (
        |  SELECT lang, bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - len(bin(w)) END) AS rho
        |  FROM hs GROUP BY 1, 2),
        |fs AS (
        |  SELECT l.lang, b.bucket, coalesce(rs.rho, 0) AS rho
        |  FROM langs l CROSS JOIN mb b
        |  LEFT JOIN rs ON rs.lang = l.lang AND rs.bucket = b.bucket),
        |ps AS (
        |  SELECT lang,
        |    CAST(sum(1::BIGINT << (33 - rho)) AS BIGINT) AS s_sum,
        |    CAST(count(*) FILTER (rho > 0) AS BIGINT) AS nz
        |  FROM fs GROUP BY 1),
        |es AS (
        |  SELECT lang,
        |    CASE WHEN raw <= 10240 AND nz < 4096
        |         THEN CAST(round(4096.0 * ln(4096.0 / (4096 - nz)), 0) AS BIGINT)
        |         ELSE raw END AS approx_unique_sources
        |  FROM (SELECT lang, nz,
        |          CAST((7213::HUGEINT * 4096 * 4096 * 4096 * 8589934592) //
        |               (10::HUGEINT * 4097079 * s_sum) AS BIGINT) AS raw
        |        FROM ps) t)
        |SELECT l.lang, l.doc_count, ec.approx_unique_contents, es.approx_unique_sources
        |FROM langs l JOIN ec USING (lang) JOIN es USING (lang)
        |ORDER BY doc_count DESC, lang""".stripMargin,
    // Engine-owned HDR quantile sketch per lang bucket: 6-significand-
    // bit log buckets, exact integer cum/cross-multiply selection.
    "search_facets_percentiles" ->
      """WITH hits AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
        |  WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'spark')),
        |b2 AS (
        |  SELECT lang, ((v >> shift) << shift) AS lb
        |  FROM (SELECT lang, v, greatest(len(bin(v)) - 7, 0) AS shift FROM hits) t),
        |sk AS (SELECT lang, lb, count(*) AS c FROM b2 GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, lb,
        |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY lb
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM sk)
        |SELECT lang, max(n) AS doc_count,
        |  min(CASE WHEN cum*100 >= n*50 THEN lb END) AS p50,
        |  min(CASE WHEN cum*100 >= n*90 THEN lb END) AS p90,
        |  min(CASE WHEN cum*100 >= n*99 THEN lb END) AS p99
        |FROM cum GROUP BY lang
        |ORDER BY doc_count DESC, lang""".stripMargin,
    "search_facets_date_histogram" ->
      """SELECT date_trunc('day', ts) AS day, count(*) AS doc_count,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_range" ->
      """SELECT CASE WHEN n_chars < 100 THEN '0-99'
        |            WHEN n_chars < 250 THEN '100-249'
        |            WHEN n_chars < 400 THEN '250-399'
        |            ELSE '400+' END AS bucket,
        |  count(*) AS doc_count,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'data')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_histogram" ->
      """SELECT (n_chars // 50) * 50 AS bucket,
        |  count(*) AS doc_count,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'data')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_filters" ->
      """SELECT count(*) AS everything,
        |  count(*) FILTER (n_chars < 150) AS short_docs,
        |  count(*) FILTER (lang = 'en') AS english,
        |  count(*) FILTER (list_contains(regexp_split_to_array(lower(text), '\s+'),
        |                                 'data')) AS mentions_data,
        |  count(*) FILTER (NOT (n_chars < 150 OR lang = 'en'
        |    OR list_contains(regexp_split_to_array(lower(text), '\s+'),
        |                     'data'))) AS other
        |FROM documents""".stripMargin,
    // Bm25OracleSql's scoring carrying the collapse field, then the
    // per-group rank-1 via QUALIFY — the SQL mirror of ES collapse.
    "search_collapse_field" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
        |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
        |  FROM scored),
        |b AS (
        |  SELECT doc_id, lang, n_tokens,
        |    round(
        |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
        |        ((tf_spark * 2.2) /
        |         (tf_spark + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
        |      ln(1.0 + (n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
        |        ((tf_vector * 2.2) /
        |         (tf_vector + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
        |      ln(1.0 + (n_docs - df_join + 0.5) / (df_join + 0.5)) *
        |        ((tf_join * 2.2) /
        |         (tf_join + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6) AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT lang, doc_id, n_tokens, score FROM b
        |WHERE score > 0
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) = 1
        |ORDER BY score DESC, doc_id""".stripMargin,
    // Same (ts, event_id) descending top-1 per type.
    "search_facets_top_metrics" ->
      """SELECT event_type, ts AS top_ts, event_id AS top_event_id,
        |  round(value, 6) AS top_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY event_type""".stripMargin,
    // Same calendar-length divisor, same integer ppm.
    "search_facets_rate" ->
      """SELECT date_trunc('month', ts) AS month,
        |  count(*) AS doc_count,
        |  CAST(day(last_day(CAST(date_trunc('month', ts) AS DATE))) AS BIGINT)
        |    AS days_in_month,
        |  (count(*) * 1000000)
        |    // day(last_day(CAST(date_trunc('month', ts) AS DATE)))
        |    AS rate_per_day_ppm
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same stacked aggregation over the daily buckets.
    "search_pipeline_stats_bucket" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1)
        |SELECT count(*) AS n_buckets,
        |  CAST(min(doc_count) AS BIGINT) AS min_bucket,
        |  CAST(max(doc_count) AS BIGINT) AS max_bucket,
        |  CAST(sum(doc_count) AS BIGINT) AS sum_buckets,
        |  (CAST(sum(doc_count) AS BIGINT) * 1000000) // count(*)
        |    AS avg_bucket_x1e6
        |FROM b""".stripMargin,
    "search_pipeline_aggs" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS doc_count
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1)
        |SELECT day, doc_count,
        |  CAST(sum(doc_count) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_count,
        |  doc_count - lag(doc_count) OVER (ORDER BY day) AS deriv,
        |  CAST(sum(doc_count) OVER (ORDER BY day
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_sum
        |FROM b ORDER BY day""".stripMargin,
    "search_adjacency_matrix" ->
      """SELECT
        |  count(*) FILTER (n_chars < 150) AS short_docs,
        |  count(*) FILTER (lang = 'en') AS english,
        |  count(*) FILTER (list_contains(regexp_split_to_array(lower(text), '\s+'),
        |                                 'data')) AS mentions_data,
        |  count(*) FILTER (n_chars < 150 AND lang = 'en') AS short_docs_x_english,
        |  count(*) FILTER (n_chars < 150 AND list_contains(
        |    regexp_split_to_array(lower(text), '\s+'), 'data')) AS short_docs_x_mentions_data,
        |  count(*) FILTER (lang = 'en' AND list_contains(
        |    regexp_split_to_array(lower(text), '\s+'), 'data')) AS english_x_mentions_data
        |FROM documents""".stripMargin,
    "search_rare_terms" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM t, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS u(i))
        |SELECT shingle, count(*) AS doc_count
        |FROM sh GROUP BY 1
        |HAVING count(*) <= 2
        |ORDER BY doc_count, shingle""".stripMargin,
    "search_facets_composite" ->
      """SELECT lang, source, count(*) AS doc_count,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang, source
        |HAVING lang > 'de' OR (lang = 'de' AND source > 'src12')
        |ORDER BY lang, source LIMIT 5""".stripMargin,
    "search_facets_top_hits" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                    t -> t = 'merge')) AS tf
        |  FROM documents)
        |SELECT source,
        |  CAST(row_number() OVER (PARTITION BY source
        |                          ORDER BY tf DESC, doc_id) AS INT) AS hit_rank,
        |  doc_id, CAST(tf AS INT) AS tf
        |FROM h WHERE tf > 0
        |QUALIFY hit_rank <= 2
        |ORDER BY source, hit_rank""".stripMargin,
    "search_facets_nested" ->
      """WITH b AS (
        |  SELECT source, lang, count(*) AS doc_count,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents
        |  WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'filter')
        |  GROUP BY 1, 2)
        |SELECT source, lang, doc_count, sum_chars,
        |  CAST(sum(doc_count) OVER (PARTITION BY source) AS BIGINT) AS source_doc_count
        |FROM b
        |ORDER BY source_doc_count DESC, source, doc_count DESC, lang""".stripMargin,
    "search_rescore" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                    t -> t = 'table')) AS tf_table,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                    t -> t = 'scan')) AS tf_scan
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_table,
        |    CAST(sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan
        |  FROM base),
        |win AS (
        |  SELECT * FROM base WHERE tf_table > 0
        |  ORDER BY tf_table DESC, doc_id LIMIT 50)
        |SELECT doc_id, CAST(tf_table AS INT) AS tf_table,
        |  round(
        |    ln(1.0 + (n_docs - df_table + 0.5) / (df_table + 0.5)) *
        |      ((tf_table * 2.2) / (tf_table + 1.2 *
        |        (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))) +
        |    ln(1.0 + (n_docs - df_scan + 0.5) / (df_scan + 0.5)) *
        |      ((tf_scan * 2.2) / (tf_scan + 1.2 *
        |        (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6) AS score
        |FROM win, stats
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_significant_terms" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_contains(regexp_split_to_array(lower(text), '\s+'), 'vector') AS is_fg,
        |    unnest(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS term
        |  FROM documents),
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
        |j AS (
        |  SELECT term, fg_docs, bg_docs,
        |    (fg_docs / fg_total - bg_docs / bg_total)
        |      * ((fg_docs / fg_total) / (bg_docs / bg_total)) AS jlh_raw
        |  FROM per_term, totals)
        |SELECT term, fg_docs, bg_docs, round(jlh_raw, 9) AS jlh
        |FROM j WHERE jlh_raw > 0
        |ORDER BY jlh DESC, term LIMIT 15""".stripMargin,
    "search_more_like_this" ->
      """WITH p AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS docfreq FROM p GROUP BY 1),
        |src AS (SELECT term, tf AS src_tf FROM p WHERE doc_id = 7),
        |probe AS (
        |  SELECT src.term, src_tf,
        |    CAST(floor(10000 / docfreq) AS BIGINT) AS wt
        |  FROM src JOIN df USING (term))
        |SELECT p.doc_id, CAST(sum(p.tf * src_tf * wt) AS BIGINT) AS mlt_score
        |FROM p JOIN probe USING (term)
        |WHERE p.doc_id <> 7
        |GROUP BY 1
        |ORDER BY mlt_score DESC, doc_id LIMIT 10""".stripMargin,
    // Scan-computed twin of the index-served ordered span query: the
    // driver's gate proves index-served == scan-computed, the same
    // contract as the BM25/phrase index rows. Positions 0-based (i-1)
    // to match posexplode.
    "search_span_near" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |a AS (SELECT doc_id, p AS p1 FROM p WHERE tok = 'group'),
        |b AS (SELECT doc_id, p AS p2 FROM p WHERE tok = 'order'),
        |c AS (SELECT doc_id, p AS p3 FROM p WHERE tok = 'join')
        |SELECT a.doc_id,
        |  CAST(count(*) AS INT) AS n_spans,
        |  CAST(min(p1) AS BIGINT) AS first_start,
        |  CAST(min(p3 - p1) AS BIGINT) AS min_width
        |FROM a JOIN b USING (doc_id) JOIN c USING (doc_id)
        |WHERE p2 > p1 AND p2 - p1 <= 3 AND p3 > p2 AND p3 - p2 <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_explain" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'spark')) AS tf_spark,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'vector')) AS tf_vector,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join')) AS tf_join
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
        |    CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
        |    CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join
        |  FROM scored),
        |d AS (SELECT * FROM scored CROSS JOIN stats WHERE doc_id = 7),
        |e AS (
        |  SELECT doc_id, n_tokens, n_docs, sum_dl,
        |         'spark' AS term, tf_spark AS tf, df_spark AS df FROM d
        |  UNION ALL
        |  SELECT doc_id, n_tokens, n_docs, sum_dl,
        |         'vector', tf_vector, df_vector FROM d
        |  UNION ALL
        |  SELECT doc_id, n_tokens, n_docs, sum_dl,
        |         'join', tf_join, df_join FROM d)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, n_tokens,
        |  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf,
        |  round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
        |        ((tf * 2.2) /
        |         (tf + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))),
        |        6) AS contribution
        |FROM e ORDER BY term""".stripMargin,
    "search_intervals_unordered" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i - 1 AS p, w[i] AS tok
        |  FROM t, unnest(generate_series(1, len(w))) AS u(i)),
        |a AS (SELECT doc_id, p AS p1 FROM p WHERE tok = 'sort'),
        |b AS (SELECT doc_id, p AS p2 FROM p WHERE tok = 'merge')
        |SELECT a.doc_id,
        |  CAST(count(*) AS INT) AS n_windows,
        |  CAST(min(abs(p2 - p1)) AS BIGINT) AS min_dist
        |FROM a JOIN b USING (doc_id)
        |WHERE abs(p2 - p1) <= 4
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_terms_lookup" ->
      """WITH lk AS (
        |  SELECT list_distinct(regexp_split_to_array(lower(text), '\s+')) AS lt
        |  FROM documents WHERE doc_id = 0)
        |SELECT doc_id,
        |  CAST(len(list_intersect(
        |    list_distinct(regexp_split_to_array(lower(text), '\s+')), lt))
        |    AS INT) AS overlap
        |FROM documents, lk WHERE doc_id <> 0
        |ORDER BY overlap DESC, doc_id LIMIT 20""".stripMargin,
    "search_facets_percentile_ranks" ->
      """SELECT lang, count(*) AS doc_count,
        |  CAST((count_if(n_chars <= 100) * 1000000) // count(*) AS BIGINT) AS rank_100_ppm,
        |  CAST((count_if(n_chars <= 250) * 1000000) // count(*) AS BIGINT) AS rank_250_ppm,
        |  CAST((count_if(n_chars <= 400) * 1000000) // count(*) AS BIGINT) AS rank_400_ppm
        |FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'data')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_multi_terms" ->
      """SELECT lang, source, count(*) AS doc_count,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '\s+'), 'data')
        |GROUP BY 1, 2
        |ORDER BY doc_count DESC, lang, source LIMIT 10""".stripMargin,
    "search_facets_weighted_avg" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))
        |               * CAST(json_extract_string(props, '$.k') AS BIGINT))
        |             AS DOUBLE)
        |        / CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |               AS DOUBLE), 6) AS weighted_avg
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_mad" ->
      """WITH med AS (
        |  SELECT lang, median(n_chars) AS median_chars,
        |         count(*) AS doc_count
        |  FROM documents GROUP BY 1)
        |SELECT d.lang, doc_count, median_chars,
        |  median(abs(d.n_chars - median_chars)) AS mad_chars
        |FROM documents d JOIN med ON d.lang = med.lang
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // The interval ladder (hour→day→week→month, ≤30 buckets) is
    // re-derived in SQL from the same span so the oracle exercises the
    // CHOICE, not just the bucketing.
    "search_facets_auto_date_histogram" ->
      """WITH hits AS (SELECT ts FROM events WHERE event_type = 'purchase'),
        |span AS (
        |  SELECT CASE
        |    WHEN date_diff('second', min(ts), max(ts)) <= 30 * 3600
        |      THEN 'hour'
        |    WHEN date_diff('second', min(ts), max(ts)) <= 30 * 86400
        |      THEN 'day'
        |    WHEN date_diff('second', min(ts), max(ts)) <= 30 * 604800
        |      THEN 'week'
        |    ELSE 'month' END AS iv
        |  FROM hits)
        |SELECT iv AS interval, date_trunc(iv, ts) AS bucket,
        |       count(*) AS doc_count
        |FROM hits, span GROUP BY 1, 2 ORDER BY 2""".stripMargin,
    "search_sampler_diversified" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    md5(lower(trim(text))) AS h
        |  FROM documents
        |  QUALIFY row_number() OVER (PARTITION BY source
        |    ORDER BY md5(lower(trim(text))), doc_id) <= 5),
        |sample AS (
        |  SELECT * FROM ranked ORDER BY h, doc_id LIMIT 50)
        |SELECT lang, count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM sample GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_extended_stats" ->
      """SELECT lang, count(*) AS n,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sum_sq,
        |  (CAST(sum(n_chars) AS BIGINT) * 1000000) // count(*) AS avg_x1e6,
        |  CAST((count(*)::HUGEINT
        |          * CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT)
        |        - CAST(sum(n_chars) AS BIGINT)::HUGEINT
        |          * CAST(sum(n_chars) AS BIGINT)) * 1000000
        |       // (count(*)::HUGEINT * count(*)) AS BIGINT)
        |    AS var_x1e6
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Same exact quartiles (quantile_cont = Spark percentile's linear
    // interpolation), same Tukey fences, same in-fence min/max.
    "search_facets_boxplot" ->
      """WITH q AS (
        |  SELECT lang, count(*) AS doc_count,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |    quantile_cont(n_chars, 0.25) AS q1,
        |    quantile_cont(n_chars, 0.5) AS q2,
        |    quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents GROUP BY 1)
        |SELECT d.lang, doc_count, min_chars, max_chars, q1, q2, q3,
        |  min(d.n_chars) AS whisker_lo, max(d.n_chars) AS whisker_hi
        |FROM documents d JOIN q ON d.lang = q.lang
        |WHERE d.n_chars >= q1 - 1.5 * (q3 - q1)
        |  AND d.n_chars <= q3 + 1.5 * (q3 - q1)
        |GROUP BY 1, 2, 3, 4, 5, 6, 7
        |ORDER BY 1""".stripMargin,
    // Identical conditional sums; the t expression is the SAME string
    // as the Spark side with HUGEINT as the wide-integer carrier.
    "search_facets_t_test" ->
      s"""WITH f AS (
         |  SELECT lang, n_chars,
         |    list_contains(regexp_split_to_array(lower(text), '\\s+'),
         |                  'spark') AS hit
         |  FROM documents),
         |a AS (
         |  SELECT lang,
         |    count(*) FILTER (hit) AS n_a,
         |    count(*) FILTER (NOT hit) AS n_b,
         |    CAST(sum(CASE WHEN hit THEN n_chars ELSE 0 END) AS BIGINT) AS s_a,
         |    CAST(sum(CASE WHEN NOT hit THEN n_chars ELSE 0 END) AS BIGINT) AS s_b,
         |    sum(CASE WHEN hit THEN CAST(n_chars AS HUGEINT) * n_chars
         |             ELSE 0 END) AS qq_a,
         |    sum(CASE WHEN NOT hit THEN CAST(n_chars AS HUGEINT) * n_chars
         |             ELSE 0 END) AS qq_b
         |  FROM f GROUP BY 1)
         |SELECT lang, n_a, n_b, s_a, s_b,
         |  CAST(qq_a AS DOUBLE) AS qq_a, CAST(qq_b AS DOUBLE) AS qq_b,
         |  ${welchT("HUGEINT")} AS t_welch
         |FROM a ORDER BY lang""".stripMargin,
    // Pipeline family evaluated in ES order: script + diff on every
    // bucket, selector prunes, sort truncates.
    "search_bucket_pipeline" ->
      """WITH b AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    count(*) FILTER (event_type = 'click') AS clicks,
        |    count(*) FILTER (event_type = 'purchase') AS purchases
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |p AS (
        |  SELECT day, clicks, purchases,
        |    CASE WHEN clicks > 0 THEN (purchases * 1000000) // clicks END
        |      AS conv_ppm,
        |    clicks - lag(clicks, 2) OVER (ORDER BY day) AS clicks_diff2
        |  FROM b)
        |SELECT day, clicks, purchases, conv_ppm, clicks_diff2
        |FROM p WHERE clicks >= 3
        |ORDER BY conv_ppm DESC, day LIMIT 5""".stripMargin,
    // Same per-char nano-nat quantization before the integer sum.
    "search_string_stats" ->
      """WITH lens AS (
        |  SELECT count(*) AS n_values,
        |    min(len(text)) AS min_length, max(len(text)) AS max_length,
        |    (CAST(sum(len(text)) AS BIGINT) * 1000000) // count(*)
        |      AS avg_length_x1e6
        |  FROM documents),
        |chars AS (
        |  SELECT unnest(string_split(text, '')) AS ch FROM documents),
        |freq AS (
        |  SELECT ch, count(*) AS c FROM chars WHERE len(ch) = 1 GROUP BY ch),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
        |ent AS (
        |  SELECT count(*) AS n_distinct_chars,
        |    CAST(sum(CAST(round(
        |      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9, 0)
        |      AS BIGINT)) AS BIGINT) AS entropy_nanonats
        |  FROM freq CROSS JOIN tot)
        |SELECT n_values, min_length, max_length, avg_length_x1e6,
        |       n_distinct_chars, entropy_nanonats
        |FROM lens CROSS JOIN ent""".stripMargin,
    // One parenthesized CTE block per query term, UNION ALL'd — the
    // same per-rank micro-quantized NDCG discount arithmetic.
    "search_rank_eval" -> RankEvalTerms.map { t =>
      s"""(WITH scored AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INT) AS n_tokens,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      x -> x = '$t')) AS INT) AS tf
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
         |    CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df
         |  FROM scored),
         |r AS (
         |  SELECT doc_id, tf,
         |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |      ((tf * 2.2) /
         |       (tf + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6)
         |      AS score
         |  FROM scored CROSS JOIN stats),
         |top AS (
         |  SELECT doc_id, tf, score FROM r WHERE score > 0
         |  ORDER BY score DESC, doc_id LIMIT 10),
         |rk AS (
         |  SELECT doc_id, tf,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
         |    CAST(least(tf, 3) AS BIGINT) AS gain,
         |    CAST(CASE WHEN tf >= 2 THEN 1 ELSE 0 END AS BIGINT) AS rel
         |  FROM top),
         |rk2 AS (
         |  SELECT *,
         |    CAST(round(gain * 1e6 / log2(rank + 1), 0) AS BIGINT) AS d,
         |    row_number() OVER (ORDER BY gain DESC, doc_id) AS ideal_rank
         |  FROM rk),
         |rk3 AS (
         |  SELECT *,
         |    CAST(round(gain * 1e6 / log2(ideal_rank + 1), 0) AS BIGINT) AS di
         |  FROM rk2)
         |SELECT '$t' AS query_term, count(*) AS n_ranked,
         |  (CAST(sum(rel) AS BIGINT) * 1000000) // 10 AS precision_at_10_ppm,
         |  CAST(coalesce(1000000 // min(CASE WHEN rel = 1 THEN rank END), 0)
         |    AS BIGINT) AS mrr_x1e6,
         |  CAST(sum(d) AS BIGINT) AS dcg_x1e6,
         |  CAST(sum(di) AS BIGINT) AS idcg_x1e6,
         |  (CAST(sum(d) AS BIGINT) * 1000000) // CAST(sum(di) AS BIGINT)
         |    AS ndcg_ppm
         |FROM rk3)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY query_term"),
    "search_synonyms" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'join'))
        |       + len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t = 'merge'))
        |      AS INT) AS tf_concept
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(n_tokens) AS DOUBLE) AS sum_dl,
        |    CAST(sum(CASE WHEN tf_concept > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_concept
        |  FROM scored),
        |b AS (
        |  SELECT doc_id, tf_concept, n_tokens,
        |    round(ln(1.0 + (n_docs - df_concept + 0.5) / (df_concept + 0.5)) *
        |      ((tf_concept * 2.2) /
        |       (tf_concept + 1.2 * (0.25 + 0.75 * (n_tokens * n_docs / sum_dl)))), 6)
        |      AS score
        |  FROM scored CROSS JOIN stats)
        |SELECT doc_id, tf_concept, n_tokens, score FROM b WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "search_analyzer_pipeline" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_raw,
        |    list_transform(
        |      list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        t -> len(t) > 0 AND t NOT IN ('the','a','of','and','to','in')),
        |      t -> CASE WHEN len(t) > 3 AND t LIKE '%s'
        |                THEN substr(t, 1, len(t) - 1) ELSE t END) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, t -> t = 'row')) AS INT) AS tf_row,
        |  n_raw,
        |  CAST(len(toks) AS INT) AS n_analyzed
        |FROM a
        |WHERE len(list_filter(toks, t -> t = 'row')) > 0
        |ORDER BY doc_id""".stripMargin,
    // The same ×100 fixed-point Holt recurrence as a recursive CTE.
    "search_holt_forecast" ->
      """WITH RECURSIVE b AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ord AS (
        |  SELECT day, cnt, row_number() OVER (ORDER BY day) AS rn FROM b),
        |holt AS (
        |  SELECT rn, day, cnt, cnt * 100 AS s, CAST(0 AS BIGINT) AS b
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.day, o.cnt,
        |    (3 * o.cnt * 100 + 7 * (h.s + h.b)) // 10 AS s,
        |    (((3 * o.cnt * 100 + 7 * (h.s + h.b)) // 10) - h.s + 9 * h.b) // 10 AS b
        |  FROM holt h JOIN ord o ON o.rn = h.rn + 1)
        |SELECT day, cnt, s AS s_x100, b AS b_x100,
        |       s + b AS forecast_next_x100
        |FROM holt ORDER BY day""".stripMargin,
    "search_termvectors" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        |  FROM documents),
        |t AS (
        |  SELECT term, count(*) AS term_freq FROM toks
        |  WHERE doc_id = 7 AND len(term) > 0 GROUP BY term),
        |s AS (
        |  SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS ttf
        |  FROM toks WHERE len(term) > 0
        |    AND term IN (SELECT term FROM t)
        |  GROUP BY term)
        |SELECT t.term, term_freq, doc_freq, ttf
        |FROM t JOIN s USING (term) ORDER BY term""".stripMargin,
    "search_has_child" ->
      """WITH hits AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    count(*) AS n_matching_children,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS child_score
        |  FROM lineitem WHERE l_quantity >= 45
        |  GROUP BY 1 HAVING count(*) >= 2)
        |SELECT o.o_orderkey, o_orderstatus, o_totalprice,
        |       n_matching_children, child_score
        |FROM orders o JOIN hits USING (o_orderkey)
        |ORDER BY child_score DESC, o_orderkey LIMIT 20""".stripMargin,
    // The twin walks the same nested representation (list → unnest).
    "search_facets_nested_agg" ->
      """WITH nested AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    list(struct_pack(qty := l_quantity, flag := l_returnflag)) AS items
        |  FROM lineitem GROUP BY 1),
        |el AS (SELECT o_orderkey, unnest(items) AS it FROM nested)
        |SELECT it.flag AS flag, count(*) AS n_items,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  round(sum(it.qty) / count(*), 6) AS avg_qty
        |FROM el GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_facets_children" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o.o_orderkey) AS n_parents,
        |  count(*) AS n_children,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_child_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "search_pinned" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |        t -> t = 'spark')) AS score,
        |    COALESCE(list_position([17, 5, 42], doc_id), 0) AS pin_pos
        |  FROM documents)
        |SELECT doc_id, pin_pos > 0 AS pinned,
        |  CAST(pin_pos AS BIGINT) AS pin_pos, CAST(score AS INT) AS score
        |FROM scored WHERE score > 0 OR pin_pos > 0
        |ORDER BY pinned DESC, pin_pos, score DESC, doc_id LIMIT 15""".stripMargin,
    "search_distance_feature" ->
      """SELECT o_orderkey,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-01')
        |       AS BIGINT) AS days_back,
        |  (30 * 1000000) // (30 + CAST(date_diff('day',
        |       CAST(o_orderdate AS DATE), DATE '2001-08-01') AS BIGINT))
        |    AS recency_ppm
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY recency_ppm DESC, o_orderkey LIMIT 20""".stripMargin,
    "search_runtime_field" ->
      """WITH rt AS (
        |  SELECT n_chars, n_chars // 15 AS reading_time_s FROM documents)
        |SELECT reading_time_s - (reading_time_s % 5) AS bucket_s,
        |  count(*) AS doc_count,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM rt WHERE reading_time_s >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same LIST<STRUCT> build via list(struct_pack(...)), per-element
    // conjunction via list_filter — order-independent inner-hit
    // aggregates, so DuckDB's own list order nondeterminism is moot.
    "search_nested_query" ->
      """WITH nested AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    list(struct_pack(qty := l_quantity, flag := l_returnflag)) AS items
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT o_orderkey,
        |    CAST(len(items) AS BIGINT) AS n_items,
        |    CAST(len(list_filter(items,
        |      x -> x.qty >= 48 AND x.flag = 'R')) AS BIGINT) AS n_inner_hits,
        |    len(list_filter(items, x -> x.qty >= 48)) > 0 AS any_qty,
        |    len(list_filter(items, x -> x.flag = 'R')) > 0 AS any_flag,
        |    list_max(list_transform(list_filter(items,
        |      x -> x.qty >= 48 AND x.flag = 'R'), x -> x.qty)) AS best_inner_qty
        |  FROM nested)
        |SELECT o_orderkey, n_items, n_inner_hits,
        |  n_inner_hits > 0 AS nested_match, best_inner_qty
        |FROM m WHERE any_qty AND any_flag
        |ORDER BY nested_match, o_orderkey LIMIT 25""".stripMargin,
    "search_has_parent" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       o_orderpriority, o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
