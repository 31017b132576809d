package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.search.SearchQueries.tokens

/** Corpus-structure operators for a training-data pipeline (SURVEY.md
  * §2.4 family): near-dup cluster resolution (the stage AFTER pair
  * finding), overlapping token chunking, vocabulary extraction, and
  * distribution-tail trimming.
  *
  * Scale design notes (the 100 TB story, per operator):
  *  - dedup clustering: near-dup PAIRS are not enough — survivor
  *    selection needs the transitive closure (A~B, B~C ⇒ one cluster).
  *    Implemented as iterated min-label propagation ("hash-to-min"):
  *    each round, every node takes the min label among itself and its
  *    neighbors — one equi-join + one partial-agg shuffle per round,
  *    converging in O(component diameter) rounds. Near-dup components
  *    are short chains/cliques, so 3-5 rounds in practice; for
  *    adversarial long-path graphs the published fix is the
  *    large-star/small-star rewrite (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC'14) which converges in
  *    O(log n) rounds with the same per-round join shape. Lineage is
  *    truncated per round (localCheckpoint here; a reliable
  *    HDFS-checkpoint on a real cluster) — without it the plan doubles
  *    every iteration and the job dies on planning long before data
  *    volume matters.
  *  - chunking: pure per-row explode — scan-speed, shuffle-free; the
  *    output is bigger than the input (overlap factor 64/48), which is
  *    fine because it never shuffles.
  *  - vocabulary: explode + hash-agg; map-side partial aggregation
  *    collapses each partition's token stream to its local vocabulary
  *    before the shuffle, so shuffle volume is O(distinct tokens per
  *    partition), not O(corpus tokens). Top-k via
  *    TakeOrderedAndProject (per-partition heaps, never a global sort).
  *  - length trim: percentile cuts computed from a VALUE HISTOGRAM
  *    (groupBy n_chars → cumulative count), not a global row sort —
  *    the histogram is bounded by the value domain (thousands of
  *    distinct lengths) regardless of corpus row count, so the
  *    window over it is metadata-sized. This is the exact-arithmetic
  *    twin of the approx_percentile cut (`rel_approx_agg`) a 100 TB
  *    run would use, and unlike row-ranked trimming it needs no
  *    global ordering of the data.
  */
object CorpusQueries {

  /** Connected components by iterated min-label propagation.
    *
    * @param nodes single column `doc_id` (every vertex, including
    *              singletons — they keep their own id as the label)
    * @param edges columns `src`, `dst`, both directions present
    * @return (doc_id, label) where label = min doc_id in the component
    */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIters: Int = 25): DataFrame = {
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(true)
    var done = false
    var i = 0
    while (!done && i < maxIters) {
      // Per round, each node takes the min of: its own label, its
      // neighbors' labels (one-hop propagation), and its LABEL'S label
      // (pointer doubling — label chains halve every round, so
      // convergence is O(log diameter) rounds, not O(diameter); the
      // labels table is node-sized, making the extra self-join cheap).
      // Labels only ever decrease, so the fixpoint is exactly the
      // per-component min and a no-change round proves convergence.
      val viaEdge = edges.join(labels, edges("src") === labels("doc_id"))
        .select(edges("dst").as("doc_id"), col("label"))
      val viaLabel = labels.as("l1")
        .join(labels.as("l2"), col("l1.label") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("doc_id"), col("l2.label").as("label"))
      val next = labels.union(viaEdge).union(viaLabel)
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val changed = next.as("n").join(labels.as("o"), "doc_id")
        .filter(col("n.label") < col("o.label"))
        .limit(1).count()
      labels = next
      done = changed == 0L
      i += 1
      // Per-round progress is debug chatter — opt in, keep Verify quiet.
      if (sys.props.get("graft.cc.verbose").contains("true"))
        System.err.println(s"[cc] round $i changed=${changed > 0}")
    }
    // A silent non-converged result would split components (and let
    // several "survivors" of one duplicate set through downstream);
    // with pointer doubling maxIters=25 covers diameters up to ~2^25,
    // so reaching the cap means something is genuinely wrong.
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    labels
  }

  /** (doc_id, cluster_id) for every document: connected components
    * over the near-dup pair graph. Only nodes with at least one edge
    * participate in propagation — near-dup graphs are SPARSE (most
    * documents are singletons), so the per-round joins handle the
    * touched minority, not the corpus; singletons rejoin as their own
    * cluster at the end. The edge set is materialized ONCE (it is the
    * expensive part — a union of two directed branches would execute
    * the pair join twice, so both directions come from one explode).
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.materializedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // FAILURE-MODE CONTRACT (the repo's other corpus-proportional
      // checkpoint site — PlanSpec audits the set): the edge frame is
      // pair-graph-sized (sparse, df-capped upstream) and materializes
      // at replication 1 with lineage truncated because every CC round
      // re-reads it — recompute-per-round would re-run the pair join
      // O(log d) times, and an unbroken lineage chain across rounds
      // grows the plan superlinearly. Losing an executor mid-iteration
      // fails the JOB loudly ("Checkpoint block not found") and the
      // caller reruns; it can never silently mislabel a component. The
      // durable belt-and-braces form exists one level up: clusterLabels'
      // OUTPUT is served through the fingerprinted labels artifact, so
      // a rerun is a cache rebuild, not a correctness event.
      .localCheckpoint(true)
    val touched = edges.select(col("src").as("doc_id")).distinct()
    val nodes = Tables(s, dir, "documents").select(col("doc_id"))
    val clustered = connectedComponents(touched, edges)
    val singletons = nodes.join(clustered, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    clustered.union(singletons)
      .select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** The exploded corpus token stream (shared tokenizer —
    * [[graft.search.SearchQueries.tokens]] — so vocab/sketch/quality oracles can never
    * drift apart).
    */
  private def corpusTokens(s: SparkSession, dir: String): DataFrame =
    Tables.forCompute(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))

  /** Deterministic token top-100: partial+final hash agg, then
    * per-partition top-k heaps (TakeOrderedAndProject) under the
    * (count DESC, token) total order.
    */
  private def topTokens(tokens: DataFrame, cntName: String): DataFrame =
    tokens.groupBy(col("token")).agg(count(lit(1)).as(cntName))
      .orderBy(col(cntName).desc, col("token"))
      .limit(100)

  /** Chunk geometry: 64-token chunks, stride 48 (16-token overlap). A
    * chunk start beyond position 1 must contribute at least one token
    * past the previous chunk's coverage (start + overlap <= n_tokens),
    * so a short tail fully contained in its predecessor is not
    * re-emitted. Integer rule, mirrored verbatim in the oracle.
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48
  private val ChunkOverlap = ChunkTokens - ChunkStride

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup CLUSTERS from the ngram-Jaccard pair graph: transitive
    // closure + canonical (min-id) cluster label for every document.
    // Survivor selection is then `doc_id = cluster_id`; every other
    // member names its canonical replacement. DuckDB twin: recursive
    // CTE over the same pair CTEs — a hard (hash-exact) check of an
    // iterative distributed algorithm against a sequential fixpoint.
    "llm_dedup_cluster" -> ((s, dir) =>
      clusterLabels(s, dir).orderBy(col("doc_id"))),

    // INCREMENTAL cluster maintenance — the ingest-time form of
    // cluster resolution: when a batch arrives (src19, the same batch
    // convention as llm_dedup_incremental), do NOT re-run connected
    // components over the corpus. Contract every existing cluster to
    // its label (one node per cluster), add only the delta edges that
    // touch the batch, and run CC on that contracted graph — its size
    // is (touched clusters + batch), not the corpus. Relabeling is
    // then one broadcast-shaped join of the (old label → merged
    // label) map; untouched clusters never shuffle. The contraction
    // is exact, not heuristic: a cluster label IS the min doc id of
    // its sub-component, so the merged component's min over
    // {labels ∪ batch ids} equals the full-recompute min — which is
    // why this query shares the full-recompute recursive-CTE oracle:
    // the gate PROVES incremental == from-scratch.
    "llm_dedup_cluster_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), (col("source") === "src19").as("is_new"))
      val pairs = DedupQueries.materializedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .join(docs.select(col("doc_id").as("doc_a"), col("is_new").as("na")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("is_new").as("nb")), "doc_b")
      def bothWays(df: DataFrame, a: String, b: String) = df
        .select(explode(array(
          struct(col(a).as("src"), col(b).as("dst")),
          struct(col(b).as("src"), col(a).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // Baseline: clusters of the PRE-BATCH corpus, as a fingerprinted
      // LABELS ARTIFACT (built once per ingest like the pair graph) —
      // steady-state, this query's cost is exactly the delta work:
      // partition the pairs, contract, small CC, relabel.
      val store = new graft.etl.IndexStore(s, graft.etl.IndexStore.artifactRoot(dir))
      val fp = "labels_v1:sans-src19:" +
        graft.etl.IndexStore.pathFingerprint(s, s"$dir/documents.parquet")
      val corpusAll = store.readOrBuildArtifact("cluster_labels_base", fp) {
        val cEdges = bothWays(pairs.filter(!col("na") && !col("nb")), "doc_a", "doc_b")
        val corpusCC = connectedComponents(
          cEdges.select(col("src").as("doc_id")).distinct(), cEdges)
        corpusCC.union(
          docs.filter(!col("is_new")).select(col("doc_id"))
            .join(corpusCC, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("doc_id").as("label")))
      }
      // Delta edges on the CONTRACTED graph: corpus endpoints collapse
      // to their cluster label, batch endpoints stand for themselves.
      val contracted = pairs.filter(col("na") || col("nb"))
        .join(corpusAll.select(col("doc_id").as("doc_a"), col("label").as("la")),
          Seq("doc_a"), "left")
        .join(corpusAll.select(col("doc_id").as("doc_b"), col("label").as("lb")),
          Seq("doc_b"), "left")
        .select(coalesce(col("la"), col("doc_a")).as("u"),
          coalesce(col("lb"), col("doc_b")).as("v"))
      val dEdges = bothWays(contracted, "u", "v")
      val remap = connectedComponents(
        dEdges.select(col("src").as("doc_id")).distinct(), dEdges)
        .select(col("doc_id").as("node"), col("label").as("new_label"))
      val corpusFinal = corpusAll
        .join(remap, col("label") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("label")).as("cluster_id"))
      val batchFinal = docs.filter(col("is_new"))
        .join(remap, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("doc_id")).as("cluster_id"))
      corpusFinal.union(batchFinal).orderBy(col("doc_id"))
    }),

    // Dedup survivor selection — the decision the cluster resolution
    // exists to serve: which copy of each duplicate cluster to KEEP.
    // Policy: highest quality wins (integer-ppm type-token ratio, the
    // same exact-arithmetic signal llm_curriculum_shards ranks by),
    // doc_id as the tie-break — a real curation run keeps the
    // best-quality copy, not the lowest id. Shape: cluster labels
    // (pair-artifact connected components) equi-join the narrow
    // quality projection, then ONE per-cluster window; only
    // multi-document clusters surface (singletons need no decision).
    "llm_dedup_survivors" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = tokens(col("text"))
      val docs = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"),
          size(array_distinct(t)).cast("long").as("__nd"),
          size(t).cast("long").as("__nt"))
        .withColumn("q", expr("(__nd * 1000000) DIV __nt"))
        .select(col("doc_id"), col("q"))
      val perCluster = Window.partitionBy(col("cluster_id"))
      val rank = perCluster.orderBy(col("q").desc, col("doc_id"))
      clusterLabels(s, dir).join(docs, "doc_id")
        .withColumn("__rn", row_number().over(rank))
        .withColumn("n_docs", count(lit(1)).over(perCluster))
        .filter(col("n_docs") >= 2 && col("__rn") === 1)
        .select(col("cluster_id"), col("n_docs"),
          col("doc_id").as("survivor_id"), col("q").as("survivor_q"))
        .orderBy(col("cluster_id"))
    }),

    // Semi-supervised LABEL PROPAGATION over the near-dup graph
    // (Zhu & Ghahramani 2002, the LPA family): a small labeled seed
    // set (here every 5th doc, labeled keep/drop by the survivor
    // quality rule) spreads its labels to unlabeled neighbors through
    // 3 synchronous rounds — the cheap way to extend a hand-audited
    // quality sample across a 100 TB corpus when near-duplicates
    // share a quality verdict. Seeds are CLAMPED (never overwritten);
    // an unlabeled node takes the majority label of its labeled
    // neighbors, ties broken (count desc, label asc) so every round
    // is deterministic. Shape per round: one edge⋈labels shuffle join
    // + one (node, label) count agg + a per-node row_number — the
    // standard Pregel round, linear in |E|, fixed round count; the
    // rank filter rides WindowGroupLimit. The 3 rounds unroll into 3
    // CTE levels in the DuckDB twin → hash-exact.
    "llm_label_propagation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = tokens(col("text"))
      val seeds = Tables.forCompute(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          size(array_distinct(t)).cast("long").as("__nd"),
          size(t).cast("long").as("__nt"))
        .withColumn("q", expr("(__nd * 1000000) DIV __nt"))
        .select(col("doc_id"),
          when(col("q") >= 600000, lit("keep")).otherwise(lit("drop"))
            .as("label"),
          lit("seed").as("origin"))
      val pairs = DedupQueries.materializedPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val rank = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("label"))
      var labels = seeds
      for (_ <- 1 to 3) {
        val prop = edges
          .join(labels.select(col("doc_id").as("src"), col("label")), "src")
          .groupBy(col("dst").as("doc_id"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("__rn", row_number().over(rank))
          .filter(col("__rn") === 1)
          .join(seeds.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("label"), lit("propagated").as("origin"))
        labels = seeds.union(prop)
      }
      labels.orderBy(col("doc_id"))
    }),

    // Cross-source contamination matrix: how many near-dup pairs span
    // two DIFFERENT sources — the audit that tells a curation run
    // which feeds are re-hosting each other's content (within-source
    // duplication is expected; cross-source duplication changes
    // dedup-survivor and licensing decisions). Reuses the pair finder;
    // the per-pair source lookup is a join against the narrow
    // (doc_id, source) projection, grouped into the source-pair
    // matrix with a canonical (least, greatest) source ordering.
    "llm_dedup_cross_source" -> ((s, dir) => {
      val pairs = DedupQueries.materializedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .filter(col("src_a") =!= col("src_b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_1"),
          greatest(col("src_a"), col("src_b")).as("source_2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_1"), col("source_2"))
    }),

    // Source-mixture diversity report — the entropy accounting a
    // data-mixture owner reads next to the temperature-resampling
    // knobs: per-source token share and its −p·ln p entropy
    // contribution. Float discipline: each source's contribution is
    // quantized to integer nano-nats BEFORE any cross-row sum (ln on
    // identical doubles agrees across engines — the BM25 precedent —
    // but float SUMMATION order across groups does not, so the only
    // cross-row arithmetic here is exact integer addition). One
    // scan + per-source agg + 1-row total broadcast.
    "llm_source_entropy" -> ((s, dir) => {
      val perSrc = Tables.forCompute(s, dir, "documents")
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"))
      perSrc.crossJoin(broadcast(tot))
        // DECIMAL(38) like PmiExpr: a dominant source's n_tokens is
        // corpus-scale (~10^13 at 100 TB), so n_tokens*10^6 crosses int64.
        .withColumn("share_ppm",
          expr("(CAST(n_tokens AS DECIMAL(38,0)) * 1000000) DIV total_tokens"))
        .withColumn("p", col("n_tokens").cast("double") /
          col("total_tokens").cast("double"))
        .withColumn("entropy_nanonats",
          round(-col("p") * log(col("p")) * lit(1e9), 0).cast("long"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("share_ppm"), col("entropy_nanonats"))
        .orderBy(col("source"))
    }),

    // ROUGE-1 recall over the near-dup pairs — the EVAL-metric side of
    // dedup: Jaccard says two docs share vocabulary; ROUGE-1 recall
    // (multiset unigram overlap / reference length, Lin 2004) says how
    // much of doc_b a model that memorized doc_a could reproduce —
    // the memorization-risk number contamination reports quote. Exact
    // integer arithmetic: overlap = Σ min(tf_a, tf_b) per term (the
    // multiset intersection), recall in DIV ppm. Scale shape: the
    // per-doc term-frequency table is corpus-sized but every join is
    // a shuffle equi-join keyed on (doc, term) — pair-graph-shaped
    // work, never corpus²; rides the same materialized pair artifact
    // as every other pair consumer.
    "llm_rouge_pairs" -> ((s, dir) => {
      val pairs = DedupQueries.materializedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val tf = Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      val lens = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("len"))
      val inter = pairs
        .join(tf.select(col("doc_id").as("doc_a"), col("term"), col("c").as("ca")), "doc_a")
        .join(tf.select(col("doc_id").as("doc_b"), col("term"), col("c").as("cb")),
          Seq("doc_b", "term"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(least(col("ca"), col("cb"))).as("overlap"))
      inter
        .join(lens.select(col("doc_id").as("doc_b"), col("len").as("len_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("overlap"), col("len_b"),
          expr("(overlap * 1000000) DIV len_b").as("rouge1_recall_ppm"))
        .orderBy(col("rouge1_recall_ppm").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // Overlapping token chunking — the pre-training/RAG splitter.
    // Per-row sequence+explode+slice, no shuffle; chunk text leaves
    // the operator as md5 so the comparison surface stays narrow.
    "llm_chunk_docs" -> ((s, dir) => {
      val w = tokens(col("text"))
      Tables.forCompute(s, dir, "documents")
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), col("w"),
          explode(filter(
            sequence(lit(1), greatest(size(col("w")), lit(1)), lit(ChunkStride)),
            st => (st === 1) || (st + lit(ChunkOverlap) <= size(col("w")))))
            .as("st"))
        .select(
          col("doc_id"),
          expr(s"CAST((st - 1) DIV $ChunkStride AS BIGINT)").as("chunk_idx"),
          least(lit(ChunkTokens), size(col("w")) - col("st") + 1).as("n_tokens"),
          md5(concat_ws(" ", slice(col("w"), col("st"), lit(ChunkTokens))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Corpus vocabulary top-k: token explode → partial+final hash agg
    // → per-partition top-k heaps (TakeOrderedAndProject). The
    // deterministic (cnt DESC, token) tiebreak makes the boundary
    // oracle-exact.
    "llm_vocab_topk" -> ((s, dir) =>
      topTokens(corpusTokens(s, dir), "cnt")),

    // END-TO-END CURATION PIPELINE — the composition a pre-training
    // data run actually executes, as ONE declarative plan: near-dup
    // survivor selection (connected components over the pair graph,
    // keep the canonical member) → quality cut (3-gram repetition
    // ratio ≤ 0.2 in integer form + minimum length) → deterministic
    // content-hash split → per-(split, lang) corpus accounting. Every
    // stage reuses the operator the suite verifies in isolation, and
    // the DuckDB twin composes the same CTEs — so the hash check
    // covers the COMPOSITION (join order, filter interaction, split
    // stability), not just the parts.
    "llm_curate_pipeline" -> ((s, dir) => {
      val docs = Tables.forCompute(s, dir, "documents")
      val survivors = clusterLabels(s, dir)
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))
      val tks = tokens(col("text"))
      // Quality stats as a PERSISTED projection: the quality filter
      // below would otherwise be pushed through the survivor join and
      // the forCompute repartition onto the single-partition scan,
      // single-threading the 3-gram evaluation (the same pushdown trap
      // as the minhash shingle filter — the cache is the barrier).
      // r15: the projection is NARROW — guide §2.3/§5. The r14 shape
      // persisted every doc column INCLUDING text (the corpus bytes,
      // cached, only so split could be computed downstream); computing
      // split here (deterministic per doc — same value on every row
      // that survives, so results are unchanged) drops text from the
      // cache, leaving 6 scalar columns per doc: the cache shrinks
      // from corpus-sized to metadata-sized at every scale, for one
      // extra md5 over the docs the filter would have discarded.
      val scored = docs
        .select(col("doc_id"), col("lang"), col("n_chars"),
          greatest(size(tks) - 2, lit(0)).as("total3"),
          size(DedupQueries.shingles3(col("text"))).as("uniq3"),
          PipelineQueries.splitBucket(col("text")).as("split"))
        .transform(graft.Pins.pin)
      scored
        .join(survivors, Seq("doc_id")) // keep canonical members only
        .filter(col("total3") > 0 &&
          (col("total3") - col("uniq3")) * 5 <= col("total3") && // dup ratio <= 0.2
          col("n_chars") >= 100)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"), col("lang"))
    }),

    // Heavy hitters via a distributed Count-Min sketch — the
    // bounded-memory twin of `llm_vocab_topk` for when the token
    // domain doesn't fit a hash aggregate (URLs, n-grams, user ids at
    // 100 TB). ENGINE-OWNED sketch: the d×w cell matrix is a relational
    // aggregate — groupBy (row i, bucket h_i(token)) with map-side
    // partial combine, so shuffle volume is O(d·w) per partition (the
    // classic mergeable-sketch property) regardless of token
    // cardinality; here cells fold from the exact counts the top-k
    // needs anyway (additivity makes that equivalent to per-occurrence
    // inserts). Owning the hash (first 8 md5 hex digits mod w — the
    // same cross-engine-pinned md5 every split/sample op uses, vs
    // Spark's opaque CountMinSketch murmur) makes the ESTIMATES
    // bit-identical in DuckDB, so this is hash-checked end to end —
    // was rows-only under the built-in sketch (VERDICT r02 #6).
    // Output: exact vs estimated count per top-100 token; the CMS
    // guarantees (estimate >= exact; overflow <= eps·N w.h.p.) are
    // additionally asserted in LlmSpec.
    "llm_heavy_hitters_cms" -> ((s, dir) => {
      val d = 5    // depth: P(est - exact > eps·N) <= e^-d per row set
      val w = 2719 // width: ceil(e / eps), eps = 1e-3
      def bucket(t: Column, i: Column): Column =
        pmod(conv(substring(md5(concat(t, lit("#"), i)), 1, 8), 16, 10)
          .cast("long"), lit(w))
      val cnts = corpusTokens(s, dir)
        .groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
        .transform(graft.Pins.pin)
      val cells = cnts
        .select(col("token"), col("exact_cnt"),
          explode(sequence(lit(0), lit(d - 1))).as("i"))
        .groupBy(col("i"), bucket(col("token"), col("i")).as("b"))
        .agg(sum(col("exact_cnt")).as("cell"))
      val top = cnts.orderBy(col("exact_cnt").desc, col("token")).limit(100)
      // Probe: 100 candidates × d rows against the d·w-row sketch —
      // both sides bounded, AQE broadcasts the candidate side.
      top
        .select(col("token"), col("exact_cnt"),
          explode(sequence(lit(0), lit(d - 1))).as("i"))
        .withColumn("b", bucket(col("token"), col("i")))
        .join(cells, Seq("i", "b"))
        .groupBy(col("token"), col("exact_cnt"))
        .agg(min(col("cell")).as("cms_cnt"))
        .orderBy(col("exact_cnt").desc, col("token"))
    }),

    // Distribution-tail trim: drop the bottom and top 5% of documents
    // by n_chars, at VALUE granularity (a length value is kept iff any
    // of its cumulative-count span lies inside (5%, 95%]) — all-integer
    // rule: cum*20 > total && (cum-cnt)*20 < 19*total. The histogram
    // window is over distinct length VALUES (metadata-sized), never the
    // corpus rows; kept-values broadcast back against the scan.
    "llm_length_trim" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val hist = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
      // Single-partition window is safe here: hist has one row per
      // DISTINCT length value, not per document.
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val total = docs.agg(count(lit(1)).as("total"))
      val kept = cum.crossJoin(broadcast(total))
        .filter(col("cum") * 20 > col("total") &&
          (col("cum") - col("cnt")) * 20 < col("total") * 19)
        .select(col("n_chars"))
      docs.join(broadcast(kept), Seq("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // Graph centrality over the near-dup pair graph — PageRank, three
    // power iterations at damping 17/20, in EXACT scaled-integer
    // arithmetic (rank mass scaled by 10¹², every division integral
    // and identically truncated by both engines), so a graph
    // algorithm usually run as float message-passing hash-checks
    // against an unrolled-CTE oracle. The curation use: inside a
    // duplicate cluster, centrality separates the canonical document
    // (linked to many variants) from drive-by near-matches — a
    // graph-informed survivor signal next to llm_dedup_survivors'
    // quality rule. Shape per iteration: one join of ranks against
    // the edge list + one aggregation — the standard Pregel round as
    // two shuffles, linear in |E|; the edge list is the materialized
    // pair artifact (built once per ingest), never recomputed here.
    // Dangling mass (docs with no near-dup edges) is dropped rather
    // than redistributed — the standard simplification; their ranks
    // stay at the teleport floor, which is the analytically right
    // answer for the curation question.
    "llm_graph_centrality" -> ((s, dir) => {
      val S = 1000000000000L
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val pairs = DedupQueries.materializedPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val teleport = 3L * S / (20L * n) // (1−d)·S/N, exact integer
      var r = docs.withColumn("rank", lit(S / n))
      for (_ <- 1 to 3) {
        val contrib = r.join(deg, r("doc_id") === deg("src"))
          .select(col("src"), expr("rank DIV deg").as("c"))
        val sums = edges.join(contrib, "src")
          .groupBy(col("dst")).agg(sum(col("c")).as("sum_c"))
        r = docs.join(sums, docs("doc_id") === sums("dst"), "left")
          .select(col("doc_id"),
            (lit(teleport) +
              expr("(17 * coalesce(sum_c, CAST(0 AS BIGINT))) DIV 20"))
              .as("rank"))
      }
      r.join(deg, r("doc_id") === deg("src"), "left")
        .select(col("doc_id"),
          coalesce(col("deg"), lit(0L)).cast("long").as("degree"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(20)
    }),

    // Triangle census of the near-dup graph — the structure metric
    // next to PageRank (llm_graph_centrality): triangle count, open
    // wedges, and global transitivity 3·△/wedges. High transitivity
    // says near-dup pairs close into dense cliques (template families
    // — safe to collapse to one survivor); low says long chains, where
    // transitive-closure dedup over-merges (A~B~C with A̸~C) — the
    // number a curation owner checks before trusting connected-
    // component clustering. Scale shape: the classic ordered
    // node-iterator join — edges are canonically a<b, so each triangle
    // (a<b<c) is found exactly once by joining wedge (a,b)+(b,c)
    // against edge (a,c); all equi-joins on vertex ids, shuffle
    // O(Σ deg²), with degrees bounded because the pair graph is
    // df-capped at the shingle level (no quadratic star explosions
    // from boilerplate — the cap already cut them). Wedge counts ride
    // the degree table; everything is exact integer arithmetic
    // (transitivity in ppm via DIV), so the census hash-checks against
    // the re-derived pair graph in DuckDB.
    "llm_graph_triangles" -> ((s, dir) => {
      val edges = DedupQueries.materializedPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val deg = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val tri = edges.as("e1")
        .join(edges.as("e2"), col("e1.b") === col("e2.a"))
        .join(edges.as("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = deg.agg(
        count(lit(1)).as("n_nodes"),
        coalesce(sum(expr("(deg * (deg - 1)) DIV 2")), lit(0L)).as("n_wedges"))
      val ecount = edges.agg(count(lit(1)).as("n_edges"))
      wedges.crossJoin(broadcast(ecount)).crossJoin(broadcast(tri)) // 1-row aggs
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          // DECIMAL(38): a duplicate cluster of k docs contributes C(k,3)
          // triangles — one 10^6-doc cluster is ~10^17, so 3*tri*10^6
          // crosses int64 long before the corpus does.
          expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (CAST(3 AS DECIMAL(38,0)) * n_triangles * 1000000) DIV n_wedges END")
            .as("transitivity_ppm"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "llm_dedup_cluster" ->
      s"""WITH RECURSIVE ${DedupQueries.ngramPairsCtes},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM good),
         |reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id)
         |SELECT doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Deliberately IDENTICAL to llm_dedup_cluster's from-scratch
    // fixpoint: the incremental contraction must land on exactly the
    // labels a full recompute produces — the gate proves it.
    "llm_dedup_cluster_incremental" ->
      s"""WITH RECURSIVE ${DedupQueries.ngramPairsCtes},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM good),
         |reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id)
         |SELECT doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_dedup_survivors" ->
      s"""WITH RECURSIVE ${DedupQueries.ngramPairsCtes},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM good),
         |reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id),
         |labels AS (
         |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         |quality AS (
         |  SELECT doc_id,
         |    (len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) * 1000000)
         |      // len(regexp_split_to_array(lower(text), '\\s+')) AS q
         |  FROM documents),
         |ranked AS (
         |  SELECT l.cluster_id, q.doc_id, q.q,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY q.q DESC, q.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY l.cluster_id) AS n_docs
         |  FROM labels l JOIN quality q USING (doc_id))
         |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
         |       doc_id AS survivor_id, CAST(q AS BIGINT) AS survivor_q
         |FROM ranked WHERE n_docs >= 2 AND rn = 1
         |ORDER BY cluster_id""".stripMargin,
    // Same seed rule (every 5th doc, survivor q >= 0.6), same clamped
    // majority vote with (count desc, label asc) ties, 3 rounds
    // unrolled into l1..l3.
    "llm_label_propagation" -> {
      val rounds = (1 to 3).map { k =>
        s"""p$k AS (
           |  SELECT dst AS doc_id, label, count(*) AS cnt
           |  FROM edges JOIN l${k - 1} ON src = l${k - 1}.doc_id
           |  GROUP BY 1, 2),
           |r$k AS (
           |  SELECT doc_id, label,
           |    row_number() OVER (PARTITION BY doc_id
           |                       ORDER BY cnt DESC, label) AS rn
           |  FROM p$k),
           |l$k AS (
           |  SELECT doc_id, label FROM seeds
           |  UNION ALL
           |  SELECT doc_id, label FROM r$k
           |  WHERE rn = 1 AND doc_id NOT IN (SELECT doc_id FROM seeds))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ${DedupQueries.ngramPairsCtes},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM good),
         |seeds AS (
         |  SELECT doc_id,
         |    CASE WHEN (len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) * 1000000)
         |           // len(regexp_split_to_array(lower(text), '\\s+')) >= 600000
         |         THEN 'keep' ELSE 'drop' END AS label
         |  FROM documents WHERE doc_id % 5 = 0),
         |l0 AS (SELECT doc_id, label FROM seeds),
         |$rounds
         |SELECT doc_id, label,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM seeds)
         |       THEN 'seed' ELSE 'propagated' END AS origin
         |FROM l3 ORDER BY doc_id""".stripMargin
    },
    "llm_dedup_cross_source" ->
      s"""WITH ${DedupQueries.ngramPairsCtes}
         |SELECT least(sa.source, sb.source) AS source_1,
         |       greatest(sa.source, sb.source) AS source_2,
         |       count(*) AS n_pairs
         |FROM good
         |JOIN documents sa ON doc_a = sa.doc_id
         |JOIN documents sb ON doc_b = sb.doc_id
         |WHERE sa.source <> sb.source
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "llm_chunk_docs" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
         |  FROM documents)
         |SELECT doc_id,
         |  CAST((i - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
         |  CAST(least($ChunkTokens, len(w) - i + 1) AS INT) AS n_tokens,
         |  md5(array_to_string(w[i : i + ${ChunkTokens - 1}], ' ')) AS chunk_md5
         |FROM t, unnest(generate_series(1, greatest(len(w), 1), $ChunkStride)) AS u(i)
         |WHERE i = 1 OR i + $ChunkOverlap <= len(w)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "llm_curate_pipeline" ->
      s"""WITH RECURSIVE ${DedupQueries.ngramPairsCtes},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM good
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM good),
         |reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id),
         |labels AS (
         |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         |nd AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id),
         |final AS (
         |  SELECT d.lang, d.n_chars,
         |    CASE WHEN substr(md5(lower(trim(d.text))), 1, 1) IN ('d','e','f')
         |         THEN 'eval' ELSE 'train' END AS split
         |  FROM documents d
         |  JOIN labels l ON d.doc_id = l.doc_id AND l.cluster_id = d.doc_id
         |  JOIN t ON d.doc_id = t.doc_id
         |  LEFT JOIN nd ON d.doc_id = nd.doc_id
         |  WHERE greatest(len(t.w) - 2, 0) > 0
         |    AND (greatest(len(t.w) - 2, 0) - coalesce(nd.n_distinct, 0)) * 5
         |        <= greatest(len(t.w) - 2, 0)
         |    AND d.n_chars >= 100)
         |SELECT split, lang, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM final GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same d/w/hash as the Spark side: cells are integer sums over an
    // md5-derived bucket, so estimates match bit-for-bit.
    "llm_heavy_hitters_cms" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token),
        |cells AS (
        |  SELECT i,
        |    ('0x' || substr(md5(token || '#' || i), 1, 8))::BIGINT % 2719 AS b,
        |    sum(exact_cnt) AS cell
        |  FROM cnts CROSS JOIN unnest(generate_series(0, 4)) AS u(i)
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT token, exact_cnt FROM cnts
        |  ORDER BY exact_cnt DESC, token LIMIT 100)
        |SELECT t.token, t.exact_cnt, CAST(min(c.cell) AS BIGINT) AS cms_cnt
        |FROM top t
        |CROSS JOIN unnest(generate_series(0, 4)) AS u(i)
        |JOIN cells c ON c.i = u.i
        | AND c.b = ('0x' || substr(md5(t.token || '#' || u.i), 1, 8))::BIGINT % 2719
        |GROUP BY 1, 2
        |ORDER BY exact_cnt DESC, token""".stripMargin,
    "llm_vocab_topk" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin,
    "llm_length_trim" ->
      """WITH hist AS (
        |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars),
        |cum AS (
        |  SELECT n_chars, cnt, sum(cnt) OVER (ORDER BY n_chars) AS cum FROM hist),
        |tot AS (SELECT count(*) AS total FROM documents),
        |kept AS (
        |  SELECT n_chars FROM cum, tot
        |  WHERE cum * 20 > total AND (cum - cnt) * 20 < total * 19)
        |SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        |FROM documents d JOIN kept USING (n_chars)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // Three power iterations unrolled (c/s/r per round), same scaled-
    // integer arithmetic; `good` is the same Jaccard pair rule the
    // engine's artifact materializes.
    "llm_graph_centrality" ->
      (s"""WITH ${DedupQueries.ngramPairsCtes},
          |edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM good
          |  UNION ALL
          |  SELECT doc_b AS src, doc_a AS dst FROM good),
          |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
          |nn AS (SELECT count(*) AS n FROM documents),
          |r0 AS (
          |  SELECT doc_id, 1000000000000 // n AS rank
          |  FROM documents CROSS JOIN nn)""".stripMargin +
        (1 to 3).map { t =>
          s""",
             |c$t AS (
             |  SELECT src, rank // deg AS c
             |  FROM r${t - 1} JOIN deg ON doc_id = src),
             |s$t AS (
             |  SELECT dst, sum(c) AS sum_c
             |  FROM edges JOIN c$t USING (src) GROUP BY 1),
             |r$t AS (
             |  SELECT doc_id,
             |    3000000000000 // (20 * n)
             |      + (17 * coalesce(sum_c, 0)) // 20 AS rank
             |  FROM documents CROSS JOIN nn
             |  LEFT JOIN s$t ON doc_id = dst)""".stripMargin
        }.mkString +
        """
          |SELECT r3.doc_id,
          |  CAST(coalesce(deg, 0) AS BIGINT) AS degree,
          |  CAST(rank AS BIGINT) AS rank
          |FROM r3 LEFT JOIN deg ON r3.doc_id = deg.src
          |ORDER BY rank DESC, doc_id LIMIT 20""".stripMargin),
    // Per-source quantization to nano-nats before any cross-row sum.
    "llm_source_entropy" ->
      """WITH perSrc AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM perSrc)
        |SELECT source, n_docs, n_tokens,
        |  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // total_tokens AS BIGINT)
        |    AS share_ppm,
        |  CAST(round(-(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
        |       * ln(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
        |       * 1e9, 0) AS BIGINT) AS entropy_nanonats
        |FROM perSrc CROSS JOIN tot ORDER BY source""".stripMargin,
    // Pair seed re-derived via the shared CTEs; multiset intersection
    // as Σ min(tf_a, tf_b), recall floored to ppm.
    "llm_rouge_pairs" ->
      s"""WITH ${DedupQueries.ngramPairsCtes},
         |tf AS (
         |  SELECT doc_id, term, count(*) AS c FROM (
         |    SELECT doc_id,
         |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |    FROM documents)
         |  WHERE len(term) > 0 GROUP BY 1, 2),
         |lens AS (SELECT doc_id, sum(c) AS len FROM tf GROUP BY 1),
         |inter AS (
         |  SELECT g.doc_a, g.doc_b,
         |    CAST(sum(least(ta.c, tb.c)) AS BIGINT) AS overlap
         |  FROM good g
         |  JOIN tf ta ON ta.doc_id = g.doc_a
         |  JOIN tf tb ON tb.doc_id = g.doc_b AND tb.term = ta.term
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.overlap,
         |  CAST(l.len AS BIGINT) AS len_b,
         |  CAST((i.overlap * 1000000) // l.len AS BIGINT) AS rouge1_recall_ppm
         |FROM inter i JOIN lens l ON l.doc_id = i.doc_b
         |ORDER BY rouge1_recall_ppm DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // Same ordered 3-way self-join over the re-derived `good` pair
    // graph; all-integer census, transitivity floored to ppm.
    "llm_graph_triangles" ->
      s"""WITH ${DedupQueries.ngramPairsCtes},
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM good),
         |deg AS (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
         |  GROUP BY 1),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
         |       JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b),
         |wed AS (
         |  SELECT count(*) AS n_nodes,
         |         coalesce(sum((deg * (deg - 1)) // 2), 0) AS n_wedges
         |  FROM deg),
         |ec AS (SELECT count(*) AS n_edges FROM edges)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(n_wedges AS BIGINT) AS n_wedges,
         |  CAST(n_triangles AS BIGINT) AS n_triangles,
         |  CAST(CASE WHEN n_wedges = 0 THEN 0
         |       ELSE (CAST(3 AS HUGEINT) * n_triangles * 1000000) // n_wedges END AS BIGINT)
         |    AS transitivity_ppm
         |FROM wed, ec, tri""".stripMargin
  )
}
