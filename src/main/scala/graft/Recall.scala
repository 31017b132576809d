package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import java.nio.file.{Files, Paths}

/** Quantified-accuracy dump for the approximate operators whose outputs
  * are engine-specific (seeded LSH, banded signatures, KMeans blocking)
  * and therefore get rows-only driver checks instead of a DuckDB twin:
  * this main measures each against its brute-force ground truth at the
  * given SF and writes per-operator recall/overlap to a JSON artifact —
  * turning "rows-only pass" into a number a reviewer can audit.
  *
  * MEASUREMENT CLI, NOT A QUERY PATH: the brute-force ground truths
  * here use `collect()` and all-pairs self-joins deliberately — they
  * are the O(n²) oracles the approximate operators exist to avoid, run
  * once at small SF to quantify those operators. Nothing in this file
  * is reachable from SparkEntry.queries.
  *
  * Usage: Recall <sfDir> <outFile>  (defaults: sf0.01, RECALL.json)
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "RECALL.json"
    val spark = Engine.session()

    def pairsOf(name: String): Set[(Long, Long)] = {
      val s = SparkEntry.queries(name)(spark, sfDir)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      s
    }
    def idsOf(name: String): Set[Long] = {
      val s = SparkEntry.queries(name)(spark, sfDir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      spark.catalog.clearCache()
      s
    }
    def recallEntry(truth: Set[(Long, Long)], found: Set[(Long, Long)]): String = {
      val hit = truth.count(found.contains)
      val fp = (found -- truth).size
      val recall = if (truth.isEmpty) 1.0 else hit.toDouble / truth.size
      // formatLocal: the default-locale f"" would emit comma decimal
      // separators (invalid JSON) on non-en JVMs — same rule as Bench.
      val r = "%.4f".formatLocal(java.util.Locale.US, recall)
      s"""{"ground_truth_pairs":${truth.size},"found_pairs":${found.size},"true_hits":$hit,"false_positives":$fp,"recall":$r}"""
    }

    // Ground truth 1: exact n-gram Jaccard >= 0.2 pairs (itself
    // DuckDB-verified) — the target for both MinHash variants.
    val exactJaccard = pairsOf("llm_dedup_ngram_jaccard")
    val minhashMl = pairsOf("llm_dedup_minhash")
    val minhashBanded = pairsOf("llm_dedup_minhash_banded")
    // The 16×2 production operating point targets J ≥ 0.7 (SCALE.md
    // operating rule) — its ground truth is the exact pair set
    // THRESHOLDED at that J, derived from the same DuckDB-verified
    // exact query (it carries inter/union_sz).
    val exactJaccard70: Set[(Long, Long)] = {
      val s = SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, sfDir)
        .filter(col("inter") * 10 >= col("union_sz") * 7)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      s
    }
    val minhashBanded16x2 = pairsOf("llm_dedup_minhash_banded_16x2")

    // Ground truth 2: brute-force all-pairs SimHash hamming <= 3 (the
    // banded query's own distance + threshold, minus the band blocking —
    // measures exactly what blocking loses; pigeonhole over 4 bands
    // predicts exactly zero loss at k=3).
    val sh = Tables.forCompute(spark, sfDir, "documents")
      .select(col("doc_id"),
        call_function("simhash_md5", col("text")).as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("lo"), element_at(col("sig"), 2).as("hi"))
      .persist()
    val simhashTruth = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
        bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    val simhashBanded = pairsOf("llm_dedup_simhash")

    // Ground truth 3: brute-force cosine >= 0.4 pairs over embeddings —
    // the target for the KMeans-cell-blocked near-dup join.
    val e = Tables(spark, sfDir, "embeddings")
      .withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))
      .select(col("vec_id"), col("emb")).persist()
    val cosineTruth = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        llm.SimilarityQueries.cosine(col("a.emb"), col("b.emb")).as("c"))
      .filter(col("c") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    e.unpersist()
    val cosineBlocked = SparkEntry.queries("llm_dedup_embedding_cosine")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()

    // SemDeDup's pruning decision, measured as an ID set: brute-force
    // dropped = every vector with ANY lower-id cosine>=0.4 neighbor
    // (the min-id rule applied to the all-pairs truth); the query's
    // dropped set differs only by pairs the KMeans-cell blocking
    // missed. Reuses cosineTruth — the rule is pure set arithmetic.
    val semdedupTruthDropped: Set[(Long, Long)] =
      cosineTruth.groupBy(_._2).iterator.map { case (b, ps) =>
        (ps.map(_._1).min, b) }.toSet
    val semdedupDropped: Set[(Long, Long)] =
      SparkEntry.queries("llm_semdedup")(spark, sfDir)
        .select(col("rep_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()

    // Ground truth 4: exact top-10 in EACH index's own metric — IVF
    // ranks by cosine (vs the exact cosine top-10), but the LSH query
    // ranks by L2 distance, so its ground truth is the exact L2 top-10
    // (on non-normalized embeddings the two orderings differ, and
    // mixing them would conflate metric mismatch with approximation
    // loss).
    val exactTop = idsOf("llm_cosine_topk")
    import llm.SimilarityQueries.{embDouble, l2sq, queryVec}
    val e2 = embDouble(Tables(spark, sfDir, "embeddings"))
    // Same rounding as the LSH query's l2_dist (6 decimals) so a
    // sub-rounding tie at the top-10 boundary can't masquerade as
    // approximation loss.
    val exactL2Top = e2.crossJoin(queryVec(e2)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(sqrt(l2sq(col("emb"), col("qv"))), 6).as("l2"))
      .orderBy(col("l2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val lshTop = idsOf("llm_ann_lsh_topk")
    val ivfTop = idsOf("llm_ann_ivf_topk")
    // PQ and IVFADC rank by ADC-approximated L2 then re-rank exactly —
    // same ground truth as LSH.
    val pqTop = idsOf("llm_ann_pq_topk")
    val sq8Top = idsOf("llm_ann_sq8_topk")
    val ivfpqTop = idsOf("llm_ann_ivfpq_topk")
    val indexedTop = idsOf("llm_ann_indexed_topk")
    // Binary-sign (1-bit) quantization re-ranks exactly from a
    // Hamming shortlist — same L2 ground truth.
    val binaryTop = idsOf("llm_ann_binary_topk")

    // Filtered ANN: overlap vs the FILTERED brute-force truth (the
    // correct ground truth for metadata-constrained search).
    val filteredTruth = idsOf("llm_cosine_topk_filtered")
    val filteredAnn = idsOf("llm_ann_filtered_topk")

    // rel_approx_agg / search_facets_cardinality /
    // search_facets_percentiles no longer appear here: since round 8
    // they run on the ENGINE-OWNED deterministic sketches (hll_est
    // m=4096, HDR 6-bit buckets) and are hash-checked by the DuckDB
    // oracle directly — drift bounds live in LlmSpec. RECALL now
    // quantifies only the genuinely seeded/approximate families
    // (dedup recall, ANN overlap).
    val json =
      s"""{
         |"sf":"$sfDir",
         |"llm_dedup_minhash":${recallEntry(exactJaccard, minhashMl)},
         |"llm_dedup_minhash_banded":${recallEntry(exactJaccard, minhashBanded)},
         |"llm_dedup_minhash_banded_16x2":${recallEntry(exactJaccard70, minhashBanded16x2)},
         |"llm_dedup_simhash":${recallEntry(simhashTruth, simhashBanded)},
         |"llm_dedup_embedding_cosine":${recallEntry(cosineTruth, cosineBlocked)},
         |"llm_semdedup":${recallEntry(semdedupTruthDropped, semdedupDropped)},
         |"llm_ann_lsh_topk":{"overlap_at_10":${(exactL2Top & lshTop).size}},
         |"llm_ann_ivf_topk":{"overlap_at_10":${(exactTop & ivfTop).size}},
         |"llm_ann_pq_topk":{"overlap_at_10":${(exactL2Top & pqTop).size}},
         |"llm_ann_sq8_topk":{"overlap_at_10":${(exactL2Top & sq8Top).size}},
         |"llm_ann_ivfpq_topk":{"overlap_at_10":${(exactL2Top & ivfpqTop).size}},
         |"llm_ann_indexed_topk":{"overlap_at_10":${(exactL2Top & indexedTop).size}},
         |"llm_ann_binary_topk":{"overlap_at_10":${(exactL2Top & binaryTop).size}},
         |"llm_ann_filtered_topk":{"overlap_at_10":${(filteredTruth & filteredAnn).size}}
         |}""".stripMargin
    Files.writeString(Paths.get(outFile), json)
    println(json)
    spark.stop()
  }
}
