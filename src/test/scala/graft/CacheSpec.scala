package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library-hygiene contract: no registered query leaks a cache entry.
  *
  * A `.persist` inside a query path is invisible to the caller — the
  * returned frame gives them nothing to unpersist, so every invocation
  * leaks one cache entry for the life of the session (Verify/Bench
  * used to paper over this with `clearCache()`). The similarity/dedup
  * family is the historical offender (five persisted embeddings
  * frames); this spec pins the fixed behavior for the whole family,
  * plus the artifact-building ingest paths which are allowed to
  * persist DURING the build but must release before returning.
  */
class CacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private val family = Seq(
    "llm_ann_pq_topk",
    "llm_ann_sq8_topk",
    "llm_ann_indexed_topk",
    "llm_cosine_topk")

  test("similarity/dedup queries leave the cache manager empty after materializing") {
    spark.sharedState.cacheManager.clearCache()
    for (name <- family) {
      SparkEntry.queries(name)(spark, sf).collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a cache entry behind — a library caller can never release it")
    }
  }

  /** Operators that persist a multi-consumer intermediate (signature
    * tables, posting lists, optimizer-barrier frames) register it with
    * [[Pins]] — the documented cleanup handle. The contract under
    * test: Pins.release(spark) after materialization leaves the cache
    * manager EMPTY (nothing persists outside the registry), so a
    * long-lived library session releasing at batch boundaries never
    * accumulates entries. Verify/Bench call exactly this between
    * queries.
    */
  private val pinnedFamily = Seq(
    // Since round 12 the two inline-demo IVF queries persist their
    // assignment frame (one O(N·nList·dim) kernel pass shared by the
    // geometry-escalation census and the serving filter) — registered
    // with Pins like every other multi-consumer intermediate.
    "llm_ann_ivf_topk",
    "llm_ann_ivfpq_topk",
    "llm_dedup_embedding_cosine",
    "llm_semdedup",
    "llm_dedup_simhash",
    "llm_dedup_minhash",
    "llm_dedup_minhash_banded",
    "llm_dedup_winnow",
    "llm_dedup_ngram_jaccard",
    "llm_curate_pipeline",
    "llm_heavy_hitters_cms",
    // TPC-H divergent engine sides that persist the shared frame the
    // broadcast scalar derives from (q11 r14, q15 r15).
    "sql_q11_important_stock",
    "sql_q15_top_supplier",
    // llm_decontaminate stopped persisting in r15 (per-branch split
    // filters replaced the corpus-scale exploded-frame cache); kept in
    // the sweep as a regression tripwire — the assert is "empty after
    // release", which a query that persists nothing satisfies and a
    // future re-persist outside Pins would fail.
    "llm_decontaminate",
    // r15: the exact-percentile value histogram is Pins-persisted
    // (sketch agg + coarse offsets + fine window all derive from it);
    // the PrefixSum-riding operators below persist NOTHING after the
    // scan returns (the prefix-sum input persist is released inside
    // exclusivePrefixSum the moment the eager checkpoint
    // materializes) — swept as tripwires.
    "rel_hdr_quantiles",
    "llm_pack_sequences",
    "llm_curriculum_shards",
    "mm_phash_dedup")

  test("persisting operators release every cache entry through Pins.release") {
    spark.sharedState.cacheManager.clearCache()
    for (name <- pinnedFamily) {
      SparkEntry.queries(name)(spark, sf).collect()
      Pins.release(spark)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name persisted outside the Pins registry — the documented " +
          "cleanup handle cannot release it")
    }
  }

  test("exclusivePrefixSum leaves a caller's cache of its input in place") {
    // The operator persists its input for two jobs and releases what it
    // persisted; a frame the CALLER cached must come out still cached.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    spark.sharedState.cacheManager.clearCache()
    val in = spark.range(0, 2000).select(col("id"), (col("id") % 7).as("v")).cache()
    try {
      in.count()
      val out = relational.PrefixSum.exclusivePrefixSum(in, Seq(col("id")), col("v"), "pre")
      assert(out.count() == 2000)
      assert(in.storageLevel != StorageLevel.NONE,
        "exclusivePrefixSum released a cache entry its caller made")
    } finally in.unpersist(true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
