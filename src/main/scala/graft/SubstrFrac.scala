package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Direct measurement of the exact-substring operator's superlinearity
  * MECHANISM: the pairable-position fraction p(N) (round-12 verdict #2).
  *
  * Round 12 established the structure: with the pairability Bloom, the
  * substring pair finder's shuffle = one linear gram-stats pass + two
  * join sides whose volume is (to Bloom fpp) the PAIRABLE positions —
  * positions whose SpanK-gram occurs in 2..MaxSpanGramDf distinct docs.
  * The measured 300×→1000× segment slope of 1.44 is therefore exactly
  * the growth of p(N): coincidental k-char repeats emerging as the
  * corpus grows. The round-13 k20 witness showed the join itself stops
  * fitting this sandbox's disk right where that growth is steepest, so
  * the settling constant cannot be read from end-to-end shuffle here.
  * This diagnostic measures p(N) WITHOUT the join — and, via gram-hash
  * stratified sampling, without even the full stats shuffle — so the
  * mechanism curve extends decades past the join's disk bound.
  *
  * Sampling: restrict to grams with pmod(gh, S) = 0 BEFORE the df
  * aggregate. gh is xxhash64 of the gram text, so the stratum is a
  * uniform 1/S of gram SPECIES, each with its EXACT global df (every
  * position of a sampled gram lands in the stratum); multiplying the
  * stratum's position masses by S is the standard unbiased species-
  * stratified estimator, and the stats shuffle shrinks by S. S=1 is
  * the exact census. The estimator is validated in LlmSpec: on the
  * fixture, S=4 strata each reproduce the exact band fractions within
  * sampling noise, and the S=1 census equals substringIslands' own
  * nEligible accounting.
  *
  * The CLI that wrote SUBSTRFRAC.jsonl last exists in commit a7d2fb6.
  */
object SubstrFrac {
  /** One measurement — the LlmSpec estimator validation runs it.
    *
    * Returns (pos_total, pos_band, pos_hot, grams_total, grams_band,
    * pairs_band): pairs_band is the SELF-JOIN OUTPUT mass the band
    * produces — per gram, Σ_{docs i<j} occ_i·occ_j = (occ² − Σocc_i²)/2
    * — i.e. the row count of the pair frame the diagonal-island
    * windows then shuffle. The round-13 p(N) census showed the join
    * INPUT fraction (pos_band/pos_total) is flat across decades, so
    * THIS is the term whose growth is the measured 300×→1000×
    * superlinearity; its per-position ceiling is hard-bounded by the
    * df cap (each band position pairs with partner positions of the
    * same gram in ≤ cap−1 other docs).
    */
  private[graft] def measure(spark: SparkSession, dir: String, k: Int,
                             cap: Int, s0: Long, strata: Long = 0L)
      : (Long, Long, Long, Long, Long, Long) = {
    val posGrams = llm.DedupQueries.substrPosGrams(spark, dir, k)
      .select(col("gh"), col("doc_id"))
      .filter(pmod(col("gh"), lit(s0)) === lit(strata % s0))
    // Same single-exchange discipline as the production stats pass:
    // the explicit repartition(gh) serves both groupBys, so the
    // stratum shuffles ONCE at positions/S scale.
    val perDoc = posGrams
      .repartition(col("gh"))
      .groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val stats = perDoc
      .groupBy(col("gh"))
      .agg(sum(col("occ")).as("occ"), count(lit(1)).as("d"),
        sum(col("occ") * col("occ")).as("occ2"))
    val inBand = col("d") >= 2 && col("d") <= cap
    val row = stats.agg(
      sum(col("occ")).as("pos_total"),
      sum(when(inBand, col("occ"))).as("pos_band"),
      sum(when(col("d") > cap, col("occ"))).as("pos_hot"),
      count(lit(1)).as("grams_total"),
      sum(when(inBand, 1L)).as("grams_band"),
      // occ² − Σocc_i² is even by construction (= 2·Σ_{i<j} occ_i·occ_j);
      // integral `div` (NOT Column.divide, which routes long→double→/2
      // and loses exactness above 2^53 — ADVICE r13) keeps the whole
      // pair-mass census in exact long arithmetic.
      sum(when(inBand,
        expr("(occ * occ - occ2) div 2").cast("long"))).as("pairs_band")
    ).head
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (g(0), g(1), g(2), g(3), g(4), g(5))
  }
}
