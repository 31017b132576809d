package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import llm.SimilarityQueries

/** Scale-contract spec for quantizer training: the driver-side sample
  * must be O(1) in corpus rows (VERDICT r02 #1 — the old policy
  * collected a FIXED FRACTION of the corpus, a driver OOM at scale).
  */
class SimilaritySampleSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Synthetic "embeddings" 10× larger than the cap — if sampling were
    * proportional this corpus would yield ~half of 40960 rows.
    */
  private def bigCorpus = {
    import spark.implicits._
    spark.range(0, 10L * SimilarityQueries.MaxTrainSample)
      .select(col("id").as("vec_id"),
        array((0 until 4).map(d => (col("id") % (d + 7)).cast("double")): _*).as("emb"))
  }

  test("training sample is capped, not proportional to corpus size") {
    val n = SimilarityQueries.sampleVectors(bigCorpus).length
    assert(n == SimilarityQueries.MaxTrainSample,
      s"sample on a ${10 * SimilarityQueries.MaxTrainSample}-row corpus collected $n rows")
  }

  test("training sample takes the whole corpus when it fits the cap") {
    val small = bigCorpus.filter(col("vec_id") < 100)
    assert(SimilarityQueries.sampleVectors(small).length == 100)
  }

  test("training sample is deterministic and partitioning-invariant") {
    val a = SimilarityQueries.sampleVectors(bigCorpus)
    val b = SimilarityQueries.sampleVectors(bigCorpus.repartition(13))
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "content-hash-ranked sample must not depend on physical layout")
  }

  test("sample plan is a bounded top-k (TakeOrderedAndProject), not a global sort") {
    val plan = bigCorpus
      .select(col("vec_id"), col("emb"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(SimilarityQueries.MaxTrainSample)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected bounded top-k plan:\n$plan")
  }

  /** The vector index's two-level assignment of `e` under a capped
    * level-1 codebook of `k1` cells: level-1 cells as the build assigns
    * them, sub-codebooks for the oversized ones, then the level-2 step.
    * Returns (oversized level-1 cells, frame with the composite `cell`).
    */
  private def twoLevel(e: org.apache.spark.sql.DataFrame, k1: Int) = {
    val cb = SimilarityQueries.bcastModel(spark,
      SimilarityQueries.trainCentroids(e, k1), 2, s"spec_l1[$k1]")
    val l1 = SimilarityQueries.assignWithMargin(e, cb, k1, "c1")
    val sub = SimilarityQueries.trainSubCodebooks(l1)
    (sub.size, SimilarityQueries.withSubCells(l1, sub, k1))
  }

  /** Level-1 cells above this many members get a level-2 codebook. */
  private val oversize = 4 * SimilarityQueries.IdxTargetCellSize

  test("two-level cells re-split oversized level-1 cells to bounded size") {
    // The scale cliff the two-level layout exists for: the corpus has
    // far more natural micro-clusters than the CAPPED level-1 codebook
    // can resolve (at 100 TB the cap is the bounded training sample;
    // here k1 = 5 models it), so every level-1 cell aggregates ~100
    // micro-clusters and blows past the oversize bar. Level 2, trained
    // per cell on that cell's OWN bounded sample, resolves the
    // micro-structure level 1 couldn't see.
    // Corpus: 500 well-separated micro-clusters × 10 points (jitter
    // 0..16 around centers on a 1000-unit lattice).
    val dim = 8
    val e = spark.range(0, 5000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d => {
        val cluster = col("id") % 500
        val center = ((cluster * (d + 11) + d * 7) % 101) * 1000L
        (center + col("id") * (d + 3) % 17).cast("double")
      }).as("emb"))
    val (nSplit, assigned) = twoLevel(e, 5)
    assert(nSplit == 5, s"expected every level-1 cell oversized, got $nSplit")
    assert(assigned.count() == 5000, "re-split must not drop or duplicate rows")
    val sizes = assigned.groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    // Level 1 alone: 5000 points / 5 cells ≈ 1000 per cell. The
    // composite cells must fall below the oversize bar.
    assert(sizes.map(_._2).max < oversize,
      s"oversized cells not re-split: ${sizes.sortBy(-_._2).take(5).toSeq}")
    // Re-split cells carry a level-2 component (cell % 4096 > 0).
    val split = sizes.filter(_._1 % 4096 > 0)
    assert(split.length >= 40, s"expected many sub-cells, got ${split.length}")
    // Determinism: the same corpus assigns identically on re-run.
    val again = twoLevel(e, 5)._2
      .groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(again.sortBy(_._1).toSeq == sizes.sortBy(_._1).toSeq)
  }

  test("sub-codebook training is O(1) Spark jobs, not one per oversized cell") {
    // 40 level-1 cells of ~500 points, far above the oversize bar: a
    // per-cell sample loop would run one sample-collect JOB per
    // oversized cell (up to MaxTrainSample/8 = 512 serial jobs at the
    // cap); the windowed sample must keep the job count a small
    // constant regardless.
    val dim = 4
    val e = spark.range(0, 20000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (((col("id") % 40) * (d + 5) % 97) * 1000L +
          col("id") * (d + 3) % 13).cast("double")).as("emb"))
    val ((nSplit, n), jobs) = jobsRunBy {
      val (nSplit, assigned) = twoLevel(e, 40)
      (nSplit, assigned.count())
    }
    assert(n == 20000)
    assert(nSplit >= 16, s"expected at least 16 oversized cells, got $nSplit")
    // trainCentroids(k1) + sizes + windowed sample + the count, plus
    // AQE sub-jobs — far below one job per oversized cell.
    assert(jobs <= 15, s"expected O(1) jobs, saw $jobs for $nSplit oversized cells")
  }

  test("SQ8 shortlist + exact re-rank recovers the exact-L2 top-10") {
    import SimilarityQueries.{embDouble, l2sq, queryVec}
    val got = SparkEntry.queries("llm_ann_sq8_topk")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val e = embDouble(Tables(spark, sf, "embeddings"))
    val truth = e.crossJoin(queryVec(e)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(sqrt(l2sq(col("emb"), col("qv"))), 6).as("l2"))
      .orderBy(col("l2"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    // The max(200, N/50)-row shortlist absorbs byte-quantization
    // noise; allow one boundary miss so a reseeded fixture can't flake
    // the suite.
    assert((got & truth).size >= 9,
      s"overlap@10 = ${(got & truth).size}, got=$got truth=$truth")
  }
}
