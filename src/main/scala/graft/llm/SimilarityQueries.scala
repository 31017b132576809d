package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftSqlAccess, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.BroadcastArrayExpr

/** Similarity search over the `embeddings` fixture (SURVEY.md §2.4):
  * brute-force cosine top-k as the exact baseline, LSH-bucketed and
  * IVF (coarse-quantizer) variants as the 100 TB scale path.
  *
  * Scale design: brute force is one broadcast (the query vector) + one
  * scan + TakeOrderedAndProject(k) — it IS the right plan up to the
  * point the corpus outgrows scan bandwidth; past that, IVF probes only
  * nProbe/nList of the data and LSH buckets make the join linear. No
  * cross join anywhere; nothing collects to the driver except the
  * single query vector (the ANN query pattern) and k result rows.
  *
  * Float determinism: cosine is computed as sequential left-to-right
  * folds over the array (`aggregate`), matching DuckDB's
  * list_dot_product evaluation order on identical doubles; results are
  * additionally rounded to 9 decimals in both engines before compare.
  */
object SimilarityQueries {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Reference (HOF) cosine — the semantics spec; FunctionsSpec pins
    * the native expression bit-exactly against this.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Fused native kernel (graft.functions.CosineSimExpr) — one pass,
    * no intermediate arrays; registered by GraftExtensions.
    */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  private[graft] def embDouble(df: DataFrame): DataFrame =
    df.withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))

  /** The fixed query vector: embedding of vec_id 0, broadcast. */
  private[graft] def queryVec(df: DataFrame): DataFrame =
    broadcast(df.filter(col("vec_id") === 0).select(col("emb").as("qv")))

  /** Squared L2 via the norm identity ‖a‖²+‖b‖²−2a·b — shared by the
    * IVF probe and Recall's ground truth so both measure the same
    * distance expression.
    */
  private[graft] def l2sq(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** Hard cap on the quantizer-training sample. The driver collect is
    * O(MaxTrainSample) — a fixed ~2 MB of doubles at dim 64 — for ANY
    * corpus size; SimilaritySampleSpec asserts this on a corpus an
    * order of magnitude larger than the cap.
    */
  private[graft] val MaxTrainSample = 4096

  /** The bounded, deterministic quantizer-training sample: the `cap`
    * rows with the smallest `xxhash64(vec_id)` — a content-hash rank,
    * so the selection is a deterministic pseudo-random subset that is
    * stable across partitioning, yet the plan is TakeOrderedAndProject
    * (per-partition top-cap, single merge of cap rows), never a global
    * sort and never a proportional-to-corpus collect. Id-sorted after
    * collect for order stability. Shared by PQ codebooks and the
    * coarse quantizers so all of them train on the SAME sample policy.
    */
  private[graft] def sampleVectors(e: DataFrame, cap: Int = MaxTrainSample): Array[Array[Double]] =
    e.select(col("vec_id"), col("emb"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(cap)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)

  /** Deterministic engine-owned coarse quantizer: Lloyd on the
    * collected content-hash sample (genuinely bounded — quantizer
    * training never needs the full corpus, only a fixed-size sample).
    * Replaces spark.ml KMeans fits whose cost on small per-fit inputs
    * is pure driver stage scheduling. Training cost is
    * O(MaxTrainSample · k · dim) driver arithmetic, so k must also be
    * bounded — callers cap it at [[MaxTrainSample]]/8 (≥8 sample
    * points per centroid); past that corpus scale the production path
    * is a two-level quantizer (coarse cells re-split by a second-level
    * codebook, IVF-style), which composes from this same primitive.
    */
  private[graft] def trainCentroids(e: DataFrame, k: Int): Seq[Seq[Double]] =
    lloyd(sampleVectors(e), k, iters = 5).map(_.toSeq).toSeq

  /** array<…<array<double>>> nested `depth` levels — the codebook
    * column types (depth 2 = centroids, 3 = per-subspace codebooks /
    * per-cell ADC tables).
    */
  private def nestedDoubleArray(depth: Int): DataType =
    (1 to depth).foldLeft(DoubleType: DataType)((t, _) => ArrayType(t, containsNull = false))

  /** A trained model artifact (codebook, ADC table) as a Column backed
    * by a Spark BROADCAST instead of a `typedlit` plan literal
    * ([[graft.functions.BroadcastArrayExpr]]): the plan carries an O(1)
    * handle, so analysis cost, plan text, and the plan cache are
    * independent of codebook size — the property that matters at a
    * 100 TB-grade index (10⁵–10⁶ centroids), where a multi-MB literal
    * per query bloats driver memory and defeats plan caching. Value
    * semantics are identical to the literal it replaces (same Catalyst
    * conversion, same element order), so oracle hashes cannot move.
    */
  private[graft] def bcastModel(s: SparkSession, v: AnyRef, depth: Int,
                                desc: String): Column =
    GraftSqlAccess.column(BroadcastArrayExpr(
      s.sparkContext.broadcast(v), nestedDoubleArray(depth), desc))

  /** Squared L2 distance to every centroid of the codebook, as
    * array<double> — the native one-pass kernel
    * ([[graft.functions.CellDistsExpr]]; the HOF twin below is the
    * semantics spec). Keep it as its own projected column and run
    * [[argminCell]] over the attribute (folding both into one
    * expression would re-evaluate the O(k·dim) kernel in both the
    * compare and the keep branch of the argmin). `k` is implied by
    * the codebook; kept in the signature so call sites read as
    * (vector, codebook, cells).
    */
  private def cellDistances(emb: Column, cb: Column, k: Int): Column =
    call_function("cell_dists", emb, cb)

  /** HOF twin of [[cellDistances]] — each distance fold allocates a
    * zip_with array per cell per row, so the registered queries ride
    * the native kernel; FunctionsSpec pins bit-equality of the two
    * forms over the fixture corpus.
    */
  private[graft] def cellDistancesHof(emb: Column, cb: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), c =>
      aggregate(
        zip_with(emb, element_at(cb, c + 1), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, v) => a + v))

  /** Index of the smallest distance (optionally excluding cells
    * already taken — calling it repeatedly on the same distances
    * column yields the n nearest cells with no centroid join, window,
    * or re-fold).
    */
  private[graft] def argminCell(dists: Column, k: Int,
                         excl: Seq[Column] = Nil): Column =
    aggregate(
      sequence(lit(0), lit(k - 1)),
      struct(lit(-1).cast("int").as("c"), lit(Double.MaxValue).as("d")),
      (acc, c) =>
        when(excl.map(c === _).foldLeft(lit(false))(_ || _) ||
            element_at(dists, c + 1) >= acc.getField("d"), acc)
          .otherwise(struct(c.cast("int").as("c"),
            element_at(dists, c + 1).as("d"))),
      acc => acc.getField("c"))

  /** Cardinality-aware probe width for the IVF-probed family — the
    * UNFILTERED sibling of llm_ann_filtered_topk's histogram rule:
    * widen the probe set until its EXPECTED coverage (nProbe·N/nList
    * rows, the uniform-occupancy estimate; the filtered variant needs
    * the real histogram only because a metadata filter skews
    * eligibility) reaches candidateFactor·k candidates, floored at
    * the 4-probe operating point and capped at nList. At corpus scale
    * this is the constant 4 — cells dwarf the 200-row target — while
    * on a small corpus cells are tiny and widening is correspondingly
    * cheap: measured (IvfDiag curves) to restore overlap@10 = 10/10
    * at the 500-vector fixtures (rule picks 7 probes = 44% of a
    * 500-row corpus, trivially affordable) while leaving the
    * 2000-vector sf0.1 point at 4 probes (the published flat-at-9/10
    * region, SCALE.md round-9). A FIXED nProbe starves exactly when
    * cells are smaller than the candidate target — same failure mode,
    * same cure, as the filtered variant's selective-predicate case.
    */
  private def adaptiveNProbe(n: Long, nList: Int, k: Int = 10,
                             candidateFactor: Int = 20): Int =
    math.min(nList,
      math.max(4, math.ceil(candidateFactor.toDouble * k * nList / n).toInt))

  /** PQ encode: per subspace j, the index of the nearest codebook
    * centroid to `input`'s j-th sub-vector. `cb` is the
    * array<array<array<double>>> codebook literal indexed [j][c][d];
    * m/subDim/nCent are implied by its shape — kept in the signature
    * so call sites read as (vector, codebook, geometry). Rides the
    * native fused kernel ([[graft.functions.PqEncodeExpr]]): the HOF
    * twin below evaluates m×nCent interpreted argmin folds per row
    * and measured 4× the whole-query cost of llm_ann_pq_topk at
    * sf0.1 (10.6 s vs 2.6 s); FunctionsSpec pins bit-equality of the
    * two forms over the fixture corpus.
    */
  private def pqCodes(input: Column, cb: Column,
                      m: Int, subDim: Int, nCent: Int): Column =
    call_function("pq_encode", input, cb)

  /** HOF twin of [[pqCodes]] — nested transform/aggregate/zip_with
    * folds over the (nCent × subDim) literals; kept only for the
    * FunctionsSpec twin-pin.
    */
  private[graft] def pqCodesHof(input: Column, cb: Column,
                                m: Int, subDim: Int, nCent: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j => {
      val sub = slice(input, j * subDim + 1, lit(subDim))
      val cbJ = element_at(cb, j + 1)
      aggregate(
        sequence(lit(0), lit(nCent - 1)),
        struct(lit(-1).cast("int").as("c"), lit(Double.MaxValue).as("d")),
        (acc, c) => {
          val dist = aggregate(
            zip_with(sub, element_at(cbJ, c + 1), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, v) => a + v)
          when(dist < acc.getField("d"),
            struct(c.cast("int").as("c"), dist.as("d"))).otherwise(acc)
        },
        acc => acc.getField("c"))
    })

  /** ADC score: sum of m table lookups — `table` indexed [j][c]. */
  private def adcScore(codes: Column, table: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (a, j) => a + element_at(element_at(table, j + 1),
        element_at(codes, j + 1) + 1))

  /** Driver-side nearest-centroid assignment (for sample residuals and
    * query probing — tiny inputs, same arithmetic as [[lloyd]]'s
    * assign step).
    */
  private def nearestOf(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Trained IVFADC model — coarse quantizer + per-subspace residual
    * codebooks. O(1) bytes (nList×dim + m×nCent×subDim doubles)
    * regardless of corpus size: the model is warehouse METADATA, the
    * codes column is the data.
    */
  private[graft] case class IvfPqModel(nList: Int, m: Int, subDim: Int, nCent: Int,
                                       coarse: Array[Array[Double]],
                                       codebooks: Array[Array[Array[Double]]],
                                       sub: Map[Int, Array[Array[Double]]] = Map.empty,
                                       lowMarginFrac: Double = -1.0) {

    /** Text serialization for the artifact sidecar. `Double.toString`
      * round-trips exactly (shortest-repr contract), so a parsed model
      * scores bit-identically to the trained one. Level-2 codebooks
      * (when present) append as `sub <c1> <k2>` sections — absent for
      * a one-level model, so old sidecars parse unchanged. The
      * cluster-margin diagnostic rides the header as an optional 5th
      * token (absent = -1 = unknown, which never escalates) — old
      * sidecars parse unchanged here too.
      */
    def serialize: String = {
      val sb = new StringBuilder
      sb.append(s"ivfpq $nList $m $subDim $nCent $lowMarginFrac\n")
      coarse.foreach(c => sb.append(c.mkString(" ")).append('\n'))
      for (j <- 0 until m; c <- 0 until nCent)
        sb.append(codebooks(j)(c).mkString(" ")).append('\n')
      for ((c1, cb2) <- sub.toSeq.sortBy(_._1)) {
        sb.append(s"sub $c1 ${cb2.length}\n")
        cb2.foreach(cent => sb.append(cent.mkString(" ")).append('\n'))
      }
      sb.toString
    }
  }

  private[graft] object IvfPqModel {
    def parse(s: String): IvfPqModel = {
      val lines = s.split('\n')
      val hdr = lines(0).split(' ')
      require(hdr(0) == "ivfpq", s"not an ivfpq model: ${lines(0)}")
      val Array(nList, m, subDim, nCent) = hdr.tail.take(4).map(_.toInt)
      val lowMarginFrac = if (hdr.length > 5) hdr(5).toDouble else -1.0
      val coarse = Array.tabulate(nList)(i => lines(1 + i).split(' ').map(_.toDouble))
      val codebooks = Array.tabulate(m, nCent)((j, c) =>
        lines(1 + nList + j * nCent + c).split(' ').map(_.toDouble))
      var idx = 1 + nList + m * nCent
      val sub = scala.collection.mutable.Map.empty[Int, Array[Array[Double]]]
      while (idx < lines.length && lines(idx).startsWith("sub ")) {
        val Array(_, c1s, k2s) = lines(idx).split(' ')
        val k2 = k2s.toInt
        sub(c1s.toInt) = Array.tabulate(k2)(c => lines(idx + 1 + c).split(' ').map(_.toDouble))
        idx += 1 + k2
      }
      IvfPqModel(nList, m, subDim, nCent, coarse, codebooks, sub.toMap, lowMarginFrac)
    }

    /** Train on the bounded content-hash sample: coarse cells by Lloyd,
      * then residual codebooks per subspace (residuals concentrate near
      * 0, so the same bits quantize finer than raw vectors).
      */
    def train(e: DataFrame, nList: Int, m: Int, subDim: Int, nCent: Int): IvfPqModel = {
      val sample = sampleVectors(e)
      val coarse = lloyd(sample, nList, iters = 5)
      val residuals = sample.map { v =>
        val c = coarse(nearestOf(v, coarse))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
      val codebooks = Array.tabulate(m) { j =>
        lloyd(residuals.map(r =>
          java.util.Arrays.copyOfRange(r, j * subDim, (j + 1) * subDim)), nCent, iters = 3)
      }
      IvfPqModel(nList, m, subDim, nCent, coarse, codebooks)
    }
  }

  /** Query-side probe: the nProbe nearest coarse cells — driver
    * arithmetic over the O(1) codebook.
    */
  private def probeCells(q: Array[Double], coarse: Array[Array[Double]],
                         nProbe: Int): Seq[Int] =
    coarse.zipWithIndex.map { case (c, i) =>
      (c.zip(q).map { case (x, y) => val d = x - y; d * d }.sum, i)
    }.sorted.take(nProbe).map(_._2).toSeq

  /** The query point on the driver: the `c` vector of row `vec_id = 0`,
    * one 1-row collect (the ANN query pattern; same boundary as the
    * broadcast [[queryVec]]).
    */
  private def queryPoint(e: DataFrame, c: String = "emb"): Array[Double] =
    e.filter(col("vec_id") === 0).select(col(c)).head.getSeq[Double](0).toArray

  /** Coarse assignment of `e`'s `emb` to its nearest of the `k` cells of
    * codebook `cb`, as column `cellCol`, plus the squared distances to
    * the nearest (`__d1`) and second-nearest (`__d2`) centroid that
    * [[lowMarginFrac]] reads. ONE evaluation of the O(k·dim) distance
    * kernel per row feeds all three (a multi-referenced attribute —
    * CollapseProject's cost check keeps the fold from duplicating).
    */
  private[graft] def assignWithMargin(e: DataFrame, cb: Column, k: Int,
                                      cellCol: String): DataFrame =
    e.withColumn("__cd", cellDistances(col("emb"), cb, k))
      .withColumn(cellCol, argminCell(col("__cd"), k))
      .withColumn("__d1", element_at(col("__cd"), col(cellCol) + 1))
      .withColumn("__d2", element_at(col("__cd"),
        argminCell(col("__cd"), k, excl = Seq(col(cellCol))) + 1))
      .drop("__cd")

  /** The SOAR spill census over an [[assignWithMargin]] frame: the
    * fraction of rows whose second-nearest cell lies within
    * τ² = [[MarginSpillTau2]] of their nearest. An empty frame (an
    * embeddings table holding only the query vector) has a null avg(),
    * read as 0.0 — no low-margin mass — rather than an NPE.
    */
  private def lowMarginFrac(assigned: DataFrame): Double = {
    val r = assigned.agg(avg(
      when(col("__d2") <= lit(MarginSpillTau2) * col("__d1"), 1.0).otherwise(0.0))).head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** The cells a probed query serves: None — no cell filter, every cell
    * scanned — when the margin census escalates (see
    * [[MarginEscalateFrac]]), else the query's nProbe nearest. Every
    * probed ANN query decides its cells here, so a different probe rule
    * (say, exact distance-bound probing) changes this one function.
    */
  private def servedCells(q: Array[Double], coarse: Array[Array[Double]],
                          nProbe: Int, lowMargin: Double): Option[Seq[Int]] =
    if (lowMargin >= MarginEscalateFrac) None else Some(probeCells(q, coarse, nProbe))

  /** `df` restricted to the served cells (no filter when escalated). */
  private def inServed(df: DataFrame, served: Option[Seq[Int]]): DataFrame =
    served.fold(df)(cells => df.filter(col("cell").isin(cells: _*)))

  /** Shortlist length R of the quantized scans (PQ, SQ8, IVFADC, the
    * served index): max(200, N/50), capped at 100k so the re-rank
    * broadcast and the per-partition top-R forwarding stay bounded at
    * billion-vector scale. A FIXED 100-row shortlist starves once the
    * corpus outgrows it — measured overlap@10 fell 10/10 → 5/10 from
    * sf0.01 to sf0.1 at R=100 for PQ, and R=N/100 still left a
    * rank-(100..200) true neighbor behind at sf0.1 (9/10); 2% of the
    * corpus keeps the re-rank fetch point lookups, never a scan.
    */
  private def shortlistSize(s: SparkSession, dir: String): Int =
    math.min(100000L, math.max(200L, Tables.rowCount(s, dir, "embeddings") / 50L)).toInt

  /** Exact re-rank of a `vec_id` shortlist: ONLY the shortlisted ids
    * fetch their raw vectors, scored by exact rounded L2 against the
    * query vector; `extra` shortlist columns ride along into the
    * output. The served contract is "exact distances over a shortlist
    * that contains the true top-k", so the output is oracle-checkable
    * against the brute-force top-10 (no quantizer-dependent column).
    */
  private def exactL2Top10(e: DataFrame, shortlist: DataFrame, extra: Column*): DataFrame =
    e.join(broadcast(shortlist), "vec_id")
      .crossJoin(queryVec(e))
      .select(Seq(col("vec_id"), col("label")) ++ extra :+
        round(sqrt(l2sq(col("emb"), col("qv"))), 6).as("l2_dist"): _*)
      .orderBy(col("l2_dist"), col("vec_id"))
      .limit(10)

  /** Exact cosine top-10 of the candidate rows `cands` against the
    * broadcast query vector of `e`.
    */
  private def cosineTop10(e: DataFrame, cands: DataFrame): DataFrame =
    cands.crossJoin(queryVec(e))
      .select(col("vec_id"), col("label"),
        round(cosineNative(col("emb"), col("qv")), 9).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)

  /** Per-cell ADC lookup tables for a query: table[cell][j][c] =
    * ‖(q − coarse(cell))_sub_j − codebook(j)(c)‖², for every cell when
    * `served` is None (escalated). Unserved cells keep zero tables
    * (never read — the cell filter runs first); indexing stays direct
    * [cell].
    */
  private def adcTablesPerCell(q: Array[Double], model: IvfPqModel,
                               served: Option[Seq[Int]]): Seq[Seq[Seq[Double]]] =
    (0 until model.nList).map { cell =>
      if (served.exists(!_.contains(cell))) Seq.fill(model.m)(Seq.fill(model.nCent)(0.0))
      else {
        val qres = Array.tabulate(q.length)(i => q(i) - model.coarse(cell)(i))
        (0 until model.m).map { j =>
          model.codebooks(j).map { cent =>
            (0 until model.subDim).map { d =>
              val diff = qres(j * model.subDim + d) - cent(d); diff * diff
            }.sum
          }.toSeq
        }
      }
    }

  /** Deterministic driver-side Lloyd k-means for PQ codebook training
    * over a bounded, id-sorted sample: seeds are k evenly-spaced
    * sample points, then `iters` assign/recompute rounds (an empty
    * cluster keeps its previous centroid). Plain arithmetic on a
    * ~10³-point sample — no distributed scheduling.
    */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int,
                           iters: Int): Array[Array[Double]] = {
    require(points.length >= k, s"sample ${points.length} < k=$k")
    val dim = points(0).length
    var cents = Array.tabulate(k)(c => points((c.toLong * points.length / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
    }
    cents
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-k: scan × broadcast(1-row query) →
    // per-row cosine → TakeOrderedAndProject(10).
    "llm_cosine_topk" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
      cosineTop10(e, e.filter(col("vec_id") =!= 0))
    }),

    // FILTERED top-k — metadata-constrained vector search ("nearest
    // neighbors WHERE label = 3"), the serving capability every vector
    // store leads with and the one naive post-filtering breaks: taking
    // top-10 first and filtering after starves the result set whenever
    // the filter is selective (~12% here → expect ~1 survivor of 10).
    // This is the PRE-filter form: the predicate lands in the scan
    // (pushed to parquet with a label-partitioned layout), ranking
    // only eligible vectors, so the k stays full. Exact brute force →
    // oracle-checked; the IVF composition below is the scale path.
    "llm_cosine_topk_filtered" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
      cosineTop10(e, e.filter(col("vec_id") =!= 0 && col("label") === 3))
    }),

    // Filtered ANN — the same metadata predicate composed with IVF
    // cell probing (pre-filter INSIDE the probed cells): cells prune
    // by query geometry, the label predicate prunes within, and the
    // top-k ranks only eligible rows — both reductions multiply, and
    // recall is against the FILTERED ground truth (overlap pinned in
    // LlmSpec + RECALL). Two filtered-search specifics vs the plain
    // IVF variant: (1) cell geometry runs on UNIT-normalized vectors —
    // the truth metric is cosine, and L2 on unit vectors is monotone
    // in cosine, so Euclidean cells agree with the cosine ranking
    // (raw-vector cells put large-norm cosine-neighbors in far cells
    // and no affordable nProbe recovers them); scoring still uses the
    // raw embedding, cosine is scale-invariant. (2) probing is
    // CARDINALITY-AWARE, the strategy production vector stores use for
    // metadata filters: a bounded per-cell histogram of ELIGIBLE rows
    // (nList rows, collected like the codebook) decides how many
    // nearest cells to probe — widen until the probed cells cover
    // ≥ CandidateFactor·k eligible candidates, degrading to all cells
    // (= exact filtered scan) when the eligible set is tiny. A fixed
    // nProbe starves recall exactly when the filter is selective; the
    // histogram is free at scale (it IS the partition-count metadata
    // of the served index) and makes the probe width track filter
    // selectivity instead of guessing it.
    "llm_ann_filtered_topk" -> ((s, dir) => {
      val nList = 16
      val minProbe = 4
      // 20×k candidate coverage: 3×k measured overlap@10 5/10 at
      // sf0.1 (the probe set covered 30 eligible rows of ~6000 — too
      // few cells to reliably contain the true 10); 20×k still probes
      // only ~3% of the eligible set there while restoring overlap.
      val candidateFactor = 20
      val k = 10
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val nrm = sqrt(aggregate(col("emb"), lit(0.0), (a, v) => a + v * v))
      val eU = e.withColumn("unit", transform(col("emb"), x => x / nrm))
      val centroids =
        trainCentroids(eU.withColumn("emb", col("unit")), nList)
      val cb = bcastModel(s, centroids, 2, s"ivf_coarse_unit[$nList]")
      val q = queryPoint(eU, "unit")
      val celled = eU
        .withColumn("__cd", cellDistances(col("unit"), cb, nList))
        .withColumn("cell", argminCell(col("__cd"), nList))
        .drop("__cd", "unit")
        .filter(col("vec_id") =!= 0 && col("label") === 3)
      // Bounded driver collect: ≤ nList rows — the eligible-count
      // histogram a served index would read from partition metadata.
      val eligible: Map[Int, Long] = celled.groupBy(col("cell")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val ordered = probeCells(q, centroids.map(_.toArray).toArray, nList)
      val target = candidateFactor.toLong * k
      // Cardinality cutover: when the whole eligible set is small
      // (≤ ExactCutover·k rows), cell pruning saves nothing and costs
      // recall — run the exact filtered scan over every non-empty
      // cell, the same strategy switch production stores make when a
      // payload filter is highly selective. Otherwise widen the probe
      // set until it covers ≥ target eligible candidates (cumBefore(i)
      // = eligible rows covered by cells ranked < i; probing while
      // coverage is short keeps the crossing cell).
      val exactCutover = 20L * k
      val cumBefore = ordered.map(c => eligible.getOrElse(c, 0L))
        .scanLeft(0L)(_ + _)
      val probed =
        if (eligible.values.sum <= exactCutover) eligible.keys.toSeq
        else ordered.zipWithIndex
          .takeWhile { case (_, i) => i < minProbe || cumBefore(i) < target }
          .map(_._1)
      cosineTop10(e, celled.filter(col("cell").isin(probed: _*)))
    }),

    // RANGE (radius) search — the vector-DB twin of top-k: ALL vectors
    // with cosine >= threshold, not the nearest k. The right primitive
    // when the answer set size is semantic (near-dup audit, recall-
    // complete retrieval) rather than presentational. Cheaper than
    // top-k at scale: a pure codegen'd filter after the broadcast —
    // no global TakeOrdered, no shuffle at all until the presentation
    // sort; output is bounded by selectivity, and with the IVF cell
    // layout the same predicate prunes cells whose centroid similarity
    // upper-bound falls below the threshold.
    "llm_cosine_range" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
      e.crossJoin(queryVec(e))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          round(cosineNative(col("emb"), col("qv")), 9).as("cos_sim"))
        .filter(col("cos_sim") >= 0.25)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    }),

    // BATCHED cosine top-k — the retrieval workhorse shape (N query
    // vectors at once, per-query top-k): broadcast the query set, one
    // corpus scan scores all queries, per-query rank via row_number —
    // which Spark rewrites to a partial-then-final WindowGroupLimit, so
    // each scan partition forwards at most k rows PER QUERY into the
    // shuffle. Cost: one scan regardless of query count; shuffle is
    // O(queries × k), independent of corpus size.
    "llm_cosine_topk_batch" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
      val qset = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      e.filter(col("vec_id") >= 5)
        .crossJoin(qset)
        .select(col("q_id"), col("vec_id"), col("label"),
          round(cosineNative(col("emb"), col("qv")), 9).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("q_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // Contrastive hard-negative mining — the training-data op behind
    // every embedding-model fine-tune (triplet/InfoNCE batches need,
    // per anchor, the most-similar vectors with a DIFFERENT label:
    // maximally confusing negatives). Same broadcast-anchors ×
    // corpus-scan shape as llm_cosine_topk_batch with the label
    // inequality fused into the scan filter; per-anchor top-3 via the
    // rank-filter WindowGroupLimit. At 100 TB the anchor set rides
    // along any corpus scan — cost is anchors × corpus row-local
    // math, shuffle only the k survivors per partition.
    "llm_hard_negatives" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
      val anchors = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("emb").as("qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      e.filter(col("vec_id") >= 5)
        .crossJoin(anchors)
        .filter(col("label") =!= col("q_label"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          round(cosineNative(col("emb"), col("qv")), 9).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(col("q_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // Embedding corpus audit: per label, count + L2-norm statistics.
    // Per-row norm is row-local double math; the cross-row mean goes
    // through round(9) so both engines sum identical values — and the
    // sum itself is DECIMAL, order-independent.
    "llm_embedding_stats" -> ((s, dir) => {
      val e = embDouble(Tables(s, dir, "embeddings"))
        .withColumn("norm", round(sqrt(dot(col("emb"), col("emb"))), 9))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("norm").cast(DecimalType(28, 12))).cast(DoubleType).as("sum_norm"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"))
        .orderBy(col("label"))
    }),

    // Embedding-cosine near-dup pairs (the vector-space sibling of
    // MinHash dedup): all pairs with cosine >= threshold. Blocking =
    // coarse-quantizer cells (engine-owned Lloyd on a bounded sample;
    // assignment is a codegen'd argmin over the broadcast-literal
    // codebook — no fit jobs, no centroid join, no per-vector window).
    // Each vector lands in its 2 nearest cells, so the pair join is
    // within-cell — linear in corpus size, never the full n², and
    // cell COUNT scales with corpus size so cell SIZE stays constant
    // (~2000 vectors; a fixed k would silently revert to quadratic as
    // the corpus grows), capped at MaxTrainSample/8 so single-level
    // training stays bounded — beyond that, re-split oversized cells
    // with a second-level codebook (two-level IVF): the served vector
    // index's [[trainSubCodebooks]] + [[withSubCells]], spec'd on a
    // planted-skew corpus. Verification is the exact fused-kernel
    // cosine, so emitted pairs are never false. Threshold 0.4 is
    // calibrated to this fixture (near-orthogonal random vectors, max
    // pairwise cosine ~0.5); a real near-dup corpus runs the same
    // operator at 0.9+, where blocking recall is also far higher.
    // Oracle contract: exact-cosine verify over blocked candidates,
    // blocking recall measured 1.0 at both SFs -> the output equals the
    // brute-force all-pairs answer and hash-checks against a DuckDB
    // all-pairs twin at the gate SF (recall additionally in RECALL).
    // No persist on the embeddings frame here (or in any ANN query):
    // the driver-side artifacts (row count, capped training sample,
    // query vector) are each ONE bounded action over the columnar
    // source, and a query-path cache entry is never released — a
    // library caller would leak one per call (CacheSpec asserts the
    // cache manager stays empty). At 100 TB caching the full corpus
    // frame to serve three bounded actions is the wrong trade anyway.
    "llm_dedup_embedding_cosine" -> ((s, dir) => {
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
        .select(col("vec_id"), col("emb"))
      val k = math.min(MaxTrainSample / 8L,
        math.max(4L, Tables.rowCount(s, dir, "embeddings") / 2000L)).toInt
      val cb = bcastModel(s, trainCentroids(e, k), 2, s"dedup_cells[$k]")
      // Each vector lands in its 3 nearest cells — the recall/cost
      // dial of multi-probe blocking (2 cells measured 0.966 recall on
      // this fixture after the bounded-sample change; 3 restores 1.0
      // at 1.5x join fan-out).
      // The cell join carries ONLY (vec_id, cell) — the 256-byte
      // embedding arrays would ride the shuffle 3× per side (the probe
      // fan-out) and bloat the pair-distinct; they are attached after
      // candidate dedup, once per pair side, for exact verification —
      // the same slim-join/verify-late shape as the banded MinHash
      // finder. Shuffle width: 16 bytes/candidate row vs ~280.
      val withCells = e
        .withColumn("__cd", cellDistances(col("emb"), cb, k))
        .withColumn("c1", argminCell(col("__cd"), k))
        .withColumn("c2", argminCell(col("__cd"), k, excl = Seq(col("c1"))))
        .withColumn("c3", argminCell(col("__cd"), k, excl = Seq(col("c1"), col("c2"))))
        .select(col("vec_id"),
          explode(array(col("c1"), col("c2"), col("c3"))).as("cell"))
        // Pinned (Pins.release is the library cleanup contract): the
        // slim frame feeds both join sides — without the pin the
        // k-cell distance pass runs twice over the corpus.
        .transform(graft.Pins.pin)
      val cand = withCells.as("a").join(withCells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("emb").as("ea")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("emb").as("eb")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(cosineNative(col("ea"), col("eb")), 9).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication by embedding clustering — cluster the corpus in
    // embedding space, find intra-cluster ε-neighbors, and PRUNE each
    // duplicate neighborhood to one representative. The candidate
    // pairs come from the same multi-probe KMeans-cell blocking as
    // llm_dedup_embedding_cosine (this query composes on it — the
    // recall-measured pair finder IS SemDeDup's clustering step); the
    // pruning decision is the deterministic min-id rule: a vector is
    // DROPPED iff some lower-id vector sits within cosine >= 0.4, and
    // its representative is its lowest-id such neighbor (one-step rule
    // as published — representatives are not chased transitively;
    // chain resolution is llm_dedup_cluster's connected components).
    // Output: the pruned vectors with their representatives. Shape on
    // top of the pair finder: one groupBy(vec_b) — linear in the pair
    // count. Rows-only check (seeded KMeans blocking is engine-
    // specific); Recall.scala measures the dropped set against the
    // brute-force all-pairs rule.
    "llm_semdedup" -> ((s, dir) => {
      queries("llm_dedup_embedding_cosine")(s, dir)
        .groupBy(col("vec_b").as("vec_id"))
        .agg(min(col("vec_a")).as("rep_id"),
          count(lit(1)).as("n_dup_neighbors"),
          max(col("cos_sim")).as("max_cos"))
        .orderBy(col("vec_id"))
    }),

    // LSH-bucketed ANN: random-hyperplane signatures via spark.ml
    // BucketedRandomProjectionLSH; approxSimilarityJoin of the 1-row
    // query dataset against the corpus (bucket join — only colliding
    // buckets compared). Fixed seed; output is the exact rounded L2 of
    // the candidates, and candidate recall is 10/10 at both SFs -> the
    // result hash-checks against the brute-force L2 top-10 DuckDB twin.
    // numHashTables=10 is the recall dial (OR-amplification: a
    // candidate surfaces if ANY table collides — spark.ml has no
    // multi-probe, so more tables is the bounded-cost equivalent):
    // swept at sf0.01, 6-8 tables measure overlap@10 = 9 (one stubborn
    // neighbor misses every bucket at any bucketLength 2-4), 10 tables
    // restore 10/10 at +2/3 signature/join cost — still 10 small
    // integers per vector, linear in the corpus.
    "llm_ann_lsh_topk" -> ((s, dir) => {
      import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
      import org.apache.spark.ml.functions.array_to_vector
      val e = embDouble(Tables(s, dir, "embeddings"))
        .withColumn("features", array_to_vector(col("emb")))
      val q = e.filter(col("vec_id") === 0)
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("sig")
        .setBucketLength(2.0).setNumHashTables(10).setSeed(42L)
      val model = lsh.fit(e)
      model.approxSimilarityJoin(e, q, 10.0, "l2_dist")
        .filter(col("datasetA.vec_id") =!= 0)
        .select(col("datasetA.vec_id").as("vec_id"),
          round(col("l2_dist"), 6).as("l2_dist"))
        .orderBy(col("l2_dist"), col("vec_id"))
        .limit(10)
    }),

    // IVF (inverted-file) ANN: a coarse quantizer (nList=16,
    // engine-owned sampled Lloyd) partitions the corpus; the query
    // probes its nProbe=4 nearest cells and brute-forces only those —
    // the classic recall/cost dial. The probe is a PRUNING FILTER on
    // the assignment column (cells chosen driver-side from the tiny
    // codebook), not a join: at 100 TB the assignment is a write-time
    // partition key and this same filter becomes partition pruning —
    // a scan of nProbe/nList of the files.
    // Measured recall honesty (historical — the IVF-probed family on
    // the i.i.d. fixture): a pure nProbe probe read 10/10 at sf0.01
    // but 9/10 at sf0.1, a Voronoi-BOUNDARY fact with a PUBLISHED
    // probe-vs-recall curve (SCALE.md round-9 section):
    // the missed neighbor's nearest cell is the query's 10th-ranked
    // of 16, so the curve is FLAT at 9/10 for nProbe 1..9 and reaches
    // 10/10 only at a 62% scan. SOAR-style spilled assignment (the
    // standard boundary fix) DEGENERATES on this geometry: d2/d1 ≈ 1.0
    // corpus-wide (τ=1.1 would duplicate 98.6% of rows) and the missed
    // vector's 2nd cell ranks 7th anyway; finer quantizers lose MORE
    // (32/6 → 9/10, 64/8 → 7/10). Since round 11 the served index
    // answers this with GEOMETRY-AWARE ESCALATION
    // ([[MarginEscalateFrac]]) — and since round 12 this inline demo
    // runs the SAME protocol: the assignment pass (already paid — the
    // demo trains per query) also carries the d1/d2 margin columns,
    // one aggregate measures the SOAR spill census, and a low-margin
    // corpus (i.i.d. fixtures ≈0.99) escalates to the exhaustive scan
    // instead of a probe the geometry cannot support. Plain IVF has no
    // quantized codes to fall back on, so its exhaustive path is the
    // exact scan (the brute-force shape); on clustered data (margin
    // ≈0.0x — the real-embedding shape, ScaleBench's Zipf corpus) the
    // nProbe cell probe serves untouched, which is where the nProbe
    // dial actually prices the IVF trade.
    "llm_ann_ivf_topk" -> ((s, dir) => {
      val nList = 16
      val nProbe = adaptiveNProbe(Tables.rowCount(s, dir, "embeddings"), nList)
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val centroids = trainCentroids(e, nList)
      val cb = bcastModel(s, centroids, 2, s"ivf_coarse[$nList]")
      val q = queryPoint(e)
      // ONE assignment pass (the O(N·nList·dim) kernel) carries cell +
      // margin; persisted because the census aggregate and the serving
      // filter both read it — recomputing the kernel per consumer was
      // the round-5 build regression.
      // Corpus rows only (vec_id 0 is the query vector) — the census
      // averages over CORPUS geometry, matching the ivfpq variant
      // exactly; including the query row biased lowMargin by one row
      // on tiny fixtures (round-12 advice).
      val assigned = assignWithMargin(e.filter(col("vec_id") =!= 0), cb, nList, "cell")
        .transform(graft.Pins.pin)
      val served = servedCells(q, centroids.map(_.toArray).toArray, nProbe,
        lowMarginFrac(assigned))
      cosineTop10(e, inServed(assigned, served))
    }),

    // Product Quantization (PQ) ANN: each 64-dim vector compresses to
    // m=8 one-byte codes (nearest of nCent per-subspace centroids),
    // and the query scores codes by summing m lookups in a per-query
    // asymmetric-distance table (ADC) — Jégou et al., "Product
    // Quantization for Nearest Neighbor Search", TPAMI'11; the
    // ADC-shortlist + exact-re-rank refinement below is that paper's
    // IVFADC-R shape. The 100 TB story is memory-bandwidth: 8
    // bytes/vector instead of 256, so the exhaustive ADC scan reads
    // 32× less than raw floats (and composes with IVF cell pruning
    // for IVF-PQ). Here codes are computed inline (the fixture stores
    // raw floats); in production encode runs at WRITE time and only
    // the codes column is scanned. Codebooks (m×nCent×8 doubles) and
    // the ADC table (m×nCent) are O(1) artifacts: trained once on the
    // bounded sample, shipped as TRUE BROADCASTS
    // ([[graft.functions.BroadcastArrayExpr]]) — zero join, and plan
    // size independent of codebook size. Scoring is pure per-row HOF
    // arithmetic: no UDF, no shuffle before the shortlist top-k.
    // Exact-re-rank output -> DuckDB brute-force-top-10 oracle + Recall.
    "llm_ann_pq_topk" -> ((s, dir) => {
      // 16 subspaces × 4 dims × 64 centroids: the m=8/8-dim/64-cent
      // config measured overlap@10 5/10 at sf0.1 even with a 500-row
      // re-rank list — on this distance-concentrated fixture the
      // coarse ADC can't order the near field and no affordable R
      // recovers it. Halving the subspace dim doubles the code count
      // (16 vs 8 bytes/vector — still 16× less scan than raw floats)
      // at the same m·nCent·subDim multiply-add budget, and the finer
      // per-subspace cells restore the overlap (10/10 sf0.01, 9/10
      // sf0.1); 256 centroids restores it too but at 4× the encode
      // FLOPs. Encode rides the native pq_encode kernel — the HOF
      // form's per-(subspace,centroid) interpreted folds dominated
      // the query (measured 10.6 s vs 2.6 s at sf0.1) regardless of
      // the FLOP budget.
      val m = 16 // subspaces
      val subDim = 4 // 64 / m
      val nCent = 64
      // forCompute: the encode+score scan is per-row compute over a
      // byte-small file — without the repartition it single-threads.
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      // Codebook training: PQ quantizers train on a BOUNDED sample by
      // design (MaxTrainSample vectors regardless of corpus size), so
      // the sample — selected by content-hash rank, no global sort —
      // is collected and Lloyd runs on the driver: microseconds of
      // arithmetic vs ~6 s of driver-scheduled spark.ml stage overhead
      // for 8 tiny fits. Same bounded-artifact boundary as collecting
      // a sketch; the distributed work stays where the data is big
      // (the encode+score scan).
      val sample: Array[Array[Double]] = sampleVectors(e)
      val codebooks: Seq[Seq[Seq[Double]]] = (0 until m).map { j =>
        val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
        lloyd(pts, nCent, iters = 3).map(_.toSeq).toSeq
      }
      val cb = bcastModel(s, codebooks, 3, s"pq_codebooks[${m}x$nCent]")
      // ADC table for THE query vector (vec_id 0): table[j][c] =
      // ||q_sub_j - centroid_jc||² — m×nCent doubles, computed once
      // on the driver from the collected 1-row query (the ANN query
      // pattern; same boundary as the broadcast query vector).
      val q = queryPoint(e)
      val adc: Seq[Seq[Double]] = (0 until m).map { j =>
        codebooks(j).map { cent =>
          (0 until subDim).map { d =>
            val diff = q(j * subDim + d) - cent(d); diff * diff
          }.sum
        }
      }
      val table = bcastModel(s, adc, 2, s"pq_adc[${m}x$nCent]")
      val codes = pqCodes(col("emb"), cb, m, subDim, nCent)
      val score = adcScore(col("codes"), table, m)
      // SHORTLIST + EXACT RE-RANK — the production PQ architecture
      // (IVFADC's refinement stage): the 32×-cheaper ADC scan selects an
      // R-row shortlist (TakeOrderedAndProject — each partition forwards
      // ≤R rows), then ONLY those R ids fetch their raw vectors for
      // exact distances. At 100 TB the codes scan never touches raw
      // floats and the re-rank is R point lookups; quantization noise
      // then costs recall only past rank R, not rank 10 (overlap@10
      // measured 4/10 ADC-only → re-ranked recovery measured in RECALL_r04 on this
      // distance-concentrated fixture). R scales with the corpus
      // ([[shortlistSize]]).
      val shortlist = e.filter(col("vec_id") =!= 0)
        .withColumn("codes", codes)
        .select(col("vec_id"), round(score, 9).as("pq_dist"))
        .orderBy(col("pq_dist"), col("vec_id"))
        .limit(shortlistSize(s, dir))
      // Output = the EXACT re-rank only: the oracle asserts both the
      // exact scoring AND that the ADC shortlist recalled the true
      // neighbors at the gate SF (overlap is additionally measured at
      // both SFs in RECALL).
      exactL2Top10(e, shortlist)
    }),

    // Scalar quantization (SQ8) ANN — the QT_8bit scheme of faiss's
    // ScalarQuantizer: each dimension maps to ONE byte via a per-dim
    // affine [min,max] range learned from the same bounded sample as
    // every other quantizer here. No codebook at all — the model is
    // 2×dim doubles (min, scale), the cheapest quantizer to train,
    // and encode is a pure per-dim affine map, so write-time encoding
    // costs one multiply-add per value. 64 code bytes/vector vs 256
    // float bytes = 4× scan bandwidth (PQ's 32× costs codebook
    // training; SQ8 is the no-training point on that curve). Scoring
    // is asymmetric (exact query against the decoded corpus byte);
    // out-of-range values clamp to the byte edges — standard SQ
    // saturation. Same shortlist + exact-re-rank refinement as PQ:
    // quantization noise costs recall only past the shortlist.
    // Exact-re-rank output -> DuckDB brute-force-top-10 oracle + Recall.
    "llm_ann_sq8_topk" -> ((s, dir) => {
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val sample = sampleVectors(e)
      val dim = sample.head.length
      val vmin = (0 until dim).map(j => sample.map(_(j)).min)
      val vmax = (0 until dim).map(j => sample.map(_(j)).max)
      // A constant dimension would divide by zero; its scale is moot
      // (code 0 decodes to vmin exactly), so pin it to 1.
      val scale = (0 until dim).map { j =>
        val s0 = (vmax(j) - vmin(j)) / 255.0; if (s0 == 0.0) 1.0 else s0
      }
      val minLit = typedlit(vmin)
      val scaleLit = typedlit(scale)
      val qLit = typedlit(queryPoint(e).toSeq)
      val codes = transform(col("emb"), (x, i) =>
        least(lit(255.0), greatest(lit(0.0),
          round((x - element_at(minLit, i + 1)) / element_at(scaleLit, i + 1), 0))))
      val dist = aggregate(
        transform(col("codes"), (c, i) => {
          val dec = element_at(minLit, i + 1) + c * element_at(scaleLit, i + 1)
          val d = element_at(qLit, i + 1) - dec
          d * d
        }),
        lit(0.0), (acc, x) => acc + x)
      val shortlist = e.filter(col("vec_id") =!= 0)
        .withColumn("codes", codes)
        .select(col("vec_id"), round(dist, 9).as("sq_dist"))
        .orderBy(col("sq_dist"), col("vec_id"))
        .limit(shortlistSize(s, dir))
      // Exact-re-rank-only output — same oracle contract as the PQ
      // variant above.
      exactL2Top10(e, shortlist)
    }),

    // IVFADC — the full production ANN composition (Jégou et al.
    // TPAMI'11 §IV): IVF coarse cells prune the scan to nProbe/nList
    // of the corpus, PQ codes of the RESIDUAL (vector minus its cell
    // centroid — residuals concentrate near 0, so the same codebook
    // bits quantize much finer than on raw vectors) are ADC-scored
    // with a PER-CELL lookup table (the query's residual differs per
    // probed cell), and the shortlist re-ranks exactly. At 100 TB:
    // cell = write-time partition key (the probe filter is partition
    // pruning), codes column ≈ 8 logical bytes/vector scanned
    // (sub-byte values dictionary/bit-packed by parquet), raw floats
    // touched only for the shortlist. All model artifacts
    // (coarse codebook nList×64, residual codebooks m×nCent×8, ADC
    // tables nList×m×nCent) are O(1) broadcasts from the same bounded
    // sample — plan size stays independent of codebook size.
    // Exact-re-rank output -> DuckDB top-10 oracle + Recall.
    "llm_ann_ivfpq_topk" -> ((s, dir) => {
      val nProbe = adaptiveNProbe(Tables.rowCount(s, dir, "embeddings"), 16)
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val model = IvfPqModel.train(e, nList = 16, m = 8, subDim = 8, nCent = 64)
      val coarseLit = bcastModel(s, model.coarse.map(_.toSeq).toSeq, 2,
        s"ivfpq_coarse[${model.nList}]")
      val cbLit = bcastModel(s, model.codebooks.map(_.map(_.toSeq).toSeq).toSeq, 3,
        s"ivfpq_codebooks[${model.m}x${model.nCent}]")
      val q = queryPoint(e)
      // Geometry-aware escalation, same protocol as the served index
      // and the inline IVF demo above: the assignment pass carries the
      // d1/d2 margin, one aggregate runs the SOAR spill census, and a
      // low-margin corpus escalates to the EXHAUSTIVE quantized path —
      // ADC over every cell's codes (raw floats still only at the
      // re-rank; the llm_ann_pq_topk full-scan shape, which reads
      // 10/10 at both SFs). Clustered corpora keep the nProbe probe.
      val assigned = assignWithMargin(e.filter(col("vec_id") =!= 0), coarseLit,
          model.nList, "cell")
        .transform(graft.Pins.pin)
      val served = servedCells(q, model.coarse, nProbe, lowMarginFrac(assigned))
      // One ADC table per served cell (every cell when escalated) from
      // the query's residual in THAT cell.
      val tables = bcastModel(s, adcTablesPerCell(q, model, served), 3,
        s"ivfpq_adc_tables[${model.nList}]")
      // Scan: PRUNE to served cells (at write-time layout this is
      // partition pruning — llm_ann_indexed_topk IS that layout),
      // residual-encode survivors, ADC.
      val shortlist = inServed(assigned, served)
        .withColumn("res",
          zip_with(col("emb"), element_at(coarseLit, col("cell") + 1), (x, y) => x - y))
        .withColumn("codes", pqCodes(col("res"), cbLit, model.m, model.subDim, model.nCent))
        .select(col("vec_id"),
          round(adcScore(col("codes"), element_at(tables, col("cell") + 1), model.m), 9)
            .as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(shortlistSize(s, dir))
      exactL2Top10(e, shortlist)
    }),

    // MATERIALIZED-index ANN — the production serving shape the other
    // ANN queries only argue for: the IVFADC index (vec_id, label,
    // codes) is built ONCE PER INGEST as an IndexStore artifact
    // PARTITIONED BY the coarse cell, with the trained model in an
    // atomically-swapped sidecar. Query time touches NO raw floats
    // until the re-rank: the probe filter on `cell` is genuine hive
    // PARTITION PRUNING (directories outside the nProbe cells never
    // open a footer — VecIndexSpec asserts PartitionFilters in the
    // scan), the pruned scan reads ~8-logical-byte codes instead of
    // 256-byte vectors (the 32× bandwidth argument, physical up to
    // parquet's dictionary/bit-packing of the sub-byte values), and only the
    // shortlist fetches vectors for exact distances. At 100 TB
    // this is the difference between an ANN *query* (ms — prune, scan
    // codes, R lookups) and an ANN *ingest* (the one-time encode).
    // Exact-re-rank output -> DuckDB top-10 oracle + RECALL + spec.
    "llm_ann_indexed_topk" -> ((s, dir) => {
      val (idx, model) = materializedVecIndex(s, dir)
      val nProbe = adaptiveNProbe(Tables.rowCount(s, dir, "embeddings"), model.nList)
      val e = embDouble(Tables(s, dir, "embeddings"))
      val q = queryPoint(e)
      // Geometry-aware escalation (see [[MarginEscalateFrac]]): a
      // low-margin index (the build-time sidecar diagnostic says its
      // Voronoi boundaries cannot support a reliable probe — the
      // i.i.d.-fixture geometry) serves the EXHAUSTIVE quantized path
      // — NO cell filter, ADC over every partition's codes, exact
      // re-rank unchanged — so answer quality never silently depends
      // on geometry the caller can't see. A clustered corpus (margin
      // frac ≈ 0) keeps the partition-pruned nProbe probe.
      val served = servedCells(q, model.coarse, nProbe, model.lowMarginFrac)
      // Two-level layout: each served level-1 cell expands to its
      // composite partition values — a SPLIT cell contributes only the
      // query's IdxSubProbe nearest sub-cells (driver arithmetic over
      // the O(1) sidecar sub-codebook), so the pruning that used to
      // stop at 1/nList of the corpus now prunes INSIDE oversized
      // cells at directory granularity. ADC scoring is untouched:
      // codes are level-1 residuals, the per-row table lookup just
      // recovers c1 = cell DIV 4096.
      def partsOf(cells: Seq[Int]): Seq[Int] =
        if (model.sub.isEmpty) cells
        else cells.flatMap { c1 =>
          model.sub.get(c1) match {
            case None => Seq(c1 * 4096)
            case Some(cb2) =>
              probeCells(q, cb2, math.min(IdxSubProbe, cb2.length))
                .map(c2 => c1 * 4096 + c2 + 1)
          }
        }
      val rowC1 =
        if (model.sub.isEmpty) col("cell")
        else (col("cell") / 4096).cast(org.apache.spark.sql.types.IntegerType)
      val tables = bcastModel(s, adcTablesPerCell(q, model, served), 3,
        s"idx_adc_tables[${model.nList}]")
      val scanned = served.fold(idx.filter(col("vec_id") =!= 0))(cells =>
        idx.filter(col("cell").isin(partsOf(cells): _*) && col("vec_id") =!= 0))
      val shortlist = scanned
        .select(col("vec_id"),
          round(adcScore(col("codes"), element_at(tables, rowC1 + 1), model.m), 9)
            .as("adc_dist"))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(shortlistSize(s, dir))
      exactL2Top10(e, shortlist)
    }),

    // 1-bit (sign) binary quantization + Hamming shortlist — the
    // extreme point of the quantization curve (PQ 32×, SQ8 4×, binary
    // 32× vs raw floats at dim 64: 8 signature bytes per vector), the
    // scheme behind faiss's IndexBinaryFlat and every "binary
    // embedding" retrieval stack: bit i = sign(emb[i]), distance =
    // popcount(xor) — two fused instructions per 64 dims. Unlike every
    // other ANN family here it needs NO trained model (the quantizer
    // is the sign function), so the whole chain is deterministic
    // integer arithmetic + the same rounded-float re-rank as
    // llm_cosine_topk ⇒ the one ANN variant that is fully
    // ORACLE-CHECKABLE, not rows-only. At 100 TB: the signature scan
    // touches 2 BIGINT columns (parquet-encoded ~8 bytes/vector), the
    // Hamming shortlist is TakeOrderedAndProject(100) (per-partition
    // top-k, no global sort), and raw floats load only for the 100
    // re-ranked ids. Signatures pack 32 bits per BIGINT (not 64) so
    // bit 63 never sets the sign bit — both engines stay in ordinary
    // non-overflowing BIGINT arithmetic. The shortlist is ranked
    // ASYMMETRICALLY (faiss's asymmetric binary distance): the query
    // keeps its floats, so each sign agreement is weighted by the
    // query coordinate's magnitude — q·s = 2·Σ_{bit set} q_i − Σq_i
    // with Σq_i candidate-constant, so ranking by Σ_{bit set} q_i
    // maximizes the reconstruction dot product. Unweighted Hamming
    // (measured: overlap@10 9/10 here) throws that magnitude away and
    // misses near neighbors whose few sign flips sit on large-|q_i|
    // dims. The per-dim weights are quantized once to exact integers
    // (floor(q_i·10⁹) — same double→same floor in both engines), so
    // the candidate score is an exact BIGINT sum: deterministic,
    // order-free, oracle-checkable. The shortlist R scales with the
    // corpus like the PQ family's (max(100, N/100)). Overlap@10 vs
    // exact L2 is measured in Recall alongside the trained quantizers.
    "llm_ann_binary_topk" -> ((s, dir) => {
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val pows = typedlit((0 until 32).map(i => 1L << i))
      def sig(off: Int): Column =
        aggregate(
          zip_with(slice(col("emb"), off + 1, 32), pows,
            (x, p) => when(x > lit(0.0), p).otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v)
      val sigd = e.withColumn("sig_lo", sig(0)).withColumn("sig_hi", sig(32))
      val q = broadcast(sigd.filter(col("vec_id") === 0)
        .select(col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"),
          col("emb").as("qw")))
      val r = math.min(100000L,
        math.max(100L, Tables.rowCount(s, dir, "embeddings") / 100L)).toInt
      val asym = expr(
        "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> acc + " +
          "CASE WHEN (CASE WHEN i < 32 THEN shiftright(sig_lo, i) " +
          "ELSE shiftright(sig_hi, i - 32) END) % 2 = 1 " +
          "THEN CAST(floor(element_at(qw, i + 1) * 1000000000.0) AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END)")
      val shortlist = sigd.filter(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
          (bit_count(col("sig_lo").bitwiseXOR(col("q_lo"))) +
            bit_count(col("sig_hi").bitwiseXOR(col("q_hi")))).as("hamming"),
          asym.as("asym"))
        .orderBy(col("asym").desc, col("vec_id"))
        .limit(r)
      exactL2Top10(e, shortlist, col("hamming"))
    }),

    // MMR diversified re-rank (Carbonell & Goldstein, SIGIR'98) — the
    // standard redundancy-vs-relevance selection: after retrieval,
    // pick k results greedily by λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)
    // so near-duplicate hits don't crowd the result page (and, in a
    // training-data pipeline, so a retrieval-curated batch doesn't
    // stack semantic near-dupes — the per-batch analogue of SemDeDup).
    // Scale shape: relevance top-N is the same scan +
    // TakeOrderedAndProject(N) as llm_cosine_topk; the O(N²) pairwise
    // similarities are computed distributed over the BOUNDED 50-row
    // candidate broadcast (2 500 rows — never corpus²); the greedy
    // selection itself is inherently sequential and runs as a driver
    // fold over the collected O(N²) candidate matrix (same bounded-
    // collect budget as the ANN codebooks; k·N comparisons). All
    // similarities are rounded to 9 decimals before selection and the
    // tie-break is vec_id, so the greedy chain is deterministic and
    // the whole query — selection included — hash-checks against a
    // k-level unrolled-CTE DuckDB twin.
    "llm_mmr_rerank" -> ((s, dir) => {
      val n = 50; val k = 10
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
      val cand = e.crossJoin(queryVec(e)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("emb"),
          round(cosine(col("emb"), col("qv")), 9).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(n)
      val left = cand.select(col("vec_id").as("a"), col("emb").as("ea"))
      val right = cand.select(col("vec_id").as("b"), col("emb").as("eb"))
      val pairSims = left.join(broadcast(right), col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(cosine(col("ea"), col("eb")), 9).as("sim"))
      val candRows = cand.select(col("vec_id"), col("label"), col("rel"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val sim = pairSims.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      // Same round-half-up-at-9 as the Spark/DuckDB round() the sims
      // went through, so the selection arithmetic is engine-identical.
      def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      var selected = Vector.empty[MmrPick]
      var remaining = candRows
      for (rank <- 1 to k) {
        val scored = remaining.map { case (id, lb, rel) =>
          val maxSim = if (selected.isEmpty) 0.0
            else selected.map(p => sim((id, p.vec_id))).max
          MmrPick(rank, id, lb, rel, r9(0.5 * rel - 0.5 * maxSim))
        }
        val best = scored.minBy(p => (-p.mmr_score, p.vec_id))
        selected = selected :+ best
        remaining = remaining.filterNot(_._1 == best.vec_id)
      }
      s.createDataFrame(selected).orderBy(col("mmr_rank"))
    }),

    // k-NN GRAPH construction — every vector's top-3 neighbors by
    // exact cosine among candidates sharing its sign-LSH bucket (the
    // 6-bit signature of the first 6 dimensions' signs — the same
    // binary-sign family as llm_ann_binary_topk, here used for
    // BLOCKING instead of ranking). The neighbor graph is the backbone
    // of cluster-based curation (SemDeDup's cluster step, graph-based
    // diversity sampling, label propagation): build it ONCE per
    // ingest, then every downstream pass is a graph op, not a vector
    // op. Scale shape: buckets are DISJOINT (each vector hashes to
    // exactly one), so the candidate join is a single equi-join on the
    // bucket key — never corpus²; per-bucket work is |bucket|², kept
    // bounded exactly like the IVF cell family (oversized buckets
    // re-split on more sign bits — the vector index's two-level
    // trainSubCodebooks/withSubCells pattern). Ranking
    // is exact cosine inside the bucket with the rank filter directly
    // on row_number → WindowGroupLimit keeps k rows per vector per
    // partition before the exchange. Fully deterministic (sign bits +
    // round-9 cosine + id tie-break) → hash-exact DuckDB oracle, which
    // no spark.ml LSH variant can offer.
    "llm_knn_graph" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").desc, col("nbr_id"))
      signBucketCands(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("vec_id"), col("rk"), col("nbr_id"), col("cos_sim"))
        .orderBy(col("vec_id"), col("rk"))
    }),

    // Triplet mining for metric learning (the FaceNet/SBERT training-
    // data prep): for every anchor vector, its hardest POSITIVE (most
    // similar bucket-mate) and hardest in-bucket NEGATIVE (least
    // similar bucket-mate) — the (anchor, positive, negative) rows a
    // contrastive trainer consumes. Sharing the k-NN graph's disjoint
    // sign-bucket candidate frame means the whole mine is one blocked
    // join scanned twice by two per-anchor windows (opposite sort
    // orders, both riding WindowGroupLimit) — linear shuffle, never
    // corpus². Degenerate anchors whose bucket holds a single peer
    // (positive == negative) are dropped: a triplet with zero margin
    // teaches nothing. Deterministic → hash-exact.
    "llm_triplet_mining" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cand = signBucketCands(s, dir)
      val wPos = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").desc, col("nbr_id"))
      val wNeg = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").asc, col("nbr_id"))
      val pos = cand.withColumn("rk", row_number().over(wPos))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("nbr_id").as("pos_id"),
          col("cos_sim").as("pos_sim"))
      val neg = cand.withColumn("rk", row_number().over(wNeg))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("nbr_id").as("neg_id"),
          col("cos_sim").as("neg_sim"))
      pos.join(neg, "vec_id")
        .filter(col("pos_id") =!= col("neg_id"))
        .orderBy(col("vec_id"))
    })
  )

  /** Disjoint sign-LSH blocking shared by the k-NN graph and triplet
    * miner: 6-bit signature of the first 6 dims' signs → one equi-join
    * on the bucket key, exact round-9 cosine per candidate pair.
    */
  private def signBucketCands(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
    val sig = (0 until 6).map(i =>
      when(element_at(col("emb"), i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val b = e.select(col("vec_id"), col("emb"), sig.as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        round(cosineNative(col("a.emb"), col("b.emb")), 9).as("cos_sim"))
  }

  /** One MMR selection: rank in the diversified list, the picked
    * vector, its pure relevance, and the winning MMR score.
    */
  private[graft] case class MmrPick(mmr_rank: Int, vec_id: Long, label: Int,
                                    rel: Double, mmr_score: Double)

  private[graft] val VecIndexName = "vec_ivfpq_index"
  private[graft] val ModelSidecar = "_graft_ivfpq_model"

  /** IVFADC encode of an embedding frame under a (frozen) model: cell
    * assignment + residual PQ codes. Used by the index build AND by
    * incremental maintenance (a streaming micro-batch encodes with the
    * index's sidecar model — never retrains; retraining is a rebuild).
    *
    * With a two-level model (`model.sub` non-empty) the emitted cell is
    * the COMPOSITE id `c1·4096 + c2 + 1` (plain cells keep `c1·4096`):
    * the ADC codes are still residuals against the LEVEL-1 centroid —
    * level 2 refines only the partition LAYOUT, never the scoring — so
    * a one- and two-level index carry identical codes and differ only
    * in how finely the probe can prune directories.
    */
  private[graft] def encodeWithModel(e: DataFrame, model: IvfPqModel): DataFrame = {
    val coarseLit = bcastModel(e.sparkSession, model.coarse.map(_.toSeq).toSeq, 2,
      s"idx_coarse[${model.nList}]")
    val assigned = e
      .withColumn("__cd", cellDistances(col("emb"), coarseLit, model.nList))
      .withColumn("c1", argminCell(col("__cd"), model.nList))
      .drop("__cd")
    encodeAssigned(assigned, model)
  }

  /** [[encodeWithModel]] for a frame whose level-1 cell `c1` is ALREADY
    * a column — the build path computes the O(N·nList·dim) coarse
    * assignment exactly once (a persisted ingest-time frame) and feeds
    * it to the size census, the sub-codebook sample AND this encode;
    * recomputing it in each consumer tripled the dominant kernel of
    * `_build_vec_index` (the round-5 bench regression).
    */
  private[graft] def encodeAssigned(e: DataFrame, model: IvfPqModel): DataFrame = {
    val coarseLit = bcastModel(e.sparkSession, model.coarse.map(_.toSeq).toSeq, 2,
      s"idx_coarse[${model.nList}]")
    val cbLit = bcastModel(e.sparkSession,
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq, 3,
      s"idx_codebooks[${model.m}x${model.nCent}]")
    val enc = e
      .withColumn("res",
        zip_with(col("emb"), element_at(coarseLit, col("c1") + 1), (x, y) => x - y))
      .withColumn("codes", pqCodes(col("res"), cbLit, model.m, model.subDim, model.nCent))
    if (model.sub.isEmpty)
      enc.select(col("vec_id"), col("label"), col("codes"), col("c1").as("cell"))
    else withSubCells(enc, model.sub, model.nList)
      .select(col("vec_id"), col("label"), col("codes"), col("cell"))
  }

  /** The level-2 step of the two-level layout: a row whose level-1 cell
    * `c1` is split (a key of `sub`, the [[trainSubCodebooks]] output)
    * gets the composite cell `c1·4096 + c2 + 1`, c2 its nearest
    * sub-centroid; a row of an unsplit cell gets `c1·4096`. Each row's
    * sub-codebook is selected by c1 from ONE broadcast literal of
    * `nList` entries — no join, no shuffle — where unsplit cells carry
    * a zero dummy that is never evaluated (CaseWhen branches evaluate
    * lazily per row). The distances are their own projection (the
    * [[cellDistances]] rule: the O(k2·dim) fold evaluates once, not in
    * both argmin branches).
    */
  private[graft] def withSubCells(l1: DataFrame, sub: Map[Int, Array[Array[Double]]],
                                  nList: Int): DataFrame = {
    val k2 = sub.head._2.length
    val dim = sub.head._2.head.length
    val splitCells = sub.keys.toSeq.sorted
    val cb2 = bcastModel(l1.sparkSession,
      (0 until nList).map(c =>
        sub.get(c).map(_.map(_.toSeq).toSeq).getOrElse(Seq.fill(k2)(Seq.fill(dim)(0.0)))),
      3, s"idx_l2_codebooks[${nList}x$k2]")
    l1.withColumn("__cd2",
        when(col("c1").isin(splitCells: _*),
          cellDistances(col("emb"), element_at(cb2, col("c1") + 1), k2)))
      .withColumn("cell",
        when(col("c1").isin(splitCells: _*),
          col("c1") * 4096 + argminCell(col("__cd2"), k2) + 1)
          .otherwise(col("c1") * 4096))
      .drop("__cd2")
  }

  /** The vector index as a first-class warehouse artifact (same
    * contract as the near-dup pair graph): encode runs at WRITE time,
    * once per ingest — provenance fingerprint = builder version +
    * knobs + input-file metadata, so readers rebuild exactly when the
    * corpus changed. Layout: hive-partitioned by the coarse cell
    * (partition count = nList, scaling with corpus size under the
    * cell-count policy), codes column only — the payload is 8 sub-byte
    * codes per vector (array<int> values < 64, which parquet
    * dictionary/bit-packing stores near the logical 8 bytes; a raw
    * binary column would pin it exactly), not the 256-byte vector.
    */
  /** Serving-cell budget for the materialized index: a level-1 cell
    * whose membership exceeds 4× this target gets a second-level
    * codebook, so probe cost stays bounded per cell even though nList
    * is a fixed model knob — at any corpus size past nList·4·target
    * (the capped-quantizer regime: nList can't grow without retraining)
    * EVERY cell crosses the bar and the whole layout goes composite.
    * Without the split an "nProbe/nList of the corpus" probe silently
    * degrades to reading corpus-sized directories.
    */
  private[graft] val IdxTargetCellSize = 100
  private[graft] val IdxSubK = 16

  /** Geometry-aware serving escalation (round-10 verdict #4). The
    * quality of an nProbe cell probe depends on corpus geometry the
    * CALLER cannot see: on clustered data (the real-embedding shape —
    * the zipf generator's K=32-center corpus) the query's nearest
    * cells contain the true neighbors and nProbe=1 already reads
    * 10/10 at a 2.9% scan (SCALE.md round-10), while on an i.i.d.
    * corpus dim-64 distance concentration puts every vector on a
    * Voronoi boundary (d2/d1 ≈ 1.0 corpus-wide — IvfDiag measured
    * 98.6% of the sf0.1 fixture inside τ=1.1) and NO affordable
    * nProbe is reliable (the honest flat-at-9/10 curve). The index
    * build therefore measures the margin ONCE — the fraction of rows
    * whose 2nd-nearest cell sits within τ²=[[MarginSpillTau2]] of
    * their nearest (exactly the SOAR spill-selectivity census of
    * SCALE.md's round-9 section) — stores it in the model sidecar, and the served query
    * auto-escalates a low-margin index
    * (frac ≥ [[MarginEscalateFrac]]) to the EXHAUSTIVE quantized
    * path: ADC over every cell's codes (still never raw floats until
    * the re-rank — the same full-scan shape as llm_ann_pq_topk, which
    * reads 10/10 at both SFs) instead of a probe the geometry cannot
    * support. High-margin indexes keep the partition-pruned probe
    * untouched. Threshold 0.5 splits the measured geometries by a
    * wide band: i.i.d. fixtures read ≈0.99, the clustered corpus
    * ≈0.0x — either side is unambiguous.
    */
  private[graft] val MarginSpillTau2 = 1.21
  private[graft] val MarginEscalateFrac = 0.5
  /** Sub-cells probed per split level-1 cell — the second level's
    * recall/cost dial. Measured at sf0.1 (composite layout active,
    * 625-member cells split 16 ways): probing 8/16 sub-cells returns
    * the IDENTICAL top-10 to scanning all 16 — the second level loses
    * nothing on this corpus while halving the files read inside every
    * probed cell. (The one neighbor the indexed query misses vs exact
    * at sf0.1 — overlap@10 9 — falls outside the 4 probed LEVEL-1
    * cells; that is the pre-existing nProbe dial, untouched here.)
    */
  private[graft] val IdxSubProbe = 8

  /** Level-2 codebooks for every oversized level-1 cell (more than
    * 4×[[IdxTargetCellSize]] members — one count() aggregation),
    * trained by per-cell Lloyd on a bounded per-cell content-hash
    * sample (the [[sampleVectors]] policy, ranked per cell by ONE
    * window in ONE job — the collect is bounded by
    * max(MaxTrainSample, 8·k2·|oversized|) rows total, never one job
    * per oversized cell). Takes the level-1 assignment `l1` (vec_id,
    * emb, c1) as input — the build path persists it once and shares it
    * with the encode, so the coarse-distance kernel never reruns here.
    * [[withSubCells]] assigns the sub-cells.
    */
  private[graft] def trainSubCodebooks(l1: DataFrame): Map[Int, Array[Array[Double]]] = {
    val sizes = l1.groupBy(col("c1")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val oversized = sizes.filter(_._2 > 4L * IdxTargetCellSize).keys.toSeq.sorted
    if (oversized.isEmpty) return Map.empty
    val perCellCap = math.max(8 * IdxSubK, MaxTrainSample / oversized.size)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c1")).orderBy(xxhash64(col("vec_id")), col("vec_id"))
    val sampled = l1.filter(col("c1").isin(oversized: _*))
      .withColumn("__rk", row_number().over(rankW))
      .filter(col("__rk") <= perCellCap)
      .select(col("c1"), col("vec_id"), col("emb"))
      .collect()
    sampled.groupBy(_.getInt(0)).map { case (c, rows) =>
      c -> lloyd(rows.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray),
        IdxSubK, iters = 5)
    }
  }

  private[graft] def materializedVecIndex(s: SparkSession, dir: String): (DataFrame, IvfPqModel) = {
    val store = new graft.etl.IndexStore(s, graft.etl.IndexStore.artifactRoot(dir))
    // v3: two-level layout — oversized level-1 cells split into
    // composite sub-cells (c1·4096 + c2 + 1) so the probe prunes at
    // file granularity inside them too — plus the cluster-margin
    // diagnostic in the sidecar (see [[MarginEscalateFrac]]).
    val fp = s"ivfpq_v3:nList=16:m=8:nCent=64:target=$IdxTargetCellSize:k2=$IdxSubK:" +
      graft.etl.IndexStore.pathFingerprint(s, s"$dir/embeddings.parquet")
    if (!store.artifactFingerprint(VecIndexName).contains(fp)) {
      val e = embDouble(Tables.forCompute(s, dir, "embeddings"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model0 = IvfPqModel.train(e, nList = 16, m = 8, subDim = 8, nCent = 64)
      // The O(N·nList·dim) coarse assignment is the build's dominant
      // kernel — compute it ONCE into an ingest-scoped persisted frame
      // shared by the size census + sub-codebook sample (inside
      // trainSubCodebooks), the margin census and the final encode.
      // Recomputing it per consumer was the round-5 `_build_vec_index`
      // regression (5.0 → 7.9 s at sf0.1); this is ingest-time cost,
      // released before the build returns, so the query-path no-cache
      // policy is untouched. The d1/d2 margin columns ride the same
      // single __cd evaluation (multi-referenced attribute —
      // CollapseProject's cost check keeps the O(nList·dim) fold from
      // duplicating into each consumer) and cost 2 doubles/row in the
      // transient cache.
      val coarseLit = bcastModel(s, model0.coarse.map(_.toSeq).toSeq, 2,
        s"build_coarse[${model0.nList}]")
      val l1 = assignWithMargin(e, coarseLit, model0.nList, "c1")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // The SOAR spill-selectivity census as a build-time scalar: one
      // aggregation over the already-persisted assignment.
      val model = model0.copy(lowMarginFrac = lowMarginFrac(l1),
        sub = trainSubCodebooks(l1))
      val indexed = encodeAssigned(l1.drop("__d1", "__d2"), model)
      // Within-cell vec_id sort: partition pruning on `cell` stays the
      // probe-time skip; the maintenance key probe's pushed In(vec_id)
      // then prunes ROW GROUPS inside each cell file.
      store.writeArtifact(indexed, VecIndexName, fp,
        partitionCols = Seq("cell"), withinFileSortCols = Seq("vec_id"),
        sidecars = Map(ModelSidecar -> model.serialize))
      l1.unpersist()
      e.unpersist()
    }
    val model = IvfPqModel.parse(store.artifactSidecar(VecIndexName, ModelSidecar)
      .getOrElse(sys.error(s"vector index $VecIndexName has no model sidecar")))
    (store.read(VecIndexName), model)
  }

  /** Incremental maintenance of the served vector index — the ANN twin
    * of the geo index's CELL-granular upsert: a batch of new or
    * changed vectors encodes under the index's FROZEN sidecar model
    * (cell assignment + residual codes — never retrains: quantizer
    * drift big enough to matter is a REBUILD, which the provenance
    * fingerprint forces when the corpus changes out from under the
    * index), then ONLY the touched cells rewrite — the cells the
    * batch's vectors now land in plus the cells its keys currently
    * occupy, so a re-encoded vector leaves no stale code in its
    * source cell (and a source cell the batch emptied is dropped
    * outright). Cost is O(batch) encode + O(touched cells) rewrite.
    * The algorithm is [[graft.etl.IndexStore.upsertKeyed]]; this
    * caller supplies the encode. The model sidecar lives at the
    * artifact root, which the partition-granular path never clears,
    * so served probes before and after the upsert run the same
    * geometry. Returns the index's row count after the batch.
    */
  private[graft] def upsertVecIndex(store: graft.etl.IndexStore,
                                    batch: DataFrame,
                                    fingerprint: String): Long = {
    val model = IvfPqModel.parse(
      store.artifactSidecar(VecIndexName, ModelSidecar).getOrElse(
        sys.error(s"$VecIndexName has no model sidecar — build the index " +
          "before upserting into it")))
    store.upsertKeyed(batch, VecIndexName, "vec_id", "cell", fingerprint)(
      b => encodeWithModel(embDouble(b), model))
    store.count(VecIndexName)
  }

  val oracleSql: Map[String, String] = Map(
    "llm_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) AS cos_sim
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "llm_cosine_topk_filtered" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) AS cos_sim
        |FROM e, q WHERE vec_id <> 0 AND label = 3
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "llm_cosine_range" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) AS cos_sim
        |FROM e, q WHERE vec_id <> 0
        |  AND round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) >= 0.25
        |ORDER BY cos_sim DESC, vec_id""".stripMargin,
    "llm_cosine_topk_batch" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q_id, e.vec_id, e.label,
        |    round(list_dot_product(emb, qv)
        |          / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |          9) AS cos_sim
        |  FROM e, q WHERE e.vec_id >= 5)
        |SELECT q_id, vec_id, label, cos_sim FROM scored
        |QUALIFY row_number() OVER (PARTITION BY q_id
        |                           ORDER BY cos_sim DESC, vec_id) <= 5
        |ORDER BY q_id, cos_sim DESC, vec_id""".stripMargin,
    "llm_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS qv
        |      FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q_id, q_label, e.vec_id, e.label,
        |    round(list_dot_product(emb, qv)
        |          / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |          9) AS cos_sim
        |  FROM e, q WHERE e.vec_id >= 5 AND e.label <> q_label)
        |SELECT q_id, q_label, vec_id, label, cos_sim FROM scored
        |QUALIFY row_number() OVER (PARTITION BY q_id
        |                           ORDER BY cos_sim DESC, vec_id) <= 3
        |ORDER BY q_id, cos_sim DESC, vec_id""".stripMargin,
    "llm_embedding_stats" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                CAST(embedding AS DOUBLE[]))), 9) AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(norm AS DECIMAL(28,12))) AS DOUBLE) AS sum_norm,
        |  min(norm) AS min_norm, max(norm) AS max_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    // Binary-sign ANN: modelless ⇒ the one ANN variant with a full
    // DuckDB twin. The 32-bit signature halves are unrolled CASE sums
    // (bit i of half h = sign(emb[32h+i]) · 2^i) — identical integer
    // construction to the Spark fold; the asymmetric shortlist score
    // is the same exact-BIGINT Σ_{bit set} floor(q_i·10⁹) sum (list
    // of integers — order-free), rank ≤ min(100k, max(100, N/100))
    // with N = full
    // table count including the query row, mirroring the Spark
    // e.count(); the rounded L2 re-rank mirrors the Spark plan
    // expression for expression.
    "llm_ann_binary_topk" -> {
      def sigSql(off: Int): String =
        (0 until 32).map(i =>
          s"(CASE WHEN emb[${off + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |sig AS (
         |  SELECT vec_id, label, emb,
         |         ${sigSql(0)} AS sig_lo,
         |         ${sigSql(32)} AS sig_hi
         |  FROM e),
         |q AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi, emb AS qv
         |      FROM sig WHERE vec_id = 0),
         |ranked AS (
         |  SELECT s.vec_id,
         |         CAST(bit_count(xor(s.sig_lo, q_lo))
         |              + bit_count(xor(s.sig_hi, q_hi)) AS INT) AS hamming,
         |         CAST(list_sum(list_transform(generate_series(0, 63),
         |           i -> CASE WHEN (CASE WHEN i < 32 THEN (s.sig_lo >> i)
         |                           ELSE (s.sig_hi >> (i - 32)) END) % 2 = 1
         |                THEN CAST(floor(qv[i + 1] * 1000000000.0) AS BIGINT)
         |                ELSE 0 END)) AS BIGINT) AS asym
         |  FROM sig s, q WHERE s.vec_id <> 0),
         |shortlist AS (
         |  SELECT vec_id, hamming FROM (
         |    SELECT vec_id, hamming,
         |           row_number() OVER (ORDER BY asym DESC, vec_id) AS rk,
         |           (SELECT count(*) FROM e) AS n
         |    FROM ranked)
         |  WHERE rk <= least(100000, greatest(100, n // 100)))
         |SELECT e.vec_id, e.label, sl.hamming,
         |  round(sqrt(list_dot_product(emb, emb) + list_dot_product(qv, qv)
         |             - 2 * list_dot_product(emb, qv)), 6) AS l2_dist
         |FROM e JOIN shortlist sl ON e.vec_id = sl.vec_id, q
         |ORDER BY l2_dist, e.vec_id LIMIT 10""".stripMargin
    },
    // MMR: the greedy selection unrolls into k CTE levels (the BPE-
    // trainer pattern — each level's 1-row argmax feeds the next
    // level's exclusion set and diversity max). Level 1 has no
    // selected set, so its score is pure halved relevance; the same
    // formula with max(sim)=0.
    "llm_mmr_rerank" -> {
      val cosSql = "round(list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s))), 9)"
      val base =
        s"""WITH e AS (
           |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings),
           |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
           |cand AS MATERIALIZED (
           |  SELECT vec_id, label, emb,
           |    ${cosSql.format("emb", "qv", "emb", "emb", "qv", "qv")} AS rel
           |  FROM e, q WHERE vec_id <> 0
           |  ORDER BY rel DESC, vec_id LIMIT 50),
           |pr AS MATERIALIZED (
           |  SELECT ca.vec_id AS a, cb.vec_id AS b,
           |    ${cosSql.format("ca.emb", "cb.emb", "ca.emb", "ca.emb", "cb.emb", "cb.emb")} AS sim
           |  FROM cand ca, cand cb WHERE ca.vec_id <> cb.vec_id),
           |s1 AS MATERIALIZED (
           |  SELECT 1 AS mmr_rank, vec_id, label, rel,
           |    round(0.5 * rel - 0.5 * 0.0, 9) AS mmr_score
           |  FROM cand ORDER BY mmr_score DESC, vec_id LIMIT 1),
           |sel1 AS (SELECT vec_id FROM s1)""".stripMargin
      val iters = (2 to 10).map { n =>
        s"""s$n AS MATERIALIZED (
           |  SELECT $n AS mmr_rank, c.vec_id, c.label, c.rel,
           |    round(0.5 * c.rel - 0.5 * max(p.sim), 9) AS mmr_score
           |  FROM cand c JOIN pr p ON p.a = c.vec_id
           |    AND p.b IN (SELECT vec_id FROM sel${n - 1})
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
           |  GROUP BY c.vec_id, c.label, c.rel
           |  ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
           |sel$n AS (SELECT vec_id FROM sel${n - 1}
           |          UNION ALL SELECT vec_id FROM s$n)""".stripMargin
      }
      (base +: iters).mkString(",\n") + "\n" +
        (1 to 10).map(n =>
          s"SELECT mmr_rank, vec_id, label, rel, mmr_score FROM s$n")
          .mkString("\nUNION ALL ") +
        "\nORDER BY mmr_rank"
    },
    // Same 6 sign bits, same within-bucket exact cosine, same
    // (score desc, id asc) rank.
    "llm_knn_graph" -> {
      val sigSql = (0 until 6).map(i =>
        s"(CASE WHEN emb[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |         $sigSql AS bucket
         |  FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    round(list_dot_product(a.emb, b.emb)
         |          / (sqrt(list_dot_product(a.emb, a.emb))
         |             * sqrt(list_dot_product(b.emb, b.emb))), 9) AS cos_sim
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, nbr_id, cos_sim,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cos_sim DESC, nbr_id) AS rk
         |  FROM cand)
         |SELECT vec_id, CAST(rk AS INT) AS rk, nbr_id, cos_sim
         |FROM ranked WHERE rk <= 3
         |ORDER BY vec_id, rk""".stripMargin
    },
    // Same candidate frame, opposite-order windows for hardest
    // positive/negative, degenerate single-peer anchors dropped.
    "llm_triplet_mining" -> {
      val sigSql = (0 until 6).map(i =>
        s"(CASE WHEN emb[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |         $sigSql AS bucket
         |  FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    round(list_dot_product(a.emb, b.emb)
         |          / (sqrt(list_dot_product(a.emb, a.emb))
         |             * sqrt(list_dot_product(b.emb, b.emb))), 9) AS cos_sim
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |pos AS (
         |  SELECT vec_id, nbr_id AS pos_id, cos_sim AS pos_sim,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cos_sim DESC, nbr_id) AS rk
         |  FROM cand),
         |neg AS (
         |  SELECT vec_id, nbr_id AS neg_id, cos_sim AS neg_sim,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cos_sim ASC, nbr_id) AS rk
         |  FROM cand)
         |SELECT p.vec_id, p.pos_id, p.pos_sim, n.neg_id, n.neg_sim
         |FROM pos p JOIN neg n USING (vec_id)
         |WHERE p.rk = 1 AND n.rk = 1 AND p.pos_id <> n.neg_id
         |ORDER BY p.vec_id""".stripMargin
    },

    // ANN oracles — the exact-verify contract (round-8 verdict #2):
    // each ANN query's OUTPUT is exact arithmetic (exact cosine / exact
    // rounded L2) over an approximate candidate set, and at the gate SF
    // the candidate set provably contains the true top-k (RECALL
    // overlap 10/10, deterministic seeds/samples -> stable), so the
    // result equals the brute-force answer and the twin below is a
    // full rows+schema+hash oracle. What stays recall-graded (RECALL /
    // RECALL_SCALE) is candidate GENERATION at larger SFs — exactly the
    // split the verdict asked for. A hash mismatch here means either
    // the exact scoring broke OR gate-SF recall regressed; both are
    // bugs worth failing on.
    "llm_ann_lsh_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(sqrt(list_dot_product(emb, emb) + list_dot_product(qv, qv)
        |             - 2 * list_dot_product(emb, qv)), 6) AS l2_dist
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY l2_dist, vec_id LIMIT 10""".stripMargin,
    "llm_ann_ivf_topk" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) AS cos_sim
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "llm_ann_filtered_topk" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  round(list_dot_product(emb, qv)
        |        / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))),
        |        9) AS cos_sim
        |FROM e, q WHERE vec_id <> 0 AND label = 3
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "llm_ann_pq_topk" -> AnnL2Top10Sql,
    "llm_ann_sq8_topk" -> AnnL2Top10Sql,
    "llm_ann_ivfpq_topk" -> AnnL2Top10Sql,
    "llm_ann_indexed_topk" -> AnnL2Top10Sql,

    // Embedding near-dup + SemDeDup: exact-cosine verify over
    // recall-1.0 blocking == the all-pairs answer (see the oracle
    // contract note above).
    "llm_dedup_embedding_cosine" -> EmbCosinePairsSql,
    "llm_semdedup" ->
      s"""WITH pairs AS ($EmbCosinePairsSql)
         |SELECT vec_b AS vec_id, min(vec_a) AS rep_id,
         |  count(*) AS n_dup_neighbors, max(cos_sim) AS max_cos
         |FROM pairs GROUP BY vec_b ORDER BY vec_id""".stripMargin
  )

  /** Brute-force exact-L2 top-10 — the shared twin for every
    * shortlist + exact-re-rank ANN variant (PQ/SQ8/IVFADC/indexed):
    * their output schema and values are the exact re-rank, which at
    * the gate SF equals this full-scan answer.
    */
  private def AnnL2Top10Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  round(sqrt(list_dot_product(emb, emb) + list_dot_product(qv, qv)
      |             - 2 * list_dot_product(emb, qv)), 6) AS l2_dist
      |FROM e, q WHERE vec_id <> 0
      |ORDER BY l2_dist, vec_id LIMIT 10""".stripMargin

  /** All-pairs exact cosine >= 0.4 — the twin for the blocked
    * near-dup pair finder and (grouped) SemDeDup.
    */
  private def EmbCosinePairsSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_dot_product(a.emb, b.emb)
      |        / (sqrt(list_dot_product(a.emb, a.emb))
      |           * sqrt(list_dot_product(b.emb, b.emb))), 9) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.emb, b.emb)
      |        / (sqrt(list_dot_product(a.emb, a.emb))
      |           * sqrt(list_dot_product(b.emb, b.emb))), 9) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin
}
