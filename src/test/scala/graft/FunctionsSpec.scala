package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** Bit-exactness + codegen checks for the native Catalyst expressions:
  * they must be drop-in replacements for their higher-order-function
  * twins (any deviation would silently move oracle results).
  */
class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("simhash64_native == HOF simhash on the full fixture corpus") {
    val docs = Tables(spark, sf, "documents")
    val diff = docs.select(
      llm.DedupQueries.simhash64.as("hof"),
      call_function("simhash64_native", col("text")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("simhash64_native matches HOF on split(\"\\\\s+\") edge cases") {
    import spark.implicits._
    val edges = Seq(
      "", " ", "  ", "a", " a", "a ", " a ", "a  b", "\ta\nb\r",
      "MiXeD CaSe TeXt", "tab\tsep", "trailing ws   ", "   leading"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val diff = edges.select(col("id"),
      llm.DedupQueries.simhash64.as("hof"),
      call_function("simhash64_native", col("text")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.collect().mkString("\n"))
  }

  test("simhash_md5 == HOF md5-nibble simhash on fixture + edge cases") {
    import spark.implicits._
    // HOF twin reads bit b as bit 3−b%4 of md5's (b/4)-th hex nibble —
    // the same definition the kernel (digest bytes) and the DuckDB
    // oracle (substr of md5 hex) use; any deviation moves the oracle.
    val toksSql =
      """split(regexp_replace(lower(text), '^\\s+|\\s+$', ''), '\\s+')"""
    def half(lo: Int): String =
      s"""aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT),
         |  (acc, b) -> acc + IF(
         |    aggregate(transform($toksSql, t -> md5(t)), 0, (a, h) ->
         |      a + IF((shiftright(CAST(conv(substr(h, (b div 4) + 1, 1), 16, 10) AS INT),
         |                         3 - (b % 4)) & 1) = 1, 1, -1)) > 0,
         |    shiftleft(CAST(1 AS BIGINT), b - $lo), CAST(0 AS BIGINT)))""".stripMargin
    val edges = Seq(
      "", " ", "  ", "a", " a", "a ", " a ", "a  b", "\ta\nb\r",
      "MiXeD CaSe TeXt", "tab\tsep", "trailing ws   ", "   leading"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    Seq(Tables(spark, sf, "documents").select(col("text")),
        edges.select(col("text"))).foreach { src =>
      val diff = src.select(
        expr(half(0)).as("hof_lo"), expr(half(32)).as("hof_hi"),
        call_function("simhash_md5", col("text")).as("sig"))
        .filter(col("hof_lo") =!= element_at(col("sig"), 1) ||
          col("hof_hi") =!= element_at(col("sig"), 2))
      assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    }
  }

  test("simhash_md5 tokenizes with RE2 \\s (no vertical tab), locale-free lowering") {
    // The oracle twin splits with DuckDB's RE2 '\s' = [\t\n\f\r ] —
    // Java's \s additionally matches 0x0B, so a VT-separated doc would
    // silently diverge the engine signature from the oracle if the
    // kernel used Java semantics. VT must NOT separate tokens…
    def sig(t: String): Seq[Long] = spark.range(1)
      .select(call_function("simhash_md5", lit(t)).as("s"))
      .head.getSeq[Long](0)
    assert(sig("a\tb") == sig("a b"), "tab and space are both separators")
    assert(sig("a\u000Bb") != sig("a b"),
      "RE2 \\s has no vertical tab — 'a\\x0Bb' is ONE token")
    // …and lowering is locale-independent: the signature of mixed-case
    // text equals the lowered text's under ROOT rules, including for
    // the Turkish-İ trap character (U+0130 lowers to i̇ in ROOT).
    assert(sig("HeLLo WoRLD") == sig("hello world"))
    assert(sig("İstanbul") == sig("İstanbul".toLowerCase(java.util.Locale.ROOT)))
  }

  test("winnow_fps == HOF winnowing on a fixture sample + edge cases") {
    // Truncated sample, not the full corpus: the HOF twin is the
    // DOCUMENTED cubic-ish form (the optimizer re-evaluates the char
    // split per nested-lambda element — the reason the native kernel
    // exists), so its cost explodes with text length; 120-char
    // prefixes of real fixture text exercise identical semantics
    // (hashing, window minima, first-occurrence dedup) in seconds
    // where full-length docs burn ~20 min of suite time.
    // Order-sensitive equality: both sides emit first-occurrence
    // distinct minima, so the arrays must match element-for-element.
    val docs = Tables(spark, sf, "documents")
      .filter(length(col("text")) >= 11)
      .orderBy(col("doc_id")).limit(40)
      .select(col("doc_id"), substring(col("text"), 1, 120).as("t"))
      .repartition(40)
    val diff = docs.select(col("doc_id"),
      llm.DedupQueries.winnowFpsHof(col("t")).as("hof"),
      call_function("winnow_fps", col("t")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    import spark.implicits._
    // 11 chars = exactly one window; shorter must be empty.
    val edge = Seq("abcdefghijk", "AbCdEfGhIjK", "aaaaaaaaaaaa")
      .toDF("text")
      .select(call_function("winnow_fps", col("text")).as("fps"))
      .collect().map(_.getSeq[Long](0))
    assert(edge(0).length == 1 && edge(0) == edge(1),
      "one full window; case-insensitive")
    assert(edge(2).length == 1, "identical grams collapse to one fingerprint")
    val short = Seq("abcdefghij").toDF("text")
      .select(call_function("winnow_fps", col("text")).as("fps"))
      .head.getSeq[Long](0)
    assert(short.isEmpty, "below k+w-1 chars -> no full window -> empty set")
  }

  test("winnow_cfps == HOF composite winnowing on a fixture sample + edge cases") {
    // Same truncated-sample rationale as the winnow_fps test above —
    // but HARSHER: the composite HOF nests one more lambda level
    // (composites over minima over hashes over chars), so the
    // optimizer's per-element re-evaluation is quartic-ish. 48-char
    // prefixes exercise identical semantics in seconds.
    val docs = Tables(spark, sf, "documents")
      .filter(length(col("text")) >= 11)
      .orderBy(col("doc_id")).limit(20)
      .select(col("doc_id"), substring(col("text"), 1, 48).as("t"))
      .repartition(20)
    val diff = docs.select(col("doc_id"),
      llm.DedupQueries.winnowCfpsHof(col("t")).as("hof"),
      call_function("winnow_cfps", col("t")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    import spark.implicits._
    // Needs > WinnowSkip windows: 11 chars = 1 window -> empty;
    // 19 chars = 9 windows -> exactly one composite (window 1 + 9).
    val edge = Seq("abcdefghijk", "abcdefghijklmnopqrs")
      .toDF("text")
      .select(call_function("winnow_cfps", col("text")).as("fps"))
      .collect().map(_.getSeq[Long](0))
    assert(edge(0).isEmpty, "skip span exceeds window count -> empty")
    assert(edge(1).length == 1, "k+w-1+skip chars -> exactly one composite")
  }

  /** Sequential reference for cdc_chunks — independent plain-Scala
    * implementation of the SOSP'01 cut rule (every position whose
    * trailing base-31 8-gram hash ≡ 0 mod 64 cuts after the gram).
    */
  private def cdcRef(text: String): Seq[String] = {
    val s = text.toLowerCase
    if (s.length < 8) return Seq(s)
    val cuts = (0 to s.length - 8).filter { i =>
      s.substring(i, i + 8).foldLeft(0L)((h, c) => h * 31L + c.toLong) % 64L == 0L
    }.map(_ + 8)
    val ends = 0 +: cuts ++: (if (cuts.lastOption.contains(s.length)) Nil else Seq(s.length))
    ends.sliding(2).map { case Seq(a, b) => s.substring(a, b) }.toSeq
  }

  test("cdc_chunks == sequential reference; chunks partition the text") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
      .orderBy(col("doc_id")).limit(60)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) => (id, cdcRef(t)) }.toMap
    val got = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), call_function("cdc_chunks", col("text")).as("ch"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(got.keySet == expected.keySet)
    for ((id, exp) <- expected)
      assert(got(id) == exp, s"doc $id: ${got(id)} != $exp")
    // Reassembly invariant: chunks concatenate back to lower(text).
    for ((id, t) <- docs)
      assert(got(id).mkString == t.toLowerCase, s"doc $id reassembly")
    // Edge cases: short text is one chunk; empty is one empty chunk.
    val edge = Seq("abcdefg", "", "MiXeD").toDF("text")
      .select(call_function("cdc_chunks", col("text")).as("ch"))
      .collect().map(_.getSeq[String](0))
    assert(edge(0) == Seq("abcdefg") && edge(1) == Seq("") && edge(2) == Seq("mixed"))
  }

  private def minhashHof(shingles: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(31)), i =>
      array_min(transform(shingles,
        sh => xxhash64(concat(sh, lit("#"), i.cast("string"))))))

  test("minhash32_native == 32-fold HOF minhash on the full fixture corpus") {
    val docs = Tables(spark, sf, "documents")
      .select(llm.DedupQueries.shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
      minhashHof(col("sh")).as("hof"),
      call_function("minhash32_native", col("sh")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("minhash32_native edge cases: empty array and null elements") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq.empty[String]),             // -> 32 nulls (array_min of empty)
      (2L, Seq("only one shingle")),
      (3L, Seq("a b c", "b c d", "a b c")) // duplicates collapse in min
    ).toDF("id", "sh")
    val rows = df.select(col("id"),
      minhashHof(col("sh")).as("hof"),
      call_function("minhash32_native", col("sh")).as("native"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"id=${r.getLong(0)}: hof=${r.getSeq[Any](1)} native=${r.getSeq[Any](2)}")
    }
    // Null element skipped by both forms.
    val withNull = Seq((4L, Seq("x y z", null))).toDF("id", "sh")
    val rn = withNull.select(
      minhashHof(col("sh")).as("hof"),
      call_function("minhash32_native", col("sh")).as("native")).collect()(0)
    assert(rn.getSeq[Any](0) == rn.getSeq[Any](1))
  }

  test("pair_structs == HOF in-list pair expansion on fixture posting lists + edges") {
    // Real posting lists: the near-dup pair path's own collect_list
    // frame (df-capped xxhash64 shingle postings), element-for-element.
    val posts = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(llm.DedupQueries.shingles3(col("text"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("fp"))
    val lists = posts.groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ids"))
    val diff = lists.select(
      llm.DedupQueries.pairStructsHof(col("ids")).as("hof"),
      call_function("pair_structs", col("ids")).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    // Edges: empty, singleton, duplicates (no self-pairs), unsorted
    // input (pair order follows LIST order, not value order).
    import spark.implicits._
    val edge = Seq(
      (1L, Seq.empty[Long]),
      (2L, Seq(7L)),
      (3L, Seq(5L, 5L, 5L)),
      (4L, Seq(9L, 2L, 7L, 2L))
    ).toDF("id", "ids")
    val rows = edge.select(col("id"),
      llm.DedupQueries.pairStructsHof(col("ids")).as("hof"),
      call_function("pair_structs", col("ids")).as("native"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"id=${r.getLong(0)}: hof=${r.getSeq[Any](1)} native=${r.getSeq[Any](2)}")
    }
  }

  test("ngrams_ws == HOF word-n-grams on the full fixture corpus (n=3 and n=8)") {
    // Element-for-element including ORDER (llm_repetition_filter
    // counts duplicates positionally) for both gram widths on the
    // query paths: 3 (shingles/boilerplate/repetition) and 8
    // (decontaminate).
    val docs = Tables(spark, sf, "documents")
    for (n <- Seq(3, 8)) {
      val diff = docs.select(
        llm.DedupQueries.ngramsWsHof(col("text"), n).as("hof"),
        call_function("ngrams_ws", col("text"), lit(n)).as("native"))
        .filter(col("hof") =!= col("native"))
      assert(diff.isEmpty, s"n=$n: " + diff.limit(3).collect().mkString("\n"))
    }
  }

  test("ngrams_ws matches HOF on whitespace/short-text edges and yields empty on NULL") {
    import spark.implicits._
    val edges = Seq(
      "", " ", "  ", "a", "a b", "a b c", " a b c", "a b c ",
      "a  b\tc\nd", "\t\na b c d e f g h i\r", "MiXeD CaSe three GRAMS here",
      "one two three four five six seven eight nine"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 3, 8)) {
      val diff = edges.select(col("id"),
        llm.DedupQueries.ngramsWsHof(col("text"), n).as("hof"),
        call_function("ngrams_ws", col("text"), lit(n)).as("native"))
        .filter(col("hof") =!= col("native"))
      assert(diff.isEmpty, s"n=$n: " + diff.collect().mkString("\n"))
    }
    // NULL text: every call site's HOF wrapped the transform in
    // when(size >= n, …).otherwise(array()) and size(NULL) = −1, so
    // the empty array (NOT null) is the semantics to preserve.
    val nullRow = Seq((1L, null: String)).toDF("id", "text")
      .select(call_function("ngrams_ws", col("text"), lit(3)).as("g"))
      .collect()(0)
    assert(nullRow.getSeq[Any](0) == Seq.empty)
  }

  test("cosine_sim == HOF cosine on the full embedding corpus (bit-exact)") {
    val e = Tables(spark, sf, "embeddings")
      .withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qv")))
    val diff = e.crossJoin(q).select(
      llm.SimilarityQueries.cosine(col("emb"), col("qv")).as("hof"),
      call_function("cosine_sim", col("emb"), col("qv")).as("native"))
      .filter(col("hof") =!= col("native")) // bit-exact, not approximate
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("cosine_sim null semantics match zip_with+aggregate") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch -> null
      (2L, Seq(1.0, 0.0), Seq(0.0, 1.0))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
      call_function("cosine_sim", col("a"), col("b")).as("c"),
      llm.SimilarityQueries.cosine(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getDouble(2) == 0.0)
  }

  test("cell_dists == HOF cell distances on the full embedding corpus (bit-exact)") {
    val k = 16
    val e = Tables(spark, sf, "embeddings")
      .withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))
    // A real 16-cell codebook trained the engine's own way, so the
    // pin covers production-shaped centroids (not toy literals).
    val cb = typedlit(llm.SimilarityQueries.trainCentroids(e, k))
    val diff = e.select(
      llm.SimilarityQueries.cellDistancesHof(col("emb"), cb, k).as("hof"),
      call_function("cell_dists", col("emb"), cb).as("native"))
      .filter(col("hof") =!= col("native")) // bit-exact, not approximate
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("cell_dists null semantics match the zip_with fold") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0)),
      (2L, Seq(0.0, 0.0))
    ).toDF("id", "emb")
    // Codebook with a length-mismatched centroid: that CELL nulls,
    // the others still compute (zip_with pads -> null fold).
    val cb = typedlit(Seq(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0), Seq(0.0, 1.0)))
    val rows = df.select(col("id"),
      call_function("cell_dists", col("emb"), cb).as("native"),
      llm.SimilarityQueries.cellDistancesHof(col("emb"), cb, 3).as("hof"))
      .orderBy("id").collect()
    rows.foreach { r =>
      val nat = r.getSeq[java.lang.Double](1)
      val hof = r.getSeq[java.lang.Double](2)
      assert(nat == hof, s"id=${r.getLong(0)}: native=$nat hof=$hof")
      assert(nat(1) == null, "mismatched centroid must null its cell")
    }
    assert(rows(0).getSeq[java.lang.Double](1)(0) == 0.0)
  }

  test("pq_encode == HOF PQ argmin codes on the full embedding corpus (bit-exact)") {
    val (m, subDim, nCent) = (16, 4, 64)
    val e = Tables(spark, sf, "embeddings")
      .withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))
    // Codebooks trained the engine's own way (bounded sample + Lloyd),
    // so the pin covers production-shaped centroids.
    val sample = llm.SimilarityQueries.sampleVectors(e)
    val codebooks = (0 until m).map { j =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      llm.SimilarityQueries.lloyd(pts, nCent, iters = 3).map(_.toSeq).toSeq
    }
    val cb = typedlit(codebooks)
    val diff = e.select(
      llm.SimilarityQueries.pqCodesHof(col("emb"), cb, m, subDim, nCent).as("hof"),
      call_function("pq_encode", col("emb"), cb).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
  }

  test("pq_encode edge semantics match the HOF fold (-1 on invalid subspaces)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0, 9.9, 9.9)), // full width: both subspaces sliced
      (2L, Seq(1.0, 2.0))            // short: subspace 1 slice is empty
    ).toDF("id", "emb")
    // Subspace 0: two valid width-2 centroids; subspace 1: both
    // centroids width-3 (mismatched) -> every distance folds to null
    // -> the argmin never moves off its -1 init, in both forms.
    val cb = typedlit(Seq(
      Seq(Seq(1.0, 2.0), Seq(9.9, 9.9)),
      Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))))
    val rows = df.select(col("id"),
      call_function("pq_encode", col("emb"), cb).as("native"),
      llm.SimilarityQueries.pqCodesHof(col("emb"), cb, 2, 2, 2).as("hof"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"id=${r.getLong(0)}: native=${r.getSeq[Int](1)} hof=${r.getSeq[Int](2)}")
    }
    assert(rows(0).getSeq[Int](1) == Seq(0, -1))
    assert(rows(1).getSeq[Int](1) == Seq(0, -1))
  }

  test("jaro_winkler == independent sequential reference + published vectors") {
    import spark.implicits._
    // Independent reference (recursive/functional style, deliberately
    // structured differently from the kernel's while-loop form).
    def refJaro(a: String, b: String): Double = {
      if (a.isEmpty || b.isEmpty) return 0.0
      if (a == b) return 1.0
      val win = math.max(a.length, b.length) / 2 - 1
      val taken = scala.collection.mutable.Set.empty[Int]
      val matchedA = a.indices.flatMap { i =>
        ((i - win) max 0 until ((i + win + 1) min b.length))
          .find(j => !taken(j) && b(j) == a(i))
          .map { j => taken += j; (i, j) }
      }
      if (matchedA.isEmpty) return 0.0
      val m = matchedA.size.toDouble
      val bSeq = matchedA.map(_._2).sorted.map(b(_))
      val t = matchedA.map(_._1).map(a(_)).zip(bSeq).count { case (x, y) => x != y } / 2
      (m / a.length + m / b.length + (m - t) / m) / 3.0
    }
    def refJw(a: String, b: String): Double = {
      val j = refJaro(a, b)
      if (j <= 0.7) j
      else {
        val p = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.size
        j + p * 0.1 * (1.0 - j)
      }
    }
    // Published vectors (Winkler '90 examples) + DuckDB-checked values.
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("cold plate", "old plate", 0.9666666666666667),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("abc", "", 0.0), ("", "", 0.0), ("a", "a", 1.0))
    val got = pinned.map(p => (p._1, p._2)).toDF("a", "b")
      .select(call_function("jaro_winkler", col("a"), col("b"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(got == pinned.map(_._3), s"got=$got want=${pinned.map(_._3)}")
    // Randomized sweep vs the independent reference, including repeated
    // chars and window-edge lengths.
    val rnd = new scala.util.Random(7)
    val pool = "abcab"
    val cases = (1 to 300).map { _ =>
      def mk = (0 until rnd.nextInt(9)).map(_ => pool(rnd.nextInt(pool.length))).mkString
      (mk, mk)
    }
    val kernel = cases.toDF("a", "b")
      .select(col("a"), col("b"), call_function("jaro_winkler", col("a"), col("b")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    kernel.foreach { case (a, b, g) =>
      assert(g == refJw(a, b), s"($a, $b): kernel=$g ref=${refJw(a, b)}")
    }
  }

  test("native expressions run inside whole-stage codegen") {
    val docs = Tables(spark, sf, "documents")
      .select(call_function("simhash64_native", col("text")).as("sh"),
        size(call_function("winnow_fps", col("text"))).as("nfp"),
        size(call_function("cdc_chunks", col("text"))).as("nch"))
    docs.collect()
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"not codegen'd:\n$plan")
  }

  test("SQL surface resolves the injected functions") {
    Tables(spark, sf, "documents").createOrReplaceTempView("docs_fn")
    val n = spark.sql(
      "SELECT simhash64_native(text) AS sh FROM docs_fn").count()
    assert(n == Tables(spark, sf, "documents").count())
    // A wrong argument count fails naming the function; hll_est alone
    // takes one or two.
    def err(q: String): String = {
      val e = intercept[Exception](spark.sql(q).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(err("SELECT cosine_sim(array(1d))").contains("cosine_sim expects 2"))
    assert(err("SELECT simhash_md5('a', 'b')").contains("simhash_md5 expects 1"))
    assert(err("SELECT hll_est(id, 64, 3) FROM range(4)").contains("hll_est expects 1 or 2"))
    assert(spark.sql("SELECT hll_est(string(id)), hll_est(string(id), 128) FROM range(10)")
      .count() == 1)
  }

  test("broadcast codebook == typedlit codebook on the full corpus (bit-exact)") {
    // The IVF/PQ family's model artifacts moved from typedlit plan
    // literals to BroadcastArrayExpr — value semantics must be
    // IDENTICAL or every ANN oracle hash moves.
    val e = llm.SimilarityQueries.embDouble(Tables(spark, sf, "embeddings"))
    val cents: Seq[Seq[Double]] = llm.SimilarityQueries.trainCentroids(e, 8)
    val litCb = typedlit(cents)
    val bcCb = llm.SimilarityQueries.bcastModel(spark, cents, 2, "spec_coarse[8]")
    val diff = e.select(
      call_function("cell_dists", col("emb"), litCb).as("lit"),
      call_function("cell_dists", col("emb"), bcCb).as("bc"))
      .filter(col("lit") =!= col("bc"))
    assert(diff.isEmpty, diff.limit(3).collect().mkString("\n"))
    // element_at indexing over the broadcast array matches the literal
    // (the residual-subtraction path reads the codebook this way).
    val diff2 = e.select(
      element_at(litCb, 3).as("lit"), element_at(bcCb, 3).as("bc"))
      .filter(col("lit") =!= col("bc"))
    assert(diff2.isEmpty, diff2.limit(3).collect().mkString("\n"))
  }

  test("broadcast codebook expression survives serialization (the executor-ship path)") {
    // local[32] never exercises cross-JVM shipping, so roundtrip the
    // expression through java serialization exactly as task dispatch
    // would: the Broadcast handle (not the value) serializes, and the
    // deserialized copy re-derives the SAME ArrayData from the
    // broadcast machinery.
    import org.apache.spark.sql.catalyst.util.ArrayData
    val cents: Seq[Seq[Double]] = Seq(Seq(1.5, -2.25), Seq(0.0, 4.125))
    val c = llm.SimilarityQueries.bcastModel(spark, cents, 2, "ser_spec")
    val expr = org.apache.spark.sql.GraftSqlAccess.expression(c)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(expr)
    assert(bos.size() < 16 * 1024,
      s"serialized expression is ${bos.size()} bytes — the VALUE leaked " +
        "into the task payload instead of riding the broadcast")
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]
    val orig = expr.eval(null).asInstanceOf[ArrayData]
    val rt = back.eval(null).asInstanceOf[ArrayData]
    assert(rt.numElements() == orig.numElements())
    (0 until orig.numElements()).foreach { i =>
      assert(rt.getArray(i).toDoubleArray().sameElements(
        orig.getArray(i).toDoubleArray()))
    }
  }

  test("broadcast codebook stays out of the plan (compact handle, not folded)") {
    val e = llm.SimilarityQueries.embDouble(Tables(spark, sf, "embeddings"))
    val cents: Seq[Seq[Double]] = llm.SimilarityQueries.trainCentroids(e, 8)
    val bcCb = llm.SimilarityQueries.bcastModel(spark, cents, 2, "spec_coarse[8]")
    val df = e.select(call_function("cell_dists", col("emb"), bcCb).as("cd"))
    val optimized = df.queryExecution.optimizedPlan.toString
    val executed = df.queryExecution.executedPlan.toString
    // The handle renders by desc; the centroid VALUES never appear —
    // that is the whole point (plan size independent of codebook size).
    assert(optimized.contains("graft_broadcast_array(spec_coarse[8])"),
      s"missing compact handle:\n$optimized")
    val firstCentroidVal = cents.head.head.toString
    assert(!optimized.contains(firstCentroidVal),
      "codebook values leaked into the optimized plan (ConstantFolding " +
        "inlined the broadcast back into a literal?)")
    assert(!executed.contains(firstCentroidVal),
      "codebook values leaked into the physical plan")
    // And the expression still evaluates under whole-stage codegen.
    assert(executed.contains("*("), s"not codegen'd:\n$executed")
    assert(df.limit(1).collect().nonEmpty)
  }

  test("graft_bloom_might_contain: no false negatives, codegen'd, fp-bounded") {
    import spark.implicits._
    // The substring pair finder's map-side prefilter
    // ([[graft.functions.BloomMightContainExpr]]) is only SOUND if
    // membership never reads false for a true member — a false
    // negative would silently drop a real pair, which no downstream
    // exact filter can recover. Pin the contract over a real build:
    // every inserted key passes, and non-members leak at ~the asked
    // fpp, not wholesale.
    val members = (0L until 20000L).map(i => i * 2654435761L)
    val bloom = members.toDF("gh").stat.bloomFilter("gh", members.size, 0.01)
    val expr = graft.functions.BloomMightContainExpr(
      org.apache.spark.sql.GraftSqlAccess.expression(col("gh")),
      spark.sparkContext.broadcast(bloom), "spec_bloom")
    val flag = org.apache.spark.sql.GraftSqlAccess.column(expr)
    val hits = members.toDF("gh").filter(flag).count()
    assert(hits == members.size.toLong,
      s"false negatives: $hits of ${members.size} members passed")
    // Disjoint probe set: leakage must be fp-noise, not pass-through.
    val probes = (1L to 20000L).map(i => i * 1099511628211L + 7L)
    val leaked = probes.toDF("gh").filter(flag).count()
    assert(leaked < probes.size / 20,
      s"bloom leaks far over fpp: $leaked of ${probes.size}")
    // Survives a serialization round-trip (task dispatch) and keeps
    // plan text value-free.
    val javaSer = new org.apache.spark.serializer.JavaSerializer(
      spark.sparkContext.getConf).newInstance()
    val revived = javaSer.deserialize[graft.functions.BloomMightContainExpr](
      javaSer.serialize(expr))
    assert(revived.toString.contains("spec_bloom") &&
      !revived.toString.contains("4096"))
  }

  test("buildLongBloom honors the asked geometry PAST the SQL clamp point") {
    // df.stat.bloomFilter rides the SQL BloomFilterAggregate, whose
    // geometry is silently clamped by the runtime-filter confs (4M
    // items / 64M bits default) — measured fp ~54% on the 1000× Zipf
    // witness where 161M bits were asked (SCALE.md round-13). The
    // direct builder must deliver the ASK even above both clamp
    // points, with working membership on the putLong/mightContainLong
    // pair the scan-stage expression probes.
    import SparkTestSession._
    import spark.implicits._
    val asked = 80L * 1000 * 1000 // > 67,108,864-bit clamp
    val items = 5000001L          // > 4M-item clamp
    val keys = (1L to 2000L).map(_ * 2654435761L)
    val bf = llm.DedupQueries.buildLongBloom(
      keys.toDF("gh"), "gh", items, asked)
    assert(bf.bitSize() >= asked, s"got ${bf.bitSize()} bits for asked $asked")
    assert(keys.forall(bf.mightContainLong), "false negative — contract broken")
    val nonMembers = (1L to 2000L).map(k => k * 7046029254386353131L + 17)
      .filterNot(keys.contains)
    val fp = nonMembers.count(bf.mightContainLong)
    assert(fp <= 5, s"$fp/${nonMembers.size} false positives on a " +
      "2000-insert/80M-bit filter — geometry not honored")
  }
}
