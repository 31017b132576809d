package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 tail batch: `match_bool_prefix`,
  * `combined_fields`, `rank_feature`, `span_multi`, `geotile_grid`,
  * `geo_bounds`. The driver's DuckDB gate hash-checks values; these
  * pin semantics against independent recomputes and the claimed plan
  * shapes.
  */
class RelevanceTileSpec extends AnyFunSuite {
  import SparkTestSession._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private lazy val corpus: Array[(Long, Seq[String], String, Long)] =
    Tables(spark, sf, "documents").collect().map { r =>
      (r.getAs[Long]("doc_id"),
        r.getAs[String]("text").toLowerCase.split("\\s+").toSeq,
        r.getAs[String]("source"),
        r.getAs[Long]("n_chars"))
    }

  // --- match_bool_prefix ------------------------------------------------

  test("match_bool_prefix: clause count and matched-tf agree with a scan recompute") {
    val want = corpus.map { case (id, ts, _, _) =>
      val m1 = ts.contains("data")
      val m2 = ts.contains("group")
      val m3 = ts.exists(_.startsWith("v"))
      val tf = ts.count(t => t == "data" || t == "group" || t.startsWith("v"))
      id -> (Seq(m1, m2, m3).count(identity).toLong, tf.toLong)
    }.toMap
    val rows = run("search_match_bool_prefix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, tf) = want(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_clauses") == nc && r.getAs[Long]("total_tf") == tf, r)
    }
    // Ranking: clause count desc, tf desc, doc_id — and the head of
    // the ranking dominates every unreturned doc.
    val keys = rows.map(r => (-r.getAs[Long]("n_clauses"),
      -r.getAs[Long]("total_tf"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
    val returned = rows.map(_.getAs[Long]("doc_id")).toSet
    val worst = keys.last
    want.filter { case (_, (nc, _)) => nc > 0 }.foreach { case (id, (nc, tf)) =>
      if (!returned(id))
        assert(Ordering[(Long, Long, Long)].lteq(worst, (-nc, -tf, id)),
          s"unreturned doc $id outranks the returned tail")
    }
  }

  // --- combined_fields --------------------------------------------------

  test("combined_fields: BM25F over the merged pseudo-field matches a JVM recompute") {
    // Same association as the engine/twin; JVM doubles + Math.log are
    // the identical IEEE ops, so after round(6) equality is exact.
    val W = 3
    val scored = corpus.map { case (id, ts, src, _) =>
      val dl = ts.length + W
      val tfData = ts.count(_ == "data") + (if (src == "data") W else 0)
      val tfSrc3 = ts.count(_ == "src3") + (if (src == "src3") W else 0)
      (id, src, dl, tfData, tfSrc3)
    }
    val nDocs = scored.length.toDouble
    val sumDl = scored.map(_._3.toLong).sum.toDouble
    val dfData = scored.count(_._4 > 0).toDouble
    val dfSrc3 = scored.count(_._5 > 0).toDouble
    def part(tf: Int, df: Double, dl: Int): Double =
      math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) *
        ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * nDocs / sumDl))))
    val want = scored.map { case (id, src, dl, td, ts3) =>
      id -> BigDecimal(part(td, dfData, dl) + part(ts3, dfSrc3, dl))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val rows = run("search_combined_fields").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(math.abs(r.getAs[Double]("score") - want(id)) < 1e-9,
        s"doc $id: got ${r.getAs[Double]("score")} want ${want(id)}")
    }
    // The keyword field's weight is live: every doc whose source is
    // 'src3' scores > 0 (tf_src3 = 3 > 0) — and ranking is score
    // desc, doc_id.
    val srcHits = scored.filter(_._2 == "src3")
    assert(srcHits.nonEmpty && srcHits.forall { case (id, _, _, _, _) => want(id) > 0 })
    val ks = rows.map(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
    assert(ks.sameElements(ks.sorted))
  }

  test("combined_fields plans the blessed 1-row stats broadcast, no corpus BNLJ") {
    val plan = run("search_combined_fields").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
    // The build side is an ungrouped aggregate — PlanSpec's structural
    // audit proves 1-row-ness registry-wide; here just pin the shape.
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"))
  }

  // --- rank_feature -----------------------------------------------------

  test("rank_feature: saturation ppm is exact and the filter context is score-free") {
    val want = corpus.filter(_._2.contains("stream")).map { case (id, _, _, nc) =>
      id -> (nc * 1000000L) / (nc + 200L)
    }.toMap
    val rows = run("search_rank_feature").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(want.contains(id), s"doc $id does not match the filter term")
      assert(r.getAs[Long]("sat_ppm") == want(id), r)
    }
    // Saturation is monotone in the feature: ordering by sat_ppm desc
    // == ordering by n_chars desc (pivot fixed, x/(x+k) increasing).
    val byPpm = rows.map(r => (r.getAs[Long]("sat_ppm"), r.getAs[Long]("n_chars")))
    assert(byPpm.map(_._2).sameElements(byPpm.map(_._2).sortBy(-_)))
  }

  // --- span_multi -------------------------------------------------------

  test("span_multi: prefix-expanded span pairs agree with a scan recompute") {
    val want = corpus.flatMap { case (id, ts, _, _) =>
      val pos = ts.zipWithIndex
      val pm = pos.filter(_._1.startsWith("s")).map(_._2)
      val po = pos.filter(_._1 == "order").map(_._2)
      val pairs = for (a <- pm; b <- po if b > a && b - a <= 3) yield (a, b)
      if (pairs.isEmpty) None
      else Some(id -> (pairs.length.toLong, pairs.map(_._1).min.toLong,
        pos.filter(_._1.startsWith("s")).map(_._1).distinct.length.toLong))
    }.toMap
    val got = run("search_span_multi").collect().map { r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_pairs"),
        r.getAs[Long]("first_start"), r.getAs[Long]("n_multi_terms"))
    }.toMap
    assert(got == want)
  }

  // --- geotile_grid -----------------------------------------------------

  test("geotile row quantization is lossless at e4 resolution (== continuous mercator)") {
    // For integer e4 latitudes the floored-boundary rule is provably
    // identical to the continuous web-mercator row: lat_e4 <=
    // floor(b·1e4) <=> lat < b when b is irrational. Check every
    // fixture point against the continuous formula.
    def contY(latE4: Long): Int = {
      val lat = math.toRadians(latE4 / 10000.0)
      val y = (1.0 - math.log(math.tan(lat) + 1.0 / math.cos(lat)) / math.Pi) / 2.0 * 16.0
      math.min(15, math.max(0, math.floor(y).toInt))
    }
    val pts = Tables(spark, sf, "customer")
      .select((col("c_custkey") * 2654435761L % 1800001 - 900000).as("lat_e4"))
      .withColumn("tile_y", expr(graft.search.GeoQueries.tileYExpr))
      .collect()
    pts.foreach { r =>
      assert(r.getAs[Int]("tile_y") == contY(r.getAs[Long]("lat_e4")), r)
    }
  }

  test("geotile_grid partitions the corpus and stays in [0,16)x[0,16)") {
    val rows = run("search_geotile_grid").collect()
    val total = Tables(spark, sf, "customer").count()
    assert(rows.map(_.getAs[Long]("doc_count")).sum <= total)
    rows.foreach { r =>
      val Array(z, x, y) = r.getAs[String]("tile").split("/").map(_.toInt)
      assert(z == 4 && x >= 0 && x < 16 && y >= 0 && y < 16, r)
    }
    // Fewer than the 30-row limit at sf0.001 => every non-empty cell
    // is present, so the counts must cover the corpus exactly.
    if (rows.length < 30)
      assert(rows.map(_.getAs[Long]("doc_count")).sum == total)
  }

  // --- served geo index -------------------------------------------------

  test("geo_distance_indexed == geo_distance (cell pruning loses nothing)") {
    val scan = run("search_geo_distance").collect().toSeq
    val idx = run("search_geo_distance_indexed").collect().toSeq
    assert(scan.nonEmpty && scan == idx)
  }

  test("geo_distance_indexed prunes partitions (gh partition filter in the scan)") {
    val plan = run("search_geo_distance_indexed")
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*gh.*"), plan)
    val nCells = graft.search.GeoQueries.candidateCells(40.0, -74.0, 2000.0).size
    assert(nCells > 0 && nCells < 1024 / 2,
      s"candidate set should prune most of the 1024 cells, got $nCells")
  }

  test("candidateCells is conservative for random pins and radii") {
    // Pure-Scala property sweep: every fixture point within the radius
    // must land in a candidate cell (the bound proof exercised over
    // pole-adjacent and antimeridian-crossing pins).
    val pts = Tables(spark, sf, "customer").select(col("c_custkey")).collect()
      .map(_.getLong(0)).map { k =>
        (k * 2654435761L % 1800001 - 900000, k * 2246822519L % 3600001 - 1800000)
      }
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val sdlat = math.sin(math.toRadians(lat2 - lat1) / 2)
      val sdlon = math.sin(math.toRadians(lon2 - lon1) / 2)
      12742.0 * math.asin(math.sqrt(sdlat * sdlat +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          sdlon * sdlon))
    }
    val rnd = new scala.util.Random(7)
    (0 until 120).foreach { _ =>
      val pinLat = rnd.nextDouble() * 176 - 88
      val pinLon = rnd.nextDouble() * 360 - 180
      val radius = 50 + rnd.nextDouble() * 6000
      val cells = graft.search.GeoQueries.candidateCells(pinLat, pinLon, radius).toSet
      pts.foreach { case (latE4, lonE4) =>
        if (hav(pinLat, pinLon, latE4 / 10000.0, lonE4 / 10000.0) <= radius) {
          val latB = math.min(31L, (latE4 + 900000) * 32 / 1800001).toInt
          val lonB = math.min(31L, (lonE4 + 1800000) * 32 / 3600001).toInt
          assert(cells.contains(graft.search.GeoQueries.cellId(latB, lonB)),
            s"pin ($pinLat, $pinLon) r=$radius missed point ($latE4, $lonE4)")
        }
      }
    }
  }

  test("geo_bounding_box_indexed == geo_bounding_box (exact cell cover)") {
    val scan = run("search_geo_bounding_box").collect().toSeq
    val idx = run("search_geo_bounding_box_indexed").collect().toSeq
    assert(scan.nonEmpty && scan == idx)
  }

  test("geo index upsert rewrites ONLY touched cells, last-write-wins, drops emptied cells") {
    import spark.implicits._
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sf))
    // Fresh build (another test may have left a maintained fingerprint).
    store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
    val before = graft.search.GeoQueries
      .materializedGeoIndex(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[Long]("lat_e4"), r.getAs[Long]("lon_e4"), r.getAs[Int]("gh"))).toMap
    // Batch: move an existing key into a DIFFERENT cell than it's in,
    // and add a brand-new key.
    val movedKey = before.keys.min
    val (newLat, newLon) = (111111L, 222222L)
    val newKey = before.keys.max + 1000
    val batch = Seq((movedKey, newLat, newLon), (newKey, -333333L, 444444L))
      .toDF("c_custkey", "lat_e4", "lon_e4")
    val root = new java.io.File(etl.IndexStore.artifactRoot(sf),
      graft.search.GeoQueries.GeoIndexName)
    def dirMtimes: Map[String, Long] = root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("gh="))
      .map(f => f.getName -> f.listFiles().map(_.lastModified()).max).toMap
    val mtBefore = dirMtimes
    val nTouched = graft.search.GeoQueries.upsertGeoPoints(spark, sf, batch)
    assert(nTouched >= 2 && nTouched <= 4)
    // Values: last-write-wins upsert, no stale row in the source cell.
    val after = store.read(graft.search.GeoQueries.GeoIndexName).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[Long]("lat_e4"), r.getAs[Long]("lon_e4"))).toMap
    assert(after(movedKey) == ((newLat, newLon)))
    assert(after(newKey) == ((-333333L, 444444L)))
    assert(after.size == before.size + 1)
    (before.keySet - movedKey).foreach { k =>
      assert(after(k) == ((before(k)._1, before(k)._2)), s"key $k changed")
    }
    // Physical claim: untouched cell directories were not rewritten.
    val mtAfter = dirMtimes
    val changed = mtAfter.filter { case (d, t) => mtBefore.get(d).forall(_ != t) }.keySet ++
      (mtBefore.keySet -- mtAfter.keySet)
    assert(changed.size <= nTouched,
      s"rewrote ${changed.size} cell dirs for $nTouched touched cells: $changed")
    // A crashed/maintained fingerprint forces rebuild on next access.
    assert(store.artifactFingerprint(graft.search.GeoQueries.GeoIndexName)
      .contains("geo_points_v1_gh2:stream-maintained"))
    store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
  }

  test("geo index upsert: duplicate keys WITHIN a batch serve one row per key") {
    // A micro-batch can legitimately carry two updates to one key
    // (two events for one customer in one trigger interval). The
    // anti-join only removes OLD index rows — without a batch-internal
    // dedup both batch rows would survive the union and the served
    // index would violate the one-row-per-key contract.
    import spark.implicits._
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sf))
    store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
    val before = graft.search.GeoQueries
      .materializedGeoIndex(spark, sf).count()
    val k = 987654321L
    val batch = Seq((k, 111111L, 222222L), (k, 333333L, 444444L))
      .toDF("c_custkey", "lat_e4", "lon_e4")
    graft.search.GeoQueries.upsertGeoPoints(spark, sf, batch)
    val rows = store.read(graft.search.GeoQueries.GeoIndexName)
      .filter(col("c_custkey") === k).collect()
    assert(rows.length == 1,
      s"duplicate-key batch must serve ONE row, got ${rows.length}")
    // Deterministic struct-max survivor: the lexicographically larger
    // (lat_e4, lon_e4) pair wins.
    assert(rows.head.getAs[Long]("lat_e4") == 333333L)
    assert(store.count(graft.search.GeoQueries.GeoIndexName) == before + 1)
    store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
  }

  test("geo index upsert: an empty batch is a no-op (no staging crash)") {
    import spark.implicits._
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sf))
    graft.search.GeoQueries.materializedGeoIndex(spark, sf)
    val before = store.count(graft.search.GeoQueries.GeoIndexName)
    val batch = Seq.empty[(Long, Long, Long)].toDF("c_custkey", "lat_e4", "lon_e4")
    assert(graft.search.GeoQueries.upsertGeoPoints(spark, sf, batch) == 0)
    assert(store.count(graft.search.GeoQueries.GeoIndexName) == before)
  }

  test("a 2-row geo upsert runs 7 Spark jobs") {
    // Schema footer, the (key, cell) collect, the moved-key probe, the
    // stage write and the moved cell's rewrite — no second run of the
    // merge plan to learn which cells emptied.
    import spark.implicits._
    val store = new etl.IndexStore(spark, etl.IndexStore.artifactRoot(sf))
    store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
    graft.search.GeoQueries.materializedGeoIndex(spark, sf)
    val batch = Seq((1L, 111111L, 222222L), (987654321L, -333333L, 444444L))
      .toDF("c_custkey", "lat_e4", "lon_e4")
    try {
      val (touched, jobs) = jobsRunBy(graft.search.GeoQueries.upsertGeoPoints(spark, sf, batch))
      assert(touched == 3)
      assert(jobs == 7, s"a 2-row geo upsert ran $jobs Spark jobs")
    } finally store.deleteIndex(graft.search.GeoQueries.GeoIndexName)
  }

  // --- pipeline bucket aggs ---------------------------------------------

  private lazy val dailyCounts: Seq[Long] = {
    val byDay = Tables(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(date_trunc("day", col("ts")).as("day")).collect()
      .groupBy(_.getTimestamp(0)).map(_._2.length.toLong).toSeq
    byDay.sorted
  }

  test("percentiles_bucket: exact integer interpolation over sibling buckets") {
    val a = dailyCounts
    val n = a.length
    def pp(p: Int): Long = {
      val pos = (n - 1) * p
      val lo = pos / 100
      val hi = math.min(lo + 1, n - 1)
      a(lo) * 1000000L + (a(hi) - a(lo)) * (pos % 100) * 10000L
    }
    val r = run("search_pipeline_percentiles_bucket").collect().head
    assert(r.getAs[Long]("n_buckets") == n.toLong)
    assert(r.getAs[Long]("p25_x1e6") == pp(25), "p25")
    assert(r.getAs[Long]("p50_x1e6") == pp(50), "p50")
    assert(r.getAs[Long]("p75_x1e6") == pp(75), "p75")
    assert(r.getAs[Long]("p25_x1e6") <= r.getAs[Long]("p50_x1e6") &&
      r.getAs[Long]("p50_x1e6") <= r.getAs[Long]("p75_x1e6"))
  }

  test("extended_stats_bucket: moments match a BigInt recompute") {
    val a = dailyCounts
    val n = BigInt(a.length)
    val s = a.map(BigInt(_)).sum
    val q = a.map(v => BigInt(v) * v).sum
    val r = run("search_pipeline_extended_stats_bucket").collect().head
    assert(r.getAs[Long]("n_buckets") == a.length.toLong)
    assert(r.getAs[Long]("min_bucket") == a.min)
    assert(r.getAs[Long]("max_bucket") == a.max)
    assert(r.getAs[Long]("sum_buckets") == a.sum)
    assert(BigInt(r.getAs[Long]("avg_x1e6")) == s * 1000000 / n)
    assert(BigInt(r.getAs[Long]("variance_x1e6")) == (n * q - s * s) * 1000000 / (n * n))
  }

  // --- post_filter ------------------------------------------------------

  test("post_filter: aggs see the query scope, hits see the post filter") {
    val rows = run("search_post_filter").collect()
    val (aggs, hits) = rows.partition(_.getAs[String]("row_type") == "agg")
    // Agg rows cover EVERY lang in scope with its pre-post-filter count.
    val scopeByLang = Tables(spark, sf, "documents").collect()
      .filter(_.getAs[String]("text").toLowerCase.split("\\s+").contains("data"))
      .groupBy(_.getAs[String]("lang")).map { case (l, rs) => l -> rs.length.toLong }
    assert(aggs.map(r => r.getAs[String]("key") -> r.getAs[Long]("v")).toMap
      == scopeByLang)
    assert(scopeByLang.size > 1,
      "fixture must have multiple langs in scope for the asymmetry to bite")
    // Hit rows are scope ∩ lang=en only.
    val enScope = Tables(spark, sf, "documents").collect()
      .filter(r => r.getAs[String]("lang") == "en" &&
        r.getAs[String]("text").toLowerCase.split("\\s+").contains("data"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(hits.nonEmpty && hits.forall(r => enScope(r.getAs[String]("key").toLong)))
  }

  // --- moving_avg models ------------------------------------------------

  test("moving_avg simple/linear/ewma are the exact closed forms") {
    val a = {
      val byDay = Tables(spark, sf, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(date_trunc("day", col("ts")).as("day")).collect()
        .groupBy(_.getTimestamp(0)).toSeq.sortBy(_._1.getTime)
      byDay.map(_._2.length.toLong)
    }
    val rows = run("search_moving_avg_models").collect()
    assert(rows.length == math.max(0, a.length - 3))
    rows.zipWithIndex.foreach { case (r, i) =>
      val (x3, x2, x1) = (a(i), a(i + 1), a(i + 2))
      assert(r.getAs[Long]("doc_count") == a(i + 3))
      assert(r.getAs[Long]("simple_x1e6") == (x3 + x2 + x1) * 1000000L / 3)
      assert(r.getAs[Long]("linear_x1e6") == (x3 + 2 * x2 + 3 * x1) * 1000000L / 6)
      assert(r.getAs[Long]("ewma_x1e6") ==
        (49 * x3 + 21 * x2 + 30 * x1) * 1000000L / 100)
    }
  }

  // --- geo_bounds -------------------------------------------------------

  test("geo_bounds: per-segment bbox is tight and attained") {
    val pts = Tables(spark, sf, "customer").collect().map { r =>
      val k = r.getAs[Long]("c_custkey")
      (r.getAs[String]("c_mktsegment"),
        k * 2654435761L % 1800001 - 900000,
        k * 2246822519L % 3600001 - 1800000)
    }
    val want = pts.groupBy(_._1).map { case (seg, ps) =>
      seg -> (ps.length.toLong, ps.map(_._2).max, ps.map(_._3).min,
        ps.map(_._2).min, ps.map(_._3).max)
    }
    val got = run("search_geo_bounds").collect().map { r =>
      r.getAs[String]("c_mktsegment") -> (r.getAs[Long]("doc_count"),
        r.getAs[Long]("top_lat_e4"), r.getAs[Long]("left_lon_e4"),
        r.getAs[Long]("bottom_lat_e4"), r.getAs[Long]("right_lon_e4"))
    }.toMap
    assert(got == want)
  }

  test("holt_winters: the HOF fold matches a sequential JVM recurrence") {
    // Independent recompute: the textbook additive triple-exponential
    // recurrence as a plain var-loop with truncating division —
    // sequential by construction, so agreement proves the aggregate()
    // fold threads (level, trend, seasonal vector) in series order.
    val L = 7
    val xs = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((count(lit(1)) * 100).as("x"))
      .orderBy(col("day")).collect()
      .map(r => (r.getTimestamp(0), r.getAs[Long]("x")))
    assert(xs.length >= 2 * L + 1)
    def tdiv(a: Long, b: Long): Long = a / b // JVM / truncates like div
    val sum1 = xs.take(L).map(_._2).sum
    val sum2 = xs.slice(L, 2 * L).map(_._2).sum
    var l = tdiv(sum1, L)
    var b = tdiv(sum2 - sum1, L.toLong * L)
    val s = Array.tabulate(L)(j => xs(j)._2 - l)
    val want = (L until xs.length).map { t =>
      val idx = t % L
      val lNew = tdiv(3 * (xs(t)._2 - s(idx)) + 7 * (l + b), 10)
      val bNew = tdiv((lNew - l) + 9 * b, 10)
      val sNew = tdiv(3 * (xs(t)._2 - lNew) + 7 * s(idx), 10)
      s(idx) = sNew; l = lNew; b = bNew
      (xs(t)._1, xs(t)._2 / 100, lNew, bNew, sNew, lNew + bNew + s((t + 1) % L))
    }
    val got = run("search_holt_winters").collect().map { r =>
      (r.getTimestamp(0), r.getAs[Long]("doc_count"),
        r.getAs[Long]("level_x100"), r.getAs[Long]("trend_x100"),
        r.getAs[Long]("season_x100"), r.getAs[Long]("forecast_next_x100"))
    }
    assert(got.toSeq == want)
  }
}
