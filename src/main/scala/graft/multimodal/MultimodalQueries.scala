package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column operators (SURVEY.md §2.4): media as opaque
  * `binary` columns + typed metadata, with decode / feature-extract /
  * frame-sample stages.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake (byte-level math standing in for
  * pixel math) — but the Spark-side plumbing is real and is the part
  * that matters at 100 TB: binary columns travel through parquet scans
  * untouched by codegen projections, metadata lives in a sibling
  * struct so pruning can drop the payload when only metadata is read,
  * and per-row decoding runs inside `mapPartitions` (one iterator per
  * task — the same batch shape a JNI/FFI decoder or Arrow-batched UDF
  * needs, amortizing codec init per partition, never per row).
  */
object MultimodalQueries {

  /** A media row: payload + typed metadata (what a real pipeline
    * carries for images: format, dims; binary stays opaque).
    */
  case class MediaRow(doc_id: Long, payload: Array[Byte], fmt: String,
                      width: Int, height: Int)

  case class MediaFeatures(doc_id: Long, width: Int, height: Int,
                           mean_byte: Double, histogram: Array[Long])

  case class FrameSample(doc_id: Long, n_frames: Int, frame_checksum: Long)

  case class AudioEnergy(doc_id: Long, n_frames: Int, total_energy: Long,
                         peak_frame: Int, peak_energy: Long)

  case class SceneCuts(doc_id: Long, n_frames: Int, n_cuts: Int,
                       first_cut: Int)

  /** STUBBED VIDEO DECODE + scene-cut detection: consecutive
    * `frame`-byte windows play video frames (a real build decodes
    * keyframes via FFI here); a CUT lands between frames whose mean
    * byte values differ by more than `thresh` — the frame-difference
    * detector every shot-segmentation pipeline starts from. The mean
    * compare is cross-multiplied to integer form,
    * |s_j·l_{j−1} − s_{j−1}·l_j| > thresh·l_j·l_{j−1}, so a partial
    * last frame is handled exactly and the sweep is oracle-checkable.
    * first_cut = −1 when a doc has no cut (single-shot media).
    */
  def sceneCuts(media: DataFrame, frame: Int, thresh: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        var i = 0; var fr = 0
        var sum = 0L; var len = 0L
        var prevSum = 0L; var prevLen = 0L
        var nCuts = 0; var firstCut = -1
        while (i < r.payload.length) {
          sum += (r.payload(i) & 0xFF); len += 1
          i += 1
          if (i % frame == 0 || i == r.payload.length) {
            if (fr > 0 &&
                math.abs(sum * prevLen - prevSum * len) >
                  thresh.toLong * len * prevLen) {
              nCuts += 1
              if (firstCut < 0) firstCut = fr
            }
            prevSum = sum; prevLen = len
            sum = 0L; len = 0L; fr += 1
          }
        }
        SceneCuts(r.doc_id, fr, nCuts, firstCut)
      }
    }.toDF()
  }

  /** STUBBED AUDIO DECODE + frame energy: payload bytes play 8-bit PCM
    * samples centered at 128 (a real build decodes via FFI here);
    * energy per `frame`-sample window = Σ(sample−128)² — the RMS-energy
    * sweep behind silence trimming / voice-activity detection, in
    * exact integer arithmetic so the whole sweep is oracle-checkable.
    * Peak tie-break: FIRST frame with the max energy. Same
    * per-partition iterator shape as the other codec stubs.
    */
  def audioEnergy(media: DataFrame, frame: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        var i = 0; var fr = 0
        var frameE = 0L; var totalE = 0L
        var peakFrame = 0; var peakE = -1L
        var n = 0
        while (i < r.payload.length) {
          val v = (r.payload(i) & 0xFF) - 128
          frameE += v.toLong * v
          i += 1
          if (i % frame == 0 || i == r.payload.length) {
            totalE += frameE
            if (frameE > peakE) { peakE = frameE; peakFrame = fr }
            fr += 1; n += 1; frameE = 0L
          }
        }
        AudioEnergy(r.doc_id, n, totalE, peakFrame, math.max(peakE, 0L))
      }
    }.toDF()
  }

  case class AudioFp(doc_id: Long, fp: Long)

  /** Shazam-style constellation fingerprints (Wang, ISMIR 2003): the
    * top-`peaks` energy frames (64-sample windows, FULL frames only)
    * are the constellation points; consecutive peaks in time order
    * hash to (Δframe, quantized e1, quantized e2) — the
    * translation-robust landmark ES of audio identification. Exact
    * integer arithmetic over the stub PCM (same centered-square
    * energies as [[audioEnergy]]), so the whole chain oracle-checks.
    * Per-row imperative scan at the codec boundary, like every
    * multimodal kernel here.
    */
  def audioFingerprints(media: DataFrame, frame: Int, peaks: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.as[MediaRow].flatMap { r =>
      val nFull = r.payload.length / frame
      val energies = new Array[Long](nFull)
      var i = 0
      while (i < nFull * frame) {
        val v = (r.payload(i) & 0xFF) - 128
        energies(i / frame) += v.toLong * v
        i += 1
      }
      val top = energies.zipWithIndex
        .sortBy { case (e, fr) => (-e, fr) }
        .take(peaks).map(_._2).sorted
      top.zip(top.drop(1)).iterator.map { case (f1, f2) =>
        AudioFp(r.doc_id,
          (f2 - f1).toLong * 1000003L +
            (energies(f1) % 1000L) * 1000L + energies(f2) % 1000L)
      }
    }.toDF()
  }

  /** Derive a binary "media" table from documents: payload =
    * UTF-8 bytes of text (the fixture's stand-in for an image blob),
    * metadata = fake dims where width=16, height=ceil(len/16).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("fake/raw").as("fmt"),
        lit(16).as("width"),
        ceil(col("n_chars") / 16.0).cast(IntegerType).as("height"))

  /** STUBBED DECODE: a real build links an image codec here (JNI or
    * Arrow UDF); the fake computes a 16-bin byte histogram + mean —
    * deterministic, so the plumbing is testable. Runs per PARTITION:
    * codec init (`new Array` here, a decoder context in real life)
    * happens once per task, rows stream through.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val hist = new Array[Long](16)
        var sum = 0L
        var i = 0
        while (i < r.payload.length) {
          val b = r.payload(i) & 0xFF
          hist(b / 16) += 1
          sum += b
          i += 1
        }
        val mean = if (r.payload.length == 0) 0.0 else sum.toDouble / r.payload.length
        MediaFeatures(r.doc_id, r.width, r.height, mean, hist)
      }
    }.toDF()
  }

  /** STUBBED FRAME SAMPLING: every k-th byte plays the role of every
    * k-th video frame; checksum makes the result assertable. The rolling
    * hash runs mod 1e9+7 (not raw Long wraparound) so the exact same
    * fold is expressible in an oracle engine whose BIGINT errors on
    * overflow instead of wrapping.
    */
  val ChecksumMod = 1000000007L

  def sampleFrames(media: DataFrame, k: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        var i = 0; var n = 0; var checksum = 0L
        while (i < r.payload.length) {
          n += 1
          checksum = (checksum * 31 + (r.payload(i) & 0xFF)) % ChecksumMod
          i += k
        }
        FrameSample(r.doc_id, n, checksum)
      }
    }.toDF()
  }

  /** Block-mean perceptual hash (aHash/blockhash family) of a payload:
    * the bytes split into 64 equal-ish segments; signature bit b
    * (0..62) is set iff segment b's MEAN byte exceeds segment b+1's —
    * compared as cross-multiplied integer sums (sum_b·len_{b+1} >
    * sum_{b+1}·len_b), so the whole signature is integer-exact and
    * SQL-expressible. 63 bits (not 64): keeps every partial sum and
    * the signature itself positive in engines whose BIGINT errors on
    * overflow. Robust to local edits the way a perceptual hash is:
    * a changed word moves one segment's mean, flipping at most its
    * two adjacent bits.
    */
  private[graft] def blockSig(payload: Array[Byte]): Long = {
    val L = payload.length
    val sums = new Array[Long](64)
    val lens = new Array[Long](64)
    var j = 0
    while (j < 64) {
      val lo = (L.toLong * j / 64).toInt
      val hi = (L.toLong * (j + 1) / 64).toInt
      var s = 0L; var i = lo
      while (i < hi) { s += payload(i) & 0xFF; i += 1 }
      sums(j) = s; lens(j) = hi - lo
      j += 1
    }
    var sig = 0L; var b = 0
    while (b < 63) {
      if (sums(b) * lens(b + 1) > sums(b + 1) * lens(b)) sig |= 1L << b
      b += 1
    }
    sig
  }

  case class MediaSig(doc_id: Long, sig: Long)

  /** Offset distinguishing derived replica ids from original doc ids. */
  private[graft] val ReplicaIdOffset = 10000000L

  /** A "re-encoded" replica of a payload: two regions brightened by
    * different amounts — the localized value perturbation a lossy
    * re-encode introduces, with NO length change (length edits are
    * what block hashes are legitimately blind to; that's the shingle
    * family's job and `llm_dedup_*` owns it). TWO regions with
    * different deltas: a single uniform shift cancels in the
    * cross-multiplied mean compares (only region-boundary bits can
    * flip), which left most replica pairs at hamming 0 — the second
    * region forces a spread of nonzero distances so the banded join
    * is actually exercised NEAR its matched threshold, not just at
    * identity.
    */
  private[graft] def perturb(payload: Array[Byte]): Array[Byte] = {
    val L = payload.length
    val out = payload.clone()
    var i = L / 3
    while (i < 2 * L / 3) { out(i) = (out(i) + 2).toByte; i += 1 }
    var j = L / 10
    while (j < L / 5) { out(j) = (out(j) + 6).toByte; j += 1 }
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Perceptual-hash near-dup over media payloads: blockSig per blob
    // (mapPartitions — the same per-partition decoder shape as the
    // feature stub), then 9 bands × 7 bits block candidates, kept at
    // hamming <= 8. Banding and threshold are MATCHED (pigeonhole:
    // <= 8 differing bits across 9 bands leaves one band identical),
    // so the banded join provably equals the all-pairs scan the DuckDB
    // twin runs — a hash-exact check of signature AND blocking.
    // The fixture has no binary near-dups (text edits change LENGTH,
    // which shifts every downstream block — measured hamming >= 13 for
    // even the closest text pairs), so the replica set is derived
    // in-query (FIXTURES.md pattern): each payload plus its
    // brightness-perturbed re-encode. The operator must find exactly
    // the (original, replica) pairs — near-dup TEXT pairs must NOT
    // collide here, which the hamming floor above guarantees.
    "mm_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = mediaTable(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val sigs = media.as[MediaRow]
        .mapPartitions(rows => rows.flatMap(r => Iterator(
          MediaSig(r.doc_id, blockSig(r.payload)),
          MediaSig(r.doc_id + ReplicaIdOffset, blockSig(perturb(r.payload))))))
        .toDF()
        .transform(graft.Pins.pin)
      val banded = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 9).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 7).bitwiseAND(lit(0x7FL)).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("sig"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
        // Filter BEFORE the distinct: random band collisions above the
        // threshold are dropped free instead of riding the dedup
        // shuffle (their count grows with corpus size).
        .filter(col("hamming") <= 8)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Query-by-image: rank the corpus by perceptual-hash hamming
    // distance to a QUERY image (here: the lossy re-encode of doc 0 —
    // the "find the original of this degraded copy" serving case).
    // The scan side is the 8-byte signature column only — at 100 TB
    // that is a bit_count(xor) sweep over a signatures artifact, not
    // the payloads — followed by a bounded top-k; the banded index
    // (mm_phash_dedup) serves THRESHOLD queries, this serves KNN.
    // Exact integer arithmetic end to end → hash-checked.
    "mm_phash_search" -> ((s, dir) => {
      import s.implicits._
      val media = mediaTable(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val sigs = media.as[MediaRow]
        .mapPartitions(rows => rows.map(r => MediaSig(r.doc_id, blockSig(r.payload))))
        .toDF()
      val qSig: Long = blockSig(perturb(
        media.filter(col("doc_id") === 0L).as[MediaRow].head().payload))
      sigs.select(col("doc_id"),
          bit_count(col("sig").bitwiseXOR(lit(qSig))).cast(IntegerType).as("hamming"))
        .orderBy(col("hamming"), col("doc_id"))
        .limit(10)
    }),

    // Binary-column stats per source — metadata-only read path; the
    // whole query is SQL-expressible so DuckDB checks the binary
    // handling (encode + octet_length semantics) exactly.
    "mm_binary_stats" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          encode(col("text"), "UTF-8").as("payload"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blobs"),
          sum(length(col("payload"))).as("total_bytes"),
          min(length(col("payload"))).as("min_bytes"),
          max(length(col("payload"))).as("max_bytes"))
        .orderBy(col("source"))
    }),

    // Decode + feature-extract through mapPartitions (stub decoder).
    // The stub's byte math IS SQL-expressible (the fixture payload is
    // ASCII text, so bytes == code points), so the whole mapPartitions
    // path gets a hard DuckDB check. Histogram serialized (array_join)
    // at the output boundary so the harness can sort/hash rows.
    "mm_decode_features" -> ((s, dir) =>
      decodeFeatures(mediaTable(s, dir))
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_byte"), 6).as("mean_byte"),
          array_join(transform(col("histogram"), _.cast(StringType)), ",")
            .as("histogram"))
        .orderBy(col("doc_id"))),

    // Frame sampling (every 8th byte); rolling mod-hash checksum gets a
    // hard DuckDB check via list_reduce over the same sampled bytes.
    "mm_frame_sample" -> ((s, dir) =>
      sampleFrames(mediaTable(s, dir), 8)
        .orderBy(col("doc_id"))),

    // Audio frame-energy sweep (64-sample windows, last partial frame
    // kept) — silence-trim / VAD accounting over the stub PCM.
    "mm_audio_energy" -> ((s, dir) =>
      audioEnergy(mediaTable(s, dir), 64)
        .orderBy(col("doc_id"))),

    // Scene-cut sweep (16-byte frames, mean-diff threshold 16) —
    // shot segmentation over the stub video; the keyframe-selection
    // front end of a video-training-data pipeline.
    "mm_scene_cut" -> ((s, dir) =>
      sceneCuts(mediaTable(s, dir), 16, 16)
        .orderBy(col("doc_id"))),

    // Audio-identification matching: constellation fingerprints →
    // inverted fingerprint index → doc pairs sharing ≥2 landmarks (the
    // match-confirmation threshold). Common-fingerprint df cap (≤32
    // docs) before the pair join — the same discipline as every
    // near-dup pair finder here: the join is landmark-shaped and
    // linear, never corpus².
    "mm_audio_fingerprint" -> ((s, dir) => {
      val fps = audioFingerprints(mediaTable(s, dir), 64, 5)
      val dfc = fps.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("dfc"))
      val rare = fps
        .join(dfc.filter(col("dfc") <= 32).select(col("fp")), Seq("fp"))
        .select(col("fp"), col("doc_id")).distinct()
      rare.select(col("fp"), col("doc_id").as("doc_a"))
        .join(rare.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("doc_a"), col("doc_b"))
    })
  )

  /** One DuckDB term of the blockSig sum — the same integer
    * cross-multiplied mean compare, over `by` (code points == bytes on
    * the ASCII fixture) and `L` (payload length).
    */
  private def phashTerm(b: Int): String = {
    def lo(j: Int) = s"(L * $j) // 64"
    def hi(j: Int) = s"(L * ${j + 1}) // 64"
    def sum(j: Int) = s"coalesce(list_sum(by[${lo(j)} + 1 : ${hi(j)}]), 0)"
    def len(j: Int) = s"(${hi(j)} - ${lo(j)})"
    s"CASE WHEN ${sum(b)} * ${len(b + 1)} > ${sum(b + 1)} * ${len(b)} THEN ${1L << b} ELSE 0 END"
  }

  val oracleSql: Map[String, String] = Map(
    // Same centered-square frame energies (full 64-byte frames only),
    // top-5 peaks by (energy desc, frame), consecutive-peak landmark
    // hashes, df-capped pair join.
    "mm_audio_fingerprint" ->
      """WITH e AS (
        |  SELECT doc_id, (i - 1) // 64 AS fr,
        |    CAST(unicode(text[i]) - 128 AS BIGINT)
        |      * (unicode(text[i]) - 128) AS e
        |  FROM documents,
        |    unnest(generate_series(1, (length(text) // 64) * 64)) AS u(i)),
        |fe AS (SELECT doc_id, fr, CAST(sum(e) AS BIGINT) AS fe
        |       FROM e GROUP BY 1, 2),
        |pk AS (
        |  SELECT doc_id, fr, fe FROM fe
        |  QUALIFY row_number() OVER (
        |    PARTITION BY doc_id ORDER BY fe DESC, fr) <= 5),
        |ord AS (
        |  SELECT doc_id, fr, fe,
        |    lead(fr) OVER (PARTITION BY doc_id ORDER BY fr) AS fr2,
        |    lead(fe) OVER (PARTITION BY doc_id ORDER BY fr) AS fe2
        |  FROM pk),
        |fps AS (
        |  SELECT DISTINCT doc_id,
        |    (fr2 - fr) * 1000003 + (fe % 1000) * 1000 + (fe2 % 1000) AS fp
        |  FROM ord WHERE fr2 IS NOT NULL),
        |dfc AS (
        |  SELECT fp FROM fps GROUP BY fp
        |  HAVING count(DISTINCT doc_id) <= 32),
        |rare AS (SELECT f.fp, f.doc_id FROM fps f JOIN dfc USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       count(*) AS n_shared
        |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // All-pairs twin of the banded phash join — equality is guaranteed
    // by the pigeonhole argument (hamming <= 8 over 9 bands), so the
    // hash compare verifies signature AND blocking.
    "mm_phash_dedup" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, length(text)), i -> unicode(text[i])) AS by0,
         |    length(text) AS L
         |  FROM documents),
         |b0 AS (
         |  SELECT doc_id, by0 AS by, L FROM raw
         |  UNION ALL
         |  SELECT doc_id + $ReplicaIdOffset,
         |    list_transform(by0, (v, i) ->
         |      CASE WHEN i > L // 3 AND i <= (2 * L) // 3 THEN v + 2 ELSE v END
         |      + CASE WHEN i > L // 10 AND i <= L // 5 THEN 6 ELSE 0 END),
         |    L
         |  FROM raw),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(${(0 until 63).map(phashTerm).mkString("\n      + ")} AS BIGINT) AS sig
         |  FROM b0)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, c.sig)) AS INT) AS hamming
         |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.sig, c.sig)) <= 8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Same signature arithmetic; only doc 0 gets its perturbed
    // replica (the query image), ranked against the originals.
    "mm_phash_search" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, length(text)), i -> unicode(text[i])) AS by0,
         |    length(text) AS L
         |  FROM documents),
         |b0 AS (
         |  SELECT doc_id, by0 AS by, L FROM raw
         |  UNION ALL
         |  SELECT doc_id + $ReplicaIdOffset,
         |    list_transform(by0, (v, i) ->
         |      CASE WHEN i > L // 3 AND i <= (2 * L) // 3 THEN v + 2 ELSE v END
         |      + CASE WHEN i > L // 10 AND i <= L // 5 THEN 6 ELSE 0 END),
         |    L
         |  FROM raw WHERE doc_id = 0),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(${(0 until 63).map(phashTerm).mkString("\n      + ")} AS BIGINT) AS sig
         |  FROM b0),
         |q AS (SELECT sig FROM sig WHERE doc_id = $ReplicaIdOffset)
         |SELECT s.doc_id, CAST(bit_count(xor(s.sig, q.sig)) AS INT) AS hamming
         |FROM sig s, q WHERE s.doc_id < $ReplicaIdOffset
         |ORDER BY hamming, s.doc_id LIMIT 10""".stripMargin,
    "mm_binary_stats" ->
      """SELECT source, count(*) AS n_blobs,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(min(octet_length(encode(text))) AS INT) AS min_bytes,
        |  CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // The fixture payload is UTF-8 of ASCII text (verified: octet_length
    // == length for every doc), so byte values == unicode code points —
    // DuckDB reproduces the byte histogram/mean/rolling hash exactly.
    "mm_decode_features" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |    list_transform(generate_series(1, length(text)), i -> unicode(text[i])) AS bytes
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(16 AS INT) AS width,
        |  CAST(ceil(n_chars / 16.0) AS INT) AS height,
        |  CASE WHEN len(bytes) = 0 THEN 0.0
        |       ELSE round(CAST(list_sum(bytes) AS DOUBLE) / len(bytes), 6)
        |  END AS mean_byte,
        |  array_to_string(list_transform(generate_series(0, 15),
        |    bin -> len(list_filter(bytes, v -> v // 16 = bin))), ',') AS histogram
        |FROM b ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text), 8),
        |                   i -> CAST(unicode(text[i]) AS BIGINT)) AS sampled
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sampled) AS INT) AS n_frames,
        |  CAST(CASE WHEN len(sampled) = 0 THEN 0
        |            ELSE list_reduce(sampled, (x, y) -> (x * 31 + y) % 1000000007)
        |       END AS BIGINT) AS frame_checksum
        |FROM b ORDER BY doc_id""".stripMargin,
    // Same centered-square integer energies over 64-byte windows
    // (ASCII fixture ⇒ code points == bytes); peak tie-break = first
    // max frame, mirrored via min(fr) over the max-energy frames.
    "mm_audio_energy" ->
      """WITH e AS (
        |  SELECT doc_id, (i - 1) // 64 AS fr,
        |    CAST(unicode(text[i]) - 128 AS BIGINT)
        |      * (unicode(text[i]) - 128) AS e
        |  FROM documents, unnest(generate_series(1, length(text))) AS u(i)),
        |fe AS (SELECT doc_id, fr, sum(e) AS fe FROM e GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
        |    CAST(sum(fe) AS BIGINT) AS total_energy, max(fe) AS mx
        |  FROM fe GROUP BY doc_id),
        |pk AS (
        |  SELECT fe.doc_id, CAST(min(fr) AS INT) AS peak_frame
        |  FROM fe JOIN agg ON fe.doc_id = agg.doc_id AND fe.fe = agg.mx
        |  GROUP BY fe.doc_id)
        |SELECT a.doc_id, n_frames, total_energy, peak_frame,
        |  CAST(mx AS BIGINT) AS peak_energy
        |FROM agg a JOIN pk USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Same cross-multiplied mean-diff over 16-byte frames (ASCII
    // fixture ⇒ code points == bytes); lag() pairs consecutive frames.
    "mm_scene_cut" ->
      """WITH e AS (
        |  SELECT doc_id, (i - 1) // 16 AS fr,
        |    CAST(unicode(text[i]) AS BIGINT) AS v
        |  FROM documents, unnest(generate_series(1, length(text))) AS u(i)),
        |f AS (SELECT doc_id, fr, sum(v) AS s, count(*) AS l
        |      FROM e GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id, fr, s, l,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY fr) AS ps,
        |    lag(l) OVER (PARTITION BY doc_id ORDER BY fr) AS pl
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
        |  CAST(count_if(ps IS NOT NULL
        |                AND abs(s * pl - ps * l) > 16 * l * pl) AS INT)
        |    AS n_cuts,
        |  CAST(coalesce(min(fr) FILTER (WHERE ps IS NOT NULL
        |                AND abs(s * pl - ps * l) > 16 * l * pl), -1) AS INT)
        |    AS first_cut
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
