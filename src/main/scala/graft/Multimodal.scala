package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns (north-star extension, SURVEY.md §2.9).
  *
  * The test corpus reinterprets `documents.text` as the payload bytes.
  * `mediaMetadata` (q32) derives each item's metadata from them with a
  * deterministic pseudo-decode: a pure column projection in whole-stage
  * codegen that the DuckDB oracle replays exactly. The planning queries
  * (q166, q225, q226) and the perceptual-hash families read the payload
  * under a virtual layout: a 64-byte header, then raw pixels or PCM
  * samples. A real codec would replace the pseudo-decode with parsed
  * container headers and decoded pixels or samples.
  */
object Multimodal {
  import TextOps._

  /** The pseudo-decode's format names (q32's `format` column): the
    * payload hash mod 3 picks one, and the DuckDB oracle replays the
    * same arithmetic. */
  object FakeCodec {
    val formats = Array("jpeg", "png", "webp")
  }

  /** Samples per media item for q166 — fixed, so the output is
    * exactly `FrameSamples` rows per item at any corpus size. */
  val FrameSamples = 4

  /** q166: FRAME-SAMPLE planning — for every media item, the uniform
    * frame-sampling schedule a downstream embed/caption stage decodes:
    * `FrameSamples` slots spread evenly across the clip
    * (idx_i = i·(n_frames−1) div (k−1), the endpoints-inclusive rule;
    * a short clip legitimately repeats frames — honest uniform
    * sampling, and the slot column keeps the schedule positional) plus
    * each sample's byte offset under the virtual raw-frame layout
    * (header 64 + idx·width·height·3). This is the planning half of
    * the video/frame pipeline: the SCHEDULE is exact relational
    * arithmetic over the decoded metadata (oracle-checked); the pixel
    * decode it drives needs a real codec, which this engine does not
    * carry.
    *
    * Shape: q32's row-local metadata projection + one sequence/explode
    * fan-out of exactly k rows per item — map-only, no shuffle but the
    * presentation sort, output k·N rows. */
  def frameSamplePlan(spark: SparkSession, d: String): DataFrame = {
    val k = FrameSamples
    val meta = mediaMetadata(spark, d)
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("n_frames"))
    meta
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("n_frames"), explode(sequence(lit(0L), lit(k - 1L))).as("slot"))
      .withColumn("frame_idx", expr(s"(slot * (n_frames - 1)) div ${k - 1}"))
      .select(col("doc_id"), col("format"), col("n_frames"), col("slot"),
        col("frame_idx"),
        (lit(64L) + col("frame_idx") * col("width") * col("height") * 3L)
          .as("byte_offset"))
      .orderBy(col("doc_id"), col("slot"))
  }

  /** q32: per-item media metadata as a pure-column projection —
    * whole-stage codegen, no object round-trip. The pseudo-decode
    * hashes the payload with the polynomial hash (`TextOps.polyHash`)
    * to pick a format and the image dimensions; the byte length gives
    * the frame count. */
  def mediaMetadata(spark: SparkSession, d: String): DataFrame = {
    val payload = col("text").cast("binary")
    val h = polyHash(col("text")) // ASCII corpus: byte hash == char hash
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        length(payload).cast("long").as("byte_len"),
        element_at(lit(FakeCodec.formats), (h % 3L).cast("int") + 1).as("format"),
        (lit(320L) + (h % 8L) * 160L).as("width"),
        (lit(240L) + (h % 6L) * 120L).as("height"),
        (lit(1L) + length(payload) % 24L).as("n_frames"),
        lit(0L).as("sample_rate"),
        lit(0L).as("n_channels"))
      .orderBy(col("doc_id"))
  }

  /** ViT-style tiling constants for q225: 224×224 tiles, 16×16
    * patches → 196 patches per tile (the standard ViT-B geometry). */
  val TileSide = 224L
  val PatchesPerTile = (224L / 16L) * (224L / 16L)

  /** q225: VISION TILE-GRID PLAN — for every image item, the tiling
    * schedule a patch-based vision encoder consumes: ceil-division
    * tile counts in each axis, right/bottom padding to the tile grid,
    * total tiles, ViT patch count (196·tiles), and the decoded byte
    * budget (tiles·224²·3) — the numbers a multimodal batch planner
    * packs GPU batches and shard budgets with (the image-side analogue
    * of q213's token packing). Pure row-local integer arithmetic over
    * the decoded metadata; the pixel work it schedules needs a real
    * codec.
    *
    * Shape at 100 TB: map-only — one metadata projection, zero
    * shuffles but the presentation sort. */
  def tileGridPlan(spark: SparkSession, d: String): DataFrame = {
    val t = TileSide
    mediaMetadata(spark, d)
      .select(col("doc_id"), col("format"), col("width"), col("height"))
      .withColumn("tiles_x", expr(s"(width + ${t - 1}) div $t"))
      .withColumn("tiles_y", expr(s"(height + ${t - 1}) div $t"))
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("tiles_x"), col("tiles_y"),
        (col("tiles_x") * col("tiles_y")).as("n_tiles"),
        (col("tiles_x") * t - col("width")).as("pad_right"),
        (col("tiles_y") * t - col("height")).as("pad_bottom"),
        (col("tiles_x") * col("tiles_y") * PatchesPerTile).as("n_patches"),
        (col("tiles_x") * col("tiles_y") * t * t * 3L).as("decode_bytes"))
      .orderBy(col("doc_id"))
  }

  /** q226 audio segmentation windows, milliseconds. Scaled DOWN for
    * the synthetic corpus (text payloads decode to ~10-15 ms of
    * virtual PCM): a production speech pipeline sets the Whisper-style
    * 30000/29000. The plan arithmetic is identical at any setting. */
  val AudioWindowMs = 10L
  val AudioHopMs = 8L

  /** q226: AUDIO SEGMENTATION PLAN — for every audio item, the
    * overlapping-window transcription schedule (the Whisper-style
    * chunking pass): per chunk its time span and the byte range to
    * hand the sample decoder. A metadata row with a sample rate and
    * channel count uses them; a row without (every row of the q32
    * pseudo-decode) takes the documented virtual-PCM contract (s16le
    * mono 16 kHz, 64-byte header), so the operator is total and the
    * oracle exact. MultimodalSpec drives a 44.1 kHz stereo row through
    * the same arithmetic.
    *
    * Shape at 100 TB: row-local arithmetic + a sequence/explode
    * fan-out of n_chunks rows per item (duration-bounded), no shuffle
    * but the presentation sort. */
  def audioChunkPlan(spark: SparkSession, d: String): DataFrame =
    audioChunkPlanDf(mediaMetadata(spark, d))

  private[graft] def audioChunkPlanDf(meta: DataFrame): DataFrame = {
    val (w, hop) = (AudioWindowMs, AudioHopMs)
    meta
      .select(col("doc_id"), col("byte_len"),
        when(col("sample_rate") > 0, col("sample_rate")).otherwise(16000L)
          .as("sr"),
        when(col("n_channels") > 0, col("n_channels")).otherwise(1L)
          .as("ch"))
      .withColumn("n_samples",
        expr("greatest(byte_len - 64, 0) div (2 * ch)"))
      .withColumn("duration_ms", expr("(1000 * n_samples) div sr"))
      .filter(col("duration_ms") > 0)
      .withColumn("n_chunks",
        expr(s"1 + (greatest(duration_ms - $w, 0) + ${hop - 1}) div $hop"))
      .select(col("doc_id"), col("sr"), col("ch"), col("duration_ms"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk"))
      .select(col("doc_id"), col("sr"), col("ch"), col("duration_ms"),
        col("chunk"), (col("chunk") * hop).as("start_ms"),
        least(col("chunk") * hop + w, col("duration_ms")).as("end_ms"))
      .withColumn("start_byte",
        expr("64 + ((start_ms * sr) div 1000) * 2 * ch"))
      .withColumn("n_bytes",
        expr("(((end_ms - start_ms) * sr) div 1000) * 2 * ch"))
      .orderBy(col("doc_id"), col("chunk"))
  }

  /** q245 geometry: an 8×8 aHash grid (64 blocks → 64-bit hash) and
    * the Hamming radius. radius 9 → 10 chunks (2×7 + 3×6 bits per
    * 32-bit half): any pair within Hamming 9 differs in ≤ 9 bits, so
    * at least one of the 10 chunks is bit-equal (the q24 pigeonhole).
    * 9 of 64 is the empirically-right ball for this corpus's planted
    * near-dups (their pixel-noise edits land at 7-9 bits); a
    * production image pipeline would widen the hash (256-bit
    * blockhash → 7-bit chunks at the same radius) rather than widen
    * the radius further, since candidate mass grows with radius but
    * shrinks with hash width. */
  val AHashBlocks = 64
  val AHashRadius = 9L

  /** The 5-chunk split (2×7 + 3×6 bits) of a 32-bit hash, as (shift,
    * mask): each aHash half and the q246 energy hash block on it. */
  private[graft] val Chunks32: Seq[(Int, Long)] =
    Seq((0, 127L), (7, 127L), (14, 63L), (20, 63L), (26, 63L))

  /** q245: IMAGE PERCEPTUAL-HASH (aHash) NEAR-DUP — content-level
    * dedup for image payloads: each payload's pixel stream is cut
    * into the 64 cells of an 8×8 grid, each cell's mean brightness is
    * thresholded against the whole-image mean (the classic average
    * hash), and pairs within Hamming distance 9 of the 64-bit hash
    * are exact-verified candidates. This is the dedup modality the
    * text families (MinHash/SimHash) cannot cover: re-encoded or
    * lightly edited images keep their brightness geometry while every
    * container byte changes.
    *
    * Pixel source: the VIRTUAL layout the multimodal family pins
    * everywhere (q166/q226): payload bytes
    * after the 64-byte virtual header ARE the row-major grayscale
    * pixels (text corpus: byte == ASCII char). Items with fewer than
    * 64 virtual pixels cannot fill the grid and are excluded (a real
    * pipeline routes them to exact-hash dedup).
    *
    * Exact integer discipline: cell i covers pixel positions p with
    * (64·p) div n_pix = i (never-empty for n_pix ≥ 64); the mean
    * threshold is the cross-multiplied bit = [bsum·n_pix ≥ tot·bcnt]
    * (no fraction is ever formed; Long-safe: 255·n_pix² < 2⁶³ to
    * ~6·10⁸ pixels/item). The 64-bit hash rides as two 32-bit halves
    * (hi, lo) so no 2⁶³ shift is ever taken; Hamming distance is
    * bit_count(lo⊕lo) + bit_count(hi⊕hi).
    *
    * Shape at 100 TB: pixel fan-out is map-only (one split + explode,
    * like the token explode every text family runs), block sums are a
    * (doc, cell)-keyed hash-agg with map-side partials, and pairing is
    * the q24 chunk equi-join — candidates only where a 6-7-bit chunk
    * collides, Hamming verified on candidates, provably identical to
    * all-pairs. No cartesian anywhere. */
  def imageAHashNearDup(spark: SparkSession, d: String): DataFrame =
    imageAHashNearDupDf(Tables.documentsDist(spark, d))

  private[graft] def imageAHashNearDupDf(docs: DataFrame): DataFrame =
    aHashPairsDf(docs).orderBy(col("doc_a"), col("doc_b"))

  /** The unordered (doc_a, doc_b, dist) aHash pair relation — shared
    * by q245 (presentation order), q250 (cluster closure), q255
    * (agreement join) and q259 (threshold curve). */
  private[graft] def aHashPairsDf(docs: DataFrame): DataFrame = {
    // ONE codegen'd byte loop per payload (AHash64Expr) — the
    // relational per-pixel explode + double hash-agg this replaced
    // shuffled |payload| rows per doc to compute a row-local value;
    // PerceptualHashSpec pins the kernel bit-identical to that
    // formulation, and the DuckDB oracle still replays the relational
    // arithmetic, so parity is end-to-end evidence of equivalence.
    // The packed 64-bit hash splits into its 32-bit halves here so
    // banding and Hamming stay in non-negative Long arithmetic.
    val sig = docs
      .filter(length(col("text")) - 64L >= AHashBlocks.toLong)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.ahash64(col("text")).as("h"))
      .select(col("doc_id"),
        shiftrightunsigned(col("h"), 32).as("hi"),
        col("h").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"))
    // 10 chunks (2×7 + 3×6 bits per half), 5 from each 32-bit half
    Dedup.hammingPairs(sig, Seq("lo", "hi"),
      Dedup.bitChunks(col("lo"), Chunks32) ++ Dedup.bitChunks(col("hi"), Chunks32),
      "cv", lit(AHashRadius))
  }

  /** q250: MEDIA NEAR-DUP CLUSTERS — connected components over the
    * q245 aHash pair graph (the pairs→clusters step the text family
    * has had since q49, now for media payloads): per multi-item
    * cluster its size, how many within-radius edges the banding
    * found, how many of those are hash-IDENTICAL (dist 0 — re-encoded
    * exact copies), and the worst edge distance. This is what a dedup
    * owner reads to pick a media canonical-selection policy: exact-
    * heavy clusters dedup for free, high-max-dist clusters need a
    * human look before deletion (same read as q243 for text).
    *
    * Shape at 100 TB: the q245 candidate-blocked pair join feeds the
    * q49 alternating large-star/small-star recurrence (O(log n)
    * rounds, per-node min aggregates — never a transitive-closure
    * join); the epilogue is two cluster-keyed hash-aggs. The oracle
    * replays the closure as a recursive CTE over the same exact pair
    * relation.
    *
    * Cache lifecycle: the banded Hamming pair relation is read by the
    * label loop's internal actions and by the result plan, and stays
    * cached until the caller's scope ends. */
  def mediaDupClusters(spark: SparkSession, d: String): DataFrame = {
    val pairs = CacheScope.cached(aHashPairsDf(Tables.documentsDist(spark, d)))
    val docs = Tables.documents(spark, d)
      .filter(length(col("text")) - 64L >= AHashBlocks.toLong)
      .select(col("doc_id"))
    val lbl = Dedup.clusterLabels(docs, pairs)
    val sizes = lbl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") >= 2)
    // both endpoints share the cluster by construction — label via doc_a
    val edges = pairs
      .join(lbl.select(col("doc_id"), col("cluster_id").as("cid")),
        col("doc_a") === col("doc_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("dist") === 0L, 1L).otherwise(0L)).as("n_exact_edges"),
        max(col("dist")).as("max_dist"))
    sizes.join(edges, col("cluster_id") === col("cid"))
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        col("n_exact_edges"), col("max_dist"))
      .orderBy(col("cluster_id"))
  }

  /** q254: MEDIA HASH BIT BALANCE — per aHash bit position (0..63):
    * how many qualifying payloads set it and its share in permille.
    * The hash-quality monitor a media-dedup deployment runs on every
    * corpus rollover: a healthy average hash has every bit near 500‰
    * (each cell is compared against the image's own mean, so bits
    * split roughly evenly over diverse content); a bit pinned near 0
    * or 1000 means that grid cell's brightness is corpus-degenerate
    * (letterboxing, watermark bands, templated headers) and carries
    * no pairing entropy — the banding chunks covering it under-prune,
    * which is exactly how a near-dup join silently goes quadratic.
    * The q222 bucket-balance read, one level lower.
    *
    * Shape at 100 TB: one row-local kernel hash per payload, a
    * 64-row fan-out per doc (bit, set?) into a 64-group hash-agg with
    * map-side partials — output is 64 rows regardless of corpus. */
  def mediaHashBitBalance(spark: SparkSession, d: String): DataFrame = {
    val sig = Tables.documentsDist(spark, d)
      .filter(length(col("text")) - 64L >= AHashBlocks.toLong)
      .select(graft.functions.GraftFunctions.ahash64(col("text")).as("h"))
      .select(shiftrightunsigned(col("h"), 32).as("hi"),
        col("h").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"))
    sig
      .select(col("hi"), col("lo"),
        explode(sequence(lit(0L), lit(63L))).as("bit"))
      .select(col("bit"),
        expr("CASE WHEN bit < 32 THEN shiftright(lo, CAST(bit AS INT)) & 1" +
          " ELSE shiftright(hi, CAST(bit - 32 AS INT)) & 1 END").as("b"))
      .groupBy(col("bit"))
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).as("n_set"))
      .select(col("bit"), col("n_docs"), col("n_set"),
        expr("(1000 * n_set) div n_docs").as("share_pm"))
      .orderBy(col("bit"))
  }

  /** q255: DEDUP MODALITY AGREEMENT — the q23 text near-dup pair set
    * (MinHash bands + exact Jaccard ≥ 0.5 verify) against the q245
    * media near-dup pair set (aHash Hamming ≤ 9) on the SAME corpus:
    * pairs only the text modality finds (formatting/byte edits that
    * moved the pixel grid but not the token stream), pairs only the
    * media modality finds (token-level edits that preserved the
    * brightness geometry — the reuse text dedup misses), pairs both
    * find, and the Jaccard of the two pair sets in permille. This is
    * the evidence for RUNNING both modalities: a high media-only
    * count on a mixed corpus is exactly the dedup mass a text-only
    * pipeline ships duplicated into training.
    *
    * Shape at 100 TB: composes two candidate-blocked verified pair
    * plans and one full-outer join on the pair key + a one-row agg —
    * the pair relations are the expensive halves and both already
    * scale (q23/q245's own contracts). */
  def dedupModalityAgreement(spark: SparkSession, d: String): DataFrame = {
    val text = Dedup.minhashNearDup(spark, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val media = aHashPairsDf(Tables.documentsDist(spark, d))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("m"))
    text.join(media, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("t").isNotNull && col("m").isNull, 1L).otherwise(0L))
          .as("n_text_only"),
        sum(when(col("t").isNull && col("m").isNotNull, 1L).otherwise(0L))
          .as("n_media_only"),
        sum(when(col("t").isNotNull && col("m").isNotNull, 1L).otherwise(0L))
          .as("n_both"))
      .select(col("n_text_only"), col("n_media_only"), col("n_both"),
        expr("(1000 * n_both) div" +
          " greatest(n_text_only + n_media_only + n_both, 1)")
          .as("jaccard_pm"))
  }

  /** q259: MEDIA-HASH THRESHOLD OPERATING CURVE — q255's one-number
    * agreement unrolled into the full precision/recall curve over the
    * Hamming radius: for every τ ∈ [0, 9], how many aHash pairs fire
    * at dist ≤ τ, how many of those are text-confirmed near-dups
    * (q23's MinHash pair set), and the resulting precision/recall in
    * ppm against the text pairs whose BOTH endpoints are
    * hash-eligible (a doc too short to hash can never be recovered —
    * counting it against recall would grade the hash for a corpus
    * slice it never sees). This is the threshold-tuning read a
    * pipeline owner takes before moving AHashRadius — the media twin
    * of q182's LSH candidate eval.
    *
    * The 10-chunk banding is EXHAUSTIVE for every τ here (Hamming
    * ≤ 9 over 64 bits pigeonholes into one of 10 chunks), so the
    * curve measures the HASH's agreement with the text truth, not
    * banding loss — there is none in this range.
    *
    * Shape at 100 TB: composes the two candidate-blocked pair plans
    * (their own contracts), one pair-keyed left join to flag
    * text-confirmation, a ≤10× fan-out (each pair emits its τ
    * suffix), and a 10-row spine join. Output is exactly 10 rows. */
  /** q264 geometry: 4 equal frames per payload, each hashed with the
    * q245 kernel; a frame needs the full 64-block grid, so payloads
    * under 4·64 = 256 pixels are ineligible (8 frames would demand
    * 512 — above this corpus's longest payload, 553). Frame hashes shared by
    * more than `FrameDfCap` documents leave the index (the q123/q142
    * stop-key discipline — a boilerplate intro frame must not
    * contribute C(df,2) pair instances). */
  val FrameCount = 4
  val FrameDfCap = 64L

  /** q264: FRAME-SEQUENCE CONTAINMENT — media near-dup at SEQUENCE
    * granularity: each payload's pixel region splits into 4 equal
    * virtual frames, each frame aHashes independently (same kernel,
    * same virtual-decode contract), and two documents pair when they
    * share ≥ 2 exact frame hashes; containment = shared distinct
    * hashes over the smaller side's distinct-hash count. This is the
    * re-cut/clip detector q245 is structurally blind to: a video with
    * one segment replaced keeps 3 of 4 frame hashes (high
    * containment) while its WHOLE-payload hash moves arbitrarily far
    * — the media twin of q138's text containment (symmetric scores
    * miss embedded excerpts; so do whole-item hashes).
    *
    * On THIS corpus exact frame-hash collisions are rare by
    * construction (word-salad pixels): 3 pairs at sf0.1, none at
    * sf0.01 — the oracle still replays the full chain, and the
    * planted re-cut fixture in the spec exercises the detection path
    * (the q253 planted-fixture precedent for corpus-blind operators).
    *
    * Shape at 100 TB: hashing is 4 row-local kernel calls per doc;
    * pairing is an exact-equality hash join (no banding needed — the
    * candidate key IS the value), df-capped so a boilerplate frame
    * bounds at C(cap,2); per-doc state is ≤ 4 hashes. Output pairs
    * only. */
  def frameSeqContainment(spark: SparkSession, d: String): DataFrame =
    frameSeqContainmentDf(Tables.documentsDist(spark, d))

  private[graft] def frameSeqContainmentDf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("flen",
        expr(s"CAST((length(text) - 64) div $FrameCount AS INT)"))
      .filter(col("flen") >= AHashBlocks)
    val fh = CacheScope.cached(docs
      .select(col("doc_id"), col("text"), col("flen"),
        explode(sequence(lit(0), lit(FrameCount - 1))).as("f"))
      .select(col("doc_id"), graft.functions.GraftFunctions.ahash64(expr(
        "concat(substring(text, 1, 64)," +
          " substring(text, 65 + f * flen, flen))")).as("h"))
      .distinct())
    val idx = fh.join(
      fh.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
        .filter(col("dfh") <= FrameDfCap).select(col("h")), "h")
    val sz = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    idx.as("a")
      .join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2L)
      .join(sz.toDF("doc_a", "na"), "doc_a")
      .join(sz.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(1000 * n_shared) div least(na, nb)").as("containment_pm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def mediaThresholdCurve(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsDist(spark, d)
    val eligible = docs
      .filter(length(col("text")) - 64L >= AHashBlocks.toLong)
      .select(col("doc_id"))
    val text = Dedup.minhashNearDupDf(docs)
      .select(col("doc_a"), col("doc_b"))
      .join(eligible.select(col("doc_id").as("doc_a")), "doc_a")
      .join(eligible.select(col("doc_id").as("doc_b")), "doc_b")
      .withColumn("t", lit(1L))
    val flagged = aHashPairsDf(docs)
      .join(text, Seq("doc_a", "doc_b"), "left")
      .select(col("dist"), coalesce(col("t"), lit(0L)).as("t"))
    // each pair fires at every τ ≥ its distance: a bounded ≤10-row
    // fan-out per pair, then one τ-keyed agg — no window, no collect
    val byTau = flagged
      .select(explode(sequence(col("dist"),
        lit(AHashRadius))).as("tau"), col("t"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("n_confirmed"))
    val nText = text.agg(count(lit(1)).as("n_text_pairs"))
    spark.range(0L, AHashRadius + 1L).select(col("id").as("tau"))
      .join(byTau, Seq("tau"), "left")
      .crossJoin(broadcast(nText))
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"),
        col("n_text_pairs"))
      .withColumn("precision_ppm",
        expr("(1000000 * n_confirmed) div greatest(n_pairs, 1)"))
      .withColumn("recall_ppm",
        expr("(1000000 * n_confirmed) div greatest(n_text_pairs, 1)"))
      .orderBy(col("tau"))
  }

  /** q246 geometry: 32 temporal energy bands → 32-bit hash, Hamming
    * radius 4 → 5 chunks (2×7 + 3×6 bits) by pigeonhole. */
  val EnergyBands = 32
  val EnergyRadius = 4L

  /** q246: AUDIO PERCEPTUAL (BAND-ENERGY) NEAR-DUP — the audio twin of
    * q245: each payload's PCM stream is cut into 32 equal temporal
    * bands, each band's ENERGY (Σ sample², the loudness envelope) is
    * thresholded against the track mean, and pairs within Hamming 4 of
    * the 32-bit envelope hash are candidates. A re-encoded or
    * level-shifted copy keeps its loudness envelope while every
    * container byte changes — the same argument as q245's brightness
    * grid, in the time domain.
    *
    * Sample source: the q226 virtual-PCM contract (s16le, the WAV
    * wire format) — s16le mono after the 64-byte header, sample k =
    * signed16(byte[64+2k] | byte[64+2k+1] << 8). The signed decode is
    * total (two's complement via the v ≥ 32768 branch) even though
    * ASCII payloads never exercise it — the spec drives it with
    * fixture bytes. Items under 32 samples are excluded.
    *
    * Exact integers: band = (32·k) div n_samples; energies are exact
    * Long (v² ≤ 2³⁰, safe to ~8·10⁹ samples); the mean threshold
    * cross-multiplies IN DECIMAL(38,0) — e·n_samples is Θ(v²·n²),
    * past Long at real track lengths. Hash fits one BIGINT (32 bits).
    *
    * Shape at 100 TB: identical to q245 — map-only sample fan-out,
    * (doc, band)-keyed hash-agg, 5-way chunk equi-join, exact verify
    * on candidates only. */
  def audioEnergyNearDup(spark: SparkSession, d: String): DataFrame =
    audioEnergyNearDupDf(Tables.documentsDist(spark, d))

  private[graft] def audioEnergyNearDupDf(docs: DataFrame): DataFrame = {
    val nb = EnergyBands.toLong
    // ONE codegen'd sample loop per payload (EnergyHash32Expr) — the
    // relational per-sample explode this replaced shuffled |samples|
    // rows per doc; PerceptualHashSpec pins the kernel bit-identical
    // to that formulation (incl. the signed decode and the 128-bit
    // threshold compare standing in for its DECIMAL cross-multiply),
    // and the oracle still replays the relational arithmetic.
    val sig = docs
      .filter(expr("greatest(length(text) - 64, 0) div 2") >= nb)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.energyhash32(col("text")).as("s"))
    Dedup.hammingPairs(sig, Seq("s"), Dedup.bitChunks(col("s"), Chunks32),
        "cv", lit(EnergyRadius))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q281: AUDIO LOUDNESS / CLIPPING AUDIT — per audio item, the
    * normalization-readiness statistics an ASR/TTS ingest pass
    * computes before any model sees a waveform: sample count, mean
    * absolute level in milli (1000·Σ|s| div n — one floored
    * division), total energy (Σ s², the exact RMS numerator — the
    * root is presentation-side, so the engine emits the integer),
    * peak level, clip rate per-mille at |s| ≥ 30000, and the crest
    * proxy (1000·peak·n div Σ|s| — peak over mean, ≥1000 by
    * construction; all-silent payloads emit 0). Items that clip
    * (clip_pm > 0) or sit far below full scale (peak < 8192) are the
    * re-normalization queue; the q226 chunk plan tells the decoder
    * WHERE to read, this audit says WHETHER the signal is usable.
    *
    * Sample source: the q226/q246 virtual-PCM contract (s16le mono
    * after the 64-byte header, two's-complement decode), length
    * contract n_s ≥ 32 — same rows q246 hashes. The statistics come
    * from ONE codegen'd byte loop per payload (PcmStatsExpr — the
    * q245/q246 kernel argument: the relational per-sample explode
    * this replaces shuffles |samples| rows per doc for a row-local
    * 5-vector; PerceptualHashSpec pins kernel ≡ relational on
    * fixture bytes including the signed branch).
    *
    * Exactness: Σs² ≤ 2³⁰·n and 1000·peak·n ≤ 2²⁵·n stay exact Longs
    * to ~8·10⁹ samples per payload (past any real track); every
    * output is an integer or one floored division.
    *
    * Shape at 100 TB: map-only over the payload scan — no shuffle
    * but the presentation sort; fuses into whatever scan feeds it. */
  def audioLoudnessAudit(spark: SparkSession, d: String): DataFrame = {
    val nb = EnergyBands.toLong
    Tables.documentsDist(spark, d)
      .filter(expr("greatest(length(text) - 64, 0) div 2") >= nb)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.pcmstats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_samples"),
        expr("(1000 * st[1]) div st[0]").as("mean_abs_milli"),
        col("st").getItem(2).as("energy"),
        col("st").getItem(3).as("peak_abs"),
        expr("(1000 * st[4]) div st[0]").as("clip_pm"),
        when(col("st").getItem(1) > 0L,
          expr("(1000 * st[3] * st[0]) div st[1]")).otherwise(0L)
          .as("crest_milli"))
      .orderBy(col("doc_id"))
  }

  /** q291 geometry: q264's 4-frame virtual grid (the corpus's
    * payloads top out near 570 chars, so a finer grid starves the
    * 64-pixel-per-frame aHash floor — a production video pipeline
    * raises SceneFrames with real payload sizes, the plan is
    * identical) and the Hamming bar that calls a boundary: adjacent
    * frames of one scene share brightness geometry (few bits flip),
    * a cut re-lights everything (~half the 64 bits flip). */
  val SceneFrames = 4
  val SceneCutBits = 16L

  /** q291: SCENE-CUT DETECTION PLAN — per media item, the aHash of
    * each equal virtual frame and the Hamming distance between
    * ADJACENT frames; a boundary (is_cut) fires where the distance
    * exceeds 16 of 64 bits. The shot-segmentation pass a video
    * pipeline runs before keyframe extraction (q166 samples frames
    * BLINDLY at a stride; this tells it WHERE scenes start so one
    * keyframe per shot replaces k per video) and a different question
    * over q264's frame grid: q264 pairs DOCUMENTS by exact shared
    * frame hashes, this segments WITHIN a document by adjacent-frame
    * distance. On this word-salad corpus adjacent frames are
    * independent pixels, so distances sit near 32 and most boundaries
    * fire — honest and documented (the q264 rarity argument
    * inverted); the spec drives a planted smooth-then-cut fixture
    * through the same arithmetic to pin the discrimination path.
    *
    * Shape at 100 TB: 4 row-local kernel calls per doc (the q264
    * header-prefix trick reuses AHash64Expr unchanged), one lag read
    * inside 4-row doc partitions, map-shaped otherwise. Exact
    * integers end-to-end. */
  def sceneCuts(spark: SparkSession, d: String): DataFrame =
    sceneCutsDf(Tables.documentsDist(spark, d))

  private[graft] def sceneCutsDf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsIn
      .withColumn("flen",
        expr(s"CAST((length(text) - 64) div $SceneFrames AS INT)"))
      .filter(col("flen") >= AHashBlocks)
    val fh = docs
      .select(col("doc_id"), col("text"), col("flen"),
        explode(sequence(lit(0), lit(SceneFrames - 1))).as("f"))
      .select(col("doc_id"), col("f").cast("long").as("frame"),
        graft.functions.GraftFunctions.ahash64(expr(
          "concat(substring(text, 1, 64)," +
            " substring(text, 65 + f * flen, flen))")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
    fh.withColumn("prev", lag(col("h"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("frame"),
        bit_count(col("h").bitwiseXOR(col("prev"))).cast("long").as("dist"))
      .withColumn("is_cut",
        when(col("dist") > SceneCutBits, 1L).otherwise(0L))
      .orderBy(col("doc_id"), col("frame"))
  }
}
