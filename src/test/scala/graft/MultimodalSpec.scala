package graft

/** The multimodal planning queries (q166, q225, q226) ≡ local
  * recomputes over the q32 metadata projection. */
class MultimodalSpec extends SparkSpec {

  test("q166 frame-sample plan ≡ local schedule recompute; uniform-sampling laws hold") {
    val d = "/root/testdata/sf0.001"
    val meta = Multimodal.mediaMetadata(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5))) // (doc_id, format, width, height, n_frames)
    val k = Multimodal.FrameSamples
    val exp = meta.flatMap { case (id, fmt, w, h, nf) =>
      (0L until k.toLong).map { s =>
        val idx = s * (nf - 1) / (k - 1)
        (id, fmt, nf, s, idx, 64L + idx * w * h * 3L)
      }
    }.sortBy(r => (r._1, r._4)).toSeq
    val got = Multimodal.frameSamplePlan(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    // uniform-sampling laws: exactly k slots per item; slot 0 is frame
    // 0 and the last slot is the LAST frame (endpoints-inclusive);
    // indexes are non-decreasing in slot and inside [0, n_frames)
    got.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.size == k)
      assert(sorted.head._5 == 0L)
      assert(sorted.last._5 == sorted.head._3 - 1)
      assert(sorted.map(_._5) == sorted.map(_._5).sorted)
      assert(sorted.forall(r => r._5 >= 0 && r._5 < r._3))
    }
  }
  test("q225 tile grid ≡ local ceil-division recompute; coverage laws hold") {
    val d = "/root/testdata/sf0.001"
    val meta = Multimodal.mediaMetadata(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
    val T = Multimodal.TileSide
    val exp = meta.map { case (id, fmt, w, h) =>
      val (tx, ty) = ((w + T - 1) / T, (h + T - 1) / T)
      (id, fmt, w, h, tx, ty, tx * ty, tx * T - w, ty * T - h,
        tx * ty * Multimodal.PatchesPerTile, tx * ty * T * T * 3L)
    }.sortBy(_._1).toSeq
    val got = Multimodal.tileGridPlan(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getLong(10))).toSeq
    assert(got == exp && got.nonEmpty)
    // coverage laws: the grid covers the image with padding < one tile
    got.foreach { r =>
      assert(r._5 * T >= r._3 && r._8 < T && r._8 >= 0)
      assert(r._6 * T >= r._4 && r._9 < T && r._9 >= 0)
    }
    // the corpus's pseudo-dims must actually exercise multi-tile grids
    assert(got.exists(_._7 > 1))
  }

  test("q226 audio chunks: virtual path ≡ local recompute; parsed WAV metadata drives the real path") {
    val d = "/root/testdata/sf0.001"
    val (w, hop) = (Multimodal.AudioWindowMs, Multimodal.AudioHopMs)
    def localPlan(id: Long, bl: Long, sr: Long, ch: Long) = {
      val ns = math.max(bl - 64, 0) / (2 * ch)
      val dur = 1000 * ns / sr
      if (dur <= 0) Nil
      else {
        val nc = 1 + (math.max(dur - w, 0) + hop - 1) / hop
        (0L until nc).map { c =>
          val (st, en) = (c * hop, math.min(c * hop + w, dur))
          (id, sr, ch, dur, c, st, en,
            64 + (st * sr / 1000) * 2 * ch, ((en - st) * sr / 1000) * 2 * ch)
        }
      }
    }
    val bl = spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("doc_id", "octet_length(CAST(text AS BINARY)) AS bl")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong))
    val exp = bl.flatMap { case (id, b) => localPlan(id, b, 16000L, 1L) }
      .sortBy(r => (r._1, r._5)).toSeq
    val got = Multimodal.audioChunkPlan(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    assert(got == exp && got.nonEmpty)
    // overlapping-window laws: chunk c starts at c*hop; consecutive
    // chunks overlap by (window - hop) except a clamped tail
    assert(got.forall(r => r._6 == r._5 * hop && r._7 <= r._4))

    // the REAL path: a meta row with parsed WAV fields (44.1 kHz
    // stereo) must drive the arithmetic with those values, not the
    // virtual defaults
    import spark.implicits._
    val meta = Seq((7L, 64L + 44100L * 4 * 2, 44100L, 2L))
      .toDF("doc_id", "byte_len", "sample_rate", "n_channels")
    val real = Multimodal.audioChunkPlanDf(meta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    val expReal = localPlan(7L, 64L + 44100L * 4 * 2, 44100L, 2L).toSeq
    assert(real == expReal)
    // 2 seconds of stereo audio at a 10ms/8ms schedule = 250 chunks
    assert(real.head._4 == 2000L && real.size == 250)
  }
}
