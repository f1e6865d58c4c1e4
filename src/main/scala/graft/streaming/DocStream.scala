package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming face of the dedup family (Dedup.exact's incremental twin).
  *
  * An arriving-documents stream keeps only the first occurrence of each
  * normalized text. State is the seen-key set, which unbounded would be
  * the classic streaming-dedup OOM; `dropDuplicatesWithinWatermark`
  * bounds it to the watermark horizon — the engine evicts keys whose
  * event time has passed out of the (here 1 hour) late window, which is
  * exactly the guarantee a 100 TB/day ingest pipeline wants: exact
  * dedup within the horizon, bounded state forever.
  *
  * Keyed by the same `lower(text)` as the batch q21, so batch and
  * stream agree on what "duplicate" means (asserted in DocStreamSpec).
  * At production scale the key would be `graft_polyhash(lower(text))`
  * (8 bytes of state per doc instead of the text) — same plan shape.
  */
object DocStream {

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)

  def dedupExact(docs: Dataset[Doc]): DataFrame =
    docs.toDF()
      .withColumn("key", lower(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key")
      .select(col("doc_id"), col("ts"), col("text"))

  /** Streaming decontamination — the incremental twin of the batch
    * q55 pass: arriving documents are flagged when any of their
    * 4-grams appears in the (static, tiny) benchmark shingle set. The
    * eval side broadcasts in a stream-static equi-join — the standard
    * deployment compiles the benchmark suite offline and every
    * ingest micro-batch probes it; no stream-side state beyond the
    * watermark-bounded doc_id dedup (a doc sharing several eval
    * shingles must still flag once). */
  def decontaminate(docs: Dataset[Doc], evalHashes: DataFrame): DataFrame =
    docs.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        explode(graft.TextOps.shingleHashSet(col("text"), 4)).as("h"))
      .join(broadcast(evalHashes), "h")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))

  /** Streaming ingest dedup — the q56 twin on an arriving-documents
    * stream: each micro-batch probes the PERSISTED standing-corpus
    * DedupIndex (exact keys, shingle sets, band keys — built once per
    * corpus version) and appends its survivors. Correctness rides on
    * q56's own contract: the batch is only ever compared to the
    * CORPUS, so any micro-batch partitioning of the arriving docs
    * yields the same survivor union — the sink is append-only and
    * batch-boundary-independent (asserted ≡ batch q56 in
    * DocStreamSpec). At 100 TB this is the steady-state ingest path:
    * per trigger, O(batch) signature work + index probes, zero
    * corpus-side recompute. Each batch is one `CacheScope`: the
    * operator's caches are released once the batch is written. */
  def ingestSink(spark: org.apache.spark.sql.SparkSession, d: String,
      outDir: String)(batch: DataFrame, batchId: Long): Unit =
    graft.CacheScope.scope {
      graft.Dedup.ingestDedupDf(batch, spark, d)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** One exploded (band, key) posting of a document's LSH signature. */
  final case class BandPosting(
      b: Int, key: Long, doc_id: Long, ts: Timestamp, mh: Seq[Long])

  /** An emitted near-dup candidate pair with its signature-estimated
    * Jaccard (fraction of agreeing minhashes). */
  final case class CandPair(doc_a: Long, doc_b: Long, est_jaccard: Double)

  /** Per-bucket open state: recent postings inside the horizon. */
  final case class BucketState(docs: List[(Long, Long, Seq[Long])]) // (doc_id, tsMs, mh)

  val HorizonMs: Long = 60L * 60 * 1000 // pairs must be within 1 hour

  /** Streaming MinHash/LSH near-dup CANDIDATE generation — the
    * incremental twin of q23's candidate stage (Dedup.minhashNearDup,
    * same k=16 signatures, 4×4 bands): an arriving doc pairs with every
    * stored doc sharing an LSH band bucket within the 1-hour horizon.
    *
    * Scale/state story: state lives per (band, key) bucket — the same
    * partitioning the batch band equi-join shuffles on — and each
    * bucket holds only postings newer than the horizon (pruned against
    * the watermark on every visit; bucket evicted wholesale by
    * event-time timeout). Emitted pairs carry the signature-estimated
    * Jaccard; exact verification, where needed, is a downstream batch
    * join exactly as in q23. A pair sharing multiple bands emits once
    * per shared band (the batch `.distinct()` has no bounded-state
    * streaming analog here) — consumers dedup on (doc_a, doc_b).
    */
  def nearDupCandidates(docs: Dataset[Doc]): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    import graft.TextOps
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val postings = docs.toDF()
      .withColumn("hs", TextOps.shingleHashSet(col("text"), TextOps.NearDupShingleN))
      .filter(size(col("hs")) > 0)
      .withColumn("mh", TextOps.minhashes(col("hs"), TextOps.NearDupMinhashK))
      .withColumn("bands", TextOps.bandKeys(col("mh"), TextOps.NearDupBands, TextOps.NearDupRows))
      .select(posexplode(col("bands")).as(Seq("b", "key")),
        col("doc_id"), col("ts"), col("mh"))
      .as[BandPosting]
      .withWatermark("ts", "1 hour")
    postings
      .groupByKey(p => (p.b, p.key))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), ps: Iterator[BandPosting], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // stored postings older than watermark − horizon can never
            // pair with a future (above-watermark) arrival: prune
            var stored = state.getOption.map(_.docs).getOrElse(Nil)
              .filter(_._2 > wm - HorizonMs)
            val out = List.newBuilder[CandPair]
            ps.toSeq.sortBy(p => (p.ts.getTime, p.doc_id)).foreach { p =>
              val t = p.ts.getTime
              stored.foreach { case (id, ts0, mh0) =>
                if (id != p.doc_id && math.abs(t - ts0) <= HorizonMs) {
                  val agree = mh0.iterator.zip(p.mh.iterator).count { case (a, b) => a == b }
                  out += CandPair(math.min(id, p.doc_id), math.max(id, p.doc_id),
                    agree.toDouble / p.mh.size)
                }
              }
              stored = (p.doc_id, t, p.mh) :: stored
            }
            if (stored.nonEmpty) {
              state.update(BucketState(stored))
              state.setTimeoutTimestamp(stored.map(_._2).max + HorizonMs)
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /** One exploded (chunk, value) posting of a payload's aHash. */
  final case class HashPosting(
      c: Int, cv: Long, doc_id: Long, ts: Timestamp, hi: Long, lo: Long)

  /** An emitted media near-dup pair with its EXACT Hamming distance. */
  final case class MediaPair(doc_a: Long, doc_b: Long, dist: Long)

  /** Per-bucket open state: (doc_id, tsMs, hi, lo) within the horizon. */
  final case class MediaBucketState(docs: List[(Long, Long, Long, Long)])

  /** Streaming MEDIA near-dup — the incremental twin of q245's aHash
    * pairing (the media-side analog of [[nearDupCandidates]]): each
    * arriving payload hashes ROW-LOCALLY through the native
    * AHash64Expr kernel (one byte loop — no per-pixel state, which is
    * what makes this streamable at all), posts its 10 pigeonhole
    * chunks, and pairs with every stored payload sharing a chunk
    * bucket within the 1-hour horizon. Unlike the MinHash twin, the
    * full 64-bit hashes ride the postings, so the Hamming verify is
    * EXACT and inline — emitted pairs are final answers, not
    * candidates. A pair sharing multiple chunks emits once per shared
    * chunk (the batch `.distinct()` has no bounded-state analog);
    * consumers dedup on (doc_a, doc_b). State per (chunk, value)
    * bucket is horizon-pruned and event-time evicted — bounded
    * forever, the q245 semantics within the window. */
  def mediaNearDup(docs: Dataset[Doc]): Dataset[MediaPair] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val radius = graft.Multimodal.AHashRadius
    val chunks = graft.Multimodal.AHashChunks
    val postings = docs.toDF()
      .filter(length(col("text")) - 64L >= 64L)
      .withColumn("h", graft.functions.GraftFunctions.ahash64(col("text")))
      .withColumn("hi", shiftrightunsigned(col("h"), 32))
      .withColumn("lo", col("h").bitwiseAND(lit(0xFFFFFFFFL)))
      .select(posexplode(array((0 until 10).map { c =>
        val half = if (c < 5) col("lo") else col("hi")
        val (sh, m) = chunks(c % 5)
        shiftright(half, sh).bitwiseAND(lit(m))
      }: _*)).as(Seq("c", "cv")),
        col("doc_id"), col("ts"), col("hi"), col("lo"))
      .as[HashPosting]
      .withWatermark("ts", "1 hour")
    postings
      .groupByKey(p => (p.c, p.cv))
      .flatMapGroupsWithState[MediaBucketState, MediaPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), ps: Iterator[HashPosting], state: GroupState[MediaBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            var stored = state.getOption.map(_.docs).getOrElse(Nil)
              .filter(_._2 > wm - HorizonMs)
            val out = List.newBuilder[MediaPair]
            ps.toSeq.sortBy(p => (p.ts.getTime, p.doc_id)).foreach { p =>
              val t = p.ts.getTime
              stored.foreach { case (id, ts0, hi0, lo0) =>
                if (id != p.doc_id && math.abs(t - ts0) <= HorizonMs) {
                  val dist = java.lang.Long.bitCount(hi0 ^ p.hi) +
                    java.lang.Long.bitCount(lo0 ^ p.lo)
                  if (dist <= radius)
                    out += MediaPair(math.min(id, p.doc_id),
                      math.max(id, p.doc_id), dist.toLong)
                }
              }
              stored = (p.doc_id, t, p.hi, p.lo) :: stored
            }
            if (stored.nonEmpty) {
              state.update(MediaBucketState(stored))
              state.setTimeoutTimestamp(stored.map(_._2).max + HorizonMs)
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /** Streaming CONFORMAL COVERAGE MONITOR — q261's deployment loop:
    * the per-source keep-thresholds CALIBRATE OFFLINE (the batch
    * operator) and ride along as a broadcast static relation; every
    * arriving document scores row-locally (the q134 integer formula),
    * compares against its source's threshold (NULL = keep-all, the
    * k=0 contract), and a watermarked 10-minute window aggregates
    * per-(window, source) coverage. A window whose coverage leaves
    * the ~(1−α) band is the conformal drift alarm: the source's
    * quality distribution moved since calibration — re-calibrate
    * before the fixed bar silently over- or under-prunes.
    *
    * State: only the windowed aggregate (watermark-evicted); the
    * threshold side is dimension-sized and static. Source derives
    * from doc_id exactly as the corpus law (`src` + id mod 20) so the
    * stream twin grades the same strata as the batch. */
  def conformalMonitor(docs: Dataset[Doc], thresholds: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    docs.toDF()
      .withColumn("source",
        concat(lit("src"), (col("doc_id") % 20L).cast("string")))
      .withColumn("n_tok", size(t).cast("long"))
      .withColumn("n_uniq", size(array_distinct(t)).cast("long"))
      .withColumn("n_stop", size(filter(t, x =>
        x.isin("the", "a", "of", "and", "is", "to", "in"))).cast("long"))
      .withColumn("q_milli",
        expr("(500 * n_uniq) div n_tok + (200 * n_stop) div n_tok" +
          " + (300 * least(n_tok, 200)) div 200"))
      .withWatermark("ts", "1 hour")
      .join(broadcast(thresholds), Seq("source"), "left")
      .groupBy(window(col("ts"), "10 minutes"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("thr_milli").isNull ||
          col("q_milli") >= col("thr_milli"), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("window.start").as("w_start"), col("source"),
        col("n_docs"), col("n_kept"),
        expr("(1000 * n_kept) div n_docs").as("coverage_pm"))
  }

  /** Streaming CURATION RULE MONITOR — q267's six-rule audit as an
    * ingest-time alarm: every arriving doc evaluates all six rule
    * flags ROW-LOCALLY (the identical integer thresholds — constants
    * shared with TextAnalysis.ruleAudit via the spec's twin assert),
    * and a watermarked 10-minute window emits per-window flag counts
    * and the kill-any rate in permille. A window whose kill rate
    * jumps is an upstream feed going bad — caught while the batch
    * audit would still be hours away. State is the windowed count
    * only (watermark-evicted); no per-doc state survives the window.
    * Unlike batch q267 there is no unique-kill column: uniqueness is
    * a corpus-level marginal, not a monitoring signal. */
  /** q281's streaming face: the loudness/clip/crest audit is pure
    * row-local arithmetic (ONE PcmStatsExpr kernel call per payload),
    * so it runs on an ingest stream with NO state at all — the
    * map-shaped proof that the multimodal audit family is
    * streaming-safe by construction. Same length contract, same
    * floored divisions as Multimodal.audioLoudnessAudit; DocStreamSpec
    * pins stream ≡ batch row-for-row on a micro-batch split. */
  def loudnessAudit(docs: Dataset[Doc]): DataFrame =
    docs.toDF()
      .filter(expr("greatest(length(text) - 64, 0) div 2") >= 32L)
      .select(col("ts"), col("doc_id"),
        graft.functions.GraftFunctions.pcmstats(col("text")).as("st"))
      .select(col("ts"), col("doc_id"),
        col("st").getItem(0).as("n_samples"),
        expr("(1000 * st[1]) div st[0]").as("mean_abs_milli"),
        col("st").getItem(2).as("energy"),
        col("st").getItem(3).as("peak_abs"),
        expr("(1000 * st[4]) div st[0]").as("clip_pm"),
        when(col("st").getItem(1) > 0L,
          expr("(1000 * st[3] * st[0]) div st[1]")).otherwise(0L)
          .as("crest_milli"))

  def ruleMonitor(docs: Dataset[Doc]): DataFrame = {
    val t = split(col("text"), " ")
    val g = when(size(t) >= 5,
      transform(sequence(lit(0), size(t) - 5),
        i => concat_ws(" ", slice(t, i + lit(1), lit(5)))))
      .otherwise(array())
    docs.toDF()
      .select(col("ts"), col("doc_id"),
        size(t).cast("long").as("n_tok"),
        size(array_distinct(t)).cast("long").as("n_uniq"),
        size(filter(t, x =>
          x.isin("the", "a", "of", "and", "is", "to", "in")))
          .cast("long").as("n_stop"),
        greatest(size(t) - 4, lit(0)).cast("long").as("n5"),
        size(array_distinct(g)).cast("long").as("u5"),
        length(col("text")).cast("long").as("len"),
        size(expr("regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)"))
          .cast("long").as("n_punct"))
      .select(col("ts"),
        when(col("n_tok") < 20, 1L).otherwise(0L).as("f1"),
        when(col("n_tok") > 90, 1L).otherwise(0L).as("f2"),
        when(col("n_uniq") * 100L < col("n_tok") * 45L, 1L)
          .otherwise(0L).as("f3"),
        when((col("n5") - col("u5")) * 1000L > col("n5") * 150L, 1L)
          .otherwise(0L).as("f4"),
        when(col("n_stop") < 2, 1L).otherwise(0L).as("f5"),
        when(col("n_punct") * 1000L > col("len") * 30L, 1L)
          .otherwise(0L).as("f6"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f1")).as("n_short"), sum(col("f2")).as("n_long"),
        sum(col("f3")).as("n_low_uniq"), sum(col("f4")).as("n_dup5"),
        sum(col("f5")).as("n_no_stop"), sum(col("f6")).as("n_symbol"),
        sum(when(expr("f1 + f2 + f3 + f4 + f5 + f6") > 0, 1L)
          .otherwise(0L)).as("n_killed"))
      .select(col("window.start").as("w_start"), col("n_docs"),
        col("n_short"), col("n_long"), col("n_low_uniq"), col("n_dup5"),
        col("n_no_stop"), col("n_symbol"), col("n_killed"),
        expr("(1000 * n_killed) div n_docs").as("kill_rate_pm"))
  }
}
