package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Dedup, TextAnalysis, TextOps}

/** The curation funnel as a STREAM: every stage of CurateDag's
  * quality→decontaminate→dedup-canonical→redact chain applied
  * incrementally to a micro-batch documents stream via foreachBatch,
  * with the curated store maintained as a generation-dir snapshot
  * (MergeUpsert's exactly-once pattern).
  *
  * Per micro-batch:
  *  1. quality gate + benchmark decontamination — row-local (the
  *     benchmark shingle set is compiled offline and broadcast, the
  *     standard deployment shape);
  *  2. MinHash/LSH pair discovery of the batch against ITSELF and the
  *     standing corpus signatures — the q56 cross-set band-probe shape
  *     (the standing corpus never self-joins);
  *  3. component labels updated by `Dedup.incrementalClusters` — only
  *     what the new edges touch re-propagates;
  *  4. the canonical snapshot (one doc per cluster, min doc_id) is
  *     re-derived from the updated labels, redacted, and written as
  *     `gen=<batchId>` — a later batch can de-throne an earlier
  *     canonical when clusters merge, which an append-only sink cannot
  *     express but a snapshot/merge sink handles naturally.
  *
  * After the stream drains, the newest generation must equal the BATCH
  * CurateDag's redacted output on the same corpus — asserted in
  * CurateStreamSpec, which also re-derives the mixture stage from both
  * stores and compares.
  *
  * All cross-batch state is ON DISK, so a restarted query resumes from
  * where the checkpoint left off (pinned by CurateStreamSpec's
  * kill-and-resume case):
  *
  *   state/sigs/batch=<id>/   append-only signature store — each batch
  *                            writes ONLY its own signatures (O(batch)
  *                            write); the standing corpus is the union
  *                            of committed batch dirs
  *   state/surv/batch=<id>/   append-only survivor rows, same scheme
  *   state/labels/gen=<id>/   full label table per generation (labels
  *                            mutate under merges, so they version like
  *                            the snapshot)
  *   gen=<id>/                canonical redacted snapshot
  *
  * Exactly-once falls out of the generation discipline (the upsertSink
  * argument): a replayed batch reads only state `< batchId` — its own
  * half-written dirs are excluded by id — recomputes deterministically,
  * and overwrites its own dirs byte-identically. The per-batch probe
  * work has the right scale shape: batch-sized scans, band-key
  * equi-joins, broadcast label remaps; a production deployment would
  * add retention pruning of old generations and periodic compaction of
  * the batch-dir stores, like any snapshot table. */
object CurateStream {

  /** The funnel's per-batch body. Stateless in memory — every input
    * beyond the batch itself is read from the on-disk state layout. */
  final class Funnel(evalHashes: DataFrame, storeDir: String) {

    /** Funnel counts observed by THIS process (restart resets them;
      * durable counts live in the generation dirs). */
    @volatile var seen: Long = 0L
    @volatile var qualityKept: Long = 0L
    @volatile var deconKept: Long = 0L

    /** Committed (strictly earlier) batch dirs of an append-only store,
      * as one DataFrame; None before the first commit. The partition
      * column `<part>` materializes from the dir names, so a replayed
      * batch's own half-written dir is excluded by the id filter. */
    private def committed(spark: SparkSession, path: String, part: String,
        before: Long): Option[DataFrame] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!graft.operators.MergeUpsert.listIds(fs, path, part).exists(_ < before)) None
      else Some(spark.read.option("basePath", path).parquet(path)
        .filter(col(part) < before).drop(part))
    }

    def apply(batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      var cached: List[DataFrame] = Nil
      def hold(df: DataFrame): DataFrame = { // multi-use within this batch
        df.persist(); cached = df :: cached; df
      }
      val b = hold(batch) // the source is not rescanned per counter/stage
      seen += b.count()
      // 1. row-local gates: quality cascade, eval-split removal, then
      // the broadcast benchmark-shingle probe (no corpus-side state)
      val keep = TextAnalysis.corpusFilterDf(b)
        .filter(col("verdict") === "keep").select("doc_id")
      // read by the counter, the decon probe, and the anti-join left side
      val quality = hold(b.join(keep, "doc_id")
        .filter(col("doc_id") % Dedup.EvalMod =!= 0))
      qualityKept += quality.count()
      val flagged = quality
        .select(col("doc_id"), explode(TextOps.shingleHashSet(col("text"), 4)).as("h"))
        .join(broadcast(evalHashes), "h")
        .select("doc_id").distinct()
      val sb = hold(quality.join(flagged, Seq("doc_id"), "left_anti"))
      deconKept += sb.count()
      // 2. batch signatures, written to the append-only store FIRST so
      // the union below can read every batch ≤ this one uniformly
      val sigB = hold(sb
        .select(col("doc_id"), TextOps.shingleHashSet(col("text"), TextOps.NearDupShingleN).as("hs"))
        .filter(size(col("hs")) > 0)
        .withColumn("bands", TextOps.nearDupBandKeys(col("hs"))))
      sigB.write.mode("overwrite").parquet(s"$storeDir/state/sigs/batch=$batchId")
      sb.write.mode("overwrite").parquet(s"$storeDir/state/surv/batch=$batchId")
      // pair discovery vs (batch ∪ standing): band-key equi-join
      // candidates, exact Jaccard verify — the q23/q56 machinery
      val standing = committed(spark, s"$storeDir/state/sigs", "batch", batchId)
      val sigU = hold(standing.fold(sigB)(s => s.unionByName(sigB)))
      def bandsOf(s: DataFrame) =
        s.select(col("doc_id"), posexplode(col("bands")).as(Seq("b", "key")))
      val cand = bandsOf(sigB).as("x")
        .join(bandsOf(sigU).as("y"), Seq("b", "key"))
        .filter(col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
        .distinct()
      // verify-side pruning (the q56 shape): semi-join the standing
      // signatures down to candidate docs via a broadcast id set, so
      // the exact-Jaccard explode shuffles candidate rows only
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      val sigC = sigU.join(broadcast(candIds), "doc_id")
      val h = sigC.select(col("doc_id"), explode(col("hs")).as("h"))
      val common = cand
        .join(h.as("p"), col("doc_a") === col("p.doc_id"))
        .join(h.as("q"), col("doc_b") === col("q.doc_id") && col("p.h") === col("q.h"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("cm"))
      val sz = sigC.select(col("doc_id"), size(col("hs")).as("sz"))
      val pairs = Dedup.jaccardPairs(common, sz, sz, 0.5)
        .select(col("doc_a"), col("doc_b"))
      // 3. incremental component update: only touched labels move
      val base = graft.operators.MergeUpsert
        .latestGen(spark, s"$storeDir/state/labels", before = Some(batchId))
        .getOrElse(sb.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0))
      val newLabels = hold(
        Dedup.incrementalClusters(base, sb.select("doc_id"), pairs)
          .select(col("doc_id"), col("cluster_id")))
      // markers written by the sink itself, not trusted from the
      // committer (marksuccessfuljobs=false would otherwise make the
      // latestGen completeness gate treat every generation as torn)
      def markDone(dir: String): Unit = {
        val f = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true).close()
      }
      val labelsDir = s"$storeDir/state/labels/gen=$batchId"
      newLabels.write.mode("overwrite").parquet(labelsDir)
      markDone(labelsDir)
      // 4. snapshot generation: canonical docs over ALL survivors so
      // far, redacted. A merged-cluster takeover simply drops the
      // de-throned doc from the new generation.
      val survU = committed(spark, s"$storeDir/state/surv", "batch", batchId)
        .fold(sb)(s => s.unionByName(sb))
      val canonical = newLabels
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
      val genDir = s"$storeDir/gen=$batchId"
      TextAnalysis.redactDf(survU.join(canonical, "doc_id"))
        .write.mode("overwrite").parquet(genDir)
      markDone(genDir)
      cached.foreach(_.unpersist())
    }
  }

  /** Start the funnel over a documents stream with an explicit trigger
    * (specs drive MemoryStream batches by hand with the default
    * trigger + processAllAvailable). */
  def start(stream: DataFrame, evalHashes: DataFrame, storeDir: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, Funnel) = {
    val funnel = new Funnel(evalHashes, storeDir)
    val w = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => funnel(b, id))
    (trigger.fold(w)(w.trigger).start(), funnel)
  }

  /** Run the funnel over a documents stream until it drains
    * (AvailableNow); returns the funnel for its counters. The curated
    * snapshot is the newest `gen=` dir under `storeDir`. */
  def drain(stream: DataFrame, evalHashes: DataFrame, storeDir: String,
      checkpoint: String): Funnel = {
    // the benchmark shingle set probes EVERY micro-batch: persist for
    // the run so its (possibly corpus-sized) derivation executes once,
    // not once per batch; released when the stream finishes
    evalHashes.persist()
    try {
      val (q, funnel) = start(stream, evalHashes, storeDir, checkpoint,
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      funnel
    } finally evalHashes.unpersist()
  }

  /** Newest snapshot generation (the curated store). */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    graft.operators.MergeUpsert.latestGen(spark, storeDir)
      .getOrElse(sys.error(s"no generations under $storeDir"))

  /** Maintenance: compact the append-only state stores. Batch dirs
    * STRICTLY BELOW `upTo` merge into one dir keyed by the newest
    * absorbed id (so a later batch's `< batchId` state read sees
    * identical content), then the absorbed dirs are removed.
    * Run it between triggers for batches the checkpoint has already
    * committed — `upTo` must not exceed the committed watermark, since
    * a REPLAY of a batch ≥ upTo reads state < batchId which the
    * compacted dir still serves byte-equivalently, while a replay
    * below upTo can no longer occur by definition of committed.
    * Keeps the per-batch standing-state read at O(live state) instead
    * of O(number of batches ever). */
  def compactState(spark: SparkSession, storeDir: String, upTo: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.operators.MergeUpsert.listIds
    Seq("sigs", "surv").foreach { store =>
      val root = s"$storeDir/state/$store"
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new Path(root))) {
        def renamed(a: Path, b: Path): Unit =
          require(fs.rename(a, b), s"compactState: rename $a -> $b failed")
        // SELF-HEALING swap protocol. Invariants that make every crash
        // window recoverable:
        //  - the merged dir carries a `_COMPACTED` marker (written into
        //    the hidden tmp BEFORE the swap), declaring "this dir
        //    subsumes every id below mine" independently of the tmp;
        //  - the target dir `batch=t` is deleted FIRST among the
        //    absorbed dirs, so `tmp exists && batch=t exists` proves no
        //    delete has happened yet (originals complete → drop tmp),
        //    while `batch=t` missing proves the tmp is the only
        //    complete copy (→ finish the rename).
        // Hidden/underscore names are invisible to partition discovery,
        // and the caller contract (between triggers, below the
        // committed watermark) means no concurrent reader mid-swap.
        // Heal 1: a marker dir subsumes everything below it — absorbed
        // dirs surviving an interrupted cleanup delete here, never
        // reaching a reader as duplicates.
        listIds(fs, root, "batch").sorted.reverse.foreach { m =>
          if (fs.exists(new Path(s"$root/batch=$m/_COMPACTED")))
            listIds(fs, root, "batch").filter(_ < m)
              .foreach(i => fs.delete(new Path(s"$root/batch=$i"), true))
        }
        // Heal 2: an orphaned tmp either drops (originals intact) or
        // completes its swap (originals partially gone).
        fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
          .collect { case n if n.startsWith(".compact-tmp-") =>
            n.stripPrefix(".compact-tmp-").toLong }
          .foreach { t =>
            if (fs.exists(new Path(s"$root/batch=$t")))
              fs.delete(new Path(s"$root/.compact-tmp-$t"), true)
            else {
              require(fs.exists(new Path(s"$root/.compact-tmp-$t/_COMPACTED")),
                s"compactState: $root/batch=$t missing and tmp incomplete — " +
                  "state needs manual recovery")
              renamed(new Path(s"$root/.compact-tmp-$t"), new Path(s"$root/batch=$t"))
              listIds(fs, root, "batch").filter(_ < t)
                .foreach(i => fs.delete(new Path(s"$root/batch=$i"), true))
            }
          }
        val ids = listIds(fs, root, "batch").filter(_ < upTo)
        if (ids.size > 1) {
          val t = ids.max
          val merged = spark.read.option("basePath", root).parquet(root)
            .filter(org.apache.spark.sql.functions.col("batch") < upTo)
            .drop("batch")
          merged.write.mode("overwrite").parquet(s"$root/.compact-tmp-$t")
          fs.create(new Path(s"$root/.compact-tmp-$t/_COMPACTED"), true).close()
          fs.delete(new Path(s"$root/batch=$t"), true) // target FIRST — see invariant
          ids.filter(_ != t).foreach(i => fs.delete(new Path(s"$root/batch=$i"), true))
          renamed(new Path(s"$root/.compact-tmp-$t"), new Path(s"$root/batch=$t"))
        }
      }
    }
    // label generations: only the newest one below upTo is ever read
    val lroot = s"$storeDir/state/labels"
    val lfs = new org.apache.hadoop.fs.Path(lroot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.MergeUpsert.listIds(lfs, lroot, "gen")
      .filter(_ < upTo).sorted.dropRight(1)
      .foreach(g => lfs.delete(new org.apache.hadoop.fs.Path(s"$lroot/gen=$g"), true))
  }

  /** CLI entry: `graft.streaming.CurateStream <workDir> [n] [rowsPerBatch]`
    * — drain the SynthDocs corpus through the streaming funnel and
    * print the funnel counts plus the final curated-store size.
    * Re-running with the same workDir resumes from the checkpoint (and
    * does nothing if already drained). */
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("./data/curate-stream")
    val n = args.lift(1).getOrElse("5000").toLong
    val rpb = args.lift(2).getOrElse("1000").toLong
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import org.apache.spark.sql.functions._
      def src(read: Boolean) = {
        val opts = Map("n" -> n.toString, "seed" -> "7", "numPartitions" -> "32",
          "rowsPerBatch" -> rpb.toString)
        if (read) spark.read.format("graft.sources.SynthDocs").options(opts).load()
        else spark.readStream.format("graft.sources.SynthDocs").options(opts).load()
      }
      // benchmark shingles compiled offline from the (deterministic) corpus
      val corpus = src(read = true)
      val keep = graft.TextAnalysis.corpusFilterDf(corpus)
        .filter(col("verdict") === "keep").select("doc_id")
      val evalHashes = corpus.join(keep, "doc_id")
        .filter(col("doc_id") % Dedup.EvalMod === 0)
        .select(explode(TextOps.shingleHashSet(col("text"), 4)).as("h"))
        .distinct()
      val funnel = drain(src(read = false), evalHashes,
        s"$work/store", s"$work/ckpt")
      val kept = snapshot(spark, s"$work/store").count()
      println(s"[curate-stream] seen=${funnel.seen} quality=${funnel.qualityKept} " +
        s"decontaminated=${funnel.deconKept} curated_store=$kept (dir=$work/store)")
    } finally spark.stop()
  }
}
