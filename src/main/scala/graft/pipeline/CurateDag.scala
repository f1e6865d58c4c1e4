package graft.pipeline

import org.apache.spark.sql.functions._
import graft.{Curation, Dedup, TextAnalysis}

/** The curation operators (q49-q57) composed as a salted-stage DAG —
  * the same orchestration semantics the reference pipeline runs on
  * (content-addressed outputs, `_SUCCESS`-gated memoization, lineage
  * salts relocating downstream outputs on any upstream change), applied
  * to the LLM-corpus surface:
  *
  *   RawDocs → QualityGate → Decontaminate → DedupCanonical → Redact → Mixture → Pack
  *                                                                 ↓              ↓
  *                                                          ChunkManifest → CurationReport (always-rerun)
  *
  * Each stage writes parquet once and every consumer reads the
  * materialized output — at 100 TB the intermediate IS the product
  * (reruns of a tweaked mixture must not re-shingle the corpus), which
  * is exactly what the salted memoization gives: bump
  * `Mixture.version` and only Mixture/Pack re-run.
  */
object CurateDag {
  import Stage.writeGz

  /** External input: the documents table under `dataRoot`. */
  object RawDocs extends Stage {
    override def outputDir(ctx: Ctx): Option[String] =
      Some(s"${ctx.conf.dataRoot}/documents.parquet")
    override def complete(ctx: Ctx): Boolean = {
      val d = outputDir(ctx).get
      ctx.fs(d).exists(new org.apache.hadoop.fs.Path(d))
    }
    override def run(ctx: Ctx): Unit =
      sys.error(s"external input missing: ${outputDir(ctx).get}")
  }

  /** Drop documents failing the q57 rule cascade. */
  object QualityGate extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(RawDocs)
    override def run(ctx: Ctx): Unit = {
      val docs = RawDocs.read(ctx)
      val verdicts = TextAnalysis.corpusFilterDf(docs)
        .filter(col("verdict") === "keep").select("doc_id")
      writeGz(docs.join(verdicts, "doc_id"), outputDir(ctx).get)
    }
  }

  /** Drop documents leaking the held-out benchmark (q55: any shared
    * 4-gram with the eval split, doc_id ≡ 0 mod 97). */
  object Decontaminate extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(QualityGate)
    override def run(ctx: Ctx): Unit = {
      val docs = QualityGate.read(ctx)
      val corpus = docs.filter(col("doc_id") % Dedup.EvalMod =!= 0)
      val flagged = Dedup.decontaminateDf(corpus,
          docs.filter(col("doc_id") % Dedup.EvalMod === 0))
        .select("doc_id")
      writeGz(corpus.join(flagged, Seq("doc_id"), "left_anti"), outputDir(ctx).get)
    }
  }

  /** Keep one canonical document per near-dup cluster (q23 pairs →
    * q49 components → min doc_id survives). */
  object DedupCanonical extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(Decontaminate)
    override def run(ctx: Ctx): Unit = {
      val docs = Decontaminate.read(ctx)
      val clusters = Dedup.nearDupClustersDf(docs, Dedup.minhashNearDupDf(docs))
      val canonical = clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id")
      writeGz(docs.join(canonical, "doc_id"), outputDir(ctx).get)
    }
  }

  /** Mask PII (q88's rewrite, minus the synthetic injection) before
    * anything leaves the curated set — schema preserved, no rows
    * dropped, so downstream counts are unchanged; only the text (and
    * therefore any content hash computed after this point) can move. */
  object Redact extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(DedupCanonical)
    override def run(ctx: Ctx): Unit =
      writeGz(TextAnalysis.redactDf(DedupCanonical.read(ctx)), outputDir(ctx).get)
  }

  /** Rebalance the language mixture: content-keyed downsample (q50)
    * then fractional-epoch upweighting (q54) of the survivors. */
  object Mixture extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(Redact)
    override def run(ctx: Ctx): Unit = {
      val docs = Redact.read(ctx)
      val kept = Curation.sampleCut(docs).select("doc_id")
      val copies = Curation.upsampleCopies(docs.join(kept, "doc_id"))
      writeGz(copies, outputDir(ctx).get)
    }
  }

  /** Pack the curated stream into fixed-token context windows (q51):
    * the training-batch manifest. */
  object Pack extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(Mixture, Redact)
    override def run(ctx: Ctx): Unit = {
      // re-attach text to the (doc_id, lang, copy_id) mixture manifest;
      // copies pack as distinct stream entries (doc_id, copy_id order)
      val docs = Redact.read(ctx).select(col("doc_id"), col("text"))
      // stream_id is collision-free while copy_id < 100, i.e. mixture
      // weights below 100 epochs — far above any sane configuration
      val mix = Mixture.read(ctx)
        .join(docs, "doc_id")
        .withColumn("stream_id", col("doc_id") * 100 + col("copy_id"))
        .select(col("stream_id").as("doc_id"), col("lang"), col("text"))
      writeGz(Curation.packAssign(mix), outputDir(ctx).get)
    }
  }

  /** Retrieval-side output: the RAG chunk manifest (q89) over the
    * redacted canonical corpus — a SIBLING of the training path
    * (Mixture/Pack), showing one curated input fanning into both
    * products without recomputing upstream stages. */
  object ChunkManifest extends Stage {
    override def version = "1.0.0"
    override def deps: Seq[Stage] = Seq(Redact)
    override def run(ctx: Ctx): Unit =
      writeGz(graft.Curation.chunkTokensDf(Redact.read(ctx)), outputDir(ctx).get)
  }

  /** The funnel in the order CurationReport prints it. */
  val funnelStages: Seq[(String, Stage)] = Seq(
    "raw" -> RawDocs,
    "quality" -> QualityGate,
    "decontaminated" -> Decontaminate,
    "canonical" -> DedupCanonical,
    "redacted" -> Redact,
    "mixture_rows" -> Mixture,
    "packed_rows" -> Pack,
    "rag_chunks" -> ChunkManifest)

  /** Always-rerun report: per-stage document counts — the curation
    * funnel a pipeline owner watches.
    *
    * The 8 counts come from `Tables.rowCounts`: each output's parquet
    * footers already store its exact row count, so a memo-warm rerun
    * reads 8 small dirs' footers on the driver and starts no Spark job.
    * It opens them with read options over the session's Hadoop conf, not
    * a fresh `Configuration` per file, which cost most of a warm rerun.
    * Every dir still passes the S4 read gate first. */
  object CurationReport extends Stage {
    override def deps: Seq[Stage] = Seq(Pack, ChunkManifest)
    override def outputDir(ctx: Ctx): Option[String] = None
    @volatile var last: Option[Seq[(String, Long)]] = None
    override def run(ctx: Ctx): Unit = {
      val counts = graft.Tables.rowCounts(ctx.spark, funnelStages.map(_._2.readableDir(ctx)))
      val funnel = funnelStages.map(_._1).zip(counts)
      last = Some(funnel)
      println(funnel.map { case (k, v) => s"$k=$v" }.mkString("curation funnel: ", ", ", ""))
    }
  }

  def run(ctx: Ctx): Seq[String] = Runner.run(ctx, CurationReport)

  /** CLI entry: `graft.pipeline.CurateDag <docsDir> <workRoot>` where
    * `<docsDir>` holds a `documents.parquet`. */
  def main(args: Array[String]): Unit = {
    val dataRoot = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workRoot = args.lift(1).getOrElse("./data/curate")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // capstone timing (r12): one wall-clock number for the whole DAG
      // plus the memo evidence — a second invocation on the same
      // workRoot must execute only the always-rerun CurationReport.
      val t0 = System.nanoTime()
      val executed = run(Ctx(spark, PbConf(dataRoot, workRoot)))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[curate] executed stages: ${executed.mkString(", ")}")
      println(f"[curate] wall=$dt%.1f s, executed=${executed.size}, " +
        s"memo_skipped=${executed.size == 1}")
    } finally spark.stop()
  }
}
