package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{CurateDag, Ctx, PbConf}

/** End-to-end curation DAG on sf0.001: the funnel materializes through
  * salted stages, memoizes on re-run, and each stage's output matches
  * the operator-level truth it composes. */
class CurateDagSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private val allStages = Seq("QualityGate", "Decontaminate", "DedupCanonical",
    "Redact", "Mixture", "Pack", "ChunkManifest", "CurationReport")

  /** One cold run under the default session conf: its ctx, the stages
    * it executed and the funnel it reported. */
  private lazy val (ctx, first, firstReport) = {
    val work = Files.createTempDirectory("curate").toString
    val c = Ctx(spark, PbConf(dataRoot = d, workRoot = work))
    val ex = CurateDag.run(c)
    (c, ex, CurateDag.CurationReport.last)
  }

  test("curation DAG runs, memoizes, and the funnel matches the operators") {
    // the report's one-aggregation funnel equals each stage's own count
    def stageCounts = CurateDag.funnelStages.map { case (k, s) => k -> s.read(ctx).count() }

    assert(first == allStages, first.toString)
    val counts = stageCounts
    assert(firstReport.contains(counts), firstReport.toString)
    // memoization: everything but the always-rerun report skips, and the
    // report reads its counts from the stage outputs' footers
    CurateDag.CurationReport.last = None
    val (warm, warmJobs) = jobsOf(CurateDag.run(ctx))
    assert(warm == Seq("CurationReport"))
    assert(warmJobs == 0, s"a memo-warm rerun started $warmJobs Spark jobs")
    assert(CurateDag.CurationReport.last.contains(counts), CurateDag.CurationReport.last.toString)

    // the report's counts keep the S4 read gate: an incomplete stage
    // output fails the report, naming the stage
    val mixDir = CurateDag.Mixture.outputDir(ctx).get
    val flag = new org.apache.hadoop.fs.Path(mixDir, "_SUCCESS")
    val fs = ctx.fs(mixDir)
    assert(fs.delete(flag, false))
    try {
      val e = intercept[IllegalArgumentException](CurateDag.CurationReport.run(ctx))
      assert(e.getMessage.contains("stage Mixture "), e.getMessage)
    } finally fs.create(flag, true).close()

    val raw = CurateDag.RawDocs.read(ctx).count()
    val quality = CurateDag.QualityGate.read(ctx)
    val decon = CurateDag.Decontaminate.read(ctx)
    val canon = CurateDag.DedupCanonical.read(ctx)
    val mix = CurateDag.Mixture.read(ctx)
    val pack = CurateDag.Pack.read(ctx)

    // stage 1 equals the q57 keep-set exactly
    val keepExpected = TextAnalysis.corpusFilter(spark, d)
      .filter(col("verdict") === "keep").count()
    assert(quality.count() == keepExpected && keepExpected > 0)

    // monotone funnel, nothing re-enters
    assert(quality.count() >= decon.count() && decon.count() >= canon.count())
    // eval docs never reach the corpus side
    assert(decon.filter(col("doc_id") % 97 === 0).count() == 0)

    // canonical docs are minima of their own near-dup clusters: no two
    // canonical docs may still band-collide at Jaccard >= 0.5
    val residualPairs = Dedup.minhashNearDupDf(canon).count()
    assert(residualPairs == 0, s"$residualPairs residual near-dup pairs")

    // the packed manifest covers exactly the mixture rows, offsets in budget
    assert(pack.count() == mix.count())
    assert(pack.filter(col("off_in_win") >= Curation.WindowBudget).count() == 0)

    // redaction preserves rows and schema (word-salad corpus: no PII
    // patterns, so text is unchanged too — masking is a no-op here)
    val redact = CurateDag.Redact.read(ctx)
    assert(redact.count() == canon.count())
    assert(redact.columns.toSeq == canon.columns.toSeq)

    // the RAG chunk manifest matches the operator recompute over the
    // same redacted input, and covers every canonical document
    val chunks = CurateDag.ChunkManifest.read(ctx)
    val expected = Curation.chunkTokensDf(redact)
    assert(chunks.except(expected).isEmpty && expected.except(chunks).isEmpty)
    assert(chunks.select("doc_id").distinct().count() == canon.count())
  }

  test("memo flags are the Runner's own: a committer writing no _SUCCESS still memoizes") {
    val cold = Ctx(spark, ctx.conf.copy(workRoot = Files.createTempDirectory("curate-noflag").toString))
    val report = firstReport
    assert(report.isDefined)
    withoutCommitterFlag {
      CurateDag.CurationReport.last = None
      assert(CurateDag.run(cold) == allStages)
      assert(CurateDag.CurationReport.last == report)
      CurateDag.CurationReport.last = None
      assert(CurateDag.run(cold) == Seq("CurationReport"))
      assert(CurateDag.CurationReport.last == report)
    }
  }
}
