package graft

import graft.pipeline._
import java.nio.file.Files
import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline test on the reference's own 3-row fixtures
  * (ported verbatim from /root/reference/test_pset.py:26-119 per
  * FIXTURES.md §A), asserting VALUES at each stage — stronger than the
  * reference's existence-only checks (SURVEY.md §5).
  */
class PbEtlPipelineSpec extends SparkSpec {

  private def writeCsv(dir: java.nio.file.Path, sub: String, header: String,
      rows: Seq[String]): Unit = {
    val d = dir.resolve(sub)
    Files.createDirectories(d)
    Files.writeString(d.resolve(s"${sub.replace('/', '_')}_0.csv"),
      (header +: rows).mkString("\n"))
  }

  /** fake_data() fixtures, test_pset.py:31-119. */
  private def writeFixtures(root: java.nio.file.Path): Unit = {
    val attrHeader = "TRANSACTION_ID,TLD,REN,REGISTRAR_NAME,GL_CODE_NAME,COUNTRY,DOMAIN_LENGTH,HISTORY,TRANSFERS,TERM_LENGTH,RES30,RESTORES,REREG,QTILE,HD,NS_V0,NS_V1,NS_V2"
    writeCsv(root, "train/attr", attrHeader + ",TARGET", Seq(
      "109785,TLD1,8,ACC 012,GL2,CNTR 04,11,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0",
      "109784,TLD1,8,ACC 012,GL2,CNTR 04,17,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0",
      "109783,TLD1,8,ACC 012,GL2,CNTR 04,14,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386,0"))
    writeCsv(root, "train/tscore", "TRANSACTION_ID,TRAFFIC_SCORE", Seq(
      "109785,0.0000417455279238821",
      "109784,0.0000449483234402741",
      "109783,0.0000718081312936524"))
    writeCsv(root, "test/attr", attrHeader, Seq(
      "275452,TLD1,0,ACC 012,GL2,CNTR 04,11,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386",
      "275451,TLD1,2,ACC 012,GL2,CNTR 04,17,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386",
      "275450,TLD1,0,ACC 012,GL2,CNTR 04,14,/AR:1/AR:1/TR:1,2,TL01,0,0,Y,Q2,A,0.590681846,0.791507201,0.693827386"))
    writeCsv(root, "test/tscore", "TRANSACTION_ID,TRAFFIC_SCORE", Seq(
      "275452,0.0000417455279238821",
      "275451,0.0000449483234402741",
      "275450,0.0000718081312936524"))
    writeCsv(root, "results", "TRANSACTION_ID,TARGET", Seq(
      "275452,0", "275451,0", "275450,0"))
  }

  private lazy val (ctx, executed) = {
    val tmp = Files.createTempDirectory("pbetl")
    writeFixtures(tmp)
    val conf = PbConf(
      dataRoot = tmp.toString,
      workRoot = tmp.resolve("work").toString,
      epochs = 5,
      hidden = Seq(8, 4), // tiny widths for a 3-row fixture; prod default is the reference's 1024..32
      seed = 42L)
    val c = Ctx(spark, conf)
    val ex = PbEtl.runAll(c)
    (c, ex)
  }

  private val allStages = Seq("LoadData", "NormDenominators", "FitModel",
    "LoadTest", "Predict", "BackTest", "FinalResults")

  test("full DAG executes every stage once, in dependency order") {
    assert(executed == allStages)
  }

  test("LoadData: 3 rows, 20 cols, traffic score joined with no nulls (tasks.py:181)") {
    val df = PbEtl.LoadData.read(ctx)
    assert(df.count() == 3)
    assert(df.columns.length == 20)
    assert(df.filter(df("TRAFFIC_SCORE").isNull).count() == 0)
  }

  test("NormDenominators matches the fixture maxima (FIXTURES.md §A)") {
    val m = PbEtl.NormDenominators.maxMap(ctx)
    assert(m == Map(
      "REN" -> 8.0, "DOMAIN_LENGTH" -> 17.0, "TRANSFERS" -> 2.0,
      "RESTORES" -> 0.0, "TRAFFIC_SCORE" -> 7.18081312936524e-05))
  }

  test("theNorm scales to [0,1] and keeps zero-max columns unscaled") {
    val df = PbEtl.theNorm(PbEtl.LoadData.read(ctx), PbEtl.NormDenominators.maxMap(ctx))
    val r = df.agg(max("REN"), max("DOMAIN_LENGTH"), max("RESTORES"), max("TRAFFIC_SCORE")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 0.0) // max was 0: column passes through, not NaN
    assert(r.getDouble(3) == 1.0)
  }

  test("FitModel history.json records per-iteration loss + validation stats (M7/K4)") {
    val dir = PbEtl.FitModel.outputDir(ctx).get
    val hist = Files.readString(java.nio.file.Paths.get(dir).resolve("history.json"))
    // per-iteration objective history is present and numeric
    val loss = hist.split("\"loss\":\\[")(1).split("]")(0)
    assert(loss.nonEmpty, s"empty loss history in $hist")
    assert(loss.split(",").forall(s => s.toDouble.isFinite))
    // holdout accounting is recorded; every fixture row is TARGET 0, so
    // the holdout has one class at most and its AUC is null
    assert(hist.contains("\"val_n\":"))
    assert(hist.endsWith("\"val_auc\":null}"), hist)
  }

  test("Predict: one probability per forecast row, in [0,1]") {
    val df = PbEtl.Predict.read(ctx)
    assert(df.columns.toSeq == Seq("TRANSACTION_ID", "Y_hat"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(275450L, 275451L, 275452L))
  }

  test("BackTest joins actuals to predictions (3 rows, no lost keys)") {
    val df = PbEtl.BackTest.read(ctx)
    assert(df.count() == 3)
    assert(df.filter(df("Y_hat").isNull).count() == 0)
  }

  test("FinalResults: actual deletion rate 0.0, forecast in [0,1] (tasks.py:436-444)") {
    val Some((n, actual, expected)) = PbEtl.FinalResults.last
    assert(n == 3)
    assert(actual == 0.0)
    assert(expected >= 0.0 && expected <= 1.0)
  }

  test("memoized stages are skipped on re-run; FinalResults always re-runs (O2/O5)") {
    val (again, jobs) = jobsOf(PbEtl.runAll(ctx))
    assert(again == Seq("FinalResults"))
    assert(jobs == 0, s"a memo-warm walk started $jobs Spark jobs")
  }

  /** `(count, avg(TARGET), avg(Y_hat))` over the committed backtest, the
    * doubles as raw bits. */
  private def rescanned(c: Ctx): (Long, Long, Long) = {
    val r = PbEtl.BackTest.read(c)
      .agg(count(lit(1)), avg(col("TARGET").cast("double")), avg(col("Y_hat"))).head()
    (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))
  }

  private def reported(c: Ctx): (Long, Long, Long) = {
    PbEtl.FinalResults.last = None
    PbEtl.FinalResults.run(c)
    val Some((n, actual, expected)) = PbEtl.FinalResults.last
    (n, java.lang.Double.doubleToLongBits(actual), java.lang.Double.doubleToLongBits(expected))
  }

  test("FinalResults reports count/avg of the committed backtest, bit for bit") {
    assert(reported(ctx) == rescanned(ctx))
  }

  /** A cold walk up to BackTest over the fixture with two planted
    * actuals: a key no forecast row has (null Y_hat) and a null TARGET. */
  private lazy val planted = {
    val tmp = Files.createTempDirectory("pbetl-nulls")
    writeFixtures(tmp)
    writeCsv(tmp, "results", "TRANSACTION_ID,TARGET", Seq(
      "275452,0", "275451,1", "275450,", "999999,1"))
    val c = Ctx(spark, ctx.conf.copy(dataRoot = tmp.toString, workRoot = tmp.resolve("work").toString))
    assert(Runner.run(c, PbEtl.BackTest) == allStages.init)
    c
  }

  test("the cold walk's FinalResults starts no Spark job") {
    val c = planted // the cold walk itself runs outside the count
    val (_, jobs) = jobsOf(PbEtl.FinalResults.run(c))
    assert(jobs == 0, s"FinalResults on a just-committed backtest started $jobs Spark jobs")
  }

  test("FinalResults excludes null TARGET and null Y_hat rows as avg does") {
    val bt = PbEtl.BackTest.read(planted)
    assert(bt.count() == 4)
    assert(bt.filter(col("Y_hat").isNull).count() == 1 && bt.filter(col("TARGET").isNull).count() == 1)
    val (n, actual, expected) = reported(planted)
    assert((n, actual, expected) == rescanned(planted))
    assert(n == 4 && java.lang.Double.longBitsToDouble(actual) == 2.0 / 3)
    // the mean of the 3 forecasts, not their sum over 4 rows
    val yHat = PbEtl.Predict.read(planted).collect().map(_.getDouble(1))
    assert(math.abs(java.lang.Double.longBitsToDouble(expected) - yHat.sum / 3) < 1e-12)
  }

  test("FinalResults fails on missing, unparsable or empty totals, naming them; no rescan") {
    val dir = PbEtl.BackTest.readableDir(ctx)
    val totals = new org.apache.hadoop.fs.Path(dir, PbEtl.BackTest.Totals)
    val kept = Stage.readText(ctx, dir, PbEtl.BackTest.Totals)
    def failure(): String = {
      val (e, jobs) = jobsOf(intercept[IllegalStateException](PbEtl.FinalResults.run(ctx)))
      assert(jobs == 0, s"a failing FinalResults started $jobs Spark jobs")
      e.getMessage
    }
    // through the Hadoop FS, so the local checksum file follows each write
    def plant(text: String): Unit = Stage.writeText(ctx, dir, PbEtl.BackTest.Totals, text)
    try {
      assert(ctx.fs(dir).delete(totals, false))
      assert(failure().contains(totals.toString))
      plant("{\"n\":3,")
      assert(failure().contains(totals.toString))
      plant("""{"n":3,"target_n":0,"target_sum":null,"y_hat_n":3,"y_hat_sum":1.5}""")
      val m = failure()
      assert(m.contains(s"stage BackTest output at $dir") && m.contains("TARGET"), m)
    } finally plant(kept)
    assert(reported(ctx) == rescanned(ctx))
  }

  test("read refuses an incomplete target: deleted _SUCCESS blocks the read (S4)") {
    val dir = PbEtl.LoadData.outputDir(ctx).get
    val flag = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    val fs = ctx.fs(dir)
    assert(fs.delete(flag, false))
    try {
      val e = intercept[IllegalArgumentException](PbEtl.LoadData.read(ctx))
      assert(e.getMessage.contains("_SUCCESS"))
    } finally fs.create(flag, true).close()
    assert(PbEtl.LoadData.read(ctx).count() == 3) // restored flag reads again
  }

  test("FitModel.load and maxMap pass the S4 gate: a deleted _SUCCESS blocks them") {
    for ((stage, load) <- Seq[(Stage, () => Any)](
        PbEtl.FitModel -> (() => PbEtl.FitModel.load(ctx)),
        PbEtl.NormDenominators -> (() => PbEtl.NormDenominators.maxMap(ctx)))) {
      val flag = new org.apache.hadoop.fs.Path(stage.outputDir(ctx).get, "_SUCCESS")
      val fs = ctx.fs(flag.toString)
      assert(fs.delete(flag, false))
      try {
        val e = intercept[IllegalArgumentException](load())
        assert(e.getMessage.contains(s"stage ${stage.name} ") && e.getMessage.contains("_SUCCESS"))
      } finally fs.create(flag, true).close()
      load() // restored flag reads again
    }
  }

  test("a failed model save fails FitModel, leaves no flag, and the next walk commits") {
    val c = Ctx(spark, ctx.conf.copy(workRoot = Files.createTempDirectory("pbetl-save").toString))
    val dir = java.nio.file.Paths.get(PbEtl.FitModel.outputDir(c).get)
    // a dangling link where the model dir goes: the save cannot create
    // it, while history.json, written beside it, still can
    Files.createDirectories(dir)
    val link = Files.createSymbolicLink(dir.resolve("model"), dir.resolve("absent"))
    val e = intercept[Exception](PbEtl.runAll(c))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(link.toString)), e)
    assert(Files.exists(dir.resolve("history.json")))
    assert(!PbEtl.FitModel.complete(c))
    Files.delete(link)
    assert(PbEtl.runAll(c) == Seq("FitModel", "LoadTest", "Predict", "BackTest", "FinalResults"))
    assert(PbEtl.FitModel.load(c).stages.length == 4)
  }

  test("memo flags are the Runner's own: a committer writing no _SUCCESS still memoizes") {
    PbEtl.runAll(ctx)
    val report = PbEtl.FinalResults.last
    assert(report.isDefined)
    val cold = Ctx(spark, ctx.conf.copy(workRoot = Files.createTempDirectory("pbetl-noflag").toString))
    withoutCommitterFlag {
      PbEtl.FinalResults.last = None
      assert(PbEtl.runAll(cold) == allStages)
      assert(PbEtl.FinalResults.last == report)
      PbEtl.FinalResults.last = None
      assert(PbEtl.runAll(cold) == Seq("FinalResults"))
      assert(PbEtl.FinalResults.last == report)
    }
  }

  test("K5: optional JDBC sink appends the result row (embedded Derby)") {
    val url = s"jdbc:derby:${ctx.conf.workRoot}/resultsdb;create=true"
    // FinalResults always re-runs; everything upstream is memo-skipped
    val again = PbEtl.runAll(Ctx(spark, ctx.conf.copy(jdbcUrl = Some(url))))
    assert(again == Seq("FinalResults"))
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "final_results").load()
    assert(back.columns.map(_.toLowerCase).sorted.toSeq == Seq("actual", "expected", "n"))
    val row = back.collect()
    assert(row.length == 1)
  }

  /** The normalized fixture with the `<cat>_str` columns the feature
    * stages read (what FitModel hands them). */
  private def featureInput: DataFrame = {
    val data = PbEtl.theNorm(PbEtl.LoadData.read(ctx), PbEtl.NormDenominators.maxMap(ctx))
    Schemas.catCol.foldLeft(data)((d, c) =>
      d.withColumn(s"${c}_str", d(c).cast("string"))).na.fill(0.0, Schemas.numCol)
  }

  test("feature prep: the multi-column indexer equals one indexer per categorical") {
    // the fixture repeats one value per categorical: vary it per row and
    // null one row per column, then score the fit rows plus a copy whose
    // categoricals are all unseen labels (the "keep" bucket)
    val id = col("TRANSACTION_ID")
    val fit = Schemas.catCol.zipWithIndex.foldLeft(featureInput) { case (d, (c, i)) =>
      d.withColumn(s"${c}_str", when(id % 3 === i % 3, lit(null).cast("string"))
        .otherwise(concat(col(s"${c}_str"), (id % 2).cast("string"))))
    }
    val score = fit.withColumn("probe", lit(0)).unionByName(
      Schemas.catCol.foldLeft(fit)((d, c) => d.withColumn(s"${c}_str", lit("unseen")))
        .withColumn("probe", lit(1)))
    val stages = PbEtl.featureStages()
    val reference = Schemas.catCol.map { c =>
      new StringIndexer().setInputCol(s"${c}_str").setOutputCol(s"${c}_idx")
        .setHandleInvalid("keep").setStringOrderType("alphabetAsc")
    } ++ stages.drop(1)
    def features(ps: Seq[PipelineStage]): (Int, Seq[(Long, Int, Vector)]) = {
      val out = new Pipeline().setStages(ps.toArray).fit(fit).transform(score)
      val rows = out.select(id, col("probe"), col("features")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Vector](2))).sortBy(r => (r._1, r._2))
      (AttributeGroup.fromStructField(out.schema("features")).size, rows.toSeq)
    }
    val (size, rows) = features(stages.toSeq)
    assert(stages.length == 3)
    assert((size, rows) == features(reference))
    assert(size > Schemas.numCol.length && rows.length == 6)
    // the persisted model: indexer, encoder, assembler, classifier
    val fitted = PbEtl.FitModel.load(ctx).stages
    assert(fitted.map(_.getClass.getSimpleName).toSeq == Seq("StringIndexerModel",
      "OneHotEncoderModel", "VectorAssembler", "MultilayerPerceptronClassificationModel"))
  }

  test("salt: deterministic, version-sensitive, lineage-sensitive (O3)") {
    val conf = ctx.conf
    val s1 = PbEtl.FitModel.salt(conf)
    assert(s1 == PbEtl.FitModel.salt(conf))
    assert(s1.matches("[0-9a-f]{6}"))
    // changing a significant param relocates the output
    assert(PbEtl.FitModel.salt(conf.copy(epochs = conf.epochs + 1)) != s1)
    // downstream salt shifts with upstream param change (lineage)
    val p1 = PbEtl.Predict.salt(conf)
    assert(PbEtl.Predict.salt(conf.copy(epochs = conf.epochs + 1)) != p1)
    // but a param that no stage declares significant does not
    assert(PbEtl.Predict.salt(conf.copy(dataRoot = "/elsewhere")) == p1)
  }
}
