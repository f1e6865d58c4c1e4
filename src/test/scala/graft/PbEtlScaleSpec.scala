package graft

import graft.pipeline._
import java.nio.file.Files
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pb-etl DAG on a 20k-row deterministic synthetic dataset — the
  * fixture e2e (PbEtlPipelineSpec) proves semantics on the reference's
  * 3 rows; this proves the same plan shapes survive four orders of
  * magnitude more data: distributed CSV scans, a real MLlib fit over
  * one-hot features, in-row scoring, and rate-sane backtest output. */
class PbEtlScaleSpec extends SparkSpec {
  private val nTrain = 20000L
  private val nTest = 5000L

  /** Deterministic attr-table generator (no RNG: column arithmetic). */
  private def genAttr(n: Long, keyBase: Long, withTarget: Boolean) = {
    val id = col("id")
    var df = spark.range(n).select(
      (id + keyBase).as("TRANSACTION_ID"),
      concat(lit("TLD"), id % 5).as("TLD"),
      (id % 9).as("REN"),
      concat(lit("ACC "), id % 20).as("REGISTRAR_NAME"),
      concat(lit("GL"), id % 4).as("GL_CODE_NAME"),
      concat(lit("CNTR "), id % 30).as("COUNTRY"),
      (lit(3) + id % 20).as("DOMAIN_LENGTH"),
      concat(lit("/AR:"), id % 3, lit("/TR:"), id % 2).as("HISTORY"),
      (id % 3).as("TRANSFERS"),
      concat(lit("TL"), id % 10).as("TERM_LENGTH"),
      (id % 2).as("RES30"),
      (id % 4).as("RESTORES"),
      when(id % 2 === 0, "Y").otherwise("N").as("REREG"),
      concat(lit("Q"), id % 4 + 1).as("QTILE"),
      when(id % 3 === 0, "A").when(id % 3 === 1, "B").otherwise("C").as("HD"),
      ((id * 2654435761L % 1000L) / 1000.0).as("NS_V0"),
      ((id * 40503L % 1000L) / 1000.0).as("NS_V1"),
      ((id * 69069L % 1000L) / 1000.0).as("NS_V2"))
    if (withTarget) df = df.withColumn("TARGET", (col("REN") + col("DOMAIN_LENGTH")) % 2)
    df
  }

  private def genTs(n: Long, keyBase: Long) =
    spark.range(n).select((col("id") + keyBase).as("TRANSACTION_ID"),
      ((col("id") % 100L) / 1e5).as("TRAFFIC_SCORE"))

  private def writeCsv(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.option("header", "true").mode("overwrite").csv(dir)

  private lazy val ctx = {
    val tmp = Files.createTempDirectory("pbetl_scale").toString
    writeCsv(genAttr(nTrain, 1000000L, withTarget = true), s"$tmp/train/attr")
    writeCsv(genTs(nTrain, 1000000L), s"$tmp/train/tscore")
    writeCsv(genAttr(nTest, 9000000L, withTarget = false), s"$tmp/test/attr")
    writeCsv(genTs(nTest, 9000000L), s"$tmp/test/tscore")
    writeCsv(genAttr(nTest, 9000000L, withTarget = true)
      .select(col("TRANSACTION_ID"), col("TARGET")), s"$tmp/results")
    val c = Ctx(spark, PbConf(tmp, s"$tmp/work", epochs = 5, hidden = Seq(16, 8), seed = 7L))
    PbEtl.runAll(c)
    c
  }

  test("joins hold at 20k/5k rows with no key loss") {
    assert(PbEtl.LoadData.read(ctx).count() == nTrain)
    val lt = PbEtl.LoadTest.read(ctx)
    assert(lt.count() == nTest)
    assert(lt.filter(col("TRAFFIC_SCORE").isNull).count() == 0)
  }

  test("denominators match the generators' closed-form maxima") {
    val m = PbEtl.NormDenominators.maxMap(ctx)
    assert(m("REN") == 8.0 && m("DOMAIN_LENGTH") == 22.0 &&
      m("TRANSFERS") == 2.0 && m("RESTORES") == 3.0 &&
      m("TRAFFIC_SCORE") == 99.0 / 1e5)
  }

  test("model scores every forecast row with a valid probability") {
    val p = PbEtl.Predict.read(ctx)
    assert(p.count() == nTest)
    val r = p.agg(min("Y_hat"), max("Y_hat")).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
  }

  /** Predict's input rebuilt from the committed dirs: the normalized
    * forecast set with the `<cat>_str` columns the feature stages read. */
  private def forecastFeatures: DataFrame = {
    val df = PbEtl.theNorm(PbEtl.LoadTest.read(ctx), PbEtl.NormDenominators.maxMap(ctx))
    Schemas.catCol.foldLeft(df)((d, c) => d.withColumn(s"${c}_str", col(c).cast("string")))
      .na.fill(0.0, Schemas.numCol)
  }

  private def yHat(df: DataFrame): Map[Long, Double] =
    df.select("TRANSACTION_ID", "Y_hat").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("the model handed off in the cold walk scores exactly as the committed model reloaded") {
    val cold = yHat(PbEtl.Predict.read(ctx))
    val reloaded = PipelineModel.load(s"${PbEtl.FitModel.readableDir(ctx)}/model")
      .transform(forecastFeatures)
      .select(col("TRANSACTION_ID"), vector_to_array(col("probability")).getItem(1).as("Y_hat"))
    assert(cold.size == nTest)
    assert(yHat(reloaded) == cold)
    // a later walk with FitModel complete and Predict gone has no handoff:
    // it loads the model from disk and must write the same Y_hat
    val dir = PbEtl.Predict.outputDir(ctx).get
    assert(ctx.fs(dir).delete(new org.apache.hadoop.fs.Path(dir), true))
    assert(PbEtl.runAll(ctx) == Seq("Predict", "FinalResults"))
    assert(yHat(PbEtl.Predict.read(ctx)) == cold)
  }

  test("history.json records a two-class holdout: val_n > 0, val_auc in [0,1]") {
    val hist = Files.readString(
      java.nio.file.Paths.get(PbEtl.FitModel.readableDir(ctx)).resolve("history.json"))
    val valN = "\"val_n\":(\\d+)".r.findFirstMatchIn(hist).map(_.group(1).toLong)
    val valAuc = "\"val_auc\":([^,}]+)".r.findFirstMatchIn(hist).map(_.group(1))
    assert(valN.exists(_ > 0), hist)
    assert(valAuc.flatMap(_.toDoubleOption).exists(a => a >= 0.0 && a <= 1.0), hist)
  }

  test("FinalResults reports count/avg of the committed backtest") {
    val r = PbEtl.BackTest.read(ctx)
      .agg(count(lit(1)), avg(col("TARGET").cast("double")), avg(col("Y_hat"))).head()
    PbEtl.FinalResults.run(ctx)
    val Some((n, actual, expected)) = PbEtl.FinalResults.last
    assert(n == r.getLong(0) && actual == r.getDouble(1))
    // this backtest is written by 4 tasks: their partial Y_hat sums merge
    // in completion order at commit and in file order on a re-scan, so
    // the two means may differ in the last bits (the 4 partials of one
    // run give 2350.432692584019 or ...0196 over the 24 merge orders)
    assert(math.abs(expected - r.getDouble(2)) <= 8 * math.ulp(r.getDouble(2)), (expected, r))
  }

  test("backtest rates are sane: actual == generator rate, forecast in (0,1)") {
    PbEtl.FinalResults.run(ctx)
    val Some((n, actual, expected)) = PbEtl.FinalResults.last
    assert(n == nTest)
    // generator: TARGET = (REN + DOMAIN_LENGTH) % 2 ≈ half the rows
    assert(actual > 0.4 && actual < 0.6)
    assert(expected > 0.0 && expected < 1.0)
  }
}
