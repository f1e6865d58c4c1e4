package graft.pipeline

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The pb-etl dataflow re-expressed Spark-first (SURVEY.md §2, §7).
  *
  * Stage graph (reference requirements:
  * pb_etl/tasks.py:159-162,193-194,213-216,254-256,355-359,401-403,433-434):
  *
  * {{{
  * TrnAttr ─┐                                 TstAttr ─┐
  * TrnTscore┴→ LoadData ─→ NormDenominators   TstTscore┴→ LoadTest
  *               │             │      │                     │
  *               └──→ FitModel ←──────┘                     │
  *                        │    └──────────→ Predict ←───────┘
  *                        ·                    │      BacktestActuals
  *                        ·                    └─→ BackTest ←┘
  *                                                    │
  *                                               FinalResults
  * }}}
  *
  * Every intermediate is gzip parquet (`Stage.writeGz`) + the `_SUCCESS`
  * flag `Runner` writes in a salted dir, exactly the reference's storage
  * contract (pb_etl/tasks.py:183,203,232,392,425; target.py:15-19).
  */
object PbEtl {
  import Schemas._
  import Stage.writeGz

  private def csv(ctx: Ctx, sub: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    ctx.spark.read.schema(schema).option("header", "true")
      .csv(s"${ctx.conf.dataRoot}/$sub")

  // --- external inputs (S1/S2; reference tasks.py:89-149) ---------------
  object TrnAttr extends CsvSource("train/attr")
  object TrnTscore extends CsvSource("train/tscore")
  object TstAttr extends CsvSource("test/attr")
  object TstTscore extends CsvSource("test/tscore")
  object BacktestActuals extends CsvSource("results")

  /** J1: train attributes ⋈ traffic score, left outer on the key
    * (pb_etl/tasks.py:152-183). tscore is 1:1 with attr (same key set,
    * pb_etl/tasks.py:43) — both sides are fact-sized, so the right plan
    * is the sort-merge join Catalyst picks, not a broadcast. */
  object LoadData extends Stage {
    override def deps: Seq[Stage] = Seq(TrnAttr, TrnTscore)
    def run(ctx: Ctx): Unit = {
      val attrDf = csv(ctx, "train/attr", attr)
      val tsDf = csv(ctx, "train/tscore", tscore)
      val joined = attrDf.join(tsDf, Seq("TRANSACTION_ID"), "left_outer")
      writeGz(joined, outputDir(ctx).get)
    }
  }

  /** J2: the same join for the forecast set (pb_etl/tasks.py:206-232). */
  object LoadTest extends Stage {
    override def deps: Seq[Stage] = Seq(TstAttr, TstTscore)
    def run(ctx: Ctx): Unit = {
      val attrDf = csv(ctx, "test/attr", attrTest)
      val tsDf = csv(ctx, "test/tscore", tscore)
      writeGz(attrDf.join(tsDf, Seq("TRANSACTION_ID"), "left_outer"),
        outputDir(ctx).get)
    }
  }

  /** A1/P1/P5: per-column max over the 5 normalized features, emitted as
    * a (feature, max_val) side table with one partition
    * (pb_etl/tasks.py:186-203). Partial/final agg then collect of 1 row. */
  object NormDenominators extends Stage {
    override def deps: Seq[Stage] = Seq(LoadData)
    def run(ctx: Ctx): Unit = {
      import ctx.spark.implicits._
      val row = LoadData.read(ctx)
        .select(attrNorm.map(c => max(col(c).cast("double")).as(c)): _*)
        .head()
      val pairs = attrNorm.zipWithIndex.map { case (c, i) =>
        (c, if (row.isNullAt(i)) Double.NaN else row.getDouble(i))
      }
      writeGz(pairs.toDF("feature", "max_val"), outputDir(ctx).get, coalesce1 = true)
    }

    def maxMap(ctx: Ctx): Map[String, Double] =
      read(ctx).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** P3 `the_norm` (pb_etl/tasks.py:235-244): divide each listed column
    * by its training-set max. Pure column arithmetic — stays in
    * whole-stage codegen; the 5 maxima travel as literals, the Spark
    * analog of broadcasting the reference's 5-row frame.
    *
    * Divergence (documented): when max == 0 the reference computes 0/0 =
    * NaN (pandas) which poisons training; we keep the column unscaled
    * instead — the intended semantics of "scale to [0,1]". */
  def theNorm(df: DataFrame, maxVal: Map[String, Double]): DataFrame =
    maxVal.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, m)) =>
      if (m == 0.0 || m.isNaN) d.withColumn(c, col(c).cast("double"))
      else d.withColumn(c, col(c).cast("double") / lit(m))
    }

  /** Feature-prep stages shared by fit and predict: one multi-column
    * StringIndexer over the categorical columns, one OneHotEncoder over
    * its outputs, then a VectorAssembler over the 8 numeric + 10 encoded
    * features. The single indexer fits every column in one `collect_set`
    * select, and the fitted PipelineModel persists 4 stages, not 13.
    *
    * Reference bug not reproduced: its `indicator_column` sits outside
    * the vocab loop so only `HD` is actually one-hot encoded
    * (pb_etl/tasks.py:278-286); we implement the intended semantics —
    * all 10 categoricals encoded (SURVEY.md §7.4.1). Unseen categories at
    * predict time map to the reserved "keep" bucket, matching TF's
    * all-zero indicator behavior closely enough for rate parity. */
  def featureStages(): Array[PipelineStage] = {
    val indexer = new StringIndexer()
      .setInputCols(catCol.map(c => s"${c}_str").toArray)
      .setOutputCols(catCol.map(c => s"${c}_idx").toArray)
      .setHandleInvalid("keep").setStringOrderType("alphabetAsc")
    val ohe = new OneHotEncoder()
      .setInputCols(catCol.map(c => s"${c}_idx").toArray)
      .setOutputCols(catCol.map(c => s"${c}_vec").toArray)
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols((numCol ++ catCol.map(c => s"${c}_vec")).toArray)
      .setOutputCol("features")
    Array(indexer, ohe, assembler)
  }

  /** RES30 is an int64-valued categorical (pb_etl/tasks.py:32,54) —
    * all categoricals go through a string cast for StringIndexer. */
  private def withCatStrings(df: DataFrame): DataFrame =
    catCol.foldLeft(df)((d, c) => d.withColumn(s"${c}_str", col(c).cast("string")))

  /** M1-M5 + M7: normalize, split 80/20, fit the MLP, capture training
    * history and a validation metric on the holdout
    * (pb_etl/tasks.py:247-345). MLlib's MLP has a 2-unit softmax head
    * (≡ 1-unit sigmoid for 2 classes) and no dropout — accepted
    * divergences (SURVEY.md §7.4.2); epochs → maxIter. */
  object FitModel extends Stage {
    override def deps: Seq[Stage] = Seq(LoadData, NormDenominators)
    override def params(conf: PbConf): Seq[(String, String)] = Seq(
      "epochs" -> conf.epochs.toString,
      "hidden" -> conf.hidden.mkString("-"),
      "seed" -> conf.seed.toString)

    def run(ctx: Ctx): Unit = {
      val conf = ctx.conf
      val maxes = NormDenominators.maxMap(ctx)
      val data = withCatStrings(theNorm(LoadData.read(ctx), maxes))
        .withColumn("TARGET", col("TARGET").cast("double"))
        .na.fill(0.0, numCol)
      val Array(train, valid) = data.randomSplit(Array(0.8, 0.2), conf.seed)
      // train is consumed by the feature fits and the classifier's
      // iterations — cache to avoid re-scanning the parquet per pass.
      // Every cache here is released when the stage's scope exits,
      // whether the fit succeeds or throws
      graft.CacheScope.cached(train)

      // feature stages fit EXACTLY ONCE; the classifier then trains on
      // the already-transformed frame, and the final PipelineModel is
      // stitched from the fitted stages (Pipeline.fit over transformers
      // only copies them — zero extra passes over the data)
      val prep = new Pipeline().setStages(featureStages()).fit(train)
      val trainF = graft.CacheScope.cached(
        prep.transform(train).select(col("features"), col("TARGET")))
      // layer-0 width from the assembled column's ML attribute metadata
      // (VectorAssembler always records it) — no extra action
      val d = org.apache.spark.ml.attribute.AttributeGroup
        .fromStructField(trainF.schema("features")).size match {
          case -1 => trainF.head().getAs[Vector]("features").size
          case n => n
        }
      val mlp = new MultilayerPerceptronClassifier()
        .setLabelCol("TARGET").setFeaturesCol("features")
        .setLayers((d +: conf.hidden :+ 2).toArray)
        .setMaxIter(conf.epochs).setSeed(conf.seed)
      val mlpModel = mlp.fit(trainF)
      // M7: per-iteration objective (the reference dumps Keras epoch
      // loss, pb_etl/tasks.py:334-342) ...
      val losses = scala.util.Try(mlpModel.summary.objectiveHistory.toSeq)
        .getOrElse(Seq.empty)
      // ... and a real validation metric on the 20% split the
      // reference computes-then-discards: AUC is undefined on a
      // single-class or empty holdout (the 3-row spec fixture), so null
      // is recorded there rather than a fake number
      // scored holdout feeds two actions (count/classes agg + AUC):
      // cache so feature transform + scoring run once, not twice
      val scoredVal = graft.CacheScope.cached(mlpModel.transform(prep.transform(valid)))
      val valAgg = scoredVal.agg(count(lit(1)), countDistinct(col("TARGET"))).head()
      val (valN, valClasses) = (valAgg.getLong(0), valAgg.getLong(1))
      val valAuc: Option[Double] =
        if (valClasses == 2) scala.util.Try {
          new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
            .setLabelCol("TARGET").setRawPredictionCol("rawPrediction")
            .setMetricName("areaUnderROC")
            .evaluate(scoredVal)
        }.toOption else None
      val model = new Pipeline()
        .setStages((prep.stages :+ mlpModel).map(_.asInstanceOf[PipelineStage]))
        .fit(train) // all stages are Transformers: copy-through, no refit

      val dir = outputDir(ctx).get
      model.write.overwrite().save(s"$dir/model")
      // K4: training-history JSON; salted dir makes re-runs clean
      // (the reference's makedirs crash, SURVEY.md §7.4.7, has no analog)
      val hist =
        s"""{"layers":[${(d +: conf.hidden :+ 2).mkString(",")}],""" +
          s""""maxIter":${conf.epochs},"seed":${conf.seed},""" +
          s""""loss":[${losses.mkString(",")}],""" +
          s""""val_n":$valN,"val_auc":${valAuc.map(_.toString).getOrElse("null")}}"""
      val out = ctx.fs(dir).create(new org.apache.hadoop.fs.Path(dir, "history.json"), true)
      out.write(hist.getBytes("UTF-8")); out.close()
    }

    def load(ctx: Ctx): PipelineModel =
      PipelineModel.load(s"${outputDir(ctx).get}/model")
  }

  /** M6/P4: score the forecast set; Y_hat = P(class=1)
    * (pb_etl/tasks.py:348-392). `model.transform` keeps predictions
    * in-row — no positional re-join (SURVEY.md §7.4.5). */
  object Predict extends Stage {
    override def deps: Seq[Stage] = Seq(FitModel, LoadTest, NormDenominators)
    def run(ctx: Ctx): Unit = {
      val maxes = NormDenominators.maxMap(ctx)
      val tst = withCatStrings(theNorm(LoadTest.read(ctx), maxes))
        .na.fill(0.0, numCol)
      val scored = FitModel.load(ctx).transform(tst)
      import org.apache.spark.ml.functions.vector_to_array
      val out = scored.select(col("TRANSACTION_ID"),
        vector_to_array(col("probability")).getItem(1).as("Y_hat"))
      writeGz(out, outputDir(ctx).get, coalesce1 = true)
    }
  }

  /** J3: actuals ⋈ predictions, left outer on the key
    * (pb_etl/tasks.py:395-425). The prediction side is one row per
    * forecast transaction — it grows with the data, so it joins
    * UNHINTED (a forced broadcast would OOM the driver on a large
    * forecast period; AQE broadcasts when genuinely small). */
  object BackTest extends Stage {
    override def deps: Seq[Stage] = Seq(Predict, BacktestActuals)
    def run(ctx: Ctx): Unit = {
      val actuals = csv(ctx, "results", results)
      val preds = Predict.read(ctx)
      writeGz(actuals.join(preds, Seq("TRANSACTION_ID"), "left_outer"),
        outputDir(ctx).get)
    }
  }

  /** A2/A3/K6/O5: the deletion-rate report — mean(TARGET) vs mean(Y_hat)
    * (pb_etl/tasks.py:428-444, etl.py:22-39). No memo dir: always
    * re-runs, like the reference's output()-less FinalResults. */
  object FinalResults extends Stage {
    override def deps: Seq[Stage] = Seq(BackTest)
    override def outputDir(ctx: Ctx): Option[String] = None
    @volatile var last: Option[(Long, Double, Double)] = None
    def run(ctx: Ctx): Unit = {
      val r = BackTest.read(ctx)
        .agg(count(lit(1)), avg(col("TARGET").cast("double")), avg(col("Y_hat")))
        .head()
      val (n, actual, expected) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      last = Some((n, actual, expected))
      // K5-equivalent result artifact: 1-row JSON (the Django ORM row's
      // (expected, actual) pair, pb_etl_app/management/commands/etl.py:33-39)
      val fs = ctx.fs(ctx.conf.workRoot)
      val p = new org.apache.hadoop.fs.Path(ctx.conf.workRoot, "final_results.json")
      val out = fs.create(p, true)
      out.write(s"""{"expected":$expected,"actual":$actual,"n":$n}""".getBytes("UTF-8"))
      out.close()
      // K5 proper: optional RDBMS sink — the 1-row report appended via
      // Spark's JDBC writer (the reference's ORM insert). coalesce(1):
      // one connection, one insert, no point fanning out a single row.
      ctx.conf.jdbcUrl.foreach { url =>
        import ctx.spark.implicits._
        Seq((n, actual, expected)).toDF("n", "actual", "expected")
          .coalesce(1)
          .write.mode(SaveMode.Append)
          .jdbc(url, ctx.conf.jdbcTable, new java.util.Properties())
      }
      println(f"[pb-etl] n=$n actual=$actual%.6f expected=$expected%.6f")
    }
  }

  /** Full pipeline — `luigi.build([FinalResults()])` equivalent. */
  def runAll(ctx: Ctx): Seq[String] = Runner.run(ctx, FinalResults)
}
