package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path

/** Pipeline configuration.
  *
  * @param dataRoot  base URI of the raw CSV inputs (the reference reads
  *                  `s3://…/` by default and redirects to a local dir via
  *                  an env var for tests — pb_etl/tasks.py:100-111; same
  *                  trick here, any Hadoop-FS URI works)
  * @param workRoot  base URI for salted intermediate/output dirs
  * @param epochs    max optimizer iterations (reference trains 2 epochs,
  *                  pb_etl/tasks.py:328)
  * @param hidden    hidden-layer widths of the MLP (reference
  *                  1024/512/256/128/64/32, pb_etl/tasks.py:300-319)
  * @param seed      split + init seed (reference uses sklearn's default
  *                  shuffled split, pb_etl/tasks.py:290)
  * @param jdbcUrl   optional K5 result sink: when set, FinalResults
  *                  appends its 1-row report to `jdbcTable` at this URL
  *                  (the reference persists via the Django ORM,
  *                  pb_etl_app/management/commands/etl.py:33-39)
  * @param jdbcTable target table name for the JDBC sink
  * @param onlyHd    strict-compat mode for the reference's one-hot bug:
  *                  its `indicator_column` sits outside the vocab loop so
  *                  only `HD` is actually encoded (pb_etl/tasks.py:278-286).
  *                  false (default) = intended semantics, all 10
  *                  categoricals encoded (SURVEY.md §7.4.1).
  */
final case class PbConf(
    dataRoot: String,
    workRoot: String,
    epochs: Int = 2,
    hidden: Seq[Int] = Seq(1024, 512, 256, 128, 64, 32),
    seed: Long = 42L,
    jdbcUrl: Option[String] = None,
    jdbcTable: String = "final_results",
    onlyHd: Boolean = false)

final case class Ctx(spark: SparkSession, conf: PbConf) {
  def fs(path: String): org.apache.hadoop.fs.FileSystem = Memo.fs(spark, path)
}

/** The one completion-flag protocol (O2, pb_etl/luigi/dask/target.py:
  * 15-19,92-114), shared by its two committers, pipeline stages
  * (`Runner`) and salted indexes (`graft.SaltedIndex.ensureBuilt`): a
  * unit of work is done when its dir carries a `_SUCCESS` flag, and
  * whoever commits the unit marks it itself. */
object Memo {
  private[graft] val Flag = "_SUCCESS"

  private[graft] def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def done(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, Flag))

  /** Flag `dir` complete; call only after its data is written. Nothing
    * trusts the `_SUCCESS` Spark's file committer writes: with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (common
    * on object-store committers) it never appears, and every committed
    * unit would read as torn. Idempotent (create overwrites). */
  def mark(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).create(new Path(dir, Flag), true).close()
}

/** A node of the pipeline DAG with salted-path memoization.
  *
  * Reproduces the reference's orchestration semantics (SURVEY.md §2.8):
  *  - O1 dependency declaration (`deps`, cf. pb_etl/luigi/task.py:7-43)
  *  - O2 target-existence memoization: a stage is skipped when its salted
  *    output dir carries a `_SUCCESS` flag (pb_etl/luigi/dask/target.py:92-114)
  *  - O3 salted outputs: `<workRoot>/<name>-<salt>` where salt covers the
  *    full upstream lineage (pb_etl/luigi/task.py:93-100)
  *  - O5 stages without an output dir always re-run (FinalResults,
  *    pb_etl/tasks.py:428-444)
  *
  * `run` only writes the data; `Runner` marks the output dir through
  * `Memo` once `run` returns (the reference likewise writes the flag by
  * hand after to_parquet, target.py:15-19). The flag is written after
  * the data, not atomically with it.
  */
trait Stage {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def version: String = "0.0.0"
  def deps: Seq[Stage] = Nil
  def params(conf: PbConf): Seq[(String, String)] = Nil

  final def salt(conf: PbConf): String =
    Salt.of(deps.map(_.salt(conf)), name, version, params(conf))

  /** None => no memo target: the stage re-runs on every invocation. */
  def outputDir(ctx: Ctx): Option[String] =
    Some(s"${ctx.conf.workRoot}/$name-${salt(ctx.conf)}")

  def complete(ctx: Ctx): Boolean = outputDir(ctx).exists(Memo.done(ctx.spark, _))

  def run(ctx: Ctx): Unit

  /** Convenience: this stage's materialized output as a DataFrame.
    *
    * S4 read gate: refuses to read an incomplete target — a dir without
    * its `_SUCCESS` flag is a partial/failed write (the reference's
    * read_dask raises the same way, pb_etl/luigi/dask/target.py:139-148). */
  def read(ctx: Ctx): DataFrame = ctx.spark.read.parquet(readableDir(ctx))

  /** The output dir, once it has passed the S4 read gate. */
  def readableDir(ctx: Ctx): String = {
    val d = outputDir(ctx).getOrElse(sys.error(s"stage $name has no output dir"))
    require(complete(ctx),
      s"stage $name output at $d is incomplete (no ${Memo.Flag} flag) — not reading a partial write")
    d
  }
}

object Stage {
  /** The stages' storage contract: gzip parquet, overwriting a partial
    * earlier attempt (pb_etl/tasks.py:183,203,232,392,425). */
  def writeGz(df: DataFrame, dir: String, coalesce1: Boolean = false): Unit =
    (if (coalesce1) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("compression", "gzip").parquet(dir)
}

/** An external raw-CSV input (reference ExternalTask, tasks.py:89-149):
  * no `run`, completeness = any `*.csv` file present under the source dir
  * (the reference's `flag=None` glob fallback, target.py:104-114).
  */
abstract class CsvSource(val sub: String) extends Stage {
  override def outputDir(ctx: Ctx): Option[String] =
    Some(s"${ctx.conf.dataRoot}/$sub")
  override def complete(ctx: Ctx): Boolean = {
    val d = outputDir(ctx).get
    val p = new Path(d)
    val fs = ctx.fs(d)
    fs.exists(p) && fs.globStatus(new Path(p, "*.csv")).nonEmpty
  }
  override def run(ctx: Ctx): Unit =
    sys.error(s"external input missing: ${outputDir(ctx).get}/*.csv")
}

/** Depth-first topological executor with memo-skip — the Spark-side
  * equivalent of `luigi.build([task], local_scheduler=True)`
  * (pb_etl/cli.py:13-16). Sequential on purpose: each stage is itself a
  * distributed Spark job; inter-stage parallelism buys nothing here.
  *
  * Each `run` is one `CacheScope`: whatever the stage caches is released
  * when it returns or throws, so no stage leaves memory to the next. A
  * run that returns has its output dir marked done (`Memo.mark`); one
  * that throws leaves it unmarked, so the next walk re-runs it.
  */
object Runner {
  def run(ctx: Ctx, target: Stage): Seq[String] = {
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val done = scala.collection.mutable.Set.empty[String]
    def go(s: Stage): Unit = {
      val key = s.name + s.salt(ctx.conf)
      if (!done.contains(key)) {
        done += key
        s.deps.foreach(go)
        if (!s.complete(ctx)) {
          graft.CacheScope.scope(s.run(ctx))
          s.outputDir(ctx).foreach(Memo.mark(ctx.spark, _))
          executed += s.name
        }
      }
    }
    go(target)
    executed.toSeq
  }
}
