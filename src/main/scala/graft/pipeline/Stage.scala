package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
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
  */
final case class PbConf(
    dataRoot: String,
    workRoot: String,
    epochs: Int = 2,
    hidden: Seq[Int] = Seq(1024, 512, 256, 128, 64, 32),
    seed: Long = 42L,
    jdbcUrl: Option[String] = None,
    jdbcTable: String = "final_results")

final case class Ctx(spark: SparkSession, conf: PbConf) {
  def fs(path: String): org.apache.hadoop.fs.FileSystem = Memo.fs(spark, path)
}

/** The one completion-flag protocol (O2, pb_etl/luigi/dask/target.py:
  * 15-19,92-114) and its one committer, shared by pipeline stages
  * (`Runner`) and salted indexes (`graft.SaltedIndex.build`): a unit of
  * work is done when its dir carries a `_SUCCESS` flag, and only
  * `commit` writes that flag. */
object Memo {
  private[graft] val Flag = "_SUCCESS"

  private[graft] def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def done(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, Flag))

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** Commit the unit at `dir` once: a done dir returns at once, with no
    * lock taken; otherwise, under a lock keyed by `dir`, re-check the
    * flag, run `write` in one `CacheScope` and mark the dir done.
    * Returns whether this call wrote. A `write` that throws leaves the
    * dir unmarked, so the next commit writes again.
    *
    * The lock makes concurrent callers in one JVM write a cold dir
    * once: the loser would otherwise overwrite (mode("overwrite")
    * deletes) data the winner had already flagged. It is per dir, so
    * unrelated units never wait on each other; locks nest only stage →
    * index, so a stage whose run builds an index, on its own thread or
    * a worker's, cannot deadlock. Across processes the write is not
    * atomic: the flag lands after the data, in the final dir. */
  def commit(spark: SparkSession, dir: String)(write: => Unit): Boolean =
    !done(spark, dir) && locks.computeIfAbsent(dir, _ => new Object).synchronized {
      !done(spark, dir) && {
        graft.CacheScope.scope(write)
        mark(spark, dir)
        true
      }
    }

  /** Flag `dir` complete, once its data is written. Nothing trusts the
    * `_SUCCESS` Spark's file committer writes: with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (common
    * on object-store committers) it never appears, and every committed
    * unit would read as torn. */
  private def mark(spark: SparkSession, dir: String): Unit =
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
  * `run` only writes the data into `outputDir`; `Runner` commits it
  * through `Memo.commit`, which flags the dir once `run` returns (the
  * reference likewise writes the flag by hand after to_parquet,
  * target.py:15-19). The flag is written after the data, not
  * atomically with it.
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

  /** Convenience: this stage's materialized output as a DataFrame,
    * read through `graft.Tables.parquet` (schema inferred once per
    * committed version of the dir).
    *
    * S4 read gate: refuses to read an incomplete target — a dir without
    * its `_SUCCESS` flag is a partial/failed write (the reference's
    * read_dask raises the same way, pb_etl/luigi/dask/target.py:139-148). */
  def read(ctx: Ctx): DataFrame = graft.Tables.parquet(ctx.spark, readableDir(ctx))

  /** The output dir, once it has passed the S4 read gate. */
  def readableDir(ctx: Ctx): String = {
    val d = outputDir(ctx).getOrElse(sys.error(s"stage $name has no output dir"))
    require(complete(ctx),
      s"stage $name output at $d is incomplete (no ${Memo.Flag} flag) — not reading a partial write")
    d
  }

  /** This stage's result behind the S4 read gate: the value its run
    * handed off in the current walk (`Runner.handOff`), else `load` of
    * the committed dir (a fresh JVM, a memo-warm walk, the loser of a
    * commit race, or a call outside any walk). */
  protected def handedOff[T](ctx: Ctx)(load: String => T): T = {
    val d = readableDir(ctx)
    Runner.handed[T](d).getOrElse(load(d))
  }
}

object Stage {
  /** The stages' storage contract: gzip parquet, overwriting a partial
    * earlier attempt (pb_etl/tasks.py:183,203,232,392,425). */
  def writeGz(df: DataFrame, dir: String, coalesce1: Boolean = false): Unit =
    (if (coalesce1) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("compression", "gzip").parquet(dir)

  /** A small result file: `text` as UTF-8 at `<dir>/<file>`, overwriting;
    * the stream is closed even when the write throws. */
  def writeText(ctx: Ctx, dir: String, file: String, text: String): Unit = {
    val out = ctx.fs(dir).create(new Path(dir, file), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The twin of `writeText`: `<dir>/<file>` as UTF-8; the stream is
    * closed even when the read throws. */
  def readText(ctx: Ctx, dir: String, file: String): String = {
    val in = ctx.fs(dir).open(new Path(dir, file))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}

/** An external raw-CSV input (reference ExternalTask, tasks.py:89-149):
  * no `run`, completeness = any `*.csv` file present under the source dir
  * (the reference's `flag=None` glob fallback, target.py:104-114). `read`
  * parses its headered CSVs with the declared `schema`, behind the same
  * completeness gate.
  */
abstract class CsvSource(val sub: String, schema: StructType) extends Stage {
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
  override def read(ctx: Ctx): DataFrame =
    ctx.spark.read.schema(schema).option("header", "true").csv(readableDir(ctx))
}

/** Depth-first topological executor with memo-skip — the Spark-side
  * equivalent of `luigi.build([task], local_scheduler=True)`
  * (pb_etl/cli.py:13-16).
  *
  * A stage whose `complete` holds is skipped. Any other stage with an
  * output dir runs through `Memo.commit`: one `CacheScope`, the flag
  * written once `run` returns, none if it throws; it is listed as
  * executed only when this walk wrote it, so two walks racing on one
  * work root run it once. A stage with no output dir runs in its own
  * `CacheScope` on every walk.
  *
  * Walk-scoped handoff: each walk holds one map, keyed by salted output
  * dir, in which a stage this walk runs may leave the in-memory form of
  * what it writes (`handOff`), so a later stage of the same walk takes
  * it (`Stage.handedOff`) instead of reading the dir back — Luigi
  * reloaded from storage because each task ran in its own process; one
  * walk here is one JVM. The map belongs to the walking thread and is
  * dropped when the walk returns or throws, so nothing outlives the
  * walk: a later walk, another thread's walk and a fresh JVM read the
  * committed dir. Within one walk the salted dir names one stage's
  * output (`dataRoot`, which the salt leaves out, is fixed for the walk).
  *
  * The walk is sequential. In pb-etl only LoadTest sits off the
  * LoadData → NormDenominators → FitModel chain, and on the traced
  * `dags` cold pass (seed 1, 4 vCPUs) it took 0.31 s of the 13.3 s
  * walk, so running it beside the chain could save at most that.
  */
object Runner {
  private val walk = new ThreadLocal[scala.collection.mutable.Map[String, Any]]

  /** Leave `value` for the later stages of the current walk under
    * `dir`, the output dir the running stage writes; outside a walk,
    * nothing. */
  private[pipeline] def handOff(dir: String, value: Any): Unit =
    Option(walk.get).foreach(_(dir) = value)

  private[pipeline] def handed[T](dir: String): Option[T] =
    Option(walk.get).flatMap(_.get(dir)).map(_.asInstanceOf[T])

  def run(ctx: Ctx, target: Stage): Seq[String] = {
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val done = scala.collection.mutable.Set.empty[String]
    def go(s: Stage): Unit = {
      val key = s.name + s.salt(ctx.conf)
      if (!done.contains(key)) {
        done += key
        s.deps.foreach(go)
        if (!s.complete(ctx)) {
          val wrote = s.outputDir(ctx) match {
            case Some(dir) => Memo.commit(ctx.spark, dir)(s.run(ctx))
            case None => graft.CacheScope.scope(s.run(ctx)); true
          }
          if (wrote) executed += s.name
        }
      }
    }
    walk.set(scala.collection.mutable.Map.empty)
    try go(target) finally walk.remove()
    executed.toSeq
  }
}
