package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft._
import graft.pipeline.{CurateDag, Ctx, PbConf, PbEtl, Runner, Stage}

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * writes a plan (JSON) and starts this once per run; this sets the
  * session up, runs the workload in a closed loop (one client, each
  * operation issued after the previous one completed) and writes a
  * result record that run.py checks and reduces to the printed line.
  *
  * Usage: graft.perfbench.Harness <plan.json>
  */
object Harness {
  val mapper = new ObjectMapper()

  final case class Op(name: String, pass: Int, ms: Double, error: Option[String],
      digest: String)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = new java.util.LinkedHashMap[String, Any]()
    val rc = try { new Run(plan, out).run(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
        1
    }
    Files.write(Paths.get(plan.get("out").asText), mapper.writeValueAsBytes(toJava(out)))
    sys.exit(rc)
  }

  /** Scala collections → Java ones, for Jackson. */
  def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val r = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => r.put(k.toString, toJava(x)) }
      r
    case m: scala.collection.Map[_, _] =>
      val r = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => r.put(k.toString, toJava(x)) }
      r
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** The one session conf every workload runs under: Bench's. */
  def session(cpus: Int, local: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.memory.fraction", SessionTuning.memoryFractionConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$local/spark-local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Conf keys that name this process or its paths, not the engine setup. */
  private val volatileConf = Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
    "spark.driver.port", "spark.executor.id", "spark.local.dir", "spark.sql.warehouse.dir",
    "spark.app.submitTime", "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")

  def confRecord(spark: SparkSession): Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap.filter { case (k, _) => !volatileConf(k) }

  /** Order-insensitive digest of a result, to compare repeats of one query. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes(UTF_8)))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** One cell as JSON: numbers stay numbers (doubles print in Java's
    * round-trip form), non-finite doubles and dates become tagged
    * strings, timestamps epoch micros. */
  def cell(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: Double, _) if d.isNaN || d.isInfinite => java.util.Map.of("f", d.toString)
    case (f: Float, _) if f.isNaN || f.isInfinite => java.util.Map.of("f", f.toDouble.toString)
    case (f: Float, _) => f.toDouble
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (ts: java.sql.Timestamp, _) =>
      ts.getTime / 1000 * 1000000L + ts.getNanos / 1000 % 1000000L
    case (ts: java.time.Instant, _) => ts.getEpochSecond * 1000000L + ts.getNano / 1000
    case (b: java.math.BigDecimal, _) => b.toPlainString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(cell(_, et)).asJava
    case (r: Row, st: StructType) => st.fields.zipWithIndex.map { case (f, i) =>
      cell(r.get(i), f.dataType) }.toSeq.asJava
    case (x, _) => x
  }

  /** Spark type → the Arrow type name its parquet output reads back as. */
  def arrowName(t: DataType): String = t match {
    case LongType => "int64"
    case IntegerType => "int32"
    case ShortType => "int16"
    case ByteType => "int8"
    case DoubleType => "double"
    case FloatType => "float"
    case _: StringType => "string"
    case BooleanType => "bool"
    case DateType => "date32[day]"
    case TimestampType | TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal128(${d.precision}, ${d.scale})"
    case other => other.simpleString
  }
}

/** One benchmark run: setup, the measured window, then the records. */
final class Run(plan: JsonNode, out: java.util.LinkedHashMap[String, Any]) {
  import Harness._

  private val workload = plan.get("workload").asText
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val cpus = plan.get("cpus").asInt
  private val rng = new scala.util.Random(plan.get("seed").asLong)
  private val work = plan.get("work").asText
  private val setup = plan.get("setup")
  private val queries = Option(plan.get("queries")).toSeq
    .flatMap(_.elements().asScala.map(_.asText))
  private val modules: Map[String, String] = Option(plan.get("modules"))
    .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
    .getOrElse(Map.empty)
  private val heavy = Option(plan.get("heavy")).toSeq
    .flatMap(_.elements().asScala.map(_.asText)).toSet
  private val indexes = Option(plan.get("indexes")).toSeq
    .flatMap(_.elements().asScala.map(_.asText))

  // a cold pass plus warm ones, whatever --seconds says
  private val MinPasses = 4
  private val MinWarmDagPasses = 3
  private val UntracedPasses = 2

  private var spark: SparkSession = _
  private var probe: Option[Probe] = None
  private var tracer: Tracer = _
  private val checks = ArrayBuffer.empty[(String, Boolean, String)]

  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9
  private def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def run(): Unit = {
    // the setup is cold: it counts the JVM's start up to here
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = now
    spark = session(cpus, work)
    val sessionS = secs(t0)
    warmup()
    val ti = now
    buildIndexes()
    out.put("index_build_s", secs(ti))
    out.put("setup_s", jvmStartS + secs(t0))
    out.put("jvm_start_s", jvmStartS)
    out.put("session_s", sessionS)
    out.put("index_build_by_name_s", indexByName)
    out.put("conf", confRecord(spark))
    out.put("calibration_q05_s", calibrate(setup.get("tables").asText))
    memoryCheckpoint()
    if (traced || workload == "derive") {
      val p = new Probe
      p.attach(spark)
      probe = Some(p)
    }
    tracer = new Tracer(spark, probe)
    val indexDirs0 = indexDirs()
    workload match {
      case "dags" => dags(setup)
      case "derive" => derive(setup.get("tables").asText)
      case _ => querySet(setup.get("tables").asText)
    }
    out.put("live_mb", liveMb.toSeq)
    out.put("live_peak_mb", liveMb.max)
    out.put("index_dirs_built_in_window", (indexDirs() -- indexDirs0).toSeq.sorted)
    out.put("checks", checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    probe.foreach(p => out.put("cached_peak_bytes", p.cachedPeak))
    spark.stop()
  }

  private def warmup(): Unit =
    if (workload == "dags")
      spark.read.parquet(s"${setup.get("docs").asText}/documents.parquet").count()
    else Queries.localSupplierVolume(spark, setup.get("tables").asText).count()

  /** The salted indexes the workload's queries read, built here so the
    * measured window never pays for one. */
  private def buildIndexes(): Unit =
    if (workload != "dags") build(setup.get("tables").asText, indexes)

  private def build(d: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val t0 = now
      buildOne(d, n)
      indexByName(n) = indexByName.getOrElse(n, Seq.empty[Double]) :+ secs(t0)
    }
  private val indexByName = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  private def buildOne(d: String, name: String): Unit =
    name match {
      case "ivf" => IvfIndex.buildOrLoad(spark, d, IvfIndex.scaledNlist(spark, d))
      case "pq" => PqIndex.buildOrLoad(spark, d)
      case "postings" => PhraseIndex.buildOrLoad(spark, d)
      case "dedup" => DedupIndex.buildOrLoad(spark, d)
      case "bpe" => Bpe.buildOrLoad(spark, d)
      case "clusters" => Dedup.nearDupClusters(spark, d)
      case "tradearcs" => Graph.tradeArcs(spark, d)
      case "copurchase" => Graph.coPurchaseEdges(spark, d)
      case "custpart" => Graph.custPartEdges(spark, d)
      case other => sys.error(s"unknown index $other")
    }

  private def indexDirs(): Set[String] =
    Option(new File(SaltedIndex.root).list()).map(_.toSet).getOrElse(Set.empty)

  /** Memory the process holds between operations: heap in use right
    * after a full collection plus non-heap in use. The run reports the
    * largest reading as `live_peak_mb`. Spark's cleaner frees the blocks
    * of collected broadcasts and RDDs only after a collection has found
    * them, so a second collection follows a short pause; with one, the
    * same run read either about 470 or about 510 MB. */
  private val liveMb = ArrayBuffer.empty[Double]
  private def memoryCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    liveMb += (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1e6
  }

  /** q05 timed as Bench times it: right after warmup, one count(). */
  private def calibrate(d: String): Double = {
    val t0 = now
    SparkEntry.queries("q05_global_max")(spark, d).count()
    val dt = secs(t0)
    spark.catalog.clearCache()
    dt
  }

  // ---------------------------------------------------------------- queries

  private def querySet(d: String): Unit = {
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not registered in SparkEntry.queries: ${missing.mkString(",")}")
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[(Int, Double, Double)] // pass, op-seconds, wall
    val t0 = now
    var pass = 0
    while (pass < MinPasses || secs(t0) < seconds) {
      pass += 1
      val tp = now
      val order = rng.shuffle(queries)
      val pops = order.map { q =>
        val (op, res) = runQuery(q, d, pass)
        res.foreach { case (schema, rows) =>
          if (!firstRows.contains(q)) firstRows(q) = (schema, rows)
        }
        op
      }
      ops ++= pops
      passes += ((pass, pops.map(_.ms).sum / 1e3, secs(tp)))
      memoryCheckpoint()
    }
    val window = secs(t0)
    out.put("window_s", window)
    out.put("ops", ops.map(o => Map("op" -> o.name, "pass" -> o.pass, "ms" -> o.ms,
      "error" -> o.error, "digest" -> o.digest)))
    out.put("oracle_sql", queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    out.put("passes", passes.map { case (p, s, w) => Map("pass" -> p, "s" -> s, "wall_s" -> w) })
    writeResults(firstRows)
    if (traced) {
      traceQueries(ops.toSeq, passes.toSeq)
      untraced(rng.shuffle(queries).map(q => runQuery(q, d, 0)._1.ms).sum / 1e3)
    }
  }

  /** The traced seed run the frozen query lists come from: every
    * registered query, sorted by name, one pass that records which salted
    * indexes each query builds, then two traced passes. */
  private def derive(d: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val built = names.map { q =>
      org.apache.commons.io.FileUtils.deleteDirectory(new File(SaltedIndex.root))
      runQuery(q, d, 0)
      q -> indexDirs().map(_.takeWhile(_ != '-')).toSeq.sorted
    }.toMap
    build(d, built.values.flatten.toSeq.distinct)
    val stats = (1 to 2).map { pass =>
      names.map { q =>
        val (op, res) = runQuery(q, d, pass)
        val s = tracer.spans.filter(_.parent == -1).last
        res.foreach { case (schema, rows) => if (pass == 1) firstRows(q) = (schema, rows) }
        q -> Map("wall_s" -> s.seconds, "busy_s" -> s.busyMs / 1e3, "jobs" -> s.counts.jobs,
          "tasks" -> s.counts.tasks, "executor_run_s" -> s.counts.runNs / 1e9,
          "shuffle_mb" -> (s.counts.shuffleWrite + s.counts.shuffleRead) / 1e6,
          "compiles" -> s.counts.compiles, "error" -> op.error)
      }.toMap
    }
    out.put("derive", names.map(q => q -> Map("module" -> modules.getOrElse(q, "unmapped"),
      "indexes" -> built(q), "passes" -> stats.map(_(q)))).toMap)
    out.put("oracle_sql", SparkEntry.oracleSql)
    out.put("rows_only", SparkEntry.rowsOnly.keys.toSeq.sorted)
    writeResults(firstRows)
  }
  private val firstRows =
    scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  private def runQuery(q: String, d: String, pass: Int): (Op, Option[(StructType, Array[Row])]) = {
    val fn = SparkEntry.queries(q)
    val module = modules.getOrElse(q, "unmapped")
    val t0 = now
    val r = try {
      tracer(s"query.$q", module) {
        val df = tracer(s"$module.call", module)(fn(spark, d))
        val rows = tracer(s"$module.action", module)(df.collect())
        Right((df.schema, rows))
      }
    } catch {
      case e: Throwable => Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
    }
    val ms = (now - t0) / 1e6
    spark.catalog.clearCache()
    r match {
      case Right((schema, rows)) => (Op(q, pass, ms, None, digest(rows)), Some((schema, rows)))
      case Left(err) =>
        System.err.println(s"[perfbench] $q failed: $err")
        (Op(q, pass, ms, Some(err), ""), None)
    }
  }

  /** First result of each query, one JSON line each, for the oracle check. */
  private def writeResults(rows: scala.collection.Map[String, (StructType, Array[Row])]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(plan.get("results").asText), UTF_8)
    try rows.foreach { case (q, (schema, rs)) =>
      val cols = schema.fields.map(f => java.util.List.of(f.name, arrowName(f.dataType))).toSeq.asJava
      val data = rs.map(r => schema.fields.indices.map(i => cell(r.get(i), schema.fields(i).dataType))
        .asJava).toSeq.asJava
      w.write(mapper.writeValueAsString(java.util.Map.of("q", q, "cols", cols, "rows", data)))
      w.newLine()
    } finally w.close()
  }

  // ------------------------------------------------------------------- dags

  // in the order Runner's depth-first walk executes them
  private val pbetlStages = Seq("LoadData", "NormDenominators", "FitModel", "LoadTest",
    "Predict", "BackTest", "FinalResults")
  private val curateStages = Seq("QualityGate", "Decontaminate", "DedupCanonical", "Redact",
    "Mixture", "Pack", "ChunkManifest", "CurationReport")

  /** `s` and its deps behind proxies that put a span around each
    * `complete` and `run` call. Name, version, params and output dir are
    * forwarded, so the salts are the stage's own and `Runner.run` walks
    * and memo-checks the proxies as it would the stages. */
  private def spanned(s: Stage, layer: String): Stage = new Stage {
    override def name: String = s.name
    override def version: String = s.version
    override lazy val deps: Seq[Stage] = s.deps.map(spanned(_, layer))
    override def params(conf: PbConf): Seq[(String, String)] = s.params(conf)
    override def outputDir(ctx: Ctx): Option[String] = s.outputDir(ctx)
    override def complete(ctx: Ctx): Boolean =
      tracer(s"$layer.${s.name}.complete", "pipeline.Runner")(s.complete(ctx))
    def run(ctx: Ctx): Unit = tracer(s"$layer.${s.name}.run", s"$layer.${s.name}")(s.run(ctx))
  }
  private lazy val pbetlTarget = spanned(PbEtl.FinalResults, "pipeline.PbEtl")
  private lazy val curateTarget = spanned(CurateDag.CurationReport, "pipeline.CurateDag")

  private def pbetl(ctx: Ctx): Seq[String] =
    tracer("pipeline.PbEtl", "pipeline.PbEtl")(Runner.run(ctx, pbetlTarget))

  private def curate(ctx: Ctx): Seq[String] =
    tracer("pipeline.CurateDag", "pipeline.CurateDag")(Runner.run(ctx, curateTarget))

  private def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, secs(t0))
  }

  private def dags(s: JsonNode): Unit = {
    val pbetlIn = s.get("pbetl").asText
    val docsIn = s.get("docs").asText
    val facts = s.get("facts")
    val pctx = Ctx(spark, PbConf(pbetlIn, s"$work/pbetl-work"))
    val cctx = Ctx(spark, PbConf(docsIn, s"$work/curate-work"))
    val t0 = now
    val (pCold, pColdS) = timed(pbetl(pctx))
    checkPbetl("cold", pCold, pbetlStages, facts)
    memoryCheckpoint()
    val (cCold, cColdS) = timed(curate(cctx))
    check("curate.cold.executed", cCold == curateStages, cCold.mkString(","))
    val coldFunnel = funnel(cctx)
    memoryCheckpoint()
    val pWarm = ArrayBuffer.empty[Double]
    val cWarm = ArrayBuffer.empty[Double]
    while (pWarm.size < MinWarmDagPasses || secs(t0) < seconds) {
      val (pe, ps) = timed(pbetl(pctx))
      checkPbetl(s"warm${pWarm.size + 1}", pe, Seq("FinalResults"), facts)
      pWarm += ps
      val (ce, cs) = timed(curate(cctx))
      check(s"curate.warm${cWarm.size + 1}.executed", ce == Seq("CurationReport"), ce.mkString(","))
      cWarm += cs
      memoryCheckpoint()
    }
    out.put("window_s", secs(t0))
    out.put("funnel", coldFunnel.toMap)
    out.put("oracle_sql", Map("q57_corpus_filter" -> SparkEntry.oracleSql("q57_corpus_filter")))
    out.put("dags", Map(
      "pbetl_cold_s" -> pColdS, "curate_cold_s" -> cColdS,
      "pbetl_warm_s" -> pWarm.toSeq, "curate_warm_s" -> cWarm.toSeq))
    if (traced) {
      traceDags(pWarm.zip(cWarm).map { case (x, y) => x + y }.toSeq)
      untraced(timed(PbEtl.runAll(pctx))._2 + timed(CurateDag.run(cctx))._2)
    }
  }

  /** Tracing overhead: the probe detached, the same warm pass timed
    * UntracedPasses times; the median goes next to the traced one. */
  private def untraced(pass: => Double): Unit = {
    probe.foreach { p =>
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
    tracer = new Tracer(spark, None)
    out.put("untraced_pass_s", median(Seq.fill(UntracedPasses)(pass)))
  }

  private def checkPbetl(tag: String, executed: Seq[String], expected: Seq[String],
      facts: JsonNode): Unit = {
    check(s"pbetl.$tag.executed", executed == expected, executed.mkString(","))
    PbEtl.FinalResults.last match {
      case None => check(s"pbetl.$tag.report", ok = false, "no report")
      case Some((n, actual, expected)) =>
        val nOk = n == facts.get("n").asLong
        val aOk = actual == facts.get("actual").asDouble
        val eOk = expected > 0.0 && expected < 1.0
        check(s"pbetl.$tag.report", nOk && aOk && eOk, s"n=$n actual=$actual expected=$expected")
    }
  }

  /** The curation funnel, read from the stage outputs the way
    * CurationReport counts them, plus its invariants. */
  private def funnel(ctx: Ctx): Seq[(String, Long)] = {
    import CurateDag._
    val f = Seq(
      "raw" -> RawDocs.read(ctx).count(),
      "quality" -> QualityGate.read(ctx).count(),
      "decontaminated" -> Decontaminate.read(ctx).count(),
      "canonical" -> DedupCanonical.read(ctx).count(),
      "redacted" -> Redact.read(ctx).count(),
      "mixture_rows" -> Mixture.read(ctx).count(),
      "packed_rows" -> Pack.read(ctx).count(),
      "rag_chunks" -> ChunkManifest.read(ctx).count())
    val m = f.toMap
    check("curate.funnel.shape",
      m("raw") >= m("quality") && m("quality") >= m("decontaminated") &&
        m("decontaminated") >= m("canonical") && m("canonical") == m("redacted") &&
        m("canonical") > 0 && m("mixture_rows") > 0 && m("rag_chunks") > 0,
      f.map(_._2).mkString("/"))
    f
  }

  // ---------------------------------------------------------------- tracing

  /** Spark-wide counters over a set of top-level spans. */
  private def sparkMetrics(top: Seq[Span], per: Double): Map[String, Double] = {
    val c = top.map(_.counts).foldLeft(Counters())(_ + _)
    val wall = top.map(_.seconds).sum
    val busy = top.map(_.busyMs).sum / 1e3
    Map(
      "spark.jobs" -> c.jobs / per,
      "spark.stages" -> c.stages / per,
      "spark.tasks" -> c.tasks / per,
      "spark.driver_only_s" -> math.max(0.0, wall - busy) / per,
      "spark.plan_s" -> c.planNs / 1e9 / per,
      "spark.codegen_compiles" -> c.compiles / per,
      "spark.codegen_compile_s" -> c.compileNs / 1e9 / per,
      "spark.job_busy_s" -> busy / per,
      "spark.executor_run_s" -> c.runNs / 1e9 / per,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / per,
      "spark.utilization" -> (if (busy > 0) c.runNs / 1e9 / (busy * cpus) else 0.0),
      "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6 / per,
      "spark.shuffle_read_mb" -> c.shuffleRead / 1e6 / per,
      "spark.spill_mb" -> c.spill / 1e6 / per,
      "spark.gc_s" -> c.gcNs / 1e9 / per)
  }

  private def writeSpans(): Unit = {
    val rows = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> tracer.selfSeconds(s),
        "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks, "busy_ms" -> s.busyMs,
        "compiles" -> s.counts.compiles, "shuffle_write" -> s.counts.shuffleWrite)
    }
    Files.write(Paths.get(plan.get("spans").asText), mapper.writeValueAsBytes(toJava(rows)))
  }

  /** Self seconds per layer over the given spans and all their descendants. */
  private def selfByLayer(roots: Seq[Span]): Map[String, Double] = {
    val ids = scala.collection.mutable.Set(roots.map(_.id): _*)
    tracer.spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    tracer.spans.filter(s => ids.contains(s.id)).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(tracer.selfSeconds).sum }
  }

  private def traceQueries(ops: Seq[Op], passes: Seq[(Int, Double, Double)]): Unit = {
    val top = tracer.spans.filter(_.parent == -1).toSeq
    // spans line up with ops one to one, in order
    val warm = top.zip(ops).filter(_._2.pass >= 2).map(_._1)
    val nWarm = passes.count(_._1 >= 2).toDouble
    val layers = selfByLayer(warm)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m ++= sparkMetrics(warm, nWarm)
    layers.foreach { case (l, v) => m(s"$l.s") = v / nWarm }
    val perQuery = warm.groupBy(_.name).map { case (n, ss) =>
      n.stripPrefix("query.") -> median(ss.map(_.seconds)) }
    val (heavyS, floorS) = warm.partition(s => heavy(s.name.stripPrefix("query.")))
    m("query.floor_pass_s") = floorS.map(_.seconds).sum / nWarm
    m("query.heavy_pass_s") = heavyS.map(_.seconds).sum / nWarm
    out.put("per_query_warm_s", perQuery)
    m("traced_pass_s") = passes.filter(_._1 >= 2).map(_._3).sum / nWarm
    m("span_self_s") = layers.values.sum / nWarm
    out.put("trace_metrics", m)
    writeSpans()
  }

  private def traceDags(warmPassS: Seq[Double]): Unit = {
    val top = tracer.spans.filter(_.parent == -1).toSeq
    val cold = top.take(2)
    val warm = top.drop(2)
    val nWarm = warm.size / 2.0
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m ++= sparkMetrics(cold, 1.0)
    def under(root: Span): Seq[Span] = tracer.spans.filter(_.parent == root.id).toSeq
    val pColdKids = under(cold(0))
    pbetlStages.foreach { st =>
      val s = pColdKids.find(_.name == s"pipeline.PbEtl.$st.run")
      m(s"pipeline.PbEtl.$st.s") = s.map(_.seconds).getOrElse(0.0)
      m(s"pipeline.PbEtl.$st.jobs") = s.map(_.counts.jobs.toDouble).getOrElse(0.0)
      m(s"pipeline.PbEtl.$st.driver_only_s") =
        s.map(x => math.max(0.0, x.seconds - x.busyMs / 1e3)).getOrElse(0.0)
      m(s"pipeline.PbEtl.$st.bytes_written_mb") =
        s.map(_.counts.bytesWritten / 1e6).getOrElse(0.0)
    }
    val cColdKids = under(cold(1))
    curateStages.foreach { st =>
      m(s"pipeline.CurateDag.$st.s") =
        cColdKids.find(_.name == s"pipeline.CurateDag.$st.run").map(_.seconds).getOrElse(0.0)
    }
    val warmKids = warm.flatMap(under)
    val memoChecks = warmKids.filter(_.name.endsWith(".complete"))
    m("pipeline.Runner.memo_check_ms") = memoChecks.map(_.seconds).sum * 1e3 / nWarm
    // memo-targeted = stages with an output dir that are not external inputs
    val targeted = memoChecks.map(_.name.stripSuffix(".complete"))
      .filter(n => pbetlStages.dropRight(1).exists(x => n.endsWith(s".$x")) ||
        curateStages.dropRight(1).exists(x => n.endsWith(s".$x")))
    val ran = warmKids.filter(_.name.endsWith(".run")).map(_.name.stripSuffix(".run")).toSet
    m("pipeline.Runner.memo_hit_ratio") =
      if (targeted.isEmpty) 0.0 else targeted.count(n => !ran(n)).toDouble / targeted.size
    m("traced_pass_s") = warmPassS.sum / nWarm
    m("span_self_s") = selfByLayer(warm).values.sum / nWarm
    out.put("trace_metrics", m)
    writeSpans()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
