package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Monotone counters of what Spark did, read as a snapshot at a span's
  * start and end. Times are nanoseconds, sizes bytes. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runNs: Long = 0, cpuNs: Long = 0, gcNs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    bytesWritten: Long = 0, planNs: Long = 0,
    compiles: Long = 0, compileNs: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runNs - o.runNs, cpuNs - o.cpuNs, gcNs - o.gcNs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
    bytesWritten - o.bytesWritten, planNs - o.planNs,
    compiles - o.compiles, compileNs - o.compileNs)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runNs + o.runNs, cpuNs + o.cpuNs, gcNs + o.gcNs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
    bytesWritten + o.bytesWritten, planNs + o.planNs,
    compiles + o.compiles, compileNs + o.compileNs)
}

/** A SparkListener plus a QueryExecutionListener that count jobs, stages,
  * tasks, executor time, shuffle, spill, output bytes and planning time,
  * and record when at least one job was running. Codegen compiles come
  * from Spark's own codegen counters. Cached bytes are tracked from block
  * updates so their peak is exact, not sampled. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks = new AtomicLong
  private val runNs, cpuNs, gcNs = new AtomicLong
  private val shuffleWrite, shuffleRead, spill, bytesWritten = new AtomicLong
  private val planNs = new AtomicLong

  // job-busy intervals in epoch ms: merged while jobs overlap
  private val busy = ArrayBuffer.empty[(Long, Long)]
  private var active = 0
  private var busySince = 0L

  private val cached = scala.collection.mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  @volatile var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (active == 0) busySince = e.time
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busy += ((busySince, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcNs.addAndGet(m.jvmGCTime * 1000000L)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) synchronized {
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cachedNow += now - cached.getOrElse(i.blockId.name, 0L)
      if (now == 0L) cached.remove(i.blockId.name) else cached(i.blockId.name) = now
      if (cachedNow > cachedPeak) cachedPeak = cachedNow
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs.addAndGet(planningNs(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planNs.addAndGet(planningNs(qe))

  private def planningNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum

  def snapshot(): Counters = Counters(
    jobs.get, stages.get, tasks.get, runNs.get, cpuNs.get, gcNs.get,
    shuffleWrite.get, shuffleRead.get, spill.get, bytesWritten.get, planNs.get,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Milliseconds within [from, to] (epoch ms) in which a job was running. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val open = if (active > 0) Seq((busySince, to)) else Nil
    (busy ++ open).map { case (a, b) => math.max(0L, math.min(b, to) - math.max(a, from)) }.sum
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)
}

/** One span: a call into a layer, timed from the benchmark's own code.
  * `counts` is what the Probe saw between its start and end; `busyMs` the
  * part of it in which a Spark job ran. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long = 0L, var counts: Counters = Counters(),
    var busyMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. With no Probe it is a no-op timer, so the
  * untraced runs pay nothing for it. */
final class Tracer(spark: SparkSession, probe: Option[Probe]) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  // nanoTime → epoch ms, to intersect spans with the listener's job times
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMs(ns: Long): Long = (ns + epochOffsetNs) / 1000000L

  def apply[T](name: String, layer: String)(body: => T): T = probe match {
    case None => body
    case Some(p) =>
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
        System.nanoTime())
      val c0 = p.snapshot()
      spans += s
      stack = s :: stack
      try body
      finally {
        p.drain(spark)
        s.endNs = System.nanoTime()
        s.counts = p.snapshot() - c0
        s.busyMs = p.busyMs(epochMs(s.startNs), epochMs(s.endNs))
        stack = stack.tail
      }
  }

  /** Duration minus the part covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
