package graft

/** Heap-size robustness, part 2 of 2 (round 12; part 1 is the G1
  * committed-footprint flags in build.sbt).
  *
  * Spark sizes its unified memory region as `spark.memory.fraction`
  * (default 0.6) of (heap − 300 MiB), so handing the SAME workload a
  * bigger driver heap silently hands it a bigger execution+storage
  * budget: aggregation hash maps grow for tens of GiB before spilling
  * and per-round persisted blocks pile up uncollected. On this VM
  * class, where freshly committed pages fault at ~25 MB/s (measured —
  * see build.sbt), that extra footprint is catastrophic: the r11 gate
  * bench at heap_g=89 ran q192 at 24.5 s vs 6.0 s clean at 8 GiB.
  *
  * The A/B matrix (round 11, re-measured round 12) shows 8 GiB is the
  * measured-optimal budget for this suite at local[32]/sf0.1 — so pin
  * the unified region to the BYTE BUDGET a 0.6-fraction 8 GiB heap
  * would get (≈4.62 GiB), independent of the heap the gate chooses:
  * fraction = min(0.6, target / (maxMemory − 300 MiB)). At 8 GiB this
  * is exactly the stock 0.6 (zero behavior change); at 96 GiB it is
  * ≈0.05 and the engine spills at the same points it would at 8 GiB.
  *
  * Measured (3-pass min of an isolated per-query timing tool, since
  * removed, at sf0.1, SPARK_DRIVER_MEM=96g):
  * stock G1+fraction = q192 10.9 s / q311 25.7 s with 189-215 s
  * outlier passes; G1 flags alone = 6.4 / 17.1; G1 flags + this pin =
  * 3.6 / 8.5 — equal to the same-hour 8 GiB control (4.7 / 8.8), with
  * monotonically improving passes and no outliers. Heap no longer
  * predicts suite time, which is the r11 verdict's done-criterion.
  */
object SessionTuning {

  /** 0.6 × (8 GiB − 300 MiB): the unified-region byte budget of the
    * measured-optimal 8 GiB heap. */
  val UnifiedTargetBytes: Long =
    (0.6 * (8L * 1024 * 1024 * 1024 - 300L * 1024 * 1024)).toLong

  /** Heap-invariant `spark.memory.fraction` for THIS JVM's heap.
    * Never above the stock 0.6; approaches it from below as the heap
    * shrinks toward 8 GiB. */
  def memoryFraction: Double = {
    val usable = Runtime.getRuntime.maxMemory - 300L * 1024 * 1024
    if (usable <= 0) 0.6
    else math.min(0.6, UnifiedTargetBytes.toDouble / usable.toDouble)
  }

  /** Formatted for SparkSession.Builder.config. */
  def memoryFractionConf: String = f"$memoryFraction%.4f"
}
