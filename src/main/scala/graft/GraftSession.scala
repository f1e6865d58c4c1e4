package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, the CLIs, the dev tools and
  * the specs all build their session here, so the plans the oracle
  * checks are planned under the conf the benchmark times.
  *
  * `cpus` sizes both the local master and the shuffle partition count;
  * it defaults to `SPARK_GRAFT_CPUS`, else the JVM's available
  * processors. `SPARK_MASTER` overrides the master for a deployment
  * (the partition count still follows `cpus`).
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The conf every session carries. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // heap-invariant memory budget — see SessionTuning
    "spark.memory.fraction" -> SessionTuning.memoryFractionConf,
    "spark.sql.session.timeZone" -> "UTC",
    // read parquet timestamps as LTZ (UTC session) so date functions and
    // unix_micros behave identically to the DuckDB oracle
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // events.parquet carries TIMESTAMP(NANOS), unreadable otherwise
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.ui.enabled" -> "false")

  def apply(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder().appName("graft")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config(conf(cpus))
      .getOrCreate()
}
