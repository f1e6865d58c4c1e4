package graft

import org.apache.spark.sql.functions._

/** Storage-layout scale story: a fact
  * table written partitioned by day answers day-filtered queries by
  * reading ONLY the matching directories — the plan must show the
  * partition filter with everything else pruned. At 100 TB this is the
  * difference between scanning a day and scanning a year. */
class PartitioningSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("day-partitioned events: day filter prunes to a single partition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.eventsNs(spark, d)
      .withColumn("day", expr("ts div 86400000000000")) // epoch-day from nanos
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp)

    // partition-dir values are re-inferred at read (int here) — cast
    val days = spark.read.parquet(tmp).select(col("day").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(days.length > 1, "fixture spans one day; pick a different partition key")

    val q = spark.read.parquet(tmp).filter(col("day") === days.head)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    // the filter is a partition filter (directory pruning)...
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains(s"(day = ${days.head})") ||
      plan.contains(s"day#") && plan.contains(s"= ${days.head}"), plan)
    // ...and only the one matching directory is read
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(!scanned.contains(s"day=${days.last}"), "pruned partition still in scan")

    // values agree with filtering the unpartitioned table
    val expect = ev.filter(col("day") === days.head)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty)
  }

  test("dynamic partition overwrite reprocesses one day, leaves the rest untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpo").toString
    val ev = Tables.eventsNs(spark, d)
      .withColumn("day", expr("ts div 86400000000000"))
    ev.write.mode("overwrite").partitionBy("day").parquet(tmp)
    val days = spark.read.parquet(tmp).select(col("day").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(days.length >= 2, "isolation needs a sibling partition to protect")
    val (target, untouched) = (days.head, days.last)
    val beforeOther = spark.read.parquet(tmp)
      .filter(col("day") === untouched).count()

    // the incremental-reprocess pattern: recompute ONE day (here:
    // corrected values) and overwrite ONLY its directory — with
    // static overwrite this write would delete every other partition
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      ev.filter(col("day") === target)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    val after = spark.read.parquet(tmp)
    assert(after.filter(col("day") === untouched).count() == beforeOther,
      "untouched partition was clobbered")
    // the reprocessed day carries the corrected values
    val sumTarget = after.filter(col("day") === target)
      .agg(sum("value")).collect()(0).getDouble(0)
    val sumOrig = ev.filter(col("day") === target)
      .agg(sum("value")).collect()(0).getDouble(0)
    assert(math.abs(sumTarget - 2 * sumOrig) < 1e-6)
    assert(after.count() == ev.count())
  }
}
