package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compaction, ZOrder}

/** Small-file compaction: content preservation, file-count reduction,
  * and layout restoration (clustered rewrite keeps min/max ranges
  * disjoint for data skipping). */
class CompactionSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def fragmented(tmp: String): String = {
    val in = s"$tmp/frag"
    Tables.documents(spark, d).repartition(64).write.parquet(in)
    in
  }

  test("compaction reduces file count without changing a single row") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val in = fragmented(tmp)
    val rep = Compaction.compact(spark, in, s"$tmp/out", targetBytes = 8L << 20)
    assert(rep.filesBefore == 64)
    assert(rep.filesAfter == rep.targetFiles && rep.filesAfter < 64)
    val before = spark.read.parquet(in).collect().map(_.toString).sorted.toSeq
    val after = spark.read.parquet(s"$tmp/out").collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  test("clustered compaction restores disjoint per-file key ranges (data skipping)") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_z").toString
    val in = s"$tmp/frag"
    // the 16-file input must exceed the 64 KiB target: read as
    // TIMESTAMP_NTZ, o_orderdate is written as INT64 (68 KB in all);
    // the session's LTZ read writes it as INT96 (63 KB, one file)
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prevNtz = spark.conf.get(ntz)
    spark.conf.set(ntz, "true")
    // fragmented AND interleaved: every file spans the whole key range
    try {
      Tables.orders(spark, d).repartition(16).write.parquet(in)
      Compaction.compact(spark, in, s"$tmp/out", targetBytes = 64L << 10,
        sortCols = Seq(col("o_orderkey")))
    } finally spark.conf.set(ntz, prevNtz)
    val ranges = spark.read.parquet(s"$tmp/out")
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "expected multiple output files")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "overlapping file ranges")
      case _ =>
    }
    // content unchanged here too
    assert(spark.read.parquet(s"$tmp/out").count() == Tables.orders(spark, d).count())
  }

  test("partitioned layouts are refused (compact per partition dir instead)") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_refuse").toString
    Tables.documents(spark, d).withColumn("l", col("lang"))
      .write.partitionBy("l").parquet(s"$tmp/part")
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, s"$tmp/part", s"$tmp/out", targetBytes = 1L << 20)
    }
    // ...but one partition directory compacts fine
    val one = new java.io.File(s"$tmp/part").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l=")).head
    val rep = Compaction.compact(spark, one.getPath, s"$tmp/out1", targetBytes = 1L << 20)
    assert(rep.filesAfter >= 1)
  }

  test("no-sort compaction is shuffle-free when merging, shuffles only to split") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_p").toString
    val in = fragmented(tmp)
    val df = spark.read.parquet(in)
    // merging (n below scan partitions) must not shuffle — through the
    // operator's real branch, not a hand-built coalesce
    val merge = Compaction.layout(df, 4, Nil)
    assert(!merge.queryExecution.executedPlan.toString.contains("Exchange"),
      "merge path must not shuffle")
    // splitting to MORE partitions than the scan produced requires one
    val grow = Compaction.layout(df, df.rdd.getNumPartitions + 8, Nil)
    assert(grow.queryExecution.executedPlan.toString.contains("Exchange"),
      "split path must repartition (coalesce cannot grow)")
    assert(grow.rdd.getNumPartitions == df.rdd.getNumPartitions + 8)
  }

  test("empty directory and bad targetBytes are guarded") {
    val tmp = java.nio.file.Files.createTempDirectory("compact_e").toString
    new java.io.File(s"$tmp/empty").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "empty", "_SUCCESS"),
      Array.emptyByteArray)
    val rep = Compaction.compact(spark, s"$tmp/empty", s"$tmp/out", targetBytes = 1L << 20)
    assert(rep == Compaction.Report(0, 0, 0L, 0))
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, s"$tmp/empty", s"$tmp/out2", targetBytes = 0)
    }
  }
}
