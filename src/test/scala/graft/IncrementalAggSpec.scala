package graft

import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg._

/** Incremental view maintenance (q65): the properties that make the
  * partial-state relation a durable cross-run artifact, beyond the
  * DuckDB parity gate's merge-≡-direct check. */
class IncrementalAggSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def direct() =
    finalizeStats(hourlyPartials(Tables.eventsNs(spark, d)))
      .orderBy(col("event_type"), col("hour"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).toSeq

  test("merging parquet-persisted batch partials == direct aggregation (no rescan)") {
    val tmp = java.nio.file.Files.createTempDirectory("inc_parts").toString
    val e = Tables.eventsNs(spark, d)
    // three ingest batches, each aggregated once and persisted
    (0 until 3).foreach { s =>
      hourlyPartials(e.filter(pmod(col("event_id"), lit(3)) === s))
        .write.mode("overwrite").parquet(s"$tmp/batch_$s")
    }
    val persisted = (0 until 3).map(s => spark.read.parquet(s"$tmp/batch_$s"))
    val merged = finalizeStats(mergePartials(persisted: _*))
      .orderBy(col("event_type"), col("hour"))
    assert(rows(merged) == rows(direct()) && rows(merged).nonEmpty)
  }

  test("merge is associative: ((a+b)+c) == (a+b+c) == q65") {
    val e = Tables.eventsNs(spark, d)
    val Seq(a, b, c) = (0 until 3)
      .map(s => hourlyPartials(e.filter(pmod(col("event_id"), lit(3)) === s)))
    val nested = finalizeStats(mergePartials(mergePartials(a, b), c))
      .orderBy(col("event_type"), col("hour"))
    val flat = finalizeStats(mergePartials(a, b, c))
      .orderBy(col("event_type"), col("hour"))
    assert(rows(nested) == rows(flat))
    val q65 = operators.IncrementalAgg.incrementalHourly(spark, d)
    assert(rows(flat) == rows(q65))
  }

  test("a new batch refreshes the view by touching only its own events") {
    val e = Tables.eventsNs(spark, d)
    val old = hourlyPartials(e.filter(col("event_id") % 2 === 0))
    val delta = hourlyPartials(e.filter(col("event_id") % 2 === 1))
    val refreshed = finalizeStats(mergePartials(old, delta))
      .orderBy(col("event_type"), col("hour"))
    assert(rows(refreshed) == rows(direct()))
    // partial state is tiny relative to the events that produced it
    assert(old.count() <= e.count())
  }
}
