package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregation — materialized-view maintenance for the
  * hourly event rollup. A 100 TB pipeline never re-scans history to
  * refresh a dashboard view: each ingest batch is aggregated ONCE into
  * a small mergeable partial-state relation (count + exact integer
  * sum per group), partials are persisted alongside the batch, and a
  * refresh merges states at a cost proportional to |state|, not to
  * the corpus that produced it. This is the same partial/final split
  * Spark's own hash aggregate uses inside one query, lifted to a
  * persistable cross-run artifact.
  *
  * Exactness: `value` is floor-scaled to integer micro-units before
  * summing (see Similarity.labelCentroids for the float-parity
  * argument), so the state is associative and order-independent —
  * merge order can never change a digit, which is what makes the
  * incremental view bit-identical to a direct global aggregation.
  */
object IncrementalAgg {

  private def hourCol: Column =
    date_format(date_trunc("hour", timestamp_micros(expr("ts div 1000"))),
      "yyyy-MM-dd HH:mm:ss").as("hour")

  /** Partial per-(event_type, hour) state for one slice of events —
    * one map-side-combining hash aggregate over the slice. Extra
    * leading keys (e.g. a shard/batch id) ride along so many batches
    * can be aggregated in a single pass. */
  def hourlyPartials(events: DataFrame, extraKeys: Column*): DataFrame =
    events
      .groupBy(extraKeys :+ col("event_type") :+ hourCol: _*)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1000000.0d))).as("sum_micro"))

  /** Merge partial-state relations: counts and sums add. Input can be
    * any mix of freshly-computed and parquet-persisted partials. */
  def mergePartials(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(col("event_type"), col("hour"))
      .agg(sum(col("n")).as("n"), sum(col("sum_micro")).as("sum_micro"))

  /** Finalize the view: derived mean in micro-units (floor double
    * division — exact for |sum| ≪ 2^53). */
  def finalizeStats(state: DataFrame): DataFrame =
    state.select(col("event_type"), col("hour"), col("n"), col("sum_micro"),
      floor(col("sum_micro") / col("n")).cast("long").as("avg_micro"))

  /** q65: the event stream split into three ingest shards, each
    * aggregated independently (ONE pass — the shard id is a partial
    * key), then merged and finalized. The oracle aggregates directly,
    * so the parity check proves merge-of-partials ≡ global
    * aggregation, cell for cell. */
  def incrementalHourly(spark: SparkSession, d: String): DataFrame = {
    val parts = hourlyPartials(
      graft.Tables.eventsNs(spark, d).withColumn("shard", pmod(col("event_id"), lit(3))),
      col("shard"))
    finalizeStats(mergePartials(parts.drop("shard")))
      .orderBy(col("event_type"), col("hour"))
  }
}
