package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed MERGE (upsert) — the "apply a change batch to a base table"
  * operator every incremental pipeline needs and vanilla Spark SQL
  * lacks (no MERGE INTO without a table format that supports it).
  *
  * Semantics: one output row per key in `base ∪ changes`; where a key
  * exists on both sides the change wins column-by-column (nulls in the
  * change fall back to base — "partial update"), keys only in `changes`
  * are inserts, keys only in `base` pass through. Deletes compose as a
  * pre-filter on `changes` + anti-join (see `applyDeletes`).
  *
  * Scale shape: ONE full-outer shuffle join on the key — both sides
  * hash-partition, no pair explosion, skew bounded by per-key row
  * counts (keys are unique per side by contract). When the change batch
  * is small relative to the base (the common nightly-upsert case) the
  * planner broadcasts it and the base never shuffles at all. The
  * write-side partner is dynamic partition overwrite (PartitioningSpec):
  * merge only the partitions the change batch touches, rewrite those,
  * leave siblings untouched.
  */
object MergeUpsert {

  /** Upsert `changes` into `base` on `keys`. Both sides must be unique
    * per key (enforce upstream; at scale a pre-dedup of the change
    * batch by latest-wins timestamp is one groupBy). Column set of the
    * output = column set of `base`; `changes` may carry any subset of
    * the non-key columns — missing ones are treated as "no update". */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    val dataCols = base.columns.filterNot(keys.contains)
    val b = base.select(keys.map(col) ++ dataCols.map(c => col(c).as(s"__b_$c")): _*)
    val c = changes.select(keys.map(col) ++
      changes.columns.filterNot(keys.contains).map(n => col(n).as(s"__c_$n")): _*)
    val hasChange = changes.columns.filterNot(keys.contains).toSet
    b.join(c, keys, "full_outer")
      .select(keys.map(col) ++ dataCols.map { n =>
        (if (hasChange(n)) coalesce(col(s"__c_$n"), col(s"__b_$n"))
         else col(s"__b_$n")).as(n)
      }: _*)
  }

  /** Remove `deletes` keys from `base` — a left-anti join (no shuffle
    * of the base when the delete set broadcasts). */
  def applyDeletes(base: DataFrame, deletes: DataFrame, keys: Seq[String]): DataFrame =
    base.join(deletes.select(keys.map(col): _*), keys, "left_anti")

  /** Apply a CDC change log: rows `(keys…, data…, opCol ∈ {U,D},
    * seqCol)` collapse to the latest op per key (one window pass on the
    * key — same shuffle the merge join needs anyway), then upserts
    * apply and deletes anti-join. The whole log need not be replayed:
    * at scale `changes` is one ingestion batch and `base` the previous
    * snapshot. */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
      seqCol: String, opCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc)
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val ups = latest.filter(col(opCol) === "U").drop(opCol, seqCol)
    val dels = latest.filter(col(opCol) === "D").select(keys.map(col): _*)
    applyDeletes(upsert(base, ups, keys), dels, keys)
  }

  /** q79: CDC apply over a deterministic derived change log — three
    * waves of ops (update, delete, update) with latest-wins collapse;
    * all money arithmetic in exact integer cents. The oracle replays
    * the identical log in SQL. */
  def cdcOrders(spark: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    def cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val u1 = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
        expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) + 100000 AS DOUBLE) / 100.0")
          .as("o_totalprice"),
        lit("U1").as("o_orderstatus"), lit("U").as("op"), lit(1L).as("seq"))
    val d2 = base.filter(col("o_orderkey") % 15 === 0)
      .select(col("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("string").as("o_orderstatus"),
        lit("D").as("op"), lit(2L).as("seq"))
    val u3 = base.filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"),
        (cents * 2).cast("double") / 100.0 as "o_totalprice",
        lit("U3").as("o_orderstatus"), lit("U").as("op"), lit(3L).as("seq"))
    applyCdc(base, u1.union(d2).union(u3), Seq("o_orderkey"), "seq", "op")
      .orderBy(col("o_orderkey"))
  }

  /** q68: upsert a deterministic change batch into `orders` and return
    * the merged current state. The change batch is derived from the
    * base so the DuckDB oracle replays it exactly: every 7th order gets
    * a 10% price bump + status 'U' (update; o_custkey intentionally
    * absent from the update rows — partial-update semantics leave it
    * from base), and every 97th order spawns a new row keyed
    * o_orderkey + 20_000_000 (insert). Money arithmetic in exact
    * cents so the bumped price hash-matches cross-engine. */
  def mergeOrders(spark: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    // 110% in integer cents (`div`, not `/` — exact integer floor
    // division, identical to the oracle's `//`), one float division back
    val bumped = expr(
      "CAST(CAST(round(o_totalprice * 100) AS BIGINT) * 11 div 10 AS DOUBLE) / 100.0")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), bumped.as("o_totalprice"),
        lit("U").as("o_orderstatus"))
    val inserts = base.filter(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
        lit(1000.0).as("o_totalprice"), lit("N").as("o_orderstatus"))
    // the union's o_custkey column is absent on purpose: updates must
    // not clobber it, inserts surface it as null
    upsert(base, updates.union(inserts), Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }
}
