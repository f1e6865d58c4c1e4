package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries receive a scale-factor directory and read the parquet
  * directly — schema comes from parquet footers (explicit-at-scan, never
  * inferred from data; mirrors the reference's dtype discipline,
  * reference pb_etl/tasks.py:21-43).
  *
  * Scale notes: `lineitem`/`orders`/`events` are the fact tables (grow
  * with sf). Of the dimensions, only `region`/`nation` have FIXED
  * cardinality (5/25 rows) and carry explicit `broadcast()` hints;
  * `customer`/`supplier`/`part` are SF-proportional (billions of rows at
  * 100 TB), so join helpers in Queries leave them UNHINTED — AQE
  * broadcasts them while they fit and falls back to shuffle joins at
  * scale, which a forced hint would prevent.
  */
object Tables {
  val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val dimTables  = Seq("region", "nation", "customer", "supplier", "part")
  val all: Seq[String] = factTables ++ dimTables

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Events with `ts` normalized to a LongType of epoch-NANOSECONDS —
    * the engine-wide event-time contract. Integer nanos keep event-time
    * arithmetic exact and long comparisons stay inside whole-stage
    * codegen.
    *
    * The loader is SCHEMA-DRIVEN, not conf-driven: the testdata
    * generator has shipped `ts` both as parquet TIMESTAMP(NANOS) (which
    * `spark.sql.legacy.parquet.nanosAsLong=true` surfaces as epoch-nanos
    * BIGINT) and as plain TIMESTAMP_MICROS (which Spark loads as a
    * TimestampType). We dispatch on the LOADED column type so either
    * vintage of the data — or a user's own micros/NTZ event logs —
    * satisfies the same nanos-BIGINT contract:
    *   - LongType: already epoch-nanos (nanos parquet + nanosAsLong, or
    *     a pre-normalized BIGINT column) → pass through.
    *   - TimestampType / TimestampNTZType: `unix_micros * 1000` → exact
    *     epoch-nanos (micros precision; no truncation — codegen'd long
    *     multiply, stays in whole-stage codegen). NTZ is cast through
    *     TimestampType first; all engine sessions run UTC so the cast is
    *     a no-op re-tag.
    * Anything else fails loudly with the loaded type named, rather than
    * letting a downstream `ts div N` die with an opaque
    * DATATYPE_MISMATCH (the round-4 failure mode). */
  def eventsNs(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$d/events.parquet")
    df.schema("ts").dataType match {
      case LongType =>
        assertPlausibleNanos(df)
        df
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events ts loaded as $other; expected BIGINT (epoch nanos), " +
            "TIMESTAMP, or TIMESTAMP_NTZ. If the data is TIMESTAMP(NANOS) parquet, " +
            "build the session with spark.sql.legacy.parquet.nanosAsLong=true.")
    }
  }

  /** One plausibility probe per distinct BIGINT-ts relation per JVM:
    * a BIGINT column holding epoch-MICROS (or millis) would pass the
    * type dispatch and silently misread 1000×, so the first use pays
    * one min/max aggregate and asserts the range reads as epoch-nanos.
    * 1e17 ns ≈ 1973 while 1e17 µs ≈ year 5138 — an unambiguous
    * discriminator for any real event log. */
  private val tsProbed =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  private def assertPlausibleNanos(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{max, min}
    val key = df.sparkSession.hashCode() + ":" +
      df.queryExecution.analyzed.semanticHash()
    if (tsProbed.add(key)) {
      val r = df.agg(min("ts"), max("ts")).head()
      if (!r.isNullAt(0)) {
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        if (lo < 100000000000000000L || hi > 5000000000000000000L)
          throw new IllegalStateException(
            s"events ts is BIGINT but its range [$lo, $hi] is not plausible " +
              "epoch-NANOS (epoch-micros/millis vintage?). The engine contract " +
              "is nanos; convert upstream or load as TIMESTAMP.")
      }
    }
  }

  /** `documents` spread across cores: the fixtures are single row-group
    * parquet files (one scan task); per-row text hashing then runs
    * single-threaded without this. A production corpus arrives in many
    * splits and scans parallel without the extra exchange. */
  def documentsDist(spark: SparkSession, d: String): DataFrame =
    load(spark, d, "documents").repartition(spark.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
