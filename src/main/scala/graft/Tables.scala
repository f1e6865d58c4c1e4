package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Loaders for the driver-generated test tables (TESTDATA.md), and the
  * one parquet read path of the engine (`parquet`).
  *
  * All queries receive a scale-factor directory and read the parquet
  * directly — schema comes from parquet footers, never inferred from
  * data, and the footers are read once per data version, not on every
  * read: later reads scan with the schema resolved then (the
  * reference likewise reads every table with a declared schema,
  * pb_etl/tasks.py:21-43).
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
    parquet(spark, s"$sfDir/$name.parquet")

  /** (path, parquet conf fingerprint) → (file stamp, schema inferred there). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[(String, String), (String, StructType)]

  /** Read the parquet at `path`, resolving its schema once per data
    * version. Inference (`spark.read.parquet`) runs one Spark job to
    * read the footers; a path whose `SaltedIndex.stamp` (file names,
    * lengths, mtimes) and parquet confs match the last inference there
    * reads with that schema instead and runs none. The stored schema is
    * exactly what inference returned, field metadata included (ML
    * vector attributes). A changed stamp re-infers and replaces the
    * path's entry; an unreadable path is never stored, so the read
    * fails with Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, parquetConfs(spark))
    val stamp = SaltedIndex.stamp(spark, path)
    Option(schemas.get(key)).filter(_._1 == stamp) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        if (stamp != "absent") schemas.put(key, (stamp, df.schema))
        df
    }
  }

  /** Exact row count of each committed parquet path (a file or a dir of
    * parts, partition subdirs included), in order: the sum of its data
    * files' footer record counts, read on the driver, so no Spark job,
    * plan or codegen runs. A corrupt or unreadable file fails the count,
    * naming the file; it never reads as 0.
    *
    * Each footer is opened with read options built from the session's
    * Hadoop conf: the one-argument `ParquetFileReader.open` builds its
    * own options over a fresh Hadoop `Configuration`, which loads the
    * default resources again for every file (most of a memo-warm
    * CurationReport's time) and drops conf-driven settings such as
    * decryption properties. */
  def rowCounts(spark: SparkSession, paths: Seq[String]): Seq[Long] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    // Spark's data-file rule: no `_x` (bar partition dirs `_k=v`), no
    // `.x`, no in-flight `x._COPYING_`
    def isData(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))
    def files(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).iterator.filter(c => isData(c.getPath.getName))
          .flatMap(files(fs, _))
      else Iterator(st)
    def footerRows(st: FileStatus): Long =
      try {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
          HadoopReadOptions.builder(conf, st.getPath).build())
        try r.getRecordCount finally r.close()
      } catch { case NonFatal(e) =>
        throw new java.io.IOException(s"cannot count the rows of parquet file ${st.getPath}: $e", e)
      }
    paths.map { p =>
      val fs = new Path(p).getFileSystem(conf)
      files(fs, fs.getFileStatus(new Path(p))).map(footerRows).sum
    }
  }

  /** Every session conf that can change what parquet inference returns
    * (e.g. `nanosAsLong`, `inferTimestampNTZ`, `binaryAsString`). */
  private def parquetConfs(spark: SparkSession): String =
    spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted.mkString(",")

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
    val df = parquet(spark, s"$d/events.parquet")
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
