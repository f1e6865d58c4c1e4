package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-order (Morton) clustering for multi-dimensional data skipping.
  *
  * A 100 TB fact table is usually range-laid-out on ONE key (date), so
  * box queries on (customer, date) still scan every file of the date
  * range. Interleaving the bits of both keys and range-partitioning on
  * the interleaved key gives files whose bounding boxes are tight in
  * BOTH dimensions — parquet min/max stats then skip most files for a
  * 2-D box predicate. Same idea as Delta/Iceberg Z-ORDER, expressed as
  * a plain integer column (q60) that a `repartitionByRange` write can
  * cluster on, no table format needed.
  */
object ZOrder {

  /** 16-bit × 16-bit Morton interleave as pure integer Column
    * arithmetic — a 32-term sum of masked shifts, entirely inside
    * whole-stage codegen (no HOF fallback, no UDF). Inputs must be
    * non-negative longs < 2^16 (callers bound with `% 65536`). */
  def morton16(x: Column, y: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }

  /** q60: the clustering key for orders on (custkey, order day). */
  def zorderKeys(spark: SparkSession, d: String): DataFrame = {
    val x = col("o_custkey") % 65536L
    val y = datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long") % 65536L
    Tables.orders(spark, d)
      .select(col("o_orderkey"), x.as("cust_bits"), y.as("day_bits"))
      .withColumn("zkey", morton16(col("cust_bits"), col("day_bits")))
      .orderBy(col("o_orderkey"))
  }
}
