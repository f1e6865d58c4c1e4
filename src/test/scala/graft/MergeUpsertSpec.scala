package graft

import graft.operators.MergeUpsert
import org.apache.spark.sql.functions._

/** MERGE/upsert semantics (q68): change-wins per cell, partial-update
  * columns fall back to base, inserts surface, deletes anti-join. */
class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: update wins, absent change column passes base through, insert") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    // the change batch carries only (k, v): "s" must never be clobbered
    val changes = Seq((2L, 99.0), (4L, 40.0)).toDF("k", "v")
    val out = MergeUpsert.upsert(base, changes, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set(
      (1L, "a", 10.0),   // untouched
      (2L, "b", 99.0),   // updated v, base s preserved
      (3L, "c", 30.0),   // untouched
      (4L, null, 40.0))) // insert: no base row → null s
  }

  test("upsert: null cell in a present change column falls back to base") {
    val base = Seq((1L, "a", 10.0)).toDF("k", "s", "v")
    val changes = Seq((1L, Option.empty[String], 11.0)).toDF("k", "s", "v")
    val out = MergeUpsert.upsert(base, changes, Seq("k"))
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set((1L, "a", 11.0)))
  }

  test("applyDeletes: anti-join removes exactly the delete keys") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    val dels = Seq(Tuple1(2L), Tuple1(9L)).toDF("k")
    val out = MergeUpsert.applyDeletes(base, dels, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (3L, "c")))
  }

  test("applyCdc: latest op per key wins; deletes drop; untouched rows pass") {
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val ch = Seq(
      (1L, Some(11.0), "U", 1L), (1L, Some(12.0), "U", 5L), // latest: v=12
      (2L, Option.empty[Double], "D", 2L),                   // delete
      (4L, Some(40.0), "U", 3L),                             // insert
      (5L, Some(50.0), "U", 4L), (5L, Option.empty[Double], "D", 6L) // ins then del
    ).toDF("k", "v", "op", "seq")
    val out = MergeUpsert.applyCdc(base, ch, Seq("k"), "seq", "op")
      .as[(Long, Double)].collect().toSet
    assert(out == Set((1L, 12.0), (3L, 30.0), (4L, 40.0)))
  }

  test("mergeOrders: row accounting and merged values at sf0.001") {
    val d = "/root/testdata/sf0.001"
    val base = Tables.orders(spark, d)
    val nBase = base.count()
    val nIns = base.filter(col("o_orderkey") % 97 === 0).count()
    val out = MergeUpsert.mergeOrders(spark, d).cache()
    try {
      assert(out.count() == nBase + nIns)
      // every 7th key: status U and price = cents*11 div 10 (floor)
      // base keys start at 0, so inserted keys are exactly >= 20000000
      val upd = out.filter(col("o_orderkey") % 7 === 0 &&
        col("o_orderkey") < 20000000L)
      assert(upd.filter(col("o_orderstatus") =!= "U").count() == 0)
      val joined = upd.alias("m").join(base.alias("b"), "o_orderkey")
        .withColumn("want", expr(
          "CAST(CAST(round(b.o_totalprice * 100) AS BIGINT) * 11 div 10 AS DOUBLE) / 100.0"))
      assert(joined.filter(col("m.o_totalprice") =!= col("want")).count() == 0)
      // updates must NOT clobber the column absent from the change batch
      assert(joined.filter(col("m.o_custkey") =!= col("b.o_custkey")).count() == 0)
      // inserts: shifted keys, null custkey (no base row)
      val ins = out.filter(col("o_orderkey") >= 20000000L)
      assert(ins.count() == nIns)
      assert(ins.filter(col("o_custkey").isNotNull ||
        col("o_orderstatus") =!= "N" || col("o_totalprice") =!= 1000.0).count() == 0)
    } finally { out.unpersist(); () }
  }
}
