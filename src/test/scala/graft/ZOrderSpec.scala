package graft

class ZOrderSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def refMorton(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("morton16 matches the reference bit-interleave on real keys") {
    val rows = SparkEntry.queries("q60_zorder_keys")(spark, d).limit(1000).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cust = r.getLong(r.fieldIndex("cust_bits"))
      val day = r.getLong(r.fieldIndex("day_bits"))
      assert(r.getLong(r.fieldIndex("zkey")) == refMorton(cust, day),
        s"cust=$cust day=$day")
    }
  }

  test("morton16 is pure integer arithmetic inside codegen") {
    val df = SparkEntry.queries("q60_zorder_keys")(spark, d)
    df.collect() // AQE finalizes codegen stages only in the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan.take(2000))
    // "*(n)" is the compact WholeStageCodegen marker in plan strings
    assert(plan.contains("*(1)"), plan.take(2000))
  }
}
