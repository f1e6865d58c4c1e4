package graft

import org.apache.spark.sql.functions._

/** r14: the q303 customer-part bipartite edge relation became a
  * persisted salted stage — build-once semantics and value identity
  * with the inline join+distinct it replaced. */
class CustPartStageSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("custpart edge stage builds once per corpus version (q303)") {
    val before = SaltedIndex.builds("custpart")
    Graph.custPartEdges(spark, d).count()
    val afterFirst = SaltedIndex.builds("custpart")
    Graph.custPartEdges(spark, d).count()
    assert(SaltedIndex.builds("custpart") == afterFirst,
      "warm read must not rebuild the persisted stage")
    assert(afterFirst - before <= 1)
  }

  test("custpart stage ≡ inline lineitem ⋈ orders distinct (c,p) pairs") {
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val os = Tables.orders(spark, d)
      .select(col("o_orderkey").as("ok2"), col("o_custkey").as("c"))
    val inline = li.join(os, col("ok") === col("ok2"))
      .select(col("c"), col("p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val staged = Graph.custPartEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(staged == inline)
    assert(staged.nonEmpty)
  }
}
