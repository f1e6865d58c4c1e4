package graft

import org.apache.spark.sql.functions._

/** Round-10 batch h: q292 session transition impurity, q293 quality ×
  * duplication association, q294 priority SLA audit — local
  * recomputes plus the impurity-range and band-coherence
  * certificates. */
class NewOpsRound10hSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("q292 impurity ≡ local session recompute; Gini within [0, (k-1)/k]") {
    // the test corpus, then the planted exact-30-minute gaps
    for (dir <- Seq(d, SessionFixture.dir(spark))) {
      val ev = Tables.eventsNs(spark, dir)
        .select("user_id", "event_id", "event_type", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val sorted = g.sortBy(e => (e._4, e._2))
        // session split at 30-minute gaps, transitions within sessions
        val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long, String, Long)]]) {
          case (acc, e) =>
            if (acc.isEmpty || e._4 - acc.last.last._4 > 1800000000000L)
              acc :+ Vector(e)
            else acc.init :+ (acc.last :+ e)
        }
        sessions.flatMap(s => s.sliding(2).collect {
          case Seq(a, b) => (a._3, b._3)
        })
      }
      val exp = trans.groupBy(_._1).map { case (ante, g) =>
        val counts = g.groupBy(_._2).map { case (nxt, h) => nxt -> h.size.toLong }
        val n = counts.values.sum
        val ssq = counts.values.map(c => BigInt(c) * c).sum
        val gini = ((BigInt(1000000) * (BigInt(n) * n - ssq)) /
          (BigInt(n) * n)).toLong
        val (topNxt, topC) = counts.toSeq.sortBy { case (x, c) => (-c, x) }.head
        (ante, n, counts.size.toLong, gini, topNxt, 1000L * topC / n)
      }.toSeq.sortBy(_._1)
      val got = Queries.transitionImpurity(spark, dir).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getLong(5)))
      assert(got == exp)
      // Gini bounds: 0 ≤ g ≤ (k−1)/k · 1e6 (k = next-type fan-out)
      got.foreach { t =>
        assert(t._4 >= 0L && t._4 <= 1000000L * (t._3 - 1) / t._3)
      }
    }
  }

  test("q293 association ≡ local recompute; rates cohere with totals") {
    val labels = Dedup.nearDupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        val band = (1000L * tk.distinct.length / tk.length) / 100L
        (band, if (labels(r.getLong(0)) >= 2L) 1L else 0L)
      }
    val nn = docs.length.toLong
    val dd = docs.map(_._2).sum
    val exp = docs.groupBy(_._1).map { case (band, g) =>
      val n = g.length.toLong
      val du = g.map(_._2).sum
      (band, n, du, 1000L * du / n,
        if (dd == 0L) 0L else 1000L * du * nn / (n * dd))
    }.toSeq.sortBy(_._1)
    val got = Queries.qualityDupAssociation(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == exp)
    // the bands partition the corpus and the dup mass
    assert(got.map(_._2).sum == nn && got.map(_._3).sum == dd)
  }

  test("q294 SLA ≡ local histogram recompute; P50 ≤ P90 ≤ max") {
    val lags = spark.read.parquet(s"$d/lineitem.parquet")
      .join(spark.read.parquet(s"$d/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("o_orderpriority AS priority",
        "CAST(datediff(l_shipdate, o_orderdate) AS BIGINT) AS lag")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = lags.groupBy(_._1).map { case (p, g) =>
      val sorted = g.map(_._2).sorted
      val n = sorted.length.toLong
      def rankVal(rank: Long): Long = sorted((rank - 1).toInt)
      val breach = sorted.count(_ > Queries.SlaBreachDays).toLong
      (p, n, rankVal((n + 1) / 2), rankVal((9 * n + 9) / 10),
        sorted.last, 1000L * breach / n)
    }.toSeq.sortBy(_._1)
    val got = Queries.prioritySlaAudit(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp)
    got.foreach(t => assert(t._3 <= t._4 && t._4 <= t._5))
  }
}
