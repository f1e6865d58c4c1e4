package graft

/** Independent recomputes for the third round-7 batch (q203-q206) —
  * same discipline as NewOpsRound7b/cSpec: plain Scala collections
  * over the raw parquet rows, identical exact integer arithmetic, no
  * shared code with the operators under test.
  */
class NewOpsRound7dSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("q203 pruning audit ≡ local file-stats scan") {
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .selectExpr("date_format(l_shipdate, 'yyyy-MM') AS f", "l_orderkey",
        "CAST(round(l_extendedprice * 100) AS LONG) AS pc", "l_quantity")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byF = li.groupBy(_._1)
    case class St(c: Long, minOk: Long, maxOk: Long, maxPc: Long, maxQ: Double)
    val stats = byF.view.mapValues(rs => St(rs.size.toLong,
      rs.map(_._2).min, rs.map(_._2).max, rs.map(_._3).max,
      rs.map(_._4).max)).toMap
    val nf = stats.size.toLong
    def rep(pred: String, pruned: St => Boolean, matches: ((String, Long, Long, Double)) => Boolean) = {
      val pr = stats.values.count(pruned).toLong
      val sc = stats.values.collect { case s if !pruned(s) => s.c }.sum
      val m = li.count(matches).toLong
      (pred, nf, pr, sc, m, if (m > 0) Some(1000 * sc / m) else None)
    }
    val exp = Seq(
      rep("orderkey_1k_2k", s => s.maxOk < 1000 || s.minOk > 2000,
        r => r._2 >= 1000 && r._2 <= 2000),
      rep("price_ge_50k", _.maxPc < 5000000L, _._3 >= 5000000L),
      rep("quantity_ge_45", _.maxQ < 45.0, _._4 >= 45.0),
      rep("shipdate_ge_1998", _ => false, _ => false))
      .map {
        // the date predicate prunes on the file key itself
        case ("shipdate_ge_1998", n, _, _, _, _) =>
          val pruned = stats.keys.filter(_ < "1998-01")
          val sc = stats.collect { case (f, s) if f >= "1998-01" => s.c }.sum
          val m = li.count(_._1 >= "1998-01").toLong
          ("shipdate_ge_1998", n, pruned.size.toLong, sc, m,
            if (m > 0) Some(1000 * sc / m) else None)
        case other => other
      }
    val got = Queries.pruningStats(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(got == exp)
    // the layout-aligned predicate prunes; an uncorrelated one doesn't
    // — that contrast IS the operator's point
    assert(exp.exists(t => t._1 == "shipdate_ge_1998" && t._3 > 0))
    assert(exp.exists(t => t._1 == "orderkey_1k_2k" && t._3 < nf))
  }

  test("q204 two-hop reach ≡ local adjacency sets") {
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val os = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_custkey").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val edges = li.flatMap { case (ok, s) =>
      os.get(ok).map(c => (s * 2, c * 2 + 1)) }.distinct
    val adj = collection.mutable.Map[Long, Set[Long]]()
    for ((s, c) <- edges) {
      adj(s) = adj.getOrElse(s, Set()) + c
      adj(c) = adj.getOrElse(c, Set()) + s
    }
    val exp = adj.toSeq.map { case (v, nb) =>
      val two = nb.flatMap(adj(_)) - v -- nb
      (v, nb.size.toLong, two.size.toLong)
    }.sortBy(_._1)
    val got = Graph.twoHopReach(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == exp)
    assert(exp.exists(_._3 > 0))
  }

  test("q205 churn labels ≡ local window scan") {
    val ev = spark.read.parquet(s"$d/events.parquet")
      .selectExpr("user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) * 1000 div 86400000000000 AS day",
        "event_type").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val md = ev.map(_._2).max
    val exp = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val obs = rows.filter(r => r._2 >= md - 13 && r._2 <= md - 7)
      if (obs.isEmpty) None else Some((u, obs.size.toLong,
        obs.map(_._2).distinct.size.toLong,
        obs.count(_._3 == "purchase").toLong,
        md - 7 - obs.map(_._2).max,
        if (rows.exists(r => r._2 >= md - 6 && r._3 == "purchase")) 0L
        else 1L))
    }.sortBy(_._1)
    val got = Queries.churnLabels(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp)
    assert(exp.exists(_._6 == 1L) && exp.exists(_._6 == 0L),
      "both labels must occur")
  }

  test("IVF scaledNlist floors to 16 at driver SFs and scales beyond") {
    // the |cell|² consumers (q115/q172) rely on this: constant ~125-
    // vector cells, not constant cell COUNT (the round-7 ScaleProbe
    // measured q172 at 14.7x wall for 10x data with fixed nlist=16)
    assert(IvfIndex.scaledNlist(spark, d) == 16)
    assert(IvfIndex.scaledNlist(spark, "/root/testdata/sf0.1") == 16)
    val tmp = java.nio.file.Files.createTempDirectory("nlist").toString
    import spark.implicits._
    (1L to 20001L).toDF("vec_id").write.parquet(s"$tmp/embeddings.parquet")
    assert(IvfIndex.scaledNlist(spark, tmp) == 161) // ceil(20001/125)
    // the same rows in several part files
    (1L to 20001L).toDF("vec_id").repartition(3).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    assert(IvfIndex.scaledNlist(spark, tmp) == 161)
  }

  test("q206 A/B SRM ≡ local hash assignment") {
    val users = spark.read.parquet(s"$d/events.parquet")
      .select("user_id").collect().map(_.getLong(0)).distinct.toSeq
    val exp = (0L to 4L).flatMap { e =>
      val na = users.count(u => ((u + e * 1000003L) * 2654435761L) % 1000 < 500).toLong
      val n = users.size.toLong
      Seq((e, "a", na), (e, "b", n - na)).map { case (ex, arm, o) =>
        (ex, arm, o, 1000 * n / 2, 1000 * (2 * o - n) * (2 * o - n) / (2 * n))
      }
    }.sortBy(t => (t._1, t._2))
    val got = Queries.abSrm(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == exp)
  }
}
