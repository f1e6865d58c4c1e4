package graft

/** Independent driver-side recomputes for the graph/association family
  * (q126-q131): every distributed result must equal a from-scratch
  * local implementation built directly from the parquet rows — plain
  * Scala collections and the same exact integer arithmetic, no shared
  * code with the operators under test.
  */
class GraphAnalyticsSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  /** (symmetric arc map, node set) of the supplier↔customer trade
    * graph, built locally: supplier s ↦ 2s, customer c ↦ 2c+1. */
  private lazy val tradeAdj: Map[Long, Set[Long]] = {
    val om = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val undirected = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .flatMap(r => om.get(r.getLong(0)).map(c => (2 * r.getLong(1), 2 * c + 1)))
      .toSet
    val arcs = undirected.flatMap { case (s, c) => Seq(s -> c, c -> s) }
    arcs.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
  }

  test("q126 pagerank ≡ local exact-integer power iteration") {
    val adj = tradeAdj
    var r: Map[Long, Long] = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to Graph.PageRankIters) {
      val share = r.map { case (u, ru) => u -> ru / adj(u).size }
      r = adj.keys.map { v =>
        // in-neighbors of v == out-neighbors (symmetric arcs)
        val s = adj(v).iterator.map(share).sum
        v -> (150000L + 850L * s / 1000L)
      }.toMap
    }
    val got = Graph.pageRank(spark, d).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r)
    // sanity: total rank mass stays within damping slack of n·1e6
    val n = adj.size.toLong
    assert(math.abs(r.values.sum - n * 1000000L) < n * 160000L)
  }

  test("q127 triangle counts ≡ local adjacency-set intersection") {
    val om = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = om.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    def tri(n: Long): Long = {
      val nb = adj(n).toSeq.sorted
      (for (i <- nb.indices; j <- i + 1 until nb.size
            if adj(nb(i)).contains(nb(j))) yield 1L).sum
    }
    val got = Graph.triangleCounts(spark, d).collect()
    assert(got.map(_.getLong(0)).toSet == adj.keySet)
    got.foreach { row =>
      val (node, deg, nTri, cc) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      assert(deg == adj(node).size.toLong, s"degree of $node")
      assert(nTri == tri(node), s"triangles of $node")
      val expCc = if (deg >= 2) 2000L * nTri / (deg * (deg - 1)) else 0L
      assert(cc == expCc, s"cc of $node")
    }
  }

  test("q131 bfs ≡ local breadth-first layers, exact within round bound") {
    val adj = tradeAdj
    val seeds = spark.read.parquet(s"$d/supplier.parquet")
      .select("s_suppkey", "s_nationkey").collect()
      .filter(_.getAs[Number](1).longValue < 10).map(r => 2 * r.getLong(0)).toSet
    assert(seeds.nonEmpty, "seed set empty — the query would be vacuous")
    var dist = seeds.map(_ -> 0L).toMap
    for (k <- 1 to Graph.BfsRounds) {
      val frontier = dist.filter(_._2 == k - 1).keys
        .flatMap(u => adj.getOrElse(u, Set.empty)).toSet
      dist = dist ++ frontier.filterNot(dist.contains).map(_ -> k.toLong)
    }
    val got = Graph.bfsDistances(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist)
  }

  test("q128 collocations ≡ local BigInt lift over bigram counts") {
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val toks = texts.map(_.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val bi = toks.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val nUni = toks.map(_.size.toLong).sum
    val nBi = toks.map(t => math.max(t.size - 1, 0).toLong).sum
    val scored = bi.toSeq.filter(_._2 >= 5).map { case ((w1, w2), cab) =>
      val lift = (BigInt(1000) * cab * nUni * nUni /
        (BigInt(nBi) * uni(w1) * uni(w2))).toLong
      (w1, w2, cab, uni(w1), uni(w2), lift)
    }.sortBy(x => (-x._6, x._1, x._2)).take(50)
    val got = TextAnalysis.collocations(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == scored)
  }

  test("q129 importance weights ≡ local smoothed-ratio recompute") {
    def ph(s: String) =
      s.foldLeft(0L)((a, c) => (a * 131 + c.toInt) % 1000000007L)
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).map(w => ph(w) % 1024))
    val (tgt, raw) = docs.partition(_._1 % 97 == 0)
    val tb = tgt.flatMap(_._2).groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val rb = raw.flatMap(_._2).groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val tt = tb.values.sum; val rt = rb.values.sum
    // weight table over the buckets that OCCUR (the operator's bcnt
    // relation only has observed buckets; unobserved ones never join)
    val wm: Map[Long, Long] =
      (tb.keySet ++ rb.keySet).map { b =>
        b -> (BigInt(1000) * (tb.getOrElse(b, 0L) + 1) * (rt + 1024) /
          (BigInt(rb.getOrElse(b, 0L) + 1) * (tt + 1024))).toLong
      }.toMap
    val exp = raw.map { case (id, bs) =>
      (id, bs.length.toLong, bs.map(wm).sum / bs.length)
    }.sortBy(_._1)
    val got = Curation.importanceWeights(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == exp.toSeq)
  }

  test("q130 transition matrix ≡ local per-user event walk") {
    val ev = Tables.eventsNs(spark, d)
      .selectExpr("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(e => (e._3, e._4)).map(_._2)
      s.zip(s.drop(1))
    }.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val tot = trans.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val exp = trans.toSeq.map { case ((f, t), n) =>
      (f, t, n, 1000 * n / tot(f))
    }.sortBy(x => (x._1, x._2))
    val got = Queries.eventTransitions(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == exp)
  }

  test("q141 session associations ≡ local basket recompute; lift identity holds") {
    // the test corpus, then the planted exact-30-minute gaps
    for (dir <- Seq(d, SessionFixture.dir(spark))) {
      val ev = Tables.eventsNs(spark, dir)
        .selectExpr("user_id", "event_type", "ts", "event_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // local sessionize: per user, (ts, event_id) order, 30-min gap rule
      val baskets = ev.groupBy(_._1).toSeq.flatMap { case (uid, g) =>
        val sorted = g.sortBy(e => (e._3, e._4))
        var sid = 0L
        var prev = Long.MinValue
        sorted.map { case (_, tpe, ts, _) =>
          if (prev == Long.MinValue || ts - prev > 1800000000000L) sid += 1
          prev = ts
          ((uid, sid), tpe)
        }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val nSess = baskets.size.toLong
      val tc = baskets.values.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
      val pc = baskets.values.toSeq.flatMap { s =>
        s.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) }
      }.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
        .filter(_._2 >= 5L)
      val exp = pc.toSeq.map { case ((a, b), nb) =>
        (a, b, nb, tc(a), tc(b), 1000L * nb / tc(a), 1000L * nb / tc(b),
          (BigInt(1000) * nb * nSess / (BigInt(tc(a)) * tc(b))).toLong)
      }.sortBy(x => (x._1, x._2))
      val got = Queries.sessionAssociations(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
      assert(got == exp && got.nonEmpty)
      // lift sanity: support never exceeds either side's total
      got.foreach { case (_, _, nb, na2, nb2, _, _, _) =>
        assert(nb <= na2 && nb <= nb2)
      }
    }
  }

  test("q133 event anomalies ≡ local exact-integer z-test (and a planted spike flags)") {
    val DayNs = 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), Math.floorDiv(r.getLong(1), DayNs)))
    val cnt = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byType = cnt.groupBy(_._1._1)
    val exp = cnt.toSeq.map { case ((tpe, day), n) =>
      val ns = byType(tpe).values.toSeq
      val (days, total, sumsq) = (ns.size.toLong, ns.sum, ns.map(x => x * x).sum)
      val dev = n * days - total
      val vr = days * sumsq - total * total
      val z2 = if (vr > 0) Some(1000 * dev * dev / vr) else None
      val fl = if (vr > 0 && dev * dev > 9 * vr) 1L else 0L
      (tpe, day, n, dev, z2, fl)
    }.sortBy(x => (x._1, x._2))
    val got = Queries.eventAnomalies(spark, d).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5))).toSeq
    assert(got == exp)
    assert(got.nonEmpty)
    // synthetic corpus with a planted 10× spike day: exactly that day
    // flags. Day 20000 ≈ 2024-10 keeps the fixture inside the loader's
    // plausible-epoch-nanos window (BIGINT ts is trusted as nanos only
    // when its range looks like a real event log).
    import spark.implicits._
    val epoch = 20000L
    val base =
      (0 until 30).flatMap(day => Seq.fill(10)(("click", (epoch + day) * DayNs + 1L)))
    val spike = Seq.fill(100)(("click", (epoch + 17) * DayNs + 2L))
    val synth = (base ++ spike).toDF("event_type", "ts")
    val dir = java.nio.file.Files.createTempDirectory("anom").toString
    synth.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val flagged = Queries.eventAnomalies(spark, dir).collect()
      .filter(_.getLong(5) == 1L).map(_.getLong(1)).toSeq
    assert(flagged == Seq(epoch + 17L))
  }

  test("trade arcs are a persisted stage: warm q126/q131 rebuild nothing, results identical") {
    val first = Graph.pageRank(spark, d).collect().map(_.toString).toSeq
    val b = SaltedIndex.builds("tradearcs")
    val again = Graph.pageRank(spark, d).collect().map(_.toString).toSeq
    Graph.bfsDistances(spark, d).count()
    assert(SaltedIndex.builds("tradearcs") == b, "warm graph queries re-ran the arc extraction")
    assert(again == first && first.nonEmpty)
  }

  test("q164 decayed engagement ≡ local cents-permille recompute; decay orders recency") {
    val DayNs = 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), Math.floorDiv(r.getLong(1), DayNs),
        math.floor(r.getDouble(2) * 100).toLong))
    val mxd = ev.map(_._2).max
    def wpm(day: Long): Long = {
      val agew = (mxd - day) / 7
      if (agew >= 10) 0L else 1000L / (1L << agew)
    }
    val exp = ev.groupBy(_._1).toSeq.map { case (u, es) =>
      val raw = es.map(_._3).sum
      val score = es.map(e => e._3 * wpm(e._2)).sum
      (u, es.size.toLong, raw, score,
        if (raw != 0) Some(score / raw) else None, es.map(_._2).max)
    }.sortBy(_._1)
    val got = Queries.decayedEngagement(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    // freshness is a permille in [0, 1000] for positive-valued users,
    // and a user active ONLY on the last day scores exactly 1000
    got.filter(_._3 > 0).foreach { case (_, _, _, _, f, _) =>
      assert(f.exists(x => x >= 0L && x <= 1000L)) }
  }

  test("q162 k-core ≡ local peeling cascade; survivors certify the core") {
    val k = Graph.KCoreK
    var adj = tradeAdj
    var remaining = adj.keySet
    var peeled = Map.empty[Long, (Long, Long)]
    for (r <- 1 to Graph.KCoreRounds) {
      val degOf = remaining.iterator
        .map(u => u -> adj.getOrElse(u, Set.empty).count(remaining)).toMap
      val out = degOf.filter(_._2 < k)
      peeled ++= out.map { case (u, dg) => u -> (r.toLong, dg.toLong) }
      remaining --= out.keySet
    }
    val exp = (peeled.map { case (u, (r, dg)) => (u, r, dg) } ++
      remaining.map { u =>
        (u, 0L, adj.getOrElse(u, Set.empty).count(remaining).toLong) })
      .toSeq.sortBy(_._1)
    val got = Graph.kCore(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp && got.nonEmpty)
    // output covers EVERY graph node exactly once (incl. nodes that
    // lost their last neighbor — the degree-0 peel case)
    assert(got.map(_._1).toSet == adj.keySet && got.size == adj.size)
    // convergence certificate: every survivor keeps >= k neighbors
    // WITHIN the core — the defining k-core property
    val core = got.filter(_._2 == 0L).map(_._1).toSet
    core.foreach { u => assert(adj(u).count(core) >= k) }
    // and peeled degrees were genuinely sub-k at peel time
    assert(got.filter(_._2 > 0L).forall(_._3 < k))
  }

  test("q163 label propagation ≡ local synchronous rounds with self-vote") {
    val adj = tradeAdj
    var lbl: Map[Long, Long] = adj.keys.map(u => u -> u).toMap
    for (_ <- 1 to Graph.LabelPropRounds) {
      lbl = adj.keys.map { u =>
        val votes = (adj(u).toSeq.map(lbl) :+ lbl(u))
          .groupBy(identity).map { case (l, xs) => (l, xs.size) }
        u -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val got = Graph.labelProp(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl && got.nonEmpty)
    // labels are node ids, and propagation actually merged something:
    // fewer communities than nodes
    assert(got.values.toSet.subsetOf(adj.keySet))
    assert(got.values.toSet.size < adj.size)
  }
}
