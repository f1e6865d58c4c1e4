package graft

/** Independent driver-side recomputes for q172-q174: each distributed
  * result must equal a from-scratch local implementation — plain Scala
  * collections, the same exact arithmetic, no shared code with the
  * operators under test.
  */
class PairMiningSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("q172 mutual-NN ≡ local per-cell argmax + reciprocity filter") {
    // read the SAME persisted cells the operator probes (the clustering
    // itself is pinned by KmeansSpec/IvfIndex specs); recompute the
    // within-cell top-1 and the mutual filter from scratch
    val (_, corpus) = IvfIndex.buildOrLoad(spark, d, nlist = 16)
    val rows = corpus.collect().map { r =>
      (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Double](r.fieldIndex("v")).toArray,
        r.getInt(r.fieldIndex("cell")))
    }
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val top1: Map[Long, (Long, Double, Int)] =
      rows.groupBy(_._3).toSeq.flatMap { case (_, cell) =>
        cell.toSeq.flatMap { case (id, v, c) =>
          val others = cell.filter(_._1 != id)
          if (others.isEmpty) Seq.empty
          else {
            val scored = others.map { case (oid, ov, _) =>
              (dotSeq(v, ov) / math.sqrt(dotSeq(v, v) * dotSeq(ov, ov)), oid)
            }
            // (score desc, id asc) — TopKByScore order
            val best = scored.minBy { case (s, oid) => (-s, oid) }
            Seq(id -> (best._2, best._1, c))
          }
        }
      }.toMap
    val exp = top1.toSeq.collect {
      case (a, (b, cos, cell)) if a < b &&
        top1.get(b).exists(_._1 == a) =>
        (a, b, cell, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = Similarity.mutualNn(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got == exp && got.nonEmpty)
    // reciprocity is strict: no vector may appear in two pairs
    val ids = got.flatMap(p => Seq(p._1, p._2))
    assert(ids.distinct.size == ids.size)
  }

  private lazy val docRows: Seq[(Long, String, Long, Array[String])] =
    spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3).split(" ", -1)))

  test("q173 rank fusion ≡ local min-ranks summed") {
    val m = docRows.map { case (id, lang, nc, tk) =>
      (id, lang, tk.length.toLong, tk.distinct.length.toLong, nc)
    }
    def minRank(vals: Seq[(Long, Long)]): Map[Long, Long] = {
      // (doc_id, value) -> 1 + count of strictly larger values
      val counts = vals.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      vals.map { case (id, v) =>
        id -> (1L + counts.filter(_._1 > v).values.sum)
      }.toMap
    }
    val exp = m.groupBy(_._2).flatMap { case (_, docs) =>
      val rTok = minRank(docs.map(t => (t._1, t._3)))
      val rTyp = minRank(docs.map(t => (t._1, t._4)))
      val rChr = minRank(docs.map(t => (t._1, t._5)))
      docs.map { case (id, lang, nt, ny, nc) =>
        (id, lang, nt, ny, nc, rTok(id), rTyp(id), rChr(id),
          rTok(id) + rTyp(id) + rChr(id))
      }
    }.toSeq.sortBy(_._1)
    val got = Curation.rankFusion(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(got == exp && got.nonEmpty)
  }

  test("q174 winsorize ≡ local clip at rank-picked p05/p95") {
    val exp = docRows.groupBy(_._2).map { case (lang, docs) =>
      val lens = docs.map(_._4.length.toLong).sorted
      val n = lens.size.toLong
      def pick(k: Long): Long = lens(((n * k + 99) / 100 - 1).toInt)
      val (lo, hi) = (pick(5), pick(95))
      val clipped = lens.map(v => math.max(lo, math.min(hi, v)))
      (lang, n, lo, hi,
        lens.count(_ < lo).toLong, lens.count(_ > hi).toLong,
        lens.sum / n, clipped.sum / n)
    }.toSeq.sortBy(_._1)
    val got = Curation.winsorizedStats(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got == exp && got.nonEmpty)
    // winsorized mean is a real clip: bounded by the clip bounds
    assert(got.forall(t => t._8 >= t._3 && t._8 <= t._4))
  }

  test("q175 attribution ≡ local window scan; credit conserves 1e6 per conversion mod flooring") {
    val WeekNs = 7L * 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val convs = ev.filter(_._3 == "purchase")
    val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
    case class Acc(var touched: Long = 0, var linear: Long = 0, var wins: Long = 0)
    val acc = scala.collection.mutable.Map[String, Acc]()
    var organic = 0L
    for ((cid, u, _, cts) <- convs) {
      val w = touches.filter(t =>
        t._2 == u && t._4 <= cts && t._4 > cts - WeekNs)
      if (w.isEmpty) organic += 1
      else {
        val n = w.length.toLong
        val last = w.maxBy(t => (t._4, t._1))
        acc.getOrElseUpdate(last._3, Acc()).wins += 1
        for ((ch, g) <- w.groupBy(_._3)) {
          val a = acc.getOrElseUpdate(ch, Acc())
          a.touched += 1
          a.linear += 1000000L * g.length / n
        }
      }
    }
    val exp = (acc.toSeq.map { case (ch, a) => (ch, a.touched, a.linear, a.wins) } :+
      (("organic", organic, organic * 1000000L, organic))).sortBy(_._1)
    val got = Queries.attribution(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == exp && got.nonEmpty)
    // linear credit conserves ≤ 1e6 per touched conversion (floor loss only)
    val touchedConvs = convs.count { case (_, u, _, cts) =>
      touches.exists(t => t._2 == u && t._4 <= cts && t._4 > cts - WeekNs)
    }
    val totalLinear = got.filter(_._1 != "organic").map(_._3).sum
    assert(totalLinear <= 1000000L * touchedConvs &&
      totalLinear > 1000000L * touchedConvs - 1000000L)
  }

  test("q176 priority sample ≡ local integer priorities; weight-monotone") {
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 1000000007L)
    val rows = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val exp = rows.toSeq.map { case (id, src, nc) =>
      val u = ph(s"smp:$id") % 1000000L + 1L
      (id, src, nc, u, nc * 1000000L / u)
    }.sortBy(t => (-t._5, t._1)).take(Curation.PrioritySampleK)
    val got = Curation.prioritySample(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.sortBy(t => (-t._5, t._1)) == exp && got.size == Curation.PrioritySampleK)
  }

  test("q178 personalized PageRank ≡ local seed-restart iteration") {
    val adj = tradeAdjLocal
    val outdeg = adj.map { case (n, vs) => n -> vs.size.toLong }
    val seeds = adj.keySet.filter(n => n % 2 == 0 && (n / 2) % 5 == 0)
    var r = adj.keySet.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to Graph.PageRankIters) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, vs) <- adj; v <- vs) in(v) += r(u) / outdeg(u)
      r = adj.keySet.map(n =>
        n -> ((if (seeds(n)) 150000L else 0L) + 850L * in(n) / 1000L)).toMap
    }
    val exp = r.toSeq.filter(_._2 > 0).sortBy(_._1)
    val got = Graph.personalizedPageRank(spark, d).collect().toSeq
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(got == exp && got.nonEmpty)
    // teleport is seed-only: a node with positive score is a seed or
    // has an in-neighbor with positive score at the previous round
    assert(seeds.forall(s => got.toMap.getOrElse(s, 0L) >= 150000L))
  }

  /** Local symmetric trade-graph adjacency (s ↦ 2s, c ↦ 2c+1). */
  private lazy val tradeAdjLocal: Map[Long, Seq[Long]] = {
    val om = spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val undirected = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .flatMap(r => om.get(r.getLong(0)).map(c => (2 * r.getLong(1), 2 * c + 1)))
      .toSet
    val arcs = undirected.toSeq.flatMap { case (s, c) => Seq(s -> c, c -> s) }
    arcs.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
  }

  test("q179 small-quantity revenue ≡ local correlated threshold") {
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        math.round(r.getDouble(2) * 100)))
    val per = li.groupBy(_._1).map { case (pk, xs) =>
      pk -> (xs.map(_._2).sum, xs.length.toLong)
    }
    val sel = li.filter { case (pk, qc, _) =>
      val (sq, cnt) = per(pk); 5L * qc * cnt < sq
    }
    val exp = (sel.length.toLong, sel.map(_._1).distinct.length.toLong,
      sel.map(_._3).sum / 7L)
    val r = Queries.smallQuantityRevenue(spark, d).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == exp && exp._1 > 0)
  }

  test("q180 stratified sample ≡ local per-language top-K; quota respected") {
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 1000000007L)
    val exp = docRows.map { case (id, lang, nc, _) =>
      val u = ph(s"smp:$id") % 1000000L + 1L
      (lang, id, nc * 1000000L / u)
    }.groupBy(_._1).toSeq.flatMap { case (lang, xs) =>
      xs.sortBy(t => (-t._3, t._2)).take(Curation.StratSampleK)
        .zipWithIndex.map { case ((_, id, pr), i) => (lang, i + 1L, id, pr) }
    }.sortBy(t => (t._1, t._2))
    val got = Curation.stratifiedPrioritySample(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == exp && got.nonEmpty)
    assert(got.groupBy(_._1).values.forall(_.size <= Curation.StratSampleK))
  }

  test("q181 session paths ≡ local sessionize + trigram scan") {
    // the test corpus, then the planted exact-30-minute gaps
    for (dir <- Seq(d, SessionFixture.dir(spark))) {
      val ev = Tables.eventsNs(spark, dir)
        .select("event_id", "user_id", "event_type", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      val paths = scala.collection.mutable.Map[(String, String, String),
        (Long, Set[(Long, Long)])]()
      for ((u, evs) <- ev.groupBy(_._2)) {
        val sorted = evs.sortBy(e => (e._4, e._1))
        var sid = 0L
        var prev = Long.MinValue
        val withSid = sorted.map { e =>
          if (prev == Long.MinValue || e._4 - prev > 1800000000000L) sid += 1
          prev = e._4
          (e._3, sid)
        }
        for (w <- withSid.sliding(3) if w.length == 3 && w(0)._2 == w(2)._2) {
          val k = (w(0)._1, w(1)._1, w(2)._1)
          val (n, ss) = paths.getOrElse(k, (0L, Set.empty[(Long, Long)]))
          paths(k) = (n + 1, ss + ((u, w(0)._2)))
        }
      }
      val exp = paths.toSeq
        .map { case ((a, b, c), (n, ss)) => (a, b, c, n, ss.size.toLong) }
        .sortBy(t => (-t._4, t._1, t._2, t._3)).take(20)
      val got = Queries.sessionPaths(spark, dir).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
      assert(got == exp && got.nonEmpty)
    }
  }

  /** Local q23 pipeline: distinct 3-gram polyhash shingles, 16
    * minhashes, 4 band keys — same integer arithmetic, no shared
    * code. */
  private def localPh(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 1000000007L)

  private lazy val localShingles: Map[Long, Set[Long]] =
    spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        r.getLong(0) -> tk.sliding(3).filter(_.length == 3)
          .map(g => localPh(g.mkString(" "))).toSet
      }.toMap.filter(_._2.nonEmpty)

  private lazy val localMinhash: Map[Long, IndexedSeq[Long]] =
    localShingles.map { case (id, hs) =>
      id -> (0 until 16).map { j =>
        hs.map(h => ((2L * j + 1) * h + 12345L + 7919L * j) % 1000000007L).min
      }
    }

  private lazy val localCands: Set[(Long, Long)] = {
    val bandKey = localMinhash.map { case (id, mh) =>
      id -> (0 until 4).map(b =>
        mh.slice(4 * b, 4 * b + 4)
          .foldLeft(0L)((acc, m) => (acc * 131 + m) % 1000000007L))
    }
    val ids = bandKey.keys.toSeq.sorted
    (for (i <- ids.indices; j <- i + 1 until ids.size;
          a = ids(i); b = ids(j)
          if (0 until 4).exists(k => bandKey(a)(k) == bandKey(b)(k)))
      yield (a, b)).toSet
  }

  test("q182 LSH eval ≡ local recall/precision over exact ground truth") {
    val exact = (for {
      (a, ha) <- localShingles.toSeq; (b, hb) <- localShingles.toSeq
      if a < b
      cm = (ha intersect hb).size
      if cm.toDouble / (ha.size + hb.size - cm) >= 0.5
    } yield (a, b)).toSet
    val hit = (exact intersect localCands).size.toLong
    val exp = (exact.size.toLong, localCands.size.toLong, hit,
      1000L * hit / math.max(exact.size, 1),
      1000L * hit / math.max(localCands.size, 1))
    val r = Dedup.lshEval(spark, d).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == exp)
    assert(exp._1 > 0 && exp._3 <= math.min(exp._1, exp._2))
  }

  test("q183 calibration ≡ local per-agreement exact-Jaccard stats") {
    val rows = localCands.toSeq.map { case (a, b) =>
      val agree = (0 until 16).count(j => localMinhash(a)(j) == localMinhash(b)(j)).toLong
      val (ha, hb) = (localShingles(a), localShingles(b))
      val cm = (ha intersect hb).size.toLong
      (agree, 1000L * cm / (ha.size + hb.size - cm))
    }
    val exp = rows.groupBy(_._1).toSeq.map { case (k, xs) =>
      val e = xs.map(_._2)
      (k, xs.size.toLong, e.sum / e.size, e.min, e.max, 1000L * k / 16L)
    }.sortBy(_._1)
    val got = Dedup.minhashCalibration(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp && got.nonEmpty)
    // estimator sanity: mean exact similarity is monotone-ish in
    // agreement at the extremes (perfect agreement ⇒ highest mean)
    if (got.size >= 2)
      assert(got.last._3 >= got.head._3)
  }

  test("q184 manifest: conservation — every cluster ships exactly one doc, no split straddle") {
    val canon = Curation.canonicalDocs(spark, d).collect()
    val manifest = Curation.exportManifest(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // total docs across cells == number of clusters
    assert(manifest.map(_._3).sum == canon.length.toLong)
    // shard ids in range; (split, shard) cells unique
    assert(manifest.forall(m => m._2 >= 0 && m._2 < Curation.ManifestShards))
    assert(manifest.map(m => (m._1, m._2)).distinct.size == manifest.size)
    // char mass equals the canonical docs' chars exactly
    val chars = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val canonChars = canon.map(r => chars(r.getLong(1))).sum
    assert(manifest.map(_._4).sum == canonChars)
  }

  test("q185 MAD outliers ≡ local robust stats") {
    val exp = docRows.groupBy(_._2).map { case (lang, docs) =>
      val lens = docs.map(_._4.length.toLong).sorted
      val n = lens.size
      def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
      val med = lowerMedian(lens)
      val mad = lowerMedian(lens.map(v => math.abs(v - med)))
      val out = lens.count(v => math.abs(v - med) > 3 * mad).toLong
      (lang, n.toLong, med, mad, out, 1000L * out / n)
    }.toSeq.sortBy(_._1)
    val got = Curation.madOutliers(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp && got.nonEmpty)
  }

  test("q186 dim stats ≡ local per-dimension accounting") {
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("cast(embedding as array<double>) as v").collect()
      .map(_.getSeq[Double](0).toArray)
    val dims = vecs.head.length
    val exp = (0 until dims).map { p =>
      val vms = vecs.map(v => math.floor(v(p) * 1e6).toLong + 1000000L)
      val n = vms.length.toLong
      val (s1, s2) = (vms.sum, vms.map(x => BigInt(x) * x).sum)
      val variance = ((BigInt(n) * s2 - BigInt(s1) * s1) / (BigInt(n) * n)).toLong
      (p.toLong, n, vms.min - 1000000L, vms.max - 1000000L,
        s1 / n - 1000000L, variance,
        if (vms.min == vms.max) 1L else 0L)
    }
    val got = Similarity.embeddingDimStats(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got == exp && got.nonEmpty)
    // live embeddings: no dead dimensions expected in the fixture
    assert(got.forall(_._7 == 0L))
  }

  test("q177 fertility ≡ local byte/granule accounting") {
    val exp = spark.read.parquet(s"$d/documents.parquet")
      .select("lang", "source", "text").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .groupBy(t => (t._1, t._2)).toSeq
      .map { case ((lang, src), docs) =>
        val words = docs.flatMap(_._3.split(" ", -1))
        val nw = words.size.toLong
        val gran = words.map(w => (w.getBytes("UTF-8").length + 3L) / 4L).sum
        val bytes = docs.map(_._3.getBytes("UTF-8").length.toLong).sum
        (lang, src, docs.size.toLong, nw, gran, bytes,
          1000L * gran / nw, 1000L * nw / math.max(bytes, 1L), 1000L * bytes / nw)
      }.sortBy(t => (t._1, t._2))
    val got = TextAnalysis.tokenizerFertility(spark, d).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(got == exp && got.nonEmpty)
  }
}
