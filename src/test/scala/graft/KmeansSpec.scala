package graft

/** q136 fixed-round integer k-means — full independent local Lloyd
  * recompute (quantize → first-k init → assign/update/assign with the
  * documented tie-breaks) compared row-for-row against the distributed
  * plan, plus clustering sanity properties. */
class KmeansSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("q136 kmeans ≡ local exact-integer Lloyd recompute") {
    val k = Similarity.KmeansK
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1e6).toLong).toArray))
      .sortBy(_._1)
    def assign(cents: Map[Long, Array[Long]]): Map[Long, (Long, Long)] =
      vecs.map { case (id, v) =>
        val (cid, d2) = cents.toSeq.map { case (c, cm) =>
          (c, v.zip(cm).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.minBy { case (c, dd) => (dd, c) }
        id -> (cid, d2)
      }.toMap
    val c0 = vecs.take(k).zipWithIndex.map { case ((_, v), i) => i.toLong -> v }.toMap
    val a1 = assign(c0)
    val c1 = a1.toSeq.groupBy(_._2._1).map { case (cid, members) =>
      val vs = members.map { case (id, _) => vecs.find(_._1 == id).get._2 }
      cid -> Array.tabulate(vs.head.length) { p =>
        Math.floorDiv(vs.map(_(p)).sum, vs.size.toLong)
      }
    }
    val a2 = assign(c1)
    val exp = a2.toSeq.map { case (id, (cid, d2)) => (id, cid, d2) }.sortBy(_._1)
    val got = Similarity.kmeansEmbed(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp)
    // sanity: all vectors assigned exactly once, several cells occupied
    assert(got.map(_._1) == vecs.map(_._1).toSeq)
    assert(got.map(_._2).distinct.size >= 2)
    assert(got.forall { case (_, cid, d2) => cid >= 0 && cid < k && d2 >= 0 })
  }

  test("q143 centroid classify ≡ local nearest-prototype recompute") {
    val rows = Tables.embeddings(spark, d)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => math.floor(v.toDouble * 1e6).toLong).toArray))
      .sortBy(_._1)
    // q64's centroid arithmetic: floor of the DOUBLE mean of micro-units
    val cents = rows.groupBy(_._2).map { case (lbl, members) =>
      lbl -> Array.tabulate(members.head._3.length) { p =>
        math.floor(members.map(_._3(p)).sum.toDouble / members.size).toLong
      }
    }
    val exp = rows.map { case (id, lbl, v) =>
      val byD2 = cents.toSeq.map { case (c, cm) =>
        (c, v.zip(cm).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (c, dd) => (dd, c) }
      val (pred, best) = byD2.head
      (id, lbl, pred, best, byD2(1)._2 - best, if (lbl == pred) 1L else 0L)
    }.toSeq
    val got = Similarity.centroidClassify(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp)
    // sanity: every vector classified once; margins non-negative; a
    // label's OWN members are not uniformly closer to other prototypes
    assert(got.map(_._1) == rows.map(_._1).toSeq)
    assert(got.forall(_._5 >= 0))
    assert(got.count(_._6 == 1L) > 0)
  }

  test("q153 embed outliers ≡ local recompute from the gated assignment") {
    val asg = Similarity.kmeansEmbed(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mean = asg.groupBy(_._2).view
      .mapValues(g => g.map(_._3).sum / g.size).toMap
    val exp = asg.map { case (v, c, d2) =>
      val m = math.max(mean(c), 1L)
      val ratio = 1000L * d2 / m
      (v, c, d2, mean(c), ratio, if (ratio >= 2500) 1L else 0L)
    }.sortBy(_._1).toSeq
    val got = Similarity.embedOutliers(spark, d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    // a mean can never sit below every member: each cluster keeps at
    // least one non-outlier
    got.groupBy(_._2).values.foreach(g => assert(g.exists(_._6 == 0L)))
    // the near-uniform corpus concentrates (max ratio ~1.1x): zero
    // flags here is the honest answer — the flag PATH is proven below
    assert(got.forall(_._6 == 0L))
  }

  test("q153: a planted far-out vector flags; its tight cluster-mates do not") {
    import spark.implicits._
    // 8 tight 3-vector clusters (seeds = first 8 ids) + one genuine
    // outlier far from everything, landing in cluster 0's cell
    val tight = (0 until 8).flatMap { c =>
      (0 until 3).map { j =>
        (c + 8L * j, Seq.fill(4)(c * 10.0f + j * 0.001f))
      }
    }
    val far = Seq((24L, Seq.fill(4)(100.0f)))
    val emb = (tight ++ far).toDF("vec_id", "embedding")
    val out = Similarity.embedOutliersDf(emb).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toMap
    assert(out(24L) == 1L)
    assert(tight.map(_._1).forall(id => out(id) == 0L))
  }

  test("q160 rp project ≡ local ±1 fold; JL distance concentration holds on real pairs") {
    val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def plane(j: Int): Array[Double] = Array.tabulate(64)(i =>
      if ((((j * 64 + i).toLong * 2654435761L) & 65536L) != 0L) 1.0 else -1.0)
    def proj(v: Array[Double]): Array[Double] = Array.tabulate(16) { j =>
      val p = plane(j); var s = 0.0; var i = 0
      while (i < v.length) { s += p(i) * v(i); i += 1 }; s
    }
    val exp = vecs.flatMap { case (id, v) =>
      proj(v).zipWithIndex.map { case (p, j) =>
        (id, j.toLong, math.floor(p * 1e6).toLong) }
    }.toSeq
    val got = Similarity.rpProject(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp && got.nonEmpty)
    // the JL property the sketch exists for: squared distances scale by
    // ~m (=16) under ±1 projection — E[d2_proj] = 16·d2_orig, sd ≈
    // sqrt(2/16) ≈ 35%. Consecutive-id pairs, generous ±3σ-ish bounds.
    val byId = vecs.toMap
    val pj = vecs.map { case (id, v) => id -> proj(v) }.toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // fixed (data-independent but deterministic) planes give JL
    // concentration in DISTRIBUTION, not per worst-case pair — a
    // difference vector aligned with the plane pattern can distort
    // far beyond the random-planes σ (observed tails ~[1, 80] on this
    // corpus). Assert the distributional law: mean ≈ m = 16 and the
    // bulk inside a 4× band.
    val ratios = vecs.map(_._1).sliding(2).collect { case Array(a, b) =>
      d2(pj(a), pj(b)) / d2(byId(a), byId(b)) }.toSeq
    val mean = ratios.sum / ratios.size
    assert(mean > 8.0 && mean < 28.0, s"JL mean ratio $mean far from m=16")
    val inBand = ratios.count(r => r >= 4.0 && r <= 64.0).toDouble / ratios.size
    assert(inBand >= 0.8, s"only ${inBand * 100}%% of JL ratios inside [m/4, 4m]")
  }

  // at two SFs, so a divergence that needs corpus mass to surface (a
  // tie, a selected-vector re-pick) is exercised
  test("q161 coreset ≡ local greedy farthest-point; radius certificate holds") {
    for (d <- Seq(d, "/root/testdata/sf0.01")) {
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1e6).toLong).toArray))
        .sortBy(_._1)
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val byId = vecs.toMap
      var sel = Vector((1L, vecs.head._1, 0L))
      for (r <- 2 to Similarity.CoresetK) {
        val (pid, pd2) = vecs.map { case (id, v) =>
          (id, sel.map(s => d2(v, byId(s._2))).min)
        }.maxBy { case (id, dd) => (dd, -id) }
        sel :+= ((r.toLong, pid, pd2))
      }
      val got = Similarity.coresetSelect(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == sel && got.size == Similarity.CoresetK, s"diverged at $d")
      // greedy invariants: picks distinct; the radius sequence is
      // non-increasing from round 2 on; and the final selection COVERS:
      // no corpus vector sits farther from it than the last radius
      assert(got.map(_._2).distinct.size == got.size)
      val radii = got.drop(1).map(_._3)
      assert(radii == radii.sorted.reverse)
      val selIds = got.map(_._2).toSet
      val worst = vecs.map { case (_, v) =>
        selIds.map(s => d2(v, byId(s))).min }.max
      assert(worst <= radii.last)
    }
  }

  test("q158 cluster prototypes ≡ top-4 of the gated assignment; heap order matches") {
    // ground truth from q136's own (already recompute-pinned) output:
    // per cell, the 4 smallest (d2, vec_id)
    val asg = Similarity.kmeansEmbed(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = asg.groupBy(_._2).toSeq.flatMap { case (cid, members) =>
      members.sortBy { case (v, _, d2) => (d2, v) }.take(4).zipWithIndex
        .map { case ((v, _, d2), i) => (cid, i + 1L, v, d2) }
    }.sortBy(r => (r._1, r._2))
    val got = Similarity.clusterPrototypes(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == exp && got.nonEmpty)
    // every occupied cell is represented; a prototype's d2 is ≤ its
    // cell's mean (central by construction)
    assert(got.map(_._1).distinct.sorted ==
      asg.map(_._2).distinct.sorted.toSeq)
    val mean = asg.groupBy(_._2).view.mapValues(g => g.map(_._3).sum / g.size).toMap
    got.filter(_._2 == 1L).foreach { case (cid, _, _, d2) =>
      assert(d2 <= mean(cid)) }
  }
}
