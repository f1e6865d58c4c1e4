package graft

import org.apache.spark.sql.functions._

/** Round-9 batch h: q266 dedup-threshold percolation curve. The local
  * model is the FULL pipeline from scratch — shingle sets, 16
  * minhashes, 4 band keys, banded candidates, exact intersection /
  * union counts, integer threshold filters, union-find components —
  * sharing no code with the operator. */
class NewOpsRound9hSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.01"
  private val P = 1000000007L

  /** Union-find (union-by-min) over `ids`: each id's component min. */
  private def unionFind(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("q266 percolation curve ≡ local minhash/union-find model") {
    def ph(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 131L + c.toLong) % P)
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh: Map[Long, Set[Long]] = docs.map { case (id, t) =>
      val tk = t.split(" ", -1)
      id -> tk.sliding(3).filter(_.length == 3)
        .map(w => ph(w.mkString(" "))).toSet
    }.filter(_._2.nonEmpty).toMap
    // 16 minhashes, 4 bands of 4 (the q23 scheme)
    val bandKeys: Map[Long, Seq[(Int, Long)]] = sh.map { case (id, hs) =>
      val mh = (0 until 16).map { j =>
        hs.map(h => ((2L * j + 1L) * h + 12345L + 7919L * j) % P).min
      }
      id -> (0 until 4).map { b =>
        b -> mh.slice(4 * b, 4 * b + 4)
          .foldLeft(0L)((acc, m) => (acc * 131L + m) % P)
      }
    }
    val byBucket = bandKeys.toSeq
      .flatMap { case (id, ks) => ks.map { case (b, k) => ((b, k), id) } }
      .groupBy(_._1)
    val cands = byBucket.values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    val pcs = cands.toSeq.map { case (a, b) =>
      val cm = (sh(a) & sh(b)).size.toLong
      (a, b, cm, sh(a).size + sh(b).size - cm)
    }
    val allIds = docs.map(_._1)
    val exp = Dedup.PercolationGridPm.map { tpm =>
      val pairs = pcs.filter { case (_, _, cm, un) => 1000L * cm >= tpm * un }
      // union-find over all docs
      val label = unionFind(allIds.toSeq, pairs.map(p => (p._1, p._2)))
      val sizes = allIds.groupBy(label).map(_._2.length.toLong)
      (tpm, pairs.size.toLong,
        sizes.count(_ >= 2).toLong,
        sizes.filter(_ >= 2).sum,
        sizes.max)
    }
    val got = Dedup.dedupThresholdCurve(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == exp)
    // percolation shape: the graph only shrinks as the bar rises, and
    // the anchor threshold carries exactly the q23 pair set
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    val q23n = Dedup.minhashNearDup(spark, d).count()
    assert(got.head._2 == q23n,
      s"τ=500 edges (${got.head._2}) must equal the q23 pair count ($q23n)")
  }

  test("clusterLabels adaptive driver fast-path ≡ distributed star-CC") {
    // the verified pair graph is far under DriverCcMaxEdges, so
    // clusterLabels takes the driver union-find; starLabels runs the
    // 100 TB path on the same graph
    val docs = spark.read.parquet(s"$d/documents.parquet").select("doc_id")
    val pairs = Dedup.minhashNearDup(spark, d).select("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = labels(Dedup.clusterLabels(docs, pairs))
    assert(Dedup.lastClusterRounds == 0, "the small graph must take the driver path")
    val distributed = labels(Dedup.starLabels(docs, pairs))
    assert(Dedup.lastClusterRounds >= 1)
    val expected = unionFind(docs.collect().map(_.getLong(0)).toSeq,
      pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(driver == expected)
    assert(distributed == expected)
    assert(driver.exists { case (id, cid) => id != cid },
      "the pinned graph must actually merge something")
  }

  test("co-purchase edge stage builds once per corpus version (q127/q258 shared)") {
    val before = SaltedIndex.builds("copurchase")
    Graph.coPurchaseEdges(spark, d).count()
    val afterFirst = SaltedIndex.builds("copurchase")
    Graph.coPurchaseEdges(spark, d).count()
    assert(SaltedIndex.builds("copurchase") == afterFirst,
      "warm read must not rebuild the persisted stage")
    assert(afterFirst - before <= 1)
  }
}
