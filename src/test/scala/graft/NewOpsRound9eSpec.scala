package graft

import org.apache.spark.sql.functions._

/** Round-9 batch e: q256 max-passage BM25, q257 margin-based bitext
  * mining, q258 k-truss peel, q259 media-hash threshold curve. Each
  * operator is recomputed locally from the raw parquet (independent
  * straight-Scala models, not the operators' own intermediates), plus
  * the planted fixtures / structural certificates that pin the
  * semantics the corpus alone may not exercise. */
class NewOpsRound9eSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.01"
  private val terms = Seq("hash", "join", "vector")

  // ---- q256 ---------------------------------------------------------
  private def localMaxPassage(docs: Array[(Long, String)])
      : Seq[(Long, Long, Long, Long, Long)] = {
    val tk = docs.map { case (id, t) => (id, t.split(" ", -1)) }
    val nDocs = tk.length.toLong
    val df = terms.map(w => w -> tk.count(_._2.contains(w)).toLong).toMap
    final case class P(id: Long, w: Long, pl: Long, tf: Map[String, Long])
    val passages = tk.flatMap { case (id, ts) =>
      ts.zipWithIndex
        .flatMap { case (tok, p) =>
          Seq((p / 16).toLong, (p / 16).toLong - 1).filter(_ >= 0)
            .map(w => (w, tok))
        }
        .groupBy(_._1).toSeq.map { case (w, rows) =>
          P(id, w, rows.length.toLong,
            terms.map(t => t -> rows.count(_._2 == t).toLong).toMap)
        }
    }
    val nPass = passages.length.toLong
    val passTok = passages.map(_.pl).sum
    val avgplMilli = 1000L * passTok / nPass
    def score(p: P): Long = {
      val norm = 250L + 750000L * p.pl / avgplMilli
      terms.map { w =>
        val idf = (1000L * (2L * (nDocs - df(w)) + 1L)) / (2L * df(w) + 1L)
        (idf * ((p.tf(w) * 2200000000L) /
          (p.tf(w) * 1000L + (1200L * norm) / 1000L))) / 1000L
      }.sum
    }
    val hits = passages.map(p => (p, score(p))).filter(_._2 > 0)
    hits.groupBy(_._1.id).toSeq.map { case (id, rows) =>
      val (bp, bs) = rows.maxBy { case (p, s) => (s, -p.w, p.pl) }
      (id, rows.length.toLong, bp.w, bp.pl, bs)
    }.sortBy { case (id, _, _, _, s) => (-s, id) }.take(10)
  }

  test("q256 max-passage ≡ local BM25 over 32/16 windows") {
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exp = localMaxPassage(docs)
    val got = TextAnalysis.maxPassage(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got == exp)
    assert(got.nonEmpty && got.forall(_._5 > 0))
  }

  test("q256 planted fixture: concentration wins over dilution") {
    import spark.implicits._
    // doc 1: the three terms CLUSTERED inside one window of a long doc;
    // doc 2: the same three terms SCATTERED across a doc of equal
    // length. Max-passage must (a) rank the clustered doc first and
    // (b) point at a window covering the cluster (positions 96-101 ⇒
    // windows 5 [80,111] and 6 [96,127]).
    val filler = Seq.fill(96)("x")
    val clustered = (filler ++ Seq("hash", "join", "vector", "hash",
      "join", "vector") ++ Seq.fill(60)("x")).mkString(" ")
    val scattered = (0 until 162).map { i =>
      if (i % 27 == 13) terms(i % 3) else "x"
    }.mkString(" ")
    val docs = Seq((1L, clustered), (2L, scattered)).toDF("doc_id", "text")
    val got = TextAnalysis.maxPassageDf(docs, TextAnalysis.PassageSize).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(got.head._1 == 1L, "clustered doc must rank first")
    assert(Set(5L, 6L).contains(got.head._2), "best window covers the cluster")
    assert(got.head._3 > got.last._3)
    // and the local model agrees on the fixture too
    val exp = localMaxPassage(Array((1L, clustered), (2L, scattered)))
    val full = TextAnalysis.maxPassageDf(docs, TextAnalysis.PassageSize).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(full == exp)
  }

  // ---- q257 ---------------------------------------------------------
  test("q257 bitext margin ≡ local recompute (buckets, top-4, margin)") {
    val lang = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val vecs = spark.read.parquet(s"$d/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .filter(e => lang.contains(e._1))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val buckets: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
      id -> Array.tabulate(4) { t =>
        (0 until 4).map { r =>
          var proj = 0.0
          var i = 0
          while (i < 64) {
            val sgn = if (((((t * 4 + r) * 64 + i).toLong * 2654435761L)
              & 65536L) != 0L) 1.0 else -1.0
            proj += sgn * v(i); i += 1
          }
          if (proj > 0) 1L << r else 0L
        }.sum
      }
    }.toMap
    val byId = vecs.toMap
    val ids = vecs.map(_._1).sorted
    // hot-bucket cap (never binds on this corpus — max occupancy 94;
    // modeled anyway so the local model IS the operator's contract)
    val occ = ids.flatMap(id => (0 until 4).map(t => (t, buckets(id)(t))))
      .groupBy(identity).view.mapValues(_.size).toMap
    def shared(a: Long, b: Long): Boolean =
      (0 until 4).exists { t =>
        buckets(a)(t) == buckets(b)(t) &&
          occ((t, buckets(a)(t))) <= Similarity.BitextBucketCap
      }
    val cands = for {
      ia <- ids; ib <- ids
      if ia < ib && lang(ia) != lang(ib) && shared(ia, ib)
    } yield (ia, ib)
    val cPpm = cands.map { case (a, b) =>
      val va = byId(a); val vb = byId(b)
      val c = dot(va, vb) / math.sqrt(dot(va, va) * dot(vb, vb))
      (a, b) -> math.floor(1000000.0 * c).toLong
    }.toMap
    val nbrs = cands.flatMap { case (a, b) =>
      Seq((a, b, cPpm((a, b))), (b, a, cPpm((a, b))))
    }
    val hood = nbrs.groupBy(_._1).map { case (vid, rows) =>
      val top = rows.sortBy { case (_, p, c) => (-c, p) }.take(4)
      vid -> (top.map(_._3).sum, top.length.toLong)
    }
    val exp = cands.flatMap { case (a, b) =>
      val (sa, na) = hood(a); val (sb, nb) = hood(b)
      if (sa + sb <= 0) None
      else {
        val m = 1000L * cPpm((a, b)) * (na + nb) / (sa + sb)
        if (m >= Similarity.BitextMarginMilli)
          Some((a, b, lang(a), lang(b), cPpm((a, b)), m))
        else None
      }
    }.sortBy { case (a, b, _, _, _, m) => (-m, a, b) }
    val got = Similarity.bitextMargin(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp.toSeq)
    assert(got.nonEmpty, "corpus must mine at least one candidate")
    assert(got.forall { case (_, _, la, lb, _, m) =>
      la != lb && m >= Similarity.BitextMarginMilli })
  }

  test("q257 hot-bucket cap: ≡ uncapped when nothing exceeds it; prunes a saturated-duplication fixture") {
    import spark.implicits._
    // (a) the q142 pin: with no bucket over the cap (measured max 94
    // at sf0.01), capped output is bit-identical to effectively-uncapped
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val capped = Similarity.bitextMarginDf(emb, docs,
      Similarity.BitextBucketCap).collect().toSeq.map(_.toSeq)
    val uncapped = Similarity.bitextMarginDf(emb, docs, Long.MaxValue)
      .collect().toSeq.map(_.toSeq)
    assert(capped == uncapped)
    // (b) mass-duplication fixture (the 10× replica probe's failure
    // mode in miniature): 20 copies of one vector across two langs
    // saturate every bucket they land in; cap 8 removes those buckets
    // from the index entirely, so the candidate join sees NOTHING —
    // the quadratic pair mass never materializes. (Uncapped, the
    // margin would refuse the all-tied pairs anyway; the cap is what
    // stops the C(20,2)-per-bucket WORK, which is the scale point.)
    val v = Array.fill(64)(0.5f)
    val dupEmb = (0L until 20L).map(i => (i, v.toSeq)).toDF("vec_id", "embedding")
    val dupDocs = (0L until 20L)
      .map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val pruned = Similarity.bitextMarginDf(dupEmb, dupDocs, 8L)
    assert(pruned.count() == 0L)
  }

  test("q257 margin semantics: an isolated reciprocal pair scores exactly 1000") {
    // both endpoints' whole neighborhood IS the pair, so the margin is
    // c·(1+1)/(c+c) = 1 — the criterion deliberately refuses pairs
    // with no neighborhood contrast (the hubness-normalization point)
    val c = 900000L
    val m = 1000L * c * 2L / (c + c)
    assert(m == 1000L && m < Similarity.BitextMarginMilli)
  }

  // ---- q258 ---------------------------------------------------------
  /** Local from-scratch replay of q258's fixed-round peel over a
    * canonical (p1 < p2) edge set: each round recounts every edge's
    * triangles on the surviving edges, peels those under k−2, and the
    * survivors keep their support on the final graph. Rows are
    * (p1, p2, peel_round, support) sorted by (p1, p2), as kTruss emits. */
  private def localPeel(edges0: Set[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
    val thr = (Graph.KTrussK - 2).toLong
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      es.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      es.iterator.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size.toLong
      }.toMap
    }
    var edges = edges0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var r = 1; var converged = false
    var lastSup: Map[(Long, Long), Long] = Map.empty
    while (r <= Graph.KTrussRounds && !converged) {
      val sup = supports(edges); lastSup = sup
      val peel = sup.filter(_._2 < thr)
      converged = peel.isEmpty
      if (!converged) {
        peel.foreach { case ((a, b), s) => out += ((a, b, r.toLong, s)) }
        edges = edges -- peel.keySet
      }
      r += 1
    }
    val fin = if (converged) lastSup else supports(edges)
    fin.foreach { case ((a, b), s) => out += ((a, b, 0L, s)) }
    out.sortBy(t => (t._1, t._2)).toSeq
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq
      .map(r2 => (r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3)))

  test("q258 k-truss ≡ local fixed-round peel") {
    val li = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted.take(1024)
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val thr = (Graph.KTrussK - 2).toLong
    val exp = localPeel(edges)
    val got = rowsOf(Graph.kTruss(spark, d))
    assert(got == exp)
    // peel certificate: peeled support below threshold, a real cascade
    // (some edge peels AFTER round 1 — triangles it relied on died)
    assert(got.forall { case (_, _, pr, s) => pr == 0L || s < thr })
    assert(got.exists(_._3 >= 2L), "peel must cascade past round 1")
    assert(got.exists(_._3 == 0L), "a nonempty truss must survive")
  }

  test("q258 planted graph: later rounds peel few edges; output ≡ local replay") {
    // K14 clique (support 12 per edge — a stable truss core that keeps
    // the survivor count high) + a fragile gadget: a 12-clique
    // {a, b, c1..c10} with edge (b, c1) REMOVED. Gadget supports start
    // at 9-10 (< thr = 10 for a few edges), so round 1 peels a cascade
    // seed while the K14 survives; later rounds peel the gadget
    // remnant a few edges at a time — rounds where far fewer edges
    // peel than survive, which the corpus graphs never produce (there
    // every round after the first peels at least as many as survive).
    val clique = (1L to 14L)
    val cliqueEdges = for {
      i <- clique; j <- clique if i < j
    } yield (i, j)
    val gadget = 100L +: 101L +: (110L to 119L) // a=100, b=101, c1..c10
    val gadgetEdges = (for {
      i <- gadget; j <- gadget if i < j
    } yield (i, j)).filterNot(e => e == (101L, 110L)) // drop (b, c1)
    val edges = (cliqueEdges ++ gadgetEdges).distinct
    val s = spark
    import s.implicits._

    val exp = localPeel(edges.toSet)
    // some round ≥ 2 peels fewer edges than survive it
    val smallPeel = (2L to Graph.KTrussRounds.toLong).exists { r =>
      val peeled = exp.count(_._3 == r)
      peeled > 0 && peeled < exp.count(t => t._3 == 0L || t._3 > r)
    }
    assert(smallPeel, "planted graph must peel a round smaller than its survivors")

    val got = rowsOf(Graph.kTrussOf(spark, edges.toDF("p1", "p2")))
    assert(got == exp)
    assert(got.exists(_._3 >= 2L), "peel must cascade past round 1")
    assert(got.exists(_._3 == 0L), "the K14 core must survive")
  }

  test("q258 truss ⊆ core: every truss survivor's endpoints keep ≥ k−1 truss degree... within survivors") {
    // structural certificate on the OUTPUT alone: inside the surviving
    // k-truss every edge has ≥ k−2 triangles, hence every endpoint has
    // degree ≥ k−1 within the truss (each triangle contributes a
    // distinct common neighbor). Catches an off-by-one in the peel
    // threshold without recomputation.
    val surv = Graph.kTruss(spark, d).filter(col("peel_round") === 0L)
      .select("p1", "p2").collect().map(r => (r.getLong(0), r.getLong(1)))
    if (surv.nonEmpty) {
      val deg = scala.collection.mutable.Map.empty[Long, Int]
      surv.foreach { case (a, b) =>
        deg(a) = deg.getOrElse(a, 0) + 1; deg(b) = deg.getOrElse(b, 0) + 1
      }
      assert(deg.values.forall(_ >= Graph.KTrussK - 1))
    }
  }

  // ---- q259 ---------------------------------------------------------
  test("q259 threshold curve ≡ set algebra over the two verified pair operators") {
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val eligible = docs.filter { case (_, t) => t.length - 64 >= 64 }
      .map(_._1).toSet
    val text = Dedup.minhashNearDup(spark, d)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => eligible(a) && eligible(b) }.toSet
    val media = Multimodal.aHashPairsDf(
      spark.read.parquet(s"$d/documents.parquet")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = (0L to 9L).map { tau =>
      val fired = media.filter(_._3 <= tau)
      val np = fired.length.toLong
      val tp = fired.count(p => text((p._1, p._2))).toLong
      (tau, np, tp, text.size.toLong,
        1000000L * tp / math.max(np, 1L),
        1000000L * tp / math.max(text.size.toLong, 1L))
    }
    val got = Multimodal.mediaThresholdCurve(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got == exp)
    // operating-curve shape: candidate volume and recall are monotone
    // nondecreasing in τ; the truth denominator is constant
    assert(got.sliding(2).forall { case Seq(a, b) =>
      b._2 >= a._2 && b._6 >= a._6 && a._4 == b._4 })
  }
}
