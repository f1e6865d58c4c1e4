package graft

import org.apache.spark.sql.functions._

/** Dedup / text-analysis / similarity operators on sf0.001 — value-level
  * assertions beyond the DuckDB parity gate (which is the primary
  * correctness oracle; see tools/parity.py). */
class DedupSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("exact dedup keeps one row per distinct text") {
    val out = Dedup.exact(spark, d).collect()
    val docs = Tables.documents(spark, d).count()
    assert(out.map(_.getLong(1)).sum == docs) // copies partition the corpus
    assert(out.forall(_.getLong(1) >= 1))
  }

  test("ngram jaccard finds the planted near-dup pairs, symmetric-free, thresholded") {
    val out = Dedup.ngramJaccard(spark, d).collect()
    assert(out.nonEmpty) // corpus has planted near-dups (prefix-sharing docs)
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => r.getDouble(2) >= 0.6 && r.getDouble(2) <= 1.0))
  }

  test("prefix-filtered jaccard (PPJoin) is exactly the plain inverted-index result") {
    val plain = Dedup.ngramJaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.ngramJaccardPrefix(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == plain)
    assert(plain.nonEmpty)
  }

  test("minhash LSH candidates recover the high-jaccard pairs of the exact pass") {
    val exact = Dedup.ngramJaccard(spark, d).filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDup(spark, d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 bands × 4 rows: P(candidate) = 1-(1-j^4)^4 ≈ 0.96 at j=0.8 — the
    // planted dups are far above that
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("simhash distance is a [0,32] metric and near-dups score low") {
    val out = Dedup.simhash(spark, d)
    val dists = out.select("dist").collect().map(_.getLong(0))
    assert(dists.forall(x => x >= 0 && x <= 6))
    // every planted near-dup pair from the jaccard pass is within 6 bits
    val nd = Dedup.ngramJaccard(spark, d).filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.subsetOf(sh))
  }

  test("simhash chunk blocking is lossless: identical to all-pairs Hamming") {
    // pigeonhole: Hamming ≤ 6 over 7 chunks ⇒ some chunk equal, so the
    // blocked pairing must reproduce the exact all-pairs result
    import TextOps._
    val th = transform(toks(col("text")), t => polyHash(t))
    val sig = Tables.documents(spark, d)
      .select(col("doc_id"), graft.functions.GraftFunctions.bitvote32(th).as("simhash"))
    val allPairs = sig.as("a")
      .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("dist"))
      .filter(col("dist") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = Dedup.simhash(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == allPairs)
  }

  test("embedding cosine pairs are within [-1,1], thresholded, and a high-recall subset of exact") {
    val out = Dedup.embeddingNearDup(spark, d).collect()
    assert(out.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0))
    // LSH-blocked pairs ⊆ exact all-pairs, with identical cosines
    val exact = ReferenceTwins.embeddingNearDupExact(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact.contains(k), s"false positive $k")
      assert(exact(k) == r.getDouble(2))
    }
    // recall at the loose 0.4 threshold is bounded below; the planted
    // true near-dups (cosine ≥ 0.9) must essentially all collide
    val strong = exact.filter(_._2 >= 0.9).keySet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (strong.nonEmpty)
      assert(strong.count(got.contains).toDouble / strong.size >= 0.9,
        s"strong-pair recall ${strong.count(got.contains)}/${strong.size}")
  }

  test("brute-force knn returns exactly k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(spark, d).collect()
    assert(out.length == 50) // 10 queries × k=5
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.forall { case (_, rs) =>
      rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L) &&
        rs.sortBy(_.getLong(3)).map(_.getDouble(2)).sliding(2)
          .forall(w => w.head >= w.last) // monotone by rank
    })
  }

  test("LSH knn ranks candidates identically to brute force where they overlap") {
    val bf = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(spark, d).collect()
    assert(lsh.nonEmpty)
    // cosine must agree exactly on any (q, neighbor) both paths scored
    lsh.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c == r.getDouble(2)))
    }
  }

  test("top-k aggregate (bounded heap) returns exactly the window top-k") {
    val win = Similarity.bruteForceTopK(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val agg = Similarity.bruteForceTopKAgg(spark, d).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(agg == win)
  }

  test("IVF knn: exact cosine on candidates, decent recall vs brute force") {
    val bf = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(spark, d).collect()
    assert(ivf.nonEmpty)
    // cosine must agree exactly wherever both paths scored a pair
    ivf.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c == r.getDouble(2)))
    }
    // recall of the true top-5 at nlist=16, nprobe=4
    val hits = ivf.count(r => bf.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= bf.size * 6 / 10, s"recall ${hits.toDouble / bf.size}")
  }

  test("int8 knn: exact re-rank cosines, high recall vs brute force") {
    val bf = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val q = Similarity.int8TopK(spark, d).collect()
    assert(q.nonEmpty)
    // re-rank is exact cosine → must agree exactly on shared pairs
    q.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c == r.getDouble(2)))
    }
    // 20 coarse candidates at 7-bit precision recover nearly all of top-5
    val hits = q.count(r => bf.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= bf.size * 8 / 10, s"recall ${hits.toDouble / bf.size}")
  }

  test("near-dup clusters: components cover the pair graph, labels are component minima") {
    val pairs = Dedup.minhashNearDup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = Dedup.nearDupClusters(spark, d).collect()
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, d).count()
    assert(rows.length == nDocs) // every doc labeled, singletons included
    // both endpoints of every near-dup pair share a cluster
    pairs.foreach { case (a, b) => assert(label(a) == label(b), s"$a/$b split") }
    // the label IS the min doc_id of its member set
    label.groupBy(_._2).foreach { case (lbl, m) => assert(m.keys.min == lbl) }
    // sizes are consistent with membership
    val sizes = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    label.groupBy(_._2).foreach { case (lbl, m) => assert(sizes(lbl) == m.size.toLong) }
  }

  test("64-bit simhash chunk blocking is lossless: identical to all-pairs Hamming") {
    import spark.implicits._
    // signatures straight from the operator's own kernel…
    val sigs = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.bitvote64(
          transform(split(col("text"), " "), t =>
            graft.functions.GraftFunctions.polyhash(t))).as("s"))
      .as[(Long, Long)].collect()
    // …all-pairs ground truth computed driver-side, no Spark join logic
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      dist = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if dist <= 6
    } yield {
      val (a, b) = (sigs(i), sigs(j))
      if (a._1 < b._1) (a._1, b._1, dist.toLong) else (b._1, a._1, dist.toLong)
    }).toSet
    val got = Dedup.simhash64(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "corpus has exact dups — distance-0 pairs must exist")
  }

  test("adversarial long-chain component converges in O(log n) star rounds, not diameter") {
    import spark.implicits._
    // a single path 0-1-2-…-400: diameter 400 — min-label propagation
    // would need 400 rounds; alternating large-star/small-star is
    // logarithmic in component size
    val n = 400L
    val docs = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rows = Dedup.nearDupClustersDf(docs, pairs).collect()
    assert(rows.length == n + 1)
    rows.foreach { r =>
      assert(r.getLong(1) == 0L, s"doc ${r.getLong(0)} not labeled 0")
      assert(r.getLong(2) == n + 1)
    }
    // 400 edges take clusterLabels' driver path; the round bound is a
    // property of the star rounds, so run them directly
    val star = Dedup.starLabels(docs, pairs).collect()
    assert(star.length == n + 1 && star.forall(_.getLong(1) == 0L))
    assert(Dedup.lastClusterRounds >= 1 && Dedup.lastClusterRounds <= 15,
      s"${Dedup.lastClusterRounds} rounds on a diameter-$n chain — not logarithmic")
  }

  test("clusterLabels takes the driver path at DriverCcMaxEdges edges and the star rounds above") {
    // a perfect matching {2i, 2i+1} plus two singletons: every label is
    // the pair's even member, a singleton labels itself
    val bound = Dedup.DriverCcMaxEdges
    Seq(bound -> true, (bound + 1) -> false).foreach { case (m, driver) =>
      val pairs = spark.range(m)
        .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
      val docs = spark.range(2 * m + 2).select(col("id").as("doc_id"))
      val labels = Dedup.clusterLabels(docs, pairs)
      val rounds = Dedup.lastClusterRounds
      if (driver) assert(rounds == 0, s"$m edges: $rounds star rounds, expected the driver path")
      else assert(rounds >= 1, s"$m edges: no star round ran")
      val expected = when(col("doc_id") < 2 * m, col("doc_id") - col("doc_id") % 2)
        .otherwise(col("doc_id"))
      assert(labels.count() == 2 * m + 2)
      assert(labels.filter(col("cluster_id") =!= expected).isEmpty, s"$m edges: wrong labels")
    }
  }

  test("decontamination flags exactly the docs sharing a 4-gram with the eval set") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq.sliding(4)
        .filter(_.size == 4).map(_.mkString(" ")).toSet).toMap
    val evalShingles = docs.filter(_._1 % 97 == 0).values.flatten.toSet
    val expected = docs.filter { case (id, sh) =>
      id % 97 != 0 && (sh & evalShingles).nonEmpty
    }.map { case (id, sh) => id -> (sh & evalShingles).size.toLong }
    val got = Dedup.decontaminate(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("ingest dedup: survivors are new docs and exact corpus twins always drop") {
    val docs = Tables.documents(spark, d)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).drop(3).toInt >= 15,
        r.getString(2).toLowerCase))
    val corpusTexts = docs.collect { case (_, false, t) => t }.toSet
    val newDocs = docs.filter(_._2)
    val out = Dedup.ingestDedup(spark, d).collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty && out.subsetOf(newDocs.map(_._1).toSet))
    newDocs.foreach { case (id, _, t) =>
      if (corpusTexts(t)) assert(!out(id), s"exact twin $id survived")
    }
  }

  test("ingest dedup probes a persisted corpus index: warm invocations recompute nothing corpus-side") {
    // force a cold start — the salted dir may survive from an earlier JVM
    val p = new org.apache.hadoop.fs.Path(DedupIndex.dir(spark, d))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val before = SaltedIndex.builds("dedup")
    val r1 = Dedup.ingestDedup(spark, d).collect().toSeq
    assert(SaltedIndex.builds("dedup") == before + 1, "cold ingest must build the index once")
    val r2 = Dedup.ingestDedup(spark, d).collect().toSeq
    // zero corpus-side shingle/band/key computation on the warm path —
    // the batch scans itself and probes the persisted index
    assert(SaltedIndex.builds("dedup") == before + 1, "warm ingest rebuilt the corpus index")
    assert(r1 == r2)
  }

  test("contamination spans: local run recompute, doc set ≡ q55") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    def grams(t: Seq[String]) =
      t.sliding(4).filter(_.size == 4).map(_.mkString(" ")).toVector
    val evalG = docs.filter(_._1 % 97 == 0).values.flatMap(grams).toSet
    val expected = docs.toSeq.collect { case (id, t) if id % 97 != 0 =>
      id -> grams(t).zipWithIndex.collect { case (g, i) if evalG(g) => i }
    }.filter(_._2.nonEmpty).map { case (id, ps) =>
      val runs = ps.foldLeft(List.empty[List[Int]]) { (acc, p) =>
        acc match {
          case (h :: t) :: rest if h == p - 1 => (p :: h :: t) :: rest
          case _ => List(p) :: acc
        }
      }.map(_.size)
      id -> ((runs.size.toLong, runs.max.toLong, runs.max.toLong + 3))
    }.toMap
    val got = Dedup.contamSpans(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // any shared shingle is a run of ≥ 1: q107 flags exactly q55's docs
    val q55docs = Dedup.decontaminate(spark, d).collect().map(_.getLong(0)).toSet
    assert(got.keySet == q55docs)
  }

  test("bigram fluency matches a local exact-integer recompute") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val allBi = docs.values.flatMap(
      _.sliding(2).filter(_.size == 2).map(x => (x(0), x(1)))).toSeq
    val c2 = allBi.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = allBi.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expected = docs.toSeq.collect { case (id, t) if t.size >= 2 =>
      val scores = t.sliding(2).filter(_.size == 2)
        .map(x => c2((x(0), x(1))) * 1000000L / c1(x(0))).toSeq
      id -> ((scores.size.toLong, scores.sum / scores.size))
    }.toMap
    val got = TextAnalysis.bigramFluency(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("verbatim overlap equals a local longest-common-substring recompute") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toVector).toMap
    // candidate pairs from STRING 8-grams (independent of the operator's
    // hashing), then exact token-level longest common substring by DP
    val byGram = scala.collection.mutable.Map.empty[Seq[String], List[Long]]
    docs.foreach { case (id, t) =>
      t.sliding(8).filter(_.size == 8).toSet
        .foreach(g => byGram(g) = id :: byGram.getOrElse(g, Nil))
    }
    val candPairs = byGram.values.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    def lcs(a: Vector[String], b: Vector[String]): Int = {
      val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
      var best = 0
      for (i <- 1 to a.size; j <- 1 to b.size)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          best = math.max(best, dp(i)(j))
        }
      best
    }
    val expected = candPairs.toSeq
      .map { case (a, b) => (a, b) -> lcs(docs(a), docs(b)).toLong }
      .filter(_._2 >= 8).toMap
    val got = Dedup.verbatimOverlap(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q132 dup spans equal a local cross-doc gram-coverage recompute") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toVector).toMap
    // cross-doc grams from STRING 8-grams (independent of the operator's
    // hashing), then island merge per doc
    val byGram = scala.collection.mutable.Map.empty[Seq[String], Set[Long]]
    docs.foreach { case (id, t) =>
      t.sliding(8).filter(_.size == 8).toSet
        .foreach(g => byGram(g) = byGram.getOrElse(g, Set.empty) + id)
    }
    val expected = docs.toSeq.flatMap { case (id, t) =>
      val pos = t.sliding(8).zipWithIndex
        .collect { case (g, p) if g.size == 8 && byGram(g).size >= 2 => p }.toVector
      val runs = pos.foldLeft(List.empty[(Int, Int)]) {
        case ((s, l) :: rest, p) if p == s + l => (s, l + 1) :: rest
        case (acc, p) => (p, 1) :: acc
      }.reverse
      runs.map { case (s, l) => (id, s.toLong, l.toLong, l + 7L) }
    }.sortBy(x => (x._1, x._2))
    val got = Dedup.dupSpans(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // within-doc-only repetition must NOT flag: every reported span's
    // gram set reaches a second document (already implied by equality
    // with the byGram(g).size >= 2 recompute)
  }

  test("multi-suite decon: per-suite counts match a local recompute, doc set ≡ q55") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq.sliding(4)
        .filter(_.size == 4).map(_.mkString(" ")).toSet).toMap
    val suiteSets = docs.toSeq.filter(_._1 % 97 == 0)
      .groupBy { case (id, _) => (id / 97) % 3 }
      .view.mapValues(_.flatMap(_._2).toSet).toMap
    val expected = docs.toSeq.collect { case (id, sh) if id % 97 != 0 =>
      val per = (0L to 2L).map(s => (sh & suiteSets.getOrElse(s, Set.empty)).size.toLong)
      id -> ((per(0), per(1), per(2), per.count(_ > 0).toLong))
    }.filter { case (_, (a, b, c, _)) => a + b + c > 0 }.toMap
    val got = Dedup.deconSuites(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    val q55docs = Dedup.decontaminate(spark, d).collect().map(_.getLong(0)).toSet
    assert(got.keySet == q55docs)
  }

  test("q90 bloom decontamination: no false negatives vs exact q55, bounded FP overhead") {
    val exact = Dedup.decontaminate(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.deconBloom(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one-sided: every exactly-contaminated doc is bloom-flagged, with
    // at least the exact shingle count
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"doc $id lost by the bloom pass")
      assert(bloom(id) >= n, s"doc $id: bloom ${bloom(id)} < exact $n")
    }
    // false positives only ADD flags; at 8 bits/item the overhead must
    // stay small (generous bound: 10% extra docs + a few absolute)
    assert(bloom.size <= exact.size + math.max(5, exact.size / 10),
      s"bloom flagged ${bloom.size} docs vs exact ${exact.size}")
  }

  test("PQ knn: exact re-rank cosines, decent recall, zero refits when warm") {
    val bf = Similarity.bruteForceTopK(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(spark, d).collect()
    assert(pq.nonEmpty)
    // the re-rank is exact cosine — values must agree wherever both
    // paths scored a pair
    pq.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c == r.getDouble(2)))
    }
    // 8 subspaces × 16 centroids on random 64-dim data is a coarse
    // quantizer; the 50-candidate re-rank pool must still recover half
    // the true top-5
    val hits = pq.count(r => bf.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= bf.size / 2, s"recall ${hits.toDouble / bf.size}")
    // warm-index invariant: a second invocation runs zero KMeans fits
    val fitsBefore = SaltedIndex.builds("pq")
    assert(Similarity.pqTopK(spark, d).count() > 0)
    assert(SaltedIndex.builds("pq") == fitsBefore, "KMeans re-fit on a warm index")
    // salting: a different corpus relocates the index (no seed knob —
    // the deterministic first-KSub Lloyd has no randomization to salt)
    assert(PqIndex.dir(spark, d) != PqIndex.dir(spark, "/root/testdata/sf0.01"))
  }

  test("IVF index is a persisted salted stage: second invocation refits nothing") {
    Similarity.ivfTopK(spark, d).count() // ensure built (may hit an existing index)
    val fitsBefore = SaltedIndex.builds("ivf")
    val again = Similarity.ivfTopK(spark, d).count()
    assert(again > 0)
    assert(SaltedIndex.builds("ivf") == fitsBefore, "KMeans re-fit on a warm index")
    // salting: different nlist relocates the index
    assert(IvfIndex.dir(spark, d, 16) != IvfIndex.dir(spark, d, 32))
    // the q115/q172/q336 index key: scaledNlist's footer count is the
    // scan's count and starts no Spark job, so nlist (and the salted
    // dir `dir(spark, d, nlist)` it keys) is the one the scan gave
    val n = Tables.embeddings(spark, d).count()
    val (nlist, jobs) = jobsOf(IvfIndex.scaledNlist(spark, d))
    assert(jobs == 0, s"scaledNlist started $jobs Spark jobs")
    assert(nlist == math.max(16, ((n + 124) / 125).toInt) && nlist == 16)
  }

  test("token stats agree with the documents table's own n_chars") {
    val bad = TextAnalysis.tokenStats(spark, d)
      .join(Tables.documents(spark, d), "doc_id")
      .filter(col("n_chars_m") =!= col("n_chars")).count()
    assert(bad == 0)
  }

  test("fingerprints are deterministic and (on this corpus) collision-free") {
    val fp1 = TextAnalysis.fingerprint(spark, d).collect().map(_.getLong(1))
    val fp2 = TextAnalysis.fingerprint(spark, d).collect().map(_.getLong(1))
    assert(fp1.toSeq == fp2.toSeq)
    assert(fp1.distinct.length == fp1.length)
  }

  test("repetition stats match a local recompute on every document") {
    val texts = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextAnalysis.repetitionStats(spark, d).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val ws = texts(r.getLong(0)).split(" ", -1).toSeq
      val counts = ws.groupBy(identity).view.mapValues(_.size).toMap
      val grams = ws.sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSeq
      val topC = counts.values.max
      val top = counts.filter(_._2 == topC).keys.min
      assert(r.getLong(1) == ws.size && r.getLong(2) == counts.size)
      assert(r.getLong(3) == (ws.size - counts.size) * 1000L / ws.size)
      assert(r.getString(4) == top && r.getLong(5) == topC)
      assert(r.getLong(6) == grams.size && r.getLong(7) == grams.distinct.size)
    }
  }

  test("label centroids match an exact local micro-unit recompute") {
    val vecs = Tables.embeddings(spark, d).select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val expect = vecs.groupBy(_._1).flatMap { case (label, rows) =>
      val dim = rows.head._2.length
      (0 until dim).map { p =>
        val micros = rows.map(r => math.floor(r._2(p).toDouble * 1e6).toLong)
        val s = micros.sum
        (label, p.toLong, rows.length.toLong, s,
          math.floor(s.toDouble / rows.length).toLong)
      }
    }.toSet
    val got = Similarity.labelCentroids(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expect && got.nonEmpty)
  }

  test("tfidf terms match a local recompute (top-3, score/word tie-break)") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val n = docs.size.toLong
    val dfLocal = docs.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val expect = docs.flatMap { case (id, ws) =>
      ws.groupBy(identity).toSeq
        .map { case (w, occ) => (w, occ.size.toLong * (1000L * n / dfLocal(w))) }
        .sortBy { case (w, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((w, s), i) => (id, i + 1L, w, s) }
    }.toSet
    val got = TextAnalysis.tfidfTerms(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5))).toSet
    assert(got == expect)
  }

  test("semDedup: local recompute from persisted cells, drop soundness, zero refit warm") {
    val got = Dedup.semDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // the warm path must not refit KMeans (index already persisted)
    val fits = SaltedIndex.builds("ivf")
    val again = Dedup.semDedup(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(SaltedIndex.builds("ivf") == fits, "warm semDedup refit KMeans")
    assert(again.toSeq == got.toSeq, "semDedup not deterministic across calls")
    // local exact recompute from the SAME persisted cells: sequential
    // double fold mirrors DotProductExpr's evaluation order
    val (_, corpus) = IvfIndex.buildOrLoad(spark, d, nlist = 16)
    val rows = corpus.select("vec_id", "v", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val expect = rows.groupBy(_._3).toSeq.flatMap { case (cell, members) =>
      val m = members.sortBy(_._1)
      m.flatMap { case (idB, vb, _) =>
        val partners = m.filter(_._1 < idB).flatMap { case (idA, va, _) =>
          val cos = dot(va, vb) / math.sqrt(dot(va, va) * dot(vb, vb))
          if (cos >= 0.4)
            // Spark round() works on the shortest-decimal repr
            Some((idA, BigDecimal(java.math.BigDecimal.valueOf(cos))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          else None
        }
        if (partners.isEmpty) Nil
        else List((idB, cell, partners.min._1, partners.min._2))
      }
    }.sortBy(_._1)
    assert(got.toSeq == expect)
    // soundness: every dropped doc has a genuine all-pairs cosine dup
    val exactPairs = ReferenceTwins.embeddingNearDupExact(spark, d).collect()
      .filter(_.getDouble(2) >= 0.4)
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (v, _, p, _) =>
      assert(exactPairs.contains(v) && exactPairs.contains(p),
        s"semDedup dropped $v (partner $p) without an exact cosine dup")
    }
  }

  test("winnowing fingerprints match a local recompute and cover every window") {
    import graft.functions.ShingleStreamExpr
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val expect = docs.toSeq.flatMap { case (id, toks) =>
      val hs = (0 to toks.length - 3)
        .map(i => (i.toLong, ShingleStreamExpr.hashWindow(toks, i, 3)))
      (3 until hs.length).map { p =>
        val win = hs.slice(p - 3, p + 1)
        val mn = win.map(_._2).min
        val sel = win.filter(_._2 == mn).map(_._1).max // rightmost min
        (id, sel, mn)
      }.distinct
    }.sortBy(x => (x._1, x._2)).toSeq
    val got = TextAnalysis.winnowFingerprints(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect && got.nonEmpty)
    // the winnowing guarantee: every w-window of every doc contains a
    // selected fingerprint position
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    docs.foreach { case (id, toks) =>
      val m = toks.length - 2 // number of 3-gram positions
      if (m > 3) {
        val sel = byDoc.getOrElse(id, Set.empty)
        (3L until m.toLong).foreach { p =>
          assert((p - 3 to p).exists(sel.contains),
            s"doc $id window ending at $p has no fingerprint")
        }
      }
    }
  }

  test("df-capped verbatim overlap: subset of q109, stop-gram pairs pruned, rare spans kept") {
    import spark.implicits._
    // on the real corpus the capped report never invents a pair or a
    // longer run than the exact one
    val exact = Dedup.verbatimOverlap(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val capped = Dedup.verbatimOverlapCapped(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(capped.nonEmpty)
    capped.foreach { case (k, run) =>
      assert(exact.contains(k), s"capped invented pair $k")
      assert(run <= exact(k), s"capped run exceeds exact for $k")
    }
    // adversarial synthetic: a stop 8-gram shared by 20 docs (df = 20
    // > cap) produces NO pairs once capped — the B² blow-up is gone —
    // while a rare shared span between two docs survives intact
    val stop = "s1 s2 s3 s4 s5 s6 s7 s8"
    val rare = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    val docs = ((1L to 20L).map(i => (i, s"$stop u$i v$i w$i x$i y$i z$i a$i b$i")) :+
      (100L, s"$rare k1 k2 k3 k4 k5 k6 k7") :+
      (101L, s"m1 m2 m3 m4 m5 m6 m7 $rare")).toDF("doc_id", "text")
    val out = Dedup.verbatimOverlapCappedDf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.keySet == Set((100L, 101L)),
      s"capped synthetic expected only the rare pair, got ${out.keySet}")
    assert(out((100L, 101L)) == (1L, 2L, 9L)) // 9-token span = two 8-gram positions
  }

  test("CDC chunking is offset-independent: a prefixed copy still shares its blocks") {
    import spark.implicits._
    import graft.functions.ShingleStreamExpr
    // doc 2 = doc 1 shifted by an unrelated prefix: fixed-stride
    // blocking would misalign every block; content-defined cuts must
    // re-find the shared chunks after doc 2's first in-passage boundary
    val base = Tables.documents(spark, d).select("text").head().getString(0)
    val docs = Seq((1L, base), (2L, s"zz qq pp $base")).toDF("doc_id", "text")
    val got = Dedup.cdcChunkDupsDf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty, "no shared CDC chunk between a doc and its prefixed copy")
    got.foreach { case (_, nTok, nDocs, nOcc) =>
      assert(nTok >= 1 && nDocs >= 1 && nOcc >= 2 && nOcc >= nDocs)
    }
    // local recompute of the whole report on this two-doc corpus (the
    // chunk hash is the window hasher applied to the whole joined chunk)
    def chunkHashes(text: String): Seq[(Long, Int)] = {
      val tk = text.split(" ", -1)
      val bnd = (1 to tk.length - 3)
        .filter(p => ShingleStreamExpr.hashWindow(tk, p, 3) % 8 == 0).toSet
      val ids = tk.indices.map(i => (1 to i).count(bnd.contains))
      tk.indices.groupBy(ids(_)).values.map { is =>
        val joined = is.sorted.map(tk).toArray
        (ShingleStreamExpr.hashWindow(joined, 0, joined.length), joined.length)
      }.toSeq
    }
    val all = chunkHashes(base) ++ chunkHashes(s"zz qq pp $base")
    val expect = all.groupBy(_._1).view
      .mapValues(v => (v.map(_._2).min.toLong, v.size.toLong))
      .toMap.filter(_._2._2 >= 2)
    val gotMap = got.map(x => x._1 -> (x._2, x._4)).toMap
    assert(gotMap == expect)
  }

  test("winnow overlap recovers the high-jaccard planted pairs") {
    val got = TextAnalysis.winnowOverlap(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.nonEmpty)
    got.values.foreach { case (shared, na, nb, pm) =>
      assert(shared >= 3 && pm >= 0 && pm <= 1000 &&
        shared <= math.min(na, nb))
    }
    // winnowing guarantee applied cross-doc: docs sharing ≥ 0.9 of
    // their shingles must share fingerprints — the planted near-dups
    // all surface as overlap pairs
    val strong = Dedup.ngramJaccard(spark, d).filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = strong.filterNot(got.contains)
    assert(missed.isEmpty, s"high-jaccard pairs without fingerprint overlap: $missed")
  }

  test("bm25 search matches a local exact-integer recompute") {
    val terms = Seq("hash", "join", "vector")
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val n = docs.size.toLong
    val nTok = docs.values.map(_.size.toLong).sum
    val dfL = terms.map(w => w -> docs.values.count(_.contains(w)).toLong).toMap
    val avgdlMilli = 1000L * nTok / n
    val expect = docs.toSeq.map { case (id, ws) =>
      val dl = ws.size.toLong
      val normMilli = 250L + 750000L * dl / avgdlMilli
      val score = terms.map { w =>
        val tf = ws.count(_ == w).toLong
        val idfMilli = (1000L * (2L * (n - dfL(w)) + 1L)) / (2L * dfL(w) + 1L)
        val tfComp = tf * 2200000000L / (tf * 1000L + 1200L * normMilli / 1000L)
        idfMilli * tfComp / 1000L
      }.sum
      (id, score)
    }.filter(_._2 > 0L).sortBy { case (id, s) => (-s, id) }.take(10)
    val got = TextAnalysis.bm25Search(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(5))).toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("q140 hard negatives ≡ local different-label top-5 with sequential-fold cosines") {
    val rows = Tables.embeddings(spark, d)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val exp = rows.filter(_._1 < 10).flatMap { case (qid, ql, qv) =>
      rows.filter { case (id, l, _) => id != qid && l != ql }
        .map { case (id, l, v) =>
          (id, l, dotSeq(qv, v) / math.sqrt(dotSeq(qv, qv) * dotSeq(v, v)))
        }
        .sortBy { case (id, _, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, l, c), i) =>
          // valueOf = shortest-decimal-string rounding, what Spark's
          // round() does (BigDecimal(c) would round the raw binary)
          (qid, ql, id, l, new java.math.BigDecimal(java.lang.Double.toString(c))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue(), (i + 1).toLong)
        }
    }.toSeq.sortBy(x => (x._1, x._6))
    val got = Similarity.hardNegatives(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    // the mined negatives are genuinely hard: every one scores within
    // the query's same-label neighborhood range, and none shares the
    // query's label (the training contract)
    assert(got.forall { case (_, ql, _, nl, _, _) => ql != nl })
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  private def sh3(text: String): Set[Long] = {
    import org.apache.spark.unsafe.types.UTF8String
    val tk = text.split(" ")
    tk.sliding(3).filter(_.length == 3)
      .map(g => graft.functions.PolyHashExpr.hash(
        UTF8String.fromString(g.mkString(" ")))).toSet
  }

  test("q138 containment ≡ local set recompute; finds the embedded doc Jaccard misses") {
    // local recompute on the real corpus
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), sh3(r.getString(1)))).filter(_._2.nonEmpty)
    val exp = (for {
      (ia, sa) <- docs; (ib, sb) <- docs if ia < ib
      cm = (sa & sb).size.toLong if cm > 0
      cont = 1000L * cm / math.min(sa.size, sb.size) if cont >= 800L
    } yield (ia, ib, cm, sa.size.toLong, sb.size.toLong, cont,
        1000L * cm / (sa.size + sb.size - cm))).sortBy(x => (x._1, x._2)).toSeq
    val got = Dedup.containmentPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == exp && got.nonEmpty)
    // the motivating case: a short doc embedded verbatim in a longer
    // one has containment 1000 but Jaccard far below q22's 0.6 cut
    import spark.implicits._
    val inner = (1 to 20).map(i => s"core$i").mkString(" ")
    val outer = ((1 to 10).map(i => s"pre$i") ++ (1 to 20).map(i => s"core$i")
      ++ (1 to 10).map(i => s"post$i")).mkString(" ")
    val fix = Seq((1L, inner), (2L, outer), (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairsDf(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq((1L, 2L, 1000L, 473L)))
    assert(out.head._4 < 600L) // invisible to the symmetric-Jaccard family
  }

  test("q139 contamination radius ≡ local BFS over q55 seeds + q23 edges; paraphrase caught at hop 1") {
    // local frontier recompute from the independently-verified parts:
    // seeds = q55's direct hits, edges = q23's pairs among corpus docs
    // (pair candidacy is per-doc-signature, so eval docs' presence in
    // q23's input adds only eval-touching pairs — filtered out here)
    val seeds = Dedup.decontaminate(spark, d).collect().map(_.getLong(0)).toSet
    val pairs = Dedup.minhashNearDup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 97 != 0 && b % 97 != 0 }
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (k <- 1 to Dedup.RadiusHops) {
      val nf = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist ++= nf.map(_ -> k.toLong)
      frontier = nf
    }
    val exp = dist.toSeq.sortBy(_._1)
    val got = Dedup.contamRadius(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp && got.nonEmpty)
    // the motivating case: a near-dup PARAPHRASE of a contaminated doc
    // shares no eval 4-gram (q55-invisible) but is one near-dup hop away
    import spark.implicits._
    val evalTok = Seq("e1", "e2", "e3", "e4")
    val filler = (1 to 40).map(i => s"f$i")
    val a = (evalTok ++ filler).mkString(" ")        // direct hit
    val b = (Seq("zz") ++ filler).mkString(" ")      // paraphrase: no eval 4-gram
    val unrelated = (1 to 44).map(i => s"u$i").mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, unrelated)).toDF("doc_id", "text")
    val ev = Seq((100L, evalTok.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.contamRadiusDf(corpus, ev).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 0L), (2L, 1L))) // B caught transitively; unrelated doc clean
  }

  /** Local twin of TextOps.polyHash (ASCII corpus). */
  private def localHash(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 131 + c.toLong) % 1000000007L)

  test("q145 chunk dedup ≡ local first-occurrence recompute; planted sub-doc dup drops") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // keeper = smallest (doc_id, cidx) per chunk HASH — same key the
    // plan and the oracle elect on, so a collision (possible at this
    // corpus size) cannot diverge the spec from the gate
    val keeper = scala.collection.mutable.Map[Long, (Long, Long)]()
    val chunks = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(Dedup.ChunkW).zipWithIndex.map {
        case (ck, ci) => (id, ci.toLong, ck.length.toLong, localHash(ck.mkString(" ")))
      }
    }
    chunks.foreach { case (id, ci, _, h) =>
      if (!keeper.contains(h)) keeper(h) = (id, ci)
    }
    val exp = chunks.groupBy(_._1).toSeq.map { case (id, cs) =>
      val kept = cs.filter(c => keeper(c._4) == ((c._1, c._2)))
      (id, cs.length.toLong, kept.length.toLong, (cs.length - kept.length).toLong,
        cs.map(_._3).sum, kept.map(_._3).sum)
    }.sortBy(_._1)
    val got = Dedup.chunkDedup(spark, d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    assert(got.map(_._4).sum > 0) // the prefix-sharing corpus HAS duplicate chunks
    // planted: doc 2 opens with doc 1's first 16 tokens → exactly that
    // chunk drops; doc 1 (first occurrence) keeps everything
    import spark.implicits._
    val w = (1 to 32).map(i => s"w$i")
    val d1 = w.mkString(" ")
    val d2 = (w.take(16) ++ (1 to 16).map(i => s"z$i")).mkString(" ")
    val synth = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val o = Dedup.chunkDedupDf(synth).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(o == Seq((1L, 2L, 0L), (2L, 1L, 1L)))
  }

  test("cluster labels are a persisted stage: warm q49/q152/q154 rebuild nothing, labels identical") {
    val first = Dedup.nearDupClusters(spark, d).collect().map(_.toString).toSeq
    val b = SaltedIndex.builds("clusters")
    val again = Dedup.nearDupClusters(spark, d).collect().map(_.toString).toSeq
    Curation.leakSafeSplit(spark, d).count()
    Curation.canonicalDocs(spark, d).count()
    assert(SaltedIndex.builds("clusters") == b, "warm consumers re-ran the star-CC build")
    assert(again == first && first.nonEmpty)
  }

  test("q155 ingest chunk dedup ≡ local corpus-membership recompute; warm probe rebuilds nothing") {
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def chunksOf(text: String) =
      text.split(" ", -1).grouped(Dedup.ChunkW)
        .map(ck => (localHash(ck.mkString(" ")), ck.length.toLong)).toSeq
    val corpus = docs.filter(_._2.substring(3).toInt < 15)
      .flatMap(x => chunksOf(x._3)).map(_._1).toSet
    val exp = docs.filter(_._2.substring(3).toInt >= 15).map { case (id, _, text) =>
      val cs = chunksOf(text)
      val dup = cs.count(c => corpus(c._1)).toLong
      val freshTok = cs.filterNot(c => corpus(c._1)).map(_._2).sum
      (id, cs.size.toLong, dup, cs.size - dup, cs.map(_._2).sum, freshTok,
        1000L * dup / cs.size)
    }.sortBy(_._1).toSeq
    val got = Dedup.ingestChunkDedup(spark, d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == exp && got.nonEmpty)
    assert(got.exists(_._3 > 0)) // the batch DOES carry corpus-known chunks
    // a second ingest against the same corpus version probes only —
    // zero corpus-side rebuilds
    val b = SaltedIndex.builds("dedup")
    val again = Dedup.ingestChunkDedup(spark, d).collect()
    assert(SaltedIndex.builds("dedup") == b && again.length == got.length)
  }

  test("q146 quant recall ≡ local intersection of the gated top-k outputs; int8 near-exact") {
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gt = pairs(Similarity.bruteForceTopK(spark, d))
    val i8 = pairs(Similarity.int8TopK(spark, d)).toSet
    val ls = pairs(Similarity.lshTopK(spark, d)).toSet
    val exp = gt.groupBy(_._1).toSeq.map { case (q, g) =>
      val (h8, hl) = (g.count(i8).toLong, g.count(ls).toLong)
      (q, g.size.toLong, h8, BigDecimal(h8.toDouble / g.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        hl, BigDecimal(hl.toDouble / g.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = Similarity.quantRecall(spark, d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == exp && got.size == 10)
    // exact re-rank over the int8 coarse top-20 loses almost nothing
    val meanR8 = got.map(_._4).sum / got.size
    assert(meanR8 >= 0.8, s"int8 mean recall $meanR8")
    assert(got.forall(r => r._3 <= r._2 && r._5 <= r._2))
  }

  test("q149 doc novelty ≡ local first-holder recompute; novel counts partition the gram space") {
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val first = scala.collection.mutable.Map[Long, Long]()
    val perDoc = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val hs = (0 to tk.length - 8).map(i => localHash(tk.slice(i, i + 8).mkString(" "))).distinct
      hs.foreach(h => if (!first.contains(h)) first(h) = id)
      (id, hs)
    }.filter(_._2.nonEmpty)
    val exp = perDoc.map { case (id, hs) =>
      val novel = hs.count(h => first(h) == id).toLong
      (id, hs.size.toLong, novel, 1000L * novel / hs.size)
    }.toSeq
    val got = Dedup.docNovelty(spark, d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == exp && got.nonEmpty)
    // every distinct gram is novel in exactly one doc
    assert(got.map(_._3).sum == first.size.toLong)
    // the planted near-dup corpus has at least one low-novelty doc
    assert(got.exists(_._4 < 500))
  }

  test("q150 cross-source dup ≡ local recompute; cap prunes ubiquitous chunks") {
    val docs = Tables.documents(spark, d).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySrcH = docs.flatMap { case (_, src, text) =>
      text.split(" ", -1).grouped(Dedup.ChunkW)
        .map(ck => (src, localHash(ck.mkString(" ")))).toSeq
    }.distinct
    val sz = bySrcH.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nsrc = bySrcH.groupBy(_._2).view.mapValues(_.size).toMap
    val capped = bySrcH.filter(p => nsrc(p._2) <= Dedup.SourceDfCap)
    val byH = capped.groupBy(_._2)
    val exp = byH.values.flatMap { g =>
      val ss = g.map(_._1).sorted
      for (i <- ss.indices; j <- i + 1 until ss.size) yield (ss(i), ss(j))
    }.groupBy(identity).map { case ((a, b), ps) =>
      val shared = ps.size.toLong
      (a, b, shared, sz(a), sz(b), 1000L * shared / math.min(sz(a), sz(b)))
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = Dedup.crossSourceDup(spark, d).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
    got.foreach { case (a, b, sh, sa, sb, pm) =>
      assert(a < b && sh <= math.min(sa, sb) && pm <= 1000)
    }
  }

  test("q148 naive Bayes ≡ local fixed-point recompute on the 80/20 split") {
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val cnt = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    val tot = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val vocab = scala.collection.mutable.Set[String]()
    docs.filter(_._1 % 5 != 0).foreach { case (_, lang, text) =>
      text.split(" ", -1).foreach { w =>
        cnt((lang, w)) += 1; tot(lang) += 1; vocab += w
      }
    }
    val v = vocab.size.toLong
    val langs = tot.keys.toSeq.sorted
    val exp = docs.filter(_._1 % 5 == 0).map { case (id, lang, text) =>
      val ws = text.split(" ", -1)
      val scores = langs.map { l =>
        val den = tot(l) + v
        (l, ws.map(w => (1000000000000L * (cnt((l, w)) + 1)) / den).sum)
      }
      val (pl, ps) = scores.minBy { case (l, s) => (-s, l) }
      (id, lang, pl, ps, if (pl == lang) 1L else 0L)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.nbLangClassify(spark, d).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == exp && got.nonEmpty)
    // every trained language is reachable as a prediction target
    assert(got.map(_._3).toSet.subsetOf(langs.toSet))
  }

  test("q156 embed decontam ≡ local exact recompute; eval carve is size-fixed") {
    val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    // the carve: top-64 by (polyhash("ed:"+id), id) — fixed size
    val evalIds = vecs.map { case (id, _) => (localHash(s"ed:$id"), id) }
      .sorted.take(Dedup.EmbedDecontamEvalK).map(_._2)
    assert(evalIds.length == Dedup.EmbedDecontamEvalK)
    val byId = vecs.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dt = 0.0; var i = 0
      while (i < a.length) { dt += a(i) * b(i); i += 1 }
      var na = 0.0; var nb = 0.0; i = 0
      while (i < a.length) { na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dt / math.sqrt(na * nb)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = vecs.filterNot { case (id, _) => evalIds.contains(id) }.flatMap {
      case (id, v) =>
        val hits = evalIds.map(e => (e, cos(v, byId(e)))).filter(_._2 >= 0.4)
        if (hits.isEmpty) None
        else {
          val (be, bc) = hits.minBy { case (e, c) => (-c, e) }
          Some((id, hits.size.toLong, be, r6(bc)))
        }
    }.sortBy(_._1).toSeq
    val got = Dedup.embedDecontam(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == exp && got.nonEmpty)
    // flagged vectors are never eval members; hit counts are positive
    assert(got.forall { case (id, n, e, c) =>
      !evalIds.contains(id) && evalIds.contains(e) && n >= 1 && c >= 0.4 })
  }

  test("concurrentPoints: a failing point cancels its siblings' jobs and releases their caches") {
    import org.apache.spark.JobExecutionStatus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.storage.StorageLevel
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    }
    val caches = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    // a sibling caches a relation in its scope, then runs one task that
    // would sleep far past the failure
    def sibling(): Long = {
      val df = CacheScope.cached(spark.range(1).toDF("x"))
      caches.add(df)
      df.rdd.map { r =>
        PlantedTasks.running.incrementAndGet()
        try Thread.sleep(120000) finally PlantedTasks.running.decrementAndGet()
        r
      }.count()
    }
    // the planted failure: a task that throws while both siblings run
    def failing(): Long = {
      while (PlantedTasks.running.get < 2) Thread.sleep(10)
      spark.range(1).rdd.map[Long](_ => throw new IllegalStateException("planted failure"))
        .count()
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[Exception] {
        Dedup.concurrentPoints(spark, Seq(() => sibling(), () => failing(), () => sibling()))
      }
      assert(e.getMessage.contains("planted failure"))
      assert(System.nanoTime() - t0 < 60000000000L,
        "the call waited out its siblings' tasks instead of cancelling them")
      assert(caches.size == 2)
      caches.forEach(df => assert(df.storageLevel == StorageLevel.NONE,
        "a sibling's cache outlived the call"))
      // the status tracker follows the asynchronous listener bus, so it
      // may trail the scheduler's cancellation by a moment; uncancelled,
      // the sibling tasks would run for two minutes
      eventually(timeout(30.seconds)) {
        jobs.forEach(id => assert(!sc.statusTracker.getJobInfo(id)
          .exists(_.status == JobExecutionStatus.RUNNING), s"job $id still running"))
        assert(PlantedTasks.running.get == 0, "a sibling task still runs")
      }
    } finally sc.removeSparkListener(listener)
  }
}

/** Task-side state of the planted concurrentPoints tasks (local mode:
  * the tasks run in the spec's JVM). */
private object PlantedTasks {
  val running = new java.util.concurrent.atomic.AtomicInteger()
}
