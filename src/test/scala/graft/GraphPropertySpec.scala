package graft

/** Property-style tests for the connected-components family: on RANDOM
  * (seeded, reproducible) graphs, the distributed star-contraction
  * result and `clusterLabels` (which takes its driver path on graphs
  * this small) must equal a local union-find — the broad-case
  * guarantee the example-based specs can't give. Case counts are
  * bounded: each case is a full Spark job round-trip. */
class GraphPropertySpec extends SparkSpec {

  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-by-min: the root IS the component's min doc_id
    (0L until n).map(i => i -> find(i)).toMap
  }

  private def randomEdges(rng: scala.util.Random, n: Long, m: Int): Seq[(Long, Long)] =
    Seq.fill(m)((rng.nextLong(n), rng.nextLong(n))).filter(e => e._1 != e._2)

  test("star-contraction components ≡ local union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val n = 2L + rng.nextLong(59L)
      val edges = randomEdges(rng, n, rng.nextInt(91))
      val docs = (0L until n).toDF("doc_id")
      val pairs = (if (edges.isEmpty) Seq((0L, 0L)) else edges) // self-loop is filtered inside
        .toDF("doc_a", "doc_b")
      val expected = unionFind(n, edges)
      Seq(Dedup.starLabels(docs, pairs), Dedup.clusterLabels(docs, pairs)).foreach { df =>
        val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"n=$n edges=$edges")
      }
    }
  }
}
