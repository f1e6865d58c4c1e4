package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relations the engine already stores — the
  * link-analysis family a training-data pipeline runs for source
  * reputation (PageRank over a reference graph), community structure
  * (triangle counts / clustering coefficients), and reachability
  * (seeded BFS) without leaving the DataFrame surface.
  *
  * The test graph is the bipartite supplier↔customer trade graph
  * derived from `lineitem ⋈ orders`: supplier s ↦ node 2s, customer
  * c ↦ node 2c+1 (disjoint integer id spaces, oracle-expressible), one
  * undirected edge per (supplier, customer) pair that traded, stored as
  * two directed arcs. The same operators run unchanged on any
  * (src, dst) edge relation — a crawl's link graph at 100 TB.
  *
  * All scores are EXACT integer arithmetic (micro/milli units, `div`
  * floors) so the DuckDB oracle replays them bit-identically; at
  * petabyte node counts the Long rank mass would move to DECIMAL(38)
  * with the same plans.
  */
object Graph {

  /** Symmetric arc list of the trade graph, deduped. One equi-join
    * (orders side projected to two ints) + one distinct — both shuffles
    * keyed; the arc relation is what every operator here consumes.
    * Since round 6 the extraction is a PERSISTED salted stage (the
    * cluster-label pattern): graph analytics re-read the same arc
    * relation per query, so the fact-table join + distinct runs once
    * per data version and warm consumers (q126 PageRank, q131 BFS)
    * scan one parquet relation. */
  private[graft] def tradeArcs(spark: SparkSession, d: String): DataFrame = {
    val dir = SaltedIndex.build(spark, SaltedIndex.dir(spark, "tradearcs", ArcIdxVersion,
      s"$d/lineitem.parquet",
      Seq("corpus" -> d,
        "orders" -> SaltedIndex.stamp(spark, s"$d/orders.parquet")))) { p =>
      val li = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("ok"), (col("l_suppkey") * 2).as("s"))
      val os = Tables.orders(spark, d)
        .select(col("o_orderkey").as("ok2"), (col("o_custkey") * 2 + 1).as("c"))
      val b = li.join(os, col("ok") === col("ok2"))
        .select(col("s"), col("c")).distinct()
      b.select(col("s").as("src"), col("c").as("dst"))
        .union(b.select(col("c").as("src"), col("s").as("dst")))
        .write.mode("overwrite").parquet(s"$p/arcs")
    }
    Tables.parquet(spark, s"$dir/arcs")
  }

  private val ArcIdxVersion = "0.0.1"

  /** PageRank iterations per the fixed-round contract below. */
  val PageRankIters = 5

  /** q126: PageRank (damping 0.85) over the trade graph, FIVE fixed
    * power iterations in exact integer micro-units: rank starts at
    * 1e6 per node, each round r'(v) = 150000 + (850 · Σ_{u→v}
    * (r(u) div outdeg(u))) div 1000. The symmetric arc list means no
    * dangling nodes (every node has outdeg ≥ 1 and appears as a dst),
    * so no dangling-mass redistribution term is needed.
    *
    * Shape: the out-degree is folded into the arc relation
    * (`arcs ⋈ deg`; re-derived per round by lineage — measured at
    * sf0.1, caching the arc-sized relation costs more than the
    * recompute, and at 100 TB a cache would round-trip disk anyway)
    * so each round is exactly one src-keyed hash
    * join (rank ⋈ degree-carrying arcs, share computed per-arc — the
    * same `r div outdeg` value every arc of a node would get from a
    * separate node-keyed share join, minus that join) + one dst-keyed
    * hash aggregate. Because the round count is FIXED, the whole
    * 5-round recurrence stays ONE lazy plan — a single job with no
    * driver-synchronized barrier per round (contrast q49, whose
    * convergence test forces per-round actions); each round's aggregate
    * is a shuffle boundary, so stages pipeline and nothing recomputes.
    * A convergence-tested variant would adopt q49's persist/truncate
    * round discipline verbatim. At 100 TB the rank mass in a round is
    * bounded by nodes·1e6 — the `850 · sum` product would be
    * DECIMAL(38) there; plans unchanged. */
  def pageRank(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // degree-carrying arcs: one extra int per arc buys back a per-round
    // node-keyed join — 5 joins saved over the recurrence
    val ed = e.join(deg, "src")
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to PageRankIters) {
      rank = ed.join(rank, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(expr("150000 + (850 * sum(r div outdeg)) div 1000").as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    rank.select(col("node"), col("r").as("rank_micro")).orderBy(col("node"))
  }

  /** q127: per-node triangle counts + local clustering coefficient over
    * the part co-purchase graph (parts sharing an order), via the
    * DEGREE-ORIENTED wedge join (Suri & Vassilvitskii's MR algorithm):
    * orient every edge from its (degree, id)-smaller endpoint to the
    * larger, enumerate wedges as the oriented-edge self-join on the
    * source, close each wedge with one hash join back to the oriented
    * edges. Orientation bounds every node's out-degree at O(√m), so the
    * wedge intermediate is O(m^1.5) worst case and ~Σ deg²/4 on
    * ER-like graphs — the property that makes the plan survive skewed
    * hubs at 100 TB, where the naive (unoriented) wedge join explodes
    * on the highest-degree node. Every triangle materializes exactly
    * once (its corners appear in a fixed (deg,id) order), so per-node
    * counts are one explode-to-corners + hash-agg.
    *
    * cc_milli = 2000·tri div (deg·(deg−1)) — the local clustering
    * coefficient in exact integer milli-units. */
  /** Per-order item cap for the co-purchase pair build. The pair
    * relation is quadratic in per-order item count — harmless here
    * (TPC-H orders hold ≤7 items) but a power-law basket (one "order"
    * with 10⁶ items at 100 TB) would emit 5·10¹¹ pairs from a single
    * group before the wedge join's O(√m) bound ever applies. The cap
    * bounds any one order's contribution at CAP²/2 pairs,
    * deterministically (smallest partkeys kept, oracle-expressible via
    * the same ROW_NUMBER window). It never binds at test scale, so
    * results are bit-identical to the uncapped build. */
  val CoPurchaseCap = 1024

  /** The capped co-purchase edge relation (p1 < p2 canonical,
    * distinct) — shared by q127's triangle counts and q258's k-truss
    * peel, and since round 9 a PERSISTED salted stage (the tradeArcs
    * contract): the window + pair self-join + 1.2M-row distinct cost
    * ~6 s at sf0.1 and depend only on lineitem, so they run once per
    * corpus version; every triangle/truss consumer reads one parquet
    * relation warm. */
  private[graft] def coPurchaseEdges(spark: SparkSession, d: String): DataFrame = {
    val dir = SaltedIndex.build(spark, SaltedIndex.dir(spark, "copurchase", CpIdxVersion,
      s"$d/lineitem.parquet", Seq("corpus" -> d))) { p =>
      import org.apache.spark.sql.expressions.Window
      val items = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val li = items
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("ok")).orderBy(col("pk"))))
        .filter(col("rn") <= CoPurchaseCap).drop("rn")
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("p1"), col("b.pk").as("p2")).distinct()
        .write.mode("overwrite").parquet(s"$p/edges")
    }
    Tables.parquet(spark, s"$dir/edges")
  }

  private val CpIdxVersion = "0.0.1"

  /** Oriented triangle enumeration by ADJACENCY-ARRAY INTERSECTION —
    * the same (deg,id)-oriented triangle set the wedge join emits
    * (every triangle materializes exactly once, at its apex edge:
    * a → b, a → c, b → c all oriented), but the O(Σ out-deg²)-ROW
    * wedge self-join + closing SMJ becomes two keyed joins of the
    * oriented edges against the per-node out-neighbor ARRAYS plus a
    * per-row `array_intersect`. Shuffle BYTES are the same order
    * (Σ out-deg per edge — the wedge mass, now packed as long arrays
    * instead of one row per wedge), shuffle ROWS drop from the wedge
    * count to the edge count, and no 36M-row sort-merge happens
    * (measured at sf0.1: 2.9-4.2 s vs 7.2-9.6 s for the wedge join,
    * identical 1,884,488-triangle output). Per-row array size is
    * bounded by the orientation's O(√m) out-degree bound — the same
    * bound that kept the wedge join skew-safe at 100 TB.
    *
    * `oriented` is [[orient]]'s edge relation. The result plan reads it
    * three times, so callers pass it cached and own its release: one
    * action over the result, or a count that fills their own cache of
    * it, and it feeds nothing more. */
  private def orientedTriangles(oriented: DataFrame): DataFrame = {
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("ns"))
    oriented
      .join(adj.select(col("src").as("j1"), col("ns").as("na")),
        col("src") === col("j1"))
      .join(adj.select(col("src").as("j2"), col("ns").as("nb")),
        col("dst") === col("j2"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
  }

  /** `edges` oriented low → high by (degree, id); `deg` is the (node,
    * dg) full-degree relation of `edges` (callers already have it
    * cached). */
  private def orient(edges: DataFrame, deg: DataFrame): DataFrame = {
    val dl = deg.select(col("node").as("p1"), col("dg").as("dg1"))
    val dr = deg.select(col("node").as("p2"), col("dg").as("dg2"))
    val lt = struct(col("dg1"), col("p1")) < struct(col("dg2"), col("p2"))
    edges.join(dl, "p1").join(dr, "p2")
      .select(
        when(lt, col("p1")).otherwise(col("p2")).as("src"),
        when(lt, col("p2")).otherwise(col("p1")).as("dst"))
  }

  def triangleCounts(spark: SparkSession, d: String): DataFrame = {
    val pairs = coPurchaseEdges(spark, d)
    val deg = CacheScope.cached(
      pairs.select(col("p1").as("node")).union(pairs.select(col("p2").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg")))
    val tris = orientedTriangles(CacheScope.cached(orient(pairs, deg)))
    // corners exploded in ONE pass (r13): the union-of-3-selects form
    // inlined the whole enumeration subtree three times in the plan
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("dg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_tri"),
        when(col("dg") >= 2,
          expr("(2000 * coalesce(tri, 0)) div (dg * (dg - 1))"))
          .otherwise(lit(0L)).as("cc_milli"))
      .orderBy(col("node"))
  }

  /** BFS rounds — covers the trade graph's small diameter; nodes
    * farther than this from every seed are absent from the result. */
  val BfsRounds = 4

  /** q131: seeded multi-source BFS — exact hop distance from the
    * low-nation (s_nationkey < 10 — non-empty at every SF) suppliers
    * to every node within `BfsRounds` hops. Frontier-delta expansion:
    * only nodes DISCOVERED last round expand (with unit weights a
    * node's first-discovery distance is final, so re-expanding settled
    * nodes can never improve anything), the new frontier is the
    * expansion minus everything already settled (one distinct + one
    * anti-join per round), and the answer is the disjoint union of the
    * per-round frontiers. After k rounds every node whose true
    * distance ≤ k holds exactly that distance — the same reachability
    * contract a crawl-frontier or contamination-blast-radius query
    * wants.
    *
    * Each round's frontier is lineage-truncated via CacheScope (NOT a
    * driver barrier — the fixed round count keeps the whole recurrence
    * lazy until the caller's action). Without the truncation the naive
    * relax-everything formulation references each round's result twice
    * (join + union), and the plan tree doubles per round — the v1 of
    * this operator planned ~240 operators for 4 rounds and spent more
    * time planning and re-broadcasting than scanning. Frontier work
    * also SHRINKS as the graph saturates (the trade graph saturates in
    * ~2 hops), so late rounds relax nearly nothing, where the naive
    * form re-joined the full settled set against all arcs every round.
    * At 100 TB: per-round cost ∝ out-degree mass of the frontier —
    * the optimal BFS work bound. */
  def bfsDistances(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val seeds = CacheScope.cached(Tables.supplier(spark, d)
      .filter(col("s_nationkey") < 10)
      .select((col("s_suppkey") * 2).as("node"), lit(0L).as("dist")))
    var dist = seeds
    var frontier = seeds
    for (k <- 1 to BfsRounds) {
      // persisted: nf feeds both the next frontier join and the settled
      // union, so a plain plan would double per round
      val nf = CacheScope.cached(
        frontier.join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(k.toLong).as("dist")))
      dist = dist.union(nf) // disjoint by construction — no re-agg
      frontier = nf
    }
    dist.select(col("node"), col("dist")).orderBy(col("node"))
  }

  /** q162 coreness threshold / peel-round budget. 8 rounds converge on
    * every graph whose peeling cascade is ≤ 8 deep — GraphAnalyticsSpec
    * pins convergence on this corpus (an unconverged run would leave a
    * sub-k-degree survivor, which the spec rejects). */
  val KCoreK = 3
  val KCoreRounds = 8

  /** q162: K-CORE decomposition by fixed-round peeling — repeatedly
    * remove nodes of degree < k until only the k-core (the maximal
    * subgraph where everyone keeps ≥ k neighbors) remains. THE
    * cohesion filter for graph-shaped curation: on the trade graph the
    * 3-core is the stably-interconnected supplier/customer economy,
    * while peel-round-1 nodes are one-off participants; on a near-dup
    * or citation graph the core separates template ecosystems from
    * incidental pairs, and coreness is the standard cheap proxy for
    * "how embedded is this node" (denser than degree, far cheaper than
    * betweenness).
    *
    * Output: (node, peel_round, degree) — the round the node fell
    * (1-based; 0 = survives in the k-core) and its degree AT that
    * moment (survivors: their core degree ≥ k). Deterministic: peeling
    * is simultaneous per round (no order dependence within a round).
    *
    * Shape per round: one src-keyed degree hash-agg over the REMAINING
    * arcs + two anti-joins dropping arcs touching peeled nodes; the
    * arc relation only ever SHRINKS, so per-round cost ∝ surviving
    * arcs — the peeling analogue of q131's frontier-delta argument.
    * Rounds are DRIVER-SYNCHRONIZED with persist+count+RDD-rebuild
    * lineage truncation — the q49 star-CC discipline, and necessary
    * here for the same reason: each round references its predecessor
    * 3× (degree agg + two anti-join probes), so the lazy formulation's
    * LOGICAL plan grows 3^rounds and the driver dies building a
    * 2 GB plan string long before any data moves (measured — the
    * first cut of this operator did exactly that). Converged rounds
    * (empty peel set) cost one cached count each. */
  def kCore(spark: SparkSession, d: String): DataFrame = {
    val k = KCoreK
    import CacheScope.truncate
    // round 0's arc relation is a leaf parquet scan of the salted
    // stage — nothing to persist or truncate (r13); later rounds'
    // shrunken arc sets stay persisted+truncated as before
    var arcsP: DataFrame = null
    var arcs = tradeArcs(spark, d)
    // the node universe rides along explicitly: a node whose LAST
    // neighbor peels away vanishes from the arc relation, but it must
    // still peel (at degree 0) rather than silently leave the output
    var nodes = arcs.select(col("src").as("node")).distinct()
    var peels = Vector.empty[DataFrame]
    var r = 1
    var converged = false
    while (r <= KCoreRounds && !converged) {
      val deg = arcs.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      // per-round degrees over the SURVIVING node universe (0 for
      // isolated survivors) — one persisted node-cardinality relation
      // whose cheap filters feed everything below, keeping each
      // round's plan linear in the previous round's leaves; the peel
      // filters feed the result plan, so it lives to the caller's
      // scope end
      val degAllP = CacheScope.cached(
        nodes.join(deg, col("node") === col("src"), "left")
          .select(col("node"), coalesce(col("dg"), lit(0L)).as("dg")))
      degAllP.count()
      val degAll = truncate(degAllP)
      val out = degAll.filter(col("dg") < k)
        .select(col("node"), lit(r.toLong).as("peel_round"),
          col("dg").as("degree"))
      // empty peel set = fixed point: every later round is a no-op, so
      // skipping them leaves the output byte-identical (the oracle
      // replays all rounds and agrees for the same reason). One cheap
      // count against the cached degree relation buys back the idle
      // rounds' jobs.
      converged = out.isEmpty
      if (!converged) {
        peels :+= out
        nodes = degAll.filter(col("dg") >= k).select(col("node"))
        val nextP = CacheScope.cached(arcs
          .join(out.select(col("node").as("src")), Seq("src"), "left_anti")
          .join(out.select(col("node").as("dst")), Seq("dst"), "left_anti"))
        nextP.count()
        // predecessor fully superseded — safe to drop (round 0 has none)
        if (arcsP != null) arcsP.unpersist()
        arcsP = nextP
        arcs = truncate(nextP)
      }
      r += 1
    }
    // the surviving-core arcs (arcsP, when anything peeled) back the
    // result until the caller's scope ends
    val coreDeg = arcs.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val core = nodes.join(coreDeg, col("node") === col("src"), "left")
      .select(col("node"), lit(0L).as("peel_round"),
        coalesce(col("dg"), lit(0L)).as("degree"))
    (peels :+ core).reduce(_ unionAll _) // peels may be empty (no peel)
      .orderBy(col("node"))
  }

  /** q163 rounds — fixed for the one-lazy-plan / chained-CTE-oracle
    * contract (q126's argument). */
  val LabelPropRounds = 4

  /** q163: community detection by synchronous LABEL PROPAGATION
    * (Raghavan et al. 2007) — every node starts as its own community
    * and each round adopts the most frequent label among its neighbors
    * AND itself (majority vote; ties to the smallest label). The
    * near-linear community pass a curation pipeline runs where q49's
    * connected components are too coarse (everything touching anything
    * merges) and modularity solvers too expensive: on the trade graph
    * it groups supplier/customer neighborhoods that actually transact
    * with each other.
    *
    * Determinism: SYNCHRONOUS rounds (all nodes update from the same
    * previous labeling — no update-order dependence), integer labels,
    * argmax tie-break (count desc, label asc) via max(struct(cnt,
    * −lbl)). The self-vote keeps the bipartite trade graph from the
    * textbook two-coloring oscillation sync-LPA is prone to, and makes
    * the fixed point absorbing. Fixed rounds ⇒ the recurrence is ONE
    * lazy plan and the oracle the same chained CTEs (q126/q136/q161).
    *
    * Shape per round: one dst-keyed join (labels onto arcs) + one
    * (node, label) count hash-agg + one node-keyed argmax hash-agg —
    * all equi-shuffles on node keys, per-round cost ∝ arcs. At 100 TB
    * this is the canonical Pregel-style superstep as three relational
    * ops. */
  def labelProp(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val nodes = CacheScope.cached(e.select(col("src").as("node")).distinct())
    // the self-vote as a SELF-LOOP arc (r13): voting "label of node,
    // delivered to node" through the same join as every neighbor vote
    // means each round references `lab` exactly ONCE, so the fixed-round
    // recurrence stays one PLAIN lazy plan (linear growth, AQE
    // broadcasts the node-sized label state into the arc join) instead
    // of needing a per-round persist to stop 2^rounds tree doubling
    val e2 = e.unionAll(nodes.select(col("node").as("src"),
      col("node").as("dst")))
    var lab = nodes.select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to LabelPropRounds) {
      val votes = e2.join(lab, col("dst") === col("node"))
        .select(col("src").as("node"), col("lbl"))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
      lab = votes
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }
    lab.select(col("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  /** Hub cap for q167's wedge enumeration: intermediates whose degree
    * exceeds this leave the candidate index (the q123/q142 df-cap
    * pattern — a ubiquitous hub contributes deg² wedges and predicts
    * nothing). Documented loss: hub-mediated-only pairs are missed. */
  val LinkDegCap = 256

  /** q167: LINK PREDICTION by common-neighbor counting (Liben-Nowell &
    * Kleinberg 2003) — for every same-side node pair that shares at
    * least 2 neighbors, the common-neighbor count and the exact integer
    * Jaccard (permille) of their neighbor sets. On the bipartite trade
    * graph candidate pairs are never already adjacent (both endpoints
    * sit on the same side), so no existing-edge anti-join is needed —
    * the score ranks supplier pairs serving the same customer base /
    * customer pairs sharing suppliers, the signal a recommender or
    * assortment planner consumes.
    *
    * Shape: degree table (one hash-agg), then wedges enumerated by a
    * SELF-JOIN KEYED ON THE INTERMEDIATE — per-intermediate fan-out is
    * deg², bounded by LinkDegCap² through the hub cap, so the join is
    * linear in (capped) wedge count, never all-pairs. The `common >= 2`
    * floor keeps the output to genuinely supported candidates. Jaccard
    * denominators use FULL (uncapped) degrees, so scores are exact for
    * every emitted pair; only hub-mediated candidate discovery is
    * sacrificed. All shuffles are node-keyed equi-joins/aggs. */
  def linkPredict(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val deg = CacheScope.cached(
      e.groupBy(col("src")).agg(count(lit(1)).as("dg")))
    val mid = deg.filter(col("dg") <= LinkDegCap).select(col("src").as("m"))
    val em = e.join(mid, col("dst") === col("m"))
      .select(col("src"), col("dst"))
    val pairs = em.as("w1")
      .join(em.as("w2"),
        col("w1.dst") === col("w2.dst") && col("w1.src") < col("w2.src"))
      .select(col("w1.src").as("a"), col("w2.src").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    pairs
      .join(deg.select(col("src").as("a"), col("dg").as("dg_a")), "a")
      .join(deg.select(col("src").as("b"), col("dg").as("dg_b")), "b")
      .select(col("a").as("node_a"), col("b").as("node_b"), col("common"),
        col("dg_a"), col("dg_b"),
        expr("(1000 * common) div (dg_a + dg_b - common)").as("jaccard_pm"))
      .orderBy(col("node_a"), col("node_b"))
  }

  /** q178: PERSONALIZED PageRank from a seed set — the seed-restart
    * variant of q126 used for seed-based data discovery: rank mass
    * teleports only to the SEEDS (supplier nodes with suppkey ≡ 0
    * mod 5 here; in production, "documents/users like these"), so
    * the stationary scores measure proximity to the seed
    * neighborhood rather than global centrality. Same exact integer
    * micro-unit recurrence as q126: seeds start at 1e6, each round
    * r'(v) = [v∈S]·150000 + (850 · Σ_{u→v} r(u) div outdeg(u)) div
    * 1000; nodes never reached stay 0 and are dropped from the
    * report.
    *
    * Shape: identical cost to q126 (that's the point — the
    * personalization is a seed indicator column, not a new plan):
    * degree-carrying arcs cached once, each round ONE src-keyed hash
    * join + ONE dst-keyed hash agg, plus a node-keyed left join to
    * re-add the teleport (the nodes relation is one row per node —
    * same cardinality the rank relation already has). Fixed rounds ⇒
    * one lazy plan, each round persisted via CacheScope. */
  def personalizedPageRank(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src")
    val nodes = CacheScope.cached(deg.select(col("src").as("node"),
      when(col("src") % 2 === 0 && expr("(src div 2) % 5 = 0"), lit(1L))
        .otherwise(lit(0L)).as("seed")))
    var rank = nodes.select(col("node"), (col("seed") * 1000000L).as("r"))
    for (_ <- 1 to PageRankIters) {
      val contrib = ed.join(rank, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(expr("(850 * sum(r div outdeg)) div 1000").as("c"))
      // persisted: the teleport re-join makes each round's plan
      // reference BOTH nodes and contrib; measured at sf0.1 the
      // persisted-round form ran 2.7 s vs 3.8-5.1 s plain
      rank = CacheScope.cached(
        nodes.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (col("seed") * 150000L + coalesce(col("c"), lit(0L))).as("r")))
    }
    rank.filter(col("r") > 0)
      .select(col("node"), col("r").as("ppr_micro"))
      .orderBy(col("node"))
  }

  /** q204: TWO-HOP REACH — per node: degree and the number of DISTINCT
    * nodes at distance exactly 2 (friend-of-friend reach, direct
    * neighbors and self excluded). The audience-expansion /
    * influence-radius statistic, and the exact denominator behind
    * q167's common-neighbor link scores.
    *
    * Shape at 100 TB: the wedge join (arcs ⋈ arcs on the middle node)
    * costs Σ deg² — the SAME mass q127's triangle count already pays,
    * documented there as degree-bounded; the distinct and the
    * neighbor-exclusion anti-join are (src, dst)-keyed shuffles. No
    * iteration, no broadcast of anything node-sized. */
  def twoHopReach(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    // fresh aliases on every leg: three self-joins of one cached plan
    // (the q196 shared-lineage discipline)
    val wedges = e.select(col("src").as("a"), col("dst").as("m"))
      .join(e.select(col("src").as("m2"), col("dst").as("b")),
        col("m") === col("m2"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    val reach2 = wedges
      .join(e.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .groupBy(col("a")).agg(count(lit(1)).as("reach2"))
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
      .join(reach2, col("node") === col("a"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("reach2"), lit(0L)).as("reach2"))
      .orderBy(col("node"))
  }

  /** q208: DEGREE ASSORTATIVITY — the Pearson correlation of endpoint
    * degrees over all arcs, reported as SIGNED r²·1000 in exact
    * integer arithmetic (sign(num)·1000·num² div (denx·deny), all
    * DECIMAL(38,0) — num/den are the classic n·Σxy − Σx·Σy cross
    * terms, so no square roots and no float drift). The one-number
    * answer to "do hubs link to hubs" — disassortative graphs (hub →
    * leaf, the typical trade/web shape) need different partitioning
    * and sampling treatment than assortative social graphs.
    *
    * Shape at 100 TB: two degree joins onto the arc relation (both
    * src/dst-keyed) and ONE moment aggregate — no iteration, nothing
    * collected but the 1-row result. Magnitude audit at the driver
    * SFs: num² ≲ 10³⁴ and denx·deny ≲ 10³⁵ — inside DECIMAL(38,0)
    * with ~10³ headroom; beyond ~10⁷ hub-heavy arcs the exact product
    * crosses 10³⁸ and the statistic would move to mean-centered
    * moments (r is affine-invariant), the documented petabyte path. */
  def degreeAssortativity(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val xy = e
      .join(deg.toDF("src", "dx"), "src")
      .join(deg.toDF("dst", "dy"), "dst")
      .select(col("dx"), col("dy"))
    xy.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("sxy"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("sxx"),
        sum(expr("CAST(dy AS DECIMAL(38,0)) * dy")).as("syy"))
      .select(col("n").as("n_arcs"),
        expr("""CAST(CASE WHEN (n*sxx - CAST(sx AS DECIMAL(38,0))*sx) *
               |            (n*syy - CAST(sy AS DECIMAL(38,0))*sy) = 0 THEN NULL
               |  ELSE CASE WHEN n*sxy - CAST(sx AS DECIMAL(38,0))*sy < 0
               |            THEN -1 ELSE 1 END *
               |    ((CAST(1000 AS DECIMAL(38,0)) *
               |      (n*sxy - CAST(sx AS DECIMAL(38,0))*sy) *
               |      (n*sxy - CAST(sx AS DECIMAL(38,0))*sy))
               |     div ((n*sxx - CAST(sx AS DECIMAL(38,0))*sx) *
               |          (n*syy - CAST(sy AS DECIMAL(38,0))*sy)))
               |  END AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("assort_r2_signed_milli"))
  }

  /** q258 truss order and peel-round budget. k = 12 on this corpus
    * yields a genuinely multi-round cascade (measured at sf0.01:
    * 115,729 edges → 69,588 → 22,275 → 2,565 → 1,127 survivors,
    * fixpoint at round 5), so the recurrence is exercised, not just
    * the first filter. 4 rounds is the fixed-round contract the
    * oracle replays (q126/q162 argument); an unconverged residue
    * peels in a later maintenance run exactly like k-core's. */
  val KTrussK = 12
  val KTrussRounds = 4

  /** q258: K-TRUSS decomposition — repeatedly delete every edge that
    * sits in fewer than k−2 triangles, until the surviving subgraph
    * (the k-truss) has every edge supported by ≥ k−2 triangles. The
    * EDGE-level strengthening of q162's k-core (Cohen 2008): a k-core
    * keeps nodes with enough neighbors, a k-truss keeps edges with
    * enough MUTUAL neighbors — the standard dense-community extractor
    * on co-occurrence graphs, here the part co-purchase graph.
    * Output: every edge of the input graph with the round that peeled
    * it (1..R; 0 = survivor) and its support at that moment — the
    * same peel-certificate shape as q162.
    *
    * Triangle enumeration is the DEGREE-ORIENTED set (q127's
    * Suri–Vassilvitskii orientation, O(√m) out-degree bound), produced
    * by [[orientedTriangles]]'s adjacency-intersect plan. The oracle
    * replays the rounds with the a<b<c sorted-triple enumeration — a
    * different (quadratic-in-hubs) join order that provably counts the
    * SAME triangles, so parity is algorithm-equivalence evidence, not
    * replay of the same plan.
    *
    * Like q162 (and unlike q126's one-lazy-plan recurrence), each
    * round MATERIALIZES: each round persists its support relation,
    * lineage-truncates, and unpersists its predecessor. Converged
    * rounds (empty peel) are skipped — byte-identical output, the
    * oracle replays the no-op rounds and agrees.
    *
    * ONE SUPPORT ROUTINE. Support is first counted on the whole graph;
    * each round peels the edges under k−2 and recounts support on the
    * survivor subgraph with the same routine: orient, enumerate,
    * explode-to-edges and hash-agg in ONE fused lazy plan, persisted
    * through its one count, with no triangle relation ever
    * materialized. The support a round holds is therefore always
    * s_r(e) = |triangles ∋ e in the surviving subgraph|, so the
    * rounds-exhausted exit needs no re-pricing pass (the oracle's final
    * support block recomputes it from scratch and must agree).
    * Recounting on the survivors, rather than decrementing each
    * survivor by its newly-dead triangles, is the cheap side on this
    * corpus: the first peel destroys 97.8% of sf0.1's 1.88M triangles,
    * and from sf0.001 to sf0.1 every round after the first peels at
    * least as many edges as survive it. */
  def kTruss(spark: SparkSession, d: String): DataFrame =
    kTrussOf(spark, coPurchaseEdges(spark, d))

  /** [[kTruss]] over an injected canonical (p1 < p2, distinct) edge
    * relation — the operator body, parameterized for the planted-graph
    * spec. */
  private[graft] def kTrussOf(spark: SparkSession, edges0: DataFrame): DataFrame = {
    val thr = (KTrussK - 2).toLong
    import CacheScope.truncate
    // per-edge support of `edges` within the subgraph they span, fused:
    // (deg,id) orientation → adjacency-intersect enumeration →
    // explode-to-edges → hash-agg → one left join, ONE lazy plan. The
    // count fills the persisted support (persist-through); the
    // orientation then feeds nothing more. Corner ids come in (deg,id)
    // order, so each triangle edge is re-sorted to canonical p1 < p2.
    // `edges` is either the parquet read of the salted edge stage (a
    // leaf scan already) or a filter over the cached previous support.
    def support(edges: DataFrame): DataFrame = {
      val deg = edges.select(col("p1").as("node"))
        .unionAll(edges.select(col("p2").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val oriented = CacheScope.cached(orient(edges, deg))
      def edge(x: String, y: String): Column =
        struct(least(col(x), col(y)).as("p1"), greatest(col(x), col(y)).as("p2"))
      val perEdge = orientedTriangles(oriented)
        .select(explode(array(edge("a", "b"), edge("b", "c"), edge("a", "c"))).as("e"))
        .groupBy(col("e.p1").as("p1"), col("e.p2").as("p2"))
        .agg(count(lit(1)).as("s0"))
      val supP = CacheScope.cached(edges.join(perEdge, Seq("p1", "p2"), "left")
        .select(col("p1"), col("p2"), coalesce(col("s0"), lit(0L)).as("s")))
      supP.count()
      oriented.unpersist()
      supP
    }

    var supP = support(edges0)
    var sup = truncate(supP)
    // PEEL rows are persisted per round (they feed the result plan);
    // peels are DISJOINT — an edge peels once — so all rounds' peel
    // caches together hold ≤ |edges| rows. Only the CURRENT support
    // stays persisted: once the next round's support is materialized,
    // its predecessor feeds nothing (peel rows have their own cache)
    // and unpersists immediately.
    var peels = Vector.empty[DataFrame]
    var r = 1
    var converged = false
    while (r <= KTrussRounds && !converged) {
      val peelP = CacheScope.cached(sup.filter(col("s") < thr)
        .select(col("p1"), col("p2"), lit(r.toLong).as("peel_round"),
          col("s").as("support")))
      // convergence = the SAME count job that materializes the peel rows
      converged = peelP.count() == 0
      if (converged) peelP.unpersist()
      else {
        peels :+= peelP
        // survivor edges re-filter the CACHED support — an in-memory
        // scan per reference, no persist of its own needed
        val nextSupP = support(sup.filter(col("s") >= thr).select(col("p1"), col("p2")))
        supP.unpersist()
        supP = nextSupP
        sup = truncate(nextSupP)
      }
      r += 1
    }
    // the peel rows and the final support back the result until the
    // caller's scope ends. Survivor support is the held support (the
    // invariant above) in either exit; when converged the filter is the
    // identity (an empty peel means no row is under threshold).
    val core = (if (converged) sup.filter(col("s") >= thr) else sup)
      .select(col("p1"), col("p2"), lit(0L).as("peel_round"),
        col("s").as("support"))
    (peels :+ core).reduce(_ unionAll _)
      .orderBy(col("p1"), col("p2"))
  }

  /** Club sizes for q276 — the degree-elite tiers whose internal
    * density the rich-club curve prices. */
  val RichClubKs: Seq[Int] = Seq(16, 32, 64, 128)

  /** q276: RICH-CLUB COEFFICIENT CURVE — for each club size k in
    * [[RichClubKs]], the edge density AMONG the k highest-degree
    * nodes of the co-purchase graph vs the whole graph's density, in
    * exact milli: φ(k) = E_k / C(m,2), ratio = φ(k)/φ(global) as ONE
    * cross-multiplied integral division (never two stacked rounded
    * divisions). A ratio ≫ 1000 means the hubs preferentially
    * interconnect — the popular parts co-sell with each other, so
    * hub-targeted promotions (or, on a crawl graph, hub-order crawl
    * scheduling and cache placement) compound; ratio ≈ 1000 means
    * degree alone explains nothing. Complements q127 (how clustered
    * is each node's OWN neighborhood) and q208 (do high-degree nodes
    * ATTACH to high-degree nodes — assortativity over all edges):
    * the rich-club question is about the induced subgraph of the
    * elite, which assortativity provably cannot resolve.
    *
    * Determinism: club membership ranks by (degree desc, node asc) —
    * boundary ties resolve identically in both engines.
    *
    * Shape at 100 TB: degrees from the persisted co-purchase edge
    * stage (one keyed agg); the club is a ≤max(k) bounded
    * TakeOrdered-style collect (the q240 driver-fold contract — 128
    * rows, never a global sort), re-broadcast as an isin literal; per
    * k one membership-filtered edge count over the edge relation.
    * |Ks| bounded passes; each is a codegen'd scan-and-count. */
  def richClub(spark: SparkSession, d: String): DataFrame = {
    val pairs = coPurchaseEdges(spark, d)
    val deg = pairs.select(col("p1").as("node"))
      .union(pairs.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val kMax = RichClubKs.max
    // bounded collect: exactly min(kMax, |nodes|) rows
    val elite = deg.orderBy(col("dg").desc, col("node")).limit(kMax)
      .select(col("node")).collect().map(_.getLong(0))
    val nNodes = deg.count()
    val nEdges = pairs.count()
    val rows = RichClubKs.map { k =>
      val members = elite.take(k)
      val m = members.length.toLong
      val ek =
        if (m < 2) 0L
        else pairs.filter(col("p1").isInCollection(members) &&
          col("p2").isInCollection(members)).count()
      val density =
        if (m < 2) 0L else 2000L * ek / (m * (m - 1))
      // ratio in ONE division: (E_k·N·(N−1)) / (E·m·(m−1)) — exact
      val ratio =
        if (m < 2 || nEdges == 0) 0L
        else ((BigInt(1000) * ek * nNodes * (nNodes - 1)) /
          (BigInt(nEdges) * m * (m - 1))).toLong
      (k.toLong, m, ek, density, ratio)
    }
    val s = spark
    import s.implicits._
    rows.toDF("k", "n_members", "n_edges_within", "density_milli",
        "rc_ratio_milli")
      .orderBy(col("k"))
  }

  /** q285: BRAND MODULARITY of the co-purchase graph — Newman
    * modularity Q of the FIXED partition given by the catalog's brand
    * labels, emitted as per-brand contributions in exact signed
    * micro: contrib_c = (4m·e_c − d_c²) / (4m²) where e_c = edges
    * inside brand c, d_c = degree mass of brand c, m = |edges|; Q =
    * Σ_c contrib_c. The community-QUALITY question q163 (label
    * propagation FINDS communities) and q208 (degree assortativity)
    * cannot answer: does the catalog's own brand taxonomy explain the
    * co-purchase topology better than chance (contrib > 0: the brand
    * buys together; contrib < 0: the label cuts across real basket
    * structure — a taxonomy-vs-behavior mismatch worth a merchandising
    * review). Common-denominator form, ONE sign-decomposed floored
    * division per brand — never two stacked rounded divisions.
    *
    * Shape at 100 TB: rides the persisted co-purchase edge stage;
    * brand labels join broadcast (part is a dimension); e_c and
    * (n_nodes, d_c) are two keyed hash-aggs; m is a 1-row bounded
    * collect re-entering as a literal. 10⁶·|num| ≤ 8·10⁶·m² — routed
    * DECIMAL(38,0), exact to m ~ 2·10¹⁵ edges. */
  def brandModularity(spark: SparkSession, d: String): DataFrame = {
    val pairs = coPurchaseEdges(spark, d)
    val brand = Tables.part(spark, d)
      .select(col("p_partkey").as("node"), col("p_brand").as("b"))
    val m = pairs.count() // 1-row scalar, the q276 bounded contract
    val within = pairs
      .join(broadcast(brand.select(col("node").as("p1"), col("b").as("b1"))), "p1")
      .join(broadcast(brand.select(col("node").as("p2"), col("b").as("b2"))), "p2")
      .filter(col("b1") === col("b2"))
      .groupBy(col("b1").as("brand")).agg(count(lit(1)).as("ew"))
    val degs = pairs.select(col("p1").as("node"))
      .unionAll(pairs.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      .join(broadcast(brand), "node")
      .groupBy(col("b").as("brand"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("deg_sum"))
    degs.join(within, Seq("brand"), "left")
      .select(col("brand"), col("n_nodes"),
        coalesce(col("ew"), lit(0L)).as("n_edges_within"), col("deg_sum"))
      .withColumn("num", expr(
        s"CAST(4 AS DECIMAL(38,0)) * ${m}L * n_edges_within" +
          " - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum"))
      .withColumn("contrib_micro", expr(
        s"""CAST(CASE WHEN num >= 0
           |  THEN (1000000 * num) div (CAST(4 AS DECIMAL(38,0)) * ${m}L * ${m}L)
           |  ELSE -((1000000 * (-num)) div (CAST(4 AS DECIMAL(38,0)) * ${m}L * ${m}L))
           |END AS BIGINT)""".stripMargin.replace("\n", " ")))
      .select(col("brand"), col("n_nodes"), col("n_edges_within"),
        col("deg_sum"), col("contrib_micro"))
      .orderBy(col("brand"))
  }

  /** The distinct customer→part purchase edge relation (q303's
    * bipartite graph) — since round 14 a PERSISTED salted stage (the
    * tradeArcs/coPurchaseEdges contract): the lineitem ⋈ orders
    * equi-join + 570 k-row distinct depends only on the corpus
    * version, and q303 consumes the relation ~8× per run (3 HITS
    * rounds × 2 sides + 2 degree aggs), so warm consumers scan ONE
    * parquet leaf instead of re-planning the join+distinct subtree
    * into every round (guide §6; measured at sf0.1: the subtree
    * appeared 8× in the physical plan). NOT re-persisted in memory —
    * the r13 arc-cache lesson: an InMemoryRelation hides the leaf's
    * size from AQE's join-strategy switch and pays a columnar build
    * for a ~6 MB re-scan. */
  private[graft] def custPartEdges(spark: SparkSession, d: String): DataFrame = {
    val dir = SaltedIndex.build(spark, SaltedIndex.dir(spark, "custpart", BipIdxVersion,
      s"$d/lineitem.parquet",
      Seq("corpus" -> d,
        "orders" -> SaltedIndex.stamp(spark, s"$d/orders.parquet")))) { p =>
      val li = Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      val os = Tables.orders(spark, d)
        .select(col("o_orderkey").as("ok2"), col("o_custkey").as("c"))
      li.join(os, col("ok") === col("ok2"))
        .select(col("c"), col("p")).distinct()
        .write.mode("overwrite").parquet(s"$p/edges")
    }
    Tables.parquet(spark, s"$dir/edges")
  }

  private val BipIdxVersion = "0.0.1"

  /** Full a→h HITS rounds (q303). Three is the contract: scores after
    * round k are exact integers bounded by (max degree)^(2k), so
    * three rounds keep the unnormalized mass inside DECIMAL(38,0)
    * even at degree ~10⁶ nodes — see the scaladoc below. */
  val HitsIters = 3

  /** q303: HITS HUB/AUTHORITY SCORES over the bipartite customer→part
    * purchase graph (Kleinberg's algorithm on the "customer cites the
    * parts they buy" reading): authority(p) = Σ_{c→p} hub(c),
    * hub(c) = Σ_{c→p} authority(p), three full a→h rounds from
    * hub₀ ≡ 1, UNNORMALIZED — the per-round rescale every floating
    * HITS needs for numeric range is replaced by exact integer growth
    * (round-k mass ≤ (max deg)^{2k}, inside DECIMAL(38,0) for 3
    * rounds at any realistic degree), and ONE final normalization to
    * ppm of each side's total. Scale-free in exact arithmetic: the
    * floor happens once, not per round, so the oracle replays every
    * bit. An authority is a part bought by well-connected customers
    * (not merely a high-degree part — the output carries degree so
    * the two rankings can be compared); a hub is a customer whose
    * basket covers authoritative parts. The directed-centrality view
    * q126's undirected PageRank and q276's degree elite can't give.
    *
    * Shape at 100 TB: the edge relation is a persisted salted stage
    * (one equi-join + distinct per corpus version — [[custPartEdges]]);
    * each round is ONE edge-keyed hash
    * join + ONE node-keyed hash aggregate (the q126 shape — linear in
    * edges, no quadratic pairing); the two final totals are scalar
    * aggregates broadcast back (one-row nested-loop joins, allowlisted
    * like every scalar broadcast in the surface). The 3-round chain
    * stays one lazy plan with plain (un-persisted) round states: each
    * state is node-sized and referenced once, AQE broadcasts it into
    * the edge join, and a lost executor recomputes at most the 6-stage
    * lineage. */
  def hitsBipartite(spark: SparkSession, d: String): DataFrame = {
    // the persisted salted stage (r14): a leaf parquet scan per
    // consumer — no in-memory re-persist (see custPartEdges)
    val e = custPartEdges(spark, d)
    // hub0 = 1 per customer, so round-1 authority is the part degree.
    // Rounds stay PLAIN lazy (r13): each state is referenced exactly
    // once by the next round, so the plan grows linearly, and leaving
    // the 20k-row states as ordinary shuffle stages lets AQE see their
    // real size and broadcast them into the edge joins — a per-round
    // InMemoryRelation hid the size and forced sort-merge over the
    // 570k-row cached edge relation every iteration (measured 9.5-12 s
    // vs 6.4-7.0 s at sf0.1).
    var a = e.groupBy(col("p"))
      .agg(expr("CAST(count(1) AS DECIMAL(38,0))").as("a"))
    var h = e.join(a, "p").groupBy(col("c"))
      .agg(sum(col("a")).as("h"))
    for (_ <- 2 to HitsIters) {
      a = e.join(h, "c").groupBy(col("p"))
        .agg(sum(col("h")).as("a"))
      h = e.join(a, "p").groupBy(col("c"))
        .agg(sum(col("a")).as("h"))
    }
    // both finals feed two consumers (total + output rows): cache so
    // the last round computes once (the q192 multi-consumer lesson)
    val af = CacheScope.cached(a)
    val hf = CacheScope.cached(h)
    val at = af.agg(sum(col("a")).as("ta"))
    val ht = hf.agg(sum(col("h")).as("th"))
    val degP = e.groupBy(col("p")).agg(count(lit(1)).as("degree"))
    val degC = e.groupBy(col("c")).agg(count(lit(1)).as("degree"))
    val auth = af.join(degP, "p").crossJoin(broadcast(at))
      .select(lit("auth").as("node_type"), col("p").as("node"),
        col("degree"), expr("CAST((1000000 * a) div ta AS BIGINT)")
          .as("score_ppm"))
    val hub = hf.join(degC, "c").crossJoin(broadcast(ht))
      .select(lit("hub").as("node_type"), col("c").as("node"),
        col("degree"), expr("CAST((1000000 * h) div th AS BIGINT)")
          .as("score_ppm"))
    auth.unionAll(hub).orderBy(col("node_type"), col("node"))
  }

  /** q311's pinned seed-sample size. */
  val HarmonicSeeds = 64

  /** q311: SAMPLED-SEED HARMONIC CLOSENESS — per node, Σ 1/d(seed, v)
    * in milli (each reciprocal ONE floor, 1000 div d) over a PINNED
    * sample of the q178 seed constituency (the [[HarmonicSeeds]]
    * lowest eligible supplier nodes) within [[BfsRounds]] hops, plus
    * the seeds-reached count. Harmonic centrality is the
    * closeness variant that stays defined on disconnected graphs
    * (unreached seeds contribute 0, not ∞), and seed-sampling is the
    * standard estimator at scale (Boldi & Vigna's framework) — exact
    * given the seed set, which is deterministic and data-derived
    * here. The access-proximity view the surface's other centralities
    * don't give: q126 ranks by recursive mass, q303 by bipartite
    * citation, q276/q127 by degree structure — this ranks by
    * DISTANCE to a fixed constituency ("how close is this customer to
    * the sampled supplier base"). Nodes reaching no seed within the
    * horizon are absent, like q131's unreached nodes.
    *
    * Shape at 100 TB: BIT-PARALLEL multi-source BFS — per node the
    * per-seed state is one 64-bit mask (the sample is PINNED at 64;
    * an unpinned mod-5 seed set made the state grow with the graph
    * and cost ~50 s at sf0.1), so each round is one arcs-keyed join +
    * a bit_or hash-agg (map-side partial collapses the arc fan-in to
    * ≤ |nodes| rows per partition) + a node-keyed full join carrying
    * the running harmonic totals; work is linear in arcs per round
    * and no (seed, node) pair relation ever materializes. */
  def harmonicCloseness(spark: SparkSession, d: String): DataFrame = {
    val e = tradeArcs(spark, d)
    // PINNED sample: the lowest HarmonicSeeds eligible supplier nodes —
    // the q279 deployment model (corpus grows, the probe constituency
    // does not). TakeOrdered over the supplier-dimension-bounded
    // eligible set, never a corpus sort.
    //
    // BIT-PARALLEL multi-source BFS (round 13): with the sample pinned
    // at 64, the per-node per-seed reachability state is ONE Long
    // bitmask (seed k ↦ bit k by seed rank), so the recurrence never
    // materializes (seed, node, dist) pairs at all. The old
    // frontier-pair form was exact but its hop-3/4 expansions
    // generated tens of millions of pre-distinct rows (64 seeds ×
    // ~16k nodes × ~73 mean degree at sf0.1 — measured 9.6 s warm /
    // 29.8 s cold); each round here is ONE arcs-keyed join + a
    // bit_or hash-agg whose partial (map-side) aggregation collapses
    // the arc fan-in to ≤ |nodes| rows per partition, plus a
    // node-keyed full join carrying the running totals. A bit enters
    // a node's mask exactly at its BFS distance (masks grow
    // monotonically), so newly-set bits at hop h contribute
    // popcount · (1000 div h) — identical semantics, and the whole
    // 4-round recurrence is back to ONE lazy plan (no per-round
    // driver barrier; each round is a CacheScope persist). At >64
    // seeds the mask generalizes to an array of words, same plan.
    // shiftleft wraps mod 64 in Spark: a seed count past 64 would
    // silently alias seeds into the same bit and corrupt results, not
    // fail — fail loudly instead (r13 ADVICE)
    require(HarmonicSeeds <= 64,
      s"bit-parallel BFS packs one seed per Long bit; HarmonicSeeds = " +
        s"$HarmonicSeeds > 64 needs the array-of-words generalization")
    val seeds = e.select(col("src")).distinct()
      .filter(expr("src % 2 = 0 AND (src div 2) % 5 = 0"))
      .orderBy(col("src")).limit(HarmonicSeeds)
      .select(col("src").as("node"),
        (row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("src"))) - 1)
          .as("bit"))
    // state: (node, reached mask, harmonic_milli so far, seeds reached
    // so far); dist-0 self-bits seed the masks but never score (the
    // dist > 0 contract) — monotone masks mean they can't re-enter
    // persisted per round: each round reads state twice (neighbor fold
    // + carry join), so a plain plan would double per round
    var state = CacheScope.cached(seeds.select(col("node"),
      expr("shiftleft(1L, cast(bit as int))").as("reached"),
      lit(0L).as("harm"), lit(0L).as("nsr")))
    for (h <- 1 to BfsRounds) {
      val nbr = e.join(state.select(col("node").as("j"), col("reached")),
          col("src") === col("j"))
        .groupBy(col("dst")).agg(expr("bit_or(reached)").as("m"))
        .select(col("dst").as("node"), col("m"))
      state = CacheScope.cached(
        state.join(nbr, Seq("node"), "full")
          .select(col("node"),
            expr("coalesce(reached, 0L) | coalesce(m, 0L)").as("reached"),
            (coalesce(col("harm"), lit(0L)) +
              expr(s"bit_count(coalesce(m, 0L) & ~coalesce(reached, 0L))") *
                lit(1000L / h)).as("harm"),
            (coalesce(col("nsr"), lit(0L)) +
              expr(s"bit_count(coalesce(m, 0L) & ~coalesce(reached, 0L))"))
              .as("nsr")))
    }
    state.filter(col("nsr") > 0)
      .select(col("node"), col("nsr").as("n_seeds_reached"),
        col("harm").as("harmonic_milli"))
      .orderBy(col("node"))
  }
}
