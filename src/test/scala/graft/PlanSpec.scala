package graft

/** Physical-plan shape assertions: the properties that make these
  * queries scale are pinned here, so a refactor that silently loses
  * pushdown / broadcast / top-k would fail the suite, not just slow the
  * bench. */
class PlanSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  // runtime bloom-filter injection is pinned in RuntimeFilterSpec

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicates and projection reach the parquet scan") {
    val p = planOf(Queries.scanFilterProject(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_discount), GreaterThan(l_quantity,45.0)"))
    // pruned read schema: only the projected+filter columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"))
    assert(!p.contains("l_comment")) // untouched columns never read
  }

  test("q03/q17: dim joins broadcast while small, but only FIXED dims are hinted") {
    // customer/supplier are SF-proportional: they must broadcast here
    // purely via size statistics (so AQE can demote them at 100 TB),
    // never via a forced hint that would pin the choice at any scale
    assert(planOf(Queries.joinOrdersCustomer(spark, d)).contains("BroadcastHashJoin"))
    val p = planOf(Queries.localSupplierVolume(spark, d))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    def hintedTables(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child.output.map(_.name).mkString(",")
      }
    }
    for (q <- Seq(Queries.joinOrdersCustomer(spark, d),
                  Queries.shippingPriority(spark, d),
                  Queries.localSupplierVolume(spark, d));
         cols <- hintedTables(q)) {
      assert(!cols.contains("c_custkey") && !cols.contains("s_suppkey"),
        s"SF-proportional table carries a forced broadcast hint: $cols")
    }
  }

  test("q175/q176: attribution pairs on the user key; priority sample is a bounded heap") {
    // the 7-day band must ride a user-keyed EQUI join, never a
    // nested-loop over conversions × touches
    val p = planOf(Queries.attribution(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // top-K without a global sort (the q10 pin)
    val q = planOf(Curation.prioritySample(spark, d))
    assert(q.contains("TakeOrderedAndProject"), q)
  }

  test("q01: aggregation is partial before the shuffle (map-side combine)") {
    val p = planOf(Queries.pricingSummary(spark, d))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial_"))
  }

  test("q10: global sort+limit plans as TakeOrderedAndProject (no full sort)") {
    assert(planOf(Queries.topOrders(spark, d)).contains("TakeOrderedAndProject"))
  }

  test("q25/q31: native kernels appear in the plan (no CodegenFallback HOFs)") {
    val p = planOf(Dedup.embeddingNearDup(spark, d))
    assert(p.contains("graft_dot"))
    assert(!p.contains("aggregate(zip_with"))
    val f = planOf(TextAnalysis.fingerprint(spark, d))
    assert(f.contains("graft_polyhash") && f.contains("graft_shinglehashes"))
  }

  test("q24/q25: candidate-blocked pairing — no nested-loop/cartesian join") {
    val s = planOf(Dedup.simhash(spark, d))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
    val e = planOf(Dedup.embeddingNearDup(spark, d))
    assert(!e.contains("BroadcastNestedLoopJoin") && !e.contains("CartesianProduct"), e)
    // the exact spec-side twin is the one allowed to nested-loop
    assert(planOf(ReferenceTwins.embeddingNearDupExact(spark, d)).contains("BroadcastNestedLoopJoin"))
  }

  test("q44/q45: temporal joins plan with no nested-loop/cartesian join") {
    val a = planOf(operators.TemporalJoins.asofJoin(spark, d))
    assert(!a.contains("BroadcastNestedLoopJoin") && !a.contains("CartesianProduct"), a)
    assert(a.contains("Window")) // the union+window formulation, not a range join
    val r = planOf(operators.TemporalJoins.rangeJoinAgg(spark, d))
    assert(!r.contains("BroadcastNestedLoopJoin") && !r.contains("CartesianProduct"), r)
  }

  test("q50/q54: sampling is scan+broadcast-join+filter — no exchange except the output sort") {
    for (p <- Seq(planOf(Curation.stratifiedSample(spark, d)),
                  planOf(Curation.upsample(spark, d)))) {
      assert(p.contains("BroadcastHashJoin"), p) // the rate/weight dim
      // no key shuffle anywhere: the only exchanges are the final ORDER
      // BY's rangepartitioning, the broadcast of the rate dim, and the
      // fixture-only round-robin spread in Tables.documentsDist
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("q53: term search tops out via TakeOrderedAndProject, zero joins") {
    val p = planOf(TextAnalysis.termSearch(spark, d))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("q48: int8 coarse pass broadcasts the queries; no nested-loop verify") {
    val p = planOf(Similarity.int8TopK(spark, d))
    assert(p.contains("graft_dot"), p) // quantized dots run in the native kernel
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q55/q56: eval probe broadcasts; ingest pairing has no nested-loop join") {
    val p = planOf(Dedup.decontaminate(spark, d))
    assert(p.contains("BroadcastHashJoin"), p) // the tiny eval shingle set
    val q = planOf(Dedup.ingestDedup(spark, d))
    assert(!q.contains("BroadcastNestedLoopJoin") && !q.contains("CartesianProduct"), q)
  }

  test("whole-stage codegen wraps the scan-side pipeline (q01, final AQE plan)") {
    val df = Queries.pricingSummary(spark, d)
    df.collect() // AQE finalizes codegen stages only in the final plan
    // "*(n)" is the compact WholeStageCodegen marker in plan strings
    assert(planOf(df).contains("*(1)"))
  }

  test("q61: both aggregation levels combine map-side (partial before each shuffle)") {
    val p = planOf(TextAnalysis.repetitionStats(spark, d))
    // one partial aggregate node per level — a single match would let
    // one level regress to final-only aggregation. Level 2 plans as
    // SortAggregate (struct-buffer min has no mutable hash buffer) but
    // still combines map-side, which is the property that matters.
    assert("(Hash|Sort)Aggregate[^\\n]*partial_".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the interpreted 5-gram distinct must evaluate once per DOCUMENT,
    // i.e. in the Project BELOW the Generate (children print after
    // parents in the tree dump) — above it, it re-runs per word (~60×)
    assert(p.indexOf("array_distinct") > p.indexOf("Generate"),
      "5-gram stats evaluated above the explode")
  }

  test("q62/q63: vocabulary-side joins broadcast; no pairwise nested-loop") {
    val p62 = planOf(TextAnalysis.tfidfTerms(spark, d))
    // the df join is deliberately unhinted (a web-scale vocabulary must
    // be able to degrade to a shuffle join) — pin only that it plans as
    // an EQUI-join of either strategy
    assert(p62.contains("BroadcastHashJoin") || p62.contains("SortMergeJoin") ||
      p62.contains("ShuffledHashJoin"), p62)
    // the only nested-loop allowed is the 1-row corpus-count scalar
    // broadcast (crossJoin(nDocs)); a pairwise NLJ would be a second one
    assert("BroadcastNestedLoopJoin".r.findAllIn(p62).size <= 1)
    assert(!p62.contains("CartesianProduct"))
    val p63 = planOf(Curation.sourceOverlap(spark, d))
    assert(p63.contains("BroadcastHashJoin"))
    assert(!p63.contains("CartesianProduct") && !p63.contains("BroadcastNestedLoopJoin"))
  }

  test("q106: 64-bit simhash pairs via chunk equi-join, native kernel, no nested-loop") {
    val p = planOf(Dedup.simhash64(spark, d))
    assert(p.contains("graft_bitvote64"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q107/q109: span queries scan only (doc_id, text); eval side of q107 broadcasts") {
    val p7 = planOf(Dedup.contamSpans(spark, d))
    assert(p7.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    assert(p7.contains("BroadcastHashJoin")) // the benchmark shingle probe
    assert(!p7.contains("BroadcastNestedLoopJoin") && !p7.contains("CartesianProduct"), p7)
    val p9 = planOf(Dedup.verbatimOverlap(spark, d))
    assert(p9.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    // the gram-hash inverted-index self-join must stay an equi-join
    assert(!p9.contains("BroadcastNestedLoopJoin") && !p9.contains("CartesianProduct"), p9)
  }

  test("q22/q46/q138/q142: no FORCED broadcast of corpus-cardinality relations") {
    // the per-doc size relations (one row per document) must join
    // unhinted — an explicit broadcast() is an instruction, not a hint,
    // and at 100 TB would OOM the driver. AQE may still broadcast at
    // runtime when the relation is genuinely small; what this pins is
    // that the LOGICAL plan carries no broadcast hint anywhere in the
    // pair-join family.
    for (df <- Seq(Dedup.ngramJaccard(spark, d),
                   Dedup.ngramJaccardPrefix(spark, d),
                   Dedup.containmentPairs(spark, d),
                   Dedup.containmentPairsCapped(spark, d))) {
      val lp = df.queryExecution.optimizedPlan.toString
      assert(!lp.contains("strategy=broadcast"), lp)
    }
  }

  test("q142: stop-shingle df cap bounds the containment posting index") {
    // adversarial corpus: one ubiquitous shingle shared by every doc
    // (df = n docs > cap) plus one distinctive pair. Uncapped, the hot
    // shingle alone contributes C(n,2) pair instances; capped, it falls
    // out of the index and only the distinctive pair survives to verify.
    import spark.implicits._
    val hot = (0L until 100L).map(i => (i, s"boiler plate header unique$i tail$i end$i"))
    val dup = Seq((200L, "alpha beta gamma delta epsilon zeta"),
                  (201L, "alpha beta gamma delta epsilon zeta"))
    val docs = (hot ++ dup).toDF("doc_id", "text")
    val capped = Dedup.containmentPairsDf(docs, dfCap = Some(16L))
    val rows = capped.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the exact duplicate pair survives (its shingles have df=2)...
    assert(rows.contains((200L, 201L)), rows)
    // ...and no hot-shingle-only pair does: "boiler plate header" has
    // df=100 > 16 and is each hot doc's ONLY shared shingle
    assert(!rows.exists { case (a, b) => a < 100L && b < 100L }, rows)
    // uncapped twin DOES see hot pairs only if containment clears 0.8 —
    // with 4 shingles per hot doc and 1 shared, it must not; the real
    // invariant is capped ≡ uncapped when no shingle exceeds the cap
    val eqDocs = dup.toDF("doc_id", "text")
    val a = Dedup.containmentPairsDf(eqDocs).collect().map(_.toSeq)
    val b = Dedup.containmentPairsDf(eqDocs, dfCap = Some(16L)).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("q73: no single-partition global window (two-pass distributed ranking)") {
    // the ranking suite must never plan `Window.orderBy` with no
    // partition spec — the one-task global sort that dies at 100×.
    // The distributed formulation keeps every WindowExec partitioned
    // (local ranks within range partitions).
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = Queries.customerDeciles(spark, d).queryExecution.executedPlan
    val global = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty, s"single-partition window(s): $global")
  }

  test("q108: count-table joins are EQUI-joins free to degrade to shuffle at scale") {
    val p = planOf(TextAnalysis.bigramFluency(spark, d))
    // like q62's vocabulary join: pin the equi-join property, not the
    // strategy — a 100 TB vocabulary must be able to shuffle
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_")) // both count tables combine map-side
  }
}
