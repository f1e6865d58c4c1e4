package graft

/** Global plan sweep over the ENTIRE query surface: no query may plan
  * a nested-loop or cartesian join except the documented small-side
  * broadcasts below. The per-query PlanSpec pins guard named plans;
  * this sweep guards every FUTURE query too — adding a quadratic
  * pairing to SparkEntry.queries fails the suite by default.
  */
class PlanSweepSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  /** Queries whose nested-loop joins are by-design bounded broadcasts,
    * with the invariant that keeps each linear in the corpus:
    *  - q26/q38: exact brute-force baselines — 10 broadcast queries ×
    *    corpus (the verify oracle for the blocked ANN paths)
    *  - q33: vector × nlist(=16) broadcast centroids, the standard
    *    O(N·nlist) IVF assignment/probe cost
    *  - q48: 10 broadcast queries × corpus COARSE scan — the operator's
    *    point is that this pass reads 4× fewer bytes
    *  - q62/q66: one-row scalar broadcasts (corpus count / CM sketch)
    *  - q83: ADC table build = 10 queries × 128 codebook rows broadcast;
    *    the corpus-side pass is a broadcast HASH join on (s, c)
    */
  private val allowed = Map(
    "q26_knn_bruteforce" -> 1, "q33_knn_ivf" -> 2, "q38_knn_topk_agg" -> 1,
    "q48_knn_int8" -> 1, "q62_tfidf_terms" -> 1, "q66_heavy_users" -> 1,
    "q83_knn_pq" -> 1,
    // q110: the one-row budget scalar broadcast (|langs| rows × 1)
    "q110_mixture_plan" -> 1,
    // q114: the one-row corpus-statistics scalar broadcast (N, total
    // tokens, per-term dfs) re-entering the scoring scan
    "q114_bm25_search" -> 1,
    // q128/q129: one-row corpus-totals scalar broadcasts (N/M token
    // totals; target/raw totals) joined to the vocabulary-sized /
    // 1024-row-bounded count tables
    "q128_collocations" -> 1,
    "q129_importance_weights" -> 1,
    // q135 = q129's affinity pass + a row-local filter; same one-row
    // corpus-totals scalar broadcast
    "q135_dsir_select" -> 1,
    // q140: q38's broadcast-queries × corpus scan with the label
    // inequality in the join condition — same bounded exact baseline
    "q140_hard_negatives" -> 1,
    // q323: the q26/q299 documented bounded broadcast — the pinned
    // stride sample (≠-key join) × one corpus scan; pairs collapse in
    // the per-query hash-agg, nothing pairwise survives
    "q323_distance_contrast" -> 1,
    // q326: the one-row corpus-doc-count scalar broadcast (q62's
    // pattern) onto the df-capped candidate relation
    "q326_term_keyness" -> 1,
    // q329: the one-row window-range scalar broadcast feeding the
    // sequence-exploded spine (|types| × calendar-bounded windows) —
    // the spine is traversed once per consumer branch (dead streaks +
    // the liveness rollup), so the ONE logical scalar broadcast
    // appears twice in the physical tree (the q159 precedent)
    "q329_feed_liveness" -> 2,
    // q330: the one-row pooled-MH-sums scalar broadcast back onto the
    // 5 stratum rows (q304's repeated-global pattern)
    "q330_mantel_haenszel" -> 1,
    // q341: the one-row DiD/variance scalar broadcast back onto the
    // 4 cell rows (q304's repeated-global pattern)
    "q341_did_returns" -> 1,
    // q348: the |sources|² pair spine from the one-row-per-source
    // totals (r12 ADVICE — restores zero-shared-vocabulary pairs)
    "q348_source_tv" -> 1,
    // q333: scalar-bounded broadcasts only — the week-range spine
    // explode × the 7-row dow range (re-instantiated in the perDow,
    // Σdr², and final branches of the tree — the q146 precedent), the
    // one-row Σdr² denominator, and the one-row (num, den) global
    // back onto the 7 dow rows; every relation involved is a
    // calendar/dow grid, never the corpus
    "q333_friedman_dow" -> 5,
    // q141: the one-row session-count scalar broadcast
    "q141_session_associations" -> 1,
    // q146: the eval re-instantiates the q26 truth plan three times
    // (n_gt + two hit joins) and the q48 coarse pass once — each the
    // SAME documented 10-broadcast-queries × corpus scan as above
    "q146_quant_recall" -> 4,
    // q148: the |langs|(=5)-row smoothing-denominator broadcast onto
    // test tokens + the one-row vocab-size scalar onto totals — both
    // alphabet/scalar-bounded; the MODEL joins on the token equi-key
    "q148_nb_lang_classify" -> 2,
    // q156: the 64-row eval carve (size FIXED by construction) ×
    // corpus — the q55-shingle argument on the vector side
    "q156_embed_decontam" -> 1,
    // q157/q159/q164: one-row corpus-totals / max-doc-id / max-day
    // scalar broadcasts (q159's single scalar join sits inside the
    // cached occurrence relation and is traversed once per consumer
    // branch: volume + first-seen — 2 plan nodes, ONE physical scalar
    // broadcast)
    "q157_temperature_mix" -> 1,
    "q159_vocab_growth" -> 2,
    "q164_decayed_engagement" -> 1,
    // q182: the three ONE-ROW eval scalars (n_exact, n_candidates,
    // n_hit) combine via two cross joins of single-row relations —
    // scalar-bounded by construction
    "q182_lsh_eval" -> 2,
    // q191: the one-row token-total (N) and pair-total (M) scalar
    // broadcasts joined to the vocab²-bounded pair-count table
    "q191_skipgram_cooc" -> 2,
    // q195: the one-row grand-total (N) scalar broadcast joined to the
    // alphabet-bounded contingency cells
    "q195_chisq_mix" -> 1,
    // q196: the eval re-instantiates the q26 truth plan (10 broadcast
    // queries × corpus) THREE times (output + one per rank branch) and
    // the q48 coarse pass once — the same documented bounded baselines
    // as q146's 4
    "q196_mrr_eval" -> 4,
    // q198/q200/q202: one-row scalar broadcasts (basket total T /
    // key-profile totals / capped-stats summary × full-profile
    // summary) joined to bounded relations (q199's "now" scalar is a
    // bounded 1-row collect instead — it would otherwise re-enter the
    // plan once per score branch)
    "q198_copurchase_pairs" -> 1,
    "q200_salt_plan" -> 1,
    "q202_join_card_est" -> 1,
    // q209 chains ONE instance of q148's plan — inherits its two
    // documented alphabet/scalar-bounded broadcasts
    "q209_nb_confusion" -> 2,
    // q211: the one-row digit-total scalar broadcast against the
    // 9-row digit cells
    "q211_benford_audit" -> 1,
    // q215: the cached pairs relation is referenced 3× (agreement,
    // both marginals), and the plan STRING re-prints q148's two
    // documented scalar broadcasts under each InMemoryRelation (3×2),
    // plus the final one-row chance×agreement scalar join — physically
    // the cache computes q148 once
    "q215_classifier_kappa" -> 7,
    // q219: the |sources|×|length-grid| zero-fill cross join — both
    // sides alphabet/value-domain bounded by construction
    "q219_source_length_drift" -> 1,
    // q236: like q196 it re-instantiates the documented bounded
    // baselines — the q26 truth plan (10 broadcast queries × corpus)
    // once for the ideal side and once per DCG branch, plus the q48
    // coarse pass
    "q236_ndcg_eval" -> 4,
    // q247: the q26 shape with the cross-source predicate in the
    // join condition — 10 broadcast queries × corpus, inequality-only
    // keys, bounded by the query set like every exact baseline above
    "q247_filtered_knn" -> 1,
    // q248: chains q247's exact plan as its recall reference TWICE
    // since the r9 denominator fix (hit join + per-query exact-size
    // count) — both the same documented broadcast-queries × corpus
    // scan; CacheScope computes the exact list once
    "q248_filtered_lsh_audit" -> 2,
    // q251: chains the q48 coarse pass (10 broadcast queries × corpus)
    // as one of its two fused paths; the LSH path joins on bucket keys
    "q251_rrf_fusion" -> 1,
    // q256: q114's shape twice over — the one-row doc-stats scalar and
    // the one-row passage-stats scalar both re-enter as broadcasts
    "q256_max_passage" -> 2,
    // q259: the one-row text-pair-total scalar against the 10-row
    // threshold spine
    "q259_media_threshold_curve" -> 1,
    // q262: the plan STRING re-prints the cached q26 truth (its one
    // documented 10-broadcast-queries scan) under 5 consumers (4 hit
    // joins + the total), plus the 4 q33 probe plans at 2 each, plus
    // the one-row truth-total scalar — physically the truth computes
    // once (CacheScope) and each probe pass is the production plan
    "q262_ivf_probe_curve" -> 14,
    // q265: chains ONE instance of the q26 dense truth (the documented
    // 10-broadcast-queries × corpus scan); the lexical side joins on
    // the shingle-hash equi-key
    "q265_hybrid_mlt" -> 1,
    // q267: the one-row totals scalar (corpus size + kill-any count)
    // broadcast against the |rules|-bounded per-rule relation
    "q267_rule_audit" -> 1,
    // q271: the one-row Simpson-baseline scalar broadcast against the
    // |shards|-bounded adjacency relation
    "q271_interleave_audit" -> 1,
    // q277: the one-row basket-total scalar broadcast against the
    // support-filtered rule relation (q198's documented shape)
    "q277_association_rules" -> 1,
    // q279: the sampled-queries × corpus exact-cosine scan — the q26
    // broadcast argument with the sample modulus as the bound
    "q279_knn_source_purity" -> 1,
    // q280: |brands| × the calendar-bounded month spine zero-fill
    // cross join (the q219 value-domain-bounded idiom)
    "q280_dyadic_momentum" -> 1,
    // q284: |event types| × the calendar-bounded hour spine zero-fill
    // cross join (same idiom) — the union's two lag branches each
    // re-instantiate it, and the grid is dimension-bounded either way
    "q284_hourly_autocorr" -> 2,
    // q287: the one-row weight-total scalar broadcast against the
    // |sources|-bounded inventory (the q110 pattern)
    "q287_effective_mixture" -> 1,
    // q293: the one-row corpus dup-totals scalar broadcast against
    // the 11-band relation (same pattern)
    "q293_quality_dup_association" -> 1,
    // q296: the three ONE-ROW contingency summaries combine via two
    // cross joins of single-row relations (the q182 pattern)
    "q296_cluster_label_rand" -> 2,
    // q299: the q279 sample × corpus exact scan (the q26 argument) —
    // the plan STRING prints it under both consumers of the cached
    // |sources|-row rollup (totals scalar + output; physically one
    // compute, the q215/q262 precedent) — plus the one-row
    // slot/corpus-total scalar broadcast
    "q299_neighbor_concentration" -> 3,
    // q303: the two one-row side-total scalar broadcasts (authority /
    // hub ppm normalization) — the q62 pattern, one per side
    "q303_hits_bipartite" -> 2,
    // q304: the one-row (n, r, c) totals and one-row chi-square sum
    // scalar broadcasts onto the r·c cell grid — the totals broadcast
    // prints under BOTH consumers of the cached grid (chi-square sum +
    // output; physically one compute, the q215/q299 precedent)
    "q304_chisq_independence" -> 3,
    // q307: the q279/q299 sampled-queries × corpus exact scan (the
    // q26 broadcast argument, stride-pinned sample)
    "q307_embedding_label_auc" -> 1,
    // q309: q114's one-row corpus/cluster-statistics scalar broadcast
    "q309_bm25_dedup" -> 1,
    // q310: the (groups × sources) dimension-bounded grid cross join
    // (the q280 value-domain idiom) + the one-row corpus-total scalar
    "q310_l_diversity" -> 2,
    // q312: the one-row unconditional-baseline broadcast onto the
    // held-out transitions (the q62 scalar pattern)
    "q312_markov_backtest" -> 1,
    // q313: q129's one-row target/raw-totals scalar broadcast (the
    // weight chain re-instantiated, same documented shape)
    "q313_importance_ess" -> 1,
    // q317/q318: the one-row corpus-totals scalar broadcast onto the
    // label / cluster-size grid (the q62 pattern)
    "q317_label_norm_bias" -> 1,
    "q318_dup_size_spectrum" -> 1)

  test("no undocumented nested-loop/cartesian join in any query plan in the surface") {
    // A query that fails ANALYSIS is its own named offense — the sweep
    // keeps going so one broken family can't mask a cartesian regression
    // elsewhere (round 4: 13 ts-type crashes aborted the whole sweep).
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val p = fn(spark, d).queryExecution.executedPlan.toString
        val n = "BroadcastNestedLoopJoin".r.findAllIn(p).size +
          "CartesianProduct".r.findAllIn(p).size
        if (n > allowed.getOrElse(name, 0)) Some(s"$name: $n nested-loop joins") else None
      } catch {
        case e: Throwable =>
          Some(s"$name: plan failed (${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(120)})")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
    // the allowlist must not rot: entries that stop planning a NLJ
    // should be removed so the guard stays tight
    val stale = allowed.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"allowlist names unknown queries: $stale")
  }

  /** Queries whose partitionless windows run over PROVABLY BOUNDED
    * relations (the q113 justified-bounded idiom), never the corpus —
    * each entry names the bound. An unlisted global window fails the
    * sweep: that is the one-task sort that dies at 100× (the q73
    * lesson, round 6).
    *
    *  - q311: the seed-bit ranking (row_number over the seed sample) —
    *    its input is the immediately preceding limit(HarmonicSeeds),
    *    ≤64 rows by construction. It is the ONLY partitionless window
    *    on the surface (r14 audit: all 5 "No Partition Defined"
    *    warnings in a full Verify run came from this one subtree,
    *    executed once per persisted-round materialization). */
  private val boundedGlobalWindows = Map("q311_harmonic_closeness" -> 1)

  test("no single-partition window over corpus-sized data in any query plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // DESCEND into cached subplans (r14): plan.collect stops at
    // InMemoryTableScan boundaries, so a global window behind a
    // persist — exactly where q311's lives — was invisible to the r13
    // sweep. Count distinct cached relations once each so a cache
    // referenced N times doesn't N-count its windows.
    def globalWindows(p: SparkPlan,
        seen: java.util.IdentityHashMap[AnyRef, AnyRef]): Int = {
      val here = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
      }.sum
      val nested = p.collect {
        case s: InMemoryTableScanExec => s.relation
        case a: AdaptiveSparkPlanExec => a
      }.map {
        case a: AdaptiveSparkPlanExec =>
          globalWindows(a.executedPlan, seen)
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          if (seen.containsKey(r.cacheBuilder)) 0
          else { seen.put(r.cacheBuilder, r); globalWindows(r.cachedPlan, seen) }
      }.sum
      here + nested
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, d).queryExecution.executedPlan
        val n = globalWindows(plan,
          new java.util.IdentityHashMap[AnyRef, AnyRef]())
        // EXACT match for listed queries: n < allowed means the sweep
        // stopped seeing a window it is supposed to justify (rot, or a
        // descent bug) — as much a failure as a new offender
        if (n != boundedGlobalWindows.getOrElse(name, 0))
          Some(s"$name: $n partitionless window(s), " +
            s"allowlisted ${boundedGlobalWindows.getOrElse(name, 0)}")
        else None
      } catch {
        case e: Throwable =>
          Some(s"$name: plan failed (${e.getClass.getSimpleName})")
      } finally spark.catalog.clearCache()
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
    val stale = boundedGlobalWindows.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"window allowlist names unknown queries: $stale")
  }
}
