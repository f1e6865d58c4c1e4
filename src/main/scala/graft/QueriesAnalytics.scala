package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics middle layer: histogram/cume machinery, RFM, cohort and
  * market-basket reads, SLA audits.
  *
  * Split from the monolithic Queries object (round 12, pure motion —
  * `object Queries` mixes these traits in, so every `Queries.x` call
  * site and registry entry is unchanged). Helpers shared across the
  * cut are `private[graft]`. */
private[graft] trait QueriesAnalytics {
  import Tables._
  /** Global cumulative-before over a value-keyed histogram WITHOUT a
    * partitionless window: the q73/q188 two-pass, bucketed by a FIXED
    * function of the VALUE — bk = (v − lo) div w over the collected
    * [lo, hi] domain — with a bk-local running sum and a driver cumsum
    * over the ≤8·|parts| bucket totals re-broadcast. Returns the
    * histogram extended with `before` (count of rows at strictly
    * smaller — or larger, when `asc` is false — values) and the grand
    * total. Shared by q199/q268's quintile assignments and the
    * q213/q218/q219 offset machinery.
    *
    * Why value-keyed buckets and not repartitionByRange +
    * spark_partition_id: the result plan is LAZY, and the driver-folded
    * offsets are baked into it as literals. Under a pid-based scheme
    * the offsets are only valid for the one physical partitioning they
    * were collected from, so any recompute of the intermediate (a
    * caller's second action after its scope has released the cache,
    * an evicted block) could range-sample DIFFERENT boundaries and
    * silently shift every `before` (caught live once: q268's
    * full-Verify run disagreed with its solo run on 17 cells, when an
    * earlier cache lifetime released at the operator's own next
    * internal action). bk is a pure function of the value and the two
    * collected scalars, so a recompute reproduces the mapping
    * bit-for-bit no matter how the data is partitioned. The persist
    * is a pure optimization, never a correctness dependency.
    *
    * Balance note: 8·|parts| fixed-width buckets balance dense value
    * domains (every call site today: days, counts, token counts,
    * hundred-dollar grids, doc_ids); an adversarially SPARSE domain
    * (most values piled in one bucket) degrades toward one window over
    * ≤|hist| rows — bounded by the value-domain contract every caller
    * already carries. */
  private[graft] def histCumBefore(spark: SparkSession, hist: DataFrame,
      value: String, asc: Boolean): (DataFrame, Long) = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val mm = hist.agg(min(col(value)).cast("long"),
      max(col(value)).cast("long"), sum(col("c")).cast("long")).head()
    if (mm.isNullAt(0)) {
      import spark.implicits._
      return (Seq.empty[(Long, Long, Long)].toDF(value, "c", "before"), 0L)
    }
    val lo = mm.getLong(0)
    val w = math.max(1L, (mm.getLong(1) - lo) / (8L * parts) + 1L)
    val n = mm.getLong(2)
    val bucketed = CacheScope.cached(hist
      .withColumn("bk", expr(s"(CAST($value AS BIGINT) - $lo) div $w")))
    val totals = bucketed.groupBy(col("bk")).agg(sum(col("c")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(t => if (asc) t._1 else -t._1)
    val offsets = {
      var acc = 0L
      totals.map { case (bk, t) => val o = acc; acc += t; (bk, o) }
    }
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq).toDF("bk", "off"))
    val ord = if (asc) col(value).asc else col(value).desc
    (bucketed
      .withColumn("lcum", sum(col("c")).over(
        Window.partitionBy(col("bk")).orderBy(ord)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(offDf, "bk")
      .select(col(value), col("c"), (col("off") + col("lcum") - col("c")).as("before")),
      n)
  }

  /** q199: RFM SCORING — per customer: recency (days since last
    * order, against the corpus max day), frequency (orders), monetary
    * (exact cents), each assigned an exact-integer quintile score
    * 1..5 (5 best) from the VALUE-GROUP empirical CDF: score =
    * (customers strictly better-ranked · 5) div n + 1, so ties share
    * a score deterministically. The classic customer-value feature
    * triple, engineered exactly.
    *
    * Shape at 100 TB: one orders hash-agg to the per-customer triple;
    * each quintile is computed on the metric's bounded HISTOGRAM
    * (recency: day domain; frequency: small-count domain; monetary:
    * hundred-dollar grid — the q188 dollar-grid trick) run through
    * the two-pass cumulative (no partitionless window), then joined
    * back BROADCAST on the grid value. No per-row global ranking
    * anywhere. */
  def rfmScores(spark: SparkSession, d: String): DataFrame = {
    val per = CacheScope.cached(Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      // datediff is timestamp-vintage-agnostic (works on NTZ and LTZ
      // reads alike), unlike unix_micros
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long")).as("last_day"),
        count(lit(1)).as("f"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m_cents")))
    // "now" is a ONE-ROW bounded collect (the q187 df-probe
    // precedent) — as a cross-joined scalar it would re-enter the plan
    // once per score branch (5 nested-loop nodes for one number)
    val now = per.agg(max(col("last_day"))).head().getLong(0)
    val base = per
      .select(col("o_custkey"), (lit(now) - col("last_day")).as("r_days"),
        col("f"), col("m_cents"),
        expr("m_cents div 10000").as("m_hund"))
    // each score table re-aliases its grid key — fresh exprIds, so the
    // joins below stay broadcast HASH joins (the q196 lesson: a
    // shared-lineage key would dedup into a trivially-true predicate)
    def scores(value: String, asc: Boolean): DataFrame = {
      val hist = base.groupBy(col(value)).agg(count(lit(1)).as("c"))
      val (cum, n) = histCumBefore(spark, hist, value, asc)
      cum.select(col(value).as(s"${value}_k"),
        expr(s"(before * 5) div $n + 1").as(s"${value}_score"))
    }
    base
      .join(broadcast(scores("r_days", asc = false)),
        col("r_days") === col("r_days_k"))
      .join(broadcast(scores("f", asc = true)), col("f") === col("f_k"))
      .join(broadcast(scores("m_hund", asc = true)),
        col("m_hund") === col("m_hund_k"))
      .select(col("o_custkey"), col("r_days"), col("f"),
        expr("m_cents div 100").as("m_dollars"),
        col("r_days_score").as("r_score"), col("f_score"),
        col("m_hund_score").as("m_score"),
        (col("r_days_score") * 100 + col("f_score") * 10 + col("m_hund_score"))
          .as("rfm_code"))
      .orderBy(col("o_custkey"))
  }

  /** q200: SKEW / SALT PLAN — the AQE-style skew diagnostic for a
    * join key, computed from the key's count profile: the 10 heaviest
    * customer keys with their row share (permille), ratio to the mean
    * key (milli), and the number of salt splits each needs against a
    * 2×-mean target partition size — the plan a salted-join rewrite
    * would execute. The profile a pipeline owner reads BEFORE a big
    * join, not after it dies.
    *
    * Shape at 100 TB: one key-bounded count agg; the mean/total enter
    * as a one-row scalar broadcast; top-10 is a bounded TakeOrdered,
    * never a global sort. */
  def saltPlan(spark: SparkSession, d: String): DataFrame = {
    val c = CacheScope.cached(Tables.orders(spark, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n")))
    val stats = c.agg(sum(col("n")).as("total"), count(lit(1)).as("nkeys"))
    c.crossJoin(broadcast(stats))
      .select(col("o_custkey"), col("n"),
        expr("(1000 * n) div total").as("share_pm"),
        expr("(1000 * n * nkeys) div total").as("ratio_to_mean_milli"),
        expr("(n + greatest(1, (2 * total) div nkeys) - 1)" +
          " div greatest(1, (2 * total) div nkeys)").as("n_splits"))
      .orderBy(col("n").desc, col("o_custkey"))
      .limit(10)
  }

  /** q201: LOCF FEATURE BACKFILL — per (user, active day): the event
    * count plus the most recent purchase-day total within the
    * trailing 7 days carried forward (last observation carried
    * forward), with its age. The point-in-time-correct feature a
    * feature store serves ("spend as of this activity"), built
    * WITHOUT a calendar spine and WITHOUT an inequality join: each
    * purchase day fans out to the ≤8 future days it is visible from
    * (the q189 bounded fan-out applied to as-of semantics), and the
    * winner per (user, day) is one max(struct) aggregate — latest
    * purchase day wins, its cents ride the struct.
    *
    * Shape at 100 TB: user/day-keyed hash-aggs and one (user, day)
    * equi-join; fan-out multiplier is the window constant 8, never
    * data-dependent. The event-level sibling is q44's as-of join —
    * this is the day-grain batch twin. */
  def locfFeatures(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val days = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    // uid/vday are fresh aliases: the left join below must not share
    // attribute lineage with `days` (the q196 trivially-true lesson)
    val pur = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("uid"), col("day").as("pday"))
      .agg(sum(col("cents")).as("pcents"))
    val vis = pur.select(col("uid"), col("pday"), col("pcents"),
        explode(sequence(col("pday"), col("pday") + 7L)).as("vday"))
      .groupBy(col("uid"), col("vday"))
      .agg(max(struct(col("pday"), col("pcents"))).as("b"))
    days.join(vis,
        col("user_id") === col("uid") && col("day") === col("vday"), "left")
      .select(col("user_id"), col("day"), col("n_events"),
        col("b.pday").as("last_purchase_day"),
        coalesce(col("b.pcents"), lit(0L)).as("carried_cents"),
        (col("day") - col("b.pday")).as("age_days"))
      .orderBy(col("user_id"), col("day"))
  }

  /** q202: JOIN CARDINALITY ESTIMATOR AUDIT — the CBO statistics
    * question "how big would the partkey self-join be", answered two
    * ways from ONE count profile: exactly (Σ c² — the true output
    * size of an equi-self-join) and as an optimizer would estimate it
    * from CAPPED statistics (top-20 heavy hitters exact + uniformity
    * over the rest: est = Σ_top c² + rest²  div d_rest), with the
    * error in permille. Calibrates how much cardinality truth the
    * heavy-hitter cap buys — the evidence behind choosing statistics
    * sizes for a 100 TB catalog.
    *
    * Shape: one key-bounded count agg feeding two tiny consumers
    * (full-profile scalars and a bounded TakeOrdered top-20), then
    * pure scalar arithmetic on one-row relations. */
  def joinCardEst(spark: SparkSession, d: String): DataFrame = {
    val counts = CacheScope.cached(Tables.lineitem(spark, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")))
    val full = counts.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      sum(expr("c * c")).as("exact_rows"))
    val top = counts.orderBy(col("c").desc, col("l_partkey")).limit(20)
      .agg(sum(expr("c * c")).as("top_sq"), sum(col("c")).as("top_rows"),
        count(lit(1)).as("top_keys"))
    full.crossJoin(broadcast(top))
      .select(col("n_keys"), col("n_rows"), col("exact_rows"),
        expr("""top_sq + CASE WHEN n_keys > top_keys
               |  THEN ((n_rows - top_rows) * (n_rows - top_rows))
               |       div (n_keys - top_keys)
               |  ELSE 0 END""".stripMargin.replace("\n", " ")).as("est_rows"))
      .select(col("n_keys"), col("n_rows"), col("exact_rows"), col("est_rows"),
        expr("(1000 * abs(est_rows - exact_rows)) div exact_rows").as("err_pm"))
  }

  /** q203: DATA-SKIPPING / PRUNING AUDIT — simulate file-level min/max
    * pruning (parquet row-group stats, Iceberg manifests) for a fixed
    * predicate set: treat each ship-month as a "file", collect its
    * min/max column stats, and report per predicate how many files the
    * stats prune, the rows inside surviving files, the exact matching
    * rows, and the scan amplification (rows scanned per 1000 matching).
    * The layout-planning evidence behind q60's Z-order: it quantifies
    * what a time-clustered layout buys each predicate shape BEFORE
    * anyone rewrites a 100 TB table.
    *
    * Shape at 100 TB: the stats relation is file-count-bounded (one
    * month-keyed hash-agg with map-side partials); exact match counts
    * ride ONE conditional-sum pass over the fact table; everything
    * downstream joins 3-row-bounded relations. */
  def pruningStats(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("file"),
        col("l_orderkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
        col("l_quantity"))
    val stats = li.groupBy(col("file"))
      .agg(count(lit(1)).as("c"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
        min(col("price_c")).as("min_pc"), max(col("price_c")).as("max_pc"),
        max(col("l_quantity")).as("max_q"))
    // yyyy-MM compares lexicographically == chronologically, so the
    // file key doubles as its own min/max shipdate stat
    val pruneAgg = stats.agg(count(lit(1)).as("n_files"),
        sum(when(col("max_pc") < 5000000L, 1L).otherwise(0L)).as("pr1"),
        sum(when(col("max_pc") < 5000000L, 0L).otherwise(col("c"))).as("sc1"),
        sum(when(col("max_ok") < 1000L || col("min_ok") > 2000L, 1L)
          .otherwise(0L)).as("pr2"),
        sum(when(col("max_ok") < 1000L || col("min_ok") > 2000L, 0L)
          .otherwise(col("c"))).as("sc2"),
        sum(when(col("max_q") < 45.0, 1L).otherwise(0L)).as("pr3"),
        sum(when(col("max_q") < 45.0, 0L).otherwise(col("c"))).as("sc3"),
        sum(when(col("file") < "1998-01", 1L).otherwise(0L)).as("pr4"),
        sum(when(col("file") < "1998-01", 0L).otherwise(col("c"))).as("sc4"))
      .selectExpr(
        """stack(4,
          |  'price_ge_50k',      n_files, pr1, sc1,
          |  'orderkey_1k_2k',    n_files, pr2, sc2,
          |  'quantity_ge_45',    n_files, pr3, sc3,
          |  'shipdate_ge_1998',  n_files, pr4, sc4)
          |AS (pred, n_files, n_pruned, rows_scanned)""".stripMargin)
    val exact = li.agg(
        sum(when(col("price_c") >= 5000000L, 1L).otherwise(0L)).as("m1"),
        sum(when(col("l_orderkey") >= 1000L && col("l_orderkey") <= 2000L, 1L)
          .otherwise(0L)).as("m2"),
        sum(when(col("l_quantity") >= 45.0, 1L).otherwise(0L)).as("m3"),
        sum(when(col("file") >= "1998-01", 1L).otherwise(0L)).as("m4"))
      .selectExpr(
        """stack(4,
          |  'price_ge_50k',   m1,
          |  'orderkey_1k_2k', m2,
          |  'quantity_ge_45', m3,
          |  'shipdate_ge_1998', m4) AS (pred2, n_match)""".stripMargin)
    pruneAgg.join(exact, col("pred") === col("pred2"))
      .select(col("pred"), col("n_files"), col("n_pruned"),
        col("rows_scanned"), col("n_match"),
        expr("""CASE WHEN n_match > 0
               |  THEN (1000 * rows_scanned) div n_match END""".stripMargin
          .replace("\n", " ")).as("amp_pm"))
      .orderBy(col("pred"))
  }

  /** q207: RECOMMENDER EVAL — precision-by-rank of "bought together"
    * recommendations against held-out baskets: train co-occurrence on
    * 80% of orders (orderkey mod split — deterministic, content-
    * stable), recommend each test item's top-3 train partners, score a
    * hit when the recommended part actually appears in the same
    * held-out basket. The offline eval loop any q198-style associator
    * ships with — per-RANK hit rates expose whether rank 1 carries
    * the signal or the list is noise all the way down.
    *
    * Shape at 100 TB: train pair counts are the q198 basket self-join
    * (orderkey-keyed, C(k,2)-bounded); top-3-per-item is a window over
    * the item-keyed pair relation (each partition = one item's
    * partners, item-degree-bounded — never a global sort); candidate
    * and hit joins are (item)- and (basket, part)-keyed equi-joins.
    * Fresh toDF aliases on every self-join leg (the q196 lineage
    * discipline). */
  def recEval(spark: SparkSession, d: String): DataFrame = {
    val items = Queries.basketItems(spark, d)
    val train = items.filter(col("ok") % 5 =!= 0L)
    val test = items.filter(col("ok") % 5 === 0L)
    val pairs = train.toDF("ok", "pa").join(train.toDF("ok", "pb"), "ok")
      .filter(col("pa") =!= col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
    val recs = pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("pa")).orderBy(col("c").desc, col("pb"))))
      .filter(col("rk") <= 3)
      .select(col("pa").as("item"), col("pb").as("rec"), col("rk"))
    val cand = test.toDF("ok", "item").join(recs, "item")
    cand
      .join(test.toDF("ok", "rec").withColumn("hit", lit(1L)),
        Seq("ok", "rec"), "left")
      .groupBy(col("rk"))
      .agg(count(lit(1)).as("n_recs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("rk").cast("long").as("rank"), col("n_recs"), col("n_hits"),
        expr("(1000 * n_hits) div n_recs").as("hit_pm"))
      .orderBy(col("rank"))
  }

  /** q210: DAY-OF-WEEK PROFILE — per (event type, weekday): event
    * count, share of the type's volume (permille), and deviation from
    * a uniform week in exact milli ((7n − total)·1000 div total). The
    * seasonality fingerprint monitoring baselines are built from —
    * a volume alarm that ignores weekday structure pages every
    * weekend. dow 0 = Monday, derived from the epoch day ((day+3)%7 —
    * 1970-01-01 was a Thursday), calendar-library-free and therefore
    * engine-portable.
    *
    * Shape at 100 TB: one (type, dow) hash-agg with map-side partials;
    * the per-type totals re-aggregate the 35-row cell table. */
  def dowProfile(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val cells = Tables.eventsNs(spark, d)
      .select(col("event_type"),
        expr(s"((ts div $DayNs) + 3) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("event_type").as("et")).agg(sum(col("n")).as("t"))
    cells.join(broadcast(tot), col("event_type") === col("et"))
      .select(col("event_type"), col("dow"), col("n"),
        expr("(1000 * n) div t").as("share_pm"),
        expr("(1000 * (7 * n - t)) div t").as("dev_milli"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** q205: CHURN LABEL GENERATION — the labeled-training-set builder:
    * for every user active in the 7-day observation window
    * [maxDay−13, maxDay−7], features from that window only (events,
    * active days, purchases, recency gap at cutoff) and the label
    * "churned" = zero PURCHASES in the following 7-day label window
    * (purchase churn — raw-activity churn is degenerate on an
    * always-on population, and this one's base rate is nonzero at
    * every SF, which the spec pins).
    * Point-in-time correct by construction: every feature is
    * conditioned on day ≤ cutoff, so nothing from the label window
    * leaks into the features (the q152 leakage discipline applied to
    * time instead of content).
    *
    * Shape at 100 TB: ONE user-keyed conditional-aggregate pass over
    * the stream — both windows ride the same groupBy as CASE sums, no
    * join between feature and label sides; maxDay is a one-row
    * bounded collect. */
  def churnLabels(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"),
        col("event_type"))
    val maxDay = ev.agg(max(col("day"))).head().getLong(0)
    val (obsLo, obsHi, labLo) = (maxDay - 13, maxDay - 7, maxDay - 6)
    def inObs = col("day") >= obsLo && col("day") <= obsHi
    ev.groupBy(col("user_id"))
      .agg(sum(when(inObs, 1L).otherwise(0L)).as("n_events_obs"),
        countDistinct(when(inObs, col("day"))).as("active_days_obs"),
        sum(when(inObs && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("n_purchases_obs"),
        max(when(inObs, col("day"))).as("last_obs_day"),
        sum(when(col("day") >= labLo && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("n_label"))
      .filter(col("n_events_obs") > 0)
      .select(col("user_id"), col("n_events_obs"), col("active_days_obs"),
        col("n_purchases_obs"),
        (lit(obsHi) - col("last_obs_day")).as("gap_days"),
        when(col("n_label") === 0L, 1L).otherwise(0L).as("churned"))
      .orderBy(col("user_id"))
  }

  /** q206: A/B ASSIGNMENT + SRM AUDIT — deterministic hash-based 50/50
    * arm assignment for 5 experiment salts over the user population,
    * with the sample-ratio-mismatch chi-square per (experiment, arm)
    * in exact milli-units: contrib = 1000·(2·o − n)² div (2·n) — the
    * guardrail every experimentation platform runs before trusting a
    * readout. Assignment is pure integer arithmetic
    * (((user_id mod 1000000007) + salt·1000003)·2654435761 mod 1000 <
    * 500) — the prime reduction BEFORE the Knuth multiplier bounds the
    * product at ~2.7e18 < 2^63−1 for ANY user_id, so the hash never
    * overflows BIGINT and stays replayable by any engine at 100 TB id
    * ranges (the unreduced form wraps negative past user_id ≈ 3.5e9,
    * biasing every wrapped user into arm 'a'); no engine-specific hash.
    *
    * Shape at 100 TB: distinct users once, a 5× literal fan-out
    * (experiment-count-bounded), one (exp, arm) hash-agg, and a
    * 5-row-bounded totals join. */
  def abSrm(spark: SparkSession, d: String): DataFrame = {
    val users = Tables.eventsNs(spark, d).select(col("user_id")).distinct()
    val arms = users
      .select(col("user_id"), explode(sequence(lit(0L), lit(4L))).as("exp"))
      .select(col("exp"),
        when(expr(
          "((user_id % 1000000007 + exp * 1000003) * 2654435761) % 1000") < 500L,
          lit("a")).otherwise(lit("b")).as("arm"))
      .groupBy(col("exp"), col("arm")).agg(count(lit(1)).as("n_users"))
    val totals = arms.groupBy(col("exp").as("exp_t"))
      .agg(sum(col("n_users")).as("n"))
    arms.join(broadcast(totals), col("exp") === col("exp_t"))
      .select(col("exp"), col("arm"), col("n_users"),
        expr("(1000 * n) div 2").as("expected_milli"),
        expr("""(1000 * (2 * n_users - n) * (2 * n_users - n))
               | div (2 * n)""".stripMargin.replace("\n", " "))
          .as("chi2_contrib_milli"))
      .orderBy(col("exp"), col("arm"))
  }

  /** q211: BENFORD FIRST-DIGIT AUDIT — the fraud/synthetic-data
    * tripwire: the first significant digit of every line item's
    * extended price vs Benford's law, with the expected permille per
    * digit hardcoded as the 9 literals floor(1000·log10(1+1/d)) so no
    * cross-engine log is ever evaluated (the q157 no-transcendental
    * discipline). Prices integerize to cents first (floor(x·100+0.5) —
    * the values are exact cents in a double, so the +0.5 floor is the
    * engine-stable round); the digit comes off the decimal string of
    * that BIGINT, exact in both engines. TPC-H prices are uniform-ish,
    * so dev_milli is LARGE — the audit reports the deviation, it does
    * not assume the law holds.
    *
    * Shape at 100 TB: row-local digit extract, one 9-group hash-agg
    * with map-side partials, and a one-row totals scalar broadcast
    * against the 9-row cell relation (PlanSweep-documented). */
  def benfordAudit(spark: SparkSession, d: String): DataFrame = {
    val expected = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)
    val cells = Tables.lineitem(spark, d)
      .select(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
        .as("cents"))
      .filter(col("cents") > 0)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("t"))
    cells.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(1000 * n) div t").as("share_pm"),
        element_at(array(expected.map(lit): _*), col("digit").cast("int"))
          .as("expected_pm"))
      .withColumn("dev_milli", col("share_pm") - col("expected_pm"))
      .orderBy(col("digit"))
  }

  /** q212: RIGHT-TO-BE-FORGOTTEN CASCADE AUDIT — the impact report a
    * deletion pipeline publishes before executing a GDPR/CCPA erasure
    * batch: per table, total rows, rows tombstoned, rows kept, the
    * deletion permille, and how many distinct deletion subjects touch
    * that table. The subject set is deterministic here (every 97th
    * identity in each domain: event users and customers — the two are
    * separate identity domains in this corpus); orders cascade via
    * o_custkey and line items transitively via their order.
    *
    * Shape at 100 TB: events/customer/orders audits are row-local
    * conditional aggs (the predicate is pure key arithmetic — no
    * subject-list join at all); the lineitem cascade LEFT-joins the
    * full fact against only the TOMBSTONED orders (~1/97 of orders —
    * broadcastable at moderate scale, orderkey-keyed shuffle beyond),
    * never against the full order table. The four one-row audit frames
    * union driver-free. */
  def forgetCascade(spark: SparkSession, d: String): DataFrame = {
    def audit(df: DataFrame, tbl: String, del: Column, key: Column) =
      df.agg(count(lit(1)).as("n_rows"),
          sum(when(del, 1L).otherwise(0L)).as("n_del"),
          countDistinct(when(del, key)).as("n_subjects"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("n_del"),
          col("n_subjects"))
    val ev = audit(Tables.eventsNs(spark, d), "events",
      col("user_id") % 97 === 0, col("user_id"))
    val cu = audit(Tables.customer(spark, d), "customer",
      col("c_custkey") % 97 === 0, col("c_custkey"))
    val or = audit(Tables.orders(spark, d), "orders",
      col("o_custkey") % 97 === 0, col("o_custkey"))
    val delOrders = Tables.orders(spark, d)
      .filter(col("o_custkey") % 97 === 0)
      .select(col("o_orderkey").as("del_ok"), col("o_custkey").as("del_ck"))
    val li = audit(
      Tables.lineitem(spark, d).select(col("l_orderkey"))
        .join(broadcast(delOrders), col("l_orderkey") === col("del_ok"),
          "left_outer"),
      "lineitem", col("del_ck").isNotNull, col("del_ck"))
    ev.union(cu).union(or).union(li)
      .select(col("tbl"), col("n_rows"), col("n_del"),
        (col("n_rows") - col("n_del")).as("n_kept"),
        expr("(1000 * n_del) div n_rows").as("del_pm"), col("n_subjects"))
      .orderBy(col("tbl"))
  }

  /** q223: KAPLAN-MEIER RETENTION CURVE — the survival-analysis view
    * of user lifetime: a user "enters" on their first active day,
    * "dies" on their last (users still active on the corpus's final
    * day are right-CENSORED, not deaths — the standard KM treatment),
    * and the curve multiplies out the per-day survival fractions
    * S_t = S_{t−1}·(n_t − d_t)/n_t over the observed day grid, in
    * exact integer micro-units with a floor at each step (the
    * deterministic fixed-point both engines replay). Days where
    * nobody enters or exits change nothing and are omitted — the grid
    * is first∪last days.
    *
    * Shape at 100 TB: one user-keyed (first, last) agg; entry/exit
    * day histograms; the recurrence folds on the DRIVER over the
    * CALENDAR-bounded day grid (≤ observation-window days — a bounded
    * collect by the same argument as q205's maxDay, re-emitted as a
    * literal relation). Never a per-user scan on the driver. */
  def kaplanMeier(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val u = eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
    val enters = u.groupBy(col("f").as("day")).agg(count(lit(1)).as("e"))
    val exits = u.groupBy(col("l").as("day")).agg(count(lit(1)).as("x"))
    val grid = enters.join(exits, Seq("day"), "full_outer")
      .select(col("day"), coalesce(col("e"), lit(0L)).as("e"),
        coalesce(col("x"), lit(0L)).as("x"))
      .orderBy(col("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxDay = grid.map(_._1).max
    var (cumE, cumXb, s) = (0L, 0L, 1000000L)
    val rows = grid.map { case (day, e, x) =>
      cumE += e
      val n = cumE - cumXb
      val dd = if (day < maxDay) x else 0L
      s = s * (n - dd) / n
      cumXb += x
      (day, n, dd, x, s)
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("day", "at_risk", "n_churned", "n_ended", "survival_micro")
      .orderBy(col("day"))
  }

  /** q227: FREQUENT TRIPLES (A-priori level 3) — co-purchase part
    * TRIPLES with support ≥ 2, mined with the classic A-priori
    * prefilter: only parts that themselves appear in ≥ 2 baskets can
    * participate (the level-1 downward-closure cut), then triples
    * enumerate per basket and count. q198's pair mining extended one
    * lattice level — pairs catch "bought together", triples catch the
    * bundle/kit structure pairs alias away.
    *
    * Shape at 100 TB: the prefilter is one part-keyed count agg + a
    * part-keyed semi-join (downward closure removes the long tail
    * BEFORE any enumeration); triple generation is the orderkey-keyed
    * THREE-way self-join — per-basket fan-out C(k,3), k single-digit
    * here and CoPurchaseCap-boundable for power-law baskets (q127's
    * knob); counts agg map-side. Support floor bounds the output. */
  def copurchaseTriples(spark: SparkSession, d: String): DataFrame = {
    val items = Queries.basketItems(spark, d)
    val freq = items.groupBy(col("p")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("p"))
    val fi = CacheScope.cached(items.join(freq, Seq("p")).select(col("ok"), col("p")))
    fi.toDF("ok", "pa")
      .join(fi.toDF("ok", "pb"), "ok").filter(col("pa") < col("pb"))
      .join(fi.toDF("ok", "pc"), "ok").filter(col("pb") < col("pc"))
      .groupBy(col("pa"), col("pb"), col("pc"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))
  }

  /** q228: MONTHLY BACKLOG SNAPSHOTS — for the first day of every
    * month: orders already placed but not yet fully shipped (close =
    * max lineitem ship date), their count, open value in exact cents,
    * and the oldest order's age in days. The as-of inventory series an
    * operations dashboard plots — and the snapshot-sequence shape
    * (interval → bounded month fan-out → keyed agg) that replaces the
    * naive months×orders range join.
    *
    * Shape at 100 TB: close dates are one orderkey-keyed agg; each
    * order explodes to ONLY the month boundaries inside its open
    * interval (lifetime-bounded fan-out, the q216 manifest shape —
    * never a non-equi range join); one month-keyed agg. */
  def backlogSnapshots(spark: SparkSession, d: String): DataFrame = {
    val close = Tables.lineitem(spark, d)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("close"))
    Tables.orders(spark, d)
      .join(close, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderdate"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)")
          .as("m0"),
        expr("CAST(year(close) * 12 + month(close) - 1 AS BIGINT)").as("m1"))
      .filter(col("m1") >= col("m0") + 1)
      .select(col("o_orderdate"), col("cents"),
        explode(sequence(col("m0") + 1, col("m1"))).as("m"))
      .withColumn("t", expr("make_date(m div 12, m % 12 + 1, 1)"))
      .groupBy(col("m").as("month_idx"))
      .agg(max(col("t")).as("snapshot_date"),
        count(lit(1)).as("n_open"),
        sum(col("cents")).as("open_value_cents"),
        max(expr("datediff(t, CAST(o_orderdate AS DATE))")).cast("long")
          .as("max_age_days"))
      .orderBy(col("month_idx"))
  }

  /** q224: FUNNEL LATENCY PERCENTILES — exact p50/p90/p99 of the
    * stage-to-stage conversion delays behind q124's funnel (first
    * view → first subsequent click, that click → first subsequent
    * purchase), floored to whole seconds. Conversion COUNTS (q124)
    * say how many make it; these say how long the journey takes —
    * the pair every funnel dashboard shows side by side.
    *
    * Shape at 100 TB: the stage relations are q124's user-keyed
    * min-aggs; latencies collapse to a (stage, seconds) histogram
    * whose cumulative window is CALENDAR-bounded per stage (distinct
    * second-values ≤ observation-window seconds, independent of user
    * count — the q151 bounded-window argument); percentile = min
    * value with cum ≥ ceil(p·n/100), q151's exact formula. */
  def funnelLatency(spark: SparkSession, d: String): DataFrame = {
    val (_, c, pc) = Queries.funnelStages(spark, d)
    val p = pc.groupBy(col("user_id"), col("click_us")).agg(min(col("tus")).as("purchase_us"))
    val lat = c.select(lit("1_view_to_click").as("stage"),
        expr("(click_us - view_us) div 1000000").as("lat_s"))
      .unionByName(p.select(lit("2_click_to_purchase").as("stage"),
        expr("(purchase_us - click_us) div 1000000").as("lat_s")))
    val hist = lat.groupBy(col("stage"), col("lat_s")).agg(count(lit(1)).as("c"))
    Curation.cumulative(hist, "stage", "lat_s").groupBy(col("stage"))
      .agg(max(col("n")).as("n_conversions"),
        min(col("lat_s")).as("min_s"), max(col("lat_s")).as("max_s"),
        Curation.pctl(50, "lat_s").as("p50_s"), Curation.pctl(90, "lat_s").as("p90_s"),
        Curation.pctl(99, "lat_s").as("p99_s"))
      .orderBy(col("stage"))
  }

  /** q229: COHORT LTV MATRIX — customers grouped by first-order month,
    * and for each (cohort month, month offset): active customers,
    * revenue in exact cents, the cohort's CUMULATIVE revenue to that
    * offset, and cumulative LTV per cohort member (floored cents).
    * q125's retention triangle with money on it — the view a
    * subscription/commerce team actually budgets from.
    *
    * Shape at 100 TB: the cohort month is one custkey-keyed min agg
    * re-joined on custkey (co-partitions with q199's RFM scan); the
    * triangle is one (cohort, offset) hash-agg whose OUTPUT is
    * calendar-bounded (months² cells regardless of row count), so the
    * cumulative window runs over a bounded relation and the cohort-size
    * join broadcasts a months-bounded side. Revenue stays in BIGINT
    * cents: Σ cents ≤ 9.2e18 holds through ~10^13 orders; past that the
    * q208 DECIMAL(38,0) routing applies. */
  def cohortLtv(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d).select(
      col("o_custkey").as("ck"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
      expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)")
        .as("m"))
    val cohort = o.groupBy(col("ck")).agg(min(col("m")).as("cm"))
    val sizes = cohort.groupBy(col("cm")).agg(count(lit(1)).as("cohort_size"))
    val cells = o.join(cohort, "ck")
      .groupBy(col("cm"), (col("m") - col("cm")).as("off"))
      .agg(countDistinct(col("ck")).as("n_active"),
        sum(col("cents")).as("rev_cents"))
    cells
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cm")).orderBy(col("off"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), "cm") // months-bounded side
      .select(col("cm").as("cohort_month"), col("off").as("month_offset"),
        col("n_active"), col("rev_cents"), col("cum_rev_cents"),
        col("cohort_size"),
        expr("cum_rev_cents div cohort_size").as("ltv_cents_per_user"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  /** q230: MATCHED-SAMPLE LASPEYRES PRICE INDEX — per brand and month:
    * a fixed-basket price index in exact milli (1000 = base level),
    * weights = base-month quantities, base month = the brand's own
    * earliest traded month, restricted to parts present in BOTH months
    * (the matched-sample discipline every national CPI uses so basket
    * churn doesn't masquerade as inflation). Unit prices are exact
    * floored milli-cents (1000·Σcents div Σqty per part-month).
    *
    * Shape at 100 TB: one (part, month) hash-agg over lineitem, one
    * part-keyed join to the brand dimension (SF-proportional dim —
    * UNHINTED, AQE decides broadcast vs shuffle), one brand-keyed min
    * for the base month, one (brand, part)-keyed base join (each part
    * matches exactly its base row — keyed equi-join, never a range
    * join), one (brand, month) agg. Index numerators are
    * Θ(qty·price·parts) — routed through DECIMAL(38,0) like q198. */
  def priceIndex(spark: SparkSession, d: String): DataFrame = {
    val pm = Tables.lineitem(spark, d).select(
        col("l_partkey").as("pk"),
        expr("CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      .groupBy(col("pk"), col("m"))
      .agg(expr("(1000 * sum(cents)) div sum(qty)").as("unit_mc"),
        sum(col("qty")).as("sq"))
    val bp = CacheScope.cached(pm.join(
      Tables.part(spark, d).select(col("p_partkey"), col("p_brand")),
      col("pk") === col("p_partkey")).select(
        col("p_brand").as("brand"), col("pk"), col("m"),
        col("unit_mc"), col("sq")))
    val baseM = bp.groupBy(col("brand")).agg(min(col("m")).as("m0"))
    val base = bp.join(baseM, "brand").filter(col("m") === col("m0"))
      .select(col("brand"), col("pk"), col("sq").as("q0"),
        col("unit_mc").as("p0"))
    bp.join(base, Seq("brand", "pk"))
      .groupBy(col("brand"), col("m"))
      .agg(count(lit(1)).as("n_parts"),
        sum(expr("CAST(q0 AS DECIMAL(38,0)) * unit_mc")).as("num"),
        sum(expr("CAST(q0 AS DECIMAL(38,0)) * p0")).as("den"))
      .select(col("brand"), col("m").as("month_idx"), col("n_parts"),
        expr("CAST((1000 * num) div den AS BIGINT)").as("index_milli"))
      .orderBy(col("brand"), col("month_idx"))
  }

  /** q231: CHEAPEST SUPPLIER PER PART — the procurement arg-min: for
    * every part, the supplier with the lowest observed unit price
    * (exact floored milli-cents over that supplier's lines), ties
    * broken deterministically by lowest suppkey, plus the supplier
    * count and the best-to-worst price spread. TPC-H Q2's
    * minimum-cost-supplier semantic re-expressed over the lineitem
    * history (this dataset has no partsupp table).
    *
    * Shape at 100 TB: one (part, supplier) hash-agg, then ONE
    * part-keyed agg where the arg-min rides `min(struct(price, supp))`
    * — lexicographic struct ordering IS the tie-break, no window, no
    * self-join back to the min row (the two-pass pattern the oracle
    * must use). Both shuffles are keyed; output is |parts|. */
  def cheapestSupplier(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select(
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      .groupBy(col("pk"), col("sk"))
      .agg(expr("(1000 * sum(cents)) div sum(qty)").as("unit_mc"),
        count(lit(1)).as("n_lines"))
      .groupBy(col("pk"))
      .agg(min(struct(col("unit_mc"), col("sk"))).as("best"),
        count(lit(1)).as("n_suppliers"),
        (max(col("unit_mc")) - min(col("unit_mc"))).as("spread_mc"))
      .select(col("pk").as("p_partkey"), col("best.sk").as("best_suppkey"),
        col("best.unit_mc").as("best_unit_mc"), col("n_suppliers"),
        col("spread_mc"))
      .orderBy(col("p_partkey"))

  /** Shared (brand, month, revenue-cents) relation for q233/q235: one
    * (part, month)-free hash-agg over lineitem joined to the part
    * dimension. Calendar × brand bounded output regardless of fact
    * row count — the property both consumers' windows lean on. */
  private[graft] def brandMonthRevenue(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).select(
        col("l_partkey").as("pk"),
        expr("CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(Tables.part(spark, d).select(col("p_partkey"), col("p_brand")),
        col("pk") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("m"))
      .agg(sum(col("cents")).as("rev_cents"))

  /** q233: SEASONAL INDEX — per brand and month, revenue's ratio to the
    * CENTERED 12-month moving average in exact milli (1000 = on-trend):
    * the classical ratio-to-moving-average decomposition step, the
    * demand-planning view that separates "December is big" from "the
    * brand is growing". Only months whose centered year is fully
    * observed (12 months present in [m−6, m+5]) are emitted — a RANGE
    * frame over the numeric month index, so calendar gaps shrink the
    * count and the completeness filter sees them (a ROWS frame would
    * silently stretch across gaps).
    *
    * Shape at 100 TB: the fact table collapses to the calendar × brand
    * bounded (brand, month) grid FIRST (one keyed hash-agg); the RANGE
    * window then runs inside brand partitions of ≤ |calendar| rows —
    * the q151/q219 bounded-window argument. The ×12000 numerator is
    * Θ(monthly revenue), routed DECIMAL(38,0) (brand-month cents can
    * pass 1e15 at scale; ×12000 clears Long). */
  def seasonalIndex(spark: SparkSession, d: String): DataFrame = {
    val yr = Window.partitionBy(col("brand")).orderBy(col("m"))
      .rangeBetween(-6, 5)
    brandMonthRevenue(spark, d)
      .withColumn("ma_n", count(lit(1)).over(yr))
      .withColumn("ma_sum", sum(col("rev_cents")).over(yr))
      .filter(col("ma_n") === 12)
      .select(col("brand"), col("m").as("month_idx"), col("rev_cents"),
        expr("ma_sum div 12").as("ma_cents"),
        expr("CAST((CAST(12000 AS DECIMAL(38,0)) * rev_cents) div ma_sum" +
          " AS BIGINT)").as("seasonal_milli"))
      .orderBy(col("brand"), col("month_idx"))
  }

  /** q234: SUPPLIER PARETO SKYLINE — suppliers not strictly dominated
    * on (unit price, ship lag): cheaper-or-equal AND faster-or-equal
    * with one strict makes a supplier redundant; what survives is the
    * exact price/speed efficient frontier — the procurement shortlist
    * query (and the 2-D skyline operator, Börzsönyi et al.'s classic,
    * which Spark has no native form of). Unit price = floored
    * milli-cents per unit over the supplier's lines; ship lag = floored
    * milli-days mean of (l_shipdate − o_orderdate), an orderkey-keyed
    * fact-fact join.
    *
    * Shape at 100 TB: facts collapse to one row per supplier (keyed
    * hash-agg), then the sort-based skyline: per-price min lag (keyed
    * agg), and the STRICT-PREFIX running min over price order via the
    * q73 two-pass machinery — range-repartition on price, pid-local
    * strictly-before window, ≤|shuffle partitions| pid minima collected
    * for a driver prefix-min, broadcast back. No partitionless window,
    * no O(n²) dominance join (that's the ORACLE's formula — NOT EXISTS
    * — which is exactly what makes the check independent). A supplier
    * survives iff its lag equals its price-class min AND beats every
    * strictly-cheaper class's min. Equal (price, lag) twins both
    * survive (neither strictly dominates). */
  def supplierSkyline(spark: SparkSession, d: String): DataFrame = {
    // cached: consumed by the frontier build AND the final survivor join
    val sup = CacheScope.cached(Tables.lineitem(spark, d).select(
        col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        col("l_shipdate"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"), col("o_orderdate")),
        col("ok") === col("o_orderkey"))
      .groupBy(col("sk"))
      .agg(expr("(1000 * sum(cents)) div sum(qty)").as("unit_mc"),
        // per-line lags can be negative in the corpus tail; the mean's
        // numerator is sign-decomposed (q235 discipline) so truncation
        // (Spark div) and floor (DuckDB //) agree
        expr("CASE WHEN sum(CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)) >= 0" +
          " THEN (1000 * sum(CAST(datediff(l_shipdate, o_orderdate) AS BIGINT))) div count(1)" +
          " ELSE -((1000 * -sum(CAST(datediff(l_shipdate, o_orderdate) AS BIGINT))) div count(1)) END")
          .as("lag_md"),
        count(lit(1)).as("n_lines")))
    val byCost = sup.groupBy(col("unit_mc")).agg(min(col("lag_md")).as("cmin"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val local = CacheScope.cached(byCost.repartitionByRange(parts, col("unit_mc"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lmin", min(col("cmin")).over(
        Window.partitionBy(col("pid")).orderBy(col("unit_mc"))
          .rowsBetween(Window.unboundedPreceding, -1))))
    // one bounded row per range partition → driver prefix-min (the q73
    // offset-table contract: rows ∝ cluster config, not data)
    val pidMins = local.groupBy(col("pid")).agg(min(col("cmin")).as("pm"))
      .orderBy(col("pid")).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) Long.MaxValue else r.getLong(1)))
    val prior = {
      var acc = Long.MaxValue
      pidMins.map { case (pid, pm) =>
        val o = acc; acc = math.min(acc, pm); (pid, o)
      }
    }
    val priorDf = broadcast(
      spark.createDataFrame(prior.toSeq).toDF("pid", "prior"))
    val frontier = local.join(priorDf, "pid")
      // least() skips nulls: strictly-before min within the pid,
      // folded with the min over all earlier pids (MaxValue = none)
      .withColumn("strict", least(col("lmin"), col("prior")))
      .filter(col("cmin") < col("strict"))
      .select(col("unit_mc").as("f_mc"), col("cmin"))
    sup.join(broadcast(frontier),
        col("unit_mc") === col("f_mc") && col("lag_md") === col("cmin"))
      .select(col("sk").as("suppkey"), col("unit_mc"), col("lag_md"),
        col("n_lines"))
      .orderBy(col("suppkey"))
  }

  /** q235: THEIL-SEN TREND PER BRAND — the robust (median-of-pairwise-
    * slopes) monthly-revenue trend in exact floored milli-cents/month:
    * up to 29% of months can be outliers (promo spikes, stockouts)
    * without moving the estimate, which is why drift monitors prefer it
    * to least squares. Median = the lower median (rank ⌈n/2⌉ under
    * (slope, m1, m2) order — fully deterministic, no interpolation).
    *
    * Shape at 100 TB: the fact table collapses to the calendar × brand
    * bounded grid first; the pair self-join (fresh-aliased lineage —
    * the q196 lesson) and the rank window then touch ≤ C(|calendar|,2)
    * rows per brand — bounded by the CALENDAR, not the data. Slope
    * numerators are sign-decomposed (Spark div truncates, DuckDB //
    * floors; they agree only on non-negative operands) and routed
    * DECIMAL(38,0). */
  def theilSenTrend(spark: SparkSession, d: String): DataFrame = {
    val bm = CacheScope.cached(brandMonthRevenue(spark, d))
    val a = bm.select(col("brand").as("ba"), col("m").as("m1"),
      col("rev_cents").as("r1"))
    val b = bm.select(col("brand").as("bb"), col("m").as("m2"),
      col("rev_cents").as("r2"))
    val pairs = a.join(b, col("ba") === col("bb") && col("m2") > col("m1"))
      .select(col("ba").as("brand"), col("m1"), col("m2"),
        when(col("r2") >= col("r1"),
          expr("CAST((CAST(1000 AS DECIMAL(38,0)) * (r2 - r1))" +
            " div (m2 - m1) AS BIGINT)"))
        .otherwise(-expr("CAST((CAST(1000 AS DECIMAL(38,0)) * (r1 - r2))" +
            " div (m2 - m1) AS BIGINT)")).as("slope"))
    val months = bm.groupBy(col("brand").as("mb"))
      .agg(count(lit(1)).as("n_months"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(col("slope"), col("m1"), col("m2"))
    pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("brand"))))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .join(broadcast(months), col("brand") === col("mb"))
      .select(col("brand"), col("n_months"), col("n_pairs"),
        col("slope").as("trend_milli_per_month"))
      .orderBy(col("brand"))
  }

  /** First-K-events cap per (user, day) session for q237 — bounds the
    * per-session C(k,3) subsequence fan-out at C(24,3) = 2,024. */
  val SeqCap = 24
  /** Minimum session support for an emitted pattern. */
  val SeqMinSup = 3L

  /** q237: GAPPED SEQUENTIAL TRIPLE PATTERNS — ordered event-type
    * triples (a before b before c, gaps allowed) and the number of
    * (user, day) sessions supporting each, the PrefixSpan-style
    * sequential-pattern question q130 (adjacent transitions) and q181
    * (contiguous paths) cannot answer: "signup … THEN view … THEN
    * purchase, whatever happened in between".
    *
    * Shape at 100 TB: positions come from a (user, day)-PARTITIONED
    * row_number (keyed window), capped at the first SeqCap events —
    * the documented loss is patterns occurring only past position 24
    * of a session, and the gain is a hard C(24,3) per-session bound
    * on the triple fan-out. Enumeration is two session-keyed
    * equi-joins on the capped relation (never a cartesian), deduped
    * per session BEFORE support counting (support = sessions, not
    * occurrences — one spammy session can't promote a pattern). The
    * final support table is alphabet³-bounded regardless of corpus
    * size. */
  def eventSeqTriples(spark: SparkSession, d: String): DataFrame = {
    val pos = CacheScope.cached(Tables.eventsNs(spark, d)
      .select(col("user_id").as("u"), expr("ts div 86400000000000").as("day"),
        col("event_type").as("t"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("u"), col("day"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= SeqCap)
      .select(col("u"), col("day"), col("t"), col("rn")))
    val a = pos.select(col("u").as("u1"), col("day").as("d1"),
      col("t").as("t1"), col("rn").as("p1"))
    val b = pos.select(col("u").as("u2"), col("day").as("d2"),
      col("t").as("t2"), col("rn").as("p2"))
    val c = pos.select(col("u").as("u3"), col("day").as("d3"),
      col("t").as("t3"), col("rn").as("p3"))
    a.join(b, col("u1") === col("u2") && col("d1") === col("d2") &&
        col("p2") > col("p1"))
      .join(c, col("u1") === col("u3") && col("d1") === col("d3") &&
        col("p3") > col("p2"))
      .select(col("u1"), col("d1"), col("t1"), col("t2"), col("t3"))
      .distinct()
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= SeqMinSup)
      .orderBy(col("t1"), col("t2"), col("t3"))
  }

  /** q239: PERFECT-ORDER RATE PER MONTH — the classic fulfillment KPI:
    * share of orders (permille) whose EVERY line shipped within 30
    * days of ordering, plus the mean worst-line lag in exact floored
    * milli-days. The all-lines quantifier is what makes this an
    * order-grain aggregate, not a line filter.
    *
    * Shape at 100 TB: one orderkey-keyed fact-fact join (co-partitioned
    * shuffle), one per-order max agg, one calendar-bounded month agg.
    * Never materializes anything bigger than |orders|. */
  def perfectOrderRate(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_shipdate"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"),
        col("o_orderdate"),
        expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)")
          .as("m")), col("ok") === col("o_orderkey"))
      .groupBy(col("ok"), col("m"))
      .agg(max(expr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)"))
        .as("worst_lag"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("worst_lag") <= 30L, 1L).otherwise(0L)).as("n_perfect"),
        // lags go NEGATIVE in the corpus tail (lines shipping before
        // the recorded order date) — sign-decomposed like q235 so
        // Spark's truncating div and DuckDB's flooring // agree
        expr("CASE WHEN sum(worst_lag) >= 0" +
          " THEN (1000 * sum(worst_lag)) div count(1)" +
          " ELSE -((1000 * -sum(worst_lag)) div count(1)) END")
          .as("mean_worst_lag_md"))
      .select(col("m").as("month_idx"), col("n_orders"), col("n_perfect"),
        expr("(1000 * n_perfect) div n_orders").as("perfect_pm"),
        col("mean_worst_lag_md"))
      .orderBy(col("month_idx"))

  /** q241: SEASONAL-NAIVE FORECAST BACKTEST (MASE) — per brand, the
    * mean absolute scaled error of the seasonal-naive forecast
    * (revenue(m) ≈ revenue(m−12)) against the naive-1 benchmark
    * (revenue(m) ≈ revenue(m−1)), in exact milli: the
    * Hyndman–Koehler scale-free accuracy metric every forecast
    * pipeline backtests BEFORE a model earns a slot. mase < 1000 =
    * yearly seasonality carries real signal for this brand. Evaluated
    * only on months where BOTH lags exist, so numerator and
    * denominator score the identical month set.
    *
    * Shape at 100 TB: the fact table collapses to the calendar × brand
    * grid first (the q233/q235 shared agg); the two lag joins are
    * (brand, month)-keyed equi-joins on that bounded grid — never a
    * window over fact rows, and absolute errors keep every floor
    * operand non-negative. */
  def seasonalNaiveBacktest(spark: SparkSession, d: String): DataFrame = {
    val bm = CacheScope.cached(brandMonthRevenue(spark, d))
    val l12 = bm.select(col("brand").as("b12"), (col("m") + 12L).as("m12"),
      col("rev_cents").as("r12"))
    val l1 = bm.select(col("brand").as("b1"), (col("m") + 1L).as("m1"),
      col("rev_cents").as("r1"))
    bm.join(l12, col("brand") === col("b12") && col("m") === col("m12"))
      .join(l1, col("brand") === col("b1") && col("m") === col("m1"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("rev_cents") - col("r12"))).as("ae12"),
        sum(abs(col("rev_cents") - col("r1"))).as("ae1"))
      .select(col("brand"), col("n_eval"),
        expr("ae12 div n_eval").as("mae_seasonal_cents"),
        expr("ae1 div n_eval").as("mae_naive1_cents"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * ae12) div ae1 AS BIGINT)")
          .as("mase_milli"))
      .orderBy(col("brand"))
  }

  /** q268: RFM SEGMENT MIGRATION MATRIX — customer monetary-quintile
    * flow between the first and second half of the order history: per
    * (segment-then, segment-now) cell the customer count, where
    * segment is the q199 exact-integer monetary quintile (1..5, 5
    * best, hundred-dollar grid, score = (strictly-poorer·5) div n + 1)
    * computed INDEPENDENTLY per half, and 0 means "absent in that
    * half" (new customer / churned customer). The classic retention
    * read: mass on the diagonal = stable value segments, the 5→0 cell
    * = lost whales, the 0→5 cell = acquired whales — the q125
    * cohort-retention question asked at the VALUE level instead of
    * the activity level.
    *
    * The period split is the integer midpoint of the corpus's
    * [min, max] order-day span — derived from the data (one bounded
    * 1-row agg, the q199 `now` precedent), deterministic, and
    * identical in the oracle.
    *
    * Shape at 100 TB: two customer-keyed hash-aggs (one per half —
    * a single scan each), quintiles from the bounded hundred-dollar
    * histogram through the q73/q188 two-pass cumulative (no
    * partitionless window, no per-customer global rank), broadcast
    * re-join on the grid value, one full-outer customer-keyed join,
    * and a ≤36-key matrix agg. Nothing scales past the fact scan. */
  def rfmMigration(spark: SparkSession, d: String): DataFrame = {
    val o = CacheScope.cached(Tables.orders(spark, d)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))
    val mm = o.agg(min(col("day")), max(col("day"))).head()
    val pivot = (mm.getLong(0) + mm.getLong(1)) / 2
    def half(pred: Column, tag: String): DataFrame = {
      val base = o.filter(pred).groupBy(col("o_custkey"))
        .agg(expr("sum(cents) div 10000").as("mh"))
      val hist = base.groupBy(col("mh")).agg(count(lit(1)).as("c"))
      val (cum, n) = histCumBefore(spark, hist, "mh", asc = true)
      base.join(broadcast(cum.select(col("mh").as("mh_k"),
          expr(s"(before * 5) div $n + 1").as(s"seg_$tag"))),
        col("mh") === col("mh_k"))
        .select(col("o_custkey").as(s"ck_$tag"), col(s"seg_$tag"))
    }
    val a = half(col("day") < pivot, "a")
    val b = half(col("day") >= pivot, "b")
    a.join(b, col("ck_a") === col("ck_b"), "full_outer")
      .select(coalesce(col("seg_a"), lit(0L)).as("seg_then"),
        coalesce(col("seg_b"), lit(0L)).as("seg_now"))
      .groupBy(col("seg_then"), col("seg_now"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("seg_then"), col("seg_now"))
  }

  /** q272: MAD ANOMALY CALENDAR — every (brand, month) revenue cell
    * flagged against the brand's own ROBUST dispersion: |rev − median|
    * > 3·MAD, where median and MAD (median absolute deviation) are the
    * deterministic LOWER medians (rank (n+1) div 2 under (value, month)
    * order — the q235 no-interpolation discipline). The month-level
    * twin of q185's per-day MAD outliers and the anomaly view q233's
    * seasonal decomposition can't give: a promo spike or stockout month
    * stands out against the brand's typical month WITHOUT the mean and
    * variance being dragged by the very outliers being hunted (up to
    * half the months can be wild before the median moves). Emits the
    * FULL calendar with the flag — the zero-anomaly brands are
    * evidence too (the q267 dead-rule argument).
    *
    * Shape at 100 TB: the fact table collapses to the bounded
    * calendar × brand grid first (one keyed hash-agg); both median
    * extractions are rank windows INSIDE brand partitions of
    * ≤|calendar| rows; the med/mad maps re-join broadcast (≤|brands|
    * rows each, fresh-aliased keys — the q196 lesson). Nothing after
    * the grid agg scales with data volume. */
  def madAnomalyCalendar(spark: SparkSession, d: String): DataFrame = {
    val bm = CacheScope.cached(brandMonthRevenue(spark, d))
    def lowerMedian(df: DataFrame, key: String, value: String,
        outKey: String, outVal: String): DataFrame = {
      val w = Window.partitionBy(col(key)).orderBy(col(value), col("m"))
      df.withColumn("rk", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy(col(key))))
        .filter(col("rk") === expr("(nn + 1) div 2"))
        .select(col(key).as(outKey), col(value).as(outVal))
    }
    val med = lowerMedian(bm, "brand", "rev_cents", "mb", "med_cents")
    val dev = bm.join(broadcast(med), col("brand") === col("mb"))
      .withColumn("dev_cents", abs(col("rev_cents") - col("med_cents")))
      .select(col("brand"), col("m"), col("rev_cents"), col("med_cents"),
        col("dev_cents"))
    val mad = lowerMedian(dev, "brand", "dev_cents", "xb", "mad_cents")
    dev.join(broadcast(mad), col("brand") === col("xb"))
      .select(col("brand"), col("m"), col("rev_cents"), col("med_cents"),
        col("mad_cents"), col("dev_cents"),
        when(col("dev_cents") > col("mad_cents") * 3L, 1L).otherwise(0L)
          .as("is_anomaly"))
      .orderBy(col("brand"), col("m"))
  }

  /** q273: KENDALL-τ BRAND CO-MOVEMENT — for every brand pair, the
    * exact Kendall tau-a of their monthly revenue series over the
    * months BOTH observe: concordant month pairs (both brands moved
    * the same way) minus discordant, over C(n,2), in sign-decomposed
    * milli. Rank-based like q218's Spearman but pairwise-exact with
    * NO rank construction at all — τ needs only the SIGN of each
    * month-pair delta, so ties are handled exactly (they count for
    * neither side; tau-a keeps the full C(n,2) denominator) and zero
    * cross-engine arithmetic deeper than integer comparison exists.
    * The read: which brands' demand moves together (shared seasonality
    * / substitutes with the sign flipped) — the co-movement matrix a
    * demand planner clusters, where q235 gives each brand its OWN
    * trend in isolation.
    *
    * Shape at 100 TB: the fact table collapses to the bounded
    * calendar × brand grid first; the brand-pair month alignment is a
    * month-keyed self-equi-join of that grid (fresh-aliased — the
    * q196 lesson) and the month-pair enumeration is a brand-pair-keyed
    * self-equi-join — C(|brands|,2) · C(|calendar|,2) rows total,
    * bounded by dimensions, independent of fact volume. */
  def kendallComovement(spark: SparkSession, d: String): DataFrame = {
    val bm = CacheScope.cached(brandMonthRevenue(spark, d))
    val x = bm.select(col("brand").as("ba"), col("m").as("mx"),
      col("rev_cents").as("ra"))
    val y = bm.select(col("brand").as("bb"), col("m").as("my"),
      col("rev_cents").as("rb"))
    val pv = x.join(y, col("mx") === col("my") && col("ba") < col("bb"))
      .select(col("ba"), col("bb"), col("mx").as("m"), col("ra"), col("rb"))
    val p1 = pv.select(col("ba").as("pa"), col("bb").as("pb"),
      col("m").as("m1"), col("ra").as("ra1"), col("rb").as("rb1"))
    val p2 = pv.select(col("ba").as("qa"), col("bb").as("qb"),
      col("m").as("m2"), col("ra").as("ra2"), col("rb").as("rb2"))
    val sa = when(col("ra2") > col("ra1"), 1L)
      .when(col("ra2") < col("ra1"), -1L).otherwise(0L)
    val sb = when(col("rb2") > col("rb1"), 1L)
      .when(col("rb2") < col("rb1"), -1L).otherwise(0L)
    val ag = p1.join(p2, col("pa") === col("qa") && col("pb") === col("qb")
        && col("m2") > col("m1"))
      .select(col("pa"), col("pb"), (sa * sb).as("s"))
      .groupBy(col("pa"), col("pb"))
      .agg(sum(when(col("s") > 0, 1L).otherwise(0L)).as("n_conc"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_disc"),
        count(lit(1)).as("np"))
    val nm = pv.groupBy(col("ba"), col("bb"))
      .agg(count(lit(1)).as("n_months"))
    nm.join(ag, col("ba") === col("pa") && col("bb") === col("pb"))
      .select(col("ba").as("brand_a"), col("bb").as("brand_b"),
        col("n_months"), col("n_conc"), col("n_disc"),
        when(col("n_conc") >= col("n_disc"),
          expr("(1000 * (n_conc - n_disc)) div np"))
          .otherwise(-expr("(1000 * (n_disc - n_conc)) div np"))
          .as("tau_milli"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** q277: ASSOCIATION RULES — the DIRECTED rules q198's symmetric
    * lift can't express: for every co-purchased part pair with support
    * ≥ 3 baskets, BOTH directions A→B and B→A with exact confidence
    * milli (⌊1000·|A∩B|/|A|⌋) and conviction milli — conviction =
    * (1 − supp(B)) / (1 − conf(A→B)) as ONE cross-multiplied integral
    * division ⌊1000·(t−c_b)·c_a / (t·(c_a−c_ab))⌋, the "how much more
    * often would A appear without B if they were independent" measure
    * that, unlike confidence, punishes rules whose consequent is just
    * globally common. A deterministic-confidence rule (c_ab = c_a)
    * reports NULL conviction via the div-NULL path on both engines —
    * infinity, honestly. Top 30 by (confidence desc, antecedent,
    * consequent), the basket-placement read ("customers who bought A
    * buy B" — directionality is the point: diapers→beer and
    * beer→diapers are different decisions).
    *
    * Shape at 100 TB: identical physics to q198 — basket-keyed
    * self-equi-join with per-basket C(k,2) fan-out, part-keyed
    * frequency joins, a one-row scalar broadcast, and a bounded
    * TakeOrdered. The direction union doubles a support-filtered
    * relation, nothing else. DECIMAL(38,0) products throughout (t and
    * the counts are corpus-scale). */
  def associationRules(spark: SparkSession, d: String): DataFrame = {
    val (pairs, freq, baskets) = Queries.basketCounts(spark, d)
    val directed = pairs.select(col("pa").as("ante"), col("pb").as("cons"),
        col("c_ab"))
      .unionAll(pairs.select(col("pb").as("ante"), col("pa").as("cons"),
        col("c_ab")))
    directed
      .join(freq.toDF("ante", "c_a"), "ante")
      .join(freq.toDF("cons", "c_b"), "cons")
      .crossJoin(broadcast(baskets))
      .select(col("ante"), col("cons"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(CAST(1000 AS DECIMAL(38,0)) * c_ab) div c_a")
          .as("confidence_milli"),
        // (t−c_b)·c_a / (t·(c_a−c_ab)); c_a = c_ab ⇒ div 0 ⇒ NULL ⇒ ∞
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * (t - c_b) * c_a) div " +
          "(CAST(t AS DECIMAL(38,0)) * (c_a - c_ab)) AS BIGINT)")
          .as("conviction_milli"))
      .orderBy(col("confidence_milli").desc, col("ante"), col("cons"))
      .limit(30)
  }

  /** q280 window length: 12 monthly taps with dyadic weights
    * 2¹¹..2⁰ (newest heaviest), weight mass 2¹²−1 = 4095. */
  val MomentumTaps = 12

  /** q280: DYADIC-DECAY REVENUE MOMENTUM — per brand and month, an
    * exponentially-weighted 12-month revenue level with EXACT dyadic
    * weights (tap k back weighs 2^(11−k); level = weighted sum div
    * 4095) and its month-over-month delta. The EWMA-family smoother
    * made hash-exact: classic EWMA carries an infinite recurrence
    * whose floored replay diverges across engines, so the operator is
    * DEFINED as the 12-tap truncation — weights decay 2× per month
    * (the α=½ profile), the tail below tap 12 is < 1/4096 of the
    * mass, and every engine computes the identical integer. Missing
    * months weigh in at 0 revenue (true demand silence, not NULL
    * skip): levels only emit once a FULL window exists (month index
    * ≥ 12 past spine start), momentum one month later. The read q233
    * (seasonal ratio) and q235 (whole-series trend) don't give: the
    * CURRENT smoothed level and whether it just turned — the
    * inventory-pacing signal.
    *
    * Shape at 100 TB: the fact table collapses to the bounded
    * calendar × brand grid FIRST (one keyed hash-agg); the spine
    * bounds come from a 1-row collect (the q223 calendar contract);
    * the 12 taps are lag() reads inside brand partitions of
    * ≤|calendar| rows — one window sort over dimension-bounded data,
    * nothing downstream scales with fact volume. Weighted sums are
    * ≤ 4095·max monthly cents — route DECIMAL(38,0) past ~2·10¹⁴
    * cents/brand-month. */
  def dyadicMomentum(spark: SparkSession, d: String): DataFrame = {
    val bm = CacheScope.cached(brandMonthRevenue(spark, d))
    val bounds = bm.agg(min(col("m")), max(col("m"))).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val spine = spark.range(mn, mx + 1L).select(col("id").as("m"))
    val grid = bm.select(col("brand")).distinct()
      .crossJoin(broadcast(spine))
      .join(bm, Seq("brand", "m"), "left")
      .select(col("brand"), col("m"),
        coalesce(col("rev_cents"), lit(0L)).as("rev"))
    val w = Window.partitionBy(col("brand")).orderBy(col("m"))
    val num = (0 until MomentumTaps).map { k =>
      lag(col("rev"), k, 0L).over(w) * lit(1L << (MomentumTaps - 1 - k))
    }.reduce(_ + _)
    grid.withColumn("num", num)
      .withColumn("level_cents", expr("num div 4095"))
      .withColumn("prev_level_cents",
        lag(col("level_cents"), 1).over(w))
      .withColumn("momentum_cents",
        col("level_cents") - col("prev_level_cents"))
      .filter(col("m") >= mn + MomentumTaps)
      .select(col("brand"), col("m"), col("level_cents"),
        col("prev_level_cents"), col("momentum_cents"),
        signum(col("momentum_cents")).cast("long").as("direction"))
      .orderBy(col("brand"), col("m"))
  }

  /** q284 lags: adjacent hour (short-memory burstiness) and same hour
    * next day (diurnal rhythm). */
  val AcfLags: Seq[Long] = Seq(1L, 24L)

  /** Exact OLS moments of (x, y) per group: the row count named `n`,
    * Σx, Σy, Σxy, Σx², Σy² (products in DECIMAL(38,0)), then the
    * cross-multiplied `num` = n·Σxy − Σx·Σy, `dx` = n·Σx² − (Σx)² and
    * `dy` = n·Σy² − (Σy)². */
  private[graft] def olsMoments(g: org.apache.spark.sql.RelationalGroupedDataset,
      n: String): DataFrame =
    g.agg(count(lit(1)).as(n),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("num", expr(
        s"CAST($n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("dx", expr(
        s"CAST($n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("dy", expr(
        s"CAST($n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))

  /** Signed r² in ppm over [[olsMoments]]: sign(num)·⌊10⁶·num²/(dx·dy)⌋,
    * 0 when either variance is 0. */
  private[graft] def r2SignedPpm: Column =
    when(expr("dx = 0 OR dy = 0"), lit(0L)).otherwise(expr(
      """CAST(CASE WHEN num >= 0
        |  THEN (1000000 * num * num) div (dx * dy)
        |  ELSE -((1000000 * num * num) div (dx * dy))
        |END AS BIGINT)""".stripMargin.replace("\n", " ")))

  /** q284: HOURLY-SERIES AUTOCORRELATION — per event type, the exact
    * signed lag-1 and lag-24 Pearson r² (in ppm, sign carried
    * separately from the square) of the zero-filled hourly event-count
    * series. The rhythm detector behind traffic-aware scheduling and
    * anomaly baselining: strong positive lag-24 = diurnal periodicity
    * (q233's seasonal index asks this of MONTHS; no operator asked it
    * of the event stream), strong lag-1 = bursty/sticky load, ~0 both
    * = memoryless arrivals. Exactness is the q91 discipline: moment
    * NUMERATORS as exact integer sums in DECIMAL(38,0), the ONE
    * division floored — r²·sign instead of r, so no square root ever
    * happens (sign(num)·10⁶·num² div (dx·dy)); a constant series
    * (dx·dy = 0) reports 0, the honest undefined.
    *
    * Shape at 100 TB: the stream collapses to the (type, hour) grid
    * FIRST (one keyed hash-agg, map-side combinable); the spine
    * zero-fill is |types| × the calendar-bounded hour range (the q219
    * value-domain idiom, broadcast spine); lags are window reads
    * inside type partitions of ≤|hours| rows. Nothing after the first
    * agg scales with event volume. num² ≤ (|hours|²·maxcount²)² —
    * ~3·10⁹ events/hour/type before the 38-digit envelope binds. */
  def hourlyAutocorr(spark: SparkSession, d: String): DataFrame = {
    val cc = CacheScope.cached(eventsNs(spark, d)
      .select(col("event_type"), expr("ts div 3600000000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c")))
    val bounds = cc.agg(min(col("h")), max(col("h"))).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val spine = spark.range(mn, mx + 1L).select(col("id").as("h"))
    val grid = cc.select(col("event_type")).distinct()
      .crossJoin(broadcast(spine))
      .join(cc, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val lagged = AcfLags.map { l =>
      grid.withColumn("y", lag(col("c"), l.toInt).over(w))
        .filter(col("h") >= mn + l)
        .select(col("event_type"), lit(l).as("lag_h"),
          col("c").as("x"), col("y"))
    }.reduce(_ unionAll _)
    olsMoments(lagged.groupBy(col("event_type"), col("lag_h")), "n_pairs")
      .select(col("event_type"), col("lag_h"), col("n_pairs"),
        r2SignedPpm.as("r2_signed_ppm"))
      .orderBy(col("event_type"), col("lag_h"))
  }

  /** q286: PRICE-QUANTITY ELASTICITY PROXY — per brand, the exact OLS
    * slope of monthly quantity on monthly unit price (micro units of
    * qty per cent) with its signed r² (ppm): did the brand sell LESS
    * in the months it priced HIGHER? The cross-VARIABLE regression
    * none of the time-series family runs: q235 regresses revenue on
    * TIME, q273 correlates brand PAIRS, q284 correlates a series with
    * its own PAST — this one prices the demand curve itself, the
    * input a pricing team actually fits. Months are the observation
    * grain (unit price = rev_cents div qty, ONE floored division per
    * cell, qty exact — TPC-H quantities are integral); slope and r²
    * follow the q91/q284 exact-moment discipline: integer numerators
    * in DECIMAL(38,0), one sign-decomposed floored division each.
    *
    * Shape at 100 TB: the fact table collapses to the brand × month
    * grid FIRST (one keyed hash-agg); moments are a |brands|-keyed
    * re-agg of that bounded grid. Nothing downstream of the first agg
    * scales with fact volume. */
  def priceElasticity(spark: SparkSession, d: String): DataFrame = {
    val bm = Tables.lineitem(spark, d).select(
        col("l_partkey").as("pk"),
        expr("CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .join(Tables.part(spark, d).select(col("p_partkey"), col("p_brand")),
        col("pk") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("m"))
      .agg(sum(col("cents")).as("rev_cents"), sum(col("qty")).as("qty"))
      .select(col("brand"), col("m"),
        expr("rev_cents div qty").as("x"), col("qty").as("y"))
    olsMoments(bm.groupBy(col("brand")), "n_months")
      .select(col("brand"), col("n_months"),
        when(expr("dx = 0"), lit(0L)).otherwise(expr(
          """CAST(CASE WHEN num >= 0 THEN (1000000 * num) div dx
            |  ELSE -((1000000 * (-num)) div dx) END AS BIGINT)"""
            .stripMargin.replace("\n", " "))).as("slope_micro"),
        r2SignedPpm.as("r2_signed_ppm"))
      .orderBy(col("brand"))
  }

  /** q288 cumulative-share class bars: A captures the first 80 % of
    * brand revenue, B the next 15 %, C the tail. */
  val AbcBarsPm: (Long, Long) = (800L, 950L)

  /** q288: ABC VALUE-CONCENTRATION CLASSES — per brand, its parts
    * ranked by revenue and cut into the classic A/B/C inventory
    * classes by CUMULATIVE share: a part is A while the share
    * accumulated BEFORE it is < 800 ‰, B while < 950 ‰, else C (the
    * prior-cumulative rule makes a dominant first part class A by
    * construction — the defined, engine-identical semantic). Per
    * (brand, class): part count and captured revenue share. The
    * concentration CUT the equal-count cuts can't express: q73's
    * deciles give every bucket the same population; ABC gives every
    * class the same VALUE meaning — "how few SKUs carry 80 % of the
    * brand" is the planner's question, and n_parts(A) answers it.
    *
    * Shape at 100 TB: one (brand, part) keyed hash-agg of the fact
    * table, then rank/cumulative windows INSIDE brand partitions of
    * ≤|catalog parts per brand| rows (dimension-bounded — the q272
    * grid argument), a 3-value class derivation, and a (brand, class)
    * re-agg. Ties rank (revenue desc, partkey asc). */
  def abcClasses(spark: SparkSession, d: String): DataFrame = {
    val pr = Tables.lineitem(spark, d).select(
        col("l_partkey").as("pk"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(Tables.part(spark, d).select(col("p_partkey"), col("p_brand")),
        col("pk") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("pk"))
      .agg(sum(col("cents")).as("rev"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(col("rev").desc, col("pk"))
    val tot = Window.partitionBy(col("brand"))
    val (aBar, bBar) = AbcBarsPm
    pr.withColumn("cum", sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("brand_rev", sum(col("rev")).over(tot))
      .withColumn("prev_pm",
        expr("(1000 * (cum - rev)) div brand_rev"))
      .withColumn("cls",
        when(col("prev_pm") < aBar, "A")
          .when(col("prev_pm") < bBar, "B").otherwise("C"))
      .groupBy(col("brand"), col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("class_rev_cents"),
        max(col("brand_rev")).as("br"))
      .withColumn("share_pm", expr("(1000 * class_rev_cents) div br"))
      .select(col("brand"), col("cls"), col("n_parts"),
        col("class_rev_cents"), col("share_pm"))
      .orderBy(col("brand"), col("cls"))
  }

  /** Ceiling integer square root — the q157 corrected floor-isqrt
    * shifted to the CONSERVATIVE side: for a subtracted radical a
    * floor would bias the bound optimistic, ceil keeps "lower bound"
    * honest. Exact for n < 2⁵³ (IEEE sqrt is correctly rounded). */
  private[graft] def ceilSqrt(n: Column): Column = {
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    val s1 = when(s0 * s0 > n, s0 - 1L).otherwise(s0)
    val fl = when((s1 + 1L) * (s1 + 1L) <= n, s1 + 1L).otherwise(s1)
    when(fl * fl === n, fl).otherwise(fl + 1L)
  }

  /** q289: WILSON LOWER-BOUND QUALITY RANKING — per supplier, the
    * non-return rate of its line items and the Wilson score interval's
    * lower bound at z = 2 (~95 %), both in ppm: the small-sample-fair
    * ranking statistic ("sort by lower confidence bound", the
    * canonical fix for a 2/2 supplier outranking a 4980/5000 one).
    * With s successes of n and z² = 4 the bound is
    * (n(s+2) − 2·√(n(s(n−s)+n))) / (n(n+4)) — ONE radical, taken with
    * the CEILING isqrt so the floor bias lands on the conservative
    * side, then one floored division, clamped at 0 (tiny-n underflow).
    * Both engines replay the identical corrected-sqrt arithmetic (the
    * q157 isqrt discipline, α = 1/2 case).
    *
    * Shape at 100 TB: ONE supplier-keyed hash-agg of the fact table,
    * then row-local arithmetic on |suppliers| dimension rows — no
    * window, no sort but presentation. Radicand n·(s(n−s)+n) ~ n³:
    * exact in the double-seeded isqrt to n ~ 2·10⁶ lines/supplier —
    * past that route the radicand DECIMAL(38,0) and seed from its
    * double cast (documented, not needed at any test SF). */
  def wilsonRanking(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("n_ok"))
      .withColumn("rad",
        ceilSqrt(expr("n_lines * (n_ok * (n_lines - n_ok) + n_lines)")))
      .select(col("suppkey"), col("n_lines"), col("n_ok"),
        expr("(1000000 * n_ok) div n_lines").as("rate_ppm"),
        greatest(lit(0L), expr(
          "(1000000 * (n_lines * (n_ok + 2) - 2 * rad))" +
            " div (n_lines * (n_lines + 4))")).as("wilson_lb_ppm"))
      .orderBy(col("suppkey"))
  }

  /** q292: SESSION TRANSITION IMPURITY — per antecedent event type,
    * the Gini impurity (ppm) of its within-session NEXT-event
    * distribution, plus the modal next step and its share: how
    * PREDICTABLE each state is. Impurity 0 = the flow is a corridor
    * (prefetch/precompute the next screen); near the (k−1)/k ceiling
    * = a hub where prediction is pointless. The entropy-style
    * question asked WITHOUT logarithms (the no-cross-engine-ln
    * discipline): Gini = 1 − Σp² is exact in ONE cross-multiplied
    * division, (n² − Σc²)·10⁶ div n². q181 mines the popular PATHS;
    * this scores each state's fan-out as a distribution. Modal ties
    * break to the lexicographically smallest next type via
    * min(struct(−c, nxt)).
    *
    * Shape at 100 TB: the q19/q181 session chain (user-keyed windows)
    * collapses to |types|² transition counts in one keyed hash-agg;
    * everything after is alphabet-bounded. Σc² exact in BIGINT to
    * ~3·10⁹ transitions per pair — DECIMAL(38,0) past that (q91). */
  def transitionImpurity(spark: SparkSession, d: String): DataFrame = {
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val counts = Queries.sessionIds(eventsNs(spark, d))
      .withColumn("nxt", lead(col("event_type"), 1).over(ws))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("ante"), col("nxt"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("ante"))
      .agg(sum(col("c")).as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        sum(expr("c * c")).as("ssq"),
        min(struct((-col("c")).as("nc"), col("nxt"))).as("m"))
      .select(col("ante"), col("n_transitions"), col("n_next_types"),
        expr("(1000000 * (n_transitions * n_transitions - ssq))" +
          " div (n_transitions * n_transitions)").as("gini_ppm"),
        col("m.nxt").as("top_next"),
        expr("(1000 * (-m.nc)) div n_transitions").as("top_share_pm"))
      .orderBy(col("ante"))
  }

  /** q293: QUALITY × DUPLICATION ASSOCIATION — does repetitive text
    * (low unique-token ratio, the q29 uniqueness signal integerized)
    * duplicate more? Per uniqueness band: docs, near-dup members
    * (q49 cluster_n ≥ 2), dup rate, and the relative risk vs the
    * corpus base rate as ONE cross-multiplied milli ratio
    * (1000·dup_b·N) div (n_b·D). The curation composition q29 and
    * q49 each leave implicit: if risk falls monotonically with
    * uniqueness, a repetition filter IS a cheap pre-dedup — and the
    * table is the evidence either way.
    *
    * Shape at 100 TB: one row-local banding scan + the persisted
    * label join, a band-keyed agg, and the 1-row corpus totals
    * re-entering broadcast (the q62 scalar pattern). */
  def qualityDupAssociation(spark: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val withTok = Tables.documentsDist(spark, d)
      .select(col("doc_id"), size(t).cast("long").as("nt"),
        size(array_distinct(t)).cast("long").as("uq"))
      .withColumn("uq_pm", expr("(1000 * uq) div nt"))
      .withColumn("band", expr("uq_pm div 100"))
    val labels = Dedup.nearDupClusters(spark, d)
      .select(col("doc_id"),
        when(col("cluster_n") >= 2L, 1L).otherwise(0L).as("dup"))
    val bands = withTok.join(labels, "doc_id")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dups"))
    val tot = bands.agg(sum(col("n_docs")).as("nn"), sum(col("n_dups")).as("dd"))
    bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n_docs"), col("n_dups"),
        expr("(1000 * n_dups) div n_docs").as("dup_rate_pm"),
        when(col("dd") === 0L, lit(0L))
          .otherwise(expr("(1000 * n_dups * nn) div (n_docs * dd)"))
          .as("risk_milli"))
      .orderBy(col("band"))
  }

  /** q294 SLA bar: ship lag beyond 90 days breaches. */
  val SlaBreachDays = 90L

  /** q294: PRIORITY SLA AUDIT — per order priority tier, the exact
    * P50/P90/max of ship lag (days from order date to line ship date)
    * and the share of lines past the 90-day bar: does the priority
    * field BUY anything? Percentiles are TYPE-1 (lower: first lag
    * whose cumulative count reaches (n+1) div 2 / (9n+9) div 10 — the
    * q272 no-interpolation discipline) computed over the per-tier lag
    * HISTOGRAM: lag days live on a bounded value grid (TPC-H ships
    * within ~4 months), so the cumulative runs inside tier partitions
    * of ≤|lag domain| rows — the q151/q188 bounded-histogram shape,
    * never a per-row rank.
    *
    * Shape at 100 TB: one (tier, lag) hash-agg of the fact join,
    * histogram cumulatives, a 5-row output. */
  def prioritySlaAudit(spark: SparkSession, d: String): DataFrame = {
    val lags = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("ok"), col("l_shipdate"))
      .join(Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("ok") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
    val hist = lags.groupBy(col("priority"), col("lag"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("priority")).orderBy(col("lag"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("priority"))))
      .withColumn("r50", expr("(n + 1) div 2"))
      .withColumn("r90", expr("(9 * n + 9) div 10"))
    cum.groupBy(col("priority"))
      .agg(max(col("n")).as("n_lines"),
        min(when(col("cum") >= col("r50"), col("lag"))).as("p50_days"),
        min(when(col("cum") >= col("r90"), col("lag"))).as("p90_days"),
        max(col("lag")).as("max_days"),
        sum(when(col("lag") > SlaBreachDays, col("c")).otherwise(0L))
          .as("n_breach"))
      .withColumn("breach_pm", expr("(1000 * n_breach) div n_lines"))
      .select(col("priority"), col("n_lines"), col("p50_days"),
        col("p90_days"), col("max_days"), col("breach_pm"))
      .orderBy(col("priority"))
  }

  /** q350: EXACT SHAPLEY ATTRIBUTION — game-theoretic credit
    * assignment over the channel coalition, the axiomatic answer to
    * the question q175 approximates with last-touch/linear
    * heuristics. The unit is the (user, 7-day epoch bucket) EXPOSURE
    * WINDOW — the per-user lifetime unit saturates on this corpus
    * (every user eventually purchases), the windowed unit leaves both
    * converted and unconverted cells in every exposure class. Each
    * window contributes an exposure set T ⊆ {click, view, signup}
    * (channels seen strictly before the window's first purchase; all
    * the window's touches when it has none) and a conversion flag;
    * the characteristic function v(S) = conversion rate among
    * windows exposed ONLY within S (T ⊆ S); a channel's Shapley value
    * φ(ch) = Σ_{S∌ch} |S|!(k−|S|−1)!/k! · (v(S∪{ch}) − v(S)) is the
    * unique credit split satisfying efficiency/symmetry/dummy
    * (Shapley 1953; Zhao et al.'s data-driven marketing-attribution
    * formulation) — a DIFFERENT object from q175's per-conversion
    * heuristics: it prices each channel's marginal lift over every
    * coalition, so a channel that only converts when combined with
    * another gets its interaction credit, which no single-touch rule
    * can express.
    *
    * Exactness: rates are floored ppm; with k=3 the positional
    * weights are sixths, so φ is emitted ×6 (`shapley_ppm_x6`) — the
    * signed sum never divides, sidestepping the floor-vs-truncate
    * divergence on negatives (the q289 sign lesson). Both engines
    * replay the identical 8-subset fold.
    *
    * Shape at 100 TB: one (user, wk)-keyed equi-join (window-first-
    * purchase ts onto events) + one (user, wk)-keyed conditional
    * hash-agg → a ≤16-row (mask, converted) grid; the 2^k subset fold
    * and the k·2^k Shapley sum are a driver fold over that grid (q347
    * discipline). k is the channel alphabet (bounded), never the
    * corpus. The epoch-nanos week bucket is pure integer division —
    * no calendar function in either engine's value path. */
  def shapleyAttribution(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.eventsNs(spark, d)
      .select(col("user_id"), col("event_type"), col("ts"),
        expr("ts div 86400000000000 div 7").as("wk"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("wk")).agg(min(col("ts")).as("pts"))
    val pre = col("pts").isNull || col("ts") < col("pts")
    val grid = ev.join(firstP, Seq("user_id", "wk"), "left")
      .groupBy(col("user_id"), col("wk"))
      .agg(
        max(when(col("event_type") === "click" && pre, 1L).otherwise(0L)).as("b1"),
        max(when(col("event_type") === "view" && pre, 2L).otherwise(0L)).as("b2"),
        max(when(col("event_type") === "signup" && pre, 4L).otherwise(0L)).as("b4"),
        max(when(col("pts").isNotNull, 1L).otherwise(0L)).as("conv"))
      .groupBy((col("b1") + col("b2") + col("b4")).as("mask"), col("conv"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getLong(0).toInt, x.getLong(1), x.getLong(2)))
    val cnt = Array.fill(8)(0L)
    val cv = Array.fill(8)(0L)
    grid.foreach { case (mask, conv, n) =>
      cnt(mask) += n; if (conv == 1L) cv(mask) += n
    }
    def rate(s: Int): Long = {
      val ts = (0 until 8).filter(t => (t & ~s) == 0)
      val n = ts.map(cnt).sum
      if (n == 0L) 0L else 1000000L * ts.map(cv).sum / n
    }
    val chans = Seq(1 -> "click", 2 -> "view", 4 -> "signup")
    val w6 = Array(2L, 1L, 2L) // s!(k−s−1)!/k! in sixths, k=3, |S|=s
    val out = chans.map { case (bit, name) =>
      val phi6 = (0 until 8).filter(s => (s & bit) == 0).map { s =>
        w6(Integer.bitCount(s)) * (rate(s | bit) - rate(s))
      }.sum
      val exposed = (0 until 8).filter(t => (t & bit) != 0)
      (name, exposed.map(cnt).sum, exposed.map(cv).sum, phi6)
    }
    spark.createDataFrame(out)
      .toDF("channel", "n_exposed", "n_conv_exposed", "shapley_ppm_x6")
      .orderBy(col("channel"))
  }
}
