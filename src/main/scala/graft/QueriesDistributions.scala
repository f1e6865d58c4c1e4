package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The statistical battery: bootstrap/resampling, rank tests,
  * moments, concentration and association measures (q297+).
  *
  * Split from the monolithic Queries object (round 12, pure motion —
  * `object Queries` mixes these traits in, so every `Queries.x` call
  * site and registry entry is unchanged). Helpers shared across the
  * cut are `private[graft]`. */
private[graft] trait QueriesDistributions {
  import Tables._

  /** lineitem ⋈ orders on the order key, carrying `o_orderkey` and the
    * named order columns (the order side is projected before the join). */
  private[graft] def linesWithOrder(spark: SparkSession, d: String,
      orderCols: String*): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d).select(("o_orderkey" +: orderCols).map(col): _*),
        col("l_orderkey") === col("o_orderkey"))

  /** Days from order to shipment, as BIGINT. */
  private[graft] def shipLagDays: Column =
    expr("CAST(datediff(l_shipdate, o_orderdate) AS BIGINT)")
  /** q297 resample count — 32 deterministic pseudo-replicas; the
    * 2nd/31st order statistics bracket ≈ 94 % of the resample mass. */
  val BootstrapB = 32

  /** q297: DETERMINISTIC POISSON-BOOTSTRAP CI — per market segment,
    * the mean order value with a resampling confidence band, computed
    * the only way a bootstrap CAN run on distributed data (Poisson
    * bootstrap: per-row independent weights, no global resample
    * index) and the only way one can be HASH-EXACT cross-engine: the
    * weight of order i in replica b is bit_count((polyhash(i:b) mod
    * P) mod 16) — four pseudo-uniform bits, Binomial(4, ½), a
    * mean-2 proxy for Poisson(1) whose scale cancels in the weighted
    * mean. 32 replicas, each mean ONE floored division of exact
    * integer sums; the band is the 2nd/31st order statistic of the
    * 32 means. The uncertainty-quantification primitive the whole
    * analytics family lacked: q07/q91 emit point estimates, this
    * emits "the mean is X ± how-sure".
    *
    * Shape at 100 TB: the 32× weight fan-out is row-local codegen
    * (one polyhash per (row, b)); per (segment, b) sums are one keyed
    * hash-agg (map-side combinable); ranking runs inside segment
    * partitions of exactly 32 rows. Nothing else scales. */
  def bootstrapCi(spark: SparkSession, d: String): DataFrame = {
    val base = orders(spark, d)
      .join(Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderkey").as("ok"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val fan = base.select(col("segment"), col("ok"), col("cents"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("w", bit_count(graft.functions.GraftFunctions.polyhash(
        concat(col("ok").cast("string"), lit(":"), col("b").cast("string")))
        % 16L).cast("long"))
    val means = fan.groupBy(col("segment"), col("b"))
      .agg(sum(col("w")).as("sw"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * cents")).as("swx"))
      .filter(col("sw") > 0L)
      .select(col("segment"), col("b"),
        expr("CAST(swx div sw AS BIGINT)").as("mb"))
    val w32 = Window.partitionBy(col("segment"))
      .orderBy(col("mb"), col("b"))
    val ranked = means.withColumn("rn", row_number().over(w32))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_replicas"),
        min(when(col("rn") === 2, col("mb"))).as("boot_lo_cents"),
        min(when(col("rn") === BootstrapB - 1, col("mb"))).as("boot_hi_cents"))
    base.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        expr("sum(cents) div count(1)").as("mean_cents"))
      .join(ranked, "segment")
      .select(col("segment"), col("n_orders"), col("mean_cents"),
        col("boot_lo_cents"), col("boot_hi_cents"),
        (col("boot_hi_cents") - col("boot_lo_cents")).as("band_cents"))
      .orderBy(col("segment"))
  }

  /** q298: REPEAT-PURCHASE LATENCY — per market segment, how many
    * customers ever came back and how fast: repeat share (pm) and the
    * exact P25/P50/P75 of days between a customer's FIRST and SECOND
    * order (type-1 lower ranks over the bounded gap-day histogram —
    * the q294 shape). The lifecycle question q223's survival curve
    * (time to CHURN) and q125's cohort retention (calendar-bucketed
    * activity) both skirt: the second purchase is THE activation
    * event a growth team prices.
    *
    * Shape at 100 TB: first/second order dates are one lag read
    * inside customer partitions; gaps collapse to the (segment, gap)
    * histogram; cumulatives run inside segment partitions of ≤|day
    * domain| rows. */
  def repeatLatency(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"),
      col("o_orderkey"))
    val firstTwo = orders(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .withColumn("nxt", lead(col("o_orderdate"), 1).over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("ck"),
        datediff(col("nxt"), col("o_orderdate")).cast("long").as("gap"))
    val seg = Tables.customer(spark, d)
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("segment"))
    val gaps = firstTwo.join(seg, "ck")
    val counts = gaps.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_repeat"))
    val hist = gaps.filter(col("gap").isNotNull)
      .groupBy(col("segment"), col("gap")).agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy(col("segment")).orderBy(col("gap"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("segment"))))
    val pct = cum
      .withColumn("r25", expr("(n + 3) div 4"))
      .withColumn("r50", expr("(n + 1) div 2"))
      .withColumn("r75", expr("(3 * n + 3) div 4"))
      .groupBy(col("segment"))
      .agg(min(when(col("cum") >= col("r25"), col("gap"))).as("p25_days"),
        min(when(col("cum") >= col("r50"), col("gap"))).as("p50_days"),
        min(when(col("cum") >= col("r75"), col("gap"))).as("p75_days"))
    counts.join(pct, Seq("segment"), "left")
      .select(col("segment"), col("n_customers"), col("n_repeat"),
        expr("(1000 * n_repeat) div n_customers").as("repeat_pm"),
        col("p25_days"), col("p50_days"), col("p75_days"))
      .orderBy(col("segment"))
  }

  /** q301: CUSUM CHANGEPOINT — per event type, the single most likely
    * structural-break day of its daily volume: the classic offline
    * CUSUM statistic max_k |S_k − (k/n)·S_n| over the observed day
    * grid, kept exactly integral as |n·S_k − k·S_n| (cross-multiplied,
    * ties broken to the EARLIEST day), with the break's location, its
    * normalized height in permille (1000·maxdev / (n·S_n) — the
    * Kolmogorov-style drift share), and the mean daily rate before /
    * after the cut (milli-events/day). q133 flags pointwise 3σ
    * outlier DAYS against a stationary mean; this finds the REGIME
    * SHIFT a stationary-mean model is wrong about — the "feed changed
    * on day X" question an ingest operator actually asks. A
    * single-day series has dev ≡ 0 and reports its one day with a
    * NULL after-rate (div-NULL on both engines).
    *
    * Shape at 100 TB: one fact scan → (type, day) hash-agg; all
    * windows run INSIDE type partitions over the day grid (≤ days
    * rows each — value-domain-bounded, never corpus-sized); the
    * argmax is one more grid-bounded rank. n·S_k stays in Long until
    * ~10¹⁴ daily events × 10⁴ days; DECIMAL(38,0) past that. */
  def cusumChangepoint(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val cnt = Tables.eventsNs(spark, d)
      .select(col("event_type"), expr(s"ts div $DayNs").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val dev = cnt
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("s", sum(col("n")).over(wCum))
      .withColumn("days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("dev", expr("abs(days * s - k * total)"))
    dev.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("dev").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("days").as("n_days"), col("total"),
        col("day").as("cut_day"), col("k").as("cut_k"),
        col("dev").as("dev_scaled"),
        expr("(1000 * dev) div (days * total)").as("cusum_pm"),
        expr("(1000 * s) div k").as("rate_before_milli"),
        expr("CASE WHEN k < days THEN (1000 * (total - s)) div (days - k) END")
          .as("rate_after_milli"))
      .orderBy(col("event_type"))
  }

  /** q302: MANN–WHITNEY RANK-SUM AUDIT — per order priority, does the
    * fulfillment lag (order → ship days, q294's measure) of RETURNED
    * line items stochastically dominate that of kept ones? The exact
    * doubled U statistic 2U = Σ_v a_v·(2·B(<v) + b_v) computed over
    * the bounded (priority, lag-day) histogram (a = returned counts,
    * b = kept, B(<v) = kept mass strictly below v — ties contribute
    * half, hence the doubling stays integral), the common-language
    * effect size U/(n₁n₂) in ppm (P[returned lag > kept lag] + ½ties
    * — 500000 = no effect), the signed deviation 2U − n₁n₂, and the
    * tie-corrected normal-approximation z² in milli via ONE
    * cross-multiplied division: z² = 3·(2U − n₁n₂)²·n·(n−1) /
    * (n₁·n₂·((n³−n) − Σ(t³−t))). A nonparametric two-sample test with
    * NO ranks materialized and no floats — only integer histogram
    * arithmetic crosses the engines, so the oracle replays it
    * bit-identically. q294 profiles lag quantiles per priority; this
    * TESTS whether the returned/kept populations differ. Degenerate
    * groups (either sample empty, or every lag tied) report NULL
    * effect/z² through the div-NULL path on both engines.
    *
    * Shape at 100 TB: one fact scan → (priority, lag) hash-agg; the
    * strictly-below cumulative is a window INSIDE priority partitions
    * over the lag grid (value-domain-bounded); the test statistics
    * are a |priorities|-row rollup. The z² numerator squares 2U−n₁n₂,
    * so it runs in DECIMAL(38,0) on the Spark side and HUGEINT in the
    * oracle — exact at any SF this engine benches; past ~10⁶ rows per
    * group the z² ceiling argument is moot anyway (any nonzero effect
    * is significant). */
  def rankSumShipLag(spark: SparkSession, d: String): DataFrame = {
    val lg = linesWithOrder(spark, d, "o_orderpriority", "o_orderdate")
      .select(col("o_orderpriority").as("priority"),
        shipLagDays.as("lag"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
    val h = lg.groupBy(col("priority"), col("lag"))
      .agg(sum(col("ret")).as("a"), sum(lit(1L) - col("ret")).as("b"))
    val wLt = Window.partitionBy(col("priority")).orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("blt", coalesce(sum(col("b")).over(wLt), lit(0L)))
    cum.groupBy(col("priority"))
      .agg(sum(col("a")).as("n_ret"), sum(col("b")).as("n_kept"),
        sum(expr("a * (2 * blt + b)")).as("u2"),
        sum(expr("(a + b) * (a + b) * (a + b) - (a + b)")).as("ties3"))
      .withColumn("n", col("n_ret") + col("n_kept"))
      .withColumn("dev2", expr("u2 - n_ret * n_kept"))
      .select(col("priority"), col("n_ret"), col("n_kept"), col("u2"),
        // DECIMAL(38,0) cross-multiply: 10⁶·u2 overflows Long at
        // ~9·10¹² pair-count (≈SF50 group sizes) and Spark would wrap
        // silently while the oracle errors — same discipline as z2
        expr("CAST((1000000 * CAST(u2 AS DECIMAL(38,0)))" +
          " div (2 * CAST(n_ret AS DECIMAL(38,0)) * n_kept) AS BIGINT)")
          .as("cles_ppm"),
        col("dev2"),
        expr("""CAST((3000 * CAST(dev2 AS DECIMAL(38,0)) * dev2 * n * (n - 1))
                div (CAST(n_ret AS DECIMAL(38,0)) * n_kept
                     * ((CAST(n AS DECIMAL(38,0)) * n * n - n) - ties3))
                AS BIGINT)""".stripMargin.replace("\n", " ")).as("z2_milli"))
      .orderBy(col("priority"))
  }

  /** q304: CHI-SQUARE INDEPENDENCE TEST — the general two-categorical
    * contingency audit the surface lacked: order priority × return
    * flag, per cell the observed count, the expected count in milli
    * (1000·R_i·C_j/n), and the χ² contribution in milli via ONE
    * cross-multiplied division 1000·(n·O − R·C)²/(n·R·C); plus the
    * global χ² (milli) and the normalized effect size Cramér's V² in
    * ppm (χ²/(n·(min(r,c)−1)) — squared so no root crosses the
    * engines), broadcast onto every cell row. q195 tests a mixture
    * against a FIXED target; q206 a 50:50 split ratio; this tests two
    * OBSERVED factors against each other — "does return behavior
    * depend on order priority?" — with both margins estimated, the
    * textbook (r−1)(c−1)-df setting. All integer: the squared
    * numerator runs in DECIMAL(38,0) / HUGEINT.
    *
    * Shape at 100 TB: one fact-join scan → (r, c)-cell hash-agg; the
    * margins and total derive from the ≤ r·c cell grid
    * (dimension-bounded — two window sums and a scalar), never from a
    * second fact pass. */
  def chisqIndependence(spark: SparkSession, d: String): DataFrame = {
    // cached: four consumers (both margins, the total, the cell join)
    // — one fact scan, not four
    val cells = CacheScope.cached(linesWithOrder(spark, d, "o_orderpriority")
      .groupBy(col("o_orderpriority").as("priority"),
        col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("o")))
    // margins/total from the r·c cell grid (dimension-bounded) — the
    // fact table is scanned exactly once, everything below is keyed
    // joins on the grid plus two one-row scalar broadcasts
    val rm = cells.groupBy(col("priority")).agg(sum(col("o")).as("r_tot"))
    val cm = cells.groupBy(col("returnflag")).agg(sum(col("o")).as("c_tot"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("priority")).as("r"),
      countDistinct(col("returnflag")).as("c"))
    val g = CacheScope.cached(cells
      .join(rm, "priority").join(cm, "returnflag")
      .crossJoin(broadcast(tot))
      .withColumn("contrib_milli", expr(
        """CAST((1000 * (CAST(n AS DECIMAL(38,0)) * o - CAST(r_tot AS DECIMAL(38,0)) * c_tot)
               * (CAST(n AS DECIMAL(38,0)) * o - CAST(r_tot AS DECIMAL(38,0)) * c_tot))
           div (CAST(n AS DECIMAL(38,0)) * r_tot * c_tot) AS BIGINT)"""
          .stripMargin.replace("\n", " "))))
    val chis = g.agg(sum(col("contrib_milli")).as("chisq_milli"))
    g.crossJoin(broadcast(chis))
      .select(col("priority"), col("returnflag"), col("o"),
        // DECIMAL(38,0) cross-multiply: 1000·R·C overflows Long at
        // ~3·10⁸ joined rows (≈SF50); keep the exact-parity contract
        // at any SF like contrib_milli does
        expr("CAST((1000 * CAST(r_tot AS DECIMAL(38,0)) * c_tot)" +
          " div n AS BIGINT)").as("expected_milli"),
        col("contrib_milli"), col("chisq_milli"),
        expr("(r - 1) * (c - 1)").as("df"),
        expr("(1000 * chisq_milli) div (n * (least(r, c) - 1))").as("v2_ppm"))
      .orderBy(col("priority"), col("returnflag"))
  }

  /** q305: EVENT OVERDISPERSION — per event type, is the daily volume
    * Poisson or bursty? The variance-to-mean ratio (index of
    * dispersion) in exact milli via ONE cross-multiplied division:
    * VMR = s²/x̄ = (n·Q − S²)/((n−1)·S) over the observed day grid
    * (n days, S total, Q sum of squares), the χ²_{n−1} dispersion
    * statistic D = (n−1)·VMR in milli, and a 3σ burst flag on the
    * EXACT integer inequality (n·Q − S² − (n−1)·S)² > 18·(n−1)·S²
    * (the squared form of D − (n−1) > 3·√(2(n−1)) — no root, no
    * float). VMR ≈ 1000 reads Poisson; ≫ 1000 is burst clustering,
    * ≪ 1000 is under-dispersed regularity. q133 flags which DAYS are
    * anomalous and q301 finds WHERE the level breaks; this scores the
    * process's hazard TYPE — the statistic a capacity planner needs
    * before assuming Poisson arrivals. Single-day series report NULL
    * VMR/D through the div-NULL path on both engines.
    *
    * Shape at 100 TB: one fact scan → (type, day) hash-agg → |types|
    * rollup; the flag's squared compare runs in DECIMAL(38,0) /
    * HUGEINT. */
  def eventOverdispersion(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    Tables.eventsNs(spark, d)
      .select(col("event_type"), expr(s"ts div $DayNs").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("days"), sum(col("n")).as("total"),
        sum(col("n") * col("n")).as("sumsq"))
      .withColumn("num", expr("days * sumsq - total * total"))
      .select(col("event_type"), col("days").as("n_days"), col("total"),
        expr("(1000 * num) div ((days - 1) * total)").as("vmr_milli"),
        expr("(1000 * num) div total").as("dispersion_milli"),
        expr("""CAST(CASE WHEN
              (CAST(num AS DECIMAL(38,0)) - (days - 1) * total)
                * (CAST(num AS DECIMAL(38,0)) - (days - 1) * total)
              > 18 * (CAST(days AS DECIMAL(38,0)) - 1) * total * total
            AND num > (days - 1) * total THEN 1 ELSE 0 END AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("burst_flag"))
      .orderBy(col("event_type"))
  }

  /** q306: MEDIAN BOOTSTRAP BAND — the q297 deterministic Poisson
    * bootstrap applied to a RANK statistic: per market segment, a
    * 32-replica confidence band for the MEDIAN first→second-order gap
    * (q298's activation-latency median). Each (customer, replica)
    * draws the same Binomial(4,1/2) polyhash weight as q297; a
    * replica's median is the type-1 lower weighted median over the
    * (segment, gap-day) histogram (first gap whose cumulative weight
    * reaches (W+1) div 2 — zero-weight replicas drop, mirroring
    * q297's sw > 0 guard); the band is the 2nd/31st order statistics
    * of the replica medians. Proves the bootstrap primitive
    * generalizes beyond linear statistics: means aggregate, medians
    * need the weighted-rank machinery — and the uncertainty of q298's
    * headline number is exactly what that report omits. Sparse
    * segments (< 31 nonzero replicas) report NULL endpoints rather
    * than fabricating coverage.
    *
    * Shape at 100 TB: the gap relation is one lag read inside
    * customer partitions (q298); the 32× fan-out collapses
    * immediately to the (segment, replica, gap-day) histogram
    * (value-domain × 32 bounded); medians and order statistics are
    * windows over that grid — never over facts. */
  def bootstrapMedianCi(spark: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // cached: the fan-out and the point-estimate histogram both
    // consume it — one orders scan, not two
    val gaps = CacheScope.cached(Tables.orders(spark, d)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nxt", lead(col("o_orderdate"), 1).over(wOrd))
      .filter(col("rn") === 1 && col("nxt").isNotNull)
      .select(col("o_custkey").as("ck"),
        expr("CAST(datediff(nxt, o_orderdate) AS BIGINT)").as("gap"))
      .join(Tables.customer(spark, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("ck") === col("c_custkey")))
    val fan = gaps.select(col("segment"), col("ck"), col("gap"),
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("b"))
      .withColumn("w", bit_count(graft.functions.GraftFunctions.polyhash(
        concat(col("ck").cast("string"), lit(":"), col("b").cast("string")))
        % 16L).cast("long"))
    val hist = fan.groupBy(col("segment"), col("b"), col("gap"))
      .agg(sum(col("w")).as("c"))
    val wCum = Window.partitionBy(col("segment"), col("b")).orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("segment"), col("b"))
    val med = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tw", sum(col("c")).over(wTot))
      .filter(col("tw") > 0L)
      .groupBy(col("segment"), col("b"))
      .agg(min(when(col("cum") >= expr("(tw + 1) div 2"), col("gap")))
        .as("med"))
    val band = med.withColumn("rn", row_number().over(
        Window.partitionBy(col("segment")).orderBy(col("med"), col("b"))))
      .groupBy(col("segment"))
      .agg(min(when(col("rn") === 2, col("med"))).as("boot_lo_days"),
        min(when(col("rn") === BootstrapB - 1, col("med")))
          .as("boot_hi_days"))
    val wSC = Window.partitionBy(col("segment")).orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val point = gaps.groupBy(col("segment"), col("gap"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wSC))
      .withColumn("tw", sum(col("c")).over(Window.partitionBy(col("segment"))))
      .groupBy(col("segment"))
      .agg(sum(col("c")).as("n_gaps"),
        min(when(col("cum") >= expr("(tw + 1) div 2"), col("gap")))
          .as("med_days"))
    point.join(band, "segment")
      .select(col("segment"), col("n_gaps"), col("med_days"),
        col("boot_lo_days"), col("boot_hi_days"),
        (col("boot_hi_days") - col("boot_lo_days")).as("band_days"))
      .orderBy(col("segment"))
  }

  /** q308 administrative-censoring horizon (days): a customer with no
    * second order inside the horizon is censored AT the horizon, the
    * standard fixed-follow-up design. */
  val LogRankHorizonDays = 365L

  /** q308: LOG-RANK SURVIVAL TEST — do customers whose FIRST order was
    * urgent-priority (priority 1–2) repeat FASTER than the rest? The
    * classic two-sample censored-time test on q306's time-to-second-
    * order, 365-day administrative censoring: per event day t the
    * hypergeometric expected urgent-group events E₁ₜ = dₜ·n₁ₜ/nₜ and
    * variance dₜ·n₁ₜ·(nₜ−n₁ₜ)·(nₜ−dₜ)/(nₜ²(nₜ−1)), each FLOORED to
    * micro units per day (the statistic is DEFINED as this
    * integerization — both engines replay every floor); z² milli =
    * 1000·(10⁶·O₁ − ΣE₁)²/(10⁶·ΣV). q223's Kaplan–Meier DESCRIBES one
    * survival curve; this TESTS two against each other, respecting
    * censoring — the comparison a naive mean-gap t-test gets wrong
    * (censored customers vanish from a mean). The at-risk sets need no
    * per-customer walk: nₜ = N − events(< t) because administrative
    * censoring at the horizon keeps every non-event customer at risk
    * through every event day.
    *
    * Shape at 100 TB: the gap relation is the q298/q306 lag read; the
    * test statistic lives on the (event-day, d₁, d) grid — ≤ horizon
    * rows, collected and folded in exact BigInt on the driver (the
    * q240/q242 bounded-collect discipline; no partitionless window
    * anywhere). Zero-variance degenerate corpora report NULL z²
    * through the div-NULL path on both engines. */
  def logRankRepeat(spark: SparkSession, d: String): DataFrame = {
    val H = LogRankHorizonDays
    val wOrd = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // `base` feeds TWO sequential driver actions (tot.head, then the
    // event-day collect) and nothing else: the returned DataFrame is
    // driver-built, so both actions run in the operator's own scope,
    // which releases `base` once they are done or one has failed.
    val ((n1, n, ev1, ev), days) = CacheScope.scope {
      val base = CacheScope.cached(Tables.orders(spark, d)
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("nxt", lead(col("o_orderdate"), 1).over(wOrd))
        .filter(col("rn") === 1)
        .select(
          expr("CASE WHEN CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2" +
            " THEN 1L ELSE 0L END").as("g1"),
          expr(s"CASE WHEN nxt IS NOT NULL AND" +
            s" CAST(datediff(nxt, o_orderdate) AS BIGINT) <= $H" +
            s" THEN CAST(datediff(nxt, o_orderdate) AS BIGINT) END").as("t")))
      val tot = base.agg(sum(col("g1")).as("n1"), count(lit(1)).as("n"),
        sum(when(col("t").isNotNull, col("g1")).otherwise(0L)).as("ev1"),
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("ev"))
        .head()
      // event-day grid: ≤ horizon rows — bounded collect, driver fold
      val days = base.filter(col("t").isNotNull)
        .groupBy(col("t")).agg(sum(col("g1")).as("d1"),
          count(lit(1)).as("dt"))
        .orderBy(col("t")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      ((tot.getLong(0), tot.getLong(1), tot.getLong(2), tot.getLong(3)), days)
    }
    var cum1 = 0L
    var cum = 0L
    var e1mic = BigInt(0)
    var vmic = BigInt(0)
    days.foreach { case (_, d1, dt) =>
      val n1t = n1 - cum1
      val nt = n - cum
      e1mic += BigInt(1000000L) * dt * n1t / nt
      if (nt > 1)
        vmic += BigInt(1000000L) * dt * n1t * (nt - n1t) * (nt - dt) /
          (BigInt(nt) * nt * (nt - 1))
      cum1 += d1
      cum += dt
    }
    val delta = BigInt(1000000L) * ev1 - e1mic
    val z2 = if (vmic > 0)
      Some((BigInt(1000) * delta * delta / (BigInt(1000000L) * vmic)).toLong)
    else None
    val faster = delta.signum.toLong
    import spark.implicits._
    Seq((n1, n - n1, ev1, ev - ev1, e1mic.toLong, vmic.toLong, z2, faster))
      .toDF("n_urgent", "n_rest", "events_urgent", "events_rest",
        "e1_micro", "v_micro", "z2_milli", "urgent_faster")
  }

  /** q312: MARKOV NEXT-EVENT BACKTEST — the out-of-sample test q130's
    * transition matrix and q292's impurity both stop short of: train
    * the modal next-event predictor per antecedent on EVEN user ids,
    * score top-1 accuracy on ODD users' transitions, per antecedent
    * type, against the unconditional modal-event baseline (predicting
    * the train-majority next event regardless of antecedent). The
    * lift over baseline is the honest value of sequence conditioning
    * — q292 measures in-sample predictability, which inflates under
    * overfit; a held-out split cannot. Ties in the argmax break to
    * the lexicographically smallest event type (deterministic on both
    * engines); antecedents never seen in training predict nothing and
    * score misses — the honest cold-start accounting.
    *
    * Shape at 100 TB: transitions are one lead() inside user
    * partitions (q130's window); train counts collapse to the
    * |types|² grid; the predictor and baseline re-enter as
    * dimension-bounded broadcasts onto the test half's keyed scan. */
  def markovBacktest(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // cached: the train grid and the test evaluation both consume it
    val tr = CacheScope.cached(Tables.eventsNs(spark, d)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("from_type"), col("to_type"),
        (col("user_id") % 2 === 0).as("is_train")))
    val counts = tr.filter(col("is_train"))
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    val pred = counts.withColumn("rn", row_number().over(
        Window.partitionBy(col("from_type"))
          .orderBy(col("n").desc, col("to_type"))))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"),
        col("n").as("n_pred_train"))
    val base = counts.groupBy(col("to_type")).agg(sum(col("n")).as("nb"))
      .orderBy(col("nb").desc, col("to_type")).limit(1)
      .select(col("to_type").as("base_pred"))
    tr.filter(!col("is_train"))
      .join(broadcast(pred), Seq("from_type"), "left")
      .crossJoin(broadcast(base))
      .groupBy(col("from_type"))
      .agg(max(col("predicted")).as("predicted"),
        count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_hits"),
        sum(when(col("to_type") === col("base_pred"), 1L).otherwise(0L))
          .as("n_base_hits"))
      .select(col("from_type"), col("predicted"), col("n_test"),
        col("n_hits"), expr("(1000 * n_hits) div n_test").as("acc_pm"),
        col("n_base_hits"),
        expr("(1000 * n_base_hits) div n_test").as("base_acc_pm"),
        expr("(1000 * n_hits) div n_base_hits").as("lift_milli"))
      .orderBy(col("from_type"))
  }

  /** q315's fixed period boundary (ship date). */
  val PeriodSplitDate = "1998-07-01"

  /** q315: TWO-PROPORTION DRIFT TEST — per order priority, did the
    * return RATE move between the early and late shipping periods
    * (fixed boundary [[PeriodSplitDate]])? The classic pooled
    * two-proportion z² in exact milli via ONE cross-multiplied
    * division: z² = (x_a·n_b − x_b·n_a)²·n / (n_a·n_b·x·(n−x)) —
    * algebraically (p̂_a−p̂_b)²/(p̂(1−p̂)(1/n_a+1/n_b)) with every
    * denominator cleared, so no rate is ever materialized as a float.
    * The "did the metric move" primitive: q206 tests a 50:50 design
    * ratio, q289 bounds ONE proportion, q302 compares DISTRIBUTIONS —
    * this compares two observed proportions, the form a release
    * readout actually quotes. Degenerate slices (either period empty,
    * or x ∈ {0, n}) report NULL z² through the div-NULL path on both
    * engines.
    *
    * Shape at 100 TB: one fact-join scan → (priority, period)
    * hash-agg → |priorities| rollup; the squared numerator runs in
    * DECIMAL(38,0)/HUGEINT. */
  def returnRateDrift(spark: SparkSession, d: String): DataFrame = {
    linesWithOrder(spark, d, "o_orderpriority")
      .select(col("o_orderpriority").as("priority"),
        (col("l_shipdate") < lit(PeriodSplitDate).cast("timestamp"))
          .cast("long").as("early"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy(col("priority"))
      .agg(sum(col("early")).as("n_a"),
        sum(expr("early * ret")).as("x_a"),
        sum(expr("1 - early")).as("n_b"),
        sum(expr("(1 - early) * ret")).as("x_b"))
      .select(col("priority"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("(1000 * x_a) div n_a").as("rate_a_pm"),
        expr("(1000 * x_b) div n_b").as("rate_b_pm"),
        expr("(1000 * x_a) div n_a - (1000 * x_b) div n_b").as("diff_pm"),
        expr("""CAST((1000 * CAST(x_a * n_b - x_b * n_a AS DECIMAL(38,0))
                     * (x_a * n_b - x_b * n_a) * (n_a + n_b))
                div (CAST(n_a AS DECIMAL(38,0)) * n_b * (x_a + x_b)
                     * (n_a + n_b - x_a - x_b)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("z2_milli"))
      .orderBy(col("priority"))
  }

  /** q316's output cut. */
  val PriceDispersionTopK = 50

  /** q316: PART PRICE-DISPERSION AUDIT — per part the exact
    * coefficient-of-variation² of its observed unit price across
    * line items (cents via round(100·extendedprice) div quantity —
    * the defined integerization both engines replay), CV²_ppm =
    * 10⁶·(n·Σp² − S²)/S², plus supplier fan-out and min/max spread:
    * the procurement-arbitrage shortlist. q231 names each part's
    * CHEAPEST supplier, q230 indexes brand prices over TIME — this
    * ranks parts by how inconsistently the market prices them, the
    * signal that a price is negotiable. Top-K by dispersion
    * (deterministic (cv², part) order); single-quote parts report 0
    * dispersion, zero-price degenerates NULL via div-NULL.
    *
    * Shape at 100 TB: one fact scan → part-keyed hash-agg (moment
    * sums in DECIMAL(38,0)); the cut is TakeOrderedAndProject —
    * per-partition heaps, never a global sort. */
  def priceDispersion(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d)
      .select(col("l_partkey").as("partkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " div CAST(l_quantity AS BIGINT)").as("unit_cents"))
      .groupBy(col("partkey"))
      .agg(count(lit(1)).as("n_quotes"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        sum(col("unit_cents")).as("s"),
        sum(expr("CAST(unit_cents AS DECIMAL(38,0)) * unit_cents")).as("q"),
        min(col("unit_cents")).as("min_cents"),
        max(col("unit_cents")).as("max_cents"))
      .select(col("partkey"), col("n_quotes"), col("n_suppliers"),
        col("min_cents"), col("max_cents"),
        expr("""CAST((1000000 * (CAST(n_quotes AS DECIMAL(38,0)) * q
                     - CAST(s AS DECIMAL(38,0)) * s))
                div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("cv2_ppm"),
        expr("(1000 * (max_cents - min_cents)) div min_cents")
          .as("spread_pm"))
      .orderBy(col("cv2_ppm").desc, col("partkey"))
      .limit(PriceDispersionTopK)
  }

  /** q319: KRUSKAL–WALLIS — does fulfillment lag differ across ALL
    * five order priorities at once? The k-sample generalization of
    * q302's two-sample Mann–Whitney: tie-averaged ranks over the
    * pooled (priority, lag-day) histogram via DOUBLED ranks (a tied
    * block spanning cumulative positions [c+1, c+t] has average rank
    * c + (t+1)/2, doubled 2c + t + 1 — integral), per-group doubled
    * rank sums S_j, and H = [3·ΣS_j²/n_j − 3N(N+1)²] / (N(N+1)) with
    * the tie correction H_c = H·(N³−N)/((N³−N) − Σ(t³−t)). The
    * statistic is DEFINED with two integer floors (per-group micro
    * contribution floor(10⁶·S_j²/n_j), then the milli division) —
    * both engines replay every floor, so parity is exact. All-tied
    * degenerate corpora report NULL H_c through the div-NULL path.
    *
    * Shape at 100 TB: one fact scan → (priority, lag) hash-agg; the
    * grid is value-domain-bounded (5 priorities × ~120 lag days), so
    * the rank fold is a bounded driver collect in exact BigInt (the
    * q308 discipline — no partitionless window anywhere). The
    * oracle's HUGEINT 10⁶·S_j² term caps exact SQL replay near SF10;
    * past that N any nonzero effect is significant anyway (the q302
    * ceiling argument). */
  def kruskalWallisLag(spark: SparkSession, d: String): DataFrame = {
    val grid = linesWithOrder(spark, d, "o_orderpriority", "o_orderdate")
      .groupBy(col("o_orderpriority").as("priority"),
        shipLagDays.as("lag"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // pooled doubled ranks over the lag value grid
    val byLag = grid.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val lags = byLag.keys.toSeq.sorted
    var cum = 0L
    var tieT = BigInt(0)
    val dr2 = scala.collection.mutable.Map.empty[Long, Long]
    lags.foreach { v =>
      val t = byLag(v)
      dr2(v) = 2 * cum + t + 1
      tieT += BigInt(t) * t * t - t
      cum += t
    }
    val n = BigInt(cum)
    val groups = grid.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, g) =>
      val nj = g.map(_._3).sum
      val s2 = g.map(t => BigInt(t._3) * dr2(t._2)).sum
      (p, nj, s2)
    }
    val cSum = groups.map { case (_, nj, s2) => BigInt(1000000) * s2 * s2 / nj }.sum
    val num = (BigInt(3) * cSum - BigInt(3000000) * n * (n + 1) * (n + 1)).max(0)
    val hMilli = (num / (BigInt(1000) * n * (n + 1))).toLong
    val n3n = n * n * n - n
    val hcMilli = if (n3n > tieT)
      Some((BigInt(hMilli) * n3n / (n3n - tieT)).toLong) else None
    val df = (groups.size - 1).toLong
    import spark.implicits._
    groups.map { case (p, nj, s2) =>
      (p, nj, s2.toLong, (BigInt(500) * s2 / nj).toLong,
        hMilli, hcMilli, df)
    }.toDF("priority", "n", "rank_sum2", "mean_rank_milli",
      "h_milli", "hc_milli", "df")
      .orderBy(col("priority"))
  }

  /** q325 burst gap: two orders ≤ this many days apart chain into one
    * purchasing burst (the gaps-and-islands cut). */
  val BurstGapDays = 30L

  /** q320: WALD–WOLFOWITZ RUNS TEST — is the daily order volume
    * RANDOM over time, or do above-average and below-average days
    * clump? Binarize each observed day against the exact mean
    * (n·c_d vs S, strictly — days exactly at the mean drop, the
    * standard cut treatment), count runs R of consecutive same-signs,
    * and test against the exact permutation moments μ = 1 + 2n₁n₂/N,
    * σ² = 2n₁n₂(2n₁n₂−N)/(N²(N−1)): z² in milli via ONE
    * cross-multiplied division 1000·((R−1)N − 2n₁n₂)²·(N−1) /
    * (2n₁n₂·(2n₁n₂−N)). trend = sign((R−1)N − 2n₁n₂): negative means
    * FEWER runs than chance (momentum/clustering — the autocorrelated
    * regime q284 measures parametrically), positive means
    * oscillation. q301 finds WHERE the level breaks; this tests
    * whether the sequence is exchangeable AT ALL — the
    * model-free precondition check. Degenerate splits (n₁n₂ = 0 or
    * 2n₁n₂ ≤ N) report NULL z² via div-NULL on both engines.
    *
    * Shape at 100 TB: one orders scan → day hash-agg; the run fold is
    * a calendar-bounded driver collect in exact BigInt (the q308
    * discipline — no partitionless window). */
  def runsTestDaily(spark: SparkSession, d: String): DataFrame = {
    val days = Tables.orders(spark, d)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("day"))
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
    val nDays = days.length.toLong
    val s = days.map(_._2).sum
    // strictly above/below the exact mean; equals drop
    val signs = days.flatMap { case (_, c) =>
      val lhs = BigInt(nDays) * c
      if (lhs > s) Some(1) else if (lhs < s) Some(0) else None
    }
    val n1 = signs.count(_ == 1).toLong
    val n2 = signs.count(_ == 0).toLong
    val nn = n1 + n2
    val runs =
      if (signs.isEmpty) 0L
      else 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
    val dev = BigInt(runs - 1) * nn - BigInt(2) * n1 * n2
    val expMilli = if (nn > 0) Some(1000L + (BigInt(2000) * n1 * n2 / nn).toLong)
      else None
    val den = BigInt(2) * n1 * n2 * (BigInt(2) * n1 * n2 - nn)
    val z2Milli = if (den > 0)
      Some((BigInt(1000) * dev * dev * (nn - 1) / den).toLong) else None
    import spark.implicits._
    Seq((nDays, n1, n2, nn, runs, expMilli, z2Milli, dev.signum.toLong))
      .toDF("n_days", "n_above", "n_below", "n_kept", "runs",
        "expected_runs_milli", "z2_milli", "trend")
  }

  /** q321: COCHRAN–ARMITAGE TREND TEST — does the return RATE move
    * monotonically with order priority (ordinal scores w = 1..5 from
    * the priority prefix)? The χ²(1df) trend statistic on the 2×5
    * table: T = Σw_j·x_j − R·Σw_j·n_j/N, Var = R(N−R)(N·Σw_j²n_j −
    * (Σw_j n_j)²)/N³, z² = N·T²/Var — integerized as TWO floors
    * replayed on both engines: vN = Var_cross div N, then z²_milli =
    * 1000·T_cross² div vN (where T_cross = N·Σwx − R·Σwn and
    * Var_cross = R(N−R)(N·Σw²n − (Σwn)²), so z² = N·T²/Var exactly
    * up to the two floors). q304 tests ANY association (4 df); this
    * spends one df on the ORDERED alternative — the right test when
    * the factor is ordinal, with ~4× the power against monotone
    * drift. trend = sign(T_cross): positive means urgent orders
    * return MORE. Degenerate tables (all returned / none / one
    * group) report NULL via div-NULL on both engines.
    *
    * Shape at 100 TB: one fact scan → 5-row priority hash-agg →
    * driver BigInt fold (the q308 discipline). The oracle's HUGEINT
    * replay caps near SF30 (Var_cross ~ 25N⁴); same ceiling argument
    * as q302. */
  def trendTestReturns(spark: SparkSession, d: String): DataFrame = {
    val g = linesWithOrder(spark, d, "o_orderpriority")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      .orderBy(col("priority"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val w = g.map { case (p, nj, xj) => (p, p.take(1).toLong, nj, xj) }
    val n = BigInt(w.map(_._3).sum)
    val rTot = BigInt(w.map(_._4).sum)
    val swx = w.map(t => BigInt(t._2) * t._4).sum
    val swn = w.map(t => BigInt(t._2) * t._3).sum
    val sw2n = w.map(t => BigInt(t._2) * t._2 * t._3).sum
    val tCross = n * swx - rTot * swn
    val varCross = rTot * (n - rTot) * (n * sw2n - swn * swn)
    val vN = if (n > 0) varCross / n else BigInt(0)
    val z2Milli = if (vN > 0)
      Some((BigInt(1000) * tCross * tCross / vN).toLong) else None
    import spark.implicits._
    w.toSeq.map { case (p, wj, nj, xj) =>
      (p, wj, nj, xj, 1000L * xj / nj, z2Milli, tCross.signum.toLong)
    }.toDF("priority", "w", "n", "x", "rate_pm", "z2_milli", "trend")
      .orderBy(col("priority"))
  }

  /** q322: SPEARMAN RANK CORRELATION (daily volume vs daily revenue)
    * — are busier order days also higher-revenue days MONOTONICALLY?
    * Tie-averaged ranks via the q319 doubled-rank construction on
    * each variable's own value grid, then the signed squared
    * correlation in ppm via ONE cross-multiplied floor (the q307
    * sign·square integerization — no square root crosses the
    * engines): ρ²_ppm = sign(cov)·10⁶·(nΣdxdy − ΣdxΣdy)² /
    * ((nΣdx²−(Σdx)²)(nΣdy²−(Σdy)²)). Kendall (q273) counts pair
    * inversions between two SERIES; Spearman here rank-correlates
    * two MEASURES of the same day — robust to the heavy right tail
    * that would dominate a Pearson fit. Constant series report NULL
    * via div-NULL on both engines.
    *
    * Shape at 100 TB: one orders scan → calendar-bounded day grid →
    * driver BigInt fold (the q308 discipline); revenue integerized to
    * cents at the scan so the grid is exact. */
  def spearmanDaily(spark: SparkSession, d: String): DataFrame = {
    val days = Tables.orders(spark, d)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val n = BigInt(days.length)
    // doubled tie-averaged ranks per variable
    def dranks(vs: Array[Long]): Array[BigInt] = {
      val byV = vs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      var cum = 0L
      val dr = scala.collection.mutable.Map.empty[Long, BigInt]
      byV.keys.toSeq.sorted.foreach { v =>
        val t = byV(v)
        dr(v) = BigInt(2 * cum + t + 1)
        cum += t
      }
      vs.map(dr)
    }
    val dx = dranks(days.map(_._1))
    val dy = dranks(days.map(_._2))
    val sx = dx.sum; val sy = dy.sum
    val sxy = dx.zip(dy).map { case (a, b) => a * b }.sum
    val sxx = dx.map(a => a * a).sum
    val syy = dy.map(a => a * a).sum
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    val rho2 = if (vx > 0 && vy > 0)
      Some((BigInt(cov.signum) * (BigInt(1000000) * cov * cov / (vx * vy))).toLong)
    else None
    import spark.implicits._
    Seq((n.toLong, cov.signum.toLong, rho2))
      .toDF("n_days", "direction", "rho2_ppm")
  }

  /** q324: SUPPLY-CONCENTRATION HHI — per nation, the Herfindahl–
    * Hirschman index of supplier revenue shares in ppm (Σ s_i² —
    * 10⁶ = monopoly, 10⁶/k = k equal suppliers), the top supplier's
    * share, and the equivalent-supplier count 10⁶ div HHI (the
    * "effective number of suppliers", the concentration dual of
    * q287's effective mixture size). One cross-multiplied floor:
    * HHI_ppm = 10⁶·Σr_i² div (Σr_i)² in DECIMAL(38,0)/HUGEINT —
    * revenue integerized to cents at the scan. q232 measures
    * inequality of DOCUMENT lengths (Gini); this is the
    * antitrust-standard concentration index on the supply graph —
    * the single-source-risk audit a procurement pipeline runs.
    *
    * Shape at 100 TB: one fact scan → (nation, supplier) hash-agg →
    * nation rollup; the supplier dimension join broadcasts. No
    * window, no second fact pass. */
  def supplyHhi(spark: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(spark, d)
      .join(broadcast(Tables.supplier(spark, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("r"))
    rev.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("r")).as("total_cents"),
        sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("rr"),
        max(col("r")).as("top_cents"))
      .join(broadcast(Tables.nation(spark, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        col("total_cents"),
        expr("""CAST((1000000 * rr) div
               (CAST(total_cents AS DECIMAL(38,0)) * total_cents) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("hhi_ppm"),
        // DECIMAL(38,0) like hhi_ppm in the same select: raw-Long
        // 10⁶·top_cents would silently wrap past ~9e12 supplier
        // cents while the oracle's HUGEINT raises — asymmetric.
        expr("CAST((1000000 * CAST(top_cents AS DECIMAL(38,0)))" +
          " div total_cents AS BIGINT)").as("top_share_ppm"))
      .withColumn("effective_suppliers_milli",
        expr("CASE WHEN hhi_ppm > 0 THEN (1000000000 div hhi_ppm) END"))
      .orderBy(col("nation"))
  }

  /** q328: CRAMÉR'S V MATRIX — the pairwise association strength
    * between ALL categorical dimensions of the order fact (priority,
    * return flag, market segment, line status) in one audit: per
    * column pair the
    * contingency r×c, the q304 per-cell-floored χ² in milli, and the
    * bias-free strength V² = χ²/(N·(min(r,c)−1)) in ppm. This is the
    * categorical correlation matrix a feature auditor reads before
    * one-hot encoding (the reference one-hots exactly these
    * alphabet-bounded columns — pb_etl/tasks.py:244-258): V² ≈ 0
    * columns are independent signals, V² near 10⁶ means one column is
    * a function of the other and its encoding is redundant.
    *
    * Shape at 100 TB: ONE fact scan → the 4-D categorical cube
    * (alphabet-bounded, ≤ 5·2·5·2 cells; the segment dimension joins
    * broadcast through orders); every pairwise margin,
    * total, and χ² folds from the cube grid on the driver in exact
    * BigInt (the q308 bounded-collect discipline) — 6 pairwise
    * audits for one scan, never 6. */
  def cramersVMatrix(spark: SparkSession, d: String): DataFrame = {
    val cells = linesWithOrder(spark, d, "o_custkey", "o_orderpriority")
      .join(Tables.customer(spark, d)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority").as("priority"),
        col("l_returnflag").as("returnflag"),
        col("c_mktsegment").as("segment"),
        col("l_linestatus").as("linestatus"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (Map(
        "priority" -> r.getString(0), "returnflag" -> r.getString(1),
        "segment" -> r.getString(2), "linestatus" -> r.getString(3)),
        r.getLong(4)))
    val colsOrder = Seq("priority", "returnflag", "segment", "linestatus")
    val pairs = for {
      i <- colsOrder.indices; j <- colsOrder.indices if i < j
    } yield (colsOrder(i), colsOrder(j))
    val rows = pairs.map { case (ca, cb) =>
      val g = cells.groupBy(t => (t._1(ca), t._1(cb))).view
        .mapValues(_.map(_._2).sum).toMap
      val rm = g.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val cm = g.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
      val n = BigInt(g.values.sum)
      val chi2 = g.map { case ((va, vb), o) =>
        val dev = n * o - BigInt(rm(va)) * cm(vb)
        BigInt(1000) * dev * dev / (n * rm(va) * cm(vb))
      }.sum
      val minDim = BigInt(math.min(rm.size, cm.size) - 1)
      val v2 = if (minDim > 0) Some((BigInt(1000) * chi2 / (n * minDim)).toLong)
        else None
      (ca, cb, rm.size.toLong, cm.size.toLong, n.toLong, chi2.toLong, v2)
    }
    import spark.implicits._
    rows.toDF("col_a", "col_b", "r", "c", "n", "chi2_milli", "v2_ppm")
      .orderBy(col("col_a"), col("col_b"))
  }

  /** q329 liveness window width (ns) — 10 minutes. */
  val LivenessWinNs = 600L * 1000000000L

  /** q329: FEED-LIVENESS AUDIT — what a per-window volume monitor
    * (q305's family) cannot see: a completely dead feed emits NO
    * rows, so deadness is only detectable by joining observed windows
    * against the EXPECTED window spine. Build the full (event_type × 10-minute
    * window) grid over the observed time range, left-join the
    * observed counts, and report per type the dead-window count,
    * dead share, and the LONGEST dead streak (gaps-and-islands via
    * the win − row_number constancy trick, q325's construction).
    * longest_dead_streak × 10 min is the worst undetected outage the
    * stream monitor would have paged zero times for.
    *
    * Shape at 100 TB: one events scan → (type, window) hash-agg; the
    * spine is |types| × calendar-bounded windows (a one-row min/max
    * scalar broadcast + sequence explode — never a second fact
    * scan); streak windows partition by event_type. */
  def feedLiveness(spark: SparkSession, d: String): DataFrame = {
    val ev = eventsNs(spark, d)
      .select(col("event_type"), expr(s"ts div $LivenessWinNs").as("win"))
    val counts = ev.groupBy(col("event_type"), col("win"))
      .agg(count(lit(1)).as("n"))
    val range = ev.agg(min(col("win")).as("mn"), max(col("win")).as("mx"))
    val spine = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(expr("sequence(mn, mx)")).as("win"))
    val grid = spine.join(counts, Seq("event_type", "win"), "left")
      .withColumn("dead", col("n").isNull.cast("long"))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("win"))
    val streaks = grid.filter(col("dead") === 1L)
      .withColumn("grp", col("win") - row_number().over(wt))
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("event_type"))
      .agg(max(col("len")).as("longest_dead_streak"))
    grid.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum(lit(1L) - col("dead")).as("n_live"),
        sum(col("dead")).as("n_dead"))
      .join(streaks, Seq("event_type"), "left")
      .select(col("event_type"), col("n_windows"), col("n_live"),
        col("n_dead"),
        expr("(1000 * n_dead) div n_windows").as("dead_share_pm"),
        coalesce(col("longest_dead_streak"), lit(0L))
          .as("longest_dead_streak"))
      .orderBy(col("event_type"))
  }

  /** q330 exposure cut: a line item ordering at least this many units
    * counts as a HIGH-quantity exposure. */
  val MhQtyCut = 25L

  /** q330: MANTEL–HAENSZEL STRATIFIED ODDS RATIO — does HIGH-quantity
    * ordering associate with returns AFTER controlling for priority?
    * Per stratum (priority) the 2×2 [high/low × returned/kept], the
    * per-stratum odds ratio, then the MH pooled estimate OR_MH =
    * Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) and the CMH χ²(1df) with the q308
    * hypergeometric moments — every per-stratum term FLOORED to micro
    * units (the statistic is DEFINED as this integerization; both
    * engines replay each floor). The confounding-proof version of a
    * naive 2×2: if priority drives both quantity and returns, the
    * crude OR lies and MH doesn't — the warehouse twin of the
    * epidemiologist's adjusted risk audit. Degenerate strata
    * contribute their floors; all-degenerate tables report NULL
    * via div-NULL on both engines.
    *
    * Shape at 100 TB: one fact scan → 5-row priority hash-agg →
    * grid-bounded arithmetic (scalar broadcast of the 1-row pooled
    * sums back onto the stratum rows). The CMH square runs in
    * DECIMAL(38,0)/HUGEINT; the variance product caps exact oracle
    * replay near SF100. */
  def mantelHaenszel(spark: SparkSession, d: String): DataFrame = {
    val s = linesWithOrder(spark, d, "o_orderpriority")
      .select(col("o_orderpriority").as("priority"),
        (col("l_quantity") >= MhQtyCut).cast("long").as("hi"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
      .groupBy(col("priority"))
      .agg(sum(expr("hi * ret")).as("a"),
        sum(expr("hi * (1 - ret)")).as("b"),
        sum(expr("(1 - hi) * ret")).as("cc"),
        sum(expr("(1 - hi) * (1 - ret)")).as("dd"))
      .withColumn("n", expr("a + b + cc + dd"))
      .withColumn("num_micro", expr(
        "(1000000 * CAST(a AS DECIMAL(38,0)) * dd) div n"))
      .withColumn("den_micro", expr(
        "(1000000 * CAST(b AS DECIMAL(38,0)) * cc) div n"))
      .withColumn("e_micro", expr(
        "(1000000 * CAST(a + b AS DECIMAL(38,0)) * (a + cc)) div n"))
      .withColumn("v_micro", expr(
        """CAST((1000000 * CAST(a + b AS DECIMAL(38,0)) * (cc + dd)
               * (a + cc) * (b + dd))
           div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS DECIMAL(38,0))"""
          .stripMargin.replace("\n", " ")))
    val g = s.agg(sum(col("a")).as("sa"), sum(col("num_micro")).as("sn"),
      sum(col("den_micro")).as("sd"), sum(col("e_micro")).as("se"),
      sum(col("v_micro")).as("sv"))
    s.crossJoin(broadcast(g))
      .select(col("priority"), col("a"), col("b"), col("cc").as("c"),
        col("dd").as("d"),
        expr("CASE WHEN b * cc > 0 THEN" +
          " (1000 * CAST(a AS DECIMAL(38,0)) * dd)" +
          " div (CAST(b AS DECIMAL(38,0)) * cc) END")
          .cast("long").as("or_stratum_milli"),
        expr("CASE WHEN sd > 0 THEN CAST((1000 * sn) div sd AS BIGINT) END")
          .as("or_mh_milli"),
        expr("""CASE WHEN sv > 0 THEN
             CAST((1000 * (1000000 * CAST(sa AS DECIMAL(38,0)) - se)
                  * (1000000 * CAST(sa AS DECIMAL(38,0)) - se))
               div (1000000 * sv) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("cmh_milli"),
        expr("CAST(sign(1000000 * CAST(sa AS DECIMAL(38,0)) - se) AS BIGINT)")
          .as("direction"))
      .orderBy(col("priority"))
  }

  /** q331: EXACT SKEWNESS / KURTOSIS of fulfillment lag per priority —
    * the 3rd/4th-moment profile q91 stops short of. Central power
    * sums from raw power sums (A₂ = nΣx²−S², A₃ = n²Σx³−3nSΣx²+2S³,
    * A₄ = n³Σx⁴−4n²SΣx³+6nS²Σx²−3S⁴ — each EXACTLY n^k·Σ(x−μ)^k in
    * integers), then the signed squared skewness b₁ = A₃²/A₂³ in
    * milli via the magnitude-safe two-floor chain (a₃ = A₃ div n,
    * a₂ = A₂ div n, then 1000·(a₃² div n) div a₂³ — keeps every
    * intermediate under DECIMAL(38,0) where the raw square would
    * overflow at bench SFs) and kurtosis A₄/A₂² in milli (3000 =
    * mesokurtic). Right-skewed, heavy-tailed lag distributions are
    * the SLA-planning reality a variance-only profile (q91/q294)
    * hides. Degenerate (constant-lag) groups report NULLs via
    * div-NULL on both engines.
    *
    * Shape at 100 TB: one fact scan → 5-row hash-agg of four power
    * sums in DECIMAL(38,0); everything after is row-local arithmetic
    * on 5 rows. */
  def lagMoments(spark: SparkSession, d: String): DataFrame =
    linesWithOrder(spark, d, "o_orderpriority", "o_orderdate")
      .select(col("o_orderpriority").as("priority"),
        shipLagDays.as("x"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("p2"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("p3"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("p4"))
      .withColumn("a2", expr("n * p2 - CAST(s AS DECIMAL(38,0)) * s"))
      .withColumn("a3", expr(
        "CAST(n AS DECIMAL(38,0)) * n * p3" +
          " - 3 * CAST(n AS DECIMAL(38,0)) * s * p2" +
          " + 2 * CAST(s AS DECIMAL(38,0)) * s * s"))
      .withColumn("a4", expr(
        "CAST(n AS DECIMAL(38,0)) * n * n * p4" +
          " - 4 * CAST(n AS DECIMAL(38,0)) * n * s * p3" +
          " + 6 * CAST(n AS DECIMAL(38,0)) * s * s * p2" +
          " - 3 * CAST(s AS DECIMAL(38,0)) * s * s * s"))
      .select(col("priority"), col("n"),
        expr("(1000 * s) div n").as("mean_milli"),
        expr("CASE WHEN n > 0 THEN CAST((1000 * a2) div" +
          " (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) END").as("var_milli"),
        // ratio-first two-floor chain: r = 10⁶·|A₃|/A₂ (Long-sized),
        // then b₁_milli = r²/(10⁹·A₂) — every intermediate fits
        // DECIMAL(38,0)/HUGEINT where the raw A₃² square would not;
        // integer CASE sign (never sign()-on-decimal, which detours
        // through DOUBLE)
        expr("""CASE WHEN a2 > 0 THEN CAST(
               (CASE WHEN a3 < 0 THEN -1 ELSE 1 END) *
               ((CAST((1000000 * abs(a3)) div a2 AS DECIMAL(38,0))
                 * ((1000000 * abs(a3)) div a2))
                div (1000000000 * a2))
             AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("skew2_milli"),
        // kurtosis via the same ratio-first two-floor discipline:
        // q = A₄ div A₂ (Long-sized ~5e17 at SF10 where 1000·A₄
        // would silently NULL past DECIMAL(38,0)), then
        // 1000·q div A₂ in DECIMAL. Two floors diverge from the
        // single floor only within 1000/A₂ ≈ 1e-14 milli of an
        // integer boundary, and the oracle runs the IDENTICAL
        // chain, so cross-engine equality is exact. SF ceiling
        // ~SF60: A₄ ≈ n⁴·m₄ itself crosses 38 digits near
        // per-priority n ≈ 4e7 — documented like q302/q346.
        expr("CASE WHEN a2 > 0 THEN CAST((1000 *" +
          " CAST(a4 div a2 AS DECIMAL(38,0))) div a2" +
          " AS BIGINT) END").as("kurt_milli"))
      .orderBy(col("priority"))

  /** q340: REVENUE CONCENTRATION (Lorenz points) — per market
    * segment, rank customers by lifetime revenue into within-segment
    * deciles and report each decile's customer count, revenue mass,
    * share, and the cumulative share from the top — the top-decile
    * concentration read ("the top 10% of customers carry X% of
    * revenue") that HHI (q324, supplier side) and Gini (q232,
    * document lengths) don't give at the customer grain. Decile cuts
    * are ntile over (revenue DESC, custkey) — the deterministic
    * tie-break makes the cut exact and oracle-replayable.
    *
    * Shape at 100 TB: one orders scan → customer hash-agg; BOTH
    * windows (ntile, cumulative) partition by segment — never global
    * (the q73 lesson); output is the fixed 5×10 grid. */
  def revenueConcentration(spark: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .join(Tables.customer(spark, d)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val wRank = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents").desc, col("o_custkey"))
    val deciles = cust
      .withColumn("decile", ntile(10).over(wRank).cast("long"))
      .groupBy(col("c_mktsegment").as("segment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    val wCum = Window.partitionBy(col("segment")).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col("segment"))
    deciles
      .withColumn("cum_cents", sum(col("cents")).over(wCum))
      .withColumn("total_cents", sum(col("cents")).over(wTot))
      .select(col("segment"), col("decile"), col("n_customers"),
        col("cents"),
        expr("(1000 * cents) div total_cents").as("share_pm"),
        expr("(1000 * cum_cents) div total_cents").as("cum_share_pm"))
      .orderBy(col("segment"), col("decile"))
  }

  /** q341: DIFFERENCE-IN-DIFFERENCES — the causal-inference primitive
    * the test battery lacked: did urgent-priority line items' return
    * rate move DIFFERENTLY across the PeriodSplitDate break than the
    * rest's? DiD = (p₁₁ − p₁₀) − (p₀₁ − p₀₀) in exact ppm floors per
    * cell, with the linear-probability-model standard error
    * Var = Σ p̂ᵢ(1−p̂ᵢ)/nᵢ over the four cells (each cell's term one
    * micro-floored cross-multiply: 10¹²·x(n−x)/n³) and z² in milli.
    * q315 tests ONE group's drift; DiD nets out the common shock —
    * the difference between "returns rose" and "returns rose MORE
    * for urgent orders", which is the policy-relevant number.
    * Degenerate cells report NULL via div-NULL on both engines.
    *
    * Shape at 100 TB: one fact scan → the 2×2 (group, period) cell
    * grid → row-local arithmetic on 4 rows + a one-row scalar
    * broadcast back onto the cells. */
  def didReturns(spark: SparkSession, d: String): DataFrame = {
    val cells = linesWithOrder(spark, d, "o_orderpriority")
      .select(
        expr("CASE WHEN CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2" +
          " THEN 1L ELSE 0L END").as("grp"),
        expr(s"CASE WHEN l_shipdate < TIMESTAMP '$PeriodSplitDate'" +
          " THEN 0L ELSE 1L END").as("period"),
        expr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END").as("ret"))
      .groupBy(col("grp"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("ret")).as("x"))
      .withColumn("rate_ppm", expr("(1000000 * x) div n"))
      .withColumn("var_micro", expr(
        """CAST((1000000000000 * CAST(x AS DECIMAL(38,0)) * (n - x))
           div (CAST(n AS DECIMAL(38,0)) * n * n) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
    val g = cells.agg(
      sum(expr("CASE WHEN grp = 1 AND period = 1 THEN rate_ppm ELSE 0 END"))
        .as("p11"),
      sum(expr("CASE WHEN grp = 1 AND period = 0 THEN rate_ppm ELSE 0 END"))
        .as("p10"),
      sum(expr("CASE WHEN grp = 0 AND period = 1 THEN rate_ppm ELSE 0 END"))
        .as("p01"),
      sum(expr("CASE WHEN grp = 0 AND period = 0 THEN rate_ppm ELSE 0 END"))
        .as("p00"),
      sum(col("var_micro")).as("var_sum"),
      min(col("n")).as("min_cell"))
    cells.crossJoin(broadcast(g))
      .select(col("grp"), col("period"), col("n"), col("x"),
        col("rate_ppm"),
        expr("(p11 - p10) - (p01 - p00)").as("did_ppm"),
        expr("""CASE WHEN var_sum > 0 AND min_cell > 0 THEN
             CAST((1000 * CAST((p11 - p10) - (p01 - p00) AS DECIMAL(38,0))
                  * ((p11 - p10) - (p01 - p00)))
               div var_sum AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("z2_milli"))
      .orderBy(col("grp"), col("period"))
  }

  /** q342 design constants: two-sided α = 0.05 and 80% power — the
    * standard z quantiles in milli (1.960, 0.842), CONSTANTS of the
    * design, not data. */
  val PowerZAlphaMilli = 1960L
  val PowerZBetaMilli = 842L

  /** q342: EXPERIMENT SIZING (power analysis) — the PROSPECTIVE twin
    * of the whole retrospective battery: for every adjacent pair of
    * order priorities, the per-group sample size needed to detect
    * their OBSERVED return-rate difference at α = 0.05 two-sided with
    * 80% power: n = (z_α + z_β)² · (p₁(1−p₁) + p₂(1−p₂)) / (p₁−p₂)²
    * — one integer cross-multiply over ppm rates and milli z
    * constants (ceiling division: the reported n always suffices),
    * plus the feasibility verdict against the data actually on hand
    * (observed min(n₁,n₂) ≥ required ⇒ the battery's verdict on this
    * pair is POWERED; under it, a null result means nothing). No
    * distribution function crosses the engines — z values are fixed
    * design constants. Identical rates report NULL (no finite n
    * detects a zero difference).
    *
    * Shape at 100 TB: one fact scan → 5-row priority grid → 4
    * adjacent-pair rows of row-local arithmetic (a self-join on the
    * tiny grid). */
  def powerSampleSize(spark: SparkSession, d: String): DataFrame = {
    val g = linesWithOrder(spark, d, "o_orderpriority")
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
        .as("w"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END"))
          .as("x"))
      .withColumn("p_ppm", expr("(1000000 * x) div n"))
    val z2 = (PowerZAlphaMilli + PowerZBetaMilli) *
      (PowerZAlphaMilli + PowerZBetaMilli) // milli² = 10⁻⁶ units
    g.as("a").join(g.as("b"), expr("b.w = a.w + 1"))
      .select(col("a.w").as("w_lo"), col("b.w").as("w_hi"),
        col("a.n").as("n_lo"), col("b.n").as("n_hi"),
        col("a.p_ppm").as("p_lo_ppm"), col("b.p_ppm").as("p_hi_ppm"),
        expr("a.p_ppm - b.p_ppm").as("delta_ppm"),
        // n = z²·(v1+v2)/δ²: z² in 10⁻⁶, v in ppm·(1−ppm)=10⁻¹²-scaled
        // units, δ² in ppm² — the 10⁻⁶·10⁻¹²/10⁻¹² scales cancel to
        // 10⁻⁶, so divide by 10⁶ last; ceiling so n always suffices
        expr(s"""CASE WHEN a.p_ppm <> b.p_ppm THEN CAST(
             (CAST($z2 AS DECIMAL(38,0))
               * (CAST(a.p_ppm AS DECIMAL(38,0)) * (1000000 - a.p_ppm)
                  + CAST(b.p_ppm AS DECIMAL(38,0)) * (1000000 - b.p_ppm))
               + CAST(a.p_ppm - b.p_ppm AS DECIMAL(38,0))
                 * (a.p_ppm - b.p_ppm) * 1000000 - 1)
             div (CAST(a.p_ppm - b.p_ppm AS DECIMAL(38,0))
                  * (a.p_ppm - b.p_ppm) * 1000000) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("n_required"),
        expr("""CASE WHEN a.p_ppm <> b.p_ppm THEN
             CASE WHEN least(a.n, b.n) >= CAST(
               (CAST(""" + z2 + """ AS DECIMAL(38,0))
                 * (CAST(a.p_ppm AS DECIMAL(38,0)) * (1000000 - a.p_ppm)
                    + CAST(b.p_ppm AS DECIMAL(38,0)) * (1000000 - b.p_ppm))
                 + CAST(a.p_ppm - b.p_ppm AS DECIMAL(38,0))
                   * (a.p_ppm - b.p_ppm) * 1000000 - 1)
               div (CAST(a.p_ppm - b.p_ppm AS DECIMAL(38,0))
                    * (a.p_ppm - b.p_ppm) * 1000000) AS BIGINT)
             THEN 1L ELSE 0L END END"""
          .stripMargin.replace("\n", " ")).as("powered"))
      .orderBy(col("w_lo"))
  }

  /** q346: CRAMÉR–VON MISES two-sample test — per order priority, the
    * WHOLE-CDF discrepancy between returned and kept fulfillment-lag
    * distributions: T = Σ_v t_v·(m·C₁(v) − n·C₂(v))² / (N²·n·m) over
    * the pooled (priority, lag) grid (C = cumulative counts, t_v =
    * pooled mass at v, N = n+m), reported in milli via ONE
    * cross-multiplied floor. The rank-sum (q302) detects LOCATION
    * shift and KS (q219's statistic) the single worst CDF gap; CvM
    * integrates the gap over the whole distribution — the test that
    * fires when two samples differ in SHAPE (variance, tails) with
    * equal medians. Degenerate groups (either sample empty) report
    * NULL via div-NULL on both engines.
    *
    * Shape at 100 TB: one fact scan → (priority, lag) hash-agg; both
    * cumulatives are windows INSIDE priority partitions over the
    * value-bounded lag grid; the statistic is a 5-row rollup. The
    * ppm-scaled square caps exact HUGEINT replay near SF50 (the q302
    * ceiling argument). */
  def cvmLag(spark: SparkSession, d: String): DataFrame = {
    val h = linesWithOrder(spark, d, "o_orderpriority", "o_orderdate")
      .groupBy(col("o_orderpriority").as("priority"),
        shipLagDays.as("lag"))
      .agg(sum(expr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END"))
        .as("a"),
        sum(expr("CASE WHEN l_returnflag = 'R' THEN 0L ELSE 1L END"))
        .as("b"))
    val wCum = Window.partitionBy(col("priority")).orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("priority"))
    h.withColumn("c1", sum(col("a")).over(wCum))
      .withColumn("c2", sum(col("b")).over(wCum))
      .withColumn("n", sum(col("a")).over(wAll))
      .withColumn("m", sum(col("b")).over(wAll))
      .withColumn("term", expr(
        """CAST(a + b AS DECIMAL(38,0))
           * (CAST(m AS DECIMAL(38,0)) * c1 - CAST(n AS DECIMAL(38,0)) * c2)
           * (CAST(m AS DECIMAL(38,0)) * c1 - CAST(n AS DECIMAL(38,0)) * c2)"""
          .stripMargin.replace("\n", " ")))
      .groupBy(col("priority"))
      .agg(max(col("n")).as("n_ret"), max(col("m")).as("n_kept"),
        sum(col("term")).as("tsum"))
      .select(col("priority"), col("n_ret"), col("n_kept"),
        expr("""CASE WHEN n_ret > 0 AND n_kept > 0 THEN CAST(
             (1000 * tsum) div
             (CAST(n_ret + n_kept AS DECIMAL(38,0)) * (n_ret + n_kept)
              * n_ret * n_kept) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("cvm_milli"))
      .orderBy(col("priority"))
  }

  /** q343: LITTLE'S LAW AUDIT (L = λ·W) — the queueing identity every
    * operations dashboard should reconcile and almost none does: over
    * the observed calendar, the arrival rate λ (line items ordered
    * per day, milli), the mean time-in-system W (order → ship days,
    * milli), and the mean work-in-progress L (items ordered but not
    * yet shipped, averaged over the day grid, milli) — then the
    * consistency ratio 1000·L/(λ·W). Exactly 1000 only on a closed
    * window; the deviation MEASURES the boundary effect (items in
    * flight at the edges), so the ratio is the audit: a dashboard
    * whose backlog, throughput, and latency tiles disagree by more
    * than the edge mass has a definition bug. All three quantities
    * fold exactly from per-day order/ship counts.
    *
    * Shape at 100 TB: one fact scan → TWO calendar-bounded day grids
    * (ordered-count and shipped-count per day) → driver BigInt fold
    * over the merged grid (the q308 discipline — the running backlog
    * is a prefix sum over ≤ a few thousand days, never a global
    * window over rows). */
  def littleLawAudit(spark: SparkSession, d: String): DataFrame = {
    val li = linesWithOrder(spark, d, "o_orderdate")
      .select(
        expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
          .as("od"),
        expr("CAST(datediff(l_shipdate, DATE '1970-01-01') AS BIGINT)")
          .as("sd"))
    val grid = li.groupBy(col("od"), col("sd")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = grid.map(_._1).min
    val d1 = grid.flatMap(t => Seq(t._1, t._2)).max
    val days = d1 - d0 + 1
    val n = grid.map(_._3).sum
    val wSumDays = grid.map(t => BigInt(t._2 - t._1) * t._3).sum
    // backlog by sweep: arrivals at od, departures at sd (an item
    // ships on sd, so it is IN the system on every day in [od, sd))
    val delta = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    grid.foreach { case (od, sd, c) =>
      delta(od) += c
      delta(sd) -= c
    }
    var backlog = 0L
    var lSumItemDays = BigInt(0)
    (d0 to d1).foreach { day =>
      backlog += delta(day)
      lSumItemDays += backlog
    }
    val lambdaMilli = BigInt(1000) * n / days
    val wMilli = BigInt(1000) * wSumDays / n
    val lMilli = BigInt(1000) * lSumItemDays / days
    // ratio = 1000·L/(λ·W), both sides in milli → scale by 10⁶/10⁶
    val ratio = if (lambdaMilli > 0 && wMilli > 0)
      Some((BigInt(1000000) * lMilli / (lambdaMilli * wMilli)).toLong)
    else None
    import spark.implicits._
    Seq((days, n, lambdaMilli.toLong, wMilli.toLong, lMilli.toLong, ratio))
      .toDF("n_days", "n_items", "lambda_milli", "w_milli", "l_milli",
        "consistency_milli")
  }

  /** q339: SEMI-STRUCTURED SCHEMA DISCOVERY — enumerate the JSON keys
    * actually present in the events `props` payload, per event type:
    * presence counts and shares, and each type's key-set size. q87
    * extracts KNOWN paths through the variant type; this answers the
    * prior question — WHICH paths exist and how reliably — the
    * profiling step that decides a promotion-to-column list for an
    * ingest pipeline (a key present in ~100% of a type is a column;
    * a 1% key is a tail attribute left in the variant). Key
    * enumeration only (json_object_keys ↔ DuckDB json_keys): value
    * stringification never crosses the engines, so parity is exact.
    *
    * Shape at 100 TB: one events scan → per-row key explode (bounded
    * by payload key count) → (type, key) hash-agg; per-type totals
    * broadcast back onto the bounded key grid. */
  def propsSchema(spark: SparkSession, d: String): DataFrame = {
    val ev = eventsNs(spark, d).select(col("event_type"), col("props"))
    val keys = ev
      .select(col("event_type"),
        explode(expr("json_object_keys(props)")).as("key"))
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n_present"))
    val tot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    val wt = Window.partitionBy(col("event_type"))
    keys.join(broadcast(tot), Seq("event_type"))
      .withColumn("n_keys", count(lit(1)).over(wt))
      .select(col("event_type"), col("key"), col("n_present"),
        col("n_events"),
        expr("(1000 * n_present) div n_events").as("present_share_pm"),
        col("n_keys"))
      .orderBy(col("event_type"), col("key"))
  }

  /** q335: OUT-OF-ORDERNESS / WATERMARK-PLANNING AUDIT — how late do
    * events arrive relative to the stream's high-water mark, per
    * event type? Arrival order is the event_id sequence (the
    * generator's emission order); each event's lateness is
    * max(ts among strictly-earlier arrivals) − ts, floored at 0.
    * Reported per type: the late share, the worst lateness, and the
    * P99 WATERMARK — the smallest whole-minute delay that would have
    * admitted ≥ 99% of events (smallest bucket with 100·cum ≥ 99·n
    * over the minute-bucket histogram). This is the measurement a
    * streaming watermark delay should rest on: a watermark below P99
    * silently drops the tail, one far above it bloats state.
    *
    * Shape at 100 TB: one events scan → per-type running-max window
    * (keyed by event_type, never global) → minute-bucket histogram
    * (value-domain-bounded) → in-type cumulative windows on the
    * bucket grid. */
  def oooLateness(spark: SparkSession, d: String): DataFrame = {
    val wArr = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = eventsNs(spark, d)
      .select(col("event_type"), col("event_id"), col("ts"))
      .withColumn("hwm", max(col("ts")).over(wArr))
      .withColumn("late_ns",
        greatest(coalesce(col("hwm") - col("ts"), lit(0L)), lit(0L)))
      .withColumn("late_min", expr("late_ns div 60000000000"))
    val hist = late.groupBy(col("event_type"), col("late_min"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("late_min"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        sum(when(col("late_min") > 0L, col("c")).otherwise(0L))
          .as("n_late_1min"),
        max(col("late_min")).as("max_late_min"),
        min(when(expr("100 * cum >= 99 * n"), col("late_min")))
          .as("watermark_p99_min"))
      .select(col("event_type"), col("n_events"), col("n_late_1min"),
        expr("(1000 * n_late_1min) div n_events").as("late_share_pm"),
        col("max_late_min"), col("watermark_p99_min"))
      .orderBy(col("event_type"))
  }

  /** q332: WILCOXON SIGNED-RANK (repeat deceleration) — for every
    * customer with ≥ 3 orders, pair the FIRST repeat gap (order1→2)
    * against the SECOND (order2→3) and test whether repeat intervals
    * LENGTHEN — the paired test the unpaired battery (q302 MW-U)
    * cannot run, because the two gaps share the customer. Standard
    * treatment: zero differences drop, |diff| gets q319's doubled
    * tie-averaged ranks, W₂ = Σ ranks of positive diffs (doubled),
    * dev = W₂ − n(n+1)/2, tie-corrected z² in milli via ONE
    * cross-multiplied floor 12000·dev² / (2n(n+1)(2n+1) − Σ(t³−t)).
    * The one-row sign-test companion (1000·(n₊−n₋)²/(n₊+n₋)) reads
    * the direction alone. decel = sign(dev): positive means later
    * gaps rank longer — the cohort-level churn-onset signal q298's
    * latency histogram only describes.
    *
    * Shape at 100 TB: one orders scan → per-customer window (keyed,
    * never global) → 3-row conditional pivot per customer → the
    * calendar-bounded |diff|-day histogram → driver BigInt fold (the
    * q308 discipline). */
  def wilcoxonRepeat(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val hist = Tables.orders(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("o_custkey"))
      .agg(max(when(col("rn") === 1, col("o_orderdate"))).as("d1"),
        max(when(col("rn") === 2, col("o_orderdate"))).as("d2"),
        max(when(col("rn") === 3, col("o_orderdate"))).as("d3"))
      .filter(col("d3").isNotNull)
      .select(expr("CAST(datediff(d3, d2) - datediff(d2, d1) AS BIGINT)")
        .as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nZero = hist.collectFirst { case (0L, c) => c }.getOrElse(0L)
    val byAbs = hist.filter(_._1 != 0L).groupBy(t => math.abs(t._1))
      .view.mapValues { g =>
        (g.map(_._2).sum, g.collect { case (v, c) if v > 0 => c }.sum)
      }.toMap
    var cum = 0L
    var w2 = BigInt(0)
    var tie = BigInt(0)
    byAbs.keys.toSeq.sorted.foreach { v =>
      val (t, pos) = byAbs(v)
      val dr = 2 * cum + t + 1
      w2 += BigInt(pos) * dr
      tie += BigInt(t) * t * t - t
      cum += t
    }
    val n = BigInt(cum)
    val nPos = byAbs.values.map(_._2).sum
    val nNeg = cum - nPos
    val dev = w2 - n * (n + 1) / 2
    val den = BigInt(2) * n * (n + 1) * (2 * n + 1) - tie
    val z2 = if (den > 0 && n > 0)
      Some((BigInt(12000) * dev * dev / den).toLong) else None
    val signZ2 = if (cum > 0)
      Some((BigInt(1000) * (nPos - nNeg) * (nPos - nNeg) / cum).toLong)
    else None
    import spark.implicits._
    Seq((cum + nZero, nZero, nPos, nNeg, w2.toLong, dev.signum.toLong,
      z2, signZ2))
      .toDF("n_pairs", "n_zero", "n_pos", "n_neg", "w2", "decel",
        "z2_milli", "sign_z2_milli")
  }

  /** q333: FRIEDMAN TEST (day-of-week seasonality) — are the seven
    * weekdays exchangeable in daily order volume, BLOCKING on the
    * week? Each complete epoch-week is a block; within the block the
    * seven daily counts get q319's doubled tie-averaged ranks (rank()
    * gives 1 + #strictly-below, the block-and-value peer count gives
    * the tie size — dr = 2·(rank−1) + t + 1, all window arithmetic
    * inside 7-row blocks), and the tie-corrected statistic is
    * Q = (k−1)·Σ_j (R₂ⱼ − b(k+1))² / (Σ dr² − b·k·(k+1)²) in milli
    * via one cross-multiplied floor. Partial boundary weeks drop
    * (their missing days are structural zeros, not observations);
    * interior zero-order days COUNT as zeros via the spine. q319
    * compares independent groups; Friedman is its repeated-measures
    * twin — the test to run when every block sees every treatment,
    * which is exactly what weekly seasonality is. All-tied blocks
    * report NULL Q via div-NULL on both engines.
    *
    * Shape at 100 TB: one orders scan → calendar-bounded (week, dow)
    * grid; the spine is a one-row range scalar broadcast + sequence
    * explode; every window partitions by week (7-row partitions).
    * b and k are calendar constants — the statistic's size is
    * SF-invariant. */
  def friedmanDow(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.orders(spark, d)
      .select(expr("CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)")
        .as("day"))
      .groupBy(expr("day div 7").as("week"), expr("day % 7").as("dow"))
      .agg(count(lit(1)).as("n"))
    val range = counts.agg((min(col("week")) + 1).as("w0"),
      (max(col("week")) - 1).as("w1"))
    // Degenerate guard: a corpus spanning < 3 epoch-weeks has
    // w0 = min+1 > w1 = max-1, where Spark's sequence() would count
    // DOWN (phantom weeks) while DuckDB generate_series returns
    // empty. greatest() + the week <= w1 filter makes both empty.
    val spine = broadcast(range)
      .select(explode(expr("sequence(w0, greatest(w0, w1))")).as("week"),
        col("w1"))
      .filter(col("week") <= col("w1")).drop("w1")
      .crossJoin(spark.range(7).select(col("id").as("dow")))
    val grid = spine.join(counts, Seq("week", "dow"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wRank = Window.partitionBy(col("week"))
      .orderBy(col("n"))
    val wTie = Window.partitionBy(col("week"), col("n"))
    val ranked = grid
      .withColumn("rk", rank().over(wRank).cast("long"))
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("dr", expr("2 * (rk - 1) + t + 1"))
    val perDow = ranked.groupBy(col("dow"))
      .agg(count(lit(1)).as("b"), sum(col("dr")).as("rank_sum2"))
      .withColumn("num_j", expr(
        """CAST((rank_sum2 - b * 8) AS DECIMAL(38,0))
           * (rank_sum2 - b * 8)""".stripMargin.replace("\n", " ")))
    // the one-row global: Σ num_j over dows and the tie-corrected
    // denominator Σdr² − b·k·(k+1)² (b from any dow — all equal by
    // the complete-spine construction)
    val glob = perDow.agg(sum(col("num_j")).as("num"),
      max(col("b")).as("bb"))
      .crossJoin(broadcast(ranked.agg(
        sum(expr("CAST(dr AS DECIMAL(38,0)) * dr")).as("sdr2"))))
      .select(col("num"),
        expr("sdr2 - CAST(bb AS DECIMAL(38,0)) * 7 * 64").as("den"))
    perDow.crossJoin(broadcast(glob))
      .select(col("dow"), col("b"), col("rank_sum2"),
        expr("(500 * rank_sum2) div b").as("mean_rank_milli"),
        expr("CASE WHEN den > 0 THEN" +
          " CAST((1000 * 6 * num) div den AS BIGINT) END").as("q_milli"),
        lit(6L).as("df"))
      .orderBy(col("dow"))
  }

  /** q325: ORDER BURSTS (gaps-and-islands) — chain each customer's
    * consecutive orders ≤ BurstGapDays apart into purchasing bursts
    * and profile the burst-length distribution per market segment.
    * The classic islands construction: a window lag per customer
    * marks burst starts (first order, or gap > cut), a running sum of
    * starts numbers the islands, one hash-agg sizes them. q298
    * measures the first-repeat GAP; this segments the whole history
    * into momentum episodes — the session analog (q19/q69) on the
    * ORDERS relation, where multi-order bursts are the
    * cross-sell/campaign signal.
    *
    * Shape at 100 TB: both windows partition by o_custkey (never
    * global), then two keyed hash-aggs; the segment dimension join
    * broadcasts. Output is the (segment, burst_len) grid. */
  def orderBursts(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val bursts = Tables.orders(spark, d)
      .withColumn("gap",
        expr("CAST(datediff(o_orderdate, lag(o_orderdate, 1) OVER" +
          " (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))" +
          " AS BIGINT)"))
      .withColumn("start",
        when(col("gap").isNull || col("gap") > BurstGapDays, 1L).otherwise(0L))
      .withColumn("burst_id", sum(col("start")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey"), col("burst_id"))
      .agg(count(lit(1)).as("burst_len"))
    bursts
      .join(Tables.customer(spark, d)
          .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("burst_len"))
      .agg(count(lit(1)).as("n_bursts"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("segment"), col("burst_len"))
  }

  /** q347: REPEAT-PURCHASE DISCRETE HAZARD — every consecutive
    * inter-order gap per customer (q298 measures only the FIRST
    * repeat's median), bucketed to weeks, with the life-table hazard
    * h(w) = (1000·d(w)) div n_at_risk(w) in permille, where
    * n_at_risk(w) counts the gaps ≥ w weeks (still "open" entering
    * the bucket — the reverse-cumulative fold from the large end).
    * The discrete-time cousin of q223's Kaplan–Meier moved from the
    * user-lifetime clock to the PURCHASE-CYCLE clock: hazard-spike
    * weeks are where reorder campaigns act, and the flat tail is the
    * churn horizon q223 reads only in aggregate.
    *
    * Shape at 100 TB: the lag window partitions by o_custkey (never
    * global) → one week-bucket hash-agg → ≤|weeks|-row driver fold
    * (the q223/q308 calendar-bounded-fold discipline). */
  def repeatHazard(spark: SparkSession, d: String): DataFrame = {
    val grid = Tables.orders(spark, d)
      .withColumn("gap", expr(
        "CAST(datediff(o_orderdate, lag(o_orderdate, 1) OVER" +
          " (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))" +
          " AS BIGINT)"))
      .filter(col("gap").isNotNull)
      .groupBy(expr("gap div 7").as("wk")).agg(count(lit(1)).as("dd"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    var atRisk = 0L
    val rows = grid.map { case (wk, dd) =>
      atRisk += dd
      (wk, dd, atRisk, 1000L * dd / atRisk)
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("wk", "n_gaps", "at_risk", "hazard_pm")
      .orderBy(col("wk"))
  }

  /** q349: BENJAMINI–HOCHBERG FDR CONTROL over the per-nation
    * return-rate battery — the multiple-comparisons layer the ~60-test
    * statistical suite has been missing: running one test per nation
    * (25 hypotheses: does this nation's supplier return rate differ
    * from the rest of the world?) at α=5% each inflates the family
    * false-positive rate toward 1−0.95²⁵ ≈ 72%; BH's step-up rule
    * (reject the k smallest p-values where k = max{i : p_(i) ≤ αi/m})
    * controls the false DISCOVERY rate at α exactly, and is THE
    * standard correction a pipeline sweeping hundreds of
    * quality/drift tests per source must apply before alerting.
    *
    * Exactness: the per-nation 2×2 chi-square uses the margin
    * identity ad−bc = r·N − n·R (one signed product, squared), all in
    * DECIMAL-width integers; z = isqrt(10⁶·χ²_milli) via the exact
    * corrected isqrt (q157/q289 discipline); the normal tail becomes
    * a p-value in ppm through Abramowitz–Stegun 26.2.19 — a
    * POLYNOMIAL rational approximation (no exp/ln in any engine):
    * p = (1 + a₁z + a₂z² + a₃z³ + a₄z⁴)⁻⁴ two-sided, evaluated in
    * micro fixed-point with floored divisions both engines replay
    * digit-identically, z capped at 6 (beyond which p_ppm = 0
    * anyway). |ε| ≤ 2.5·10⁻⁴ vs the true normal — the approximation
    * IS the operator's definition, so cross-engine parity is exact
    * even where the textbook tail differs in the 4th decimal. The BH
    * step-up is pure integer cross-multiplication m·p ≤ α_ppm·i.
    * SF ceiling (q331 discipline): 1000·N·(rN−nR)² stays inside
    * DECIMAL(38,0)/HUGEINT to N ≈ 3·10⁷ lineitem rows (~SF5); past
    * that the χ² chain needs a rescale, documented not silent.
    *
    * Shape at 100 TB: ONE broadcast dim join (supplier) + one
    * 25-row hash-agg; everything after is a ≤|nations|-row driver
    * fold (the q223/q347 grid-bounded-fold discipline) — no second
    * corpus pass, no global window, no shuffle beyond the agg. */
  def fdrReturns(spark: SparkSession, d: String): DataFrame = {
    val rows = Tables.lineitem(spark, d)
      .join(broadcast(Tables.supplier(spark, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      .selectExpr("CAST(nk AS BIGINT) nk", "CAST(n AS BIGINT) n",
        "CAST(r AS BIGINT) r")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .sortBy(_._1)
    val nn = BigInt(rows.map(_._2).sum)
    val rr = BigInt(rows.map(_._3).sum)
    val m = rows.length.toLong
    def isqrtL(x: Long): Long = {
      var s = math.sqrt(x.toDouble).toLong
      while (s > 0 && s * s > x) s -= 1
      while ((s + 1) * (s + 1) <= x) s += 1
      s
    }
    val scored = rows.map { case (nk, n, r) =>
      val den = BigInt(n) * (nn - n) * rr * (nn - rr)
      val chi2m =
        if (den == 0) 0L
        else ((BigInt(1000) * nn * (BigInt(r) * nn - BigInt(n) * rr)
          .pow(2)) / den).toLong
      val zc = math.min(isqrtL(1000L * chi2m), 6000L)
      val t = 1000000L + 196854L * zc / 1000L + 115194L * zc * zc / 1000000L +
        344L * zc * zc * zc / 1000000000L +
        (BigInt(19527) * zc * zc * zc * zc / BigInt(1000000000000L)).toLong
      val pppm = (BigInt(10).pow(30) / BigInt(t).pow(4)).toLong
      (nk, n, r, chi2m, pppm)
    }
    val ranked = scored.sortBy(x => (x._5, x._1)).zipWithIndex
      .map { case ((nk, n, r, chi2m, p), idx) => (nk, n, r, chi2m, p, idx + 1L) }
    val kstar = ranked.collect {
      case (_, _, _, _, p, i) if BigInt(m) * p <= BigInt(50000) * i => i
    }.foldLeft(0L)(math.max)
    val out = ranked.map { case (nk, n, r, chi2m, p, i) =>
      (nk, n, r, chi2m, p, i, if (i <= kstar) 1L else 0L)
    }
    spark.createDataFrame(out.toSeq)
      .toDF("nationkey", "n_lines", "n_returns", "chi2_milli",
        "p_ppm", "p_rank", "bh_reject")
      .orderBy(col("nationkey"))
  }
}
