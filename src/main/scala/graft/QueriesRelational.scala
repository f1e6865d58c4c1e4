package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational surface: scans, joins, aggregations, windows, set
  * ops, dates, pivots — the SURVEY §2 P/J/A families and their
  * beyond-reference extensions.
  *
  * Split from the monolithic Queries object (round 12, pure motion —
  * `object Queries` mixes these traits in, so every `Queries.x` call
  * site and registry entry is unchanged). Helpers shared across the
  * cut are `private[graft]`. */
private[graft] trait QueriesRelational {
  import Tables._

  /** TPC-H Q1 shape: scan-side filter + partial/final hash aggregate.
    * Exercises A1/A2/A3-style global aggregation with grouping. */
  def pricingSummary(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + predicate — both must reach the parquet scan
    * (PushedFilters / ReadSchema). Raw column values: exact match. */
  def scanFilterProject(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_quantity") > 45 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** J1/J2 analog: left outer equi-join fact→dim on a single key.
    * customer is SF-proportional (0.15M rows per TPC-H SF — corpus
    * scale, not a fixed dimension), so the join is UNHINTED: AQE
    * broadcasts it while it fits and falls back to a shuffle join at
    * 100 TB, where a forced broadcast() would OOM the driver. */
  def joinOrdersCustomer(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .join(customer(spark, d),
        col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("o_orderkey"))

  /** J3 analog: join of two small dimensions — pure broadcast. */
  def joinNationRegion(spark: SparkSession, d: String): DataFrame =
    nation(spark, d)
      .join(broadcast(region(spark, d)),
        col("n_regionkey") === col("r_regionkey"), "left_outer")
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))

  /** A1 analog: per-column global max (partial+final, collects to 1 row).
    * Max of raw doubles is an exact data value — no rounding needed. */
  def globalMax(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d).agg(
      max(col("l_quantity")).as("max_qty"),
      max(col("l_extendedprice")).as("max_price"),
      max(col("l_discount")).as("max_disc"),
      max(col("l_tax")).as("max_tax"),
      max(col("l_orderkey")).as("max_orderkey"))

  /** A2 analog: global per-column non-null counts. */
  def globalCounts(spark: SparkSession, d: String): DataFrame =
    orders(spark, d).agg(
      count(lit(1)).as("n_rows"),
      count(col("o_custkey")).as("n_custkey"),
      count(col("o_totalprice")).as("n_totalprice"),
      countDistinct(col("o_custkey")).as("n_distinct_cust"))

  /** A3 analog: global means (the reference's deletion-rate report). */
  def globalMeans(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d).agg(
      round(avg(col("l_quantity")), 6).as("avg_qty"),
      round(avg(col("l_discount")), 6).as("avg_disc"),
      round(avg(col("l_extendedprice")), 4).as("avg_price"))

  /** A4 analog: distinct values of a categorical column (vocabulary). */
  def distinctValues(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** P3 analog (`the_norm`): divide columns by their global max. The
    * maxima are collected to the driver (provably 1 row) and re-enter
    * the plan as literals — the same shape as the reference's broadcast
    * of the 5-row max frame, and exactly how it scales: no second scan
    * join, just scalar arithmetic in codegen. */
  def normalizeByMax(spark: SparkSession, d: String): DataFrame = {
    val li = lineitem(spark, d)
    val r = li.agg(max(col("l_quantity")), max(col("l_extendedprice"))).head()
    val (maxQty, maxPrice) = (r.getDouble(0), r.getDouble(1))
    li.select(
      col("l_orderkey"), col("l_linenumber"),
      round(col("l_quantity") / lit(maxQty), 6).as("qty_norm"),
      round(col("l_extendedprice") / lit(maxPrice), 6).as("price_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Global sort + limit (top-k). TakeOrderedAndProject at scale — no
    * full sort materialization. */
  def topOrders(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** Window function: top-2 orders per customer by price (row_number). */
  def windowTopPerCustomer(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(spark, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Left-semi join: customers having at least one large order. */
  def semiJoinCustomers(spark: SparkSession, d: String): DataFrame =
    customer(spark, d)
      .join(orders(spark, d).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti join: customers with no orders at all. */
  def antiJoinCustomers(spark: SparkSession, d: String): DataFrame =
    customer(spark, d)
      .join(orders(spark, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Set op: distinct union of two key sets. */
  def unionHighValue(spark: SparkSession, d: String): DataFrame = {
    val a = orders(spark, d).filter(col("o_totalprice") > 450000.0)
      .select(col("o_custkey").as("custkey"))
    val b = customer(spark, d).filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey").as("custkey"))
    a.union(b).distinct().orderBy(col("custkey"))
  }

  /** Grouped aggregate + HAVING. */
  def groupHaving(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_spent"))
      .filter(col("n_orders") >= 3)
      .orderBy(col("o_custkey"))

  /** TPC-H Q3 shape: 3-way join + grouped revenue + top-k. customer
    * joins UNHINTED (SF-proportional — AQE broadcasts the filtered
    * segment while small, shuffles at 100 TB); orders⋈lineitem is the
    * dominant shuffle either way. */
  def shippingPriority(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .join(orders(spark, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, d).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)

  /** TPC-H Q5 shape: 5-way join through the dimension hierarchy.
    * nation/region (25/5 rows, fixed cardinality) keep explicit
    * broadcast hints; customer/supplier are SF-proportional and join
    * UNHINTED so AQE picks broadcast only while they genuinely fit. */
  def localSupplierVolume(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .join(orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(supplier(spark, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation(spark, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Event-time aggregation: per-type hourly counts and sums. `ts` is
    * epoch-nanos (see Tables.eventsNs); the hour bucket is computed by
    * integer division (`div`, not `/` — double division loses precision
    * above 2^53 ns) and emitted as a formatted string so both engines
    * hash identically. */
  def eventsHourly(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", timestamp_micros(expr("ts div 1000"))),
          "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"), col("hour"))

  /** The session gap: an event more than 30 minutes (in epoch-nanos)
    * after the user's previous one starts a new session. */
  private[graft] val SessionGapNs = 1800000000000L

  /** Per-user event order, (ts, event_id) — the session window. */
  private def userTimeline = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** q19's session rule over eventsNs rows: `prev_ns` (the user's
    * previous event) and `new_sess` = 1 on a user's first event or after
    * a gap > SessionGapNs, else 0. */
  private[graft] def sessionStarts(ev: DataFrame): DataFrame =
    ev.withColumn("prev_ns", lag(col("ts"), 1).over(userTimeline))
      .withColumn("new_sess",
        when(col("prev_ns").isNull || col("ts") - col("prev_ns") > SessionGapNs, 1L)
          .otherwise(0L))

  /** [[sessionStarts]] plus `sid`, the user's running session number
    * (1-based) — one user-keyed window pass for both. */
  private[graft] def sessionIds(ev: DataFrame): DataFrame =
    sessionStarts(ev).withColumn("sid", sum(col("new_sess"))
      .over(userTimeline.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Sessionization via window lag: a new session starts after a >30 min
    * gap per user. Gap arithmetic on integer epoch-nanos — exact, and
    * identical to the oracle's epoch_ns(). */
  def eventsSessionize(spark: SparkSession, d: String): DataFrame =
    sessionStarts(eventsNs(spark, d))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
      .orderBy(col("user_id"))

  /** q141: session-level event-type ASSOCIATION RULES — the
    * market-basket statistics (support, both-direction confidence,
    * lift) over q19's sessions: which event types co-occur in the same
    * user session beyond chance. q128 asks this of token bigrams; this
    * asks it of product events — the "users who X in a session also Y"
    * report, and (on a corpus pipeline) the co-occurring quality-signal
    * audit. All exact integer permille: lift > 1000 means positive
    * association.
    *
    * Shape: ONE user-keyed sort window (lag + running sum share it)
    * numbers sessions exactly as q19; a distinct to (user, session,
    * type); the pair join is keyed on (user, session) — within-session
    * fan-out is bounded by the type alphabet, so pair mass is ≤
    * |types|²/2 per session, not events². Type totals and the session
    * count re-enter as broadcasts (|types| rows + 1 row). DECIMAL(38)
    * guards the lift product at stream scale (n_both · n_sess
    * overflows Long at ~10⁹ sessions). */
  def sessionAssociations(spark: SparkSession, d: String): DataFrame = {
    val sess = sessionIds(eventsNs(spark, d))
      .select(col("user_id"), col("sid"), col("event_type")).distinct()
    val u = CacheScope.cached(sess)
    val tot = u.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sess"))
    val tc = u.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
    u.as("a")
      .join(u.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.sid") === col("b.sid") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 5)
      .join(broadcast(tc.toDF("type_a", "na")), "type_a")
      .join(broadcast(tc.toDF("type_b", "nb")), "type_b")
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_both"), col("na"), col("nb"),
        expr("(1000 * n_both) div na").as("conf_a_to_b_permille"),
        expr("(1000 * n_both) div nb").as("conf_b_to_a_permille"),
        expr("""(cast(1000 as decimal(38,0)) * n_both * n_sess)
                | div (cast(na as decimal(38,0)) * nb)"""
          .stripMargin.replace("\n", " ")).as("lift_permille"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Order count and total price (2 dp) — the measures of q34's
    * rollup and q70's grouping sets. */
  private def orderTotals: Seq[Column] =
    Seq(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))

  /** Hierarchical aggregate: ROLLUP(month, status) with subtotal and
    * grand-total rows disambiguated by grouping_id — one shuffle, all
    * grouping sets computed in the same hash aggregate. */
  def ordersRollup(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .rollup(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus"))
      .agg(grouping_id().cast("long").as("gid"), orderTotals: _*)
      .orderBy(col("gid"), col("month"), col("o_orderstatus"))

  /** Scalar string-function suite over the documents table: substring /
    * case / trim / replace / search — all codegen built-ins, exercised
    * for oracle-exact cross-engine semantics (1-based positions). */
  def textScalars(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(col("doc_id"),
        upper(substring(col("text"), 1, 20)).as("head20"),
        length(trim(col("text"))).cast("long").as("n_trim"),
        expr("replace(lang, 'e', 'E')").as("lang_x"),
        concat(col("source"), lit(":"), col("lang")).as("src_lang"),
        instr(col("text"), "the").cast("long").as("first_the"),
        expr("right(text, 10)").as("tail10"))
      .orderBy(col("doc_id"))

  /** Full outer join + null-side accounting: every order and every
    * customer represented, unmatched sides null-counted. */
  def fullOuterAccounting(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .join(customer(spark, d), col("o_custkey") === col("c_custkey"), "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders"),
        count(col("c_custkey")).as("n_cust_side"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_customers_no_orders"),
        round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total"))

  /** Sketch aggregates per event type: HyperLogLog++ distinct users and
    * a t-digest-style median (percentile_approx). Both are mergeable
    * partial aggregates — constant memory per partition, one shuffle of
    * sketch bytes, the only way distinct-count scales to 100 TB.
    * Approximate values can't hash-match another engine's sketch, so
    * the driver records a rows-only check; SketchSpec bounds the error
    * against exact answers (HLL++ rsd default 5%). */
  def eventSketches(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("median_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Canonical Count-Min parameters for q66 (width ⌈e/ε⌉ ≈ ε 0.27%,
    * depth 4 ⇒ δ = e⁻⁴ ≈ 1.8%) — shared with SketchSpec. */
  val CmsWidth = 1024
  val CmsDepth = 4

  /** Heavy-hitter users via a Count-Min sketch (graft_cms, q66): one
    * fixed-size counter matrix aggregated map-side and merged by
    * vector addition, then each candidate user probed against the
    * broadcast one-row sketch — the frequency analog of q37's HLL++.
    * At 100 TB the sketch build reads the stream once in constant
    * memory; candidates come from any cheap distinct pass (here the
    * same table; in production, yesterday's candidate list). Estimates
    * are one-sided (never undercount), so the threshold filter has no
    * false negatives — SketchSpec pins that plus the εN overcount
    * bound; approximate counts can't hash-match an exact oracle, so
    * the driver records a rows-only check (like q37). */
  def heavyUsers(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.CountMinAgg.{cms, cmsEstimate}
    val e = eventsNs(spark, d)
    val sk = e.agg(cms(col("user_id"), CmsWidth, CmsDepth).as("sk"))
    e.select(col("user_id")).distinct()
      .crossJoin(broadcast(sk))
      .select(col("user_id"),
        cmsEstimate(col("sk"), col("user_id"), CmsWidth, CmsDepth).as("est_n"))
      .filter(col("est_n") >= 75L)
      .orderBy(col("user_id"))
  }

  /** The exact twin of `eventSketches`: same grouping, exact
    * count/distinct/median — hash-checked against the oracle (the
    * sketch columns of q37 can only be rows-only + error-bounded).
    * Exact countDistinct and percentile shuffle all values per group —
    * correct, and exactly the cost the q37 sketches exist to avoid at
    * 100 TB; keeping both documents the trade. */
  def eventExactStats(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(expr("percentile(value, 0.5)"), 6).as("median_value"))
      .orderBy(col("event_type"))

  /** CUBE over (status, priority): all four grouping sets in one hash
    * aggregate, grouping_id disambiguating. */
  def ordersCube(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** Window frames: per-customer running order total (rows unbounded
    * preceding → current) and a 3-order moving average.
    *
    * Sliding-window float aggregation differs across engines at the
    * last ulp (incremental vs recompute accumulation), so the money
    * column is integerized to cents first: window sums are then exact
    * integers and the single final double division is identical
    * everywhere — the same discipline a production ledger would use. */
  def runningTotals(spark: SparkSession, d: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = byDate.rowsBetween(Window.unboundedPreceding, 0)
    val last3 = byDate.rowsBetween(-2, 0)
    orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("running_total", sum(col("cents")).over(run) / 100.0)
      .withColumn("s3", sum(col("cents")).over(last3))
      .withColumn("c3", count(lit(1)).over(last3))
      // half-up average-to-cents in exact integer arithmetic — engines
      // disagree on rounding binary-representation halves like .235
      .withColumn("avg3",
        expr("CAST((2 * s3 + c3) div (2 * c3) AS DOUBLE) / CAST(100 AS DOUBLE)"))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"), col("avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Date-part extraction and arithmetic over order dates. */
  def orderDateParts(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"),
        datediff(lit("1999-01-01").cast("date"), col("o_orderdate")).cast("long").as("days_to_1999"))
      .orderBy(col("o_orderkey"))

  /** Conditional aggregation (manual pivot): one row per month, order
    * counts and revenue split by status into columns — the reshaping
    * pattern behind `DataFrame.pivot`, expressed portably. */
  def ordersPivotByStatus(spark: SparkSession, d: String): DataFrame = {
    def cnt(s: String) = count(when(col("o_orderstatus") === s, 1)).as(s"n_$s")
    def rev(s: String) =
      round(sum(when(col("o_orderstatus") === s, col("o_totalprice")).otherwise(0.0)), 2)
        .as(s"rev_$s")
    orders(spark, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(cnt("F"), cnt("O"), cnt("P"), rev("F"), rev("O"), rev("P"))
      .orderBy(col("month"))
  }

  /** Monthly order rollup — date bucketing on the fact table. */
  def ordersByMonth(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("month"), col("o_orderstatus"))

  /** q69: sessionization via Spark's NATIVE session-window operator
    * (`session_window` — the one the streaming engine merges
    * incrementally), emitting per-session bounds rather than q19's
    * per-user counts. Session semantics: a new session starts when the
    * gap is >= 30 min (interval-overlap semantics: [t, t+gap) windows
    * merge only while they overlap); session end = last event + gap.
    * Bounds emitted as exact epoch-micros longs so the gaps-and-islands
    * oracle hash-matches. One shuffle on user_id. */
  def sessionWindows(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("mts"))
      .groupBy(col("user_id"), session_window(col("mts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))

  /** q70: explicit GROUPING SETS — (month), (status), and grand total,
    * a set NOT expressible as one rollup or cube (no (month, status)
    * row). All three sets compute in a single expand + hash aggregate:
    * one shuffle regardless of how many sets. */
  def ordersGroupingSets(spark: SparkSession, d: String): DataFrame = {
    val m = col("month")
    val s = col("o_orderstatus")
    orders(spark, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus"), col("o_totalprice"))
      .groupingSets(Seq(Seq(m), Seq(s), Seq()), m, s)
      .agg(grouping_id().cast("long").as("gid"), orderTotals: _*)
      .orderBy(col("gid"), col("month"), col("o_orderstatus"))
  }

  /** q71: correlated scalar subqueries — orders priced above 1.5× their
    * customer's average. Written as SQL so Catalyst's decorrelation is
    * what executes it (RewriteCorrelatedScalarSubquery turns both
    * subqueries into ONE aggregate + join — no per-row re-execution,
    * no nested loop; pinned in PlanSpec). The comparison runs in exact
    * integer cents so the boundary can't flip on last-ulp float
    * disagreement between engines. */
  def ordersAboveCustAvg(spark: SparkSession, d: String): DataFrame =
    sqlOn(orders(spark, d),
      """SELECT o_orderkey, o_custkey, o_totalprice, n_cust_orders,
        |  (sum_cents div n_cust_orders) AS avg_cents
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    (SELECT count(*) FROM __rel i
        |     WHERE i.o_custkey = o.o_custkey) AS n_cust_orders,
        |    (SELECT sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
        |     FROM __rel i
        |     WHERE i.o_custkey = o.o_custkey) AS sum_cents
        |  FROM __rel o) t
        |WHERE 2 * cents * n_cust_orders > 3 * sum_cents
        |ORDER BY o_orderkey""".stripMargin)

  /** Run SQL over ONE input relation without leaking session state:
    * the input registers under a unique per-call temp-view name,
    * `__rel` in the text is rewritten to it, and the view is dropped
    * immediately after analysis (spark.sql analyzes eagerly, so the
    * returned DataFrame's plan no longer needs the catalog entry).
    * Keeps query functions pure from the caller's perspective —
    * concurrent invocations over different data dirs can't race on a
    * shared view name. */
  private[graft] val sqlOnSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def sqlOn(rel: DataFrame, sqlText: String): DataFrame = {
    val spark = rel.sparkSession
    val name = s"graft_rel_${sqlOnSeq.incrementAndGet()}"
    rel.createOrReplaceTempView(name)
    try spark.sql(sqlText.replace("__rel", name))
    finally { spark.catalog.dropTempView(name); () }
  }

  /** q73: ranking-function suite over per-customer spend — ntile
    * deciles, percent_rank, and lead/lag neighbors under ONE global
    * total order (cents desc, custkey). Spend is summed in exact cents;
    * the only float outputs are single integer→double divisions,
    * identical IEEE ops cross-engine.
    *
    * DISTRIBUTED global ranking — the naive `Window.orderBy` with no
    * partition funnels every row through one partition's sort (the
    * `WindowExec: No Partition Defined` plan); at 100× that's ~150 M
    * per-customer rows in a single task. Instead, the classic two-pass
    * ranking: range-repartition on the sort key (partition-parallel
    * sort), per-partition LOCAL row_number via a pid-partitioned
    * window, then add per-partition offsets. The offset table is one
    * row per shuffle partition — bounded by cluster config, not data —
    * so the driver-side cumulative sum is a justified bounded collect
    * (same contract as IvfIndex's centroids). ntile/percent_rank are
    * then closed-form in (global rank, N), and lead/lag neighbors come
    * from a self-equi-join on rank±1 — scalable shuffles on the reduced
    * relation, no single-partition sort anywhere. Exactly the oracle's
    * ntile/percent_rank/lead/lag semantics (no ties: custkey is unique
    * in the key). */
  def customerDeciles(spark: SparkSession, d: String): DataFrame = {
    val spend = orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // cached across BOTH consumers (the offsets collect below and the
    // caller's terminal action, which the caller's scope encloses):
    // pid/lrk must be computed exactly once — a recompute could
    // re-plan the range exchange and assign different partition ids,
    // silently colliding ranks.
    val local = CacheScope.cached(
      spend.repartitionByRange(parts, col("cents").desc, col("o_custkey"))
        .withColumn("pid", spark_partition_id())
        .withColumn("lrk", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("cents").desc, col("o_custkey")))))
    // one bounded row per range partition: local counts → cumulative
    // offsets (driver-side cumsum over ≤`parts` rows, no global window)
    val counts = local.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .orderBy(col("pid")).collect().map(r => (r.getInt(0), r.getLong(1)))
    val n = counts.map(_._2).sum
    val offsets = {
      var acc = 0L
      counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
    }
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq).toDF("pid", "off"))
    val ranked = local.join(offDf, "pid")
      .withColumn("rk", (col("off") + col("lrk")).cast("long"))
    // ntile(10) in closed form: the first (n % 10) buckets carry
    // ceil(n/10) rows, the rest floor(n/10) — derived from rank alone
    val q = n / 10L
    val rem = n % 10L
    val cut = rem * (q + 1L)
    val decile =
      if (q == 0L) col("rk") // fewer rows than buckets: bucket = rank
      else when(col("rk") <= cut, expr(s"(rk - 1) div ${q + 1L} + 1"))
        .otherwise(expr(s"$rem + (rk - ${cut + 1L}) div $q + 1"))
    val byRank = ranked.select(col("rk"), col("cents"))
    ranked
      .withColumn("decile", decile.cast("long"))
      .withColumn("pct_rank",
        if (n > 1L) round((col("rk") - 1L).cast("double") / (n - 1L).toDouble, 6)
        else lit(0.0))
      .join(byRank.select((col("rk") - 1L).as("rk"), col("cents").as("next_cents")),
        Seq("rk"), "left")
      .join(byRank.select((col("rk") + 1L).as("rk"), col("cents").as("prev_cents")),
        Seq("rk"), "left")
      .select(col("o_custkey"), (col("cents") / 100.0).as("total_spent"),
        col("n_orders"), col("decile"), col("pct_rank"),
        (col("next_cents") / 100.0).as("next_spent"),
        (col("prev_cents") / 100.0).as("prev_spent"))
      .orderBy(col("o_custkey"))
  }

  /** q74: distinct-user reach from MERGEABLE persisted sketch partials —
    * the approximate sibling of q65's incremental view. Per (type, day)
    * HLL sketches (DataSketches `hll_sketch_agg`) are the persisted
    * partial state; refresh unions |state| sketch bytes per type
    * (`hll_union_agg`) without ever rescanning history — the only
    * distinct-count refresh that works at 100 TB (exact distinct
    * partials don't merge: distinct-of-day ≠ distinct-of-month).
    * `est_direct` recomputes the sketch in one pass; SketchSpec pins
    * merged ≡ direct exactly (register-wise max is associative) and
    * both within HLL error of exact. Approximate values can't
    * hash-match an exact oracle → rows-only, like q37/q66. */
  def userReachSketch(spark: SparkSession, d: String): DataFrame = {
    val e = eventsNs(spark, d)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("user_id"))
    val partials = e.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = partials.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val direct = e.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"))
    merged.join(direct, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("est_merged"), col("est_direct"))
      .orderBy(col("event_type"))
  }

  /** q75: SCD2 (slowly-changing-dimension) interval build — each
    * customer's orders become consecutive versions with
    * [valid_from, valid_to) bounds; the current version's valid_to is
    * null. One window pass (row_number + lead) on the natural key, one
    * shuffle — the standard warehouse pattern whose read-side partner
    * is the as-of join (q44/q67). */
  def scd2Customers(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), col("o_totalprice"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .withColumn("valid_to",
        date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd"))
      .select(col("o_custkey"), col("o_orderkey"), col("version"),
        col("valid_from"), col("valid_to"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** q76: TPC-H Q11 shape — per-part value filtered by a share-of-total
    * threshold computed in an UNCORRELATED scalar subquery (one extra
    * 1-row aggregate, broadcast into the predicate; no per-row
    * re-execution). Share boundary in exact integer cents so the
    * cut can't flip on float summation order. */
  def importantParts(spark: SparkSession, d: String): DataFrame =
    sqlOn(lineitem(spark, d),
      """SELECT l_partkey, n_items,
        |  CAST(part_cents AS DOUBLE) / 100.0 AS value
        |FROM (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS part_cents,
        |    count(*) AS n_items
        |  FROM __rel GROUP BY l_partkey) p
        |WHERE part_cents * 2000 >
        |  (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   FROM __rel)
        |ORDER BY l_partkey""".stripMargin)

  /** q77: semi-structured round trip — struct → JSON string
    * (`to_json`) → path extraction (`get_json_object`) and schema'd
    * parse (`from_json`). The oracle states the identity the round
    * trip must preserve (extracted values ≡ source columns) — the
    * cross-engine-portable way to pin JSON semantics without
    * comparing engine-specific serialization. All per-row codegen,
    * no shuffle. */
  def jsonRoundTrip(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("meta",
        to_json(struct(col("doc_id"), col("lang"), col("source"), col("n_chars"))))
      .select(col("doc_id"),
        get_json_object(col("meta"), "$.lang").as("j_lang"),
        get_json_object(col("meta"), "$.n_chars").cast("long").as("j_chars"),
        from_json(col("meta"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType))))
          .getField("source").as("j_source"))
      .orderBy(col("doc_id"))

  /** q87: the VARIANT semi-structured type (Spark 4) — parse_json into
    * an open-schema variant value, then typed path extraction with
    * `variant_get` (nested paths, absent path → null). Same identity-
    * oracle discipline as q77: extracted values must hand back the
    * source columns; the variant binary itself never leaves the plan.
    * Variant decode is columnar-friendly codegen — the modern scan
    * path for schema-drifting ingest (vs. re-parsing JSON strings per
    * field access). */
  def variantExtract(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("meta", to_json(struct(col("doc_id"), col("lang"),
        struct(col("source"), col("n_chars")).as("src"))))
      .withColumn("vr", parse_json(col("meta")))
      .select(col("doc_id"),
        expr("variant_get(vr, '$.lang', 'string')").as("v_lang"),
        expr("variant_get(vr, '$.src.n_chars', 'long')").as("v_chars"),
        expr("variant_get(vr, '$.src.source', 'string')").as("v_source"),
        expr("variant_get(vr, '$.missing', 'string')").as("v_missing"))
      .orderBy(col("doc_id"))

  /** q78: generator surface — posexplode (UDTF-style lateral view)
    * unnesting tokens WITH their position. Row amplification happens
    * after the filter is pushed to the scan; the generator runs inside
    * whole-stage codegen. */
  def tokenPositions(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy(col("doc_id"), col("pos"))

  /** q84: explicit set operators — INTERSECT and EXCEPT (both distinct
    * semantics; compiled to semi/anti joins over distinct inputs), the
    * two §2.6 set ops q12-q14 didn't surface directly. One output
    * relation, side-tagged. */
  def setOps(spark: SparkSession, d: String): DataFrame = {
    val highOrders = orders(spark, d).filter(col("o_totalprice") > 300000.0)
      .select(col("o_custkey").as("custkey"))
    val bigBal = customer(spark, d).filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey").as("custkey"))
    highOrders.intersect(bigBal).select(col("custkey"), lit("both").as("side"))
      .union(bigBal.except(highOrders)
        .select(col("custkey"), lit("balance_only").as("side")))
      .orderBy(col("side"), col("custkey"))
  }

  /** q85: string-transform suite — global regexp_replace, reverse,
    * lpad, split_part, and md5 content hashing (the content-address
    * every dedup/caching layer leans on). All per-row codegen; md5
    * bytes are identical across engines by definition. */
  def stringTransforms(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[0-9]+", "#"), 1, 40).as("masked40"),
        reverse(substring(col("text"), 1, 10)).as("rev10"),
        lpad(col("n_chars").cast("string"), 8, "0").as("padded"),
        substring_index(col("text"), " ", 1).as("first_word"),
        md5(col("text")).as("content_md5"))
      .orderBy(col("doc_id"))

  /** q86: value-window functions — first/last/nth over the full
    * partition frame plus cume_dist, per customer order history. Raw
    * data values only (no arithmetic) → exact cross-engine. */
  def windowValues(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** q91: second-moment statistics made EXACT cross-engine. Built-in
    * stddev/corr accumulate floats in engine-specific merge orders
    * (Welford partials) — last-ulp drift that can never hash-match. The
    * portable discipline: integerize to milli-units, compute the
    * moment NUMERATORS as exact integer sums (n·Σx² − (Σx)² etc. in
    * DECIMAL(38,0) ≡ DuckDB HUGEINT), and convert to double ONCE at the
    * end — both engines round the same exact integer to the same
    * double. Population variance and Pearson correlation of event
    * value vs user id, per type. One partial+final hash-agg. */
  def exactMoments(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .select(col("event_type"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("x"),
        col("user_id").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("syy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy"))
      .select(col("event_type"), col("n"), col("sx"),
        round(expr("""CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000.0"""), 6)
          .as("var_pop"),
        round(expr("""CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS DOUBLE)
                      / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
                           * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS DOUBLE))"""), 6)
          .as("corr_xy"))
      .orderBy(col("event_type"))

  /** q93: RECURSIVE CTE (Spark 4) — hierarchy rollup. Customers form a
    * synthetic decimal hierarchy (parent = key div 10, root 0); the
    * recursion walks each customer's ancestor chain (strictly
    * decreasing ⇒ terminates well under the recursion limit; Spark
    * requires UNION ALL recursion, which is exactly right for an
    * acyclic walk), then per-ancestor spend aggregates over the
    * closure — the org-tree rollup every warehouse needs and plain
    * SQL cannot express without recursion. Spend is summed in exact
    * cents before the single float division. */
  def hierarchyRollup(spark: SparkSession, d: String): DataFrame =
    sqlOn(orders(spark, d),
      """WITH RECURSIVE spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM __rel GROUP BY o_custkey),
        |anc AS (
        |  SELECT o_custkey AS custkey, o_custkey AS anc_key FROM spend
        |  UNION ALL
        |  SELECT custkey, anc_key div 10 AS anc_key FROM anc WHERE anc_key > 0)
        |SELECT anc_key AS group_key, count(*) AS n_desc,
        |  CAST(sum(s.cents) AS DOUBLE) / 100.0 AS total_spent
        |FROM anc a JOIN spend s ON s.o_custkey = a.custkey
        |GROUP BY anc_key
        |ORDER BY group_key""".stripMargin)

  /** q94: collation-aware grouping (Spark 4 collations) — a synthetic
    * mixed-case column grouped under UTF8_LCASE collation, so 'EN',
    * 'En', 'en' land in one group while countDistinct still sees the
    * raw variants. The emitted key is normalized via lower() because
    * WHICH case variant represents a collated group is unspecified —
    * the deterministic contract is the group MEMBERSHIP, and that is
    * what the lower()-grouped oracle replays. */
  def collationGroups(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("mixed",
        when(col("doc_id") % 3 === 0, upper(col("lang")))
          .when(col("doc_id") % 3 === 1, initcap(col("lang")))
          .otherwise(col("lang")))
      .groupBy(expr("collate(mixed, 'UTF8_LCASE')").as("k"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("mixed")).as("n_case_variants"))
      .select(lower(col("k")).as("lang_ci"), col("n_docs"), col("n_case_variants"))
      .orderBy(col("lang_ci"))

  /** q95: RANGE window frame — trailing-30-day spend per customer,
    * framed by VALUE distance (epoch-day ordering, RANGE 30 PRECEDING)
    * rather than row count: orders on the same day share a frame, and
    * gaps in the calendar shrink it — semantics ROWS frames (q40)
    * cannot express. Day arithmetic and cents sums are exact integers;
    * one float division at the end. */
  def rangeFrameSpend(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("spend_30d", sum(col("cents")).over(w))
      .withColumn("n_30d", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        (col("spend_30d") / 100.0).as("spend_30d"), col("n_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** q97: error-safe expressions under ANSI semantics — `try_divide` /
    * `try_cast` / `try_element_at` return null where strict ANSI
    * evaluation would abort the job (division by zero, bad cast,
    * out-of-bounds). The null-on-error contract is what lets a 100 TB
    * scan survive the one malformed row in shard 9,731; the oracle
    * states the same semantics with guards. */
  def safeArithmetic(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(col("doc_id"),
        expr("try_divide(n_chars, doc_id % 5)").as("div_maybe"),
        // every third row carries a parseable integer string so the
        // SUCCESS path of try_cast is exercised, not just the null
        // path (integer strings parse identically cross-engine; fixture
        // text never starts with a digit, so the other rows pin null)
        expr("""try_cast(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS STRING)
                ELSE substring(text, 1, 3) END AS BIGINT)""").as("cast_maybe"),
        // index 50 is in bounds for longer docs, out of bounds for
        // short ones — both halves of try_element_at pinned
        expr("try_element_at(split(text, ' '), 50)").as("elem_maybe"),
        expr("try_cast(lang AS BIGINT)").as("lang_num"))
      .orderBy(col("doc_id"))

  /** q98: URL parsing — host/path/query extraction with `parse_url`
    * over a deterministically synthesized URL column (the source-domain
    * extraction every crawl-reputation pass runs). The oracle rebuilds
    * the same parts from the construction, pinning Spark's parser to
    * the construction's semantics. */
  def urlParts(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.com/docs/"), col("lang"), lit("?id="), col("doc_id")))
      .select(col("doc_id"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'PROTOCOL')").as("protocol"))
      .orderBy(col("doc_id"))

  /** q100: calendar-spine gap fill — every (customer, month) between a
    * customer's first and last order, INCLUDING zero-order months: a
    * month spine from `sequence(first, last, interval 1 month)` +
    * explode, left-joined to actual monthly totals. The dense spine is
    * what makes month-over-month windows correct (a missing month must
    * read as 0, not silently skip); spine cardinality is bounded by
    * customers × active-month span, never by the fact table. */
  def monthlySpine(spark: SparkSession, d: String): DataFrame = {
    val o = orders(spark, d)
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val actual = o.groupBy(col("o_custkey"), col("m"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    val spine = o.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("o_custkey"),
        explode(sequence(col("m0"), col("m1"), expr("interval 1 month"))).as("m"))
    spine.join(actual, Seq("o_custkey", "m"), "left_outer")
      .select(col("o_custkey"), date_format(col("m"), "yyyy-MM").as("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        (coalesce(col("cents"), lit(0L)) / 100.0).as("total"))
      .orderBy(col("o_custkey"), col("month"))
  }

  /** q101: EXACT mergeable distinct-count via bitmap partials — the
    * exact sibling of q74's HLL sketches. User ids map to (bucket, bit)
    * positions; per (type, day, bucket) bitmaps OR-merge across days
    * (`bitmap_or_agg` is associative ⇒ persistable partial state, same IVM
    * shape as q65/q74), and `bitmap_count` + sum recovers the exact
    * distinct count. Unlike HLL this is error-free — the trade is
    * state size: bitmaps scale with the id UNIVERSE per bucket, the
    * reason both paths exist. The count is exact, so the oracle is a
    * plain COUNT(DISTINCT) — hash-green, unlike any sketch. */
  def bitmapDistinct(spark: SparkSession, d: String): DataFrame = {
    val e = eventsNs(spark, d)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        col("user_id"))
    val dayPartials = e
      .groupBy(col("event_type"), col("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    dayPartials
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** q102: XML parsing (built-in since Spark 4) — completes the
    * semi-structured trio (JSON q77, VARIANT q87): a deterministic XML
    * payload parsed back through `from_xml` with a declared schema,
    * identity oracle as with its siblings. */
  def xmlRoundTrip(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .withColumn("x", concat(lit("<doc><id>"), col("doc_id"),
        lit("</id><lang>"), col("lang"),
        lit("</lang><chars>"), col("n_chars"), lit("</chars></doc>")))
      .selectExpr("doc_id",
        "from_xml(x, 'id BIGINT, lang STRING, chars BIGINT') AS p")
      .select(col("doc_id"), col("p.id").as("x_id"),
        col("p.lang").as("x_lang"), col("p.chars").as("x_chars"))
      .orderBy(col("doc_id"))

  /** q103: equi-width histogram via `width_bucket` — the value
    * distribution pass behind any data-profiling dashboard: one
    * bucket-assignment expression (codegen) + one hash-agg; bucket
    * boundaries are pure arithmetic, identical cross-engine. */
  def valueHistogram(spark: SparkSession, d: String): DataFrame =
    eventsNs(spark, d)
      .select(col("event_type"),
        expr("width_bucket(value, 0.0, 100.0, 20)").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))

  /** q104: the dedicated `Dataset.unpivot` (melt) operator — q52's
    * wide→long reshaping through the first-class API instead of a
    * `stack` expression; same one-scan row amplification, same
    * profiler aggregation on top. */
  def unpivotMeasures(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "col_name", valueColumnName = "v")
      .groupBy(col("col_name"))
      // sum in exact integer cents (all four measures carry ≤2
      // decimals): float summation is addition-order dependent and a
      // parallel partial-agg order can drift across a rounding
      // boundary at scale — the q71/q91 discipline applies here too
      .agg(count(lit(1)).as("n"),
        (sum(round(col("v") * 100).cast("long")) / 100.0).as("sum_v"),
        round(min(col("v")), 2).as("min_v"),
        round(max(col("v")), 2).as("max_v"))
      .orderBy(col("col_name"))

  /** q105: ordered string aggregation — `listagg` (Spark 4) WITHIN
    * GROUP, the reporting-layer "join the group's values into one
    * cell" op. Deterministic because the ordering is part of the
    * aggregate; DuckDB's string_agg(… ORDER BY) states the same
    * contract. */
  def langRollup(spark: SparkSession, d: String): DataFrame =
    // DISTINCT happens in a subquery: listagg(DISTINCT …) WITHIN GROUP
    // trips an analyzer cast bug in Spark 4.1, and the pre-collapse is
    // the better plan anyway (the aggregate concatenates |langs| rows,
    // not |docs|)
    sqlOn(documents(spark, d),
      """SELECT source,
        |  listagg(lang, ',') WITHIN GROUP (ORDER BY lang) AS langs,
        |  count(*) AS n_langs
        |FROM (SELECT DISTINCT source, lang FROM __rel)
        |GROUP BY source ORDER BY source""".stripMargin)

  /** q92: LIMIT/OFFSET pagination — page 3 of the spend ranking
    * (rows 21-30). Offset composes with TakeOrderedAndProject: the
    * engine keeps offset+limit rows per partition, never a full sort
    * spill. */
  def pagedOrders(spark: SparkSession, d: String): DataFrame =
    orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(20)
      .limit(10)

  /** Column profiler (ANALYZE-style data quality pass) over lineitem's
    * numeric measures: one scan, `stack` unpivot, one hash-agg shuffle.
    * Every statistic is order-independent and exact (counts, exact
    * distinct, min/max) so the profile hash-matches any engine; the
    * one-pass approximate twin for 100 TB interactive profiling is the
    * sketch family (q37: HLL++ distinct, approx percentiles). The
    * unpivot amplifies rows 4× before the partial agg — the wide
    * alternative (one row of 4×5 aggregates, no amplification) trades
    * schema-as-data for throughput; this shape keeps the output
    * relational (a column catalog) which is what a profiler feeds. */
  def profileColumns(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .selectExpr(
        """stack(4,
          |  'l_quantity', l_quantity,
          |  'l_extendedprice', l_extendedprice,
          |  'l_discount', l_discount,
          |  'l_tax', l_tax) AS (col_name, v)""".stripMargin)
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("n_distinct"),
        round(min(col("v")), 2).as("min_v"),
        round(max(col("v")), 2).as("max_v"))
      .orderBy(col("col_name"))

  /** q124's strictly ordered stages: (v = per-user first view
    * `view_us`, c = the first click at or after it `click_us` keyed by
    * (user_id, view_us), the purchase rows at or after that click with
    * their `tus` and `click_us`). Micros, not nanos: the portable
    * cross-engine resolution (the oracle's TIMESTAMP reads at us
    * precision; same as the as-of family) — `div` keeps the floor
    * exact. */
  private[graft] def funnelStages(spark: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ev = eventsNs(spark, d).withColumn("tus", expr("ts div 1000"))
    def stage(tpe: String) = ev.filter(col("event_type") === tpe)
    val v = stage("view").groupBy(col("user_id")).agg(min(col("tus")).as("view_us"))
    val c = stage("click").join(v, "user_id")
      .filter(col("tus") >= col("view_us"))
      .groupBy(col("user_id"), col("view_us")).agg(min(col("tus")).as("click_us"))
    val pc = stage("purchase").join(c.select(col("user_id"), col("click_us")), "user_id")
      .filter(col("tus") >= col("click_us"))
    (v, c, pc)
  }

  /** q124: ordered funnel analysis (the MATCH_RECOGNIZE-class query a
    * product-analytics warehouse runs daily): per user, the first
    * `view`, the first `click` AT OR AFTER that view, and the first
    * `purchase` at or after that click — strictly ordered stages, so a
    * click before any view does not count. Stage = how far the user
    * got (1-3).
    *
    * Shape: three per-user hash-aggregations chained by equi-joins on
    * user_id — each stage aggregates only its own event type's rows
    * (filter pushed to the scan), and the per-user joins co-partition
    * on the same key, so AQE plans one shuffle per stage side and the
    * chain never re-scans events. Exact integer epoch-nanos throughout
    * (`min` on Long, no timestamp arithmetic). */
  def eventFunnel(spark: SparkSession, d: String): DataFrame = {
    val (v, c, pc) = funnelStages(spark, d)
    val p = pc.groupBy(col("user_id")).agg(min(col("tus")).as("purchase_us"))
    v.join(c.select(col("user_id"), col("click_us")), Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_us"), col("click_us"), col("purchase_us"),
        (lit(1L) + when(col("click_us").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_us").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  /** q125: cohort retention — users grouped by first-activity day, and
    * for each (cohort day, day offset) the count of cohort members
    * active on that offset. The standard warehouse retention triangle.
    *
    * Day indexes are exact integer `div` over epoch-nanos (identical
    * floors in both engines); the per-user cohort day is one hash-agg
    * re-joined on user_id; the triangle is one distinct + hash-agg over
    * (cohort, offset) — all linear, all shuffles keyed. */
  /** q130: event-transition matrix — the first-order Markov model of
    * user behavior (the "what happens after a click" table): per-user
    * event streams ordered by (ts, event_id), consecutive event-type
    * pairs counted, and each from-state's row normalized to exact
    * integer permille. One user-keyed window (`lead` — the shuffle is
    * the same user_id partitioning every product-analytics query here
    * shares), one pair hash-agg, and a |types|²-bounded join for the
    * row totals; at 100 TB only the window's user-keyed shuffle moves
    * corpus-sized data, and it co-partitions with q124/q125. */
  def eventTransitions(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = eventsNs(spark, d)
      .select(col("user_id"), col("event_type").as("from_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    val tot = t.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    t.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000 * n) div tot").as("permille"))
      .orderBy(col("from_type"), col("to_type"))
  }

  def cohortRetention(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val ev = eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q133: daily volume anomaly detection per event type — the ingest
    * monitor that pages when a day's count departs its type's history
    * by more than 3σ. The whole z-test is EXACT integer arithmetic:
    * with per-type day count D, total T and sum-of-squares S over the
    * per-(type, day) counts n, z² = (n·D − T)² / (D·S − T²) (both sides
    * scaled by D², population variance), so |z| > 3 is the integer
    * predicate (n·D − T)² > 9·(D·S − T²) — no sqrt, no division, no
    * float drift against the oracle. Emits every (type, day) with its
    * deviation, z² in milli-units (NULL when the type's variance is
    * zero), and the flag — the monitor's full dashboard, not just hits
    * (also keeps the relation non-empty on quiet corpora).
    *
    * Shape: one (type, day) hash-agg over the fact scan, a |types|-row
    * re-aggregate joined back by BROADCAST, row-local predicates. At
    * 100 TB the first agg's map-side partials collapse each (type, day)
    * before the only keyed shuffle; the products are Long-safe to
    * ~3·10⁹ events/day/type and would widen to DECIMAL(38) beyond. */
  def eventAnomalies(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    // cached: both the output rows and the |types|-row stats re-aggregate
    // consume it — one fact scan, not two (released when the caller's
    // scope ends)
    val cnt = CacheScope.cached(Tables.eventsNs(spark, d)
      .select(col("event_type"), expr(s"ts div $DayNs").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))
    val st = cnt.groupBy(col("event_type")).agg(
      count(lit(1)).as("days"), sum(col("n")).as("total"),
      sum(col("n") * col("n")).as("sumsq"))
    cnt.join(broadcast(st), "event_type")
      .withColumn("dev_scaled", expr("n * days - total"))
      .withColumn("var_scaled", expr("days * sumsq - total * total"))
      .select(col("event_type"), col("day"), col("n"), col("dev_scaled"),
        expr("CASE WHEN var_scaled > 0 THEN " +
          "(1000 * dev_scaled * dev_scaled) div var_scaled END").as("z2_milli"),
        expr("CASE WHEN var_scaled > 0 AND " +
          "dev_scaled * dev_scaled > 9 * var_scaled THEN 1 ELSE 0 END")
          .cast("long").as("flagged"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q164: time-DECAYED user engagement — each user's event value
    * mass, weighted by a halving-per-week recency decay anchored at
    * the stream's last day. The "how alive is this account" score
    * behind churn models, re-engagement targeting, and decay-weighted
    * LTV: yesterday's purchase counts full, last month's an eighth.
    *
    * Exact integer end-to-end: values enter as floor-CENTS (the q40
    * money discipline), the decay weight is 1000 div 2^age_weeks
    * permille (integer halving, 0 from week 10 — an exact exp(−λt)
    * stand-in that is engine-portable where exp/pow are not), so the
    * score is a Σ cents·permille Long. The anchor (max day) is a
    * one-row scalar broadcast (the q110 pattern).
    *
    * Shape: row-local day/age/weight arithmetic + ONE user-keyed
    * hash-agg with map-side partials — linear, no windows; the decay
    * needs no per-user sort because the weight is a function of the
    * EVENT's age alone, not of event order. */
  def decayedEngagement(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val ev = Tables.eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
    val anchor = ev.agg(max(col("day")).as("mxd"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("agew", expr("(mxd - day) div 7"))
      .withColumn("w_pm", expr(
        "CASE WHEN agew >= 10 THEN 0 " +
          "ELSE 1000 div shiftleft(1, CAST(agew AS INT)) END"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("cents") * col("w_pm")).as("score_cpm"),
        max(col("day")).as("last_day"))
      .select(col("user_id"), col("n_events"), col("raw_cents"),
        col("score_cpm"),
        expr("CASE WHEN raw_cents != 0 THEN (score_cpm) div raw_cents END")
          .as("freshness_pm"),
        col("last_day"))
      .orderBy(col("user_id"))
  }

  /** q168: per-user INTER-EVENT GAP distribution — exact integer order
    * statistics (min / lower-median / ceil-p90 / max / floor-mean of
    * whole-second gaps) over the time between a user's consecutive
    * events. The cadence profile an engagement or anomaly pipeline
    * keys on (q133 flags bursts; this gives each user's baseline).
    *
    * Exactness: gaps are the first differences of the user's SORTED
    * timestamp multiset — well-defined even under tied timestamps
    * (ties yield zero gaps regardless of tie order), so lag over
    * (user, ts) is deterministic in value. Order statistics are picked
    * by rank over (gap asc) — equal values make the pick
    * order-independent. median rank = (n+1) div 2 (lower median),
    * p90 rank = ceil(9n/10) = (9n+9) div 10; mean is integer floor.
    *
    * Shape: two user-keyed window passes (lag over ts; rank over gap)
    * + one user-keyed hash-agg — three shuffles on the same key, and
    * AQE coalesces the exchanges; no global sort, no driver state.
    * Per-user row counts bound every partition's window buffer. */
  def eventGaps(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.eventsNs(spark, d).select(col("user_id"), col("ts"))
    val wl = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gaps = ev
      .withColumn("prev", lag(col("ts"), 1).over(wl))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), expr("(ts - prev) div 1000000000").as("gap_s"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("gap_s"))
    gaps
      .withColumn("rn", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_gaps"),
        min(col("gap_s")).as("min_gap_s"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("gap_s")))
          .as("median_gap_s"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("gap_s")))
          .as("p90_gap_s"),
        max(col("gap_s")).as("max_gap_s"),
        sum(col("gap_s")).as("sum_gap_s"))
      .select(col("user_id"), col("n_gaps"), col("min_gap_s"),
        col("median_gap_s"), col("p90_gap_s"), col("max_gap_s"),
        expr("sum_gap_s div n_gaps").as("mean_gap_s"))
      .orderBy(col("user_id"))
  }

  /** q181: frequent SESSION PATHS — the top 20 three-step event-type
    * sequences users actually walk inside one q19 session, with both
    * raw occurrence counts and the number of distinct sessions
    * containing the path. This is sequence mining one level up from
    * q130's Markov transitions (which see only pairwise hops and
    * would hallucinate paths a second-order pattern forbids) — the
    * report UX/funnel owners read to find real multi-step behavior.
    *
    * Shape at 100 TB: session numbering and the two lookaheads share
    * ONE user-keyed shuffle (the lead window partitions by
    * (user, sid) — a refinement of the session window's partitioning,
    * so no second exchange); path counting is one hash-agg on the
    * (|types|³-bounded) path alphabet with map-side partials, and the
    * top-20 is TakeOrderedAndProject on that alphabet-bounded
    * relation. No corpus-wide sort anywhere. */
  def sessionPaths(spark: SparkSession, d: String): DataFrame = {
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    sessionIds(eventsNs(spark, d))
      .withColumn("t2", lead(col("event_type"), 1).over(ws))
      .withColumn("t3", lead(col("event_type"), 2).over(ws))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id"), col("sid")).as("n_sessions"))
      .orderBy(col("n_occurrences").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** q179: TPC-H Q17 shape — revenue locked in "small quantity"
    * orders: lineitems whose quantity is below 20% of their part's
    * average order quantity, reported as exact yearly cents (the Q17
    * `/ 7.0` as integer division). This is the per-group CORRELATED
    * threshold pattern (compare q76's global scalar subquery): the
    * row predicate references an aggregate of the row's own group.
    *
    * Shape at 100 TB: decorrelated the way Catalyst would — ONE
    * partkey-keyed aggregate of the fact table, joined back to the
    * fact on the same key (co-partitioned: AQE reuses the shuffle
    * layout), threshold as exact integer cents arithmetic (5·qc·cnt <
    * sq avoids division), then a global agg to one row. No windows,
    * no second fact scan beyond the join's own. */
  def smallQuantityRevenue(spark: SparkSession, d: String): DataFrame = {
    val li = lineitem(spark, d).select(col("l_partkey"),
      expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(col("qc")).as("sq"), count(lit(1)).as("cnt"))
    li.join(perPart, "l_partkey")
      .filter(expr("5 * qc * cnt < sq"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"),
        expr("sum(pc) div 7").as("yearly_cents"))
  }

  /** q175: conversion ATTRIBUTION — for every `purchase`, the
    * click/view touchpoints by the same user in the preceding 7 days
    * split the credit two ways: LAST-TOUCH (the whole conversion to
    * the most recent touchpoint's channel) and LINEAR (equal
    * micro-shares to every touchpoint, floor division). Conversions
    * with no preceding touch credit an `organic` channel. This is the
    * standard marketing/product attribution read over the same event
    * log the funnel (q124) and transition (q130) queries mine.
    *
    * Shape at 100 TB: the touch↔conversion pairing is a USER-keyed
    * equi-join with the 7-day band as a residual predicate — per-user
    * fan-out is bounded by a user's own 7-day activity (the q45
    * interval argument), never cross-user. Both credit reductions are
    * conversion-keyed hash-aggs (last-touch rides one max(struct), no
    * per-conversion sort), and the final channel rollup is
    * alphabet-bounded. */
  def attribution(spark: SparkSession, d: String): DataFrame = {
    val WeekNs = 7L * 86400000000000L
    val ev = Tables.eventsNs(spark, d)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id").as("cu"),
        col("ts").as("cts"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("tu"), col("event_type").as("channel"),
        col("ts").as("tts"), col("event_id").as("tid"))
    val j = CacheScope.cached(conv.join(touch,
        col("cu") === col("tu") &&
          col("tts") <= col("cts") && col("tts") > col("cts") - WeekNs,
        "left")
      .select(col("conv_id"), col("channel"), col("tts"), col("tid")))
    // per conversion: touch count and the (ts desc, id desc) last touch
    val per = j.groupBy(col("conv_id"))
      .agg(count(col("tid")).as("n_touches"),
        max(struct(col("tts"), col("tid"), col("channel"))).as("last"))
    val lastWins = per.filter(col("n_touches") > 0)
      .groupBy(col("last.channel").as("channel"))
      .agg(count(lit(1)).as("last_touch_wins"))
    // linear: each conversion splits 1e6 micro-credits evenly
    val linear = j.filter(col("channel").isNotNull)
      .groupBy(col("conv_id"), col("channel")).agg(count(lit(1)).as("c"))
      .join(per.select(col("conv_id"), col("n_touches")), "conv_id")
      .groupBy(col("channel"))
      .agg(sum(expr("(1000000 * c) div n_touches")).as("linear_credit_micro"),
        countDistinct(col("conv_id")).as("conversions_touched"))
    val organic = per.filter(col("n_touches") === 0)
      .agg(count(lit(1)).as("n"))
      .select(lit("organic").as("channel"), col("n").as("conversions_touched"),
        (col("n") * 1000000L).as("linear_credit_micro"),
        col("n").as("last_touch_wins"))
    linear.join(lastWins, Seq("channel"), "left")
      .select(col("channel"), col("conversions_touched"),
        col("linear_credit_micro"),
        coalesce(col("last_touch_wins"), lit(0L)).as("last_touch_wins"))
      .unionByName(organic)
      .orderBy(col("channel"))
  }

  /** q188: EQUI-DEPTH histogram of lineitem extended price (8 bins of
    * ~equal row count) — the statistic a cost-based optimizer and a
    * skew-aware partitioner both want, where the equi-WIDTH histogram
    * (q103) wastes resolution on empty ranges. Depth boundaries are
    * computed at whole-dollar granularity: exact bin populations, bin
    * edges quantized to the dollar grid.
    *
    * Shape at 100 TB: NOT a global sort/ntile over the fact table. The
    * fact table collapses to its (dollar → count) histogram in ONE
    * hash-agg with map-side partials — bounded by the VALUE DOMAIN
    * (~110k distinct dollar values for TPC-H prices), not the row
    * count — and the global cumulative over that bounded relation runs
    * as the q73 two-pass (range partition, pid-local running sum,
    * driver cumsum over ≤|parts| totals re-broadcast): zero
    * partitionless windows anywhere. Each dollar-group lands in the
    * bin of its first row: bin = (rows_before * B) div n —
    * deterministic, exact, and identical in both engines. */
  def equiDepthHist(spark: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(spark, d)
      .select(expr("cast(round(l_extendedprice * 100) as bigint) div 100")
        .as("dollars"))
      .groupBy(col("dollars")).agg(count(lit(1)).as("c"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // global cumulative over the value-bounded histogram WITHOUT a
    // partitionless window (the sweep-banned one-task sort): the q73
    // two-pass — range-partition by value, pid-local running sum,
    // driver cumsum over ≤`parts` per-partition totals re-enters as a
    // broadcast offset. Cached per the q73 note: pid must be computed
    // exactly once.
    val local = CacheScope.cached(hist.repartitionByRange(parts, col("dollars"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lcum", sum(col("c")).over(
        Window.partitionBy(col("pid")).orderBy(col("dollars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val totals = local.groupBy(col("pid")).agg(sum(col("c")).as("t"))
      .orderBy(col("pid")).collect().map(r => (r.getInt(0), r.getLong(1)))
    val n = totals.map(_._2).sum
    val offsets = {
      var acc = 0L
      totals.map { case (pid, t) => val o = acc; acc += t; (pid, o) }
    }
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq).toDF("pid", "off"))
    local.join(offDf, "pid")
      .select(expr(s"((off + lcum - c) * 8) div $n").as("bin"),
        col("dollars"), col("c"))
      .groupBy(col("bin"))
      .agg(sum(col("c")).as("n_rows"),
        min(col("dollars")).as("lo_dollars"),
        max(col("dollars")).as("hi_dollars"),
        count(lit(1)).as("n_distinct_dollars"))
      .orderBy(col("bin"))
  }

  private[graft] val DayNs = 86400L * 1000000000L

  /** q189: SLIDING-WINDOW active users — per day, the exact count of
    * distinct users active that day (DAU) and within the trailing
    * 7-day window (WAU), plus the event count. The stickiness ratio
    * DAU/WAU is the engagement metric every events pipeline reports;
    * the hard part is that count(DISTINCT) does not compose across a
    * sliding window — yesterday's WAU can't be updated, it must be
    * re-derived.
    *
    * Shape at 100 TB: events first collapse to DISTINCT (user, day) —
    * one hash-agg, the corpus's only full-width shuffle. Each (user,
    * day) row then fans out to the ≤7 window ENDS it is visible from
    * (a bounded explode — 7×, constant), and one more distinct-agg per
    * (window_end) yields exact WAU with every shuffle keyed on
    * user/day — no range join, no re-scan per day, no window function
    * over an unbounded frame. This is the standard exact-sliding-
    * distinct rewrite; the approximate path at larger windows is q74's
    * HLL sketches. */
  def slidingActiveUsers(spark: SparkSession, d: String): DataFrame = {
    val ud = CacheScope.cached(Tables.eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day")))
    val daily = ud.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("dau"))
    val userDays = ud.select(col("user_id"), col("day")).distinct()
    val wau = userDays
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    // report only observed days: phantom trailing days (visible from a
    // user-day's fan-out but holding no events) are inner-joined away
    daily.join(wau, Seq("day"))
      .select(col("day"), col("n_events"), col("dau"), col("wau"),
        expr("(1000 * dau) div wau").as("stickiness_pm"))
      .orderBy(col("day"))
  }

  /** q193: LAG/ROLLING FEATURE MATRIX — per (user, active day):
    * today's event count, the count exactly 1 and 7 days earlier
    * (0 when inactive), a 28-day rolling total, and tomorrow's count
    * as the supervised label. The feature-engineering pass that turns
    * an event stream into training rows for churn/activity models —
    * generated directly from the stream with NO calendar spine table.
    *
    * The gap-correctness trick: every lag/rolling column is a RANGE
    * frame over the numeric day (rangeBetween on day values, not row
    * offsets), so missing days contribute nothing and `lag()` row
    * semantics are never confused by gaps — `sum over range [-7,-7]`
    * IS "the count 7 calendar days ago, else 0". No users×days spine
    * is materialized (the classic OOM at 100 TB: spine rows =
    * |users|·|history|, v.s. active rows here).
    *
    * Shape at 100 TB: one (user, day) hash-agg with map-side partials,
    * then ONE user-keyed window pass computes all five frames over the
    * same sort — a single exchange+sort per user partition, each
    * partition bounded by that user's active-day count. */
  def lagFeatures(spark: SparkSession, d: String): DataFrame = {
    val DayNs = 86400000000000L
    val daily = Tables.eventsNs(spark, d)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    def frame(lo: Long, hi: Long) =
      coalesce(sum(col("n")).over(byDay.rangeBetween(lo, hi)), lit(0L))
    daily.select(col("user_id"), col("day"), col("n"),
        frame(-1, -1).as("lag1"),
        frame(-7, -7).as("lag7"),
        frame(-27, 0).as("sum28"),
        frame(1, 1).as("next1"))
      .orderBy(col("user_id"), col("day"))
  }

  /** q194: DATA-QUALITY AUDIT — the cross-table expectation suite a
    * pipeline gates ingest on, one report row per check: referential
    * integrity (orphan lineitems, orphan orders), primary-key
    * duplication, domain ranges (quantity, discount, order dates),
    * order-total reconciliation against the lineitem sum in exact
    * integer cents, and childless orders. Violations in parts-per-
    * million (exact integer floor).
    *
    * Shape at 100 TB: ONE pass per driving table — every lineitem
    * check (orphan + both ranges) rides a single lineitem scan with
    * its keys-only join to orders, and every orders check (orphan,
    * dup-PK, date range, reconciliation, childless) rides a single
    * orders scan joined to customer keys and the per-order lineitem
    * cents pre-aggregate (shuffled on the join key it is grouped by —
    * no re-exchange). The per-check rows come from `stack` over the
    * two 1-row aggregates: adding a check adds a column, never a
    * scan. */
  def dqViolations(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val ord = Tables.orders(spark, d)
    val liAgg = li
      .join(ord.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_orphan"),
        sum(when(col("l_quantity") <= 0.0 || col("l_quantity") > 100.0, 1L)
          .otherwise(0L)).as("v_qty"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.5, 1L)
          .otherwise(0L)).as("v_disc"))
      .selectExpr(
        """stack(3,
          |  'li_orphan_orderkey', n, v_orphan,
          |  'li_quantity_range',  n, v_qty,
          |  'li_discount_range',  n, v_disc) AS (check_name, n_checked, n_violations)"""
          .stripMargin)
    val cents = li
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    val ordAgg = ord
      .join(Tables.customer(spark, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .join(cents, col("o_orderkey") === col("l_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_orphan"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"),
        sum(when(col("o_orderdate") < lit("1995-01-01").cast("timestamp") ||
            col("o_orderdate") >= lit("2002-01-01").cast("timestamp"), 1L)
          .otherwise(0L)).as("v_date"),
        sum(when(expr("CAST(round(o_totalprice * 100) AS BIGINT)") =!=
            coalesce(col("cents"), lit(0L)), 1L).otherwise(0L)).as("v_recon"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("v_childless"))
      .selectExpr(
        """stack(5,
          |  'ord_orphan_custkey', n, v_orphan,
          |  'ord_dup_pk',         n, v_dup,
          |  'ord_date_range',     n, v_date,
          |  'ord_total_recon',    n, v_recon,
          |  'ord_childless',      n, v_childless) AS (check_name, n_checked, n_violations)"""
          .stripMargin)
    liAgg.unionAll(ordAgg)
      .select(col("check_name"), col("n_checked"), col("n_violations"),
        expr("(1000000 * n_violations) div n_checked").as("viol_ppm"))
      .orderBy(col("check_name"))
  }

  /** q198: CO-PURCHASE PAIRS — market-basket part pairs: parts bought
    * together in the same order, min support 3, ranked by count with
    * exact-integer lift (c_ab·T div c_a·c_b, milli; T = ordering
    * baskets). The item-item association build behind "bought
    * together" recommenders and product-affinity blocking — the
    * BASKET analogue of q191's windowed text co-occurrence.
    *
    * Shape at 100 TB: the pair generator is an orderkey-keyed
    * self-join — co-partitioned on the key both sides are already
    * grouped by, per-basket fan-out C(k,2) with k bounded by basket
    * size (single-digit), never corpus². Pair counts agg map-side;
    * the part-frequency joins are vocabulary(part)-keyed; T is a
    * one-row scalar broadcast. */
  /** The distinct (ok = order, p = part) basket items, cached until
    * the caller's scope ends. */
  private[graft] def basketItems(spark: SparkSession, d: String): DataFrame =
    CacheScope.cached(
      Tables.lineitem(spark, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct())

  /** q198's basket counts over the distinct (order, part) items:
    * (pairs = (pa < pb, c_ab) bought together in ≥ 3 orders,
    * freq = (p, c) orders per part, baskets = one row `t` of orders). */
  private[graft] def basketCounts(spark: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val items = basketItems(spark, d)
    val pairs = items.toDF("ok", "pa").join(items.toDF("ok", "pb"), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    val freq = items.groupBy(col("p")).agg(count(lit(1)).as("c"))
    val baskets = items.agg(countDistinct(col("ok")).as("t"))
    (pairs, freq, baskets)
  }

  def copurchasePairs(spark: SparkSession, d: String): DataFrame = {
    val (pairs, freq, baskets) = basketCounts(spark, d)
    pairs
      .join(freq.toDF("pa", "c_a"), "pa")
      .join(freq.toDF("pb", "c_b"), "pb")
      .crossJoin(broadcast(baskets))
      .select(col("pa"), col("pb"), col("c_ab"), col("c_a"), col("c_b"),
        // numerator in DECIMAL(38,0): at 100 TB (t ~ 1e10 baskets,
        // c_ab up to t) 1000*c_ab*t can exceed Long range — the same
        // product-shape discipline as q191/q195/q208. IntegralDivide
        // on decimals returns BIGINT, so the output type is unchanged.
        expr("(CAST(1000 AS DECIMAL(38,0)) * c_ab * t) div " +
          "(CAST(c_a AS DECIMAL(38,0)) * c_b)").as("lift_milli"))
      .orderBy(col("c_ab").desc, col("pa"), col("pb"))
      .limit(30)
  }

}
