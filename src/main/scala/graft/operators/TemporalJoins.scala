package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no built-in operator for — composed from
  * existing relational ops (preference (a) of the custom-operator
  * ladder: no custom strategy needed, Catalyst keeps optimizing).
  *
  * Both are expressed over the `events` table (`ts` = epoch-nanos long,
  * see Tables.eventsNs; the join logic runs on `ts div 1000` epoch-MICROS
  * because the DuckDB oracle's TIMESTAMP is µs — both engines must
  * compare the same values or sub-µs tie-breaks diverge) and both are
  * scale-safe by construction:
  *
  *  - `asofJoin`: the classic "latest right row at or before each left
  *    row" join. The naive formulation is a non-equi range join (plans
  *    as a nested loop); this one UNIONs both sides, tags them, and
  *    carries the last right-side row forward with one window pass —
  *    a single shuffle on the join key, zero pair explosion, any skew
  *    bounded by per-user event counts.
  *  - `rangeJoinAgg`: "right rows within [t−W, t] of each left row",
  *    aggregated. Blocked on W-sized time buckets: a qualifying pair's
  *    buckets differ by at most 1, so candidates come from an equi-join
  *    on (user, bucket) with the left side exploded to its 2 candidate
  *    buckets — then the exact range filter. Linear in matches, no
  *    cartesian (pinned in PlanSpec). Aggregates are restricted to
  *    order-independent ones (count / min / max) so the DuckDB oracle
  *    hash-matches bit-for-bit.
  */
object TemporalJoins {

  /** For each `click`, the most recent `view` of the same user at or
    * before it (ties: greatest view event_id). Left-outer semantics:
    * clicks with no prior view keep null view columns. */
  def asofJoin(spark: SparkSession, d: String): DataFrame =
    lastViews(spark, d)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("tus").as("click_ts"), col("view_id"), col("view_ts"),
        (col("tus") - col("view_ts")).as("gap_us"))
      .orderBy(col("click_id"))

  /** The union-tag window of q44: every click (user_id, tus, event_id)
    * with the latest view at or before it (`view_ts`, `view_id`; null
    * when the user has none). Side 0 = view (right), side 1 = click
    * (left): at equal ts the view sorts first, so an
    * exactly-simultaneous view matches. */
  private[graft] def lastViews(spark: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.eventsNs(spark, d)
    val tagged = ev
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("view_ts",
        last(when(col("side") === 0, col("tus")), ignoreNulls = true).over(w))
      .withColumn("view_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
  }

  /** q334 staleness bound: an as-of match older than this many
    * microseconds is DISCARDED (1 hour — the feature-store TTL). */
  val AsofToleranceUs = 3600L * 1000000L

  /** q334: AS-OF JOIN WITH TOLERANCE — q44's point-in-time join plus
    * the feature-store TTL rule: a prior view older than
    * AsofToleranceUs at click time is STALE and must not serve (the
    * "max staleness" bound every online feature platform enforces —
    * serving a day-old profile feature is a silent correctness bug,
    * not a near-hit). Same union-tag-window construction (one shuffle
    * on user_id, zero pair explosion); the tolerance is a row-local
    * CASE on the already-computed gap, so the plan is q44's plan —
    * matched/stale/miss accounting rides in the `matched` column
    * (1 = fresh match, 0 = stale discarded, -1 = no prior view).
    *
    * Shape at 100 TB: identical to q44 — keyed window, no NLJ; the
    * TTL never changes the plan, only the emitted columns. */
  def asofJoinTolerance(spark: SparkSession, d: String): DataFrame =
    lastViews(spark, d)
      .withColumn("gap_us", col("tus") - col("view_ts"))
      .select(col("event_id").as("click_id"), col("user_id"),
        col("tus").as("click_ts"),
        when(col("gap_us") <= AsofToleranceUs, col("view_id")).as("view_id"),
        when(col("gap_us") <= AsofToleranceUs, col("view_ts")).as("view_ts"),
        when(col("gap_us") <= AsofToleranceUs, col("gap_us")).as("fresh_gap_us"),
        expr(s"""CASE WHEN view_ts IS NULL THEN -1
                 WHEN gap_us <= $AsofToleranceUs THEN 1
                 ELSE 0 END""".stripMargin.replace("\n", " "))
          .cast("long").as("matched"))
      .orderBy(col("click_id"))

  /** q67: the SAME as-of semantics as `asofJoin`, executed by the
    * custom physical operator (`plans.AsOfJoinExec`): co-clustered
    * children, per-side (key, time) sorts, one constant-memory merge
    * pass per partition — no unioned sort, no window state. Shares
    * q44's oracle, so the parity gate proves exec ≡ composition ≡
    * DuckDB cell-for-cell. */
  def asofJoinExec(spark: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.eventsNs(spark, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        expr("ts div 1000").as("click_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), expr("ts div 1000").as("view_ts"),
        col("event_id").as("view_id"))
    graft.plans.AsOfJoin.asof(clicks, views,
        clicks.col("user_id"), clicks.col("click_ts"),
        views.col("v_user"), views.col("view_ts"), views.col("view_id"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("view_id"), col("view_ts"),
        (col("click_ts") - col("view_ts")).as("gap_us"))
      .orderBy(col("click_id"))
  }

  /** The range-join window and blocking bucket width: 10 min in µs. */
  private val RangeWindowUs = 600000000L

  /** The clicks of eventsNs rows `ev` as (click_id, user_id, cts µs). */
  private def clickTimes(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        expr("ts div 1000").as("cts"))

  /** Every (click, view) pair of one user with the view in
    * [cts − RangeWindowUs, cts]: `clicks` ([[clickTimes]]) ⋈ the views
    * of `ev` as (vts, `viewCol`). Blocked on W-sized buckets:
    * cts − vts ∈ [0, W] ⇒ bucket(vts) ∈ {bucket(cts), bucket(cts) − 1},
    * so each qualifying pair meets in EXACTLY one bucket — no dedup
    * pass. */
  private[graft] def windowPairs(ev: DataFrame, clicks: DataFrame,
      viewCol: Column): DataFrame = {
    val W = RangeWindowUs
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), expr("ts div 1000").as("vts"), viewCol)
      .withColumn("b", expr(s"vts div ${W}L"))
    clicks
      .withColumn("b", explode(array(expr(s"cts div ${W}L"), expr(s"cts div ${W}L - 1"))))
      .join(views, Seq("user_id", "b"))
      .filter(col("vts") <= col("cts") && col("cts") - col("vts") <= W)
  }

  /** q72: the row-level interval join — every (click, view) pair of the
    * same user with the view in the 10 minutes up to the click. Same
    * bucket blocking as `rangeJoinAgg` (each qualifying pair meets in
    * exactly one bucket — no dedup pass, no nested loop); inner join. */
  def intervalPairs(spark: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.eventsNs(spark, d)
    windowPairs(ev, clickTimes(ev), col("event_id").as("view_id"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        (col("cts") - col("vts")).as("gap_us"))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** Per click: count / min-gap / max-value of the same user's views in
    * the 10 minutes up to the click (inclusive window [cts−W, cts]). */
  def rangeJoinAgg(spark: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.eventsNs(spark, d)
    val clicks = clickTimes(ev)
    val cand = windowPairs(ev, clicks, col("value"))
    val agg = cand.groupBy(col("click_id"))
      .agg(count(lit(1)).as("nv"), min(col("cts") - col("vts")).as("mg"),
        max(col("value")).as("mv"))
    clicks.join(agg, Seq("click_id"), "left_outer")
      .select(col("click_id"), col("user_id"),
        coalesce(col("nv"), lit(0L)).as("n_views"),
        col("mg").as("min_gap_us"), col("mv").as("max_view_value"))
      .orderBy(col("click_id"))
  }
}
