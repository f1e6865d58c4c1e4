package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class plan operator — rung (c) of the
  * custom-operator ladder (logical node → strategy → physical exec,
  * the rung q44's union+window composition deliberately avoided).
  *
  * Why a physical operator earns its keep here: the compositional q44
  * carries BOTH sides through one unioned sort and a window pass —
  * right rows are materialized into the window frame's carry state and
  * the union's sort is over |L|+|R| rows. This exec asks the planner
  * for exactly what the algorithm needs (`requiredChildDistribution` =
  * co-clustered on the key, `requiredChildOrdering` = (key, time) per
  * side) and then streams BOTH sorted children through one
  * constant-memory merge pass per partition: the only state is the
  * current right-side lookahead and the last match — no frame, no
  * union, and each side is sorted independently (two smaller sorts
  * instead of one big one). EnsureRequirements inserts the two hash
  * exchanges and in-partition sorts; everything else is a single
  * zipPartitions.
  *
  * Semantics (matching q44 and its DuckDB oracle): for each left row,
  * the right row of the same key with the greatest time ≤ left time;
  * ties on time broken by the right side's sort order (last wins —
  * sort right by (time, id) to get "greatest id"). Left-outer: misses
  * keep null right columns.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightTieBreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def maxRows: Option[Long] = left.maxRows
  /** Left-outer as-of cardinality is exactly |L|. Without this the
    * default visitor estimates an unknown binary node as the PRODUCT
    * of its children's sizes, which would bar the output from ever
    * being broadcast downstream. */
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes,
      rowCount = left.stats.rowCount)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoinPlan = copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, tie) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, tie) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightTieBreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Co-partition the sides on the key (same contract as a shuffled
    * equi-join: equal keys hash to the same partition index). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  /** Per-partition merge order; the right tie-break column makes
    * "last right row with time ≤ t" deterministic under time ties. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
        SortOrder(rightTieBreak, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rWidth = right.output.length
    // hoisted so the zipPartitions closure captures plain locals, not
    // `this` (the whole exec subtree) via the `output` method
    val outTypes = output.map(_.dataType).toArray

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rWidth)
      // downstream operators (exchanges, AQE readers) require UnsafeRow
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outTypes)
      new Iterator[InternalRow] {
        // lookahead right row; rows are buffered across calls so they
        // must be copied out of the scan's reused UnsafeRow
        private var rNext: InternalRow = advanceRight()
        private var lastMatch: InternalRow = _

        // SQL equality/<= never match on NULL, so null-keyed or
        // null-timed right rows (sorted first, NullsFirst) are skipped
        private def advanceRight(): InternalRow = {
          while (ri.hasNext) {
            val r = ri.next()
            if (rk.eval(r) != null && rt.eval(r) != null) return r.copy()
          }
          null
        }

        override def hasNext: Boolean = li.hasNext

        override def next(): InternalRow = {
          val l = li.next()
          val k = lk.eval(l)
          val t = lt.eval(l)
          // a null left key or time matches nothing (mirrors the
          // union+window form and the oracle's equi-join-on-key)
          if (k == null || t == null) return toUnsafe(joined(l, nullRight))
          var continue = true
          while (continue && rNext != null) {
            val kc = keyOrd.compare(rk.eval(rNext).asInstanceOf[AnyRef],
              k.asInstanceOf[AnyRef])
            if (kc < 0) rNext = advanceRight() // behind-key rows: discard
            else if (kc == 0 &&
                timeOrd.compare(rt.eval(rNext).asInstanceOf[AnyRef],
                  t.asInstanceOf[AnyRef]) <= 0) {
              lastMatch = rNext // candidate: latest-so-far for this key
              rNext = advanceRight()
            } else continue = false
          }
          // a match buffered for an earlier key is stale for this one
          val m =
            if (lastMatch != null &&
              keyOrd.compare(rk.eval(lastMatch).asInstanceOf[AnyRef],
                k.asInstanceOf[AnyRef]) == 0) lastMatch
            else nullRight
          toUnsafe(joined(l, m))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

object AsOfJoin {
  /** DataFrame-level as-of join: for each `left` row, the latest
    * `right` row (by `rightTime`, ties → greatest `rightTieBreak`)
    * of the same key at or before `leftTime`; left-outer semantics.
    * Column names of the two sides must be disjoint (alias first).
    * Registers the planner strategy on the session idempotently. */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: Column, leftTime: Column,
      rightKey: Column, rightTime: Column, rightTieBreak: Column): DataFrame = {
    val spark = left.sparkSession
    // the merge orderings and the hash co-partitioning are both built
    // from the expression types: a Long/Int key pair would hash equal
    // values to DIFFERENT partitions and then ClassCastException in the
    // ordering — fail fast instead
    val (lkE, ltE) = (GraftShim.expression(leftKey), GraftShim.expression(leftTime))
    val (rkE, rtE) = (GraftShim.expression(rightKey), GraftShim.expression(rightTime))
    val (lp, rp) = (left.queryExecution.analyzed, right.queryExecution.analyzed)
    require(lkE.dataType == rkE.dataType,
      s"as-of key types differ: ${lkE.dataType} vs ${rkE.dataType}")
    require(ltE.dataType == rtE.dataType,
      s"as-of time types differ: ${ltE.dataType} vs ${rtE.dataType}")
    // register the strategy once per session; synchronize the
    // check-then-act (the experimental list is a shared session var)
    spark.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies =
          AsOfJoinStrategy +: spark.experimental.extraStrategies
    }
    GraftShim.ofRows(spark,
      AsOfJoinPlan(lp, rp, lkE, ltE, rkE, rtE,
        GraftShim.expression(rightTieBreak)))
  }
}
