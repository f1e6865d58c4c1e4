package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Count-Min sketch over a bigint key as a TypedImperativeAggregate —
  * the mergeable frequency sketch for UNBOUNDED key spaces (user ids,
  * URL hashes), the frequency counterpart of q37's HLL++ distinct.
  * An exact `groupBy(key).count` over 100 TB shuffles one row per
  * distinct key; the sketch is a fixed depth×width counter matrix per
  * partition, merged by elementwise addition — constant memory, one
  * tiny final row, and the standard guarantees: estimates never
  * undercount, and overcount ≤ εN with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉ (both asserted in SketchSpec).
  *
  * Row hashes reuse the MinHash permutation family over the key
  * (`(2r+1)·k + 12345 + 7919·r mod P`, `NativeVec.minhashes`
  * constants): pairwise-independent enough for the CM bound and
  * already oracle-portable. Output is the flattened depth×width counts
  * (array<bigint>), probed by [[CmsEstimateExpr]].
  */
case class CountMinAgg(
    key: Expression,
    width: Int,
    depth: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySumAgg {

  override def children: Seq[Expression] = Seq(key)
  override def prettyName: String = "graft_cms"

  override protected def nCounters: Int = depth * width

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val k = key.eval(input)
    if (k != null) {
      val kl = k.asInstanceOf[Long]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMinAgg.bucket(kl, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CountMinAgg =
    copy(key = c(0))
}

object CountMinAgg {
  val P = 1000000007L

  /** Row-r bucket of key k — the MinHash permutation family reduced
    * mod width. Static so generated code can call it (CmsEstimateExpr). */
  def bucket(k: Long, r: Int, width: Int): Int = {
    val h = ((2L * r + 1L) * (((k % P) + P) % P) + 12345L + 7919L * r) % P
    (h % width).toInt
  }

  /** Min-over-rows probe of a flattened sketch. */
  def estimate(sketch: ArrayData, k: Long, width: Int, depth: Int): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = sketch.getLong(r * width + bucket(k, r, width))
      if (c < best) best = c
      r += 1
    }
    best
  }

  def cms(key: Column, width: Int, depth: Int): Column =
    GraftShim.column(
      CountMinAgg(GraftShim.expression(key), width, depth).toAggregateExpression())

  def cmsEstimate(sketch: Column, key: Column, width: Int, depth: Int): Column =
    GraftShim.column(
      CmsEstimateExpr(GraftShim.expression(sketch), GraftShim.expression(key), width, depth))
}

/** cms_estimate(sketch, key) → bigint: codegen'd min-over-rows probe,
  * broadcast-friendly (the sketch is one small array row). */
case class CmsEstimateExpr(left: Expression, right: Expression, width: Int, depth: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = left.dataType match {
      case ArrayType(LongType, _) => right.dataType == LongType
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  protected override def nullSafeEval(s: Any, k: Any): Any =
    CountMinAgg.estimate(s.asInstanceOf[ArrayData], k.asInstanceOf[Long], width, depth)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k) =>
      s"graft.functions.CountMinAgg.estimate($s, $k, $width, $depth)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimateExpr =
    copy(left = l, right = r)
}
