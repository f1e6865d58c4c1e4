package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's polynomial rolling hash
  * (TextOps.polyHash): h = fold(codepoints, 0, (acc,c) => (acc·131 + c)
  * mod 1e9+7).
  *
  * This is the one scalar hot enough to justify dropping below the
  * DataFrame API (SURVEY.md §7.3): the higher-order-function
  * formulation (`aggregate(split(s,"")…)`) materializes a per-character
  * array of single-char strings for every value hashed — for 3-gram
  * shingling that is ~20 such arrays per shingle × ~300 shingles per
  * document. The native expression is a straight byte loop in
  * whole-stage codegen (`defineCodeGen` → static call, no allocation on
  * the ASCII fast path). Semantics are identical, so the DuckDB oracle
  * (`list_reduce` over `ascii()`) is unchanged.
  */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash requires STRING, got ${child.dataType.catalogString}")

  protected override def nullSafeEval(input: Any): Any =
    PolyHashExpr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashExpr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
    copy(child = newChild)
}

object PolyHashExpr {
  final val P = 1000000007L

  /** Fast path: pure-ASCII strings hash byte-by-byte with zero
    * allocation; otherwise fold over Unicode code points (what ascii()
    * yields per character on the SQL side). */
  def hash(u: UTF8String): Long = {
    val n = u.numBytes
    var h = 0L
    if (u.numChars == n) { // ASCII: bytes are the code points
      var i = 0
      while (i < n) {
        h = (h * 131L + (u.getByte(i) & 0xff)) % P
        i += 1
      }
      h
    } else {
      val s = u.toString
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 131L + cp) % P
        i += Character.charCount(cp)
      }
      h
    }
  }
}

/** Engine function surface: the Column builders queries call. */
object GraftFunctions {
  def polyhash(c: Column): Column =
    GraftShim.column(PolyHashExpr(GraftShim.expression(c)))
  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProductExpr(GraftShim.expression(a), GraftShim.expression(b)))
  def bitvote32(c: Column): Column =
    GraftShim.column(BitVote32Expr(GraftShim.expression(c)))
  def bitvote64(c: Column): Column =
    GraftShim.column(BitVote64Expr(GraftShim.expression(c)))
  def minhashes(c: Column, k: Int): Column =
    GraftShim.column(MinHashesExpr(GraftShim.expression(c), k))
  def shingleHashes(c: Column, n: Int): Column =
    GraftShim.column(ShingleHashesExpr(GraftShim.expression(c), n))
  def shingleStream(c: Column, n: Int): Column =
    GraftShim.column(ShingleStreamExpr(GraftShim.expression(c), n))
  def ahash64(c: Column): Column =
    GraftShim.column(AHash64Expr(GraftShim.expression(c)))
  def energyhash32(c: Column): Column =
    GraftShim.column(EnergyHash32Expr(GraftShim.expression(c)))
  def pcmstats(c: Column): Column =
    GraftShim.column(PcmStatsExpr(GraftShim.expression(c)))
  def bowcounts(c: Column, dim: Int, cap: Long): Column =
    GraftShim.column(BowCountsExpr(GraftShim.expression(c), dim, cap))
}
