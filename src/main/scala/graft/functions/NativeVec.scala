package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernels for the dedup/similarity hot loops.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`)
  * are CodegenFallback: inside an otherwise-codegen'd stage each call
  * drops to interpreted evaluation with per-element boxing. That is fine
  * for occasional array massaging and catastrophic in pairwise loops (a
  * cosine join evaluates the dot fold millions of times). These
  * expressions generate a straight primitive loop instead — measured
  * ~100-300× over the HOF formulations at sf0.1 — while computing the
  * EXACT same values, so the DuckDB oracles are unchanged. Each has the
  * HOF twin asserted equal in FunctionsSpec.
  */
object NativeVec {
  /** Sequential left-to-right dot product — same fold order as
    * `aggregate(zip_with(a,b,_*_),0.0,_+_)` and DuckDB list_dot_product.
    *
    * Mirrors the HOF form's null semantics exactly (so the optimizer
    * rewrite is value-preserving on ANY array<double> input): zip_with
    * pads a length mismatch with nulls and a null element poisons the
    * sum, both yielding NULL — here: a boxed null return. The boxed
    * Double costs one allocation per call, noise next to the 64
    * multiply-adds it guards. */
  def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** `width`-bit SimHash pack: each hash (splitmix64-mixed first when
    * `mixed`) votes ±1 per bit; bit i of the result is set iff the
    * vote sum is positive. Width 32 unmixed is q24's signature; width
    * 64 mixed is the production-width variant (the raw hashes carry
    * only ~30 bits of entropy). */
  def bitVote(hs: ArrayData, width: Int, mixed: Boolean): Long = {
    val votes = new Array[Int](width)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = if (mixed) mix64(hs.getLong(i)) else hs.getLong(i)
      var b = 0
      while (b < width) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < width) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** splitmix64 finalizer: spreads the ~30 bits of entropy of a mod-P
    * token hash across all 64 output bits (public-domain constant mix,
    * Steele et al., "Fast Splittable Pseudorandom Number Generators"). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }


  /** k MinHash values over a hash set: mh_j = min_h ((2j+1)·h + 12345 +
    * 7919·j) mod P — identical permutation family to the oracle SQL. */
  def minhashes(hs: ArrayData, k: Int): ArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = 2L * j + 1L
      val c = 12345L + 7919L * j
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (a * hs.getLong(i) + c) % PolyHashExpr.P
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct polynomial hashes of the n-token shingles of a token
    * array (separator-joined with ' ', matching
    * polyhash(array_to_string(tk[i:i+n-1],' ')) in the oracle). */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= m - n) {
      var h = 0L
      var j = 0
      while (j < n) {
        if (j > 0) h = (h * 131L + ' '.toInt) % PolyHashExpr.P
        val u = toks.getUTF8String(i + j)
        val nb = u.numBytes
        if (u.numChars == nb) {
          var b = 0
          while (b < nb) { h = (h * 131L + (u.getByte(b) & 0xff)) % PolyHashExpr.P; b += 1 }
        } else {
          val s = u.toString
          var ci = 0
          while (ci < s.length) {
            val cp = s.codePointAt(ci)
            h = (h * 131L + cp) % PolyHashExpr.P
            ci += Character.charCount(cp)
          }
        }
        j += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  /** q282's hashed bag-of-words: token t lands in bucket
    * polyhash(t) mod dim; per-bucket counts cap at `cap` so the
    * lexical view shares the int8 magnitude envelope (|value| ≤ 127)
    * that keeps CrossGramAgg's products small. Empty tokens (runs of
    * separators) hash like the SQL twin's string_split empties —
    * polyhash("") = 0 → bucket 0. One pass, no allocation beyond the
    * dim-long result. */
  def bowCounts(toks: ArrayData, dim: Int, cap: Long): ArrayData = {
    val out = new Array[Long](dim)
    val m = toks.numElements()
    var i = 0
    while (i < m) {
      val b = (PolyHashExpr.hash(toks.getUTF8String(i)) % dim).toInt
      if (out(b) < cap) out(b) += 1L
      i += 1
    }
    new GenericArrayData(out)
  }
}

private[functions] trait ArrayOfType { self: Expression =>
  def requireArrayOf(e: Expression, t: DataType, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(`t`, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<${t.catalogString}>, got ${other.catalogString}")
    }
}

/** dot(array<double>, array<double>) → double.
  *
  * NULL-exact twin of `aggregate(zip_with(a,b,(x,y)->x*y),0.0,(s,v)->s+v)`:
  * a null input array, a length mismatch, or a null element all yield
  * NULL, as the spec-side `ReferenceTwins.dotHof` does (FunctionsSpec pins the two equal
  * on nullable and ragged operands). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayOfType {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs → NULL
  override def prettyName: String = "graft_dot"
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = requireArrayOf(left, DoubleType, prettyName)
    if (l == TypeCheckResult.TypeCheckSuccess) requireArrayOf(right, DoubleType, prettyName) else l
  }
  protected override def nullSafeEval(a: Any, b: Any): Any =
    NativeVec.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $r = graft.functions.NativeVec.dotOrNull($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductExpr =
    copy(left = l, right = r)
}

/** bitvote32(array<bigint>) → bigint (SimHash signature). */
case class BitVote32Expr(child: Expression)
    extends UnaryExpression with ArrayOfType {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitvote32"
  override def checkInputDataTypes(): TypeCheckResult =
    requireArrayOf(child, LongType, prettyName)
  protected override def nullSafeEval(a: Any): Any =
    NativeVec.bitVote(a.asInstanceOf[ArrayData], 32, mixed = false)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NativeVec.bitVote($a, 32, false)")
  override protected def withNewChildInternal(c: Expression): BitVote32Expr = copy(child = c)
}

/** bitvote64(array<bigint>) → bigint (64-bit SimHash signature). */
case class BitVote64Expr(child: Expression)
    extends UnaryExpression with ArrayOfType {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bitvote64"
  override def checkInputDataTypes(): TypeCheckResult =
    requireArrayOf(child, LongType, prettyName)
  protected override def nullSafeEval(a: Any): Any =
    NativeVec.bitVote(a.asInstanceOf[ArrayData], 64, mixed = true)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NativeVec.bitVote($a, 64, true)")
  override protected def withNewChildInternal(c: Expression): BitVote64Expr = copy(child = c)
}

/** minhashes(array<bigint>) → array<bigint> of k signature values. */
case class MinHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with ArrayOfType {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhashes"
  override def checkInputDataTypes(): TypeCheckResult =
    requireArrayOf(child, LongType, prettyName)
  protected override def nullSafeEval(a: Any): Any =
    NativeVec.minhashes(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NativeVec.minhashes($a, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashesExpr = copy(child = c)
}

/** shinglehashes(array<string>) → array<bigint>: distinct n-token
  * shingle hashes. */
case class ShingleHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with ArrayOfType {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shinglehashes"
  override def checkInputDataTypes(): TypeCheckResult =
    requireArrayOf(child, StringType, prettyName)
  protected override def nullSafeEval(a: Any): Any =
    NativeVec.shingleHashes(a.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NativeVec.shingleHashes($a, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

/** bowcounts(array<string>, dim, cap) → array<bigint>: hashed
  * bag-of-words bucket counts, capped — q282's lexical view. */
case class BowCountsExpr(child: Expression, dim: Int, cap: Long)
    extends UnaryExpression with ArrayOfType {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bowcounts"
  override def checkInputDataTypes(): TypeCheckResult =
    requireArrayOf(child, StringType, prettyName)
  protected override def nullSafeEval(a: Any): Any =
    NativeVec.bowCounts(a.asInstanceOf[ArrayData], dim, cap)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.NativeVec.bowCounts($a, $dim, ${cap}L)")
  override protected def withNewChildInternal(c: Expression): BowCountsExpr = copy(child = c)
}
