package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst GENERATOR (the "UDTF" rung of the extension ladder,
  * SURVEY.md §2.9): `GraftFunctions.shingleStream(text, n)` emits one
  * (pos, h) row per n-token shingle of a document, POSITIONAL and
  * streamed — `h` is the identical space-joined polynomial hash the
  * `shingleHashes` kernel computes, so the DuckDB oracle's
  * `H(array_to_string(tk[i:i+n-1], ' '))` replays it exactly.
  *
  * Why a generator and not `posexplode(array)`: the array formulation
  * materializes every per-document intermediate (the token array AND
  * the full hash array) before the Generate consumes it. The generator
  * contract hands the consumer an ITERATOR — output rows stream into
  * the parent operator one at a time, so per-row transient memory is
  * O(tokens), never O(windows), and a pathological 1 GB document
  * cannot balloon the executor. Generators run in `GenerateExec`
  * outside whole-stage codegen by framework design (same as any Hive
  * UDTF); the hash loop itself is the same tight byte loop as the
  * codegen kernels. */
case class ShingleStreamExpr(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  require(n > 0, s"graft_shingle_stream window must be positive, got $n")

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("h", LongType, nullable = false)))

  override def prettyName: String = "graft_shingle_stream"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_stream requires STRING, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val u = child.eval(input).asInstanceOf[UTF8String]
    if (u == null) Iterator.empty
    else {
      // same tokenization as TextOps.toks = split(text, " "): limit -1
      // keeps trailing empty tokens
      val toks = u.toString.split(" ", -1)
      if (toks.length < n) Iterator.empty
      else Iterator.range(0, toks.length - n + 1).map { i =>
        new GenericInternalRow(
          Array[Any](i.toLong, ShingleStreamExpr.hashWindow(toks, i, n)))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): ShingleStreamExpr =
    copy(child = c)
}

object ShingleStreamExpr {
  import PolyHashExpr.P

  /** Polyhash of toks[i..i+n) joined with ' ' — byte-for-byte the
    * NativeVec.shingleHashes window hash, on JVM Strings. */
  def hashWindow(toks: Array[String], i: Int, n: Int): Long = {
    var h = 0L
    var j = 0
    while (j < n) {
      if (j > 0) h = (h * 131L + ' '.toInt) % P
      val s = toks(i + j)
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        h = (h * 131L + cp) % P
        ci += Character.charCount(cp)
      }
      j += 1
    }
    h
  }
}
