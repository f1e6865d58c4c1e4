package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** A TypedImperativeAggregate whose buffer is one flat array of `nCounters`
  * long counters: partials merge by elementwise addition, a non-null
  * array<bigint> comes out, and the wire format is the length then the
  * longs. Subclasses keep `update` and `eval`. */
private[graft] abstract class LongArraySumAgg extends TypedImperativeAggregate[Array[Long]] {
  protected def nCounters: Int

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nCounters)

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n)(in.readLong())
  }
}

/** Exact d×d Gram matrix Σ q·qᵀ over int8-quantized vectors as ONE
  * TypedImperativeAggregate — the covariance-shaped statistic every
  * spectral corpus diagnostic (principal direction, whitening prep,
  * effective rank) starts from.
  *
  * Why a native kernel and not d² SQL sums: at 100 TB the relational
  * encodings are all wrong — exploding each row to d² (i, j, qᵢ·qⱼ)
  * pairs multiplies the shuffle by 4096×, and d² separate agg columns
  * die in the planner. Here the buffer is ONE d×d long array (32 KB at
  * d=64) per partition, update is the row-local rank-1 accumulation
  * over the upper triangle (symmetry halves the multiplies), merge is
  * elementwise add, and the operator ships d² longs per partition —
  * the textbook mergeable-partial shape (same contract as CountMinAgg).
  *
  * Inputs are int8-quantized (|q| ≤ 127, exact integers), so every
  * product ≤ 16129 and the sums stay exact in BIGINT through ~5.7e14
  * rows — past that, route per-shard Grams through DECIMAL(38,0) at
  * the merge (the q208 discipline).
  */
case class GramAgg(
    vec: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySumAgg {

  override def children: Seq[Expression] = Seq(vec)
  override def prettyName: String = "graft_gram"

  override protected def nCounters: Int = dim * dim

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = vec.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < dim) {
        val qi = arr.getLong(i)
        if (qi != 0L) {
          var j = i
          while (j < dim) {
            buf(i * dim + j) += qi * arr.getLong(j)
            j += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  /** Mirror the accumulated upper triangle into the lower on the final
    * single row — d² work once, not per input row. */
  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Long](dim * dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val x = buf(i * dim + j)
        out(i * dim + j) = x
        out(j * dim + i) = x
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): GramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GramAgg =
    copy(vec = c(0))
}

object GramAgg {
  def gram(vec: Column, dim: Int): Column =
    GraftShim.column(
      GramAgg(GraftShim.expression(vec), dim).toAggregateExpression())

  def crossGram(x: Column, y: Column, dim: Int): Column =
    GraftShim.column(
      CrossGramAgg(GraftShim.expression(x), GraftShim.expression(y), dim)
        .toAggregateExpression())
}

/** Exact d×d CROSS-Gram Σ x·yᵀ between two integer vector columns of
  * one row — the non-symmetric generalization of [[GramAgg]] that
  * representation-ALIGNMENT statistics (linear CKA / RV coefficient,
  * q282) need: Xᵀ Y between two different views of the same documents
  * cannot be folded into one symmetric Gram. Same contract as GramAgg:
  * ONE d² long buffer per partition, row-local rank-1 update (full
  * rectangle — no symmetry to exploit), elementwise-add merge, d²
  * longs shipped per partial. The d²-exploded relational encoding is
  * rejected for the same arithmetic as GramAgg's scaladoc. Rows where
  * either side is NULL are skipped (the joint-observation contract:
  * alignment is defined over rows where BOTH views exist).
  *
  * Overflow: exact while |x|·|y|·rows < 2⁶³ — at the q282 operating
  * point (|x| ≤ 127 BoW counts, |y| ≤ 127 int8) that is ~5.7e14 rows,
  * the GramAgg bound; augmenting with a constant-1 tail (the q282
  * trick that makes the same pass emit Σx, Σy and n) leaves it
  * unchanged. */
case class CrossGramAgg(
    x: Expression,
    y: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArraySumAgg {

  override def children: Seq[Expression] = Seq(x, y)
  override def prettyName: String = "graft_crossgram"

  override protected def nCounters: Int = dim * dim

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val xv = x.eval(input)
    val yv = y.eval(input)
    if (xv != null && yv != null) {
      val xa = xv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val ya = yv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < dim) {
        val xi = xa.getLong(i)
        if (xi != 0L) {
          var j = 0
          while (j < dim) {
            buf(i * dim + j) += xi * ya.getLong(j)
            j += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def withNewMutableAggBufferOffset(o: Int): CrossGramAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CrossGramAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CrossGramAgg =
    copy(x = c(0), y = c(1))
}
