package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, PerceptualHash}
import org.apache.spark.unsafe.types.UTF8String

/** The native perceptual-hash kernels (AHash64Expr / EnergyHash32Expr)
  * pinned bit-identical to the relational arithmetic they replaced —
  * straight Scala models here, the DuckDB oracle still replaying the
  * relational form end-to-end — plus the edge cases only the kernel
  * path can get wrong: packing, short-payload zero, the non-ASCII
  * code-point path, and the 128-bit threshold compare under values
  * that overflow a Long cross-multiply. */
class PerceptualHashSpec extends SparkSpec {

  private def localAHash(text: String): (Long, Long) = {
    val n = text.length - 64
    if (n < 64) return (0L, 0L)
    val bsum = new Array[BigInt](64).map(_ => BigInt(0))
    val bcnt = new Array[Long](64)
    for (p <- 0 until n) {
      val blk = ((64L * p) / n).toInt
      bsum(blk) += text.charAt(64 + p).toLong; bcnt(blk) += 1
    }
    val tot = bsum.sum
    var lo = 0L; var hi = 0L
    for (b <- 0 until 64)
      if (bsum(b) * n >= tot * bcnt(b)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
    (hi, lo)
  }

  private def localEnergy(text: String): Long = {
    val ns = math.max(text.length - 64, 0) / 2
    if (ns < 32) return 0L
    val e = new Array[BigInt](32).map(_ => BigInt(0))
    val bcnt = new Array[Long](32)
    for (k <- 0 until ns) {
      val raw = text.charAt(64 + 2 * k).toLong +
        256L * text.charAt(65 + 2 * k).toLong
      val v = if (raw >= 32768L) raw - 65536L else raw
      val band = ((32L * k) / ns).toInt
      e(band) += BigInt(v) * v; bcnt(band) += 1
    }
    val tot = e.sum
    var s = 0L
    for (b <- 0 until 32)
      if (e(b) * ns >= tot * bcnt(b)) s |= 1L << b
    s
  }

  private def ah(s: String): Long =
    PerceptualHash.ahash64(UTF8String.fromString(s))
  private def eh(s: String): Long =
    PerceptualHash.energyhash32(UTF8String.fromString(s))

  test("ahash64 ≡ relational model on the corpus; packing is (hi<<32)|lo") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("text").collect().map(_.getString(0))
    assert(docs.length > 400)
    docs.foreach { t =>
      val (hi, lo) = localAHash(t)
      val got = ah(t)
      assert(got == ((hi << 32) | lo), s"mismatch on len=${t.length}")
    }
  }

  test("energyhash32 ≡ relational model on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("text").collect().map(_.getString(0))
    docs.foreach(t => assert(eh(t) == localEnergy(t)))
  }

  test("edge cases: short payloads hash to 0; non-ASCII takes code points") {
    assert(ah("x" * 127) == 0L && ah("") == 0L)
    assert(eh("x" * 127) == 0L)
    // BMP non-ASCII: ÿ = code point 255 — kernel and char model agree
    val t = ("H" * 64) + ("aÿ" * 40) + ("b" * 40)
    val (hi, lo) = localAHash(t)
    assert(ah(t) == ((hi << 32) | lo))
    assert(eh(t) == localEnergy(t))
  }

  test("128-bit threshold compare survives Long-overflowing payloads") {
    // 550k samples of maximal-energy s16: the pair (cp 0, cp 128)
    // decodes to raw 32768, v = -32768, v*v = 1.07e9, so e_band·ns ≈ 4e19
    // overflows a 64-bit cross-multiply; the exact compare must still
    // see every band equal to the mean → all 32 bits set. A wrapped
    // Long compare scrambles the bits.
    val t = ("H" * 64) + ("\u0000\u0080" * 550000)
    assert(eh(t) == 0xFFFFFFFFL)
    assert(eh(t) == localEnergy(t))
  }

  test("Column surface + codegen: ahash64/energyhash32") {
    import spark.implicits._
    val t = ("H" * 64) + ("z" * 320) + ("!" * 320)
    val row = Seq(t).toDF("t")
      .select(GraftFunctions.ahash64(col("t")), GraftFunctions.energyhash32(col("t")))
      .head()
    assert(row.getLong(0) == ah(t) && row.getLong(1) == eh(t))
    // both kernels implement doGenCode (not CodegenFallback) — the
    // whole-stage-codegen property the §7.3 kernels promise
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val le = org.apache.spark.sql.GraftShim.expression(lit("x"))
    assert(!graft.functions.AHash64Expr(le).isInstanceOf[CodegenFallback])
    assert(!graft.functions.EnergyHash32Expr(le).isInstanceOf[CodegenFallback])
  }
}
