package graft

import graft.functions.{GraftFunctions, PolyHashExpr}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native kernels ≡ their higher-order-function twins and
  * independent recomputes, on real data and on generated inputs, through
  * the Column builders queries call. */
class FunctionsSpec extends SparkSpec {

  test("native polyhash equals the HOF formulation on the corpus") {
    val d = "/root/testdata/sf0.001"
    val bad = Tables.documents(spark, d)
      .select(TextOps.polyHash(col("text")).as("a"), ReferenceTwins.polyHashHof(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0)
  }

  test("property: native hash equals direct fold for arbitrary ASCII strings") {
    val gen = Gen.listOf(Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    (0 until 200).foreach { i =>
      val s = gen.apply(Gen.Parameters.default, Seed(i.toLong)).getOrElse("")
      val expected = s.foldLeft(0L)((acc, c) => (acc * 131 + c.toInt) % PolyHashExpr.P)
      assert(PolyHashExpr.hash(UTF8String.fromString(s)) == expected, s"for '$s'")
    }
  }

  test("non-ASCII falls back to code points") {
    val s = "héllo 世界"
    val cps = s.codePoints().toArray
    val expected = cps.foldLeft(0L)((acc, c) => (acc * 131 + c) % PolyHashExpr.P)
    assert(PolyHashExpr.hash(UTF8String.fromString(s)) == expected)
  }

  test("native vector/hash kernels equal their HOF twins on the corpus") {
    val d = "/root/testdata/sf0.001"
    import graft.functions.GraftFunctions._
    // dot product on embeddings
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    assert(e.select(dot(col("v"), col("v")).as("a"), ReferenceTwins.dotHof(col("v"), col("v")).as("b"))
      .filter(col("a") =!= col("b")).count() == 0)
    // shingle hash sets + minhashes on documents
    val t = TextOps.toks(col("text"))
    val both = Tables.documents(spark, d).select(
      TextOps.shingleHashSet(col("text"), 3).as("na"),
      ReferenceTwins.shingleHashSetHof(col("text"), 3).as("ha"))
    assert(both.filter(col("na") =!= col("ha")).count() == 0)
    assert(both.select(TextOps.minhashes(col("na"), 16).as("nm"),
        ReferenceTwins.minhashesHof(col("ha"), 16).as("hm"))
      .filter(col("nm") =!= col("hm")).count() == 0)
    // simhash bit-vote vs independent scala computation
    val th = transform(t, x => TextOps.polyHash(x))
    val sigs = Tables.documents(spark, d)
      .select(col("text"), bitvote32(th).as("sig")).collect()
    sigs.take(50).foreach { r =>
      val hashes = r.getString(0).split(" ").map(s =>
        s.foldLeft(0L)((acc, c) => (acc * 131 + c.toInt) % PolyHashExpr.P))
      val expected = (0 until 32).map { b =>
        val v = hashes.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (v > 0) 1L << b else 0L
      }.sum
      assert(r.getLong(1) == expected)
    }
  }

  test("kernel family values through the Column API") {
    import graft.functions.GraftFunctions._
    def longs(xs: Long*) = array(xs.map(lit): _*)
    val r = spark.range(1).select(
      polyhash(lit("ab")).as("ph"),
      dot(array(lit(1.0d), lit(2.0d)), array(lit(3.0d), lit(4.0d))).as("d"),
      bitvote32(longs(3L)).as("bv"),
      minhashes(longs(10L, 3L), 2).as("mh"),
      shingleHashes(array(lit("ab"), lit("c"), lit("ab")), 2).as("sh")).head()
    assert(r.getLong(0) == 97L * 131 + 98) // matches DuckDB list_reduce oracle value
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == 3L) // single hash: its set bits win the vote
    // mh_j = min((2j+1)h + 12345 + 7919j) mod P over {10, 3}
    assert(r.getSeq[Long](3) == Seq(
      Seq(10L, 3L).map(h => (h + 12345L) % PolyHashExpr.P).min,
      Seq(10L, 3L).map(h => (3 * h + 12345L + 7919L) % PolyHashExpr.P).min))
    // 2-gram shingles of [ab, c, ab]: "ab c", "c ab" — distinct, in order
    def ph(s: String) = s.foldLeft(0L)((a, c) => (a * 131 + c.toInt) % PolyHashExpr.P)
    assert(r.getSeq[Long](4) == Seq(ph("ab c"), ph("c ab")))
  }

  test("dot ≡ dotHof on ragged, null-element and null arrays") {
    import spark.implicits._
    // (equal, ragged, null-element, null-array) cases
    val df = Seq(
      (Some(Seq[java.lang.Double](1.0, 2.0)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (Some(Seq[java.lang.Double](1.0, 2.0, 5.0)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (None, Some(Seq[java.lang.Double](3.0, 4.0)))
    ).toDF("a", "b")
    def vals(c: org.apache.spark.sql.Column): Seq[Any] =
      df.select(c.as("s")).collect().toSeq
        .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val hof = vals(ReferenceTwins.dotHof(col("a"), col("b")))
    val native = vals(Similarity.dot(col("a"), col("b")))
    assert(native == hof)
    assert(hof(0) == 11.0)
    assert(hof(1) == null) // ragged → null, never a garbage read
    assert(hof(2) == null) // null element poisons the sum
    assert(hof(3) == null) // null array propagates
  }

  test("works inside higher-order lambdas (shingle hashing path)") {
    val r = spark.range(1)
      .select(transform(array(lit("ab"), lit("c")), s => GraftFunctions.polyhash(s)))
      .head().getSeq[Long](0)
    assert(r == Seq(97L * 131 + 98, 99L))
  }

  test("generator graft_shingle_stream: positional rows ≡ the array twin") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    // in-Spark twin built from existing pieces: slice the token array
    // per position and polyhash the joined window
    val t = split(col("text"), " ")
    val twin = docs
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(t) - 3),
          i => GraftFunctions.polyhash(concat_ws(" ", slice(t, i + 1, lit(3)))))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaColumn = docs
      .select(col("doc_id"),
        GraftFunctions.shingleStream(col("text"), 3).as(Seq("pos", "h")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaColumn == twin && viaColumn.nonEmpty)
    // docs shorter than the window emit nothing, not an error
    import spark.implicits._
    assert(Seq("a b").toDF("text")
      .select(GraftFunctions.shingleStream(col("text"), 3).as(Seq("pos", "h")))
      .count() == 0L)
  }
}
