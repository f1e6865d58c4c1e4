package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference formulations the specs check the engine against: the
  * interpreted higher-order-function twins of the native kernels
  * (FunctionsSpec pins them equal) and the exact all-pairs baseline of
  * the LSH-blocked embedding dedup (DedupSpec, PlanSpec). No query
  * runs them. */
object ReferenceTwins {
  import TextOps.P

  /** Twin of `Similarity.dot` (DotProductExpr). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Characters of a string, excluding the trailing "" that Spark's
    * `split(s, "")` keeps (Java split with limit -1) and DuckDB's
    * `string_split(s, '')` does not. */
  private def chars(s: Column): Column = filter(split(s, ""), c => c =!= "")

  /** Twin of `TextOps.polyHash` (PolyHashExpr): the fold it documents. */
  def polyHashHof(s: Column): Column =
    aggregate(chars(s), lit(0L), (acc, c) => (acc * 131L + ascii(c)) % P)

  /** Twin of `TextOps.shingleHashSet` (ShingleHashesExpr). */
  def shingleHashSetHof(text: Column, n: Int): Column =
    array_distinct(transform(TextOps.shingles(TextOps.toks(text), n), s => polyHashHof(s)))

  /** The i-th MinHash permutation of a hash value:
    * ((2i+1)·h + 12345 + 7919·i) mod P — a_i odd keeps the map
    * bijective mod 2^k factors; constants mirrored in the oracle. */
  private def minhashPerm(h: Column, i: Column): Column =
    ((lit(2L) * i + 1L) * h + lit(12345L) + lit(7919L) * i) % P

  /** Twin of `TextOps.minhashes` (MinHashesExpr). */
  def minhashesHof(hset: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hset, h => minhashPerm(h, i))))

  /** Exact all-pairs cosine ≥ 0.4 — the quadratic ground-truth twin of
    * `Dedup.embeddingNearDup` (deliberately not a `queries` entry: its
    * BroadcastNestedLoopJoin is the canonical 100×-scale killer). */
  def embeddingNearDupExact(spark: SparkSession, d: String): DataFrame = {
    val e = Similarity.withNorm(Tables.embeddings(spark, d))
    val cos = Similarity.cosine(col("a.v"), col("b.v"), col("a.nn"), col("b.nn"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cos)
      .filter(col("cos") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
