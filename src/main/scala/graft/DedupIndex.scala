package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted standing-corpus dedup index — the build side of
  * Dedup.ingestDedup, factored into a salted build-once stage (the
  * IvfIndex pattern: content-addressed dir, `_SUCCESS` memo, a build
  * count per prefix for specs).
  *
  * Incremental ingest dedup is the steady-state operation of a real
  * 100 TB pipeline: every arriving batch must be checked against the
  * standing corpus, and recomputing the corpus's shingle sets and band
  * keys per batch — a full-corpus scan plus per-row hashing — dwarfs
  * the batch's own work. This stage pays that cost once per corpus
  * version; an ingest then scans ONLY the batch and probes:
  *
  *  - `keys`:  distinct lowered corpus texts, for the exact-match
  *    anti-join (a production index would store a 128-bit content hash
  *    instead of the text — same plan shape, smaller index);
  *  - `sets`:  (doc_id, shingle-hash set), for exact Jaccard verify on
  *    candidates;
  *  - `bands`: (doc_id, band index, band key) exploded MinHash/LSH
  *    band keys, for cross-set candidate generation.
  *
  * `bands` is derived from the re-read `sets` parquet, so corpus text
  * is shingled exactly once even within the build. The directory key
  * covers the corpus file stamps + shingle/band parameters + version —
  * regenerated data or a parameter change relocates the index, so a
  * stale index can never be silently reused (SaltedIndex).
  */
object DedupIndex {
  import TextOps._

  // 0.0.2: adds the distinct chunk-hash relation (q155 ingest-time
  // paragraph dedup) — the bump relocates and rebuilds old indexes
  private val Version = "0.0.2"

  /** The standing-corpus membership rule shared with ingestDedup:
    * source index < 15 is corpus, >= 15 is the arriving batch. */
  private[graft] def isCorpus = substring(col("source"), 4, 10).cast("int") < 15

  def dir(spark: SparkSession, d: String): String =
    SaltedIndex.dir(spark, "dedup", Version, s"$d/documents.parquet",
      Seq("corpus" -> d, "shingleN" -> NearDupShingleN.toString, "split" -> "srcIdx<15"))

  /** The index dir, built once. */
  private def built(spark: SparkSession, d: String): String =
    SaltedIndex.build(spark, dir(spark, d))(build(spark, d, _))

  /** (exact keys, shingle sets, band keys) of the standing corpus —
    * built once, then loaded from the salted dir. */
  def buildOrLoad(spark: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val p = built(spark, d)
    (Tables.parquet(spark, s"$p/keys"),
      Tables.parquet(spark, s"$p/sets"),
      Tables.parquet(spark, s"$p/bands"))
  }

  /** The distinct 16-token chunk hashes of the standing corpus — the
    * membership side of q155's ingest-time paragraph dedup. Same
    * salted dir, so a warm corpus version pays zero chunk work. */
  def buildOrLoadChunks(spark: SparkSession, d: String): DataFrame =
    Tables.parquet(spark, s"${built(spark, d)}/chunks")

  private def build(spark: SparkSession, d: String, p: String): Unit = {
    val corpus = Tables.documentsDist(spark, d).filter(isCorpus)
    corpus.select(lower(col("text")).as("k")).distinct()
      .write.mode("overwrite").parquet(s"$p/keys")
    corpus
      .select(col("doc_id"), shingleHashSet(col("text"), NearDupShingleN).as("hs"))
      .filter(size(col("hs")) > 0)
      .write.mode("overwrite").parquet(s"$p/sets")
    // band keys from the persisted sets — the corpus text is shingled
    // exactly once, even inside the build
    Tables.parquet(spark, s"$p/sets")
      .select(col("doc_id"),
        posexplode(nearDupBandKeys(col("hs"))).as(Seq("b", "key")))
      .write.mode("overwrite").parquet(s"$p/bands")
    // distinct chunk membership for sub-document ingest dedup (q155)
    Dedup.chunkRows(corpus).select(col("h")).distinct()
      .write.mode("overwrite").parquet(s"$p/chunks")
  }
}
