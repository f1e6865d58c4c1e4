package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional POSTINGS index over `documents` — the build
  * side of TextAnalysis.phraseSearch (q187), factored into a salted
  * build-once stage (the DedupIndex/IvfIndex pattern: content-addressed
  * dir, `_SUCCESS` memo, build counter for specs).
  *
  * Positional retrieval is the operator BM25 (q114) cannot express:
  * "these words, ADJACENT, in this order". A bag-of-words index throws
  * the positions away at build time; phrase and proximity queries then
  * need a corpus rescan per query. This stage pays the posexplode once
  * per corpus version and persists (term, doc_id, pos) rows CLUSTERED
  * BY TERM — `repartition(term)` puts each term's postings in one file,
  * and the within-partition (term, doc_id, pos) sort gives parquet
  * row-group min/max stats that prune a probe's scan to just the
  * queried terms' row groups (the probe plan shows PushedFilters on
  * `term`).  A phrase probe then reads |query terms| posting lists, not
  * the corpus.
  *
  * STOP-TERM TIERING: stop-term lists are the known skew of positional
  * postings (same physics as q123's df cap) — one hot term can be a
  * constant fraction of the whole corpus token count, and a flat
  * one-row-per-occurrence layout makes every touch of that list pay a
  * corpus-sized scan of tiny rows. Terms whose document frequency
  * exceeds `HotDf` are therefore built into a PACKED tier: ONE row per
  * (term, doc), positions sort-packed into an array — the row count of
  * a hot list drops from its occurrence count to its df, the per-row
  * (term, doc_id) duplication disappears, and parquet delta-encodes the
  * sorted int arrays (a production build would go one step further and
  * store explicit deltas). `postings()` re-exposes the union as the
  * flat (term, doc_id, pos) relation — probes are layout-oblivious and
  * value-identical (PhraseIndexSpec pins this), and the packed tier
  * only ever explodes AFTER the term equi-filter, so a probe pays
  * df-bounded explode work, never a corpus-sized one.
  *
  * Shape at 100 TB: postings are ~tokens-count rows, but the probe-side
  * cost is driven by the DF of the queried terms only — the classic
  * inverted-index contract. Term-clustered layout means a hot term's
  * list is contiguous (sequential scan), and the adjacency self-joins
  * key on (doc_id, pos) — hash-partitionable, no broadcast of anything
  * corpus-sized. The hot-term relation broadcast during the build is
  * bounded by construction: |hot terms| ≤ total postings / HotDf.
  */
object PhraseIndex {
  import TextOps._

  /** Document-frequency threshold above which a term's postings go to
    * the packed tier. 1000 keeps the driver-SF corpora (≤ ~6k docs at
    * sf0.1) split realistically — true stop terms ("the", "of") tier,
    * content terms stay flat — while bounding the hot-term broadcast at
    * |postings|/1000 rows at any scale. */
  val HotDf = 1000L

  private val Version = "0.0.2"

  def dir(spark: SparkSession, d: String): String =
    SaltedIndex.dir(spark, "postings", Version, s"$d/documents.parquet",
      Seq("corpus" -> d, "tok" -> "space", "hotdf" -> HotDf.toString))

  /** (term, doc_id, pos) postings of the corpus — built once, then
    * loaded from the salted dir. pos is 0-based token position. The
    * relation is the UNION of the flat tier and the exploded packed
    * tier; Catalyst pushes a probe's term filter into both scans, so
    * the packed-tier explode is df-bounded per probed term. */
  def buildOrLoad(spark: SparkSession, d: String): DataFrame =
    postingsAt(spark, SaltedIndex.build(spark, dir(spark, d))(
      buildInto(spark, Tables.documentsDist(spark, d), _, HotDf)))

  private[graft] def postingsAt(spark: SparkSession, p: String): DataFrame = {
    // explicit schemas: a tier can be EMPTY (no hot terms at small SFs
    // → zero part files, schema inference would fail) — an empty tier
    // must read as an empty relation, not an error
    import org.apache.spark.sql.types._
    val flat = spark.read.schema(StructType(Seq(
        StructField("term", StringType), StructField("doc_id", LongType),
        StructField("pos", LongType))))
      .parquet(s"$p/postings")
    val packed = spark.read.schema(StructType(Seq(
        StructField("term", StringType), StructField("doc_id", LongType),
        StructField("positions", ArrayType(LongType)))))
      .parquet(s"$p/postings_hot")
      .select(col("term"), col("doc_id"),
        explode(col("positions")).as("pos"))
    flat.unionByName(packed)
  }

  /** Build both tiers into `p`. Factored on a docs
    * DataFrame so the spec can drive a synthetic hot-term corpus
    * through the real build. */
  private[graft] def buildInto(spark: SparkSession, docs: DataFrame,
      p: String, hotDf: Long): Unit = {
    val postings = docs
      .select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))
    // hot set = terms with df > hotDf; |hot| ≤ |postings|/hotDf rows,
    // so the broadcast is bounded by the tiering threshold itself
    val hotTerms = postings.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > hotDf)
      .select(col("term").as("hot_term"))
    val tagged = postings.join(broadcast(hotTerms),
      col("term") === col("hot_term"), "left")
    tagged.filter(col("hot_term").isNull)
      .select(col("term"), col("doc_id"), col("pos"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
      .write.mode("overwrite").parquet(s"$p/postings")
    tagged.filter(col("hot_term").isNotNull)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$p/postings_hot")
  }
}
