package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization (PQ) index — the build side of
  * Similarity.pqTopK (q83), the memory-compression ANN path.
  *
  * The 64-dim vector splits into `m`=8 subvectors of 8 dims; each
  * subspace gets its own `ksub`=16-centroid KMeans codebook; a vector
  * is encoded as 8 small codes. At 100 TB that is the difference
  * between a scan of raw vectors (256 B/vector at float32) and a scan
  * of 8-byte codes (32×) with the codebooks (8·16·8 doubles, ~8 KB)
  * broadcast everywhere — the corpus bytes the ADC pass reads shrink by
  * the same factor the int8 path (q48) shrinks them by 4.
  *
  * Like IvfIndex, the build (one per-subspace Lloyd run that learns all
  * 8 codebooks in the same jobs, plus one encode pass) is a
  * content-addressed salted stage paid once: the directory key covers
  * the corpus file stamps, (m, ksub), and the index version, and
  * a `_SUCCESS` flag memoizes completion — a second invocation in any
  * session runs ZERO KMeans iterations (spec:
  * `SaltedIndex.builds("pq")`).
  *
  * The codes table here also carries the raw vector and its norm so the
  * exact re-rank needs no second corpus join at this test scale; a
  * production layout keeps codes and raw vectors in separate tables and
  * fetches raw vectors for re-rank candidates only.
  */
object PqIndex {

  // 0.0.3: dropped the vestigial `seed` cache-key salt (deterministic
  // first-KSub Lloyd has no randomization knob); the bump relocates
  // any pre-0.0.3 index.
  private val Version = "0.0.3"

  val M = 8      // subspaces
  val DSub = 8   // dims per subspace (M * DSub = 64)
  val KSub = 16  // centroids per subspace
  val Rounds = 2 // Lloyd assignment rounds (oracle contract, as IvfIndex)

  /** Content-addressed index dir (SaltedIndex): corpus file stamps +
    * (m, ksub) + version — any change relocates the index. */
  def dir(spark: SparkSession, d: String): String =
    SaltedIndex.dir(spark, "pq", Version, s"$d/embeddings.parquet",
      Seq("corpus" -> d, "m" -> M.toString, "ksub" -> KSub.toString))

  /** (codebooks as (subspace, code, micro-unit centroid), encoded
    * corpus). Codebooks are tiny (M·KSub rows) — always broadcast. */
  def buildOrLoad(spark: SparkSession, d: String)
      : (Seq[(Int, Int, Array[Long])], DataFrame) = {
    val p = SaltedIndex.build(spark, dir(spark, d))(build(spark, d, _))
    val books = Tables.parquet(spark, s"$p/codebooks")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .sortBy(t => (t._1, t._2)).toSeq
    (books, Tables.parquet(spark, s"$p/codes"))
  }

  /** Per-subspace fixed-round integer Lloyd — Similarity.lloyd with
    * `sub = pos div DSub` as its extra key, so all M codebooks
    * learn in ONE set of jobs (not M sequential fits). Same
    * determinism argument as IvfIndex: first-KSub init, exact integer
    * micro-unit argmin, floor-mean update — which is what upgrades
    * q83 from rows-only to fully oracle-checked. */
  private def build(spark: SparkSession, d: String, p: String): Unit = {
    val emb = Tables.embeddings(spark, d)
    // cached for the whole (eager) build, whose scope is the one
    // Memo.commit opens around it: every Lloyd round and the final encode
    // re-consume the exploded component relation — without the cache
    // each round would re-run the full posexplode chain
    val q = CacheScope.cached(Similarity.microComponents(emb,
      expr(s"cast(pos as bigint) div $DSub").as("sub")))
    val (cent, asg) = Similarity.lloyd(emb, q, Seq("sub"), KSub, Rounds)
    val codes = asg
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, cid))), s -> cast(s.cid as int))")
        .as("codes"))
    Similarity.withNorm(emb).join(codes, "vec_id")
      .select(col("vec_id"), col("v"), col("nn"), col("codes"))
      .write.mode("overwrite").parquet(s"$p/codes")
    // (s, c, cv): exact micro-unit centroid components in dim order
    cent.groupBy(col("sub").cast("int").as("s"), col("cid").cast("int").as("c"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), x -> x.cm)")
        .as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$p/codebooks")
  }
}
