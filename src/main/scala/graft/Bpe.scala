package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer learning + encoding — the
  * tokenizer-training pass of a pretraining pipeline, shaped the way
  * corpus-scale BPE trainers actually run:
  *
  *  - The CORPUS-scale work is exactly one hash-aggregate: token →
  *    count (map-side partial agg, linear, skew-free). Everything
  *    after operates on the word-count table, whose size is the
  *    vocabulary — bounded by the top-`MaxWords` cut (count-desc,
  *    word-asc tie-break, so the cut is deterministic), the standard
  *    trainer cap.
  *  - Merge learning iterates on that BOUNDED table driver-locally —
  *    the same justified collect as IvfIndex's 16 centroids and
  *    PqIndex's 128 codebook rows (a 50k-word table is KBs; spraying
  *    40 driver-synchronized micro-jobs over it would cost more in
  *    scheduling than the loop itself). The learned merge table is a
  *    persisted salted stage (content-addressed by corpus stamp +
  *    params + version, `_SUCCESS`-memoized), so any session reuses
  *    it with ZERO relearning — asserted via `SaltedIndex.builds("bpe")`
  *    in BpeSpec.
  *  - Encoding (q117) never touches the corpus with per-row loops:
  *    each DISTINCT word is encoded once (vocab-sized mapPartitions
  *    with the merge ranks in the task closure), and the corpus joins
  *    that word → piece-count relation on the token key — the same
  *    broadcast-or-shuffle equi-join contract as q62's vocabulary
  *    join. Merges apply in rank order in BOTH learn and encode, so
  *    the two are consistent by construction.
  *
  * Learned state ⇒ no SQL oracle (the merge loop is inexpressible in
  * one SQL statement); BpeSpec pins an independent local recompute of
  * the whole merge table, encode round-trips, piece-count bounds, and
  * the zero-relearn warm path.
  */
object Bpe {
  import TextOps._

  private val Version = "0.0.1"
  val NMerges = 40
  val MaxWords = 50000

  /** One merge applied left-to-right, non-overlapping ("aaaa" under
    * a+a → [aa, aa]). */
  private[graft] def applyMerge(sym: List[String], l: String, r: String)
      : List[String] = {
    val a = sym.toArray
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < a.length) {
      if (i + 1 < a.length && a(i) == l && a(i + 1) == r) { out += l + r; i += 2 }
      else { out += a(i); i += 1 }
    }
    out.toList
  }

  /** Exact greedy BPE on the bounded word-count table: per round,
    * count adjacent symbol pairs weighted by word count, merge the
    * (count-desc, pair-asc) argmax everywhere, record it. Stops early
    * when no pair remains (all words fully merged). */
  private[graft] def learnLocal(wc: Seq[(String, Long)], nMerges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var words = wc.map { case (w, c) => (w.map(_.toString).toList, c) }
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var rank = 0L
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (sym, c) =>
        sym.iterator.zip(sym.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank, l, r, l + r, c))
        words = words.map { case (sym, cnt) => (applyMerge(sym, l, r), cnt) }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** Build-once-or-load of the persisted merge table, in a
    * content-addressed dir: corpus stamp + params + version. */
  def buildOrLoad(spark: SparkSession, d: String): DataFrame = {
    val dir = SaltedIndex.build(spark, SaltedIndex.dir(spark, "bpe", Version,
      s"$d/documents.parquet", Seq("corpus" -> d, "nMerges" -> NMerges.toString,
        "maxWords" -> MaxWords.toString))) { p =>
      // THE corpus pass: one linear hash-agg; the top-MaxWords cut is
      // a TakeOrdered (per-partition heaps), deterministic by the
      // (count, word) tie-break
      val wc = Tables.documentsDist(spark, d)
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word"))
        .limit(MaxWords)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      spark.createDataFrame(learnLocal(wc, NMerges))
        .toDF("rank", "lhs", "rhs", "merged", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$p/merges")
    }
    Tables.parquet(spark, s"$dir/merges")
  }

  /** q116: the learned merge table, rank-ordered. */
  def bpeVocab(spark: SparkSession, d: String): DataFrame =
    buildOrLoad(spark, d).orderBy(col("rank"))

  /** Encode one word: merges apply in rank order (training-consistent
    * by construction). Total for unseen words — they simply stay
    * character-split wherever no merge matches. The EMPTY token (legal
    * under `toks`'s keep-empty split) encodes as one empty piece, so
    * every word contributes ≥ 1 piece and the per-doc ratio arithmetic
    * (`div n_bpe`) can never divide by zero. */
  private[graft] def encodeWord(w: String, merges: Seq[(String, String)])
      : List[String] = {
    if (w.isEmpty) return List("")
    var sym = w.map(_.toString).toList
    val it = merges.iterator
    while (it.hasNext && sym.length > 1) {
      val (l, r) = it.next()
      sym = applyMerge(sym, l, r)
    }
    sym
  }

  /** q117: per-document BPE token statistics under the learned merges
    * — the fertility / compression profile a tokenizer owner monitors
    * (pieces per word, chars per piece). Each DISTINCT word is encoded
    * once (vocab-sized work; the merge list rides the task closure —
    * NMerges rows, far under broadcast thresholds), then the corpus
    * joins the word → n_pieces relation on its token key and
    * aggregates per document. Integer permille arithmetic keeps the
    * stats exact. */
  def bpeEncode(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val merges = buildOrLoad(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).map(m => (m._2, m._3)).toSeq
    val words = Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val pieces = words.select(col("word")).distinct()
      .as[String]
      .mapPartitions(it => it.map(w => (w, encodeWord(w, merges).length.toLong)))
      .toDF("word", "n_pieces")
    words.join(pieces, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_bpe"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_bpe"), col("n_chars"),
        expr("(n_bpe * 1000) div n_words").as("pieces_per_word_milli"),
        expr("(n_chars * 1000) div n_bpe").as("chars_per_piece_milli"))
      .orderBy(col("doc_id"))
  }
}
