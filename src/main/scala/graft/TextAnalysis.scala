package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID, quality scoring, token statistics,
  * document fingerprinting (north-star extensions, SURVEY.md §2.9).
  *
  * Every score is per-row column arithmetic (whole-stage codegen, no
  * UDF, no shuffle except the final presentation sort), and every
  * formula is integer/double arithmetic the DuckDB oracle replays
  * exactly.
  */
object TextAnalysis {
  import TextOps._

  private val stopEn = Seq("the", "a", "of", "and", "is", "to", "in")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "zu", "ein")
  private val stopEs = Seq("el", "la", "de", "y", "es", "un", "en")

  private def countIn(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isInCollection(words)))

  /** The language whose stopword count (`s_en`, `s_de`, `s_es`) is
    * largest; ties prefer en, then de. */
  private[graft] def stopwordLang: Column =
    when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
      .when(col("s_de") >= col("s_es"), "de")
      .otherwise("es")

  /** n-gram/stopword language-ID heuristic: count stopword hits per
    * language profile, predict the argmax (ties break en < de < es —
    * the CASE chain is mirrored verbatim in the oracle). The synthetic
    * corpus is English-ish word salad, so `pred` ≠ `lang` is expected —
    * the oracle checks the *operator*, not corpus truth. */
  def langId(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("lang"),
        countIn(t, stopEn).cast("long").as("s_en"),
        countIn(t, stopDe).cast("long").as("s_de"),
        countIn(t, stopEs).cast("long").as("s_es"))
      .withColumn("pred", stopwordLang)
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: unique-token ratio, stopword ratio, length factor,
    * mean token length — combined into one bounded score. */
  def qualityScore(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("n_chars"),
        size(t).cast("long").as("n_tok"),
        size(array_distinct(t)).cast("long").as("n_uniq"),
        countIn(t, stopEn).cast("long").as("n_stop"))
      .withColumn("uniq_ratio", col("n_uniq") / col("n_tok"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tok"))
      .withColumn("len_factor", least(col("n_tok"), lit(200L)) / lit(200.0d))
      .withColumn("quality",
        round(col("uniq_ratio") * 0.5 + col("stop_ratio") * 0.2 + col("len_factor") * 0.3, 6))
      .select(col("doc_id"), col("n_tok"), round(col("uniq_ratio"), 6).as("uniq_ratio"),
        round(col("stop_ratio"), 6).as("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token statistics: counts, distinct counts, longest token —
    * the BPE-ish pre-tokenization accounting pass. */
  def tokenStats(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        size(t).cast("long").as("n_tok"),
        size(array_distinct(t)).cast("long").as("n_uniq"),
        length(col("text")).cast("long").as("n_chars_m"),
        aggregate(t, lit(0L), (acc, x) => greatest(acc, length(x).cast("long"))).as("max_tok_len"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish pre-tokenization: the GPT-2-style regex split into letter
    * runs / digit runs / punctuation singletons (the pass a tokenizer
    * runs before merges). Counts per class + the resulting subword-unit
    * total; all per-row regex work, zero shuffle, and a regex grammar
    * simple enough that Java and DuckDB's RE2 agree byte-for-byte. */
  def subwordStats(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long").as("n_alpha"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_digit"),
        size(expr("regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)")).cast("long").as("n_punct"),
        (size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")))
          .cast("long").as("n_units"))
      .orderBy(col("doc_id"))

  /** C4-style quality gate: a rule cascade (length bounds, then
    * repetition) with a first-fail verdict per document — the pass a
    * pretraining pipeline runs between scoring and sampling. Pure
    * per-row arithmetic, zero shuffle; the verdict column feeds a
    * partitioned write so downstream stages scan only `keep`. All rule
    * comparisons are int/int divisions both engines evaluate exactly,
    * so the verdict hash-matches cell-for-cell. */
  def corpusFilter(spark: SparkSession, d: String): DataFrame =
    corpusFilterDf(Tables.documentsDist(spark, d))

  private[graft] def corpusFilterDf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    docs
      .select(col("doc_id"),
        size(t).cast("long").as("n_tok"),
        size(array_distinct(t)).cast("long").as("n_uniq"))
      .withColumn("verdict",
        when(col("n_tok") < 20, "too_short")
          .when(col("n_tok") > 90, "too_long")
          .when(col("n_uniq") / col("n_tok") < 0.45, "repetitive")
          .otherwise("keep"))
      .select(col("doc_id"), col("n_tok"), col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Weighted-term search: score = Σ weight(term) × tf(term), top-10
    * by score (doc_id tie-break). The scan is per-row term counting —
    * zero shuffle — and the global top-k plans as
    * TakeOrderedAndProject (per-partition heaps, no sort of the full
    * corpus). Integer scoring keeps ranking portable across engines;
    * a production relevance pass would add BM25's df/length terms from
    * a broadcast vocabulary table — same plan shape. */
  def termSearch(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    def tf(term: String) =
      size(filter(t, x => x === term)).cast("long").as(s"tf_$term")
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), tf("hash"), tf("join"), tf("vector"))
      .withColumn("score",
        col("tf_hash") * 3L + col("tf_join") * 2L + col("tf_vector"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Gopher-style repetition statistics: per-document duplicate-token
    * and duplicate-5-gram fractions plus the dominant token — the
    * "fraction of characters in duplicate lines / most common n-gram"
    * family of pretraining quality filters, adapted to the corpus's
    * single-line texts.
    *
    * Shape: one scan computes the per-row 5-gram stats (native-ish
    * array ops, carried through the explode), then token counts are a
    * two-level hash aggregation — (doc_id, word) then doc_id — both
    * with map-side partial aggregation, so the operator is linear and
    * skew-free at 100 TB (keys are per-document). The dominant token
    * with a deterministic tie-break (max count, then lexicographic
    * min) is one `min(struct(-count, word))` — an aggregate, not a
    * per-doc sort. Fractions are integer permille (`div`), bit-exact
    * in both engines. */
  def repetitionStats(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val g = shingles(t, 5)
    val words = Tables.documentsDist(spark, d)
      // The 5-gram stats MUST materialize in a Project BELOW the
      // Generate: selected alongside explode() they land in the
      // projection above it and re-evaluate once per exploded word —
      // ~60× the work, interpreted (HOFs are CodegenFallback). The
      // two-step select pins them to one evaluation per document
      // (157 s → ~2 s at sf0.1). n_5grams needs no array at all:
      // it's max(n_tok−4, 0) arithmetically.
      .select(col("doc_id"),
        greatest(size(t) - 4, lit(0)).cast("long").as("n_5grams"),
        size(array_distinct(g)).cast("long").as("n_uniq_5grams"),
        t.as("t"))
      .select(col("doc_id"), col("n_5grams"), col("n_uniq_5grams"),
        explode(col("t")).as("word"))
    words
      // n_5grams / n_uniq_5grams are functionally dependent on doc_id;
      // keeping them in the key avoids a rejoin after the explode
      .groupBy(col("doc_id"), col("n_5grams"), col("n_uniq_5grams"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_5grams"), col("n_uniq_5grams"))
      .agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_uniq_words"),
        min(struct((-col("c")).as("nc"), col("word").as("w"))).as("tw"))
      .select(col("doc_id"), col("n_words"), col("n_uniq_words"),
        expr("(n_words - n_uniq_words) * 1000 div n_words").as("dup_word_permille"),
        col("tw.w").as("top_word"), (-col("tw.nc")).as("top_count"),
        col("n_5grams"), col("n_uniq_5grams"),
        when(col("n_5grams") > 0,
          expr("(n_5grams - n_uniq_5grams) * 1000 div n_5grams"))
          .otherwise(0L).as("dup_5gram_permille"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 TF-IDF terms per document — the relevance/keyword-extraction
    * pass of a retrieval or data-inspection pipeline. IDF uses exact
    * integer milli-units (`1000·N div df`) so scores are portable.
    *
    * Shape: token explode → (doc_id, word) hash-agg for tf; document
    * frequency is a word-keyed re-aggregation of that SAME tf relation
    * (no second scan of the corpus); the 1-row corpus count is a
    * scalar broadcast. The df join is left to the planner ON PURPOSE:
    * a vocabulary is usually broadcast-sized (AQE broadcasts it here),
    * but a web-scale corpus's token set — typo-laden, hundreds of
    * millions of entries — can exceed the driver, and a forced
    * broadcast() hint would OOM where a word-keyed shuffle join (the
    * same key the tf relation already carries) degrades gracefully.
    * Per-doc top-3 is a window row_number over doc_id partitions — at
    * 100 TB each partition is one document's vocabulary. */
  def tfidfTerms(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsDist(spark, d)
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(df_, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("milli_idf", expr("(1000 * n_docs) div df"))
      .withColumn("score", col("tf") * col("milli_idf"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** q80: edit-distance fuzzy pairing — candidate pairs from cheap
    * equi-join blocking (same lang, same first token, same length
    * band), then exact `levenshtein` on the 30-char heads of the
    * candidates ONLY. The same candidates→verify discipline as the
    * dedup family: the quadratic metric runs on blocked pairs, never
    * all-pairs (PlanSweep keeps it honest). Levenshtein is the
    * classic DP edit distance in both engines — identical integers.
    *
    * Scale honesty: the blocking KEY CARDINALITY here is bounded by
    * vocabulary × bands, so at web scale individual blocks grow with
    * the corpus and in-block pairing re-approaches quadratic. This
    * operator demonstrates the exact-verify step; a 100 TB deployment
    * blocks on content signatures instead (the q23 band keys or q24
    * signature chunks, whose per-key populations stay collision-sized)
    * and keeps this verify stage unchanged. */
  def fuzzyPairs(spark: SparkSession, d: String): DataFrame = {
    val t = Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 30).as("head30"),
        element_at(toks(col("text")), 1).as("tok0"),
        (size(toks(col("text"))) / 10).cast("long").as("len_band"))
    val a = t.select(col("doc_id").as("doc_a"), col("lang"), col("tok0"),
      col("len_band"), col("head30").as("head_a"))
    val b = t.select(col("doc_id").as("doc_b"), col("lang"), col("tok0"),
      col("len_band"), col("head30").as("head_b"))
    a.join(b, Seq("lang", "tok0", "len_band"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("head_a"), col("head_b")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 20)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q81: array-algebra suite — sort/distinct/slice/intersect/union
    * over token arrays, all codegen built-ins, emitted as scalars or
    * joined strings so the result stays oracle-relational. */
  def arrayOps(spark: SparkSession, d: String): DataFrame = {
    val t = array_distinct(toks(col("text")))
    val stop = array(stopEn.map(lit): _*)
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        size(t).cast("long").as("n_uniq"),
        array_join(slice(array_sort(t), 1, 3), "|").as("head3_sorted"),
        size(array_intersect(t, stop)).cast("long").as("n_stop_uniq"),
        size(array_union(t, stop)).cast("long").as("n_union_stop"),
        arrays_overlap(t, stop).as("has_stop"),
        element_at(array_sort(t), -1).as("max_token"))
      .orderBy(col("doc_id"))
  }

  /** q82: MapType in flight — per-document token frequencies collected
    * into a map column (`map_from_entries`), then exploded back to
    * relational rows. Map entry order is collect order (partition-
    * nondeterministic), which is exactly why the contract emits
    * exploded rows: the SET of entries is deterministic, the map's
    * internal order never leaks. */
  def wordMap(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("c")))).as("freq"))
      .select(col("doc_id"), explode(col("freq")))
      .select(col("doc_id"), col("key").as("word"), col("value").as("n"))
      .orderBy(col("doc_id"), col("word"))

  /** q88: PII redaction — the scrubbing pass every training corpus
    * needs before release. Deterministic synthetic PII (an email and a
    * phone derived from doc_id) is appended so the operator provably
    * fires, then emails and phones are masked by global regex rewrite
    * and counted. Patterns stay in the character-class subset that
    * Java regex and RE2 interpret identically. Per-row codegen. */
  def piiRedact(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsDist(spark, d)
      .withColumn("raw", concat(col("text"), lit(" contact: user"),
        col("doc_id"), lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .withColumn("masked", maskPii(col("raw")))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(raw, '$EmailRe', 0)")).cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(raw, '$PhoneRe', 0)")).cast("long").as("n_phones"),
        expr("right(masked, 40)").as("tail40"))
      .orderBy(col("doc_id"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  private val PhoneRe = "555-[0-9]{4}"

  /** The one masking chain (email then phone) q88 and the DAG's Redact
    * stage both apply — a new PII pattern is added HERE and the q88
    * oracle, nowhere else. */
  private def maskPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** q108: bigram fluency score — the n-gram-LM quality filter (the
    * CCNet/KenLM perplexity idea) in EXACT integer arithmetic. The
    * corpus is its own language model: c2(w1,w2) bigram and c1(w1)
    * head counts come from two linear hash-aggs over the corpus; each
    * document scores the average of its bigrams' conditional
    * frequencies, floor-scaled to micro-units (`c2·1e6 div c1`, then
    * `sum div n`) so the value is engine-portable — no log, no float.
    * Low scores mark disfluent/ungrammatical docs exactly as high
    * perplexity would, monotonically in the unigram-backoff LM score.
    *
    * Scale shape: the count tables are corpus-level but keyed by
    * (bigram)/(head) — plain hash joins, NOT broadcasts (a 100 TB
    * corpus's vocabulary does not fit a broadcast); per-doc work is one
    * row-local shingle projection and the final per-doc hash-agg. */
  def bigramFluency(spark: SparkSession, d: String): DataFrame = {
    // referenced by both count joins and the score pass
    val bi = graft.CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(shingles(toks(col("text")), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1)))
    val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(c2, Seq("bg")).join(c1, Seq("w1"))
      .withColumn("s", expr("c2 * 1000000 div c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(s) div count(1)").as("fluency_micro"))
      .orderBy(col("doc_id"))
  }

  /** DataFrame-in redaction for the curation DAG: masks PII patterns
    * in place (schema preserved, no rows dropped). */
  private[graft] def redactDf(docs: DataFrame): DataFrame =
    docs.withColumn("text", maskPii(col("text")))

  /** q99: map higher-order functions — the per-doc token-frequency map
    * filtered to repeated tokens (`map_filter`) and rescaled to
    * permille-of-doc (`transform_values`), then exploded back to rows.
    * Map HOFs keep the per-document state in ONE cell through the
    * transformation chain — no re-shuffle between steps — and the
    * relational explode at the end makes the result oracle-checkable
    * (the oracle recomputes the same rows with GROUP BY ... HAVING). */
  def repeatedTokenShares(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsDist(spark, d).filter(col("doc_id") < 100)
    val freq = docs
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tok"),
        explode(toks(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("n_tok"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("c")))).as("freq"))
    freq
      .select(col("doc_id"), col("n_tok"),
        explode(transform_values(
          map_filter(col("freq"), (_, v) => v >= 2L),
          (_, v) => v * 1000L)).as(Seq("word", "milli")))
      .select(col("doc_id"), col("word"),
        expr("milli div 1000").as("n"),
        expr("milli div n_tok").as("permille"))
      .orderBy(col("doc_id"), col("word"))
  }

  /** q114: BM25 retrieval — the standard relevance ranking a corpus
    * search / hard-negative-mining pass runs, in EXACT integer
    * micro-units so the oracle replays it bit-for-bit. The classic
    * log-idf is replaced by the rational Robertson idf
    * `(N − df + 0.5)/(df + 0.5)`, scaled ×1000 with one floor:
    * `(1000·(2(N−df)+1)) div (2df+1)` — same monotone df ordering,
    * no cross-engine `ln` drift (ln is NOT correctly rounded; `div`
    * is exact). k1 = 1.2 and b = 0.75 live as milli-constants; every
    * ratio takes exactly ONE `div` so the floor points are identical
    * in both engines.
    *
    * Shape: one corpus scan computes per-doc length + per-term tf as
    * pure row arithmetic (zero shuffle, same as q53); corpus stats
    * (N, total tokens, per-term df) are ONE global aggregate over that
    * same narrow projection — column pruning keeps the second scan to
    * the token column — re-entering as a broadcast one-row scalar.
    * The top-10 plans as TakeOrderedAndProject (per-partition heaps,
    * no full sort). At 100 TB the df/avgdl statistics would come from
    * a maintained vocabulary stage (q65's partial-state shape) rather
    * than a rescan; the scoring scan is unchanged. */
  def bm25Search(spark: SparkSession, d: String): DataFrame = {
    val perDoc = bm25TermFreqs(spark, d)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("n_tokens") +:
        Bm25Terms.map(w => count(when(col(s"tf_$w") > 0, 1)).as(s"df_$w")): _*)
    bm25Normed(perDoc, stats)
      .withColumn("score_micro", bm25Score("n_docs", "df"))
      .filter(col("score_micro") > 0)
      .select(Seq(col("doc_id"), col("dl")) ++
        Bm25Terms.map(w => col(s"tf_$w")) :+ col("score_micro"): _*)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** The query terms q114 and its dedup-corrected twin score. */
  private[graft] val Bm25Terms = Seq("hash", "join", "vector")

  /** Per doc: `doc_id`, token length `dl` and `tf_<term>` per Bm25Terms
    * term — pure row arithmetic, zero shuffle. */
  private[graft] def bm25TermFreqs(spark: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id") +: size(t).cast("long").as("dl") +:
        Bm25Terms.map(w => size(filter(t, x => x === w)).cast("long").as(s"tf_$w")): _*)
  }

  /** `perDoc` with the one-row corpus `stats` broadcast in, plus the
    * length normalizer `norm_milli` = 1000·(1 − b + b·dl/avgdl), b = ¾. */
  private[graft] def bm25Normed(perDoc: DataFrame, stats: DataFrame): DataFrame =
    perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl_milli", expr("(1000 * n_tokens) div n_docs"))
      .withColumn("norm_milli", expr("250 + (750000 * dl) div avgdl_milli"))

  /** Σ over Bm25Terms of the micro BM25 term score (k1 = 1.2) with the
    * rational Robertson idf over corpus size `nCol` and per-term
    * document frequencies `<dfPrefix>_<term>`. */
  private[graft] def bm25Score(nCol: String, dfPrefix: String): Column =
    Bm25Terms.map { w =>
      expr(s"""(((1000 * (2 * ($nCol - ${dfPrefix}_$w) + 1)) div (2 * ${dfPrefix}_$w + 1)) *
              |((tf_$w * 2200000000) div
              |  (tf_$w * 1000 + (1200 * norm_milli) div 1000))) div 1000"""
        .stripMargin.replace("\n", " "))
    }.reduce(_ + _)

  /** q118: winnowing fingerprint selection (Schleimer et al., SIGMOD
    * 2003 — the MOSS algorithm): over the POSITIONAL 3-gram shingle
    * hash stream, each window of w=4 consecutive shingles selects its
    * minimum hash (rightmost occurrence on ties), and the distinct
    * selected (pos, hash) pairs are the document's fingerprints. The
    * guarantee winnowing buys over plain min-hash: any shared
    * substring of ≥ w+n−1 tokens yields a shared fingerprint, while
    * the density stays ~2/(w+1) — the content-defined selection a
    * shard-local plagiarism/overlap index stores at 100 TB.
    *
    * The shingle stream comes from the CUSTOM GENERATOR
    * `graft_shingle_stream` (ShingleStreamExpr — the engine's UDTF
    * surface): positional rows are streamed into the window operator
    * without materializing per-document hash arrays. The rightmost
    * tie-break is one `min(struct(h, −pos))` over a 4-row running
    * frame — an aggregate, not a per-window sort; the window is
    * partitioned by doc_id, so at scale each partition sorts only its
    * own documents' streams. */
  def winnowFingerprints(spark: SparkSession, d: String): DataFrame =
    winnowFp(spark, d).orderBy(col("doc_id"), col("pos"))

  /** The fingerprint relation (doc_id, pos, h), distinct — shared by
    * q118 (presentation) and q119 (overlap join). */
  private[graft] def winnowFp(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-3, 0)
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingleStream(col("text"), 3).as(Seq("pos", "h")))
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(w))
      .filter(col("pos") >= 3) // full windows only
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
      .distinct()
  }

  /** q119: cross-document overlap from shared winnowing fingerprints —
    * what a plagiarism / verbatim-reuse index actually does with q118's
    * selection: pairs sharing ≥ 3 fingerprint hashes, scored by
    * shared/min(|fp|) permille. The join is the fingerprint inverted
    * index (equi-join on h) — cost Σ_h C(df,2) over the WINNOWED
    * density (~2/(w+1) of shingles), i.e. the same shape as q22's
    * exact index but ~60× fewer postings at w=4,n=3 — that reduction
    * is the point of storing fingerprints instead of shingles. Sizes
    * join back per-doc; the planner broadcasts at test scale and may
    * degrade to shuffle joins at corpus scale (same contract as q62's
    * vocabulary join). */
  def winnowOverlap(spark: SparkSession, d: String): DataFrame = {
    val fp = CacheScope.cached(
      winnowFp(spark, d).select(col("doc_id"), col("h")).distinct())
    val sz = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    fp.as("a")
      .join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .join(sz.toDF("doc_a", "nfp_a"), "doc_a")
      .join(sz.toDF("doc_b", "nfp_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("nfp_a"), col("nfp_b"),
        expr("(1000 * shared) div least(nfp_a, nfp_b)").as("overlap_permille"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q128: collocation mining — adjacent-token bigrams ranked by LIFT
    * (pointwise association without the logarithm): lift =
    * P(w1w2) / (P(w1)·P(w2)) = c_ab·N² / (M·c_a·c_b), reported in
    * exact integer milli-units. The one formula phrase-mining runs to
    * pull multiword expressions ("machine learning") out of a corpus
    * before tokenizer training; PMI = log(lift) is monotone in it, so
    * the RANKING is PMI's ranking with none of the cross-engine `ln`
    * drift (the q114 idf argument).
    *
    * The numerator 1000·c_ab·N² is a DECIMAL(38,0) product — at corpus
    * scale (N ~ 10^12 tokens) the Long ceiling is real, and decimal
    * `div` keeps the floor exact on both engines (DuckDB computes the
    * same product in HUGEINT). Shape: one explode each for bigram and
    * unigram counts (two linear hash-aggs), the vocabulary-keyed join
    * of pair counts to their unigram counts (planner-chosen; the pair
    * side is already collapsed to counts so the join is vocabulary-
    * sized, not corpus-sized), the corpus totals as a one-row broadcast
    * scalar, and a top-50 TakeOrdered. */
  def collocations(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsDist(spark, d).select(toks(col("text")).as("tk"))
    val bi = docs.select(explode(when(size(col("tk")) >= 2,
        transform(sequence(lit(0), size(col("tk")) - 2),
          i => struct(element_at(col("tk"), i + 1).as("w1"),
            element_at(col("tk"), i + 2).as("w2"))))
        .otherwise(array())).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = docs.select(explode(col("tk")).as("w"))
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val stats = docs.agg(
      sum(size(col("tk"))).cast("long").as("n_uni"),
      sum(greatest(size(col("tk")) - 1, lit(0))).cast("long").as("n_bi"))
    bc.join(uc.select(col("w").as("w1"), col("cw").as("n_w1")), "w1")
      .join(uc.select(col("w").as("w2"), col("cw").as("n_w2")), "w2")
      .crossJoin(broadcast(stats))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        expr("""(cast(1000 as decimal(38,0)) * n_pair * n_uni * n_uni)
                | div (cast(n_bi as decimal(38,0)) * n_w1 * n_w2)"""
          .stripMargin.replace("\n", " ")).as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Document fingerprinting: full-text rolling hash plus a winnowed
    * min-hash over 8-token windows (the content-defined signature used
    * for shard-local dedup at ingest). */
  def fingerprint(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"),
        polyHash(col("text")).as("fp"),
        // min over the distinct window hashes == min over all windows,
        // so the native distinct-shingle kernel applies directly
        array_min(graft.functions.GraftFunctions.shingleHashes(toks(col("text")), 8)).as("fp_win"))
      .orderBy(col("doc_id"))

  /** q148: multinomial naive-Bayes language classification in exact
    * integer arithmetic — the learned upgrade of q28's fixed stopword
    * profiles. Train on `doc_id % 5 != 0` (token counts per (lang,
    * token) with Laplace smoothing), classify the held-out fifth.
    * Instead of float log-likelihoods (whose summation order would
    * diverge cross-engine), each token contributes the integer
    * `(10^12·(c+1)) div (total_lang + V)` — a fixed-point likelihood
    * the oracle replays term-for-term; argmax ties break on lang asc
    * via a min(struct(-score, lang)) aggregate. The shared-vocabulary
    * word-salad corpus makes accuracy near-chance BY DESIGN — the
    * oracle grades the operator, not the corpus.
    *
    * Shape at 100 TB: the model is one hash-agg over train tokens
    * (vocab·|langs| rows — data-bounded, stays distributed); scoring
    * joins test tokens × the 5-row lang alphabet to the model on the
    * token key (shuffle equi-join, model NOT collected or broadcast),
    * then one per-(doc,lang) sum and one per-doc argmin agg. */
  def nbLangClassify(spark: SparkSession, d: String): DataFrame =
    nbLangClassifyDf(Tables.documentsDist(spark, d))

  private[graft] def nbLangClassifyDf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(toks(col("text"))).as("w"))
    val train = tok.filter(col("doc_id") % 5 =!= 0)
    // per-(lang, token) counts and per-lang totals; V = train vocab size
    val counts = train.groupBy(col("lang").as("l"), col("w"))
      .agg(count(lit(1)).as("c"))
    val totals = train.groupBy(col("lang").as("l"))
      .agg(count(lit(1)).as("tot"))
    val vocabN = train.select(countDistinct(col("w")).as("v"))
    val langs = broadcast(totals.crossJoin(broadcast(vocabN))
      .select(col("l"), (col("tot") + col("v")).as("den")))
    // held-out doc tokens with multiplicity, scored against every lang
    val test = tok.filter(col("doc_id") % 5 === 0)
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("m"))
    val scored = test.crossJoin(langs)
      .join(counts, Seq("l", "w"), "left")
      .select(col("doc_id"), col("lang"), col("l"),
        (col("m") * expr("(cast(1000000000000 as bigint) * (coalesce(c, 0) + 1)) div den"))
          .as("term"))
      .groupBy(col("doc_id"), col("lang"), col("l"))
      .agg(sum(col("term")).as("score"))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("l"), col("score"))).as("best"))
      .select(col("doc_id"), col("lang"),
        col("best.l").as("pred"),
        col("best.score").as("pred_score"),
        when(col("best.l") === col("lang"), 1L).otherwise(0L).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** q209: CLASSIFIER CONFUSION MATRIX — the per-(true, predicted)
    * cell counts of q148's held-out naive-Bayes predictions, with the
    * two rates every model card reports: recall share (cell over the
    * true language's row total) and precision share (cell over the
    * predicted language's column total), both exact permille. Chains
    * the PRODUCTION classifier output — the confusion being graded is
    * exactly the deployed one's (the q146 eval philosophy applied to
    * the learned-model family).
    *
    * Shape at 100 TB: downstream of q148 everything is
    * alphabet²-bounded (≤ |langs|² cells); the row/column totals
    * re-aggregate the cell table and join back broadcast. */
  def nbConfusion(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = nbLangClassify(spark, d)
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
    // row/column totals as PARTITIONED windows over the ≤|langs|² cell
    // table — totals-by-join would re-instantiate the whole q148 plan
    // once per totals branch (3× the classifier for one matrix)
    cells
      .withColumn("rt", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("ct", sum(col("n")).over(Window.partitionBy(col("pred"))))
      .select(col("lang"), col("pred"), col("n"),
        expr("(1000 * n) div rt").as("recall_share_pm"),
        expr("(1000 * n) div ct").as("precision_share_pm"))
      .orderBy(col("lang"), col("pred"))
  }

  /** Number of ingest-order buckets the q159 growth curve samples —
    * FIXED, so every window below runs over ≤ VocabGrowthBuckets rows
    * per language and the output is alphabet-bounded. */
  private[graft] val VocabGrowthBuckets = 20L

  /** q159: VOCABULARY GROWTH curve (Heaps' law empirics) — per
    * language, cumulative distinct token types vs cumulative token
    * volume across 20 equal ingest-order slices of the corpus. The
    * curve a pipeline owner reads to decide whether more of the same
    * source still buys new vocabulary (sub-linear type growth
    * flattening = the source is mined out) and to size tokenizer vocab
    * (q116) against real type inventories.
    *
    * Determinism: the "ingest order" is doc_id order, bucketed by
    * exact integer arithmetic (least(B−1, doc_id·B div (max+1))) — no
    * row_number over the corpus. A type's first appearance is
    * min(bucket) over its occurrences, so cum_types at bucket b counts
    * types first seen in any slice ≤ b — exactly |vocab(prefix b)|.
    *
    * Shape at 100 TB: one token explode (linear) into one
    * (lang, bucket, token) hash-agg with map-side partials; the
    * first-seen reduction is a second hash-agg on (lang, token) — both
    * shuffles are token-keyed, never a global sort. The cumulative
    * windows run per language over ≤ 20 bucket rows (alphabet-bounded
    * partitions — the q151 histogram-window argument, not the banned
    * q73 global sort). Output ≤ |langs|·20 rows regardless of N. */
  def vocabGrowth(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsDist(spark, d)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val B = VocabGrowthBuckets
    // per (lang, bucket, token): occurrence counts — the ONE
    // corpus-sized aggregation both curves derive from
    val occ = CacheScope.cached(docs.crossJoin(broadcast(mx))
      .select(col("lang"),
        expr(s"least($B - 1, (doc_id * $B) div (mx + 1))").as("bucket"),
        explode(toks(col("text"))).as("tok"))
      .groupBy(col("lang"), col("bucket"), col("tok"))
      .agg(count(lit(1)).as("n")))
    // token volume per slice
    val vol = occ.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n")).as("bucket_tokens"))
    // new types per slice: types whose FIRST slice is this one
    val fresh = occ.groupBy(col("lang"), col("tok"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vol.join(fresh, Seq("lang", "bucket"), "left")
      .select(col("lang"), col("bucket"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        col("bucket_tokens"))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .orderBy(col("lang"), col("bucket"))
  }

  /** q169: per-document TOKEN CONCENTRATION — the exact-integer
    * Herfindahl index (ppm), top-token share (permille) and type-token
    * ratio (permille) of each document's token distribution. The
    * log-free twin of entropy-based quality filters: a doc whose mass
    * sits on few tokens (high HHI / top share, low TTR) is boilerplate
    * or spam; q46-style repetition rules catch adjacency, this catches
    * global concentration. All three are rationals over exact counts
    * (Σc ≤ doc tokens, Σc² ≤ (Σc)² — BIGINT-safe for any real doc;
    * corpus-scale variants would lift numerators to DECIMAL(38)).
    *
    * Shape: one explode + (doc, token) hash-agg + doc hash-agg, both
    * doc-keyed with map-side partials — per-doc cost ∝ doc length,
    * embarrassingly parallel, no windows, no driver state. */
  def tokenConcentration(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sumsq"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        expr("(1000000 * sumsq) div (n_tok * n_tok)").as("hhi_ppm"),
        expr("(1000 * top_c) div n_tok").as("top_share_pm"),
        expr("(1000 * n_distinct) div n_tok").as("ttr_pm"))
      .orderBy(col("doc_id"))
  }

  /** q170: corpus FREQUENCY-OF-FREQUENCY SPECTRUM — how many distinct
    * token types occur [2^b, 2^(b+1)) times, with each bucket's total
    * occurrence mass and lexicographically-first type. The Zipf
    * diagnostic a tokenizer/dedup pipeline reads before committing a
    * vocabulary: a healthy corpus shows geometric type decay across
    * buckets; a duplicated one shows mass bulging in high buckets
    * (q159 tracks growth over ingest order; this is the steady-state
    * shape). The bucket is floor(log2 c) computed EXACTLY as
    * length(bin(c)) - 1 — no floating log near power-of-two edges.
    *
    * Shape: explode → token hash-agg (the one corpus-sized shuffle,
    * map-side combined) → bucket hash-agg over |vocab| rows → ≤ 64
    * output rows. min(w) makes the example type deterministic. */
  def freqSpectrum(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"),
        (length(bin(col("c"))) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_occurrences"),
        min(col("w")).as("first_type"))
      .orderBy(col("bucket"))

  /** q177: TOKENIZER FERTILITY / density profile per (lang, source)
    * — the per-corpus-slice cost model a token-budgeted pipeline
    * prices data with: words per KB (how much training signal a byte
    * buys), bytes per word (UTF-8 density), and a subword-fertility
    * proxy (4-char-granule count per word, ceil(len/4) — the
    * BPE-granularity stand-in that needs no learned vocab, flagging
    * slices whose long rare words will explode into many subwords).
    * All ratios are exact integer milli/per-KB floor divisions.
    *
    * Shape at 100 TB: one token explode (linear, codegen) into ONE
    * (lang, source) hash-agg with map-side partials; byte counts ride
    * the same agg via octet_length — no second corpus scan, output
    * alphabet-bounded. */
  /** The q187 query workload: fixed phrases of 2-3 tokens, chosen for
    * nonzero hit counts in the synthetic corpus (a real deployment
    * takes these per request). */
  private[graft] val SearchPhrases = Seq("hash join", "merge sort", "slow hash batch")

  /** q187: exact PHRASE SEARCH over the persisted positional postings
    * index (PhraseIndex) — "these tokens, adjacent, in order", the
    * retrieval primitive bag-of-words ranking (BM25 q114) cannot
    * express and verbatim-overlap decontamination (q109) only
    * approximates at a fixed n. Per phrase: how many documents match,
    * total occurrence count, and the best document (most occurrences,
    * ties to the smallest doc_id — one min(struct) aggregate, not a
    * sort).
    *
    * Shape at 100 TB: the corpus is NEVER rescanned at query time —
    * each phrase term filters the term-clustered postings parquet
    * (row-group pruning on `term`), so probe cost ∝ the DF of the
    * queried terms. Adjacency is a chain of (doc_id, pos)-keyed
    * equi-joins — `pos - i` aligns every term of a k-phrase to the
    * phrase's START position, so the k-way join is hash-partitionable
    * on identical keys with no broadcast and no inequality condition.
    * The per-phrase loop is query-set-bounded (3 here), not
    * data-bounded.
    *
    * STOP-TERM SKEW (the q123/q142 physics for positional postings):
    * the chain is intersection — commutative and associative — so it
    * is built RAREST TERM FIRST, from actual posting-list document
    * frequencies (one row-group-pruned count over just the query
    * terms, a ≤|query terms|-row collect). Every intermediate result
    * is then a subset of the rarest term's starts: a stop word's
    * corpus-sized list enters only as the PROBE side of a join whose
    * build/stream flow is already min-df-bounded, never as the seed
    * that fans out. PhraseIndexSpec pins the bound on a synthetic
    * hot-term corpus via join numOutputRows. */
  def phraseSearch(spark: SparkSession, d: String): DataFrame = {
    val post = PhraseIndex.buildOrLoad(spark, d)
    def terms(ph: String) = ph.split(' ').toSeq
    val allTerms = SearchPhrases.flatMap(terms).distinct
    val dfs = termDfs(post, allTerms)
    val perPhrase = SearchPhrases.map { ph =>
      val start = phraseStarts(post, terms(ph), dfs)
      val perDoc = start.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      perDoc.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("c")), lit(0L)).as("n_matches"),
        min(struct((-col("c")).as("nc"), col("doc_id").as("id"))).as("b"))
        .select(lit(ph).as("phrase"), col("n_docs"), col("n_matches"),
          col("b.id").as("best_doc"), (-col("b.nc")).as("best_matches"))
    }
    perPhrase.reduce(_.unionAll(_)).orderBy(col("phrase"))
  }

  /** Probe order for a phrase's intersection chain: ascending document
    * frequency, position as the tie-break. Pure — pinned by spec.
    * Terms missing from `dfs` have zero postings (df 0): they sort
    * first and correctly empty the chain at its cheapest point. */
  private[graft] def chainOrder(
      dfs: Map[String, Long], ws: Seq[String]): Seq[(String, Int)] =
    ws.zipWithIndex.sortBy { case (w, i) => (dfs.getOrElse(w, 0L), i) }

  /** Posting count of each of `terms` in `post` (never the full
    * vocabulary): the isin filter prunes to the queried terms' row
    * groups, and the collect is bounded by the query set, not the
    * data. */
  private[graft] def termDfs(post: DataFrame, terms: Seq[String]): Map[String, Long] =
    post
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** (doc_id, start) rows where the full phrase `ws` begins, built as
    * a rarest-first intersection chain over the postings relation.
    * Each term contributes its postings shifted to the phrase START
    * (`pos - offset`), so every join is an equi-join on the identical
    * (doc_id, start) key — hash-partitioned once, reused down the
    * chain — and each intermediate is a subset of the rarest term's
    * starts (≤ min-df rows). */
  private[graft] def phraseStarts(
      post: DataFrame, ws: Seq[String], dfs: Map[String, Long]): DataFrame =
    chainOrder(dfs, ws).map { case (w, i) =>
      post.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - i.toLong).as("start"))
    }.reduce(_.join(_, Seq("doc_id", "start")))

  /** The q190 query workload: (termA, termB, window) proximity probes
    * — "both terms within w tokens, any order", fixed per deployment
    * request like q187's phrases. */
  private[graft] val ProximityPairs =
    Seq(("hash", "join", 4L), ("sort", "merge", 4L), ("slow", "batch", 6L))

  /** q190: PROXIMITY (NEAR) SEARCH over the persisted positional
    * postings index — the relaxation of q187's exact-adjacency
    * operator: count co-occurrences of two terms within a token
    * window, any order. Ranking retrieval uses this as the
    * phrase-miss fallback ("hash ... join" still signals the concept)
    * and boilerplate audits use it to find template co-locations.
    *
    * Shape at 100 TB: same contract as q187 — the corpus is never
    * rescanned; each probe reads two term-pruned posting lists. The
    * window predicate |posA − posB| ≤ w is NOT a range join here: the
    * RARER term's postings fan out to the 2w+1 admissible partner
    * positions (bounded, query-constant multiplier) and the pair
    * match becomes one (doc_id, pos) equi-join whose build side is
    * min-df·(2w+1) rows — the hot term enters only as the probe side,
    * the q187 rarest-first physics applied to windows. The per-pair
    * loop is query-set-bounded, not data-bounded. */
  def proximitySearch(spark: SparkSession, d: String): DataFrame = {
    val post = PhraseIndex.buildOrLoad(spark, d)
    val allTerms = ProximityPairs.flatMap { case (a, b, _) => Seq(a, b) }.distinct
    val dfs = termDfs(post, allTerms)
    val perPair = ProximityPairs.map { case (ta, tb, w) =>
      // fan out the RARER side: its postings emit every position the
      // partner may occupy, the denser list is probed by equi-join
      val (rare, dense) =
        if (dfs.getOrElse(ta, 0L) <= dfs.getOrElse(tb, 0L)) (ta, tb) else (tb, ta)
      val fan = post.filter(col("term") === rare)
        .select(col("doc_id"),
          explode(sequence(col("pos") - w, col("pos") + w)).as("pos"))
      val hits = fan.join(
        post.filter(col("term") === dense).select(col("doc_id"), col("pos")),
        Seq("doc_id", "pos"))
      val perDoc = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      perDoc.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("c")), lit(0L)).as("n_pairs"),
        min(struct((-col("c")).as("nc"), col("doc_id").as("id"))).as("b"))
        .select(lit(s"$ta NEAR/$w $tb").as("probe"), col("n_docs"),
          col("n_pairs"), col("b.id").as("best_doc"),
          (-col("b.nc")).as("best_pairs"))
    }
    perPair.reduce(_.unionAll(_)).orderBy(col("probe"))
  }

  /** q191: SKIP-GRAM CO-OCCURRENCE counts — ordered term pairs within
    * a forward window of 3 (the word2vec/GloVe co-occurrence-matrix
    * build), ranked by count with exact-integer LIFT in milli-units
    * (q128's adjacent-bigram association generalized to windows: lift
    * = P(pair)/P(a)P(b) = c_ab·N²/(M·c_a·c_b), where M is the total
    * number of in-window slots — its log is the PMI so the ranking is
    * PMI's). The matrix a subword/embedding bootstrap consumes.
    *
    * Shape at 100 TB: reuses the persisted postings stage (no corpus
    * rescan); the left occurrence fans out to its 3 forward partner
    * positions (bounded multiplier) and pairing is one (doc_id, pos)
    * equi-join; the count agg is vocab²-bounded with map-side
    * partials, unigram joins are vocab-keyed. The N²·1000 numerator
    * is DECIMAL(38,0) — exact at corpus token counts where Long
    * would overflow. */
  def skipgramCooc(spark: SparkSession, d: String): DataFrame = {
    val post = CacheScope.cached(PhraseIndex.buildOrLoad(spark, d))
    val uni = post.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val tot = post.agg(count(lit(1)).as("n"))
    val pairs = post
      .select(col("doc_id"), explode(sequence(col("pos") + 1, col("pos") + 3)).as("pos"),
        col("term").as("w1"))
      .join(post.select(col("doc_id"), col("pos"), col("term").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val m = pairs.agg(sum(col("c_ab")).as("m"))
    pairs
      .join(broadcast(uni.toDF("w1", "c_a")), "w1")
      .join(broadcast(uni.toDF("w2", "c_b")), "w2")
      .crossJoin(broadcast(tot.select(col("n"))))
      .crossJoin(broadcast(m))
      .select(col("w1"), col("w2"), col("c_ab"),
        expr("""CAST(1000 AS DECIMAL(38,0)) * c_ab * n * n
               | div (CAST(m AS DECIMAL(38,0)) * c_a * c_b)""".stripMargin
          .replace("\n", " ")).cast("long").as("lift_milli"))
      .orderBy(col("c_ab").desc, col("w1"), col("w2"))
      .limit(40)
  }

  /** Boilerplate/stop-shingle guard for q192: shingle types held by
    * more than this many documents are dropped from the similarity
    * vocabulary (the q123/q142 df-cap physics — a corpus-wide
    * template shingle would otherwise contribute C(df,2) pair terms
    * and zero discriminative signal). */
  private[graft] val SparseCosineDfCap = 50L

  /** q192: SPARSE TF-IDF COSINE top-k — all-pairs document similarity
    * over 3-token shingle vectors via the inverted index (the
    * Elsayed/Lin pairwise-similarity shape: pairs are generated ONLY
    * where a shared term's posting list puts two docs together, never
    * by a quadratic doc×doc join). The lexical complement of q25's
    * embedding cosine: catches verbatim-ish reuse embeddings smooth
    * over, feeds dedup candidate review and citation mining.
    *
    * Exact-integer discipline: idf weight = 100000 div df (inverse-df
    * fixed-point; monotone in idf, no log drift), component weight =
    * tf·idfw, and the reported score is cos²·10⁶ = 10⁶·dot²/(‖a‖²‖b‖²)
    * computed entirely in DECIMAL(38,0) floor arithmetic — rational,
    * engine-portable, and order-equivalent to cosine on [0,1]. Magnitude
    * audit: wt ≤ tf·10⁵, ‖·‖² ≲ 10¹³ at corpus doc sizes, dot² ≲ 10²⁶,
    * ×10⁶ ≲ 10³² < 10³⁸.
    *
    * Shape at 100 TB: pair mass is Σ_g C(df_g, 2) over CAPPED dfs —
    * bounded by cap²·|vocab|, never corpus²; the df cap drops exactly
    * the shingles whose pairs carry no signal. Everything else is
    * tf/df hash-aggs and vocab-keyed joins with map-side partials.
    * Top-30 by (score, pair) is deterministic. */
  def sparseCosineTopK(spark: SparkSession, d: String): DataFrame = {
    // EAGER cache population: tf feeds FOUR independent branches of the
    // result plan (df, w-as-a, w-as-b, norms). Left lazy, AQE submits
    // those leaf stages concurrently against a still-empty
    // InMemoryRelation and each recomputes the shingle-explode agg —
    // the r8 bench recorded a 27 s cold pass vs 4.7 s warm on exactly
    // this query. One count() forces a single computation; every
    // consumer then reads cached blocks until the caller's scope ends.
    val tf = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(shingles(toks(col("text")), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf")))
    tf.count()
    val df = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= SparseCosineDfCap)
    val w = tf.join(df, "g")
      .select(col("doc_id"), col("g"),
        (col("tf") * expr("100000 div df")).as("wt"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(expr("CAST(wt AS DECIMAL(38,0)) * wt")).as("n2"))
    // pair terms via COMBINATIONS-EXPLODE over per-gram (doc, wt)
    // arrays (r14 — the q290/q257 adjacency-array trick): one g-keyed
    // collect + posexplode×slice instead of the equi-self-join, so the
    // weighted posting relation is shuffled ONCE and the C(df,2) pair
    // terms are generated in place. Every array is hard-bounded at
    // SparseCosineDfCap(=50) members by the df filter above. Members
    // sort by doc_id (unique per gram — tf is (doc,g)-grouped), so i<j
    // reproduces the old doc_a < doc_b predicate; the per-pair DECIMAL
    // products are the same addends in the same (doc_a, doc_b) groups,
    // and DECIMAL integer addition is exactly associative — bit-equal
    // dot sums.
    Dedup.arrayPairs(w.groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("wt")))).as("ds")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(expr("CAST(a.wt AS DECIMAL(38,0)) * b.wt")).as("dot"))
      .join(norms.toDF("doc_a", "n2_a"), "doc_a")
      .join(norms.toDF("doc_b", "n2_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * dot * dot) div (n2_a * n2_b) AS BIGINT)")
          .as("cos2_micro"))
      .orderBy(col("cos2_micro").desc, col("doc_a"), col("doc_b"))
      .limit(30)
  }

  /** q197: TERM BURSTINESS — per term: document frequency, collection
    * frequency, burstiness (mean occurrences per containing doc,
    * milli: 1000·cf div df) and top-doc concentration (share of all
    * occurrences held by the single heaviest doc, permille). The
    * corpus statistic that separates STOP terms (high df, burstiness
    * ≈ uniform, low concentration) from BOILERPLATE/template terms
    * (bursty: few docs each repeating the term) — the evidence a
    * pipeline uses to build its stopword and template-strip lists
    * instead of importing someone else's.
    *
    * Shape at 100 TB: one token explode into a (doc, term) hash-agg
    * (map-side combined), then a vocab-keyed agg; the heaviest-doc
    * pick is a min(struct) aggregate, not a window sort. Output is
    * vocab-bounded. */
  def termBurstiness(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        min(struct((-col("tf")).as("ntf"), col("doc_id").as("id"))).as("b"))
      .select(col("w"), col("df"), col("cf"),
        expr("(1000 * cf) div df").as("burstiness_milli"),
        col("b.id").as("top_doc"),
        expr("(1000 * -b.ntf) div cf").as("top_doc_share_pm"))
      .orderBy(col("cf").desc, col("w"))

  def tokenizerFertility(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("lang"), col("source"),
        octet_length(col("text")).cast("long").as("doc_bytes"),
        posexplode(toks(col("text"))).as(Seq("p", "w")))
      .groupBy(col("lang"), col("source"))
      .agg(
        // doc-level facts ride the token stream at position 0 — one
        // scan, no per-doc pre-agg, no countDistinct shuffle
        sum(when(col("p") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(expr("(octet_length(w) + 3) div 4")).as("n_granules"),
        sum(when(col("p") === 0, col("doc_bytes")).otherwise(0L)).as("n_bytes"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_granules"), col("n_bytes"),
        expr("(1000 * n_granules) div n_words").as("fertility_milli"),
        expr("(1000 * n_words) div greatest(n_bytes, 1)").as("words_per_kb"),
        expr("(1000 * n_bytes) div n_words").as("bytes_per_word_milli"))
      .orderBy(col("lang"), col("source"))

  /** Context-window length for the q213/q216 packing plan. 128 tokens
    * makes chunks span document boundaries at this corpus's ~40-90
    * token docs — the interesting case; a production run would set the
    * model's context length. */
  val PackChunkTokens = 128L

  /** Per doc its token count `c` and `before`, the tokens of every
    * doc_id before it — the q213 global packing offset. */
  private[graft] def packOffsets(spark: SparkSession, d: String): DataFrame = {
    val hist = Tables.documentsDist(spark, d)
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("c"))
    Queries.histCumBefore(spark, hist, "doc_id", asc = true)._1
  }

  /** q213: CONTEXT-WINDOW PACKING PLAN — the GPT-style concat-and-chunk
    * layout every pretraining run computes before writing token shards:
    * documents are concatenated in doc_id order and cut into fixed
    * 128-token windows; per document, its global token offset, the
    * first/last chunk it lands in, and how many chunks it spans. This
    * is the assignment a shard writer consumes directly, and the
    * span-count column is the "document fragmentation" statistic
    * packing papers report.
    *
    * Shape at 100 TB: token counts are row-local; the global offset is
    * the q73/q188 two-pass cumulative over the doc_id-keyed count
    * histogram (range partition, pid-local running sum, ≤|parts|
    * driver totals re-broadcast) — no partitionless window, no global
    * sort of the corpus. Everything after the offset is per-row
    * integer arithmetic. */
  def contextPacking(spark: SparkSession, d: String): DataFrame = {
    val c = PackChunkTokens
    val cum = packOffsets(spark, d)
    cum.select(col("doc_id"), col("c").as("n_tok"),
        col("before").as("tok_offset"),
        expr(s"before div $c").as("first_chunk"),
        expr(s"(before + c - 1) div $c").as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1L)
      .orderBy(col("doc_id"))
  }

  /** q216: PACKED-CHUNK MANIFEST — the chunk-side view of q213: per
    * 128-token window, how many documents contribute, the first/last
    * contributing doc_id, and how many documents START inside it (the
    * attention-mask reset points a packing-aware trainer needs). The
    * manifest a shard writer publishes next to the shards.
    *
    * Shape at 100 TB: rides q213's two-pass offsets; the doc→chunk
    * fan-out is explode(sequence(first, last)) — Σ n_chunks ≈
    * total_tokens/128 + n_docs rows, linear — then ONE chunk-keyed
    * hash-agg. */
  def chunkManifest(spark: SparkSession, d: String): DataFrame = {
    val c = PackChunkTokens
    val cum = packOffsets(spark, d)
    cum.select(col("doc_id"), col("c").as("n_tok"), col("before"),
        explode(sequence(expr(s"before div $c"),
          expr(s"(before + c - 1) div $c"))).as("chunk_id"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(when(expr(s"before div $c") === col("chunk_id"), 1L)
          .otherwise(0L)).as("n_starts"))
      .orderBy(col("chunk_id"))
  }

  /** q214: BOILERPLATE AUDIT — per source: the most duplicated
    * 8-token document PREFIX and SUFFIX fingerprints and the share of
    * documents carrying them. Shared prefixes/suffixes are the
    * template-boilerplate signature (scraped nav headers, license
    * footers, cookie banners) that survives full-document dedup —
    * the docs differ in the middle — and that a curation pipeline
    * strips BEFORE near-dup, because boilerplate inflates every
    * shingle-overlap estimate. Distinct from q149 (whole-doc shingle
    * novelty) and q121 (content-defined chunks): this is the
    * edge-anchored, source-attributed view. Fingerprints are the
    * shared polyhash; docs under 8 tokens sit out (both engines,
    * avoiding negative-slice edge semantics).
    *
    * Shape at 100 TB: fingerprints are row-local (first/last 8 tokens
    * only — no full-text shingling); per source the candidate relation
    * is (source, hash)-keyed counts, and the winner is the bounded
    * argmax agg (min(struct(-cnt, hash)) — never a rank window over
    * docs). Three source-keyed hash-aggs + two |sources|-row joins. */
  def boilerplateAudit(spark: SparkSession, d: String): DataFrame = {
    val base = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("source"),
        polyHash(array_join(slice(col("tk"), 1, 8), " ")).as("pre"),
        polyHash(array_join(slice(col("tk"), -8, 8), " ")).as("suf")))
    val n = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    def top(c: String, label: String): DataFrame = base
      .groupBy(col("source").as(s"s_$label"), col(c).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(s"s_$label"))
      .agg(min(struct((-col("c")).as("nc"), col("h"))).as("b"))
      .select(col(s"s_$label"), col("b.h").as(s"top_${label}_hash"),
        (-col("b.nc")).as(s"n_$label"))
    n.join(top("pre", "prefix"), col("source") === col("s_prefix"))
      .join(top("suf", "suffix"), col("source") === col("s_suffix"))
      .select(col("source"), col("n_docs"),
        col("top_prefix_hash"), col("n_prefix"),
        expr("(1000 * n_prefix) div n_docs").as("prefix_share_pm"),
        col("top_suffix_hash"), col("n_suffix"),
        expr("(1000 * n_suffix) div n_docs").as("suffix_share_pm"))
      .orderBy(col("source"))
  }

  /** q215: CLASSIFIER AGREEMENT (Cohen's kappa) — chance-corrected
    * agreement between the two independent language classifiers this
    * engine ships (q28's stopword heuristic and q148's naive Bayes) on
    * the NB test split. The standard label-quality audit when two
    * annotators — model or human — label the same corpus: raw
    * agreement po is inflated by marginal skew; kappa subtracts the
    * chance term pe = Σ_k r_k·c_k / n². Exact integer form:
    * kappa_milli = sign·(1000·|a·n − S|) div (n² − S) with S = Σ r·c,
    * all in DECIMAL(38,0) — at 100 TB n² overflows BIGINT, the same
    * product discipline as q191/q195/q208; sign is decomposed so both
    * engines' integral division agrees on negatives (floor vs
    * truncation never diverges on non-negative operands).
    *
    * Shape at 100 TB: one doc-keyed equi-join of the two prediction
    * relations, one conditional count agg, two label-keyed marginal
    * aggs (|labels| ≤ 5 rows) joined label-on-label, and a one-row
    * scalar assembly — every intermediate label-bounded. */
  def classifierKappa(spark: SparkSession, d: String): DataFrame = {
    val h = langId(spark, d).select(col("doc_id").as("dh"), col("pred").as("p1"))
    val nb = nbLangClassify(spark, d)
      .select(col("doc_id").as("dn"), col("pred").as("p2"))
    val pairs = CacheScope.cached(
      h.join(nb, col("dh") === col("dn")).select(col("p1"), col("p2")))
    val agree = pairs.agg(count(lit(1)).as("n"),
      sum(when(col("p1") === col("p2"), 1L).otherwise(0L)).as("a"))
    val r = pairs.groupBy(col("p1").as("lab")).agg(count(lit(1)).as("r"))
    val cc = pairs.groupBy(col("p2").as("lab2")).agg(count(lit(1)).as("c"))
    // INNER label join: a label present in only one marginal has a
    // zero product, so it contributes nothing to S — and inner equi
    // plans as a broadcast HASH join where full-outer-vs-broadcast
    // would force a nested-loop. Marginal products in DECIMAL(38,0) —
    // Σ r·c is Θ(n²) at scale.
    val chance = r.join(cc, col("lab") === col("lab2"))
      .agg(coalesce(sum(expr("CAST(r AS DECIMAL(38,0)) * c")),
        lit(0).cast("decimal(38,0)")).as("s"))
    agree.crossJoin(broadcast(chance))
      .select(col("n").as("n_docs"), col("a").as("n_agree"),
        col("s").cast("long").as("s_chance"),
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n - s = 0 THEN NULL
               |ELSE CAST(CASE WHEN CAST(a AS DECIMAL(38,0)) * n - s < 0
               |  THEN -((1000 * (s - CAST(a AS DECIMAL(38,0)) * n))
               |         div (CAST(n AS DECIMAL(38,0)) * n - s))
               |  ELSE (1000 * (CAST(a AS DECIMAL(38,0)) * n - s))
               |       div (CAST(n AS DECIMAL(38,0)) * n - s)
               |END AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("kappa_milli"))
  }

  /** q220: SOURCE VOCABULARY OVERLAP — the pairwise exact Jaccard of
    * per-source vocabularies (distinct tokens), in permille, for every
    * source pair sharing at least one term. The redundancy map a
    * mixture designer reads next to q150's document-level dup matrix:
    * two feeds can share almost no documents yet be the same corpus
    * lexically (mirrors, translations of the same catalogue, scraped
    * re-hostings) — that shows here and nowhere in doc-level dedup.
    *
    * Shape at 100 TB: the (source, term) relation is one distinct agg
    * (vocab·|sources| bounded); pairing is a TERM-KEYED equi self-join
    * — per term with k sources the fan-out is C(k,2) ≤ C(|sources|,2),
    * an alphabet-bounded multiplier, never corpus²; output is
    * |sources|²-bounded. Sides re-aliased (fresh exprIds, q196
    * discipline). */
  def sourceVocabOverlap(spark: SparkSession, d: String): DataFrame = {
    val sv = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .distinct())
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val common = sv.select(col("source").as("sa"), col("w").as("wa"))
      .join(sv.select(col("source").as("sb"), col("w").as("wb")),
        col("wa") === col("wb") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("cm"))
    common
      .join(sizes.select(col("source").as("ka"), col("v").as("vocab_a")),
        col("sa") === col("ka"))
      .join(sizes.select(col("source").as("kb"), col("v").as("vocab_b")),
        col("sb") === col("kb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("vocab_a"), col("vocab_b"), col("cm").as("n_common"),
        expr("(1000 * cm) div (vocab_a + vocab_b - cm)").as("jaccard_pm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Tokens per q253 language chunk. */
  val LangChunkTokens = 64L

  /** q253: CODE-SWITCH SEGMENTATION — per document: the q28 stopword
    * langid re-run on every [[LangChunkTokens]]-token CHUNK, then the
    * chunk-level language sequence summarized as the dominant language,
    * its share of chunks (permille), and the number of language
    * SWITCHES between consecutive chunks. A whole-doc langid (q28)
    * calls a half-English/half-German doc "en" and moves on; this is
    * the curation view that separates genuinely mixed documents
    * (translations pasted together, forum quotes, code-switching) —
    * which need splitting or routing, not a single language label —
    * from uniformly-labeled ones. Dominant ties break to the
    * lexicographically smaller language code; chunk prediction uses
    * q28's exact tie rule (en ≥ de ≥ es).
    *
    * Shape at 100 TB: one token posexplode into a (doc, chunk)
    * hash-agg of three conditional counts (map-side combined), a
    * doc-PARTITIONED lag window over the per-doc chunk sequence
    * (chunks-per-doc bounded — the q151 keyed-window argument), and
    * two doc-keyed aggs. Output is one row per document. */
  def codeSwitchSegments(spark: SparkSession, d: String): DataFrame =
    codeSwitchSegmentsDf(Tables.documentsDist(spark, d))

  private[graft] def codeSwitchSegmentsDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("i", "tk")))
      .groupBy(col("doc_id"), expr(s"i div $LangChunkTokens").as("chunk"))
      .agg(
        sum(when(col("tk").isin(stopEn: _*), 1L).otherwise(0L)).as("s_en"),
        sum(when(col("tk").isin(stopDe: _*), 1L).otherwise(0L)).as("s_de"),
        sum(when(col("tk").isin(stopEs: _*), 1L).otherwise(0L)).as("s_es"))
      .withColumn("pred", stopwordLang)
    val preds = CacheScope.cached(
      chunks.select(col("doc_id"), col("chunk"), col("pred")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk"))
    val switches = preds
      .withColumn("prev", lag(col("pred"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("pred"), 1L)
          .otherwise(0L)).as("n_switches"))
    val dom = preds.groupBy(col("doc_id"), col("pred"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("c")).as("nc"), col("pred"))).as("m"))
      .select(col("doc_id"), col("m.pred").as("dom_lang"),
        (-col("m.nc")).as("domc"))
    switches.join(dom, "doc_id")
      .select(col("doc_id"), col("n_chunks"), col("dom_lang"),
        expr("(1000 * domc) div n_chunks").as("dom_share_pm"),
        col("n_switches"))
      .orderBy(col("doc_id"))
  }

  /** q256 passage geometry: 32-token windows at stride size/2, so
    * every token lands in exactly two windows (one for pos < stride)
    * and a relevant span is never split worse than half-overlap.
    * The stride derives from the size inside `maxPassageDf` (q263
    * sweeps the size; the 2-windows-per-token invariant holds at
    * every grid point). */
  val PassageSize = 32

  /** q256: MAX-PASSAGE BM25 RETRIEVAL — the long-document fix for
    * q114: BM25 scores each 32-token passage (stride 16) instead of
    * the whole document, and a document ranks by its BEST passage.
    * Whole-doc BM25 dilutes a relevant paragraph inside a long
    * document (the length norm punishes it); max-passage is the
    * standard retrieval answer (Liu & Croft's passage retrieval;
    * every modern RAG chunk-scorer is this shape). Same exact-integer
    * BM25 as q114 — rational Robertson idf (doc-level df: a term's
    * rarity is a corpus property, not a passage property),
    * k1/b milli-constants, ONE div per ratio — with the length norm
    * taken against the mean PASSAGE length, so the floor points
    * replay bit-for-bit in the oracle.
    *
    * Shape at 100 TB: the passage relation is one posexplode + a
    * (doc, window)-keyed hash-agg — each token emits ≤ 2 rows, so
    * passage mass is 2× token mass, partitioned by doc like every
    * other text scan; corpus stats re-enter as a one-row broadcast
    * (q114's contract); the best-passage pick is a doc-keyed
    * max(struct) hash-agg, map-side partial; top-10 plans as
    * TakeOrderedAndProject. No window-function sort anywhere — the
    * passage id is arithmetic on the token position. */
  def maxPassage(spark: SparkSession, d: String): DataFrame =
    maxPassageDf(Tables.documentsDist(spark, d), PassageSize)

  /** Parameterized by passage size (stride = size/2 keeps the
    * two-windows-per-token invariant at every size) — q256 runs the
    * 32 default, q263 sweeps {16, 32, 64}. */
  private[graft] def maxPassageDf(docsIn: DataFrame,
      psize: Int): DataFrame = {
    val stride = psize / 2
    val terms = Seq("hash", "join", "vector")
    val docs = CacheScope.cached(docsIn
      .select(col("doc_id"), toks(col("text")).as("tk")))
    // doc-level stats: N and per-term df (exactly q114's idf inputs)
    val t = col("tk")
    val docStats = docs
      .select(terms.map(w =>
        size(filter(t, x => x === w)).cast("long").as(s"tf_$w")): _*)
      .agg(count(lit(1)).as("n_docs"),
        terms.map(w => count(when(col(s"tf_$w") > 0, 1)).as(s"df_$w")): _*)
    // token → its ≤2 covering windows: w = p div 16 and w − 1 cover
    // [16w, 16w+31] ∋ p; w ≥ 0 filters the left edge
    val tokWin = docs
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("tok"),
        explode(array(expr(s"CAST(p div $stride AS BIGINT)"),
          expr(s"CAST(p div $stride AS BIGINT) - 1"))).as("w"))
      .filter(col("w") >= 0L)
    val passages = tokWin
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("pl"),
        terms.map(wd => sum(when(col("tok") === wd, 1L).otherwise(0L))
          .as(s"tf_$wd")): _*)
    val passStats = passages.agg(
      count(lit(1)).as("n_pass"), sum(col("pl")).as("pass_tokens"))
    val termScore = terms.map { wd =>
      expr(s"""(((1000 * (2 * (n_docs - df_$wd) + 1)) div (2 * df_$wd + 1)) *
              |((tf_$wd * 2200000000) div
              |  (tf_$wd * 1000 + (1200 * norm_milli) div 1000))) div 1000"""
        .stripMargin.replace("\n", " "))
    }.reduce(_ + _)
    passages
      .crossJoin(broadcast(docStats))
      .crossJoin(broadcast(passStats))
      .withColumn("avgpl_milli", expr("(1000 * pass_tokens) div n_pass"))
      .withColumn("norm_milli", expr("250 + (750000 * pl) div avgpl_milli"))
      .withColumn("score_micro", termScore)
      .filter(col("score_micro") > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_passages"),
        max(struct(col("score_micro"), (-col("w")).as("nw"), col("pl")))
          .as("best"))
      .select(col("doc_id"), col("n_hit_passages"),
        (-col("best.nw")).as("best_window"),
        col("best.pl").as("best_pl"),
        col("best.score_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** q260 spectrum depth: the doubling grid tops out at rank 512, so
    * f(2r) needs the top 1024 — a constant-size head regardless of
    * corpus size. */
  val ZipfTopN = 1024

  /** q260: ZIPF RANK SPECTRUM — the corpus-health read on the token
    * frequency distribution WITHOUT cross-engine ln: at every
    * power-of-two rank r ≤ 512, the head frequency f(r), the doubled
    * rank's f(2r), their ratio in milli (a pure Zipf s=1 corpus sits
    * near 500 at every r — the doubling-ratio test is the log-log
    * slope probed at discrete octaves), and the cumulative share of
    * total token mass held by the top r types. Drifting ratios flag
    * template spam (flat head) or vocabulary collapse (cliff); the
    * head-share column is the stop-list / compression budget number.
    *
    * Shape at 100 TB: ONE (token)-keyed count agg (map-side partial),
    * a TakeOrderedAndProject top-1024 (per-partition heaps, never a
    * vocabulary sort), and a driver fold over exactly 1024 collected
    * longs — bounded by the constant above, the q223 bounded-collect
    * discipline. Total token mass is one scalar agg over the same
    * narrow relation. */
  def zipfSpectrum(spark: SparkSession, d: String): DataFrame = {
    val freq = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val tot = freq.agg(sum(col("c"))).head().getLong(0)
    // bounded collect: exactly min(ZipfTopN, |vocab|) (count, token)
    // rows via per-partition heaps
    val top = freq.orderBy(col("c").desc, col("tok")).limit(ZipfTopN)
      .select(col("c")).collect().map(_.getLong(0))
    val cum = top.scanLeft(0L)(_ + _).drop(1)
    import spark.implicits._
    (0 to 9).map(i => 1 << i).filter(_ <= top.length).map { r =>
      val f2 = if (2 * r <= top.length) Some(top(2 * r - 1)) else None
      (r.toLong, top(r - 1), f2, f2.map(v => 1000L * v / top(r - 1)),
        1000L * cum(r - 1) / tot)
    }.toDF("rank", "freq_r", "freq_2r", "ratio_milli", "head_share_pm")
      .orderBy(col("rank"))
  }

  /** q263 ablation grid: half / default / double the q256 passage
    * size (stride stays size/2 throughout). */
  val PassageSizeGrid: Seq[Int] = Seq(16, 32, 64)

  /** q263: PASSAGE-SIZE RETRIEVAL ABLATION — how much does the chunk
    * size actually move the answer? q256's max-passage retrieval run
    * at sizes {16, 32, 64}, each result set compared against the
    * size-32 production baseline: overlap of the top-10 doc sets,
    * total rank displacement over the common docs, and each size's
    * top-1. The chunking knob is the most-argued-over parameter of
    * every RAG deployment; this is the evidence the argument should
    * consume (the q259/q262 tuning-curve read for the text path).
    *
    * Shape at 100 TB: three instances of q256's plan (its own
    * contract: 2× token mass per instance, stats as one-row
    * broadcasts, TakeOrderedAndProject top-10) and a driver fold
    * over the 3×10 collected (doc, score) rows — bounded by the
    * grid, the q223 discipline. Comparison logic lives in the fold;
    * the oracle replays it relationally (rank = count-of-better). */
  def passageSizeAblation(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsDist(spark, d)
    // ONE action over the union of the three tagged top-10 branches
    // (r14): the three maxPassageDf instances register the SAME
    // tokenized-docs cache plan, and the CacheManager dedupes identical
    // plans, so tokenization runs once for the whole grid. Three
    // separate collects re-tokenized per grid point — the CacheScope
    // release-after-first-action contract dropped the cache between
    // them. Each branch's rank order is
    // recovered locally from its own (score desc, doc_id) sort key —
    // exactly maxPassageDf's orderBy, over ≤10 rows per branch.
    val all = PassageSizeGrid.map { sz =>
      maxPassageDf(docs, sz)
        .select(lit(sz).as("psize"), col("doc_id"), col("score_micro"))
    }.reduce(_.unionAll(_)).collect().toSeq
    val tops: Map[Int, Seq[(Long, Long)]] = PassageSizeGrid.map { sz =>
      sz -> all.filter(_.getInt(0) == sz)
        .map(r => (r.getLong(1), r.getLong(2)))
        .sortBy { case (id, sc) => (-sc, id) }
    }.toMap
    val base = tops(PassageSize).map(_._1).zipWithIndex.toMap
    import spark.implicits._
    PassageSizeGrid.map { sz =>
      val ds = tops(sz).map(_._1)
      val common = ds.zipWithIndex.filter { case (id, _) => base.contains(id) }
      val deltaSum = common.map { case (id, r) =>
        math.abs(r.toLong - base(id).toLong) }.sum
      (sz.toLong, ds.headOption.getOrElse(-1L),
        tops(sz).headOption.map(_._2).getOrElse(0L),
        common.length.toLong, deltaSum)
    }.toDF("psize", "top1_doc", "top1_score_micro",
        "n_common_vs32", "rank_delta_sum")
      .orderBy(col("psize"))
  }

  /** q267: CURATION RULE AUDIT — the per-rule decision table a corpus
    * owner reads BEFORE wiring thresholds into a q57-style first-fail
    * gate: every Gopher/C4-family rule evaluated INDEPENDENTLY on every
    * document (no short-circuit), reporting how many docs each rule
    * flags (and the rate in permille), how many it flags UNIQUELY
    * (docs no other rule catches — the rule's marginal contribution:
    * a rule with zero unique kills is free to drop; a rule with many
    * is load-bearing), plus the corpus size and the total kill count
    * under "any rule fires". q57 answers "what verdict does this doc
    * get"; this answers "which rules earn their place".
    *
    * The six rules (all exact integer cross-multiplied comparisons,
    * thresholds shared verbatim with the oracle):
    *   r1_short      n_tok < 20            (q57's bound)
    *   r2_long       n_tok > 90            (q57's bound)
    *   r3_low_uniq   100·n_uniq < 45·n_tok (q57's repetition rule)
    *   r4_dup5gram   1000·(n5−u5) > 150·n5 (MassiveText dup-n-gram)
    *   r5_no_stop    stopword hits < 2     (Gopher "stop word" rule)
    *   r6_symbol     1000·n_punct > 30·len (Gopher symbol-ratio rule)
    * r4/r6 are vacuous on THIS synthetic corpus (no punctuation, no
    * repeated 5-grams — measured) — deliberately kept: an audit table
    * that only contains rules that fire can't tell you a rule is dead
    * weight, and the spec exercises both on a planted fixture.
    *
    * Shape at 100 TB: all six flags are per-row array/regex arithmetic
    * in ONE scan — zero joins, zero windows; the per-rule table is a
    * 6-key hash-agg of the exploded (rule, flag) pairs and the doc
    * totals are a one-row agg broadcast onto 6 rows. The flags
    * intermediate is cached because both aggs consume it. */
  def ruleAudit(spark: SparkSession, d: String): DataFrame =
    ruleAuditDf(Tables.documentsDist(spark, d))

  private[graft] def ruleAuditDf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val g = shingles(t, 5)
    // Two-step select (the q61 lesson): materialize the array stats in
    // a projection of their own so the downstream flag arithmetic
    // never re-evaluates the HOFs.
    val base = docs.select(col("doc_id"),
      size(t).cast("long").as("n_tok"),
      size(array_distinct(t)).cast("long").as("n_uniq"),
      countIn(t, stopEn).cast("long").as("n_stop"),
      greatest(size(t) - 4, lit(0)).cast("long").as("n5"),
      size(array_distinct(g)).cast("long").as("u5"),
      length(col("text")).cast("long").as("len"),
      size(expr("regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)"))
        .cast("long").as("n_punct"))
    val flagged = CacheScope.cached(base.select(col("doc_id"),
        when(col("n_tok") < 20, 1L).otherwise(0L).as("f1"),
        when(col("n_tok") > 90, 1L).otherwise(0L).as("f2"),
        when(col("n_uniq") * 100L < col("n_tok") * 45L, 1L)
          .otherwise(0L).as("f3"),
        when((col("n5") - col("u5")) * 1000L > col("n5") * 150L, 1L)
          .otherwise(0L).as("f4"),
        when(col("n_stop") < 2, 1L).otherwise(0L).as("f5"),
        when(col("n_punct") * 1000L > col("len") * 30L, 1L)
          .otherwise(0L).as("f6"))
      .withColumn("nf", expr("f1 + f2 + f3 + f4 + f5 + f6")))
    val totals = flagged.agg(count(lit(1)).as("n_docs"),
      sum(when(col("nf") > 0, 1L).otherwise(0L)).as("n_killed"))
    val ruleNames = Seq("r1_short", "r2_long", "r3_low_uniq",
      "r4_dup5gram", "r5_no_stop", "r6_symbol")
    val perRule = flagged
      .select(col("nf"), posexplode(array(
        (1 to 6).map(i => col(s"f$i")): _*)).as(Seq("ri", "fl")))
      .groupBy(col("ri"))
      .agg(sum(col("fl")).as("n_flagged"),
        sum(when(col("fl") === 1L && col("nf") === 1L, 1L).otherwise(0L))
          .as("n_unique"))
      .withColumn("rule",
        element_at(lit(ruleNames.toArray), col("ri") + 1))
    perRule.crossJoin(broadcast(totals))
      .select(col("rule"), col("n_flagged"),
        expr("(1000 * n_flagged) div n_docs").as("flag_rate_pm"),
        col("n_unique"), col("n_docs"), col("n_killed"))
      .orderBy(col("rule"))
  }

  /** q283 spectrum orders: unigrams, bigrams, trigrams. */
  val DiversityNs: Seq[Int] = Seq(1, 2, 3)

  /** q283: N-GRAM DIVERSITY SPECTRUM — per source and n ∈ {1,2,3},
    * the corpus-level repetitiveness profile: total n-gram
    * occurrences, distinct n-grams, type-occurrence ratio in
    * per-mille, hapax n-grams (frequency exactly 1) and the hapax
    * share of the types. The compression-proxy quality signal LLM
    * pipelines threshold on: boilerplate-heavy or template-generated
    * sources collapse at n=2,3 (few types, tiny hapax mass) long
    * before any per-doc rule (q29/q99 are PER-DOC; q220 compares
    * vocabularies ACROSS sources; this is each source's own
    * repetition structure as an n-spectrum — the slope across n is
    * the signal). Identity is the polyhash of the space-joined
    * window — the q22/q23 shingle identity, shared with the oracle.
    *
    * Shape at 100 TB: per n, ONE streamed generator pass
    * (graft_shingle_stream — per-row transient memory O(tokens),
    * never O(windows)) into a (source, hash)-keyed count agg (map-
    * side combinable), then a |sources|-row re-agg. The documents
    * scan is CacheScope-shared across the three orders. Output is
    * 3·|sources| rows. */
  def ngramDiversity(spark: SparkSession, d: String): DataFrame = {
    val docs = CacheScope.cached(
      Tables.documents(spark, d).select(col("source"), col("text")))
    val perN = DiversityNs.map { n =>
      docs
        .select(col("source"),
          graft.functions.GraftFunctions.shingleStream(col("text"), n)
            .as(Seq("p", "h")))
        .groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax_ngrams"))
        .select(col("source"), lit(n.toLong).as("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          expr("(1000 * distinct_ngrams) div total_ngrams")
            .as("distinct_pm"),
          col("hapax_ngrams"),
          expr("(1000 * hapax_ngrams) div distinct_ngrams").as("hapax_pm"))
    }
    perN.reduce(_ unionAll _).orderBy(col("source"), col("n"))
  }

  /** q300: VOCABULARY SATURATION — per source the species-richness
    * view of its term vocabulary: observed types D, the
    * frequency-of-frequency counts f1 (singletons) / f2 (doubletons),
    * the bias-corrected Chao1 lower-bound estimate of TRUE vocabulary
    * size D + f1·(f1−1)/(2·(f2+1)) (exact integer floor; the +1 makes
    * it defined at f2 = 0), the Good–Turing unseen-probability mass
    * f1/N in ppm (the chance the NEXT token sampled from this source
    * is a new type — Good's coverage estimator), and the saturation
    * share D/Chao1 in permille. q159 plots the empirical growth curve;
    * this is the closed-form answer to the question that curve asks:
    * a source near saturation 1000 has been vocabulary-exhausted
    * (marginal data repeats known types), one near 0 is under-sampled
    * and worth crawling deeper. Estimators are classical published
    * statistics (Chao 1984; Good 1953) over exact integer counts, so
    * the DuckDB oracle replays every floor bit-identically.
    *
    * Shape at 100 TB: one corpus scan → explode → (source, token)
    * hash-agg (map-side partials absorb the per-doc repetition) →
    * |sources|-keyed rollup of the count-of-counts; no window, no
    * join, no collect. f1·(f1−1) would move to DECIMAL(38,0) past
    * ~3·10⁹ singleton types; plans unchanged. */
  def vocabSaturation(spark: SparkSession, d: String): DataFrame = {
    Tables.documentsDist(spark, d)
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        expr("n_types + (f1 * (f1 - 1)) div (2 * (f2 + 1))"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("f1"),
        col("f2"), col("chao1"),
        expr("(1000000 * f1) div n_tokens").as("unseen_ppm"),
        expr("1000000 - (1000000 * f1) div n_tokens").as("coverage_ppm"),
        expr("(1000 * n_types) div chao1").as("saturation_pm"))
      .orderBy(col("source"))
  }

  /** q309: DEDUP-CORRECTED BM25 — q114's exact-integer BM25 with the
    * document-frequency statistics counted over NEAR-DUP CLUSTERS
    * (the persisted q49 labels) instead of raw documents: a term
    * living in one 50-copy boilerplate cluster has df 50 raw but
    * carries ONE cluster of information, so raw IDF under-scores it
    * and every query touching duplicated vocabulary ranks wrong — the
    * duplication→retrieval coupling q278 prices for SAMPLING, applied
    * to SEARCH. Emits both scores (raw q114 IDF and cluster IDF) plus
    * the shift, top-10 by the corrected score; tf and length
    * normalization stay per-document (length is a property of the doc
    * being returned; information content is a property of its
    * cluster). Same milli/micro floor discipline as q114 — one `div`
    * per ratio, oracle replays bit-for-bit over the shared recursive
    * cluster closure.
    *
    * Shape at 100 TB: q114's row-local tf/length scan joined once to
    * the persisted label stage (doc_id-keyed), ONE global aggregate
    * for both stat sets (the cluster dfs are countDistinct over the
    * same narrow projection), re-entering as a one-row broadcast;
    * top-10 is TakeOrderedAndProject. */
  def bm25DedupCorrected(spark: SparkSession, d: String): DataFrame = {
    val terms = Bm25Terms
    val labels = Dedup.nearDupClusters(spark, d)
      .select(col("doc_id"), col("cluster_id"))
    val perDoc = CacheScope.cached(bm25TermFreqs(spark, d).join(labels, "doc_id"))
    val aggs = Seq(count(lit(1)).as("n_docs"),
      countDistinct(col("cluster_id")).as("n_clusters"),
      sum(col("dl")).as("n_tokens")) ++
      terms.map(w => count(when(col(s"tf_$w") > 0, 1)).as(s"dfr_$w")) ++
      terms.map(w => countDistinct(
        when(col(s"tf_$w") > 0, col("cluster_id"))).as(s"dfc_$w"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)
    bm25Normed(perDoc, stats)
      .withColumn("score_raw_micro", bm25Score("n_docs", "dfr"))
      .withColumn("score_dedup_micro", bm25Score("n_clusters", "dfc"))
      .filter(col("score_dedup_micro") > 0)
      .select(col("doc_id"), col("cluster_id"), col("dl"),
        col("score_raw_micro"), col("score_dedup_micro"),
        (col("score_dedup_micro") - col("score_raw_micro"))
          .as("shift_micro"))
      .orderBy(col("score_dedup_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** q326 keyness df floor/ceiling: terms below MinGlobalDf are noise,
    * terms present in over half the corpus are function words — the
    * standard keyness candidate caps. */
  val KeynessMinDf = 5L
  val KeynessTopK = 10

  /** q326: TERM KEYNESS — which terms are statistically
    * OVER-REPRESENTED in each source versus the rest of the corpus?
    * Per (source, term) the 2×2 document-frequency table (a = docs in
    * source containing the term, b = source docs without it, c = docs
    * elsewhere with it, d = elsewhere without), scored by the χ²
    * association in milli via the q304 single cross-multiplied floor
    * 1000·N·(ad − bc)² / (n_s·(N−n_s)·df·(N−df)), kept only where the
    * term is over-represented (ad > bc), df-capped (≥ KeynessMinDf,
    * ≤ N/2 — the stopword ceiling), top-KeynessTopK per source with a
    * deterministic (χ² desc, term) tie-break. q62's tf-idf ranks
    * terms WITHIN a document; keyness contrasts a source AGAINST the
    * corpus — the vocabulary-drift fingerprint a mixture curator
    * reads (and the exact-integer stand-in for log-likelihood G²,
    * which would put ln() across the engines).
    *
    * Shape at 100 TB: tokenize → (source, term) df hash-agg (one
    * shuffle on the term vocabulary), term-keyed join to global df,
    * broadcast one-row corpus totals and |sources|-row doc counts;
    * the top-k is a window INSIDE source partitions over df-capped
    * candidates. */
  def termKeyness(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsDist(spark, d)
    val dt = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(toks(col("text")))).as("term"))
    val sdf = dt.groupBy(col("source"), col("term")).agg(count(lit(1)).as("a"))
    val gdf = sdf.groupBy(col("term")).agg(sum(col("a")).as("df"))
    val srcN = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val tot = docs.agg(count(lit(1)).as("nn"))
    val scored = sdf.join(gdf, Seq("term"))
      .join(broadcast(srcN), Seq("source"))
      .crossJoin(broadcast(tot))
      .filter(col("df") >= KeynessMinDf && col("df") * 2 <= col("nn"))
      .withColumn("adbc", expr(
        "CAST(a AS DECIMAL(38,0)) * ((nn - ns) - (df - a))" +
          " - CAST(ns - a AS DECIMAL(38,0)) * (df - a)"))
      .filter(col("adbc") > 0)
      .withColumn("chi2_milli", expr(
        """CAST((1000 * CAST(nn AS DECIMAL(38,0)) * adbc * adbc)
           div (CAST(ns AS DECIMAL(38,0)) * (nn - ns) * df * (nn - df))
           AS BIGINT)""".stripMargin.replace("\n", " ")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("chi2_milli").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KeynessTopK)
      .select(col("source"), col("rank"), col("term"), col("a").as("df_in"),
        col("df"), col("chi2_milli"))
      .orderBy(col("source"), col("rank"))
  }

  /** q345 style lexicon: the union of the three language stopword
    * lists — a FIXED 21-token function-word feature vector, the
    * classic authorship/style fingerprint basis (function words are
    * topic-free, so their frequency profile reads STYLE). */
  val StyleLexicon: Seq[String] = (stopEn ++ stopDe ++ stopEs).distinct

  /** q345: SOURCE STYLE SIMILARITY — pairwise cosine² (ppm) between
    * sources' function-word frequency profiles over the fixed
    * StyleLexicon. q63's vocabulary Jaccard asks "do they share
    * WORDS"; this asks "do they distribute the same FUNCTION words
    * the same WAY" — the stylometric read (Mosteller–Wallace's
    * function-word method) that survives topic shift, in exact
    * integer arithmetic: counts are Longs, one cross-multiplied
    * squared-cosine floor per pair (cosine of nonnegative vectors —
    * no sign bookkeeping). A source with zero lexicon hits reports
    * NULL rows via div-NULL on both engines.
    *
    * Shape at 100 TB: tokenize → (source, lexicon-word) hash-agg
    * (the relation is |sources|×21, alphabet-bounded); the pair
    * matrix is a self-join on the WORD key of that bounded relation.
    * Nothing pairwise ever touches the corpus. */
  def styleCosine(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.documentsDist(spark, d)
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .filter(col("w").isInCollection(StyleLexicon))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val norms = counts.groupBy(col("source"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("n2"),
        sum(col("c")).as("mass"))
    val dots = counts.as("a").join(counts.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(expr("CAST(a.c AS DECIMAL(38,0)) * b.c")).as("dot"))
    dots
      .join(norms.select(col("source").as("source_a"), col("n2").as("na2"),
        col("mass").as("mass_a")), "source_a")
      .join(norms.select(col("source").as("source_b"), col("n2").as("nb2"),
        col("mass").as("mass_b")), "source_b")
      .select(col("source_a"), col("source_b"),
        col("mass_a"), col("mass_b"),
        expr("CAST(dot AS BIGINT)").as("dot"),
        expr("""CASE WHEN na2 > 0 AND nb2 > 0 THEN CAST(
             (1000000 * dot * dot) div (na2 * nb2) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("cos2_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q337 code-keyword lexicon: tokens that mark program text across
    * mainstream languages — fixed, documented, part of the rule. */
  val CodeKeywords = Seq("def", "return", "import", "class", "if",
    "else", "for", "while", "function", "var", "let", "const", "void",
    "int", "public", "static")

  /** q337: CODE-VS-PROSE DETECTION — the corpus-filtering gate every
    * LLM data pipeline runs before mixing sources: per document the
    * code-symbol density (structural characters {}();=<> per 1000
    * chars) and code-keyword hits over the standard token split, and
    * the integer decision rule sym_pm ≥ 20 OR kw_hits ≥ 3 (DEFINED as
    * part of the operator — both engines replay it; no float, no
    * model). Per source: doc counts, flagged share, mean symbol
    * density. q28 guesses natural language, q29 scores junk; this
    * separates MODALITY — the upstream split that decides which
    * quality/tokenizer pipeline a document even enters.
    *
    * Shape at 100 TB: pure per-row codegen column arithmetic → one
    * |sources|-grid hash-agg. One shuffle. */
  def codeDetect(spark: SparkSession, d: String): DataFrame = {
    val sym = size(expr("regexp_extract_all(text, '[{}();=<>]', 0)"))
      .cast("long")
    val kw = countIn(toks(col("text")), CodeKeywords).cast("long")
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        sym.as("sym"), kw.as("kw_hits"))
      .withColumn("sym_pm",
        expr("(1000 * sym) div greatest(n_chars, 1)"))
      .withColumn("is_code",
        (col("sym_pm") >= 20L || col("kw_hits") >= 3L).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_code")).as("n_code"),
        sum(col("sym")).as("total_sym"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("source"), col("n_docs"), col("n_code"),
        expr("(1000 * n_code) div n_docs").as("code_share_pm"),
        expr("(1000 * total_sym) div greatest(total_chars, 1)")
          .as("sym_density_pm"))
      .orderBy(col("source"))
  }

  /** q338 rarity ceiling: a term in at most this many documents is
    * RARE (hapax + near-hapax vocabulary). */
  val RareDfMax = 2L

  /** q338: RARE-WORD SHARE — per source, what fraction of token MASS
    * is spent on near-hapax vocabulary (document frequency ≤
    * RareDfMax over the whole corpus)? High rare mass means heavy
    * OOV/tokenizer pressure and hard examples (the q59 curriculum's
    * lexical-difficulty axis); near-zero means templated text. Also
    * reports the share of documents over 10% rare mass — the
    * per-document tail a mean hides. Token occurrences weight the
    * numerator (mass, not vocabulary): q170's frequency spectrum
    * counts TYPES per df bucket, this prices the rare TOKENS each
    * source makes a model pay for.
    *
    * Shape at 100 TB: tokenize → (doc, term) tf hash-agg → term-df
    * relation (one vocabulary shuffle, the q62 plan) → term-keyed
    * join back → per-doc rollup → |sources| grid. */
  def rareWordShare(spark: SparkSession, d: String): DataFrame = {
    val tf = Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"),
        explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perDoc = tf.join(df_, Seq("term"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf")).as("n_tok"),
        sum(when(col("df") <= RareDfMax, col("tf")).otherwise(0L))
          .as("n_rare"))
      .withColumn("rare_pm", expr("(1000 * n_rare) div n_tok"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        sum(col("n_rare")).as("rare_tokens"),
        sum(when(col("rare_pm") > 100L, 1L).otherwise(0L))
          .as("n_docs_heavy"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("rare_tokens"),
        expr("(1000 * rare_tokens) div total_tokens").as("rare_share_pm"),
        expr("(1000 * n_docs_heavy) div n_docs").as("heavy_doc_share_pm"))
      .orderBy(col("source"))
  }

  /** q327: LIX READABILITY — the Björnsson readability index per
    * document, integerized (words/sentence + 100·longwords/words,
    * long = over 6 characters), with per-source histogram over
    * 5-point LIX buckets. LIX is the syllable-free readability
    * measure (Björnsson 1968) — exactly integerizable, unlike
    * Flesch–Kincaid whose syllable counts would put fragile
    * vowel-group regexes across both engines: lix_milli =
    * 1000·W div S + 100000·L div W, sentences counted as terminator
    * runs [.!?]+ floored at 1, words by the corpus-wide
    * space-tokenization convention. q29 scores junk/quality
    * heuristics; this grades reading COMPLEXITY — the curriculum
    * signal (q59) and an audience-mix audit per source.
    *
    * Shape at 100 TB: pure per-row column arithmetic (codegen, no
    * UDF) → (source, bucket) hash-agg. One shuffle on the bounded
    * histogram grid. */
  def lixReadability(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"),
        greatest(size(toks(col("text"))), lit(1)).cast("long").as("w"),
        size(filter(toks(col("text")), t => length(t) > 6))
          .cast("long").as("l"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
          .cast("long").as("s"))
      .withColumn("lix_milli",
        expr("(1000 * w) div s + (100000 * l) div w"))
      .groupBy(col("source"),
        expr("lix_milli div 5000").as("lix_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("total_words"),
        expr("CAST(sum(lix_milli) div count(1) AS BIGINT)").as("mean_lix_milli"))
      .orderBy(col("source"), col("lix_bucket"))

  /** q348: SOURCE TOTAL-VARIATION DISTANCE — the pairwise TV distance
    * between per-source unigram FREQUENCY distributions, exactly:
    * TV(p,q) = Σ_w |c1·T2 − c2·T1| div (2·T1·T2) scaled to ppm. The
    * numerator splits as (matched-term mass) + (T1−S1)·T2 + (T2−S2)·T1,
    * so ONLY the inner join on shared terms is ever materialized —
    * never a per-pair full outer over the union vocabulary (S1/S2 are
    * the matched-mass sums; each side's unmatched tail is recovered
    * from its total algebraically); a |sources|²-bounded pair spine
    * built from the totals restores pairs with NO shared terms, which
    * the inner join alone would drop (r12 ADVICE). TV is the exact-rational
    * divergence (KL/JS would put cross-engine logs in the value path);
    * 0 = identical token mixes, 10⁶ = disjoint. Completes the
    * source-similarity suite along the axis the others don't measure:
    * Curation's source-pair Jaccard compares vocab SETS (presence),
    * q345's style cosine compares 21 function words — this compares
    * the full frequency MIXTURE, the statistic that moves when one
    * source drifts topically while its vocabulary stays put.
    *
    * Shape at 100 TB: per-(source, term) hash-agg (map-side partials
    * absorb per-doc repetition), then a term-keyed self-join whose
    * pair mass is Σ_w df_w² ≤ |sources|²·|vocab| — alphabet-bounded,
    * never corpus²; totals broadcast (one row per source). Magnitude:
    * c·T ≤ 10⁶·10⁹ per matched term and 10⁶·num ≤ 2·10⁶·(T1·T2) ≈
    * 2·10²⁴ — inside DECIMAL(38,0) to corpus sizes far past SF100. */
  def sourceTvDistance(spark: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documentsDist(spark, d)
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("t"))
    // every unordered source pair, from the one-row-per-source totals
    // (|sources|² broadcast NLJ — allowlisted, alphabet-bounded), so
    // disjoint-vocabulary pairs surface with n_shared=0, tv_ppm=10⁶
    // instead of silently vanishing from the inner join below
    val pairs = tot.toDF("src_a", "t1")
      .join(broadcast(tot.toDF("src_b", "t2")), col("src_a") < col("src_b"))
    val a = cnt.toDF("sa", "w", "ca")
      .join(broadcast(tot.toDF("sa", "t1")), "sa")
    val b = cnt.toDF("sb", "w", "cb")
      .join(broadcast(tot.toDF("sb", "t2")), "sb")
    val shared = a.join(b, "w").filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("ns"),
        sum(expr("abs(CAST(ca AS DECIMAL(38,0)) * t2" +
          " - CAST(cb AS DECIMAL(38,0)) * t1)")).as("mabs"),
        sum(col("ca")).as("s1"), sum(col("cb")).as("s2"))
    pairs.join(shared,
        pairs("src_a") === shared("sa") && pairs("src_b") === shared("sb"),
        "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("ns"), lit(0L)).as("n_shared"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
               (coalesce(mabs, CAST(0 AS DECIMAL(38,0)))
                     + CAST(t1 - coalesce(s1, 0) AS DECIMAL(38,0)) * t2
                     + CAST(t2 - coalesce(s2, 0) AS DECIMAL(38,0)) * t1))
             div (2 * CAST(t1 AS DECIMAL(38,0)) * t2) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("tv_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
