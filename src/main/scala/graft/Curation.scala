package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the steps between "deduped documents"
  * and "training batches" in an LLM data pipeline (SURVEY.md §2.9
  * extensions). Like Dedup/Similarity, these have no counterpart in
  * the reference (pb-etl stops at tabular features); they are designed
  * scale-first and oracle-checked cell-for-cell.
  */
object Curation {
  import TextOps._

  /** q89: RAG/pretraining token chunking — sliding windows of 50
    * tokens at stride 40 (10-token overlap) per document, exploded to
    * one row per chunk with the chunk text and its content hash.
    * Unlike q51 (which packs documents INTO windows), this splits each
    * document into overlapping windows — the retrieval-index unit.
    * `sequence` + `slice` + `explode` only: row amplification is
    * bounded by ~n_tok/stride per doc, all per-row codegen, no
    * shuffle before the presentation sort. */
  def chunkTokens(spark: SparkSession, d: String): DataFrame =
    chunkTokensDf(Tables.documentsDist(spark, d))

  /** DataFrame-in variant (curation DAG's ChunkManifest stage). */
  private[graft] def chunkTokensDf(docs: DataFrame): DataFrame = {
    val win = 50
    val stride = 40
    docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("n_tok") - 1, lit(0L)).cast("int"),
          lit(stride))))
      // a window whose PREDECESSOR already reached end-of-document is a
      // strict sub-span carrying zero new tokens — emitting it would
      // bloat the index with no-information chunks (and, having a
      // distinct hash, they'd survive dedup). Surviving starts stay a
      // prefix of the stride sequence, so chunk ids remain contiguous.
      .filter(col("start") === 0 || col("start") - stride + win < col("n_tok"))
      .select(col("doc_id"),
        expr(s"CAST(start div $stride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("tok_start"),
        least(lit(win.toLong), col("n_tok") - col("start")).as("n_in_chunk"),
        polyHash(array_join(slice(col("tk"), col("start") + 1, lit(win)), " "))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q96: classifier-based quality filtering — the GPT-3/CCNet-style
    * pattern: weak labels from a cheap heuristic (here the q57 rule
    * cascade: keep vs any-fail), a HashingTF bag-of-words over a
    * fixed 2^12 feature space (no vocabulary fit — the only text
    * featurizer that needs zero extra passes at 100 TB), and a
    * logistic regression whose scores then rank EVERY document,
    * including ones the heuristic can't decide. Scoring is one
    * broadcast of the coefficient vector — linear scan, no shuffle.
    * Reproducibility note: LBFGS itself is deterministic, but its
    * gradient aggregation merges float partials in task-completion
    * order, so coefficients are stable only to float-merge tolerance
    * across runs/environments — CurationSpec pins scores equal within
    * that tolerance, not byte-identical. Learned weights aren't
    * SQL-oracle-expressible (like q33/q83): rows-only check;
    * CurationSpec also pins train-set separation (the model must at
    * least recover its own weak labels). */
  def qualityClassifier(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.Pipeline
    val docs = Tables.documentsDist(spark, d)
    val labeled = TextAnalysis.corpusFilterDf(docs)
      .select(col("doc_id"), when(col("verdict") === "keep", 1.0).otherwise(0.0).as("label"))
    val train = docs.join(labeled, "doc_id")
    val pipe = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new HashingTF().setInputCol("words").setOutputCol("features")
        .setNumFeatures(1 << 12),
      new LogisticRegression().setMaxIter(25).setRegParam(0.01)
        .setLabelCol("label").setFeaturesCol("features")))
    val model = pipe.fit(train)
    // Score with codegen arithmetic from the EXTRACTED coefficients
    // instead of model.transform: (a) the fitted model's UDF closure
    // drags its training summary — and through it the SparkSession,
    // whose ObservationManager is not java-serializable (Spark 4.1) —
    // into every task; (b) a broadcast coefficient vector + native dot
    // + sigmoid is the columnar LR-serving shape anyway: the 100 TB
    // scoring pass is pure whole-stage codegen, no model object at all.
    val lrm = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val w = lrm.coefficients.toArray
    val featured = model.stages.init.foldLeft(train.toDF())((df, st) => st.transform(df))
    import org.apache.spark.ml.functions.vector_to_array
    val margin = graft.functions.GraftFunctions.dot(
      vector_to_array(col("features")).cast("array<double>"), lit(w)) + lit(lrm.intercept)
    featured
      .select(col("doc_id"), col("label").cast("long").as("weak_label"),
        round(lit(1.0) / (lit(1.0) + exp(-margin)), 6).as("p_keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-language sampling rates (permille) for mixture rebalancing:
    * downsample the dominant language, keep the tail. Strata without a
    * configured rate are dropped (a production pipeline would supply a
    * default row). */
  private val MixturePermille =
    Seq(("en", 250L), ("de", 800L), ("es", 800L), ("fr", 800L), ("zh", 800L))

  /** q110 target mixture: desired permille share of each language in
    * the FINAL training mix (sums to 1000). */
  private val MixtureTargetPermille =
    Seq(("en", 400L), ("de", 150L), ("es", 150L), ("fr", 150L), ("zh", 150L))

  /** q110: mixture planning — the budget solver that PRODUCES sampling
    * rates like `MixturePermille` instead of assuming them. Given
    * per-language token totals and target shares, the largest
    * achievable mixture keeps every share exactly: the binding language
    * is the one whose inventory runs out first
    * (budget = min_l tokens_l·1000 div share_l), each language plans
    * budget·share div 1000 tokens, and its sampling rate is
    * planned·1000 div available. All integer floor arithmetic — the
    * oracle replays it bit-for-bit. The binding language's rate
    * APPROACHES 1000 but the double floor is not an exact invariant:
    * planned ≥ n − (share_pm+1000)/1000, so its rate is ≥
    * 1000 − ceil((share_pm+1000)/n_tokens) — e.g. n_tokens=7,
    * share_pm=400 gives rate 857. CurationSpec pins exactly this
    * bound (≥ 999 on any corpus with n_tokens ≥ share_pm+1000).
    *
    * Shape: one linear hash-agg for the token inventory, a broadcast
    * target join, and a one-row budget scalar re-entering via a
    * broadcast cross join (the q62 scalar pattern, allowlisted in
    * PlanSweepSpec). Output is |langs| rows regardless of corpus. */
  def mixturePlan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val targets = MixtureTargetPermille.toDF("lang", "share_pm")
    // referenced by the budget scalar AND the final projection: cached
    // so the corpus token inventory aggregates once
    val joined = graft.CacheScope.cached(
      Tables.documentsDist(spark, d)
        .select(col("lang"), size(toks(col("text"))).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
        .join(broadcast(targets), "lang")
        .withColumn("feasible", expr("n_tokens * 1000 div share_pm")))
    val budget = joined.agg(min(col("feasible")).as("budget"))
    joined.crossJoin(broadcast(budget))
      .withColumn("planned_tokens", expr("budget * share_pm div 1000"))
      .withColumn("rate_permille",
        least(lit(1000L), expr("planned_tokens * 1000 div n_tokens")))
      .select(col("lang"), col("n_tokens"), col("share_pm"),
        col("rate_permille"), col("planned_tokens"))
      .orderBy(col("lang"))
  }

  /** Exact integer square root: floor(sqrt(double)) then a one-step
    * correction in each direction. IEEE-754 requires sqrt to be
    * correctly rounded, so the seed is within 1 of the true isqrt for
    * every n < 2^53 and the corrected value is EXACT in both engines —
    * the trick that keeps a fractional-power weight oracle-checkable
    * (the "no cross-engine ln" discipline of q114/q128/q129 extended
    * to α = 1/2). */
  private def isqrt(n: Column): Column = {
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    val s1 = when(s0 * s0 > n, s0 - 1L).otherwise(s0)
    when((s1 + 1L) * (s1 + 1L) <= n, s1 + 1L).otherwise(s1)
  }

  /** q157: TEMPERATURE-scaled source mixture weights — w_s = n_s^α
    * with α = 1/2 (temperature T = 1/α = 2), the standard multilingual/
    * multi-source rebalancing rule (Conneau & Lample's exponentiated
    * sampling; Raffel et al.'s T5 mixing): big sources are tempered
    * toward the mean, small sources upweighted, without the hard target
    * shares q110 needs as input. For each source: its exact isqrt
    * weight, its resulting permille share, the tokens it contributes to
    * a one-corpus-pass budget (Σn tokens drawn ∝ w), and the implied
    * epochs over that source in milli-units (>1000 = the small source
    * repeats; the overfit-risk number a pipeline owner reads first).
    *
    * All integer arithmetic: isqrt is exact (see above), shares and
    * epochs are floor divisions. tn·w stays far inside Long until
    * Σn·√n_max ≈ 9·10¹⁸ — a 10-trillion-token corpus with a
    * trillion-token source; past that the division reorders to
    * (tn div tw)·w + (tn mod tw)·w div tw.
    *
    * Shape: ONE linear token-count hash-agg (|sources| rows out), a
    * one-row total re-entering via broadcast cross join (the q110
    * scalar pattern). Output is |sources| rows regardless of corpus —
    * nothing here scales with N but the one partial-agg scan. */
  def temperatureMix(spark: SparkSession, d: String): DataFrame = {
    // referenced by the totals scalar AND the final projection
    val inv = graft.CacheScope.cached(
      Tables.documentsDist(spark, d)
        .select(col("source"), size(toks(col("text"))).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
        .withColumn("w", isqrt(col("n_tokens"))))
    val tot = inv.agg(sum(col("w")).as("tw"), sum(col("n_tokens")).as("tn"))
    inv.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("w").as("weight"),
        expr("(1000 * w) div tw").as("share_pm"),
        expr("(tn * w) div tw").as("tokens_drawn"),
        expr("(1000 * ((tn * w) div tw)) div n_tokens").as("epochs_milli"))
      .orderBy(col("source"))
  }

  /** q165: corpus SNAPSHOT DIFF — the dataset-versioning audit between
    * the standing corpus (source idx < 15, the q113/q155 split
    * convention) and the arriving snapshot (≥ 15): per language, how
    * many distinct document contents were added, removed, and carried
    * over, with integer-permille churn rates. The report a dataset
    * release process publishes with every version bump ("v2 replaces
    * 12% of German, drops 3%"), and the tripwire for silent upstream
    * truncation (removed_pm spiking) or duplication (added_pm ~ 0).
    *
    * Content identity is the polynomial text hash (q21's unit) — a
    * re-ingested byte-identical doc is "same" regardless of doc_id.
    *
    * Shape: one row-local hash projection, two distinct-collapses
    * (lang, h)-keyed, ONE full-outer equi-join on the same key, and a
    * |langs|-row conditional agg — everything keyed, nothing quadratic,
    * output alphabet-bounded. */
  def snapshotDiff(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documentsDist(spark, d)
      .select(col("lang"),
        (substring(col("source"), 4, 10).cast("int") >= 15).as("is_new"),
        polyHash(col("text")).as("h"))
    val old = docs.filter(!col("is_new")).select(col("lang"), col("h"))
      .distinct().withColumn("ov", lit(1L))
    val neu = docs.filter(col("is_new")).select(col("lang"), col("h"))
      .distinct().withColumn("nv", lit(1L))
    old.join(neu, Seq("lang", "h"), "full_outer")
      .groupBy(col("lang"))
      .agg(sum(coalesce(col("ov"), lit(0L))).as("n_old"),
        sum(coalesce(col("nv"), lit(0L))).as("n_new"),
        sum(when(col("nv").isNotNull && col("ov").isNull, 1L).otherwise(0L))
          .as("added"),
        sum(when(col("ov").isNotNull && col("nv").isNull, 1L).otherwise(0L))
          .as("removed"),
        sum(when(col("ov").isNotNull && col("nv").isNotNull, 1L).otherwise(0L))
          .as("common"))
      .select(col("lang"), col("n_old"), col("n_new"), col("added"),
        col("removed"), col("common"),
        expr("CASE WHEN n_new > 0 THEN (1000 * added) div n_new END")
          .as("added_pm"),
        expr("CASE WHEN n_old > 0 THEN (1000 * removed) div n_old END")
          .as("removed_pm"))
      .orderBy(col("lang"))
  }

  /** q113: ingest drift monitor — a KS-style comparison of the document
    * length distribution between the standing corpus (source idx < 15)
    * and the arriving batch (≥ 15), the data-quality gate a pipeline
    * owner alarms on before appending a batch. Token counts bucket by
    * tens; each side's CDF is computed in exact integer PERMILLE
    * (running count · 1000 div total), so the per-bucket |ΔCDF| — whose
    * max is the KS statistic — is engine-portable with no float drift.
    * Shape: one hash-agg over the corpus (conditional per-side counts),
    * then windows over the (tiny) bucket table only. */
  def lengthDrift(spark: SparkSession, d: String): DataFrame =
    lengthDriftDf(Tables.documentsDist(spark, d))

  private[graft] def lengthDriftDf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // THE corpus pass: one conditional hash-agg (map-side combine) down
    // to the bucket table, whose cardinality is bounded by
    // max-doc-length/10 — data-shape-bounded, not corpus-bounded
    val buckets = docs
      .select(expr("CAST(size(split(text, ' ')) AS BIGINT) div 10").as("bucket"),
        // ONE definition of the corpus/batch membership rule (q56's)
        (!graft.DedupIndex.isCorpus).as("is_new"))
      .groupBy(col("bucket"))
      .agg(count(when(!col("is_new"), 1)).as("n_old"),
        count(when(col("is_new"), 1)).as("n_new"))
      .orderBy(col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // CDF arithmetic finishes driver-side over the bounded bucket rows
    // (the justified-bounded-collect idiom, q73 offsets / IVF
    // centroids) — the former formulation ran two no-partition windows,
    // i.e. the single-partition-sort plan shape this engine bans
    val totOld = buckets.map(_._2).sum
    val totNew = buckets.map(_._3).sum
    // an EMPTY side is a misconfigured monitor, not zero drift: fail
    // loudly (like the oracle's division-by-zero) instead of silently
    // emitting all-NULL CDFs that an alarm gate would read as calm
    def checked(tot: Long, side: String): Long =
      if (tot > 0) tot
      else throw new IllegalStateException(
        s"lengthDrift: the $side side of the corpus/batch split is empty")
    val (tO, tN) = (checked(totOld, "corpus"), checked(totNew, "arriving-batch"))
    var cumOld = 0L
    var cumNew = 0L
    val rows = buckets.map { case (b, nOld, nNew) =>
      cumOld += nOld; cumNew += nNew
      val cdfOld = cumOld * 1000L / tO
      val cdfNew = cumNew * 1000L / tN
      (b, nOld, nNew, cdfOld, cdfNew, math.abs(cdfOld - cdfNew))
    }
    spark.createDataFrame(rows.toIndexedSeq)
      .toDF("bucket", "n_old", "n_new", "cdf_old_pm", "cdf_new_pm", "drift_pm")
      .orderBy(col("bucket"))
  }

  /** q111: deterministic train/val/test split assignment — membership
    * hangs on a CONTENT hash (salted so it is independent of the q50
    * sampling cut and the q54 upweight draw), never on row position or
    * a random draw: re-ingesting, re-sharding, or extending the corpus
    * can never move a document across the split boundary — the property
    * that keeps a 100 TB eval split leak-free across pipeline reruns.
    * 98/1/1 permille split; zero shuffles except the output order. */
  def splitAssign(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .withColumn("skey", polyHash(concat(lit("split:"), col("text"))) % 1000L)
      .withColumn("split",
        when(col("skey") < 980, "train")
          .when(col("skey") < 990, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("skey"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling for mixture rebalancing.
    *
    * The sample key is a CONTENT hash (`polyhash(text) % 1000`), not a
    * random draw: the same document always lands on the same side of
    * the cut, so re-ingesting, re-sharding, or incrementally extending
    * the corpus never flips membership — the property that makes the
    * sample reproducible across 100 TB reruns and lets an incremental
    * pipeline union new shards without resampling old ones. Rates are
    * a tiny dimension broadcast-joined onto the scan; the whole
    * operator is scan → per-row hash → filter, zero shuffles, and the
    * filter prunes before any downstream exchange. */
  def stratifiedSample(spark: SparkSession, d: String): DataFrame =
    stratifiedSampleDf(Tables.documentsDist(spark, d))

  private[graft] def stratifiedSampleDf(docs: DataFrame): DataFrame =
    sampleCut(docs).orderBy(col("doc_id"))

  /** The sampling decision alone (no output sort): stateless —
    * scan → hash → broadcast-probe → filter — so the SAME code path
    * runs on a streaming DataFrame (asserted in CurationSpec); batch
    * q50 is this plus a deterministic output order. */
  private[graft] def sampleCut(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val rates = MixturePermille.toDF("lang", "permille")
    docs
      .withColumn("skey", polyHash(col("text")) % 1000L)
      .join(broadcast(rates), Seq("lang"))
      .filter(col("skey") < col("permille"))
      .select(col("doc_id"), col("lang"), col("skey"))
  }

  /** Per-language mixture weights in permille (1000 = keep once,
    * 2500 = 2.5 epochs, 700 = downsample to 0.7). */
  private val UpweightPermille =
    Seq(("en", 1000L), ("de", 2500L), ("es", 1300L), ("fr", 1300L), ("zh", 700L))

  /** Deterministic mixture upweighting — the >1× counterpart of
    * `stratifiedSample`. A weight w in permille expands each document
    * to floor(w/1000) copies plus one more iff its content hash falls
    * under w mod 1000 — so the EXPECTED copy count equals w/1000 while
    * every decision stays content-keyed (reproducible across reruns
    * and incremental shards; the same docs carry the fractional epoch
    * every time, which is what makes mixture experiments comparable).
    * Shape: scan → broadcast-join the weight dim → per-row
    * `explode(sequence(...))`; row amplification is exactly the target
    * epoch factor, no shuffle. */
  def upsample(spark: SparkSession, d: String): DataFrame =
    upsampleDf(Tables.documentsDist(spark, d))

  private[graft] def upsampleDf(docs: DataFrame): DataFrame =
    upsampleCopies(docs).orderBy(col("doc_id"), col("copy_id"))

  /** The copy-expansion decision alone (no output sort) — the form
    * pipeline stages compose. The hash key is SALTED with an
    * operator-specific prefix so it is independent of
    * `stratifiedSample`'s cut: composing sample→upweight on the same
    * corpus must not evaluate the fractional-copy test on a truncated
    * skey distribution (unsalted, a stratum with sample permille ≤
    * wpm mod 1000 would give EVERY survivor the extra copy and could
    * silently drop survivors whose weight is < 1). */
  private[graft] def upsampleCopies(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val weights = UpweightPermille.toDF("lang", "wpm")
    docs
      .withColumn("skey",
        polyHash(concat(lit("upsample:"), col("text"))) % 1000L)
      .join(broadcast(weights), Seq("lang"))
      .withColumn("n_copies",
        expr("wpm div 1000") +
          when(col("skey") < col("wpm") % 1000L, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
  }

  /** Per-source corpus statistics — the domain/feed-level view a
    * curation pipeline uses for reputation filtering (drop feeds whose
    * documents are consistently thin). One hash-agg shuffle on the
    * source key; the density is kept in integer milli-tokens-per-doc
    * (`sum*1000 div n`) so the stat is exact and portable — no
    * floating-point average to drift cross-engine. */
  def sourceStats(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("sum_tok"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("avg_tok_milli", expr("sum_tok * 1000 div n_docs"))
      .select(col("source"), col("n_docs"), col("sum_tok"),
        col("avg_tok_milli"), col("n_langs"), col("min_chars"), col("max_chars"))
      .orderBy(col("source"))

  /** Deterministic curriculum ordering: per-language training rank by
    * (difficulty band, seeded content-hash shuffle). The "shuffle" is
    * `polyhash("shuffle42:" + text)` — a reproducible permutation with
    * no RNG state, so a re-run, a resumed job, and an incremental
    * extension all agree on the order (the property RNG-based shuffles
    * lose the moment partitioning changes). Ranks are per-language
    * window functions — range-partitioned sorts, no global
    * single-partition bottleneck — matching `packWindows`' per-language
    * stream model. */
  def curriculum(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("band"), col("shuffle_key"), col("doc_id"))
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        (polyHash(concat(lit("shuffle42:"), col("text"))) % 1000000L).as("shuffle_key"))
      .withColumn("band",
        when(col("n_tok") < 40, 0L).when(col("n_tok") < 70, 1L).otherwise(2L))
      .withColumn("train_rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("band"),
        col("shuffle_key"), col("train_rank"))
      .orderBy(col("doc_id"))
  }

  /** Tokens per context window for `packWindows`. */
  val WindowBudget = 512L

  /** Context-window sequence packing: concatenate each language's
    * documents in deterministic doc_id order and chunk the token
    * stream at a fixed budget — the "concat and split" packing used to
    * build pretraining batches. A document is assigned to the window
    * where it STARTS (window_id = floor(preceding_tokens / budget));
    * `off_in_win` is its token offset inside that window.
    *
    * Shape: one running-sum window function per language partition —
    * a single range-partitioned sort, no joins. At 100 TB a single
    * partition per language would skew; the production variant
    * partitions by (lang, shard) with per-shard token streams — same
    * plan with a composite key, packing quality unchanged since
    * windows never span shards by construction. */
  def packWindows(spark: SparkSession, d: String): DataFrame =
    packWindowsDf(Tables.documentsDist(spark, d))

  private[graft] def packWindowsDf(docs: DataFrame): DataFrame =
    packAssign(docs).orderBy(col("doc_id"))

  /** The window assignment alone (no output sort): the per-lang
    * running-sum window is the only exchange — pipeline stages write
    * this directly (parquet gives no order guarantee, so the batch
    * query's ORDER BY would be a wasted corpus-wide sort there). */
  private[graft] def packAssign(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("prev_tok",
        coalesce(sum(col("n_tok")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("prev_tok") / lit(WindowBudget)).cast("long").as("window_id"),
        (col("prev_tok") % lit(WindowBudget)).as("off_in_win"))
  }

  /** Source-pair vocabulary overlap — the corpus-level contamination /
    * redundancy matrix (exact Jaccard of each source pair's distinct
    * token vocabularies). A curation pipeline reads this to decide
    * which sources to dedup against each other and which mixtures are
    * near-redundant.
    *
    * Shape: the corpus collapses to (source, word) DISTINCT pairs —
    * one hash-agg shuffle, output bounded by |vocab|·|sources|, tiny
    * relative to the corpus. The pair matrix is a word-keyed self-join
    * of that collapsed relation: per-word fan-out is at most
    * C(|sources|,2), so the join is linear in vocabulary size — this
    * is the aggregate-then-join ordering that makes a corpus-level
    * all-pairs statistic feasible at 100 TB (the doc-level analog is
    * exactly what the q22-vs-q23 dedup family avoids). Jaccard is
    * integer permille over exact set sizes. */
  def sourceOverlap(spark: SparkSession, d: String): DataFrame = {
    val sv = Tables.documentsDist(spark, d)
      .select(col("source"), explode(toks(col("text"))).as("word"))
      .distinct()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    sv.as("a").join(sv.as("b"), Seq("word"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("nv").as("nv_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("nv").as("nv_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("nv_a"), col("nv_b"),
        expr("(1000 * inter) div (nv_a + nv_b - inter)").as("jaccard_permille"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q122: Horvitz–Thompson extrapolation from the q50 sample — the
    * survey-estimation pass: every corpus statistic a monitoring job
    * wants (doc counts, token inventory per language) estimated from
    * the SAMPLE alone, each sampled row weighted by its known inverse
    * inclusion rate (1000/permille). Because q50's inclusion is a
    * content-hash cut (not a random draw), the estimate is REPRODUCIBLE
    * — the same corpus always yields the same estimate — and exact
    * integer arithmetic (`·1000 div permille`) makes it oracle-exact.
    * At 100 TB this is the only affordable way to track corpus drift
    * between full-inventory runs: the scan touches rate·corpus rows.
    *
    * Shape: the sample cut (scan → broadcast rate probe → filter), one
    * hash-agg per language, estimator arithmetic on the |langs|-row
    * result. */
  def sampleEstimate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val rates = MixturePermille.toDF("lang", "permille")
    Tables.documentsDist(spark, d)
      .withColumn("skey", polyHash(col("text")) % 1000L)
      .join(broadcast(rates), Seq("lang"))
      .filter(col("skey") < col("permille"))
      .select(col("lang"), col("permille"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("permille"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("tok_sampled"))
      .select(col("lang"), col("permille"), col("n_sampled"), col("tok_sampled"),
        expr("(n_sampled * 1000) div permille").as("est_docs"),
        expr("(tok_sampled * 1000) div permille").as("est_tokens"))
      .orderBy(col("lang"))
  }

  /** q120: exact-k per-stratum eval carve — the "hold out exactly 50
    * documents per source" cut an eval-set owner runs, deterministic
    * under re-ingestion because the rank key is a CONTENT hash
    * (prefix-salted like q111's split key, so carve membership and
    * split membership stay independent draws; duplicate texts tie-break
    * by doc_id).
    *
    * Scale shape: NOT a row_number window (which sorts every document
    * of every stratum) but the bounded-heap `graft_topk` aggregate —
    * per (source) group the state is 50 pairs, map-side partials
    * shuffle k rows per partition per stratum, and no full sort ever
    * happens. The hash fits a double exactly (< 2^53), so the heap's
    * (score desc, id asc) order realizes (hash asc, doc_id asc) via
    * score = −hash. */
  def evalCarve(spark: SparkSession, d: String): DataFrame =
    evalCarveDf(Tables.documentsDist(spark, d))

  private[graft] def evalCarveDf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        polyHash(concat(lit("carve:"), col("text"))).as("hkey"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKByScore.topk(
        -col("hkey").cast("double"), col("doc_id"), 50).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("source"), (col("i") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), (-col("p.score")).cast("long").as("hkey"))
      .orderBy(col("source"), col("rank"))

  /** q129: DSIR-style importance weights (Xie et al., NeurIPS 2023 —
    * Data Selection via Importance Resampling): score every candidate
    * document by how much its hashed-token distribution looks like a
    * TARGET set (here the q55/q111 eval-held convention doc_id%97=0)
    * versus the raw pool. DSIR's per-feature log-likelihood ratio is
    * replaced by the smoothed probability RATIO in exact integer
    * milli-units — per bucket b of 1024 hash buckets,
    * w(b) = 1000·(t_b+1)·(R+1024) div ((r_b+1)·(T+1024)) (add-one
    * smoothing; T,R the target/raw token totals) — monotone in the
    * log-ratio per bucket, so bucket ordering is DSIR's, with no
    * cross-engine `ln` (the q114/q128 argument). A doc's affinity is
    * its mean token-bucket weight.
    *
    * Shape: ONE token explode feeds both sides — the 1024-row bucket
    * count table (conditional aggregates split target/raw in the same
    * hash-agg) and the per-doc scoring pass; the weight table re-enters
    * as a BROADCAST hash join (1024 rows regardless of corpus size),
    * and scoring is one per-doc hash-agg. Exactly the
    * importance-resampling sampler shape at 100 TB: the weight table is
    * tiny state learned in one linear pass, scoring is linear and
    * embarrassingly parallel. Decimal `div` guards the product against
    * the Long ceiling at corpus scale. */
  def importanceWeights(spark: SparkSession, d: String): DataFrame =
    dsirAffinity(spark, d).orderBy(col("doc_id"))

  /** The q129 affinity pass without the presentation sort, shared with
    * q135's selection step. */
  private def dsirAffinity(spark: SparkSession, d: String): DataFrame = {
    val tok = Tables.documentsDist(spark, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .select(col("doc_id"), (polyHash(col("w")) % 1024).as("b"))
    val isTgt = col("doc_id") % 97 === 0
    val bcnt = tok.groupBy(col("b")).agg(
      count(when(isTgt, 1)).as("tb"),
      count(when(!isTgt, 1)).as("rb"))
    val stats = bcnt.agg(sum(col("tb")).as("tt"), sum(col("rb")).as("rt"))
    val wts = bcnt.crossJoin(broadcast(stats))
      .select(col("b"),
        expr("""(cast(1000 as decimal(38,0)) * (tb + 1) * (rt + 1024))
                | div (cast(rb + 1 as decimal(38,0)) * (tt + 1024))"""
          .stripMargin.replace("\n", " ")).as("wm"))
    tok.filter(!isTgt).join(broadcast(wts), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        expr("sum(wm) div count(1)").as("affinity_milli"))
  }

  /** q135: DSIR SELECTION — the resampling step that q129's weights
    * exist for (Xie et al. §2: sample documents with probability
    * proportional to the importance weight). Done DETERMINISTICALLY as
    * exact-integer acceptance sampling: each candidate doc draws its
    * own uniform u ∈ [0, 1000) from a salted content-independent hash
    * of its id (`polyHash("sel:" ++ doc_id)` — replayable by the
    * oracle, uncorrelated with the affinity), and is kept iff
    * u < min(affinity_milli, 1000). Acceptance probability is exactly
    * min(w, 1)·(per-doc), so the kept set IS an importance-resampled
    * draw with a fixed seed — rerunnable, auditable, and
    * shard-independent (each doc's verdict depends on nothing but its
    * own row: selection stays embarrassingly parallel at 100 TB, no
    * global sampling state, no RNG sequence to coordinate across
    * executors).
    *
    * Shape: q129's affinity pass (one token explode + 1024-row
    * broadcast weight table) + a row-local filter. Nothing new
    * shuffles. */
  def dsirSelect(spark: SparkSession, d: String): DataFrame =
    dsirAffinity(spark, d)
      .withColumn("u_permille",
        polyHash(concat(lit("sel:"), col("doc_id").cast("string"))) % 1000L)
      .filter(col("u_permille") < least(col("affinity_milli"), lit(1000L)))
      .select(col("doc_id"), col("n_tok"), col("affinity_milli"), col("u_permille"))
      .orderBy(col("doc_id"))

  /** q137: sequence-length bucketing — the batch-shape planning pass a
    * training pipeline runs before padding/packing: documents grouped
    * into fixed 64-token length buckets, with per-bucket doc counts,
    * token mass, bucket max, the exact padding waste of padding every
    * doc to the bucket max, and the fill ratio in permille. This is
    * the report that decides bucketed-batching boundaries (and
    * quantifies what q51's packing saves over naive padding).
    *
    * Shape: row-local token count → ONE hash-agg keyed by bucket
    * (output rows = max_len/64 regardless of corpus size) → tiny
    * arithmetic on the aggregates. Linear, one shuffle of
    * bucket-partial rows, nothing else — at 100 TB this is a
    * map-combine reduction like q64. */
  def lengthBuckets(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("bucket", expr("n_tok div 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        max(col("n_tok")).as("max_tok"))
      .select(col("bucket"), (col("bucket") * 64).as("lo_tok"), col("n_docs"),
        col("sum_tok"), col("max_tok"),
        (col("n_docs") * col("max_tok") - col("sum_tok")).as("pad_waste_tok"),
        expr("(1000 * sum_tok) div (n_docs * max_tok)").as("fill_permille"))
      .orderBy(col("bucket"))

  /** q134: per-source quality-score calibration — raw heuristic scores
    * are not comparable ACROSS sources (a mid-tier web page and a
    * mid-tier academic paper score very differently), so mixing and
    * thresholding operate on the within-source quantile instead: each
    * doc's score is mapped to its exact empirical rank permille inside
    * its source, `(1000·(rank−1)) div (n−1)` with a deterministic
    * (score, doc_id) order — quantile normalization, the curation twin
    * of q59's curriculum buckets. The raw score itself is the q29
    * heuristic restated in exact integer milli-units (500·uniq-ratio +
    * 200·stopword-ratio + 300·capped-length), so the whole operator is
    * hash-checked.
    *
    * Shape: row-local scoring (no shuffle), then ONE source-keyed sort
    * window shared by rank and count — a single exchange at 100 TB,
    * partitioned by source; no joins. Sources are few and large; a
    * pathological mega-source would take the q50-style per-source
    * range repartition, same semantics. */
  /** q144: PII / policy-pattern scrub over the event property channel —
    * the telemetry-side sibling of q88 (which masks seeded email/phone
    * in the document corpus). What q144 adds over q88: two more
    * families (IPv4, bare digit runs), a fixed redaction CASCADE
    * (email → IPv4 → phone → digit-run) where each family is counted
    * on the string as the previous family left it — so a digit run
    * inside an already-redacted IP is never double-counted — and
    * per-row chars_redacted accounting for the audit log. Patterns avoid
    * engine-specific escapes (`[.]` not `\.`, no `\b`, no `\d`) so the
    * Java-regex plan and the RE2 oracle match byte-for-byte.
    *
    * Shape: pure row-local regex codegen — zero shuffles before the
    * presentation sort; at 100 TB this is a map-only pass that fuses
    * into the scan. The synthetic props only carry digit runs (the
    * email/IP/phone counters read 0 corpus-wide); CurationSpec drives
    * the full cascade on seeded PII rows. */
  def piiScrub(spark: SparkSession, d: String): DataFrame =
    piiScrubDf(Tables.events(spark, d))

  private[graft] val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private[graft] val PiiIpRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private[graft] val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private[graft] val PiiNumRe = "[0-9]{2,}"

  private[graft] def piiScrubDf(events: DataFrame): DataFrame =
    scrubCut(events).orderBy(col("event_id"))

  /** The stateless scrub core (no presentation sort): pure per-row
    * regex columns, so it runs UNCHANGED on a streaming DataFrame
    * (CurationSpec pins stream ≡ batch on a memory stream). */
  private[graft] def scrubCut(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"), col("props"))
      .withColumn("s1", regexp_replace(col("props"), PiiEmailRe, "<EMAIL>"))
      .withColumn("s2", regexp_replace(col("s1"), PiiIpRe, "<IP>"))
      .withColumn("s3", regexp_replace(col("s2"), PiiPhoneRe, "<PHONE>"))
      .select(col("event_id"), col("event_type"),
        expr(s"size(regexp_extract_all(props, '$PiiEmailRe', 0))").cast("long").as("n_email"),
        expr(s"size(regexp_extract_all(s1, '$PiiIpRe', 0))").cast("long").as("n_ipv4"),
        expr(s"size(regexp_extract_all(s2, '$PiiPhoneRe', 0))").cast("long").as("n_phone"),
        expr(s"size(regexp_extract_all(s3, '$PiiNumRe', 0))").cast("long").as("n_num"),
        (length(col("props")) - length(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            col("props"), PiiEmailRe, ""), PiiIpRe, ""), PiiPhoneRe, ""), PiiNumRe, "")))
          .cast("long").as("chars_redacted"),
        regexp_replace(col("s3"), PiiNumRe, "<NUM>").as("redacted"))

  def qualityCalibration(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_uniq"),
        size(filter(col("tk"), x =>
          x.isin("the", "a", "of", "and", "is", "to", "in"))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("source"),
        expr("(500 * n_uniq) div n_tok + (200 * n_stop) div n_tok" +
          " + (300 * least(n_tok, 200)) div 200").as("score_milli"))
    val w = Window.partitionBy(col("source")).orderBy(col("score_milli"), col("doc_id"))
    s.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nsrc", count(lit(1)).over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("score_milli"),
        expr("CASE WHEN nsrc > 1 THEN (1000 * (rn - 1)) div (nsrc - 1)" +
          " ELSE 500 END").as("cal_permille"))
      .orderBy(col("doc_id"))
  }

  /** q147: per-source document caps (RefinedWeb/C4-style host caps) —
    * keep at most `SourceCap` docs per source, best-first by the q134
    * integer milli-quality score (ties → smaller doc_id), and report
    * per-source retention: docs/chars kept vs dropped and the quality
    * bar the cap landed on. The curation guard against any one host
    * flooding the training mix.
    *
    * Shape at 100 TB: scoring is row-local; selection is the
    * bounded-heap top-k aggregate (map-side partial heaps, k rows per
    * source per partition shuffled — never a per-source sort of all
    * docs); the kept-id list per source is k-bounded, so the stats
    * join is against a capped-cardinality relation. No windows. */
  def sourceCaps(spark: SparkSession, d: String): DataFrame =
    sourceCapsDf(Tables.documentsDist(spark, d))

  private[graft] val SourceCap = 15

  /** The q134/q29 heuristic in exact integer milli-units, as a
    * passthrough-column transform: (doc_id, [extra], n_chars,
    * score_milli). Row-local; shared by q147/q154. */
  private[graft] def qualityMilli(docs: DataFrame, extra: String*): DataFrame = {
    val keep = extra.map(col)
    docs
      .select(col("doc_id") +: col("n_chars") +: toks(col("text")).as("tk") +: keep: _*)
      .select(col("doc_id") +: col("n_chars") +:
        size(col("tk")).cast("long").as("n_tok") +:
        size(array_distinct(col("tk"))).cast("long").as("n_uniq") +:
        size(filter(col("tk"), x =>
          x.isin("the", "a", "of", "and", "is", "to", "in"))).cast("long").as("n_stop") +:
        keep: _*)
      .select(col("doc_id") +: col("n_chars") +:
        expr("(500 * n_uniq) div n_tok + (200 * n_stop) div n_tok" +
          " + (300 * least(n_tok, 200)) div 200").as("score_milli") +: keep: _*)
  }

  private[graft] def sourceCapsDf(docs: DataFrame): DataFrame = {
    val s = CacheScope.cached(qualityMilli(docs, "source"))
    // heap orders by (score desc, id asc); milli-scores are < 2^53 so
    // the double cast is exact
    val kept = s.groupBy(col("source"))
      .agg(graft.functions.TopKByScore.topk(
        col("score_milli").cast("double"), col("doc_id"), SourceCap).as("top"))
      .select(col("source"), explode(col("top.id")).as("doc_id"))
    val keptStats = s.join(kept, Seq("source", "doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_chars")).as("kept_chars"),
        min(col("score_milli")).as("cap_score_milli"))
    s.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .join(keptStats, Seq("source"))
      .select(col("source"), col("n_docs"), col("kept_docs"),
        (col("n_docs") - col("kept_docs")).as("dropped_docs"),
        col("n_chars_total"), col("kept_chars"),
        expr("(1000 * kept_docs) div n_docs").as("retention_permille"),
        col("cap_score_milli"))
      .orderBy(col("source"))
  }

  /** q151: exact per-language token-length percentiles (p50/p90/p99)
    * — the distribution report batch-shape planning (q137) and drift
    * monitoring (q113) read from. pK is rank semantics, not
    * interpolation: the smallest length whose cumulative doc count
    * reaches ceil(n·K/100) under the deterministic (n_tok, doc_id)
    * order — integer-exact, engine-portable.
    *
    * Shape at 100 TB: NOT a per-lang sort of the corpus (a
    * Window.partitionBy(lang) rank would drag every doc of a language
    * through one partition — the q73 anti-pattern). Instead ONE
    * (lang, n_tok) hash-agg collapses the corpus to a histogram
    * bounded by |langs|·max_len rows, and the cumulative windows run
    * over that bounded relation only (the q113 justified-bounded
    * idiom). */
  def lengthPercentiles(spark: SparkSession, d: String): DataFrame =
    cumulative(tokLengthHist(spark, d), "lang", "n_tok")
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        pctl(50, "n_tok").as("p50_tok"), pctl(90, "n_tok").as("p90_tok"),
        pctl(99, "n_tok").as("p99_tok"))
      .orderBy(col("lang"))

  /** The (lang, n_tok, c) token-length histogram: one corpus scan
    * collapsed to |langs|·max_len rows. */
  private[graft] def tokLengthHist(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("n_tok")).agg(count(lit(1)).as("c"))

  /** A (key, value, c) histogram plus, per `key`, the running count
    * `cum` in `value` order and the total `n` — the cumulative windows
    * run over the bounded histogram, never the corpus. */
  private[graft] def cumulative(hist: DataFrame, key: String, value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(key))
    hist
      .withColumn("cum", sum(col("c")).over(byKey.orderBy(col(value))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(byKey))
  }

  /** Exact rank percentile `p` over [[cumulative]] rows: the least
    * `value` whose running count reaches ⌈p·n/100⌉. */
  private[graft] def pctl(p: Int, value: String): Column =
    min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col(value)))

  /** q152: leakage-safe train/val/test split — the q111 content-hash
    * split made consistent with q49's near-dup clusters, so two
    * near-duplicate documents can never straddle train and test (the
    * eval-contamination channel dedup exists to close: a test doc
    * whose near-dup sits in train is a leaked answer). Every doc
    * inherits the split of its cluster representative (the minimum
    * doc_id — exactly q49's cluster_id), `moved` flags docs the
    * reconciliation pulled across, and singletons keep their own
    * split by construction.
    *
    * Shape at 100 TB: pure composition of two verified plans (q49
    * star-CC labels + q111 row-local hash split) plus two doc-keyed
    * equi-joins — the representative side is one row per CLUSTER, so
    * the join against it is dimension-shaped, and nothing new
    * shuffles at corpus width. */
  def leakSafeSplit(spark: SparkSession, d: String): DataFrame = {
    val labels = Dedup.nearDupClusters(spark, d)
    val split = splitAssign(spark, d).select(col("doc_id"), col("split"))
    val rep = split.select(col("doc_id").as("cluster_id"),
      col("split").as("final_split"))
    labels.join(split, "doc_id").join(rep, "cluster_id")
      .select(col("doc_id"), col("split").as("orig_split"),
        col("cluster_id"), col("cluster_n"), col("final_split"),
        when(col("split") =!= col("final_split"), 1L).otherwise(0L).as("moved"))
      .orderBy(col("doc_id"))
  }

  /** q154: canonical-document selection per duplicate cluster — the
    * step the whole dedup family exists to feed: for every q49
    * near-dup cluster, keep the best document (highest q134 integer
    * milli-quality, ties → smallest doc_id) and account for what the
    * collapse saves (dropped docs, dropped chars). Singleton clusters
    * keep their only doc with zero savings.
    *
    * Shape at 100 TB: q49's labels (verified star-CC) + the row-local
    * quality columns, one doc-keyed equi-join, then ONE per-cluster
    * agg whose argmax rides a min(struct) — no windows over the
    * corpus, output one row per CLUSTER. */
  def canonicalDocs(spark: SparkSession, d: String): DataFrame = {
    val labels = Dedup.nearDupClusters(spark, d)
      .select(col("doc_id"), col("cluster_id"))
    val score = qualityMilli(Tables.documentsDist(spark, d))
    labels.join(score, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("score_milli")).as("ns"), col("doc_id"),
          col("n_chars"), col("score_milli"))).as("best"),
        count(lit(1)).as("cluster_n"),
        sum(col("n_chars")).as("chars_total"))
      .select(col("cluster_id"), col("best.doc_id").as("canonical_id"),
        col("best.score_milli").as("canonical_score_milli"),
        col("cluster_n"),
        (col("cluster_n") - 1L).as("dropped_docs"),
        (col("chars_total") - col("best.n_chars")).as("chars_saved"))
      .orderBy(col("cluster_id"))
  }

  /** q171's anonymity threshold and quasi-identifier bucket width. */
  val AnonK = 8
  val AnonBucketTokens = 64L

  /** q171: K-ANONYMITY SUPPRESSION audit (Sweeney 2002) over the
    * quasi-identifier (lang, token-length bucket) — any group smaller
    * than K is suppressed (its docs can be singled out by the
    * identifier combination alone), larger groups are retained whole.
    * The release gate a privacy-reviewed corpus export runs AFTER
    * q144's content-level PII scrub: scrubbing hides values, this
    * hides membership. Output is the per-group audit (size, suppressed
    * flag, retained count) — the export join keys off it.
    *
    * Shape: one (lang, bucket) hash-agg with map-side partials — the
    * group relation is |langs|·|buckets|, alphabet-bounded, so the
    * audit costs one scan + one tiny shuffle at any corpus size; the
    * export applying it is one broadcast join of this relation back
    * onto the corpus. Thresholding after aggregation means no
    * per-doc state and no skew sensitivity. */
  def kAnonymity(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("lang"),
        expr(s"CAST(size(split(text, ' ')) AS BIGINT) div $AnonBucketTokens")
          .as("len_bucket"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("len_bucket"), col("n_docs"),
        when(col("n_docs") < AnonK, lit(1L)).otherwise(lit(0L))
          .as("suppressed"),
        when(col("n_docs") < AnonK, lit(0L)).otherwise(col("n_docs"))
          .as("retained_docs"))
      .orderBy(col("lang"), col("len_bucket"))

  /** q310's diversity bar: a quasi-identifier group whose sensitive
    * attribute takes fewer distinct values than this is l-low. */
  val LDiversityL = 3L

  /** q310: L-DIVERSITY / T-CLOSENESS AUDIT — k-anonymity (q171) only
    * counts GROUP SIZES; a group of 1000 docs all from one source
    * still leaks its sensitive attribute completely. Per
    * quasi-identifier group (q171's lang × length-bucket), with
    * `source` as the sensitive attribute: the number of distinct
    * sensitive values (l-diversity), the modal value's share (pm —
    * the homogeneity-attack success rate), and the t-closeness
    * distance: the total-variation distance between the group's
    * source distribution and the corpus's, exactly integral as
    * Σ|n_gs·N − n_s·N_g| / (2·N_g·N) in permille (cross-multiplied —
    * the earth-mover distance on a categorical alphabet). Flags both
    * failure modes the release auditor checks: k_suppressed (q171's
    * bar) and l_low (LDiversityL). Missing (group, source) cells
    * contribute their full corpus mass to t — the grid is completed
    * by a dimension-bounded cross join, never a fact-side scan.
    *
    * Shape at 100 TB: one corpus scan → (lang, bucket, source)
    * hash-agg; everything downstream lives on that grid (groups ×
    * sources cells, two scalar broadcasts) — the q280
    * value-domain-bounded cross-join idiom. */
  def lDiversityAudit(spark: SparkSession, d: String): DataFrame = {
    val cells = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("lang"),
        expr(s"CAST(size(split(text, ' ')) AS BIGINT) div $AnonBucketTokens")
          .as("len_bucket"),
        col("source"))
      .groupBy(col("lang"), col("len_bucket"), col("source"))
      .agg(count(lit(1)).as("n_gs")))
    val grp = cells.groupBy(col("lang"), col("len_bucket"))
      .agg(sum(col("n_gs")).as("n_docs"), count(lit(1)).as("l_distinct"),
        max(col("n_gs")).as("modal_n"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("n_gs")).as("n_s"))
    val tot = srcTot.agg(sum(col("n_s")).as("n_corpus"))
    val grid = grp.select(col("lang"), col("len_bucket"), col("n_docs"))
      .crossJoin(srcTot)
      .join(cells, Seq("lang", "len_bucket", "source"), "left")
      .withColumn("n_gs", coalesce(col("n_gs"), lit(0L)))
    val tnum = grid.crossJoin(broadcast(tot))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(sum(expr("abs(n_gs * n_corpus - n_s * n_docs)")).as("t_num"),
        max(col("n_corpus")).as("n_corpus"))
    grp.join(tnum, Seq("lang", "len_bucket"))
      .select(col("lang"), col("len_bucket"), col("n_docs"),
        col("l_distinct"),
        expr("(1000 * modal_n) div n_docs").as("modal_share_pm"),
        expr("(1000 * t_num) div (2 * n_docs * n_corpus)").as("t_pm"),
        when(col("n_docs") < AnonK, 1L).otherwise(0L).as("k_suppressed"),
        when(col("l_distinct") < LDiversityL, 1L).otherwise(0L).as("l_low"))
      .orderBy(col("lang"), col("len_bucket"))
  }

  /** q313: IMPORTANCE-WEIGHT EFFECTIVE SAMPLE SIZE — the design-effect
    * diagnostic for the q129 DSIR weights: per source, Kish's
    * ESS/n = (Σw)²/(n·Σw²) in permille (1000 = uniform weights — the
    * full corpus counts; → 0 = the weighting collapsed onto a few
    * documents and the "importance-sampled" corpus is effectively
    * tiny), plus the single heaviest document's weight share. The
    * check that belongs BETWEEN q129 (compute weights) and q135
    * (sample by them): resampling by weights with low ESS silently
    * trades corpus size for variance, and no downstream eval sees it
    * until the model repeats itself. Exact: weights are integer
    * milli, the squared sums run in DECIMAL(38,0)/HUGEINT, one
    * cross-multiplied division. Degenerate all-zero-weight sources
    * report NULL through the div-NULL path on both engines.
    *
    * Shape at 100 TB: the q129 weight pass (hashed-bucket broadcast,
    * row-local scoring) + one doc_id-keyed source join + a |sources|
    * rollup. */
  def importanceEss(spark: SparkSession, d: String): DataFrame = {
    val w = importanceWeights(spark, d)
      .select(col("doc_id"), col("affinity_milli").as("w"))
    val src = Tables.documents(spark, d).select(col("doc_id"), col("source"))
    w.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
        sum(expr("w * w")).as("sww"), max(col("w")).as("w_max"))
      .select(col("source"), col("n_docs"), col("sw"), col("w_max"),
        expr("""CAST((1000 * CAST(sw AS DECIMAL(38,0)) * sw)
             div (CAST(n_docs AS DECIMAL(38,0)) * sww) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("ess_pm"),
        expr("(1000 * w_max) div sw").as("max_share_pm"))
      .orderBy(col("source"))
  }

  /** q176's sample size. */
  val PrioritySampleK = 100

  /** q176: deterministic PRIORITY SAMPLING (weighted without
    * replacement, A-RES family) — each document draws priority
    * w·SCALE div u, where w = n_chars (the byte weight a
    * token-budgeted sample wants) and u ∈ [1, 10⁶] is a content-keyed
    * integer uniform (polyhash of `smp:<doc_id>` — the q111/q135
    * acceptance-sampling trick), and the K highest-priority docs are
    * the sample. Priority sampling yields inclusion probability ∝ w
    * asymptotically, is deterministic per (corpus, seed-string) — the
    * reproducibility a training-data manifest requires — and needs NO
    * global weight total (unlike q54's upweighting), so shards sample
    * independently.
    *
    * Shape at 100 TB: priorities are row-local integer arithmetic in
    * codegen; the top-K is `orderBy.limit` = TakeOrderedAndProject —
    * a bounded heap per partition, K rows per partition on the wire,
    * NEVER a global sort (the q10 pin). */
  def prioritySample(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (polyHash(concat(lit("smp:"), col("doc_id").cast("string")))
          % 1000000L + 1L).as("u"))
      .withColumn("priority", expr("(n_chars * 1000000) div u"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PrioritySampleK)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("u").as("u_ppm"), col("priority"))

  /** q180's per-language sample size. */
  val StratSampleK = 20

  /** q180: STRATIFIED priority sampling — q176's deterministic
    * weighted draw, budgeted PER LANGUAGE: the K highest-priority
    * documents of every language, so low-resource languages keep
    * their quota instead of being crowded out by the head language
    * (the failure mode of one global top-K over a skewed corpus).
    * Same content-keyed integer priorities as q176 ⇒ the strata are
    * consistent subsets: a doc sampled here is sampled by q176
    * whenever its language's quota allows.
    *
    * Shape at 100 TB: per-group top-K rides the bounded-heap
    * aggregate (map-side partial top-K, K rows per language per
    * partition on the wire) — NOT a rank() window over per-language
    * corpus partitions. Output ≤ |langs|·K rows. */
  def stratifiedPrioritySample(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (polyHash(concat(lit("smp:"), col("doc_id").cast("string")))
          % 1000000L + 1L).as("u"))
      .withColumn("priority", expr("(n_chars * 1000000) div u"))
      .groupBy(col("lang"))
      .agg(graft.functions.TopKByScore.topk(
        col("priority").cast("double"), col("doc_id"), StratSampleK).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").cast("long").as("priority"))
      .orderBy(col("lang"), col("rank"))

  /** q184's shard fan-out. */
  val ManifestShards = 8L

  /** q184: training-data EXPORT MANIFEST — the artifact the whole
    * curation pipeline exists to write: one row per (split, shard)
    * stating exactly which deduplicated documents ship where. Keeps
    * ONE canonical doc per q49 near-dup cluster (q154's quality
    * argmax), assigns it the split of its CLUSTER REPRESENTATIVE
    * (q152's leak-safety rule — near-dups can never straddle
    * train/test), and fans docs into content-hash shards so any
    * worker can re-derive its slice without coordination. Doc counts,
    * char mass, and id ranges per cell make the manifest verifiable
    * downstream (a shard that re-materializes differently is corrupt).
    *
    * Shape at 100 TB: pure composition of three verified plans (q154
    * canonical argmax, q111 row-local split hash, the shard hash is
    * row-local codegen) plus two doc-keyed equi-joins and ONE
    * (split, shard) hash-agg — output |splits|·|shards| rows. */
  def exportManifest(spark: SparkSession, d: String): DataFrame = {
    val canon = canonicalDocs(spark, d)
      .select(col("cluster_id"), col("canonical_id"))
    val repSplit = splitAssign(spark, d)
      .select(col("doc_id").as("cluster_id"), col("split"))
    val docs = Tables.documentsDist(spark, d)
      .select(col("doc_id").as("canonical_id"), col("n_chars"))
    canon.join(repSplit, "cluster_id").join(docs, "canonical_id")
      .withColumn("shard",
        polyHash(concat(lit("shard:"), col("canonical_id").cast("string")))
          % ManifestShards)
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        min(col("canonical_id")).as("min_doc"),
        max(col("canonical_id")).as("max_doc"))
      .orderBy(col("split"), col("shard"))
  }

  /** q185: MAD-robust length outliers per language — the robust twin
    * of q153's z-score sweep for scalar features: median and median
    * absolute deviation (both exact lower medians, rank-picked) are
    * immune to the very outliers they hunt, where mean/stddev get
    * dragged toward them (masking). A doc flags when |len − median| >
    * 3·MAD — the standard robust cutoff; with MAD = 0 (degenerate:
    * most docs share one length) any deviation flags, which is the
    * honest reading. Reports per-language median, MAD, and flag
    * rates.
    *
    * Shape at 100 TB: both medians come from the q151 histogram +
    * cumulative-window idiom — the deviation histogram derives from
    * the length histogram by a |langs|-row bounds join (NOT a second
    * corpus scan), and the outlier count is one more aggregate over
    * histogram rows. The corpus is scanned exactly once. */
  def madOutliers(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("n_tok")).agg(count(lit(1)).as("c")))
    val byLang = Window.partitionBy(col("lang"))
    def lowerMedian(h: DataFrame, v: String): DataFrame =
      h.withColumn("cum", sum(col("c")).over(byLang.orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(byLang))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col(v))).as("med"))
    val med = lowerMedian(hist, "n_tok")
      .select(col("lang"), col("n_docs"), col("med").as("median_tok"))
    val devHist = hist.join(med, "lang")
      .select(col("lang"), abs(col("n_tok") - col("median_tok")).as("dev"), col("c"))
      .groupBy(col("lang"), col("dev")).agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devHist, "dev")
      .select(col("lang"), col("med").as("mad_tok"))
    val flags = hist.join(med, "lang").join(mad, "lang")
      .groupBy(col("lang"))
      .agg(sum(when(abs(col("n_tok") - col("median_tok")) > col("mad_tok") * 3L,
        col("c")).otherwise(lit(0L))).as("n_outliers"))
    med.join(mad, "lang").join(flags, "lang")
      .select(col("lang"), col("n_docs"), col("median_tok"), col("mad_tok"),
        col("n_outliers"),
        expr("(1000 * n_outliers) div n_docs").as("outlier_pm"))
      .orderBy(col("lang"))
  }

  /** q173: RANK-FUSION quality scoring (Borda count) — three
    * independent per-doc quality signals (token volume, distinct-type
    * count, char length) are each converted to a within-language
    * min-rank ("1 + number of strictly better docs", higher value =
    * better) and summed; low fused score = strong on all signals.
    * Rank fusion is how curation pipelines combine incommensurable
    * quality signals without inventing scale factors between them —
    * ranks are dimensionless, outlier-proof, and monotone-invariant.
    *
    * Shape at 100 TB: min-rank is NOT computed with a rank() window
    * over per-language corpus partitions (the banned q73 shape).
    * Each signal collapses to its (lang, value) HISTOGRAM first — one
    * hash-agg with map-side partials — and the rank of a VALUE is
    * 1 + (docs above it) via a cumulative window over the histogram,
    * value-domain-bounded rows per language (the q151 idiom). Docs
    * re-acquire their rank through three (lang, value)-keyed equi
    * joins against those dimension-shaped rank tables. Ties share the
    * min-rank by construction (they hit the same histogram row). */
  def rankFusion(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        toks(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_types"))
    // min-rank of each distinct VALUE of `c` within lang, higher = rank 1
    def rankTable(metric: String, rk: String): DataFrame = {
      val w = Window.partitionBy(col("lang")).orderBy(col(metric).desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.groupBy(col("lang"), col(metric)).agg(count(lit(1)).as("c"))
        .withColumn(rk, (sum(col("c")).over(w) - col("c") + 1L).cast("long"))
        .drop("c")
    }
    m.join(rankTable("n_tok", "r_tok"), Seq("lang", "n_tok"))
      .join(rankTable("n_types", "r_types"), Seq("lang", "n_types"))
      .join(rankTable("n_chars", "r_chars"), Seq("lang", "n_chars"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("n_types"),
        col("n_chars"), col("r_tok"), col("r_types"), col("r_chars"),
        (col("r_tok") + col("r_types") + col("r_chars")).as("borda"))
      .orderBy(col("doc_id"))
  }

  /** q174: WINSORIZED length statistics per language — the robust
    * mean a mixture planner (q110/q157) should weight by: token
    * counts are clipped to the exact rank-picked [p05, p95] before
    * averaging, so a handful of pathological megadocs (or empty
    * stubs) cannot swing a language's budget the way a raw mean does.
    * Reports the clip bounds, how many docs hit each, and the raw
    * mean for comparison; all arithmetic integer-exact (floor means).
    *
    * Shape at 100 TB: the percentile bounds come from the q151
    * histogram + cumulative-window idiom (value-domain-bounded, no
    * corpus sort); the clip itself is a (lang)-keyed equi-join of the
    * |langs|-row bounds table back onto the histogram — NOT the
    * corpus — so the winsorized sum is Σ c·clip(value), one more
    * agg over bounded rows. The corpus is scanned exactly once. */
  def winsorizedStats(spark: SparkSession, d: String): DataFrame = {
    val hist = tokLengthHist(spark, d)
    val bounds = cumulative(hist, "lang", "n_tok").groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        pctl(5, "n_tok").as("lo"), pctl(95, "n_tok").as("hi"))
    hist.join(bounds, "lang")
      .withColumn("w_tok", greatest(col("lo"), least(col("hi"), col("n_tok"))))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("lo")).as("p05_tok"), max(col("hi")).as("p95_tok"),
        sum(when(col("n_tok") < col("lo"), col("c")).otherwise(lit(0L)))
          .as("clipped_low"),
        sum(when(col("n_tok") > col("hi"), col("c")).otherwise(lit(0L)))
          .as("clipped_high"),
        expr("sum(n_tok * c) div sum(c)").as("raw_mean_tok"),
        expr("sum(w_tok * c) div sum(c)").as("winsor_mean_tok"))
      .orderBy(col("lang"))
  }

  /** q195: CATEGORICAL MIX DRIFT (chi-square) — the lang × source
    * contingency audit: per cell the observed count, the
    * independence-expected count (milli), and the chi-square
    * contribution (O−E)²/E in exact milli-units via integer
    * cross-multiplication: 1000·(O·N − R·C)² div (N·R·C). The
    * categorical complement of q113's numeric KS drift — it answers
    * "did the language mix shift inside a source", the alarm a
    * multilingual pipeline owner wants before a mixture plan (q110)
    * goes stale. The statistic itself is Σ of the floored cell
    * contributions (engine-portable by construction; per-cell floors
    * are the defined statistic).
    *
    * Shape at 100 TB: one (lang, source) hash-agg over the corpus
    * with map-side partials; the row/column/grand totals re-aggregate
    * the CELL table (alphabet-bounded, not corpus-bounded) and join
    * back broadcast. The N² product is DECIMAL(38,0) — exact where
    * corpus-scale counts would overflow Long. */
  def chisqMix(spark: SparkSession, d: String): DataFrame = {
    val cells = Tables.documentsDist(spark, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("o").as("n_obs"),
        expr("(1000 * r * c) div n").as("exp_milli"),
        expr("""CAST((CAST(1000 AS DECIMAL(38,0)) * (o*n - r*c) * (o*n - r*c))
               | div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)""".stripMargin
          .replace("\n", " ")).as("contrib_milli"))
      .orderBy(col("lang"), col("source"))
  }

  /** Per-source token budget for q217. 1000 tokens binds at every
    * driver SF (sources carry ~1.2-1.7k tokens each at sf0.001 and
    * sf0.01), so the cutoff is always exercised; the recompute spec
    * asserts it. */
  val TokenBudget = 1000L

  /** q217: TOKEN-BUDGET QUALITY CUTOFF — per source: take documents
    * best-quality-first until the source's token budget is exhausted
    * (the crossing document is included), and report how many
    * documents and tokens that keeps and the quality score of the
    * worst kept document. This is the "what quality threshold does my
    * mixture's per-source budget imply" planning query a curriculum /
    * data-mixture designer runs before sampling; the integer quality
    * score is q29's formula in exact milli-units (500·uniq-ratio +
    * 200·stop-ratio + 300·length-factor).
    *
    * Shape at 100 TB: score is row-local; the greedy prefix is ONE
    * source-PARTITIONED window cumulative (keyed sort — never a
    * partitionless window; a skewed source would get the q73 two-pass
    * over its quality histogram instead), then one source-keyed
    * hash-agg. */
  def tokenBudgetCutoff(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the scoring relation is the SHARED q217/q218/q219 helper — one
    // formula definition, so the three views can't drift apart
    val scored = tokQuality(spark, d)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q_milli").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.withColumn("cum_tok", sum(col("n_tok")).over(w))
      // keep every doc that STARTS before the budget is exhausted —
      // the greedy prefix including the crossing document
      .filter(col("cum_tok") - col("n_tok") < TokenBudget)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).as("tokens_kept"),
        min(col("q_milli")).as("cutoff_q_milli"))
      .orderBy(col("source"))
  }

  /** The (doc_id, n_tok, q_milli, cal_key) relation q217/q218/q219/
    * q261 share: the q134 integer quality score next to the token
    * count, plus the salted content-hash key q261 splits calibration
    * on (the q111 split-key discipline — an id-derived split
    * correlates with source on this corpus). Row-local. */
  private def tokQuality(spark: SparkSession, d: String): DataFrame =
    Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), toks(col("text")).as("tk"),
        polyHash(concat(lit("cal:"), col("text"))).as("cal_key"))
      .select(col("doc_id"), col("source"), col("cal_key"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_uniq"),
        size(filter(col("tk"), x =>
          x.isin("the", "a", "of", "and", "is", "to", "in")))
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("cal_key"),
        expr("(500 * n_uniq) div n_tok + (200 * n_stop) div n_tok" +
          " + (300 * least(n_tok, 200)) div 200").as("q_milli"))

  /** q218: LENGTH×QUALITY SPEARMAN — does the quality score just
    * re-rank by length? The signed square of Spearman's rank
    * correlation between n_tok and q_milli, in exact milli-units
    * (sign·1000·num² div (dx·dy) — the q208 no-sqrt discipline), with
    * TIES handled by average ranks: 2·avgrank = 2·|strictly less| +
    * |equal| + 1, computed from the metric's VALUE HISTOGRAM via the
    * q73/q188 two-pass cumulative — Spearman at corpus scale without
    * ever ranking rows globally. The feature-redundancy audit run
    * before adding a scorer to a curation mix.
    *
    * Shape at 100 TB: two value-domain-bounded histograms + two-pass
    * cumulatives; the doubled-rank maps join back BROADCAST on the
    * grid value (q199's shape); ONE moment aggregate in DECIMAL(38,0).
    * Magnitude: num² ≈ (n⁴)² — exact through ~10⁴ docs per the q208
    * audit style; the petabyte path mean-centers ranks before the
    * moment pass (num shrinks to Θ(n³)) or scales ranks down. */
  def lengthQualityCorr(spark: SparkSession, d: String): DataFrame = {
    val scored = CacheScope.cached(
      tokQuality(spark, d).select(col("doc_id"), col("n_tok"), col("q_milli")))
    def rankMap(value: String): DataFrame = {
      val hist = scored.groupBy(col(value)).agg(count(lit(1)).as("c"))
      val (cum, _) = Queries.histCumBefore(spark, hist, value, asc = true)
      cum.select(col(value).as(s"${value}_k"),
        (col("before") * 2 + col("c") + 1).as(s"r_$value"))
    }
    scored
      .join(broadcast(rankMap("n_tok")), col("n_tok") === col("n_tok_k"))
      .join(broadcast(rankMap("q_milli")), col("q_milli") === col("q_milli_k"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(r_n_tok AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(r_q_milli AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(r_n_tok AS DECIMAL(38,0)) * r_q_milli")).as("sxy"),
        sum(expr("CAST(r_n_tok AS DECIMAL(38,0)) * r_n_tok")).as("sxx"),
        sum(expr("CAST(r_q_milli AS DECIMAL(38,0)) * r_q_milli")).as("syy"))
      .select(col("n").as("n_docs"),
        expr("""CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
               |THEN NULL ELSE CAST(CASE WHEN n * sxy - sx * sy < 0
               |  THEN -((1000 * (sx * sy - n * sxy) * (sx * sy - n * sxy))
               |         div ((n * sxx - sx * sx) * (n * syy - sy * sy)))
               |  ELSE (1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
               |       div ((n * sxx - sx * sx) * (n * syy - sy * sy))
               |END AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("rho2_milli"))
  }

  /** q219: SOURCE LENGTH-DISTRIBUTION DRIFT (Kolmogorov-Smirnov) —
    * per source: the exact KS distance (in permille) between the
    * source's token-length distribution and the REST of the corpus,
    * plus the length at which the gap peaks. The distribution-shift
    * tripwire for ingest monitoring — a feed that silently switches
    * truncation or concatenation behavior moves its length CDF long
    * before any quality score notices.
    *
    * Exact integer form: D = max over the length grid of
    * |cumS·nR − cumR·nS| · 1000 div (nS·nR), where cumS/cumR are
    * within-source / rest-of-corpus cumulative counts on the shared
    * value grid — cross-multiplied so no fraction is ever formed.
    *
    * Shape at 100 TB: ONE (source, n_tok) count agg; the per-source
    * CDF is a window cumulative over the source's OWN value grid
    * (value-domain-bounded partitions — the q151 histogram-window
    * argument), the rest-CDF is corpus-CDF-minus-own (no |sources|×
    * grid blowup: the corpus CDF is a broadcast value-grid join);
    * argmax via the bounded min(struct) pick. */
  def sourceLengthDrift(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = CacheScope.cached(tokQuality(spark, d)
      .groupBy(col("source"), col("n_tok")).agg(count(lit(1)).as("c")))
    // corpus histogram on the value grid + its cumulative (grid is
    // value-domain-bounded, so one partitioned-by-nothing window over
    // ≤|grid| rows would be fine; keep it keyed anyway via the
    // two-pass to stay uniform with the q73 discipline)
    val corpus = cells.groupBy(col("n_tok")).agg(sum(col("c")).as("cc"))
    val (corpusCum, nAll) =
      Queries.histCumBefore(spark, corpus.select(col("n_tok"),
        col("cc").as("c")), "n_tok", asc = true)
    val corpusGrid = corpusCum
      .select(col("n_tok").as("g"), (col("before") + col("c")).as("cumAll"))
    val srcTotals = cells.groupBy(col("source")).agg(sum(col("c")).as("nS"))
    val wS = Window.partitionBy(col("src")).orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // every (source, grid value) pair, with zero-count fill rows so
    // each source's cumulative is defined on the whole grid:
    // |sources|·|grid| rows — alphabet × value-domain bounded (the
    // one documented cross join; PlanSweep-listed)
    val full = srcTotals.select(col("source").as("src"), col("nS"))
      .crossJoin(corpusGrid.select(col("g").as("gg"), col("cumAll")))
      .join(cells.select(col("source").as("s2"), col("n_tok"), col("c")),
        col("src") === col("s2") && col("gg") === col("n_tok"), "left")
      .select(col("src"), col("nS"), col("gg").as("g"), col("cumAll"),
        coalesce(col("c"), lit(0L)).as("c"))
    full.withColumn("cumS", sum(col("c")).over(wS))
      .withColumn("nR", lit(nAll) - col("nS"))
      // cross-multiplied CDF gap in DECIMAL(38,0): cum·n products are
      // Θ(n²) — Long-exact only to ~3e9 rows
      .withColumn("gap", expr("abs(CAST(cumS AS DECIMAL(38,0)) * nR" +
        " - CAST(cumAll - cumS AS DECIMAL(38,0)) * nS)"))
      .groupBy(col("src"), col("nS"), col("nR"))
      .agg(max(col("gap")).as("maxgap"),
        min(when(col("gap") > 0, struct((-col("gap")).as("ng"), col("g"))))
          .as("arg"))
      .select(col("src").as("source"), col("nS").as("n_docs"),
        expr("CAST((1000 * maxgap) div (CAST(nS AS DECIMAL(38,0)) * nR)" +
          " AS BIGINT)").as("ks_pm"),
        col("arg.g").as("peak_len"))
      .orderBy(col("source"))
  }

  /** q232: LENGTH GINI PER SOURCE — the exact Gini coefficient of the
    * document-length (n_chars) distribution within each source, in
    * floored milli-units, plus the floored mean length. q219's KS asks
    * "is this source's length distribution DIFFERENT?"; Gini asks "how
    * UNEQUAL is it internally?" — a feed that mixes tweets with books
    * scores high and needs per-length sampling caps before training.
    *
    * Exact integer form, no sorting of rows: from the per-source VALUE
    * HISTOGRAM sorted by length, the mean absolute difference collapses
    * to Δ = 2·Σ_i c_i·(v_i·C_i − S_i) where C_i/S_i are the count/mass
    * cumulatives strictly BEFORE value v_i; G = Δ div (2·n·Σc·v). All
    * products in DECIMAL(38,0) (Δ is Θ(n²·v) — far past Long at corpus
    * scale).
    *
    * Shape at 100 TB: ONE (source, n_chars) count agg, then windows
    * over value-domain-bounded per-source grids (≤ max-length rows per
    * source — the q151/q219 bounded-window argument) and one source-
    * keyed agg. Nothing is ever globally ranked. */
  def lengthGini(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documentsDist(spark, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val before = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cb", coalesce(sum(col("c")).over(before), lit(0L)))
      .withColumn("sb", coalesce(sum(expr("c * v")).over(before), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(expr("c * v")).as("mass"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (v * cb - sb)")).as("hd"))
      .select(col("source"), col("n_docs"),
        expr("mass div n_docs").as("mean_chars"),
        expr("CAST((1000 * hd) div (CAST(n_docs AS DECIMAL(38,0)) * mass)" +
          " AS BIGINT)").as("gini_milli"))
      .orderBy(col("source"))
  }

  /** q261: SPLIT-CONFORMAL QUALITY CALIBRATION — the distribution-free
    * keep-threshold for the q134 integer quality score, per source:
    * the even-content-hash half calibrates, the other is graded. The
    * threshold is the k-th smallest calibration score with
    * k = ⌊α(n_cal+1)⌋ at α = 0.1, which is exactly the split-conformal
    * guarantee "a fresh in-distribution doc scores ≥ threshold with
    * probability ≥ 1−α" (Vovk; the Angelopoulos–Bates tutorial form
    * with nonconformity = −score). Sources whose test coverage lands
    * far from ~900‰ are the drift alarms: their score distribution
    * moved between the halves, so a fixed quality bar is mis-
    * calibrated there — the principled version of "set the quality
    * cutoff by eyeballing a percentile" (q134 ranks; this CALIBRATES).
    * k = 0 (n_cal ≤ 9) → no finite threshold → keep-all, NULL
    * threshold in both engines. The calibration/test split is the
    * CONTENT-HASH parity (q111's discipline), NOT doc_id parity —
    * on this corpus source is a function of doc_id mod 20, so an id
    * split would put every source wholly in one half and calibrate
    * nothing (measured: n_cal = 0 for all 10 test sources).
    *
    * Exactness: the order statistic comes from the (source, score)
    * VALUE HISTOGRAM via the q151/q73 cumulative trick — the window
    * sorts each source's ≤1001 distinct score values, never its rows.
    * All arithmetic is integer; the only join is |sources|-row.
    *
    * Shape at 100 TB: one row-local scoring scan (tokQuality), one
    * (source, score)-keyed hash-agg, a value-domain-bounded window,
    * and a dimension-shaped threshold join back onto the test half. */
  def conformalQuality(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = graft.CacheScope.cached(tokQuality(spark, d)
      .select(col("source"), col("q_milli"),
        (col("cal_key") % 2L === 0L).as("is_cal")))
    val bySrc = Window.partitionBy(col("source"))
    val cum = s.filter(col("is_cal"))
      .groupBy(col("source"), col("q_milli")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(bySrc.orderBy(col("q_milli"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_cal", sum(col("c")).over(bySrc))
    val thr = cum.groupBy(col("source"))
      .agg(max(col("n_cal")).as("n_cal"),
        min(when(expr("(n_cal + 1) div 10") > 0L &&
          col("cum") >= expr("(n_cal + 1) div 10"), col("q_milli")))
          .as("thr_milli"))
    s.filter(!col("is_cal"))
      .join(thr, Seq("source"), "left")
      .groupBy(col("source"))
      .agg(coalesce(max(col("n_cal")), lit(0L)).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("thr_milli")).as("thr_milli"),
        sum(when(col("thr_milli").isNull ||
          col("q_milli") >= col("thr_milli"), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("source"), col("n_cal"), col("n_test"), col("thr_milli"),
        expr("(1000 * n_kept) div n_test").as("coverage_pm"))
      .orderBy(col("source"))
  }

  /** Shard count for q271's interleaving audit — the number of
    * training shards the shuffled order is written into. */
  val InterleaveShards = 32L

  /** q271: SHUFFLE/INTERLEAVING QUALITY AUDIT — grades the q59-style
    * deterministic content-hash shuffle the way a trainer experiences
    * it: docs are ordered by a salted polyhash, split into
    * [[InterleaveShards]] shards (hash mod S — a pure function of the
    * doc, so shard assignment survives any repartitioning), and within
    * each shard's hash order the audit counts ADJACENT same-source
    * pairs. A well-mixed order has the adjacent-same-source rate ≈ the
    * corpus's source Simpson index Σ(n_s/n)² (the collision rate of
    * two independent draws — reported alongside as expected_pm); a
    * rate far above it means source-runs survived the shuffle and the
    * trainer sees correlated batches (gradient noise drops, curricula
    * leak). Per shard: doc count, adjacent same-source count, the rate
    * and the global expected baseline (both permille) — per-shard
    * because a single bad shard (e.g. one source's doc_ids hashing
    * into a run) hides inside a global mean.
    *
    * Shape at 100 TB: shard key and sort key are per-row hashes; the
    * adjacency scan is a lag window INSIDE hash-bounded shard
    * partitions (corpus/S rows each — the partitioned-window
    * discipline, never a global single-partition sort); the baseline
    * is a |sources|-key agg collapsed to one row and cross-joined
    * broadcast onto S rows. */
  def interleaveAudit(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = InterleaveShards
    val h = polyHash(concat(lit("interleave42:"), col("text")))
    val docs = CacheScope.cached(Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("shard", col("h") % s))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val adj = docs
      .withColumn("prev_src", lag(col("source"), 1).over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("prev_src") === col("source"), 1L).otherwise(0L))
          .as("n_adj_same"))
    // Σns² and n² in DECIMAL(38,0): at 100 TB a source can hold ~1e12
    // docs and ns² overflows Long (the q198/q227 product discipline);
    // IntegralDivide on decimals lands back in BIGINT.
    val base = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      .agg(sum(expr("CAST(ns AS DECIMAL(38,0)) * ns")).as("ss"),
        sum(col("ns")).as("n"))
      .select(expr("CAST((1000 * ss) div (CAST(n AS DECIMAL(38,0)) * n)" +
        " AS BIGINT)").as("expected_pm"))
    adj.crossJoin(broadcast(base))
      .select(col("shard"), col("n_docs"), col("n_adj_same"),
        expr("(1000 * n_adj_same) div (n_docs - 1)").as("rate_pm"),
        col("expected_pm"))
      .orderBy(col("shard"))
  }

  /** q287: DEDUP-CORRECTED TEMPERATURE MIXTURE — the composition the
    * real sampler runs: q157's temperature rebalancing (w = isqrt of
    * supply, T = 2) over the EFFECTIVE token supply, where each doc's
    * tokens are discounted by its q49 near-dup cluster size (the q278
    * count-once weights, now in TOKEN units). A source that pads its
    * raw token count with duplicate pages gets the weight its UNIQUE
    * content earns — raw-supply temperature mixing (q157) provably
    * over-allocates it, and that gap is the emitted evidence:
    * discount_pm (effective per-mille of raw) per source. Per-doc
    * effective tokens floor as (1000·nt) div cluster_n milli-tokens
    * (the q278 per-doc floor semantic); the weight is
    * isqrt(eff_milli div 1000) — both floors defined and mirrored.
    *
    * Shape at 100 TB: rides the PERSISTED q49 label stage + one
    * doc-keyed join to the token inventory, one source-keyed agg, a
    * 1-row weight-total scalar broadcast (the q110 pattern), output
    * |sources| rows. */
  def effectiveTemperatureMix(spark: SparkSession, d: String): DataFrame = {
    val labels = Dedup.nearDupClusters(spark, d)
      .select(col("doc_id"), col("cluster_n"))
    val inv = Tables.documentsDist(spark, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("nt"))
      .join(labels, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("raw_tokens"),
        sum(expr("(1000 * nt) div cluster_n")).as("eff_milli"))
      .withColumn("eff_tokens", expr("eff_milli div 1000"))
      .withColumn("weight", isqrt(col("eff_tokens")))
    val totals = inv.agg(sum(col("weight")).as("tw"))
    inv.crossJoin(broadcast(totals))
      .select(col("source"), col("raw_tokens"), col("eff_tokens"),
        expr("eff_milli div raw_tokens").as("discount_pm"),
        col("weight"),
        expr("(1000 * weight) div tw").as("share_pm"))
      .orderBy(col("source"))
  }
}
