package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe (`sbt "Test/runMain graft.ScaleProbe100"`): the SECOND
  * scale decade. ScaleProbe measures 1×→10×; every SURVEY §8 scale
  * claim so far rests on that single measured decade, while the claims
  * are about 100 TB (3+ decades). This probe materializes 100× corpora
  * (10 disjoint-id replicas of the ScaleProbe 10× corpora, same
  * replica discipline: ids shifted by r·(max+1), document texts salted
  * per replica) and times the five heaviest scale-sensitive plans —
  * q126 PageRank, q311 harmonic closeness, q258 k-truss (graph),
  * q192 sparse cosine (documents), q161 coreset (embeddings) — at 1×,
  * 10× and 100× in ONE session, so the two decade ratios
  * are internally consistent.
  *
  * Two passes per scale: plans with persisted salted stages (the three
  * graph queries) pay their one-time index build on pass 1; pass 2 is
  * the zero-refit steady state a deployment lives in. Both are
  * printed; the decade ratio uses the min (same convention as the 10×
  * probe). Writes under java.io.tmpdir only; not part of the suite. */
object ScaleProbe100 {
  private val D1 = "/root/testdata/sf0.1"
  private def tmp(name: String) = s"${sys.props("java.io.tmpdir")}/$name"

  def main(args: Array[String]): Unit = {
    val only = if (args.isEmpty) Set.empty[String] else args.toSet
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(tmp(""))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def done(dir: String, table: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$table.parquet/_SUCCESS"))

    // ---- 10× corpora (reuse ScaleProbe's if present, else build) ----
    ScaleProbeCorpora.ensure(spark)

    val d10docs = tmp("graft-scale-10x")
    val d10graph = tmp("graft-scale-graph10x")
    val d10vec = tmp("graft-scale-vec10x")

    // ---- 100× documents: 10 id-shifted, text-salted replicas of 10× ----
    val d100docs = tmp("graft-scale-100x")
    if (!done(d100docs, "documents")) {
      val base = spark.read.parquet(s"$d10docs/documents.parquet")
      val n = base.agg(max(col("doc_id"))).head().getLong(0) + 1
      (0 until 10).map { r =>
        val salted = if (r == 0) base
          else base.withColumn("text",
            concat(col("text"), lit(s" replicaa$r markerr$r")))
        salted.withColumn("doc_id", col("doc_id") + lit(r * n))
      }.reduce(_ unionByName _).repartition(64)
        .write.mode("overwrite").parquet(s"$d100docs/documents.parquet")
      println(s"[probe100] built 100x documents at $d100docs")
    }

    // ---- 100× trade graph: disjoint key spaces per replica ----
    val d100graph = tmp("graft-scale-graph100x")
    if (!done(d100graph, "supplier")) {
      val li = spark.read.parquet(s"$d10graph/lineitem.parquet")
      val os = spark.read.parquet(s"$d10graph/orders.parquet")
      val su = spark.read.parquet(s"$d10graph/supplier.parquet")
      val mo = os.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val mc = os.agg(max(col("o_custkey"))).head().getLong(0) + 1
      val ms = su.agg(max(col("s_suppkey"))).head().getLong(0) + 1
      val mp = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
      def reps(base: DataFrame)(shift: (DataFrame, Int) => DataFrame) =
        (0 until 10).map(r => shift(base, r)).reduce(_ unionByName _)
          .repartition(64)
      reps(li) { (b, r) =>
        b.withColumn("l_orderkey", col("l_orderkey") + lit(r * mo))
          .withColumn("l_suppkey", col("l_suppkey") + lit(r * ms))
          .withColumn("l_partkey", col("l_partkey") + lit(r * mp))
      }.write.mode("overwrite").parquet(s"$d100graph/lineitem.parquet")
      reps(os) { (b, r) =>
        b.withColumn("o_orderkey", col("o_orderkey") + lit(r * mo))
          .withColumn("o_custkey", col("o_custkey") + lit(r * mc))
      }.write.mode("overwrite").parquet(s"$d100graph/orders.parquet")
      reps(su) { (b, r) =>
        b.withColumn("s_suppkey", col("s_suppkey") + lit(r * ms))
      }.write.mode("overwrite").parquet(s"$d100graph/supplier.parquet")
      println(s"[probe100] built 100x trade graph at $d100graph")
    }

    // ---- 100× embeddings: disjoint ids, identical per-replica geometry ----
    val d100vec = tmp("graft-scale-vec100x")
    if (!done(d100vec, "embeddings")) {
      val em = spark.read.parquet(s"$d10vec/embeddings.parquet")
      val mv = em.agg(max(col("vec_id"))).head().getLong(0) + 1
      (0 until 10).map(r => em.withColumn("vec_id", col("vec_id") + lit(r * mv)))
        .reduce(_ unionByName _).repartition(64)
        .write.mode("overwrite").parquet(s"$d100vec/embeddings.parquet")
      println(s"[probe100] built 100x embeddings at $d100vec")
    }

    def time2(name: String, fn: (SparkSession, String) => DataFrame,
        d: String, scale: String): Double = {
      val ts = (1 to 2).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, d).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"[probe100] $name%-26s $scale%-5s pass$i ${dt}%8.2f s ($n rows)")
        dt
      }
      ts.min
    }

    // ---- 30× trade graph, for q258 only. Measured (r12): k-truss's
    // triangle-support shuffle is LINEAR in replicas (10× decade =
    // 5.6×) but its spill volume at 100× (~75+ GB, extrapolating the
    // ~0.75 GB/replica observed) exceeds this host's free disk — the
    // 100× leg died with SPILL_OUT_OF_MEMORY("No space left on
    // device") after filling 76 GB. That is a single-node capacity
    // wall, not a plan defect (a 1000-executor cluster spreads the
    // same spill across nodes), so q258's second-decade datapoint is
    // taken at 30× (3 more replicas of the 10× corpus; linear would
    // be ~3). ----
    val d30graph = tmp("graft-scale-graph30x")
    if (!done(d30graph, "supplier")) {
      val li = spark.read.parquet(s"$d10graph/lineitem.parquet")
      val os = spark.read.parquet(s"$d10graph/orders.parquet")
      val su = spark.read.parquet(s"$d10graph/supplier.parquet")
      val mo = os.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val mc = os.agg(max(col("o_custkey"))).head().getLong(0) + 1
      val ms = su.agg(max(col("s_suppkey"))).head().getLong(0) + 1
      val mp = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
      def reps3(base: DataFrame)(shift: (DataFrame, Int) => DataFrame) =
        (0 until 3).map(r => shift(base, r)).reduce(_ unionByName _)
          .repartition(64)
      reps3(li) { (b, r) =>
        b.withColumn("l_orderkey", col("l_orderkey") + lit(r * mo))
          .withColumn("l_suppkey", col("l_suppkey") + lit(r * ms))
          .withColumn("l_partkey", col("l_partkey") + lit(r * mp))
      }.write.mode("overwrite").parquet(s"$d30graph/lineitem.parquet")
      reps3(os) { (b, r) =>
        b.withColumn("o_orderkey", col("o_orderkey") + lit(r * mo))
          .withColumn("o_custkey", col("o_custkey") + lit(r * mc))
      }.write.mode("overwrite").parquet(s"$d30graph/orders.parquet")
      reps3(su) { (b, r) =>
        b.withColumn("s_suppkey", col("s_suppkey") + lit(r * ms))
      }.write.mode("overwrite").parquet(s"$d30graph/supplier.parquet")
      println(s"[probe100] built 30x trade graph at $d30graph")
    }

    val targets: Seq[(String, (SparkSession, String) => DataFrame,
        String, String, String)] = Seq(
      ("q192_sparse_cosine", TextAnalysis.sparseCosineTopK _, D1, d10docs, d100docs),
      ("q126_pagerank", Graph.pageRank _, D1, d10graph, d100graph),
      ("q311_harmonic_closeness", Graph.harmonicCloseness _, D1, d10graph, d100graph),
      ("q258_ktruss", Graph.kTruss _, D1, d10graph, d30graph),
      ("q161_coreset_select", Similarity.coresetSelect _, D1, d10vec, d100vec),
      // r13: the r12 gate's other heavies, absent from the probe set
      // until now — the 100 TB claim should track whatever is heaviest
      ("q163_label_prop", Graph.labelProp _, D1, d10graph, d100graph),
      ("q290_shingle_ablation", Dedup.shingleSizeAblation _, D1, d10docs, d100docs),
      ("q303_hits_bipartite", Graph.hitsBipartite _, D1, d10graph, d100graph))

    val rows = targets
      .filter { case (n, _, _, _, _) => only.isEmpty || only.exists(n.contains) }
      .map { case (name, fn, d1, d10, d100) =>
        val big = if (d100 == d30graph) "30x" else "100x"
        val lin = if (d100 == d30graph) 3.0 else 10.0
        val t1 = time2(name, fn, d1, "1x")
        val t10 = time2(name, fn, d10, "10x")
        val t100 = time2(name, fn, d100, big)
        println(f"[probe100] $name%-26s decade1=${t10 / t1}%5.1f (lin ~10)  " +
          f"$big/10x=${t100 / t10}%5.1f (lin ~$lin%.0f)")
        (name, big, t1, t10, t100)
      }
    println(rows.map { case (n, big, t1, t10, t100) =>
      f"$n: ${t1}%.1f/${t10}%.1f/${t100}%.1f s (1x/10x/$big), " +
        f"d1=${t10 / t1}%.1f d2=${t100 / t10}%.1f"
    }.mkString("[probe100] summary:\n  ", "\n  ", ""))
    spark.stop()
  }
}

/** Shared: ensure the ScaleProbe 10× corpora exist (documents, trade
  * graph, embeddings) without running the full 10× probe. */
object ScaleProbeCorpora {
  def ensure(spark: SparkSession): Unit = {
    val d1 = "/root/testdata/sf0.1"
    val t = sys.props("java.io.tmpdir")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def missing(p: String) =
      !fs.exists(new org.apache.hadoop.fs.Path(p + "/_SUCCESS"))

    if (missing(s"$t/graft-scale-10x/documents.parquet")) {
      val base = spark.read.parquet(s"$d1/documents.parquet")
      val n = base.agg(max(col("doc_id"))).head().getLong(0) + 1
      (0 until 10).map { r =>
        val salted = if (r == 0) base
          else base.withColumn("text",
            concat(col("text"), lit(s" replica$r marker$r")))
        salted.withColumn("doc_id", col("doc_id") + lit(r * n))
      }.reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$t/graft-scale-10x/documents.parquet")
    }
    if (missing(s"$t/graft-scale-graph10x/supplier.parquet")) {
      val li = spark.read.parquet(s"$d1/lineitem.parquet")
      val os = spark.read.parquet(s"$d1/orders.parquet")
      val su = spark.read.parquet(s"$d1/supplier.parquet")
      val mo = os.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val mc = os.agg(max(col("o_custkey"))).head().getLong(0) + 1
      val ms = su.agg(max(col("s_suppkey"))).head().getLong(0) + 1
      val mp = li.agg(max(col("l_partkey"))).head().getLong(0) + 1
      def reps(base: DataFrame)(shift: (DataFrame, Int) => DataFrame) =
        (0 until 10).map(r => shift(base, r)).reduce(_ unionByName _)
          .repartition(32)
      reps(li) { (b, r) =>
        b.withColumn("l_orderkey", col("l_orderkey") + lit(r * mo))
          .withColumn("l_suppkey", col("l_suppkey") + lit(r * ms))
          .withColumn("l_partkey", col("l_partkey") + lit(r * mp))
      }.write.mode("overwrite").parquet(s"$t/graft-scale-graph10x/lineitem.parquet")
      reps(os) { (b, r) =>
        b.withColumn("o_orderkey", col("o_orderkey") + lit(r * mo))
          .withColumn("o_custkey", col("o_custkey") + lit(r * mc))
      }.write.mode("overwrite").parquet(s"$t/graft-scale-graph10x/orders.parquet")
      reps(su) { (b, r) =>
        b.withColumn("s_suppkey", col("s_suppkey") + lit(r * ms))
      }.write.mode("overwrite").parquet(s"$t/graft-scale-graph10x/supplier.parquet")
    }
    if (missing(s"$t/graft-scale-vec10x/embeddings.parquet")) {
      val em = spark.read.parquet(s"$d1/embeddings.parquet")
      val mv = em.agg(max(col("vec_id"))).head().getLong(0) + 1
      (0 until 10).map(r => em.withColumn("vec_id", col("vec_id") + lit(r * mv)))
        .reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(s"$t/graft-scale-vec10x/embeddings.parquet")
    }
  }
}
