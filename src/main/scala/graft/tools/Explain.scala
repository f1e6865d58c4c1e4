package graft.tools

/** Dev tool: print the formatted physical plan (and optionally run)
  * named SparkEntry queries against a testdata dir. Usage:
  *   runMain graft.tools.Explain <sfDir> <q1,q2,...> [run]
  *
  * With `run`, each of 2 passes builds the query's DataFrame and counts
  * it, from an empty cache, and prints the two parts' seconds apart:
  * an iterative operator (q258's k-truss, q162's k-core, q303's HITS)
  * runs its whole round loop while the DataFrame is built, so `build`
  * holds those rounds and `action` only the final `count()`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    val run = args.contains("run")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
      if (run) {
        val passes = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          spark.catalog.clearCache()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.2f").mkString(",")
        println(s"[explain] $n passes build=${fmt(passes.map(_._1))} " +
          s"action=${fmt(passes.map(_._2))} s")
      }
    }
    spark.stop()
  }
}
