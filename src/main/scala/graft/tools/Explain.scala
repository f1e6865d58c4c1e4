package graft.tools

/** Dev tool: print the formatted physical plan (and optionally run)
  * named SparkEntry queries against a testdata dir. Usage:
  *   runMain graft.tools.Explain <sfDir> <q1,q2,...> [run]
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
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      if (run) {
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          df.count()
          val t = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          t
        }
        println(f"[explain] $n passes=${times.map(t => f"$t%.2f").mkString(",")} s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
