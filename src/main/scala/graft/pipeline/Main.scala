package graft.pipeline

/** CLI entry ≅ `python -m pb_etl` (reference pb_etl/cli.py:6-16):
  * builds the full DAG to FinalResults with salted memoization.
  *
  * Usage: graft.pipeline.Main <dataRoot> <workRoot> [epochs]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val dataRoot = args.headOption.getOrElse(
      sys.env.getOrElse("GRAFT_DATA_ROOT", "./data/raw"))
    val workRoot = args.lift(1).getOrElse(
      sys.env.getOrElse("GRAFT_WORK_ROOT", "./data/work"))
    val epochs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val executed = PbEtl.runAll(Ctx(spark, PbConf(dataRoot, workRoot, epochs = epochs)))
      println(s"[pb-etl] executed stages: ${executed.mkString(", ")}")
    } finally spark.stop()
  }
}
