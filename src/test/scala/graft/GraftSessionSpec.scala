package graft

/** Verify, the specs and the benchmark must plan under ONE conf: the
  * shared session carries every value of `GraftSession.conf`, and that
  * conf is exactly what the benchmark harness builds its own session
  * with (read from its source, which this build does not compile). */
class GraftSessionSpec extends SparkSpec {
  test("the shared session carries every GraftSession conf value") {
    val expected = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.memory.fraction" -> SessionTuning.memoryFractionConf,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.conf(4) == expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.master ==
      sys.env.getOrElse("SPARK_MASTER", "local[4]"))
  }

  test("GraftSession conf matches the benchmark harness session conf") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Path.of("perfbench/scala/graft/perfbench/Harness.scala"))
    assert(src.contains("def session("), "harness session builder not found")
    val body = src.substring(src.indexOf("def session("))
    val builder = body.substring(0, body.indexOf("getOrCreate()"))
    assert(builder.contains(".master(s\"local[$cpus]\")"), builder)
    val cpus = 7
    val Config = """\.config\("([^"]+)",\s*(.+)\)""".r
    val Lit = "\"([^\"]*)\"".r
    val harness = Config.findAllMatchIn(builder).map(m => m.group(1) -> m.group(2))
      .toMap
      // per-run scratch paths, not planning conf
      .removedAll(Seq("spark.local.dir", "spark.sql.warehouse.dir"))
      .map { case (k, expr) =>
        k -> (expr match {
          case Lit(v) => v
          case "cpus.toString" => cpus.toString
          case "SessionTuning.memoryFractionConf" => SessionTuning.memoryFractionConf
          case other => fail(s"unrecognised harness conf value for $k: $other")
        })
      }
    assert(harness == GraftSession.conf(cpus))
  }
}
