package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name substrings, dev-only
    // filter for fast single-query parity iterations
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // queries that persist/cache intermediates (LSH signature sets
        // etc.) must not pin executor memory across the whole run
        spark.catalog.clearCache()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Gate-visible bounds for the rowsOnly queries (full runs only —
    // the dev-time `only` filter iterates single queries): the DuckDB
    // compare reads `no_oracle` for these five forever, so their
    // documented error bounds are checked here against Spark-side
    // exact twins and reported machine-readably next to the dumps. A
    // bounds check that crashes reports pass=false, never aborts the
    // dump run.
    if (only.isEmpty) {
      val bounds = try RowsOnlyBounds.check(spark, sfDir) catch {
        case e: Throwable =>
          System.err.println(s"[verify] bounds check crashed: $e")
          Seq.empty
      }
      if (bounds.nonEmpty) {
        val bj = bounds.map { case (name, pass, detail) =>
          s"${q(name)}: {\"pass\": $pass, \"detail\": ${q(detail)}}"
        }.mkString("{", ",", "}")
        Files.writeString(Paths.get(s"$outDir/rowsonly_bounds.json"), bj)
        bounds.foreach { case (name, pass, detail) =>
          println(s"[bounds] $name ${if (pass) "PASS" else "FAIL"} — $detail")
        }
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
