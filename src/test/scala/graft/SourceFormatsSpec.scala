package graft

import org.apache.spark.sql.functions._

/** Source/sink format breadth beyond parquet/CSV/JSONL: native ORC
  * round-trip and parquet schema evolution with mergeSchema — the
  * at-rest concerns a long-lived 100 TB corpus hits (a second engine
  * writing ORC; columns added over years of ingest batches). */
class SourceFormatsSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("ORC round-trip preserves documents bit-for-bit (zlib)") {
    val src = Tables.documents(spark, d)
    val dir = java.nio.file.Files.createTempDirectory("docs_orc").toString
    src.write.mode("overwrite").option("compression", "zlib").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    assert(back.count() == src.count() && back.count() > 0)
  }

  test("parquet schema evolution: mergeSchema unifies old and new ingest batches") {
    val dir = java.nio.file.Files.createTempDirectory("docs_evolve").toString
    val docs = Tables.documents(spark, d)
    // year-1 batch: no n_chars column yet
    docs.filter(col("doc_id") < 20).select(col("doc_id"), col("lang"))
      .write.parquet(s"$dir/batch=1")
    // year-2 batch: schema grew a column
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars", "batch"))
    assert(merged.count() == 40)
    // old rows surface the new column as null, new rows keep values
    assert(merged.filter(col("batch") === 1 && col("n_chars").isNotNull).count() == 0)
    assert(merged.filter(col("batch") === 2 && col("n_chars").isNull).count() == 0)
  }
}
