package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.pipeline.{Ctx, Memo, PbConf, Runner, Stage}

/** The one parquet read path: `Tables.parquet` resolves a path's schema
  * once per data version (file stamp + parquet confs), and every
  * parquet read in `src/main` goes through it or declares its schema. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("tables").toString

  test("a repeat read of an unchanged path starts no Spark job before its action") {
    val d = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$d/t.parquet")
    assert(jobsOf(Tables.load(spark, d, "t"))._2 >= 1, "the first read infers with a job")
    val (warm, jobs) = jobsOf(Tables.load(spark, d, "t"))
    assert(jobs == 0)
    assert(warm.columns.toSeq == Seq("id", "s"))
    assert(warm.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting a path with one more column shows that column on the next read") {
    val d = tmp()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("id", "s"))
    Seq((1L, "a", 7)).toDF("id", "s", "n").write.mode("overwrite").parquet(s"$d/t.parquet")
    val again = Tables.load(spark, d, "t")
    assert(again.columns.toSeq == Seq("id", "s", "n"))
    assert(again.select("n").as[Int].collect().toSeq == Seq(7))
  }

  test("flipping a parquet conf between two reads of one path re-infers") {
    // written without Spark's schema metadata, which inference would
    // prefer to the parquet types: a bare binary column is what
    // binaryAsString retypes
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val d = tmp()
    val hc = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$d/t.parquet"), hc)).withType(schema).withConf(hc).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, d, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, d, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.as[String].collect().toSeq == Seq("hi"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, d, "t").schema("b").dataType == BinaryType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a Stage.read after a re-commit of the same dir sees the new data") {
    val root = tmp()
    val ctx = Ctx(spark, PbConf(root, root))
    @volatile var width = 1
    object Out extends Stage {
      override def name: String = "Out"
      def run(ctx: Ctx): Unit =
        Stage.writeGz(ctx.spark.range(3).selectExpr((0 until width).map(i => s"id AS c$i"): _*),
          outputDir(ctx).get)
    }
    assert(Runner.run(ctx, Out) == Seq("Out"))
    assert(Out.read(ctx).columns.toSeq == Seq("c0"))
    // the unit is re-committed in place: its flag goes, the next walk rewrites it
    val dir = Out.outputDir(ctx).get
    Memo.fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir, Memo.Flag), false)
    width = 2
    assert(Runner.run(ctx, Out) == Seq("Out"))
    val again = Out.read(ctx)
    assert(again.columns.toSeq == Seq("c0", "c1"))
    assert(again.count() == 3)
  }

  test("the file stamp reads a missing path as absent, and lets an interrupt or OOM through") {
    assert(SaltedIndex.stamp(spark, s"${tmp()}/missing.parquet") == "absent")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.throwfs.impl", classOf[ThrowingFs].getName)
    hc.setBoolean("fs.throwfs.impl.disable.cache", true)
    try {
      ThrowingFs.next = new java.io.IOException("unreadable")
      assert(SaltedIndex.stamp(spark, "throwfs:///x") == "absent")
      ThrowingFs.next = new InterruptedException("cancelled")
      intercept[InterruptedException](SaltedIndex.stamp(spark, "throwfs:///x"))
      ThrowingFs.next = new OutOfMemoryError("planted")
      intercept[OutOfMemoryError](SaltedIndex.stamp(spark, "throwfs:///x"))
    } finally {
      hc.unset("fs.throwfs.impl")
      hc.unset("fs.throwfs.impl.disable.cache")
    }
  }

  /** The parquet part files of a dir Spark wrote. */
  private def parts(dir: String): Seq[Path] =
    Files.list(Path.of(dir)).iterator.asScala
      .filter(f => f.getFileName.toString.startsWith("part-")).toSeq

  private def scanCount(p: String): Long = spark.read.parquet(p).count()

  test("rowCounts reads a scan's count from the footers and starts no Spark job") {
    val d = tmp()
    spark.range(100).repartition(5).write.parquet(s"$d/multi")
    assert(parts(s"$d/multi").size == 5)
    spark.range(400).repartition(40).write.parquet(s"$d/wide")
    assert(parts(s"$d/wide").size == 40)
    Seq.empty[(Long, String)].toDF("id", "s").write.parquet(s"$d/empty")
    spark.range(50).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(s"$d/byk")
    spark.range(7).coalesce(1).write.parquet(s"$d/one")
    val single = parts(s"$d/one").head.toString
    // planted beside the data: copies of a real part file under the
    // names Spark never reads as data (the committer's _SUCCESS is there)
    spark.range(10).coalesce(1).write.parquet(s"$d/planted")
    val part = parts(s"$d/planted").head
    assert(Files.exists(Path.of(s"$d/planted/_SUCCESS")))
    Seq("_metadata", "_common_metadata", s".${part.getFileName}.crc.parquet",
        s"_temporary/0/${part.getFileName}", s"${part.getFileName}._COPYING_")
      .foreach { n =>
        val to = Path.of(s"$d/planted/$n")
        Files.createDirectories(to.getParent)
        Files.copy(part, to)
      }
    val paths = Seq(s"$d/multi", s"$d/wide", s"$d/empty", s"$d/byk", single, s"$d/planted")
    val (counts, jobs) = jobsOf(Tables.rowCounts(spark, paths))
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(counts == paths.map(scanCount))
    assert(counts == Seq(100L, 400L, 0L, 50L, 7L, 10L))
  }

  test("rowCounts fails on a truncated parquet file, naming it") {
    val d = tmp()
    spark.range(1000).repartition(2).write.parquet(s"$d/t")
    val bad = parts(s"$d/t").head
    val bytes = Files.readAllBytes(bad)
    Files.write(bad, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    val e = intercept[java.io.IOException](Tables.rowCounts(spark, Seq(s"$d/t")))
    assert(e.getMessage.contains(bad.getFileName.toString), e.getMessage)
  }

  test("every parquet read in src/main goes through Tables.parquet or declares its schema") {
    // the scanner itself: bare reads flag, declared-schema reads do not
    assert(TablesSpec.bareReads("x = spark.read.parquet(p)\n").size == 1)
    assert(TablesSpec.bareReads("spark.read\n  .option(\"a\", f(b)).parquet(p)").size == 1)
    assert(TablesSpec.bareReads("spark.read.schema(s).parquet(p)").isEmpty)
    assert(TablesSpec.bareReads("spark.read.schema(new StructType()).parquet(p)").isEmpty)
    assert(TablesSpec.bareReads("  * spark.read.parquet(p) in a scaladoc").isEmpty)

    val root = Path.of("src/main/scala")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"src/main sources not found under $root")
    val found = files.flatMap { f =>
      val src = Files.readString(f)
      TablesSpec.bareReads(src).map(at => (f, at, TablesSpec.enclosingDef(src, at)))
    }
    val (helper, offending) = found.partition { case (f, _, d) =>
      f.getFileName.toString == "Tables.scala" && d.contains("parquet") }
    assert(helper.size == 1, "Tables.parquet must hold the one inferring read")
    assert(offending.isEmpty, "bare parquet reads outside Tables.parquet: " +
      offending.map { case (f, at, _) => s"$f:$at" }.mkString(", "))
  }
}

object TablesSpec {
  /** `.read` chains ending in `.parquet(` whose links (`.name(args)`,
    * args nested one level) include no `.schema(`. */
  private val Chain =
    """\.read((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\s*\(""".r

  /** 1-based lines of the bare parquet reads in `src`; lines that start
    * a comment (a scaladoc `*`, a line or a block comment) are skipped. */
  def bareReads(src: String): Seq[Int] =
    Chain.findAllMatchIn(src).filterNot(_.group(1).contains(".schema(")).map { m =>
      src.substring(0, m.start).count(_ == '\n') + 1
    }.filterNot { line =>
      val text = src.linesIterator.drop(line - 1).next().trim
      text.startsWith("*") || text.startsWith("//") || text.startsWith("/*")
    }.toSeq

  /** The name of the last `def` opened at or before `line`. */
  def enclosingDef(src: String, line: Int): Option[String] = {
    val Def = """\bdef\s+(\w+)""".r
    src.linesIterator.take(line).flatMap(l => Def.findAllMatchIn(l).map(_.group(1)))
      .toSeq.lastOption
  }
}

/** A local file system whose `getFileStatus` throws `ThrowingFs.next`,
  * for the stamp's error handling (`fs.throwfs.impl`). */
class ThrowingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    throw ThrowingFs.next
}

object ThrowingFs {
  @volatile var next: Throwable = new java.io.IOException("unset")
}
