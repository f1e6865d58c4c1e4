package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{BeforeAndAfterAll, Outcome}

/** Shared local session for specs — one JVM-wide session (getOrCreate)
  * so suites don't pay repeated startup. Each test is one CacheScope:
  * what it caches is released when it ends, pass or fail. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def withFixture(test: NoArgTest): Outcome =
    CacheScope.scope(super.withFixture(test))

  /** `body`'s result and the Spark jobs it starts, counted by job group:
    * a marker job in a second group runs after it, and the listener bus
    * delivers in order, so once the marker is seen every job of `body`
    * has been. */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    val (group, marker) = (s"under-test-${System.nanoTime()}", s"marker-${System.nanoTime()}")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body under test")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      eventually(timeout(30.seconds)) { assert(groups.contains(marker)) }
      (result, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with Spark's file committer writing no `_SUCCESS` (as on
    * many object-store committers), first checking that a plain parquet
    * write under that conf really leaves none; the conf is restored
    * after. */
  def withoutCommitterFlag[T](body: => T): T = {
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val probe = java.nio.file.Files.createTempDirectory("no-flag").resolve("t").toString
      spark.range(1).write.parquet(probe)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(probe, "_SUCCESS")),
        "the committer still writes _SUCCESS")
      body
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
