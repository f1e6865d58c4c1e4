package graft

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
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
