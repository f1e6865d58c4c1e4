package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Ctx, PbConf, Runner, Stage}

/** The scoped-persist contract (CacheScope): every operator-internal
  * cache lives until the scope that ran the caller's terminal action
  * exits and is released right there, in a session that NEVER calls
  * clearCache — a long-lived session composing dedup/similarity
  * operators must not pin executor storage memory.
  *
  * An operator's caches are observed as the persisted RDDs that appear
  * while its scope is open: exactly what it holds in storage memory,
  * registered through `cached` or not. */
class CacheLifecycleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def releasedAtScopeExit(name: String, build: () => DataFrame): Unit =
    test(s"$name releases its internal caches after one action, no clearCache") {
      val before = persistedIds
      val mine = CacheScope.scope {
        build().count() // the caller's terminal action
        spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq
      }
      assert(mine.nonEmpty, s"$name cached nothing")
      mine.foreach(r =>
        assert(r.getStorageLevel == StorageLevel.NONE && !persistedIds(r.id),
          s"$name left an internal cache persisted"))
    }

  test("a cache survives an unrelated internal action inside its scope") {
    val mine = CacheScope.scope {
      val m = CacheScope.cached(spark.range(48).toDF("x"))
      spark.range(10).count() // an operator's own internal action
      assert(m.storageLevel != StorageLevel.NONE,
        "an unrelated action released a cache its scope still owns")
      m
    }
    assert(mine.storageLevel == StorageLevel.NONE)
  }

  test("a cache registered while another action is mid-flight survives that action") {
    import spark.implicits._
    // a deliberately slow action on another thread (sleep rides inside
    // the task, so the action is genuinely running when we register),
    // in that thread's own scope
    val slow = spark.range(0, 4, 1, 4)
      .mapPartitions { it => Thread.sleep(4000); it }
    val mine = CacheScope.scope {
      val t = new Thread(() => CacheScope.scope(slow.count()))
      t.start()
      Thread.sleep(1500) // the slow action is definitely mid-flight now
      val m = CacheScope.cached(spark.range(64).toDF)
      t.join()
      assert(m.storageLevel != StorageLevel.NONE,
        "an action already running at registration time released the fresh cache")
      m.count() // the owner's terminal action
      m
    }
    assert(mine.storageLevel == StorageLevel.NONE,
      "the owner's scope exited without releasing its cache")
  }

  test("a stage that caches a frame and then throws leaves it released after Runner.run fails") {
    var frame: DataFrame = null
    object Failing extends Stage {
      override def outputDir(ctx: Ctx): Option[String] = None
      def run(ctx: Ctx): Unit = {
        frame = CacheScope.cached(ctx.spark.range(80).toDF("x"))
        frame.count()
        sys.error("stage failed after caching")
      }
    }
    val e = intercept[RuntimeException](Runner.run(Ctx(spark, PbConf(dir, dir)), Failing))
    assert(e.getMessage == "stage failed after caching")
    assert(frame != null && frame.storageLevel == StorageLevel.NONE,
      "a failed stage left its cache persisted")
  }

  releasedAtScopeExit("ngramJaccard", () => Dedup.ngramJaccard(spark, dir))
  releasedAtScopeExit("ngramJaccardPrefix", () => Dedup.ngramJaccardPrefix(spark, dir))
  releasedAtScopeExit("minhashNearDup", () => Dedup.minhashNearDup(spark, dir))
  releasedAtScopeExit("embeddingNearDup", () => Dedup.embeddingNearDup(spark, dir))
  releasedAtScopeExit("ingestDedup", () => Dedup.ingestDedup(spark, dir))
  // the corpus entry is a persisted salted stage since round 6 (a warm
  // call reads parquet, no caches) — the cache contract lives in the
  // Df-in variant the build and CurateDag compose
  releasedAtScopeExit("nearDupClustersDf", () =>
    Dedup.nearDupClustersDf(Tables.documents(spark, dir),
      Dedup.minhashNearDupDf(Tables.documents(spark, dir))))
  releasedAtScopeExit("lshTopK", () => Similarity.lshTopK(spark, dir))
  releasedAtScopeExit("bigramFluency", () => TextAnalysis.bigramFluency(spark, dir))
  releasedAtScopeExit("mixturePlan", () => Curation.mixturePlan(spark, dir))
  releasedAtScopeExit("verbatimOverlap", () => Dedup.verbatimOverlap(spark, dir))
  releasedAtScopeExit("semDedup", () => Dedup.semDedup(spark, dir))
  releasedAtScopeExit("winnowOverlap", () => TextAnalysis.winnowOverlap(spark, dir))
}
