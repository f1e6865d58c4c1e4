package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import graft.pipeline.Memo

/** The build-once path every salted index shares: `ensureBuilt` marks
  * the dir done only after its build returns, and builds a cold dir
  * once however many callers race for it. */
class SaltedIndexSpec extends SparkSpec {

  private def coldDir(): String =
    Files.createTempDirectory("salted").resolve("idx").toString

  test("a build that throws leaves no flag, and the next ensureBuilt builds again") {
    val p = coldDir()
    val e = intercept[IllegalStateException] {
      SaltedIndex.ensureBuilt(spark, p) {
        spark.range(3).write.parquet(s"$p/data")
        throw new IllegalStateException("build died after writing")
      }
    }
    assert(e.getMessage == "build died after writing")
    assert(!Memo.done(spark, p))
    val builds = new AtomicInteger
    SaltedIndex.ensureBuilt(spark, p) {
      builds.incrementAndGet()
      spark.range(5).write.mode("overwrite").parquet(s"$p/data")
    }
    assert(builds.get == 1 && Memo.done(spark, p))
    assert(spark.read.parquet(s"$p/data").count() == 5)
    // warm: the flag skips the build
    SaltedIndex.ensureBuilt(spark, p)(builds.incrementAndGet())
    assert(builds.get == 1)
  }

  test("two threads on one cold dir run the build once, and both see it done") {
    val p = coldDir()
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    @volatile var contender: Thread = null
    val sawDone = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    def caller(): Thread = new Thread(() => {
      SaltedIndex.ensureBuilt(spark, p) {
        builds.incrementAndGet()
        started.countDown()
        // hold the build until the other caller is blocked on the lock
        val deadline = System.nanoTime() + 10e9.toLong
        while ((contender == null || contender.getState != Thread.State.BLOCKED) &&
            System.nanoTime() < deadline)
          Thread.sleep(5)
        spark.range(3).write.parquet(s"$p/data")
      }
      sawDone.add(Memo.done(spark, p))
    })
    val a = caller()
    a.start()
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val b = caller()
    contender = b
    b.start()
    a.join(120000); b.join(120000)
    assert(!a.isAlive && !b.isAlive)
    assert(builds.get == 1)
    assert(sawDone.size == 2 && sawDone.toArray.forall(_ == true))
  }
}
