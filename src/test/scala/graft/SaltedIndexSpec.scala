package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.pipeline.{Ctx, Memo, PbConf, Runner, Stage}

/** The one commit path every memoized unit shares, salted index or
  * pipeline stage: `Memo.commit` marks a dir done only after its write
  * returns, and writes a cold dir once however many callers race for
  * it. */
class SaltedIndexSpec extends SparkSpec {

  private def coldDir(): String =
    Files.createTempDirectory("salted").resolve("idx").toString

  /** Hold the calling writer until `contender` waits on a commit lock
    * (or 10 s pass), so a second caller reaches the unit mid-write. */
  private def holdUntilBlocked(contender: => Thread): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while ((contender == null || contender.getState != Thread.State.BLOCKED) &&
        System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Start `a`, wait until it is writing, then start `b`; join both. */
  private def race(started: CountDownLatch, a: Thread, b: => Thread): Unit = {
    a.start()
    assert(started.await(60, TimeUnit.SECONDS))
    val t = b
    t.start()
    a.join(120000); t.join(120000)
    assert(!a.isAlive && !t.isAlive)
  }

  test("a write that throws leaves no flag, and the next commit writes again") {
    val p = coldDir()
    val e = intercept[IllegalStateException] {
      Memo.commit(spark, p) {
        spark.range(3).write.parquet(s"$p/data")
        throw new IllegalStateException("build died after writing")
      }
    }
    assert(e.getMessage == "build died after writing")
    assert(!Memo.done(spark, p))
    val writes = new AtomicInteger
    val wrote = Memo.commit(spark, p) {
      writes.incrementAndGet()
      spark.range(5).write.mode("overwrite").parquet(s"$p/data")
    }
    assert(wrote && writes.get == 1 && Memo.done(spark, p))
    assert(spark.read.parquet(s"$p/data").count() == 5)
    // warm: the flag skips the write
    assert(!Memo.commit(spark, p)(writes.incrementAndGet()))
    assert(writes.get == 1)
  }

  test("two threads on one cold dir run the build once, and both see it done") {
    val p = coldDir()
    val writes = new AtomicInteger
    val started = new CountDownLatch(1)
    @volatile var contender: Thread = null
    val sawDone = new ConcurrentLinkedQueue[Boolean]
    def caller(): Thread = new Thread(() => {
      Memo.commit(spark, p) {
        writes.incrementAndGet()
        started.countDown()
        holdUntilBlocked(contender)
        spark.range(3).write.parquet(s"$p/data")
      }
      sawDone.add(Memo.done(spark, p))
    })
    race(started, caller(), { contender = caller(); contender })
    assert(writes.get == 1)
    assert(sawDone.asScala.toSeq == Seq(true, true))
  }

  test("two Runner walks on one cold work root run each stage once, and both return with every dir flagged") {
    val root = Files.createTempDirectory("walks").toString
    val ctx = Ctx(spark, PbConf(root, root))
    val runs = new ConcurrentLinkedQueue[String]
    val started = new CountDownLatch(1)
    @volatile var contender: Thread = null
    class Step(n: String, up: Seq[Stage]) extends Stage {
      override def name: String = n
      override def deps: Seq[Stage] = up
      def run(ctx: Ctx): Unit = {
        runs.add(n)
        started.countDown()
        holdUntilBlocked(contender)
        Stage.writeGz(ctx.spark.range(3).toDF("x"), outputDir(ctx).get)
      }
    }
    val first = new Step("First", Nil)
    val second = new Step("Second", Seq(first))
    val walked = new ConcurrentLinkedQueue[Seq[String]]
    def walker(): Thread = new Thread(() => walked.add(Runner.run(ctx, second)))
    race(started, walker(), { contender = walker(); contender })
    assert(runs.asScala.toSeq.sorted == Seq("First", "Second"))
    assert(walked.size == 2, "a walk threw")
    assert(walked.asScala.toSeq.flatten.sorted == Seq("First", "Second"))
    for (s <- Seq(first, second)) {
      val dir = s.outputDir(ctx).get
      assert(Memo.done(spark, dir) && spark.read.parquet(dir).count() == 3)
    }
  }
}
