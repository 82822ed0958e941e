package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.SparkTestSession
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[Concurrency.awaitAll]]: ordered results, loud failures, sibling
  * cancellation through the job group, and no leak of that group into
  * the caller's thread. */
class ConcurrencySpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val jobGroupKey = "spark.jobGroup.id"

  test("results come back in chain order, whatever order the chains finish in") {
    val chains = (0 until 6).map { i => () =>
      Thread.sleep((6 - i) * 20L) // later chains finish first
      spark.range(0, i + 1).count()
    }
    assert(Concurrency.awaitAll(spark, "order-spec")(chains) == (1L to 6L))
  }

  test("a failing chain's exception is rethrown") {
    val boom = new IllegalStateException("chain 1 failed")
    val thrown = intercept[IllegalStateException] {
      Concurrency.awaitAll(spark, "failure-spec")(Seq(
        () => spark.range(10).count(),
        () => throw boom,
        () => spark.range(20).count()))
    }
    assert(thrown eq boom)
  }

  test("a sibling's long-running Spark job is cancelled through the job group") {
    val sc = spark.sparkContext
    val taskRunning = new CountDownLatch(1)
    val sleeperJob = new AtomicReference[Option[Int]](None)
    val sleeperEnd = new CountDownLatch(1)
    val failed = new AtomicReference[Option[Boolean]](None)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.description")).contains("cancel-spec sleeper")))
          sleeperJob.set(Some(e.jobId))
      override def onTaskStart(e: SparkListenerTaskStart): Unit = taskRunning.countDown()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sleeperJob.get.contains(e.jobId)) {
          failed.set(Some(e.jobResult != JobSucceeded))
          sleeperEnd.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime
      val thrown = intercept[RuntimeException] {
        Concurrency.awaitAll(spark, "cancel-spec")(Seq(
          () => {
            sc.setJobDescription("cancel-spec sleeper")
            // four 60 s tasks: only a cancel ends this job early
            sc.parallelize(1 to 4, 4).map { x => Thread.sleep(60000); x }.count()
          },
          () => {
            assert(taskRunning.await(30, TimeUnit.SECONDS), "the sleeper job never started")
            throw new RuntimeException("sibling failed")
          }))
      }
      val elapsedS = (System.nanoTime - t0) / 1e9
      assert(thrown.getMessage == "sibling failed")
      assert(sleeperEnd.await(30, TimeUnit.SECONDS), "the sleeper job never ended")
      assert(failed.get.contains(true), "the sleeper job must end cancelled, not succeed")
      assert(elapsedS < 45, f"awaitAll waited $elapsedS%.1f s: the sleeper ran to completion")
    } finally sc.removeSparkListener(listener)
  }

  test("the caller thread's job group is untouched after success and after failure") {
    val sc = spark.sparkContext
    def run(fail: Boolean): Unit = {
      val chains = Seq[() => Long](() => spark.range(5).count(),
        () => if (fail) throw new RuntimeException("x") else spark.range(7).count())
      if (fail) intercept[RuntimeException](Concurrency.awaitAll(spark, "group-spec")(chains))
      else Concurrency.awaitAll(spark, "group-spec")(chains)
    }
    sc.clearJobGroup()
    run(fail = false)
    assert(sc.getLocalProperty(jobGroupKey) == null)
    run(fail = true)
    assert(sc.getLocalProperty(jobGroupKey) == null)
    sc.setJobGroup("caller-group", "caller")
    try {
      run(fail = false)
      assert(sc.getLocalProperty(jobGroupKey) == "caller-group")
      run(fail = true)
      assert(sc.getLocalProperty(jobGroupKey) == "caller-group")
    } finally sc.clearJobGroup()
  }
}
