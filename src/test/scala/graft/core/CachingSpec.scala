package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The memo layer's contracts: one analyzed frame per (session, key),
  * transparent re-persist after an external cache clear, epoch
  * invalidation for results the CacheManager cannot see, safety of
  * memoized builds that derive other memoized frames, and cancellation
  * of concurrent pins. */
class CachingSpec extends SparkSpec {
  import spark.implicits._

  private def uniq(prefix: String) =
    s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  test("memoDf returns one analyzed frame per key and re-persists after clearCache") {
    val key = uniq("spec-memo")
    var builds = 0
    def get() = Caching.memoDf(spark, key) {
      builds += 1
      Seq(1, 2, 3).toDF("x").groupBy().agg(sum("x").as("s"))
    }
    val a = get(); val b = get()
    assert(a eq b, "same key must return the same Dataset object")
    assert(builds == 1)
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    // an external unpersist (what a cache clear does to this entry)
    // drops the persist; the next ACCESS re-marks it without
    // rebuilding the plan. Targeted unpersist, not clearCache: suites
    // share one session and run in parallel.
    a.unpersist()
    assert(a.storageLevel == StorageLevel.NONE)
    val c = get()
    assert((c eq a) && builds == 1)
    assert(c.storageLevel != StorageLevel.NONE)
    assert(c.as[Long].head() == 6L)
  }

  test("memoDf eager=true materializes once per cache generation") {
    val key = uniq("spec-eager")
    def get() = Caching.memoDf(spark, key, eager = true) {
      Seq(1).toDF("x")
    }
    val a = get()
    assert(a.storageLevel != StorageLevel.NONE)
    a.unpersist()
    assert(get().storageLevel != StorageLevel.NONE)
  }

  test("memoDfEpoch recomputes after its marker drops but not between accesses") {
    val key = uniq("spec-epoch")
    var builds = 0
    def get() = Caching.memoDfEpoch(spark, key) {
      builds += 1
      // stands in for a checkpoint-backed result the CacheManager
      // cannot guard
      Seq(builds).toDF("gen").localCheckpoint(true)
    }
    assert(get().as[Int].head() == 1)
    assert(get().as[Int].head() == 1, "same generation shares one result")
    assert(builds == 1)
    // dropping the marker frame is exactly what a clearCache does to
    // this entry (targeted here to stay parallel-suite friendly)
    spark.range(1).select(lit(key).as("memo_epoch_key")).unpersist()
    assert(get().as[Int].head() == 2, "marker loss starts a new generation")
    assert(builds == 2)
  }

  test("a memoized build may derive another memoized frame (no recursive-update crash)") {
    val inner = uniq("spec-inner"); val outer = uniq("spec-outer")
    val df = Caching.memoDf(spark, outer) {
      Caching.memoDf(spark, inner) { Seq(1, 2).toDF("x") }
        .agg(count(lit(1)).as("n"))
    }
    assert(df.as[Long].head() == 2L)
  }

  test("pinConcurrently cancels the sibling pins' Spark jobs on the first failure") {
    val sc = spark.sparkContext
    @volatile var group: String = null
    @volatile var succeeded = false
    val started, ended = new CountDownLatch(1)
    def inGroup(p: java.util.Properties) =
      group != null && p != null && p.getProperty("spark.jobGroup.id") == group
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (inGroup(j.properties)) { jobs.add(j.jobId); started.countDown() }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (jobs.contains(j.jobId)) {
          succeeded = j.jobResult == JobSucceeded; ended.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val slow = () => {
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(120000))
      }
      val failing = () => {
        assert(started.await(60, TimeUnit.SECONDS), "the slow pin never started")
        throw new IllegalStateException("pin failed")
      }
      val e = intercept[IllegalStateException](
        Caching.pinConcurrently(spark)(slow, failing))
      assert(e.getMessage == "pin failed")
      // the scheduler cancels asynchronously: the sibling's job must end
      // within seconds of the throw, not after its two-minute tasks
      assert(ended.await(10, TimeUnit.SECONDS),
        s"jobs of the pin group still running after the throw: $jobs")
      assert(!succeeded, "the sibling's job ran to completion")
    } finally sc.removeSparkListener(listener)
  }
}
