package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The memo layer's contracts: an entry lives exactly while its frame
  * is in the session cache (one analyzed frame and one build per
  * generation, a fresh build after the frame leaves the cache, also for
  * checkpoint-backed results and for the memoized frames a build
  * derives), safety of memoized builds that derive other memoized
  * frames, and cancellation of concurrent pins. Cache generations end
  * by targeted `unpersist`, not `clearCache`: suites share one session
  * and run in parallel. */
class CachingSpec extends SparkSpec {
  import spark.implicits._

  private def uniq(prefix: String) =
    s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  // the key rides along as a column, so no other suite's cached frame
  // shares these plans
  private def checkGenerations(label: String,
      mk: (Int, String) => org.apache.spark.sql.DataFrame): Unit = {
    val key = uniq(s"spec-memo-$label")
    var builds = 0
    def get() = Caching.memoDf(spark, key) { builds += 1; mk(builds, key) }
    val a = get(); val b = get()
    assert(a eq b, s"$label: same key must return the same Dataset object")
    assert(builds == 1)
    assert(a.storageLevel != StorageLevel.NONE)
    assert(a.select("gen").as[Long].head() == 1L)
    // what a cache clear does to this entry
    a.unpersist()
    assert(a.storageLevel == StorageLevel.NONE)
    val c = get()
    assert(!(c eq a) && builds == 2, s"$label: a new generation builds once")
    assert(c.storageLevel != StorageLevel.NONE)
    assert(get() eq c)
    assert(builds == 2)
    assert(c.select("gen").as[Long].head() == 2L,
      s"$label: the new generation's result")
  }

  test("memoDf returns one analyzed frame per key and re-persists after clearCache") {
    checkGenerations("plain", (n, k) => Seq((n.toLong, k)).toDF("g", "k")
      .groupBy("k").agg(sum("g").as("gen")))
  }

  test("memoDf rebuilds a checkpoint-backed result once per cache generation") {
    // stands in for a fixpoint whose result lives in checkpoint blocks
    checkGenerations("checkpoint", (n, k) => Seq((n.toLong, k)).toDF("gen", "k")
      .localCheckpoint(true))
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

  test("rebuilding an outer memo re-persists the inner memo its build reads") {
    val inner = uniq("spec-dep-inner"); val outer = uniq("spec-dep-outer")
    var innerBuilds = 0
    def in() = Caching.memoDf(spark, inner) {
      innerBuilds += 1
      Seq(1, 2, 3).toDF("x").withColumn("k", lit(inner))
    }
    def out() = Caching.memoDf(spark, outer) { in().agg(sum("x").as("s")) }
    val o1 = out()
    assert(o1.as[Long].head() == 6L)
    val i1 = in()
    assert(innerBuilds == 1)
    // the generation ends for both (a clearCache drops every entry)
    o1.unpersist(); i1.unpersist()
    val o2 = out()
    assert(o2.storageLevel != StorageLevel.NONE)
    // looked up by plan, not through the memo (an access would re-pin it)
    assert(i1.storageLevel != StorageLevel.NONE,
      "the outer rebuild must re-persist the inner frame it reads")
    assert(innerBuilds == 2)
    assert(o2.as[Long].head() == 6L)
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
