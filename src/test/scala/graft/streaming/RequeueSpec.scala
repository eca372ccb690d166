package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TxLog

/** S7 — bounded-redelivery re-queue semantics (see [[Requeue]]): failed
  * deliveries redeliver with an incremented receive count, park on the
  * DLQ after `maxReceiveCount` failures, and a trigger that fails before
  * its one TxLog commit leaves the state table untouched.
  */
class RequeueSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

  /** Drive `n` extra triggers by appending dummy rows (foreachBatch only
    * fires on new data — each dummy is its own delivery round). */
  private def pump(srcDir: String, q: org.apache.spark.sql.streaming.StreamingQuery,
      n: Int): Unit =
    (1 to n).foreach { i =>
      Seq((s"__pump_$i", "noop")).toDF("key", "payload")
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    }

  test("transient failures redeliver and succeed; poison parks on the DLQ") {
    val src = tmpDir("graft-rq-src")
    val state = tmpDir("graft-rq-state") + "/state"
    val attempts = scala.collection.concurrent.TrieMap.empty[String, Int]
    // k_flaky fails its first 2 deliveries; k_poison always fails
    val deliver = (k: String, _: String) => {
      val n = attempts.updateWith(k)(v => Some(v.getOrElse(0) + 1)).get
      k match {
        case "k_poison" => false
        case "k_flaky"  => n > 2
        case _          => true
      }
    }
    Seq(("k_ok", "p1"), ("k_flaky", "p2"), ("k_poison", "p3"))
      .toDF("key", "payload").write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("key STRING, payload STRING").parquet(src)
    val q = Requeue.requeueOnFailure(stream, deliver, state,
      maxReceiveCount = 4)
    try {
      q.processAllAvailable()
      // rounds 2..5: flaky succeeds on its 3rd delivery; poison fails
      // deliveries 2,3,4 and parks after the 4th
      pump(src, q, 5)
    } finally q.stop()
    assert(attempts("k_ok") == 1)
    assert(attempts("k_flaky") == 3, s"flaky attempts: ${attempts.get("k_flaky")}")
    assert(attempts("k_poison") == 4, "poison must stop at maxReceiveCount")
    val parked = Requeue.parked(spark, state)
      .select("key", "receive_count").as[(String, Int)].collect().toSet
    assert(parked == Set(("k_poison", 4)))
    // nothing but (possibly) nothing pending — flaky drained, poison parked
    assert(Requeue.pendingCount(spark, state) == 0L,
      "pending store must drain once every key succeeded or parked")
  }

  test("backoffTriggers delays redelivery by whole delivery rounds") {
    val src = tmpDir("graft-rq2-src")
    val state = tmpDir("graft-rq2-state") + "/state"
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val deliver = (k: String, _: String) =>
      if (k != "k") true // pump rows always succeed
      else log.synchronized { log += k; log.size > 1 } // fail only the 1st
    Seq(("k", "p")).toDF("key", "payload").write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("key STRING, payload STRING").parquet(src)
    // backoff of 3 triggers after the 1st failure
    val q = Requeue.requeueOnFailure(stream, deliver, state,
      maxReceiveCount = 5, backoffTriggers = _ => 3L)
    try {
      q.processAllAvailable()
      assert(log.size == 1)
      // two pumps later it is still waiting out its backoff
      pump(src, q, 2)
      assert(log.size == 1, "redelivered before its backoff elapsed")
      // the 3rd pump reaches not_before and redelivers (succeeds)
      pump(src, q, 1)
      assert(log.size == 2, s"expected redelivery after 3 rounds: $log")
    } finally q.stop()
    assert(Requeue.pendingCount(spark, state) == 0L)
  }

  test("per-trigger cap bounds the delivery round; backlog drains in order") {
    val src = tmpDir("graft-rq3-src")
    val state = tmpDir("graft-rq3-state") + "/state"
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    val deliver = (k: String, _: String) => {
      delivered.synchronized { delivered += k }; true
    }
    val keys = (1 to 25).map(i => (f"k$i%03d", "p"))
    keys.toDF("key", "payload").write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("key STRING, payload STRING").parquet(src)
    val q = Requeue.requeueOnFailure(stream, deliver, state,
      maxPerTrigger = 10)
    try {
      q.processAllAvailable()
      assert(delivered.size == 10, "first round must stop at the cap")
      assert(Requeue.pendingCount(spark, state) == 15L)
      pump(src, q, 3)
    } finally q.stop()
    // every real key delivered exactly once, in ordered-head batches
    val real = delivered.filterNot(_.startsWith("__pump"))
    assert(real.size == 25 && real.distinct.size == 25)
    assert(real.take(10) == real.take(10).sorted)
    assert(Requeue.pendingCount(spark, state) == 0L)
  }

  test("backoff survives a restart: rounds come from the durable clock, not batchId") {
    val src = tmpDir("graft-rq6-src")
    val state = tmpDir("graft-rq6-state") + "/state"
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    val deliver = (k: String, _: String) =>
      if (k != "k") true
      else log.synchronized { log += k; log.size > 1 }
    Seq(("k", "p")).toDF("key", "payload").write.mode("append").parquet(src)
    def freshQuery() = Requeue.requeueOnFailure(
      spark.readStream.schema("key STRING, payload STRING").parquet(src),
      deliver, state, maxReceiveCount = 5, backoffTriggers = _ => 2L)
    val q1 = freshQuery()
    try { q1.processAllAvailable(); assert(log.size == 1) } finally q1.stop()
    // RESTART without a checkpoint: the new query's batchIds start at 0
    // again; the durable clock keeps counting rounds where they left
    // off, so the 2-round backoff elapses after exactly 2 more rounds
    val q2 = freshQuery()
    try {
      // round 2: the re-read of src redelivers k's original event as
      // fresh data, but the pending row holds the HIGHER receive count
      // and its not_before — still waiting
      q2.processAllAvailable()
      assert(log.size == 1, s"redelivered before the clock caught up: $log")
      pump(src, q2, 1) // round 3 reaches not_before → success
      assert(log.size == 2, s"expected post-restart redelivery: $log")
    } finally q2.stop()
    assert(Requeue.pendingCount(spark, state) == 0L)
  }


  test("a trigger whose deliver throws commits nothing; the replay redelivers and parks once") {
    val src = tmpDir("graft-rq8-src")
    val state = tmpDir("graft-rq8-state") + "/state"
    val ckpt = tmpDir("graft-rq8-ckpt")
    val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[String]
    // a_poison always fails; b_retry fails its first delivery only;
    // z_boom's delivery hits an infrastructure error while `crash` is set
    val deliver = (k: String, _: String) => {
      delivered.synchronized { delivered += k }
      k match {
        case "a_poison" => false
        case "b_retry" => retries.incrementAndGet() > 1
        case "z_boom" if crash.get => throw new IllegalStateException("infra down")
        case _ => true
      }
    }
    def start() = Requeue.requeueOnFailure(
      spark.readStream.schema("key STRING, payload STRING").parquet(src),
      deliver, state, maxReceiveCount = 2, checkpointDir = Some(ckpt))
    def rows(part: String) = TxLog.read(spark, state, partitions = Some(Set(part)))
      .select("key", "receive_count", "tick").as[(String, Int, Long)].collect().toSet
    Seq(("a_poison", "p"), ("b_retry", "p")).toDF("key", "payload")
      .write.mode("append").parquet(src)
    val q1 = start()
    val before = try {
      q1.processAllAvailable()
      TxLog.snapshot(spark, state)
    } finally q1.stop()
    assert(rows("pending") == Set(("a_poison", 1, 1L), ("b_retry", 1, 1L)))
    assert(rows("clock").map(_._3) == Set(1L))
    // round 2: a_poison's 2nd failure would park it and b_retry would
    // succeed, but z_boom's delivery throws before the commit
    crash.set(true)
    Seq(("z_boom", "p")).toDF("key", "payload").write.mode("append").parquet(src)
    val q2 = start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.processAllAvailable())
    finally q2.stop()
    assert(TxLog.snapshot(spark, state) == before, "a failed trigger committed")
    assert(rows("pending") == Set(("a_poison", 1, 1L), ("b_retry", 1, 1L)))
    assert(rows("parked").isEmpty)
    assert(rows("clock").map(_._3) == Set(1L))
    // restart from the same checkpoint: the failed round replays
    crash.set(false)
    delivered.clear()
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(delivered.toSet == Set("a_poison", "b_retry", "z_boom"),
      s"replay must redeliver every pending key: $delivered")
    assert(Requeue.parked(spark, state).select("key", "receive_count")
      .as[(String, Int)].collect().toSeq == Seq(("a_poison", 2)))
    assert(Requeue.pendingCount(spark, state) == 0L)
    assert(rows("clock").map(_._3) == Set(2L))
  }
}
