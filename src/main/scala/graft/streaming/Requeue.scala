package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TxLog

/** S7 — the SNS→SQS re-queue loop re-expressed on micro-batches.
  *
  * The reference wires its indexing and workflow consumers to SQS
  * (`sqsBucketSync.py`, `sqsAutoExecuteWorkflow.py`): a message whose
  * handler fails returns to the queue after its visibility timeout and
  * is REDELIVERED with an incremented receive count; queues configured
  * with a redrive policy park a message on its dead-letter queue once
  * `maxReceiveCount` deliveries have failed (the reference's own queues
  * mostly decline DLQs — `apiBuilder-nestedStack.ts:693,1389` — and
  * rely on redelivery + idempotent handlers, which is exactly the
  * at-least-once contract this twin preserves).
  *
  * Mapping to micro-batches:
  *  - one trigger = one delivery round; the visibility timeout becomes
  *    `backoffTriggers(receiveCount)` — how many ROUNDS a failed
  *    record waits before redelivery (round-denominated so tests and
  *    replays are deterministic; wall-clock backoff for throttled
  *    CALLS inside a delivery is [[Retry.withBackoff]]'s job, ST6).
  *    Rounds are counted by a DURABLE clock row in the state table,
  *    not the streaming batchId — batchIds reset to 0 on a
  *    checkpoint-less restart, which would future-date every persisted
  *    backoff by the previous run's length;
  *  - the queue, the DLQ and the clock are ONE [[TxLog]] table at
  *    `stateDir`, partitioned by `state` (`pending` / `parked` /
  *    `clock`) and keyed `state#key`. Each trigger commits exactly one
  *    merge: it upserts the changed pending rows and the newly parked
  *    rows, removes the delivered and parked keys from `pending`, and
  *    bumps the clock row (so every trigger commits).
  *
  * Crash story: the one commit is the only write. A crash before it —
  * including a `deliver` that throws — leaves pending, parked and the
  * clock at the previous version, and the replayed trigger redelivers
  * every pending key (at-least-once, as SQS). A parked key is an
  * upsert, so the DLQ holds each key once however often its last
  * round replays.
  *
  * Scale: per trigger the driver touches at most `maxPerTrigger` rows
  * (ordered head, TakeOrderedAndProject — never the full backlog); the
  * state stays a distributed table and the merge rewrites only the
  * files that hold a changed key. The backlog drains across triggers
  * exactly like autoExecOnArrival's spill.
  */
object Requeue {

  /** State-table schema; `tick` is `not_before` for a pending row,
    * `parked_at` for a parked one and the current round for the clock. */
  private val StateDdl =
    "_key STRING, key STRING, payload STRING, receive_count INT, tick BIGINT, state STRING"

  private def keyed(rows: DataFrame, state: String): DataFrame =
    rows.select(concat(lit(s"$state#"), col("key")).as("_key"), col("key"),
      col("payload"), col("receive_count"), col("tick"), lit(state).as("state"))

  private def read(spark: SparkSession, stateDir: String, state: String): DataFrame =
    TxLog.read(spark, stateDir, partitions = Some(Set(state)))

  private def commit(spark: SparkSession, stateDir: String, updates: DataFrame,
      removedKeys: DataFrame = null): Unit =
    TxLog.merge(spark, stateDir, updates, removedKeys,
      keyCol = "_key", partitionCol = "state")

  /** Consume `events` (columns `key`, `payload`) with bounded-redelivery
    * semantics: `deliver(key, payload)` returning false marks a
    * transient failure — the record re-queues and redelivers after
    * `backoffTriggers(receiveCount)` triggers, until its
    * `maxReceiveCount`-th delivery has failed, at which point it parks
    * (see [[parked]]) carrying its final `receive_count` and the
    * trigger it was parked on. A key redelivered while already pending
    * collapses to ONE pending row at the highest receive count
    * (idempotent delivery — the reference's handlers tolerate
    * duplicates, so collapsing is safe and keeps the store key-bounded).
    *
    * `deliver` must not throw for data-level failures (return false);
    * a throw fails the batch before its commit and replays it
    * wholesale — reserve that for infrastructure errors, mirroring a
    * Lambda crash (SQS redelivers the whole receive batch). */
  def requeueOnFailure(
      events: DataFrame,
      deliver: (String, String) => Boolean,
      stateDir: String,
      maxReceiveCount: Int = 5,
      maxPerTrigger: Int = 10000,
      backoffTriggers: Int => Long = _ => 1L,
      // production callers SET this: without a checkpoint the file
      // source reprocesses every old event on restart, re-enqueuing
      // previously-parked keys as fresh deliveries (at-least-once
      // stretched to its worst case)
      checkpointDir: Option[String] = None): StreamingQuery = {
    require(maxReceiveCount >= 1, s"maxReceiveCount must be >= 1")
    val spark0 = events.sparkSession
    // an empty merge creates the table (schema only) and is a no-op on
    // an existing one, so every trigger reads a table
    commit(spark0, stateDir, spark0.createDataFrame(
      spark0.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(StateDdl)))
    val writer0 = events.writeStream.outputMode("append")
    checkpointDir.fold(writer0)(c =>
        writer0.option("checkpointLocation", c))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val nowTick = read(spark, stateDir, "clock")
          .agg(coalesce(max("tick"), lit(0L))).head().getLong(0)
        val pending = read(spark, stateDir, "pending")
          .select("key", "payload", "receive_count", "tick")
        val fresh = batch.select(col("key"), col("payload"),
          lit(0).as("receive_count"), lit(nowTick).as("tick"))
        // one row per key, at the key's HIGHEST receive count (struct
        // max orders by receive_count first) — new arrivals of a
        // pending key neither reset its count nor fork a second row
        val all = pending.unionByName(fresh)
          .groupBy("key")
          .agg(max(struct(col("receive_count"), col("tick"),
            col("payload"))).as("m"))
          .select(col("key"), col("m.payload").as("payload"),
            col("m.receive_count").as("receive_count"),
            col("m.tick").as("tick"))
        val due = all.filter(col("tick") <= nowTick)
        // bounded delivery round: the driver never sees more than the
        // cap; the rest of the backlog stays pending (still due) and
        // drains on later triggers
        val taken = due.orderBy("key").limit(maxPerTrigger)
          .select("key", "payload", "receive_count").collect()
        val results = taken.map { r =>
          val ok = deliver(r.getString(0), r.getString(1))
          (r.getString(0), r.getString(1), r.getInt(2), ok)
        }.toSeq
        // failures stay driver-side (the round is maxPerTrigger-bounded
        // already), so the caller's backoff function applies as plain
        // Scala — no UDF enters any plan
        val failed = results.collect {
          case (k, p, rc, false) => (k, p, rc + 1)
        }
        val (parkedRows, retryRows) = failed.partition(_._3 >= maxReceiveCount)
        val parkedNow = parkedRows.map { case (k, p, rc) => (k, p, rc, nowTick) }
          .toDF("key", "payload", "receive_count", "tick")
        val retries = retryRows
          .map { case (k, p, rc) => (k, p, rc, nowTick + backoffTriggers(rc)) }
          .toDF("key", "payload", "receive_count", "tick")
        val takenKeys = broadcast(results.map(_._1).toDF("key"))
        // pending rows that differ from the stored ones: new arrivals
        // that were not taken this round, plus the retries
        val changed = all.join(takenKeys, Seq("key"), "left_anti")
          .join(pending, Seq("key", "payload", "receive_count", "tick"), "left_anti")
          .unionByName(retries)
        val retried = broadcast(retries.select("key"))
        val gone = pending.join(takenKeys, Seq("key"), "left_semi")
          .join(retried, Seq("key"), "left_anti")
        val clock = Seq(("", null: String, 0, nowTick + 1))
          .toDF("key", "payload", "receive_count", "tick")
        commit(spark, stateDir,
          keyed(changed, "pending").unionByName(keyed(parkedNow, "parked"))
            .unionByName(keyed(clock, "clock")),
          keyed(gone, "pending").select("_key"))
      }
      .start()
  }

  /** The dead-letter rows: (key, payload, receive_count, parked_at),
    * one per parked key. */
  def parked(spark: SparkSession, stateDir: String): DataFrame =
    read(spark, stateDir, "parked").select(col("key"), col("payload"),
      col("receive_count"), col("tick").as("parked_at"))

  /** Count of records still pending redelivery (diagnostic): the row
    * counts the log records for the `pending` files — no Spark job. */
  def pendingCount(spark: SparkSession, stateDir: String): Long =
    TxLog.snapshot(spark, stateDir).files
      .filter(_.partition == "pending").map(_.rows).sum
}
