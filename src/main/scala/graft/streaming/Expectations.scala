package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality EXPECTATIONS over a maintained table's ingest path —
  * the "expect or quarantine" contract: instead of failing the whole
  * batch, an expectation ROUTES the violating rows aside and lets the
  * clean majority commit (reference behavior this generalizes: the
  * sidecar ingestion path quarantines malformed rows instead of
  * aborting, `workflow/Workflows.quarantineSidecars`).
  *
  * Each rule is (name → boolean SQL over the batch's columns); a row
  * passes only when EVERY rule evaluates TRUE (NULL = violation,
  * fail-closed). Violating rows land in a
  * quarantine [[graft.sources.TxLog]] table with the violated rule
  * names and the batch id — atomic per batch, snapshot-isolated,
  * replayable — so an operator can inspect, fix, and re-merge them.
  *
  * Scale shape: the split is ONE narrow pass (every rule evaluates in
  * the same projection; no per-rule scans), and only violating rows —
  * the small minority by construction — are written twice.
  */
object Expectations {

  final case class SplitResult(pass: DataFrame, quarantined: DataFrame)

  /** Split `batch` by the rules: `pass` = rows meeting every rule;
    * `quarantined` = the rest, with `_violated` (sorted rule names,
    * comma-joined) and `_batch_id` columns appended. */
  def split(batch: DataFrame, rules: Map[String, String],
      batchId: Long = -1L): SplitResult = {
    require(rules.nonEmpty, "Expectations.split: no rules")
    val ordered = rules.toSeq.sortBy(_._1)
    val checks = ordered.map { case (n, e) =>
      coalesce(expr(e), lit(false)).as(s"__ok_$n")
    }
    val flagged = batch.select(col("*") +: checks: _*)
    val allOk = ordered.map { case (n, _) => col(s"__ok_$n") }
      .reduce(_ && _)
    val okCols = ordered.map { case (n, _) => s"__ok_$n" }
    val pass = flagged.filter(allOk).drop(okCols: _*)
    val quarantined = flagged.filter(!allOk)
      .withColumn("_violated", concat_ws(",",
        ordered.map { case (n, _) =>
          when(!col(s"__ok_$n"), lit(n)) }: _*))
      .withColumn("_batch_id", lit(batchId))
      .drop(okCols: _*)
    SplitResult(pass, quarantined)
  }

  /** The maintained-ingest wiring: split the batch, append violations
    * to the quarantine table (TxLog merge keyed on the source key —
    * REPLAYING a batch re-quarantines identically, so at-least-once
    * delivery converges), and return the clean rows for the caller's
    * own merge. */
  def enforce(spark: SparkSession, quarantinePath: String,
      batch: DataFrame, rules: Map[String, String],
      batchId: Long = -1L,
      keyCol: String = "_docId",
      partitionCol: String = "str_databaseid"): DataFrame = {
    val r = split(batch, rules, batchId)
    if (!r.quarantined.isEmpty)
      graft.sources.TxLog.merge(spark, quarantinePath, r.quarantined,
        keyCol = keyCol, partitionCol = partitionCol)
    r.pass
  }
}
