package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the bench INSTRUMENT, not a query: Bench times every query with
  * `Bench.materialize`, a noop write (every row and every column). The
  * r1-r12 benches used `count()`, which lets Catalyst re-optimize the timed
  * plan for zero output columns — final sorts are eliminated, output
  * projections prune away, and LEFT OUTER joins whose right side is
  * provably duplicate-free are REMOVED entirely (that deletion collapsed
  * llm_curate_pipeline2's four-stage funnel to scan+groupBy and
  * under-measured it ~20x; see ARCHITECTURE.md round-13 notes and the
  * BASELINE.md instrument caveat).
  *
  * These tests execute the bench's own action (`Bench.materialize`),
  * capture the plan the action really executed via a
  * QueryExecutionListener, and assert the operators count() used to
  * delete are still present. If a future "optimization" of Bench's timed
  * action reintroduces the pruning, these fail.
  */
class BenchActionPlanSpec extends SparkSpec {

  /** Runs `action` and returns the executed-plan strings of every query
    * execution it triggered (the noop write is one command execution; a
    * query with eager memo steps may trigger more — we assert over all).
    */
  private def executedPlans(action: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      // listener delivery is async: drain the bus so every execution the
      // action finished has been delivered
      ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The exact shape count() deleted: LEFT OUTER join against a provably
    * duplicate-free (groupBy doc_id) right side, plus a final global sort.
    * Under count() Catalyst removes BOTH; under the bench action both must
    * survive in the executed plan.
    */
  private def outerJoinSortQuery(): DataFrame = {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val stats = docs.groupBy("doc_id")
      .agg(sum("n_chars").as("chars_total"))
    docs.join(stats, Seq("doc_id"), "left").orderBy(desc("chars_total"))
  }

  test("bench action preserves the outer join and final sort count() pruned") {
    val plans = executedPlans(Bench.materialize(outerJoinSortQuery()))
    val all = plans.mkString("\n===\n")
    assert(plans.exists(p =>
      (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
        p.contains("ShuffledHashJoin")) && p.contains("LeftOuter")),
      s"LEFT OUTER join missing from the executed bench plan:\n${all.take(4000)}")
    // the global orderBy materializes as a range-partitioned Sort
    assert(plans.exists(p =>
      p.contains("Sort ") && p.contains("rangepartitioning")),
      s"final sort missing from the executed bench plan:\n${all.take(4000)}")
    // the output column's aggregate is actually computed, not pruned
    assert(plans.exists(_.contains("sum(n_chars")),
      s"output aggregate pruned from the executed bench plan:\n${all.take(4000)}")
  }

  test("count() action really does prune them (the mechanism being pinned)") {
    // documents WHY the bench action matters: the same query under count()
    // loses the final sort and the output-column aggregate (this Spark
    // build keeps the outer join itself but prunes it to a keys-only
    // dedup; composed registry queries additionally lost whole join
    // stages — see ARCHITECTURE.md). If a future Spark stops doing this,
    // the BASELINE.md caveat prose is stale — this failure is the reminder.
    val plans = executedPlans { outerJoinSortQuery().count(): Unit }
    val all = plans.mkString("\n===\n")
    assert(plans.nonEmpty && !all.contains("rangepartitioning"),
      "VERSION PIN (expected to fail on a Spark upgrade that stops " +
        "sort-elimination under count(); update BASELINE.md's instrument " +
        s"caveat, then this pin): count() no longer removes the final " +
        s"sort:\n${all.take(4000)}")
    assert(!all.contains("sum(n_chars"),
      "VERSION PIN (expected to fail on a Spark upgrade that stops " +
        "output-column pruning under count(); update BASELINE.md's " +
        s"instrument caveat, then this pin): count() no longer prunes " +
        s"the output aggregate:\n${all.take(4000)}")
  }

  test("an output-heavy gate query keeps its sort under the bench action") {
    // real registry query with a final global sort (O1 multi-field sort):
    // under count() the orderBy+limit collapses; under the bench action the
    // TakeOrderedAndProject (or Sort) must execute.
    val df = SparkEntry.queries("o1_multisort")(spark, sf())
    val plans = executedPlans(Bench.materialize(df))
    val all = plans.mkString("\n===\n")
    assert(plans.exists(p =>
      p.contains("TakeOrderedAndProject") || p.contains("Sort ")),
      s"ordered output missing from the executed bench plan:\n${all.take(4000)}")
  }
}
