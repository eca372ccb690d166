package perfbench

import org.apache.spark.sql.SparkSession

import graft.sources.TxLog
import perfbench.Tracer.{Span, median}

/** Per-layer metrics of a traced run. Times are medians over every span
  * of the timed phase; counts and ratios cover the first timed round
  * only, a fixed set of operations, so they repeat exactly between two
  * traced runs of one seed. Every workload reports every name; a layer
  * the workload does not call reads 0. */
object PerLayer {

  final case class MaintainRound(filesPerCommit: Double, liveFiles: Double,
      writeAmp: Double)

  private def ms(tr: Tracer, name: String): Double =
    median(tr.spans.filter(_.name == name).map(_.nanos / 1e6).toSeq)

  private def common(tr: Tracer, roundSize: Int, ops: Span => Boolean,
      nOps: Int, hits: Long, searchMs: Seq[Double], rps: Double, gcMs: Double,
      cpuS: Double): Map[String, Double] = {
    val first = (s: Span) => s.request <= roundSize
    val policy = tr.spans.filter(s => first(s) &&
      (s.name == "authz.api" || s.name == "authz.policy")).toSeq
    val policyJobs = policy.map(s => tr.work(_.id == s.id).jobs)
    val searches = tr.spans.count(s => first(s) && s.name.startsWith("request.") &&
      !s.name.startsWith("request.browse")) + tr.spans.count(s => first(s) && s.name == "api.fresh")
    val searchWork = tr.work(s => first(s) && (s.name == "api.fresh" ||
      (s.name.startsWith("request.") && !s.name.startsWith("request.browse"))))
    val opWork = tr.work(s => first(s) && ops(s))
    def per(x: Double) = if (nOps == 0) 0.0 else x / nOps
    Map(
      "api.search_ms" -> median(searchMs),
      "api.rps" -> rps,
      "authz.api_ms" -> ms(tr, "authz.api"),
      "authz.policy_ms" -> ms(tr, "authz.policy"),
      "authz.policy_jobs" -> (if (searches == 0) 0.0 else policyJobs.sum.toDouble / searches),
      "authz.policy_hit_ratio" ->
        (if (policy.isEmpty) 0.0 else policyJobs.count(_ == 0).toDouble / policy.size),
      "api.build_ms" -> ms(tr, "api.build"),
      "api.hits_ms" -> ms(tr, "api.hits"),
      "api.facets_ms" -> ms(tr, "api.facets"),
      "api.total_ms" -> ms(tr, "api.total"),
      "api.fresh_search_ms" -> ms(tr, "api.fresh"),
      "query.bm25_scan_ms" -> ms(tr, "request.bm25.scan"),
      "query.bm25_index_ms" -> ms(tr, "request.bm25.index"),
      "query.rows_read_per_hit" ->
        (if (hits == 0) 0.0 else searchWork.inputRecords.toDouble / hits),
      "query.termsync_ms" -> ms(tr, "query.termsync"),
      "query.textsync_ms" -> ms(tr, "query.textsync"),
      "catalog.get_ms" -> ms(tr, "catalog.get"),
      "catalog.list_ms" -> ms(tr, "catalog.list"),
      "graph.descendants_ms" -> ms(tr, "graph.descendants"),
      "streaming.plan_ms" -> ms(tr, "streaming.plan"),
      "sources.merge_ms" -> ms(tr, "sources.merge"),
      "spark.jobs" -> per(opWork.jobs.toDouble),
      "spark.stages" -> per(opWork.stages.toDouble),
      "spark.tasks" -> per(opWork.tasks.toDouble),
      "spark.input_mb" -> per(opWork.inputBytes / 1048576.0),
      "spark.shuffle_mb" -> per(opWork.shuffleBytes / 1048576.0),
      "jvm.gc_ms" -> gcMs,
      "jvm.cpu_s" -> cpuS)
  }

  private val Units: Map[String, String] = Map(
    "authz.policy_jobs" -> "count", "authz.policy_hit_ratio" -> "ratio",
    "query.rows_read_per_hit" -> "ratio", "streaming.rows_per_s" -> "1/s",
    "sources.merge_jobs" -> "count", "sources.files_per_commit" -> "count",
    "sources.live_files" -> "count", "sources.write_amp" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB", "jvm.cpu_s" -> "s",
    "api.rps" -> "1/s")

  private def withUnits(m: Map[String, Double]): Map[String, (Double, String)] =
    m.map { case (k, v) => k -> (v, Units.getOrElse(k, "ms")) }

  /** Search workload: an operation is one request of any class. */
  def search(tr: Tracer, roundSize: Int, searchMs: Seq[Double], rps: Double,
      hits: Long, gcMs: Double, cpuS: Double,
      liveFiles: Int): Map[String, (Double, String)] =
    withUnits(common(tr, roundSize, _.name.startsWith("request."), roundSize,
      hits, searchMs, rps, gcMs, cpuS) ++ Map(
      "streaming.rows_per_s" -> 0.0,
      "sources.merge_jobs" -> 0.0,
      "sources.files_per_commit" -> 0.0,
      "sources.live_files" -> liveFiles.toDouble,
      "sources.write_amp" -> 0.0))

  /** Doc-table commit shape over the first round's batches. */
  def maintainRound(spark: SparkSession, docsPath: String, before: TxLog.Snapshot,
      batches: Int, changedKeys: Int): MaintainRound = {
    val now = TxLog.snapshot(spark, docsPath)
    val old = before.files.map(_.path).toSet
    val added = now.files.filterNot(f => old(f.path))
    def bytes(f: TxLog.AddFile) = new java.io.File(s"$docsPath/${f.path}").length()
    val tableBytes = now.files.map(bytes).sum.toDouble
    val tableRows = now.files.map(_.rows).sum.toDouble
    val changedBytes = changedKeys * tableBytes / math.max(1.0, tableRows)
    MaintainRound(added.size.toDouble / batches, now.files.size.toDouble,
      if (changedBytes == 0) 0.0 else added.map(bytes).sum / changedBytes)
  }

  /** Maintain workload: an operation is one batch (rebuild, merge, both
    * index syncs and the fresh search). */
  def maintain(tr: Tracer, round: MaintainRound, roundSize: Int, batches: Int,
      searchMs: Seq[Double], rps: Double, hits: Long, changes: Long,
      elapsed: Double, gcMs: Double, cpuS: Double): Map[String, (Double, String)] = {
    val first = (s: Span) => s.request <= roundSize
    val merges = tr.spans.filter(s => first(s) && s.name == "sources.merge").toSeq
    withUnits(common(tr, roundSize, _.name == "batch", batches, hits, searchMs, rps,
      gcMs, cpuS) ++ Map(
      "streaming.rows_per_s" -> changes / elapsed,
      "sources.merge_jobs" -> (if (merges.isEmpty) 0.0
        else tr.work(s => merges.exists(_.id == s.id)).jobs.toDouble / merges.size),
      "sources.files_per_commit" -> round.filesPerCommit,
      "sources.live_files" -> round.liveFiles,
      "sources.write_amp" -> round.writeAmp))
  }
}
