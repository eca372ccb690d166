package graft.core

import org.apache.spark.sql.SparkSession

/** Canonical session builders for the library.
  *
  * The engine needs three things from its session that users should not
  * have to re-discover: the ABAC injection rule registered BEFORE scan
  * pushdown (session extensions, not the late experimental hook — see
  * [[graft.plans.AbacInjection]] on why the late path must fail closed
  * for pruned DSv2 scans), nanosecond-parquet tolerance for event
  * tables, and a UTC session so date codecs are deterministic.
  */
object GraftSession {

  /** Apply the engine's required settings to any builder. AQE stays ON
    * here — it is the right default on a cluster (skew joins, partition
    * coalescing); `graft.Bench` turns it off only because benchmark
    * stages at tens of MB are known-tiny (see ARCHITECTURE.md).
    *
    * CAVEAT (measured, round 15): the memo-pinned curation-funnel
    * family (llm_curate_pipeline2 and its constituents) is built from
    * MANY small eagerly-materialized stages, and AQE's per-exchange
    * materialize-and-replan barrier multiplies each one — 5.9 s AQE-off
    * vs 63.9 s AQE-on at sf1, the inflation spread uniformly across
    * every memo build. Interactive/repeated-funnel deployments at
    * known-small scale should set `spark.sql.adaptive.enabled=false`
    * on the session running that family; leave AQE on for large
    * unknown-stats batch jobs, which is what it exists for. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")

  /** Local development/test session (`local[*]`, modest shuffle
    * parallelism). Production deployments pass their own master/resource
    * configs through [[configure]]. */
  def local(appName: String = "graft", cores: String = "*",
      shufflePartitions: Int = 32): SparkSession =
    finish(configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions))
      .getOrCreate())

  /** The session of the project's own mains (`graft.Bench`,
    * `graft.Verify`, `GenScale`, `StoreScale`): the shipped [[configure]]
    * + [[finish]] profile plus the settings the bench measured at suite
    * scale.
    *  - `local[cores]` with one shuffle partition per core.
    *  - AQE off: at tens of MB per stage its per-exchange
    *    materialize-and-replan barrier is pure latency (+4 s over the
    *    78-query suite of round 5, 2-8× on the memo-pinned curation
    *    family), with no plan-quality gain.
    *  - A codegen cache sized for the whole suite: Spark's default 100
    *    entries evict compiled classes across queries, so every pass
    *    would recompile.
    *  - No UI, and WARN logging. */
  def harness(cores: String): SparkSession = {
    val s = finish(configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Post-build wiring. `spark.sql.extensions` is a STATIC conf: it only
    * takes effect when this session creates the JVM's first context. If
    * a context already existed, the extensions path is silently skipped
    * — so the injection rule is ALSO installed through the runtime hook
    * here (the late path; pruned-DSv2 scans then fail closed rather than
    * leak, see AbacInjection). Registers the custom functions either
    * way. */
  def finish(s: SparkSession): SparkSession = {
    graft.plans.AbacInjection.install(s)
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** `spark.sql.shuffle.partitions` as an Int, tolerating non-numeric
    * values (some deployments set e.g. an "auto" extension value that
    * the planner resolves but `.toInt` does not): falls back to the
    * cluster default parallelism. Every explicit `repartition(width)`
    * in the library routes through this — a raw
    * `conf.get(...).toInt` throws exactly where the implicit-planner
    * path would have worked (r14 advice, SkewGuard). */
  def shuffleWidth(s: SparkSession): Int =
    parseWidth(s.conf.get("spark.sql.shuffle.partitions"),
      s.sparkContext.defaultParallelism)

  /** The pure parse behind [[shuffleWidth]] (separately testable —
    * `conf.set` validates the int conf, so the fallback can't be
    * exercised through a real session). */
  def parseWidth(raw: String, fallback: Int): Int =
    scala.util.Try(raw.trim.toInt).filter(_ > 0).getOrElse(fallback)
}
