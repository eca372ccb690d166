package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ListenerBus

/** Benchmark main and the one dev harness: runs the registered queries
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line {"metric":...,"value":N,
  * "unit":"sec","queries":{name:sec,...},"sf":...}. Each query is timed
  * to full materialization ([[materialize]]), matching what the DuckDB
  * baseline pays.
  *
  * Usage: `Bench [-explain | -warm <q>] [name...]`
  *  - no names: the whole suite (the driver's invocation);
  *  - names: only those queries (local iteration; unknown names fail);
  *  - `-explain`: print each query's formatted plan, run no timed pass;
  *  - `-warm q`: before each timed query, clear the cache and run `q`
  *    untimed, so the time is the query's marginal cost given q's
  *    shared caches (cold minus marginal is the shared build).
  * Growth ratios come from two runs with SPARK_GRAFT_SF_DIR at the small
  * and then the big directory, one query per JVM.
  */
object Bench {

  /** The timed action: a noop write produces and discards every row and
    * every column. NOT count(): count() re-optimizes the plan for zero
    * output columns, so the final sort is eliminated, output-only
    * projections prune away, and LEFT OUTER joins whose right side is
    * provably duplicate-free (any doc-id aggregate) are REMOVED — a
    * query like llm_curate_pipeline2 collapsed to scan+groupBy (2.7 s
    * under count() vs 55-66 s in full at sf0.1). The noop sink matches
    * what the DuckDB side pays (minus its Python row conversion, an
    * asymmetry in the ORACLE's favor). BenchActionPlanSpec pins it. */
  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * a consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Spark jobs, stages and tasks since the last [[take]]. */
  private final class JobCounter extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks); ()
    }
    /** Drains the listener bus first, so every event of the actions run
      * so far is counted here and none bleeds into the next read. */
    def take(spark: SparkSession): Seq[Int] = {
      ListenerBus.drain(spark.sparkContext)
      Seq(jobs, stages, tasks).map(_.getAndSet(0))
    }
  }

  def main(args: Array[String]): Unit = {
    val (explain, warm, names) = args.toList match {
      case "-explain" :: rest => (true, None, rest)
      case "-warm" :: q :: rest => (false, Some(q), rest)
      case rest => (false, None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // unknown names fail fast — a typo'd run must not print a plausible
    // empty JSON
    val queries = SparkEntry.queries
    val only = names.toSet
    val unknown = (only ++ warm) -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted}")
    val warmFn = warm.map(queries)
    val spark = graft.core.GraftSession.harness(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val ordered = queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    if (explain) {
      ordered.foreach { case (name, fn) =>
        println(s"===== $name =====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      spark.stop()
      return
    }
    // Untimed warmup: pay one-time JVM/session inits (whole-stage codegen
    // compilation, JIT, parquet pushdown paths, window/json/regexp/HOF
    // expression classes) outside the per-query timings — e.g. the first
    // pushed-down Contains filter costs ~2 s JVM-wide, every later one
    // ~0.2 s, and the MinHash/shingle HOF shapes cost ~10 s JVM-wide on
    // first compile. Every query runs once at the SMALLEST scale factor
    // so each codegen shape is compiled before timing; the warmup dir is
    // a different path, so nothing it persists is reusable by the timed
    // run (data work at sfDir stays cold).
    val warmDir = {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory && sibling.getPath != new java.io.File(sfDir).getPath)
        sibling.getPath
      else sfDir
    }
    ordered.foreach { case (_, fn) =>
      try materialize(fn(spark, warmDir))
      catch { case _: Throwable => () }
    }
    def clearCache(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      System.gc() // drain garbage outside the timed window
    }
    clearCache()
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    // Three timed passes, per-query minimum: single-run times on this VM
    // vary up to 2× from GC/scheduling noise (measured 12.7-22.8 s suite
    // totals on identical binaries); best-of-N is the standard way to
    // report the repeatable cost. The cache is cleared between passes so
    // each pass pays the same cold data work (intra-pass cache sharing
    // between queries is part of the engine design and kept). Every
    // `Caching.memoDf` entry lives for one cache generation, so each pass
    // also re-runs the memo builds: plan analysis, checkpointed
    // fixpoints (gx3's PageRank, the simhash components) and eager
    // pins. What still survives a pass is per-JVM state outside
    // the session cache: the `Similarity` centroid and codebook caches,
    // `Bpe` merge tables, `IvfIndex` centroids, `TermIndex.attach` roots
    // and the `TxSideTables` builds (st_curate_stream's stream run).
    //
    // A query that throws must be marked as an ERROR, not recorded as a
    // suspiciously-fast time (r7 logged two crashed queries at ~6 ms,
    // indistinguishable from well-optimized plans). Errored queries are
    // excluded from BOTH engines' totals so the headline ratio compares
    // only queries both engines completed.
    val qErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timedPass(): Map[String, (Double, Seq[Int])] = ordered.map { case (name, fn) =>
      var t = 0.0
      try {
        warmFn.foreach { w => clearCache(); materialize(w(spark, sfDir)) }
        counter.take(spark)
        val t0 = System.nanoTime()
        try materialize(fn(spark, sfDir))
        finally t = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        qErrors.getOrElseUpdate(name,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      name -> (t, counter.take(spark))
    }.toMap
    val passes = (1 to 3).map { _ =>
      val p = timedPass()
      clearCache()
      p
    }
    // The driver records only the LAST 2000 chars of output and parses the
    // JSON line out of that tail — a full per-query map (85 queries ×
    // full-precision doubles) overflows it, which is how BENCH_r02..r04
    // ended up with parsed:null. So: full detail goes on an early line
    // (readable in logs, allowed to be cut from the tail), and the final
    // line is a compact JSON capped under the tail budget, keeping the
    // slowest queries (the ones perf grading needs) and counting the rest
    // in queries_omitted. 3-decimal locale-fixed formatting throughout.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = ordered.collect {
      case (n, _) if !qErrors.contains(n) => n -> passes.map(_(n)._1).min
    }
    // Per-query DuckDB oracle times, measured back-to-back with the Spark
    // passes on the same host so host-load swings hit both engines (the
    // r4→r5 "regression" was load that only the Spark side recorded).
    // Shells out to the dev-tooling script; any failure (no python, no
    // duckdb — e.g. a bare production host) degrades to spark-only output.
    val oracleTimes: Map[String, Double] = {
      val script = new java.io.File("scripts/oracle_bench.py")
      if (!script.isFile) Map.empty
      else try {
        val tmp = java.nio.file.Files.createTempDirectory("graft-bench-oracle")
        val json = SparkEntry.oracleSql
          .filter { case (k, _) => only.isEmpty || only(k) }
          .toSeq.sortBy(_._1)
          .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
          .mkString("{", ",", "}")
        java.nio.file.Files.write(tmp.resolve("oracle_sql.json"),
          json.getBytes("UTF-8"))
        // hard deadline on the subprocess: a hung oracle run must not
        // stall the whole bench artifact — time out, kill, degrade
        val pb = new java.lang.ProcessBuilder(
          "python3", script.getPath, sfDir, tmp.toString, "2")
        pb.redirectErrorStream(true)
        val proc = pb.start()
        val buf = new StringBuilder
        val drain = new Thread(() => {
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(
            proc.getInputStream, "UTF-8"))
          var l = r.readLine()
          while (l != null) { buf.append(l).append('\n'); l = r.readLine() }
        })
        drain.setDaemon(true); drain.start()
        if (!proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)) {
          proc.destroyForcibly()
          throw new RuntimeException("oracle_bench.py timed out after 20 min")
        }
        drain.join(10000)
        if (proc.exitValue() != 0) throw new RuntimeException(
          s"oracle_bench.py exit ${proc.exitValue()}: " +
            buf.toString.linesIterator.toSeq.lastOption.getOrElse(""))
        val line = buf.toString.linesIterator.toSeq.reverse
          .find(l => l.startsWith("{") && l.endsWith("}"))
          .getOrElse("{}")
        // {"name":1.234,...} — flat string→double map, parsed by hand to
        // keep the bench main dependency-free
        """"([^"]+)":\s*(-?[0-9.eE+]+)""".r.findAllMatchIn(line)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch {
        case e: Exception =>
          // stderr, not stdout: the driver's 2k stdout tail must keep the
          // final JSON line; the cause still lands in the sbt console
          System.err.println(s"# oracle bench degraded to spark-only: $e")
          Map.empty
      }
    }
    val errJson = qErrors
      .map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, v) =>
      "\"" + k + "\":" + (oracleTimes.get(k) match {
        case Some(o) => "[" + f3(v) + "," + f3(o) + "]"
        case None => f3(v)
      })
    }.mkString("{", ",", "}")
    // Spark jobs/stages/tasks per query and pass: the fixed per-query
    // cost at small scale is actions and jobs, and pass 1 also shows the
    // one-time per-JVM builds the later passes reuse
    val jobDetail = ordered.map { case (n, _) =>
      "\"" + n + "\":" +
        passes.map(_(n)._2.mkString("[", ",", "]")).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query seconds of EVERY pass, not just the min: the cold pass 1
    // against the best-of-3, and the spread that tells cost from weather
    // (a flag that appears in one pass under identical code is weather)
    val passDetail = ordered.collect {
      case (n, _) if !qErrors.contains(n) =>
        "\"" + n + "\":[" + passes.map(p => f3(p(n)._1)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""# per-query detail (full, [spark_s, oracle_s]; then [jobs, stages, tasks] per pass; then seconds per pass): $detail $jobDetail $passDetail""")
    if (qErrors.nonEmpty)
      println(s"""# query ERRORS (excluded from all totals): $errJson""")
    // full per-query pairs as a FILE, out of the driver's 2k-tail budget.
    // Written only by FULL runs: a selective local iteration must not
    // clobber the committed full-suite detail with a 2-query fragment.
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_detail.json"),
        (s"""{"sf":"$sfDir","errors":$errJson,"pairs":$detail,""" +
          s""""passes":$passDetail,"jobs":$jobDetail}""" + "\n")
          .getBytes("UTF-8"))
      catch { case _: Exception => () }
    // chars for the queries map in the final line: the whole line must stay
    // well under the 2000-char tail even if the harness appends a trailing
    // "[success] Total time: ..." line after it (as sbt-run rounds do)
    val budget = 1000
    val bySlowest = results.sortBy(-_._2)
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    bySlowest.foreach { case (k, v) =>
      val ent = "\"" + k + "\":" + (oracleTimes.get(k) match {
        case Some(o) => "[" + f3(v) + "," + f3(o) + "]"
        case None => f3(v)
      })
      if (used + ent.length + 1 <= budget) { kept += ent; used += ent.length + 1 }
    }
    val qs = kept.mkString("{", ",", "}")
    val omitted = results.size - kept.size
    val total = results.map(_._2).sum
    // oracle_value: subtotal over queries that HAVE a DuckDB oracle —
    // the apples-to-apples number against the oracle-runtime baseline
    // (rows-only operators like the ANN scale paths have no DuckDB twin)
    val oracleKeys = SparkEntry.oracleSql.keySet
    val oracleTotal = results.collect { case (k, v) if oracleKeys(k) => v }.sum
    // duck_total: the measured back-to-back DuckDB runtime over the same
    // oracle-gated queries — the denominator of the headline ratio.
    // over2x: per-query outliers the aggregate gate cannot see. A query
    // is an outlier when spark > 2×oracle + 0.25 s absolute slack, AND
    // the oracle itself took ≥ 50 ms. Below that the twin measures the
    // engines' fixed floors, not plan quality: one Spark job round is
    // ~50-100 ms of scheduling that no plan change removes (and that
    // vanishes at real scale), so a 4 ms DuckDB twin can never be
    // "matched 2×" by ANY distributed engine. (The self-check ANN
    // oracles — llm_sim_ivf/llm_sim_pq — used to be metric-row
    // validations this floor had to excuse; since round 11 they run
    // the brute-force baseline as real oracle work and clear the gate
    // on their own.) Sub-floor queries are still fully visible in the
    // per-query detail (bench_detail.json and the queries map); this
    // gate exists to surface real plan regressions, not engine floors.
    // errored queries are excluded from the DuckDB side too, so the
    // headline spark-vs-duck ratio covers only queries both completed
    val duckTotal = oracleTimes
      .filter { case (k, o) => o >= 0 && !qErrors.contains(k) }.values.sum
    val over2xAll = results.collect {
      case (k, v) if oracleTimes.get(k)
          .exists(o => o >= 0.05 && v > 2 * o + 0.25) =>
        "\"" + k + "\":[" + f3(v) + "," + f3(oracleTimes(k)) + "]"
    }
    // bounded so a pathological run cannot blow the tail budget; the
    // full pair list is always in bench_detail.json
    val over2x = (if (over2xAll.size > 8)
      over2xAll.take(8) :+ s""""_more":${over2xAll.size - 8}"""
    else over2xAll).mkString("{", ",", "}")
    // pass_totals expose scheduling noise directly in the artifact: a
    // wide spread across passes means machine contention, not a
    // regression (single-run totals vary up to 2× on shared VMs).
    // warm_dir makes the numbers interpretable: warmup at the target dir
    // (no sf0.001 sibling) means the suite ran once untimed at full SF.
    val passTotals = passes.map(p => f3(p.values.map(_._1).sum)).mkString("[", ",", "]")
    // duck_n exposes how many queries the DuckDB side actually timed:
    // oracle_bench.py drops a query that errors in DuckDB from its
    // output, and a silent count mismatch would make the headline
    // spark-vs-duck ratio compare different query sets. duck_n <
    // oracle_n is a visible red flag in the artifact.
    val oracleN = results.count { case (k, _) => oracleKeys(k) }
    val duckN = oracleTimes.count { case (k, _) => !qErrors.contains(k) }
    // errored query NAMES in the final line (bounded): a crash must be a
    // visible artifact field, never a silent omission or a fast time
    val errNames = {
      val names = qErrors.keys.take(5).map(jsonString).toSeq
      (if (qErrors.size > 5) names :+ s""""+${qErrors.size - 5} more"""" else names)
        .mkString("[", ",", "]")
    }
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","oracle_value":${f3(oracleTotal)},"oracle_n":$oracleN,"duck_total":${f3(duckTotal)},"duck_n":$duckN,"n_errors":${qErrors.size},"q_errors":$errNames,"over2x":$over2x,"n_queries":${results.size},"queries_omitted":$omitted,"queries":$qs,"sf":"$sfDir","warm_dir":"$warmDir","pass_totals":$passTotals}"""
    // hard guarantee: the line the driver must parse fits its 2000-char tail
    // with ~150 chars of slack for any trailing harness output
    assert(line.length < 1850, s"bench JSON line too long: ${line.length}")
    // belt-and-braces for the driver contract: the same line also lands in a
    // fixed file, so a consumer that loses the stdout tail (or a logger that
    // prefixes it) can still read the summary. Full runs only, like
    // bench_detail.json — a selective local iteration must not clobber it.
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_line.json"), (line + "\n").getBytes("UTF-8"))
      catch { case _: Exception => () }
    println(line)
    spark.stop()
  }
}
