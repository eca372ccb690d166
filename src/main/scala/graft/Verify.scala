package graft
import java.nio.file.{Files, Paths}

import Bench.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names restrict the dump (local iteration);
    // the driver's 2-arg invocation always dumps everything. Unknown
    // names fail fast — a typo'd selective run must not exit green.
    val only = args.drop(2).toSet
    require((only -- SparkEntry.queries.keySet).isEmpty,
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).toSeq.sorted}")
    val spark = graft.core.GraftSession.harness(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as a visible error row, not a
    // silent omission (round 7 shrank 114→112 with no red flag): failures
    // collect into _errors.json beside oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v.take(2000))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
