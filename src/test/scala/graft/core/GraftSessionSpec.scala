package graft.core

import org.apache.spark.sql.SparkSession

import graft.SparkSpec
import graft.authz.Abac

class GraftSessionSpec extends SparkSpec {

  test("configure builds a session with the engine settings and the ABAC extension active") {
    // force a NEW SparkSession over the existing context so the
    // extensions path (not the experimental hook) is what injects the
    // rule; restore the shared session afterwards
    spark.sparkContext // materialize the shared context before clearing
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.finish(GraftSession.configure(
        SparkSession.builder().master("local[4]")).getOrCreate())
      assert(s ne spark) // genuinely new session instance
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // governance active regardless of how the context was created:
      // the static extensions conf only applies to a fresh JVM context,
      // so finish() installs the rule through the runtime hook too
      val path = sf() + "/customer.parquet"
      val policy = Abac.Policy(allow = Seq(Seq(
        Abac.Criterion("c_mktsegment", "equals", "BUILDING"))))
      val expected = Abac.enforce(s.read.parquet(path), policy).count()
      assert(expected > 0)
      graft.plans.AbacInjection.govern(path, policy)
      try assert(s.read.parquet(path).count() === expected)
      finally graft.plans.AbacInjection.clear()
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("harness is the shipped profile plus the bench's measured settings") {
    spark.sparkContext
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.harness("3")
      assert(s ne spark)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.catalog.functionExists("graft_log2_fp"))
    } finally {
      spark.sparkContext.setLogLevel("ERROR")
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("shuffleWidth parses the session conf; the pure parse falls back") {
    assert(GraftSession.shuffleWidth(spark) ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // a non-numeric/invalid value must fall back, not throw (the r14
    // SkewGuard advice, now the library-wide contract)
    assert(GraftSession.parseWidth("32", 8) == 32)
    assert(GraftSession.parseWidth(" 200 ", 8) == 200)
    assert(GraftSession.parseWidth("auto", 8) == 8)
    assert(GraftSession.parseWidth("", 8) == 8)
    assert(GraftSession.parseWidth("0", 8) == 8)
    assert(GraftSession.parseWidth("-1", 8) == 8)
  }
}
