package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without any exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val li = Tables.load(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.load(spark, sf(), "orders")
      .select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(li, "b_lineitem", s"$dir/li", "l_orderkey", 8)
    Layout.writeBucketed(
      ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "b_orders", s"$dir/ord", "l_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(2000)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("salted join equals the plain join and shuffles on (key, salt)") {
    // hot key: one order id carries most rows
    val skewed = (1 to 5000).map(i => (if (i % 10 == 0) 7L else i.toLong, i))
      .toDF("k", "v")
    val dim = (1 to 5000).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val salted = Layout.saltedJoin(skewed, dim, "k", salt = 8)
    val plain = skewed.join(dim, Seq("k"))
    assert(salted.count() === plain.count())
    assert(salted.select(sum(col("v"))).as[Long].head ===
      plain.select(sum(col("v"))).as[Long].head)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), plan.take(1500))
  }

  test("page tokens round-trip arbitrary keys") {
    val keys = Seq("a1", "db:asset:path/with/slashes", "ключ-😀", "")
    keys.foreach { k =>
      assert(Layout.decodeToken(Layout.encodeToken(k)) === k)
    }
    // url-safe: no padding or '+'/'/' characters
    assert(!Layout.encodeToken("db:a/b+c?").exists(c => c == '+' || c == '/' || c == '='))
  }
}
