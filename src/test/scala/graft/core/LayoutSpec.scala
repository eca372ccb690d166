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

  test("zValue interleaves bin bits (x odd positions, y even)") {
    // x=0b011 → bits at positions 1,3 → 0b01010; y=0b101 → positions
    // 0,4 → 0b10001; z = 0b11011 = 27
    val z = Seq((3L, 5L)).toDF("bx", "by")
      .select(Layout.zValue(Seq(col("bx"), col("by")), 3).as("z"))
      .head.getLong(0)
    assert(z === 27L)
  }

  test("z-order keeps BOTH columns' per-file stats tight; linear sort only the first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val n = 20000L
    // two independent pseudo-uniform columns
    val df = spark.range(n).select(
      (col("id") * 2654435761L % 997).as("x"),
      (col("id") * 40503L % 991).as("y"))
    val files = 16
    Layout.writeZOrdered(df, s"$dir/z", Seq("x", "y"), files)
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/lin")
    // the skipping power a stats-driven reader gets: how many files'
    // [min, max] must be opened for a point predicate on the column
    def avgOverlap(path: String, c: String): Double = {
      val parts = new java.io.File(path).listFiles
        .filter(_.getName.endsWith(".parquet"))
      assert(parts.length === files)
      val ranges = parts.map { f =>
        val r = spark.read.parquet(f.toString).agg(min(c), max(c)).head
        (r.getLong(0), r.getLong(1))
      }
      val probes = (0 until 50).map(i => i * 991L / 50)
      probes.map(p => ranges.count { case (lo, hi) => lo <= p && p <= hi })
        .sum.toDouble / probes.size
    }
    val (zx, zy) = (avgOverlap(s"$dir/z", "x"), avgOverlap(s"$dir/z", "y"))
    val (lx, ly) = (avgOverlap(s"$dir/lin", "x"), avgOverlap(s"$dir/lin", "y"))
    // linear layout: x prunes perfectly, y stats are useless (every file
    // spans the whole y domain)
    assert(lx <= 2.0, s"linear x overlap $lx")
    assert(ly >= files * 0.8, s"linear y overlap $ly")
    // z-order: BOTH columns prune to a fraction of the file count
    assert(math.max(zx, zy) <= files / 2.0, s"z overlaps x=$zx y=$zy")
    assert(zy <= ly / 2.0, s"z y overlap $zy vs linear $ly")
    // row multiset preserved
    assert(spark.read.parquet(s"$dir/z").count() === n)
    assert(spark.read.parquet(s"$dir/z")
      .except(df).isEmpty && df.except(spark.read.parquet(s"$dir/z")).isEmpty)
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
