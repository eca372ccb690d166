package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TxLog

class StreamBloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "k")

  /** Batch-mode truth: is_dup iff an earlier doc_id carries the same key. */
  private def exactTwin(rows: Seq[(Long, String)]): Map[Long, Boolean] = {
    val firstOf = rows.groupBy(_._2).map { case (k, g) => k -> g.map(_._1).min }
    rows.map { case (id, k) => id -> (firstOf(k) != id) }.toMap
  }

  test("cumulative flags across batches equal the batch-mode exact dedup") {
    val dir = Files.createTempDirectory("bloomstream").toString
    val b1 = Seq(1L -> "apple", 2L -> "pear", 3L -> "apple")
    val b2 = Seq(4L -> "pear", 5L -> "plum", 6L -> "plum", 7L -> "quince")
    val b3 = Seq(8L -> "apple", 9L -> "rhubarb", 10L -> "quince")
    val got = Seq(b1, b2, b3).flatMap { b =>
      StreamBloomDedup.processBatch(spark, docs(b: _*), dir)
        .select("doc_id", "is_dup").as[(Long, Boolean)].collect()
    }.toMap
    assert(got == exactTwin(b1 ++ b2 ++ b3))
  }

  test("screenBatch alone writes nothing: a crashed-before-fold batch re-screens identically") {
    val dir = Files.createTempDirectory("bloomscreen").toString
    val b1 = Seq(1L -> "apple", 2L -> "pear")
    StreamBloomDedup.processBatch(spark, docs(b1: _*), dir)
    val b2 = Seq(3L -> "apple", 4L -> "plum")
    // screen only — the simulated crash window between verdict and fold
    val first = StreamBloomDedup.screenBatch(spark, docs(b2: _*), dir)
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(first == Map(3L -> true, 4L -> false))
    // no state moved: the replayed screen sees the same world
    val replay = StreamBloomDedup.screenBatch(spark, docs(b2: _*), dir)
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(replay == first)
    // fold completes the batch; a further replay is then a no-op
    StreamBloomDedup.foldState(spark,
      StreamBloomDedup.screenBatch(spark, docs(b2: _*), dir), dir)
    assert(StreamBloomDedup.screenBatch(spark, docs(b2: _*), dir).isEmpty)
  }

  test("redelivered batch emits nothing and leaves state unchanged") {
    val dir = Files.createTempDirectory("bloomstream").toString
    val b = Seq(1L -> "a", 2L -> "b", 3L -> "a")
    assert(StreamBloomDedup.processBatch(spark, docs(b: _*), dir).count() == 3)
    val sizeBefore = TxLog.read(spark, s"$dir/key_index").count()
    val blobBefore = StreamBloomDedup.readBloom(spark, dir).get.bitSize()
    // at-least-once redelivery of the SAME batch
    assert(StreamBloomDedup.processBatch(spark, docs(b: _*), dir).count() == 0)
    assert(TxLog.read(spark, s"$dir/key_index").count() == sizeBefore)
    assert(StreamBloomDedup.readBloom(spark, dir).get.bitSize() == blobBefore)
  }

  test("a saturated 64-bit blob still yields exact flags (confirm join corrects)") {
    val dir = Files.createTempDirectory("bloomstream").toString
    val b1 = (0L until 100L).map(i => i -> s"k$i")
    val b2 = (100L until 160L).map(i => i -> s"k${i % 120}")
    val got = Seq(b1, b2).flatMap { b =>
      StreamBloomDedup.processBatch(spark, docs(b: _*), dir,
          estItems = 16, numBits = 64)
        .select("doc_id", "is_dup").as[(Long, Boolean)].collect()
    }.toMap
    assert(got == exactTwin((b1 ++ b2)))
  }

  test("standing blob answers membership for every folded key (no false negatives)") {
    val dir = Files.createTempDirectory("bloomstream").toString
    StreamBloomDedup.processBatch(spark, docs(1L -> "x", 2L -> "y"), dir)
    StreamBloomDedup.processBatch(spark, docs(3L -> "z"), dir)
    val bf = StreamBloomDedup.readBloom(spark, dir).get
    val seen = TxLog.read(spark, s"$dir/key_index").select("k").as[String].collect()
    assert(seen.length == 3)
    seen.foreach { k =>
      val h = docs(0L -> k).select(xxhash64(col("k"))).as[Long].head()
      assert(bf.mightContainLong(h), s"merged blob must contain $k")
    }
  }
}
