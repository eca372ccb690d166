package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TxLog

/** [[IvfIndex]] — the persistent, maintained IVF index: frozen
  * centroids, keyed-merge list maintenance, partition-pruned probes,
  * and exact parity with a one-shot index over the same corpus.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Clustered synthetic vectors: 8 well-separated centers + small
    * per-vector noise (deterministic xorshift). */
  private def vec(id: Long): Array[Float] = {
    val label = (id % 8).toInt
    Array.tabulate(64) { d =>
      val c0 = label * 64L + d
      val cm = c0 ^ (c0 >>> 3) ^ (c0 << 11)
      val n0 = id * 64L + d
      val nm = n0 ^ (n0 >>> 13) ^ (n0 << 7)
      ((math.floorMod(cm, 2001L) - 1000L) / 1200.0f +
        (math.floorMod(nm, 2001L) - 1000L) / 9000.0f)
    }
  }

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")

  private def fresh(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString + "/ivf"

  /** Give `twin` the same frozen centroid table as `root`. */
  private def copyCentroids(root: String, twin: String): Unit =
    TxLog.merge(spark, s"$twin/centroids",
      TxLog.read(spark, s"$root/centroids"),
      keyCol = "_docId", partitionCol = "_shard")

  private def hits(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("q_id", "rank", "cand_id").as[(Long, Int, Long)]
      .collect().toSet

  test("maintained index == one-shot index over the same corpus and centroids") {
    val corpus = (0L until 160L)
    val root = fresh("graft-ivf1")
    // build on two thirds, then MAINTAIN the rest in two batches
    IvfIndex.build(spark, root, vecs(corpus.filter(_ % 3 != 0)))
    IvfIndex.addVectors(spark, root, vecs(corpus.filter(i =>
      i % 3 == 0 && i % 2 == 0)))
    IvfIndex.addVectors(spark, root, vecs(corpus.filter(i =>
      i % 3 == 0 && i % 2 == 1)))
    // one-shot twin: same frozen centroid table, whole corpus at once
    val twin = fresh("graft-ivf1t")
    copyCentroids(root, twin)
    IvfIndex.addVectors(spark, twin, vecs(corpus))
    val q = vecs(0L until 6L)
    val a = hits(IvfIndex.search(spark, root, q, k = 5))
    val b = hits(IvfIndex.search(spark, twin, q, k = 5))
    assert(a == b, s"maintained index diverged from one-shot:\n$a\n$b")
    assert(a.nonEmpty)
  }

  test("adds are idempotent; removes are precise; search reflects both") {
    val root = fresh("graft-ivf2")
    IvfIndex.build(spark, root, vecs(0L until 120L))
    val q = vecs(Seq(3L))
    val before = hits(IvfIndex.search(spark, root, q, k = 5))
    // redelivered add batch: LWW keyed merge, nothing changes
    IvfIndex.addVectors(spark, root, vecs(40L until 80L))
    assert(hits(IvfIndex.search(spark, root, q, k = 5)) == before)
    // remove the current top hits; they must vanish from the results
    val removedIds = before.map(_._3).toSeq.sorted.take(2)
    IvfIndex.removeVectors(spark, root, vecs(removedIds))
    val after = hits(IvfIndex.search(spark, root, q, k = 5))
    assert(removedIds.forall(id => !after.exists(_._3 == id)),
      s"removed ids still ranked: $after")
    // and re-adding restores the original ranking exactly
    IvfIndex.addVectors(spark, root, vecs(removedIds))
    assert(hits(IvfIndex.search(spark, root, q, k = 5)) == before)
  }

  test("search reads only the probed lists (partition-pruned scan)") {
    val root = fresh("graft-ivf3")
    IvfIndex.build(spark, root, vecs(0L until 160L))
    val res = IvfIndex.search(spark, root, vecs(Seq(1L)), k = 5)
    val scanned = res.inputFiles.filter(_.contains("/lists/"))
    val all = TxLog.snapshot(spark, s"$root/lists").files.size
    assert(scanned.nonEmpty && scanned.length < all,
      s"probe must prune lists: ${scanned.length} of $all files")
    // nprobe of IvfProbes lists out of IvfCentroids
    val probedShards = scanned.map(f =>
      f.substring(f.indexOf("_shard=")).split("/")(0)).toSet
    assert(probedShards.size <= Similarity.IvfProbes,
      s"probed ${probedShards.size} lists > nprobe")
  }

  test("syncTx maintains the index from a vector table's change feed") {
    val root = fresh("graft-ivf4")
    val tbl = java.nio.file.Files.createTempDirectory("graft-ivf4t").toString
    def rows(ids: Seq[Long]) = vecs(ids).select(
      concat(lit("v#"), col("vec_id")).as("_docId"),
      lit("v").as("str_databaseid"), col("vec_id"), col("embedding"))
    TxLog.merge(spark, tbl, rows(0L until 100L))
    IvfIndex.build(spark, root,
      TxLog.read(spark, tbl).select("vec_id", "embedding"))
    var cursor = TxLog.snapshot(spark, tbl).version
    // churn: delete two vectors, add two new ones
    TxLog.merge(spark, tbl, rows(Seq(200L, 201L)),
      Seq("v#7", "v#8").toDF("_docId"))
    cursor = IvfIndex.syncTx(spark, tbl, root, cursor)
    val got = hits(IvfIndex.search(spark, root, vecs(Seq(0L)), k = 50))
    assert(!got.exists(r => r._3 == 7L || r._3 == 8L),
      s"deleted vectors still indexed: $got")
    // the fresh twin over the table's current rows agrees exactly
    val twin = fresh("graft-ivf4w")
    copyCentroids(root, twin)
    IvfIndex.addVectors(spark, twin,
      TxLog.read(spark, tbl).select("vec_id", "embedding"))
    assert(hits(IvfIndex.search(spark, twin, vecs(Seq(0L)), k = 50)) == got)
  }
}
