package graft.core

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100 TB deployment shape.
  *
  * - Bucketing: the file-doc ⋈ metadata / attribute joins repeat on the
  *   entity key for every incremental rebuild (SURVEY J2/ST4); writing
  *   both sides bucketed on that key makes the join exchange-free — the
  *   sort-merge join reads co-located buckets directly (spec asserts a
  *   plan with zero Exchange nodes).
  * - Salting: hot entity keys (a database with most of the assets —
  *   SURVEY §7.5.7) would route one shuffle partition most of the data;
  *   a salted join spreads each key over `salt` sub-partitions and
  *   replicates the (small) other side per salt value. AQE skew-join
  *   handles moderate skew automatically; salting is the deterministic
  *   fallback for the pathological keys.
  */
object Layout {

  /** Write `df` bucketed (and bucket-sorted) on `key` as a table at
    * `path` — both sides of a repeated equi-join written this way join
    * without any exchange. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Salted equi-join: every row of `skewed` gets one of `salt` salt
    * values; `other` is replicated once per salt value, so each
    * (key, salt) shuffle partition carries ~1/salt of a hot key.
    * Result is identical to `skewed.join(other, key)`. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salt: Int): DataFrame = {
    require(salt > 1, "salt must be > 1")
    val l = skewed.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
    val r = other.withColumn("_salt",
      explode(array((0 until salt).map(lit): _*)))
    l.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** Z-ORDER clustering (the Delta `OPTIMIZE ZORDER BY` / space-filling
    * curve layout): cluster rows so that EVERY listed column's min/max
    * footer stats are tight per file, not just the leading sort key's.
    * A linear sort on (x, y) gives perfect x-skipping and ZERO
    * y-skipping; interleaving the bit patterns of rank-normalized x and
    * y makes each output file cover a small tile of the (x, y) domain,
    * so a predicate on EITHER column prunes ~sqrt-of-files via ordinary
    * parquet row-group/footer stats — no custom read path at all
    * (Spark's parquet pushdown consumes the stats natively).
    *
    * Rank normalization uses `approxQuantile` bin boundaries (one
    * sketch pass, driver gets 2^bits-1 values per column — never rows),
    * so arbitrary value distributions cluster uniformly: the curve
    * position is computed from each value's QUANTILE bin, the
    * equal-frequency analogue of Delta's range-id approach. The bin
    * lookup is a codegen'd fold over the broadcast boundary array
    * (2^bits comparisons/row; bits=8 default = 256 — cheap next to the
    * shuffle it feeds), the z-value one integer expression, and the
    * layout one range exchange on that z-value. */
  def zValue(binCols: Seq[org.apache.spark.sql.Column], bits: Int)
      : org.apache.spark.sql.Column = {
    val n = binCols.length
    val terms = for {
      (bc, c) <- binCols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftrightunsigned(bc.cast("long"), i) % 2,
      i * n + (n - 1 - c))
    terms.reduce(_ + _)
  }

  /** The quantile-bin column for one z-dimension: the number of sketch
    * boundaries ≤ the value, 0 .. 2^bits-1. NULLs sort to bin 0. */
  private def quantileBin(c: org.apache.spark.sql.Column,
      bounds: Array[Double]): org.apache.spark.sql.Column =
    bounds.map(b => when(c.isNotNull && c >= b, 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))

  /** Returns `df` clustered along the z-curve over `zCols` into
    * `numFiles` range partitions (each internally z-sorted, so row
    * groups inherit the tile locality too). Write the result with
    * `.write.parquet(...)` — or feed it to any sink that preserves
    * partitioning. */
  /** The z-curve position column for `df`'s rows over `zCols` — the
    * composable piece: [[zOrder]] clusters a free-standing frame on it,
    * and the transaction log's OPTIMIZE ZORDER appends it to its own
    * (partition, z) range clustering. Runs the one `approxQuantile`
    * sketch pass here (driver receives only boundary arrays). */
  def zColumn(df: DataFrame, zCols: Seq[String], bits: Int = 8)
      : org.apache.spark.sql.Column = {
    require(zCols.nonEmpty, "zOrder needs at least one column")
    require(bits >= 1 && bits * zCols.length <= 62,
      s"bits * cols must fit a long, got $bits * ${zCols.length}")
    val nBins = 1 << bits
    val probes = (1 until nBins).map(_.toDouble / nBins).toArray
    // one sketch pass for ALL columns (GK quantile summaries merge
    // map-side; the driver receives only the boundary arrays)
    val allBounds = df.stat.approxQuantile(zCols.toArray, probes, 0.001)
    val bins = zCols.zip(allBounds).map { case (c, bs) =>
      quantileBin(col(c).cast("double"), bs.distinct.sorted)
    }
    zValue(bins, bits)
  }

  def zOrder(df: DataFrame, zCols: Seq[String], numFiles: Int,
      bits: Int = 8): DataFrame =
    df.withColumn("_z", zColumn(df, zCols, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")

  /** Z-order `df` and write it as plain parquet at `path`. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 8): Unit =
    zOrder(df, zCols, numFiles, bits)
      .write.mode("overwrite").parquet(path)

  /** O6 — opaque continuation tokens (common/dynamodb.py:98-144 encodes
    * LastEvaluatedKey as base64): round-trip the last row key. */
  def encodeToken(lastKey: String): String =
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(lastKey.getBytes(StandardCharsets.UTF_8))

  def decodeToken(token: String): String =
    new String(Base64.getUrlDecoder.decode(token), StandardCharsets.UTF_8)
}
