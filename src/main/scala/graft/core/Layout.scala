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

  /** O6 — opaque continuation tokens (common/dynamodb.py:98-144 encodes
    * LastEvaluatedKey as base64): round-trip the last row key. */
  def encodeToken(lastKey: String): String =
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(lastKey.getBytes(StandardCharsets.UTF_8))

  def decodeToken(token: String): String =
    new String(Base64.getUrlDecoder.decode(token), StandardCharsets.UTF_8)
}
