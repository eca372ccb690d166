package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Schemas
import perfbench.Gen._

/** Generated rows → DataFrames under the library's entity schemas. */
object Frames {

  private def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def assets(spark: SparkSession, e: Entities): DataFrame =
    df(spark, e.assets.values.toSeq.sortBy(_.assetId).map(a => Row(
      a.databaseId, a.assetId, a.assetName, a.description, a.assetType,
      a.bucketId, a.isDistributable, a.tags, s"${a.assetId}/", null, null,
      a.archived)), Schemas.assets)

  def files(spark: SparkSession, e: Entities): DataFrame =
    df(spark, e.files.map(f => Row(f.databaseId, f.assetId, f.fileKey,
      s"${f.assetId}${f.fileKey}", Buckets(0)._2, null, f.fileSize,
      "\"" + f.fileKey.hashCode.toHexString + "\"", "1",
      new Timestamp(1700000000000L), f.isPrimary, f.archived, null)),
      Schemas.files)

  def buckets(spark: SparkSession): DataFrame =
    df(spark, Buckets.map { case (id, n) => Row(id, n, "/", true) },
      Schemas.buckets)

  def metadata(spark: SparkSession, e: Entities): DataFrame =
    df(spark, e.meta.values.toSeq.sortBy(m => (m.assetId, m.key)).map(m =>
      Row(m.databaseId, m.assetId, "/", m.key, m.value, "string")),
      Schemas.metadata)

  def versions(spark: SparkSession, e: Entities): DataFrame =
    df(spark, e.versions.map(v => Row(v.databaseId, v.assetId, v.versionId,
      null, v.comment, new Timestamp(v.createdMs), v.current, "u-system")),
      Schemas.assetVersions)

  def links(spark: SparkSession, e: Entities): DataFrame =
    df(spark, e.links.map(l => Row(l.id, l.fromDb, l.fromAsset, l.toDb,
      l.toAsset, l.rel, null)), Schemas.assetLinks)

  /** parentChild edges in the (parent, child) shape of
    * `graft.graph.Traversal.descendants`. */
  def edges(spark: SparkSession, e: Entities): DataFrame = {
    import spark.implicits._
    e.links.filter(_.rel == "parentChild")
      .map(l => (l.fromAsset, l.toAsset)).toDF("parent", "child")
  }

  /** The constraints table in the reference's denormalized shape: one
    * row per granted group, id suffixed `#group#<g>` (the loader dedups
    * by base id). */
  def constraints(spark: SparkSession, cs: Seq[Constraint]): DataFrame = {
    import spark.implicits._
    def crit(c: Crit): String =
      if (c.values.nonEmpty)
        s"""{"field":"${c.field}","operator":"${c.op}","values":[${c.values.map(v => s""""$v"""").mkString(",")}]}"""
      else s"""{"field":"${c.field}","operator":"${c.op}","value":"${c.value}"}"""
    def crits(cs: Seq[Crit]): String =
      if (cs.isEmpty) null else cs.map(crit).mkString("[", ",", "]")
    val rows = cs.flatMap { c =>
      val perms = c.grants.map { case (g, p, t) =>
        s"""{"groupId":"$g","permission":"$p","permissionType":"$t"}"""
      }.mkString("[", ",", "]")
      c.grants.map(_._1).distinct.map(g => (s"${c.id}#group#$g", c.objectType,
        crits(c.and), crits(c.or), null: String, perms, "[]"))
    }
    rows.toDF("constraintId", "objectType", "criteriaAnd", "criteriaOr",
      "criteria", "groupPermissions", "userPermissions")
  }

  /** Columns the benchmark adds to the built asset docs so a
    * `TermIndex` can follow the doc table: a numeric doc id and the
    * scored fields joined the way the bm25 scan route tokenizes them. */
  def decorate(docs: DataFrame): DataFrame = docs
    .withColumn("doc_num", xxhash64(col("_docId")))
    .withColumn("bm25_text", concat_ws(" ",
      graft.api.SearchApi.ScoredFields.map(f => col(f._1)): _*))

  def assetDocs(spark: SparkSession, assets: DataFrame, e: Entities): DataFrame =
    decorate(graft.docs.DocBuilder.buildAssetDocs(assets, buckets(spark),
      metadata(spark, e), versions(spark, e), links(spark, e)))
}
