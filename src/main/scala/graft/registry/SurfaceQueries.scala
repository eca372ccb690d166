package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.query.{QueryCompiler, TextIndex}

/** Comments + tag-catalog + upload/auth entity query surfaces (VERDICT
  * r1 "What's missing" items 3-4; r6 item 1's Uploads/ApiKeys/Users
  * entities).
  *
  * Comments (`backend/backend/handlers/comments/commentService.py`):
  * a per-asset PK query over the comments table (PK `assetId`, SK
  * `assetVersionId:commentId`), keyset-paginated, with soft-deleted
  * comments excluded unless `showDeleted`; the per-version listing is a
  * begins_with prefix query on the SK (`:119-152`). Modeled on
  * `lineitem`: order = asset, line = comment, composite SK derived the
  * same way the reference concatenates `assetVersionId:commentId`.
  *
  * Tags (`backend/backend/handlers/tags/tagService.py`): the tag catalog
  * listing joins tags to their tagTypes and (for delete-protection,
  * `:162-224`) needs per-tag usage counts over assets. Modeled on the
  * `part` table's tag tokens (the same derivation `a1_facets_tags` uses).
  *
  * Scale shape: the comment listings are PK point scans — partition
  * pruning + parquet pushdown make them index-equivalent; the tag
  * catalog is one explode + one shuffle with map-side combine, and the
  * tagType dim joins broadcast.
  */
object SurfaceQueries {
  import QueryDef.sql

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** Long-form metadata KV table (f7's model: order = entity, line =
    * key, value = LWW'd quantity rendered 'qty-N'), MATERIALIZED
    * range-clustered on the value — the layout the indexed catch-all
    * path reads. Written once per (session, sf dir), like
    * [[graft.sources.Bucketing]]'s side tables. */
  private val kvDirs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  private def metadataKvDir(s: SparkSession, d: String): String =
    kvDirs.computeIfAbsent((s, d), { case (spark, dir) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val pid = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getName.replaceAll("[^A-Za-z0-9]", "")
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-mdkv-$digest-$pid").getPath
      if (!new java.io.File(out, "_SUCCESS").exists()) {
        t(spark, dir, "lineitem")
          .groupBy("l_orderkey", "l_linenumber")
          .agg(max(col("l_quantity").cast("int")).as("q"))
          .select(col("l_orderkey"), col("l_linenumber"),
            concat(lit("qty-"), col("q").cast("string")).as("v"))
          .repartitionByRange(8, col("v"))
          .write.mode("overwrite").parquet(out)
      }
      out
    })

  /** Comment rows modeled from lineitem: SK = 'v<partkey%4>:c<linenumber>',
    * body/date synthesized deterministically, soft-delete flag =
    * (l_returnflag = 'R'). */
  private def comments(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      col("l_orderkey").as("asset_id"),
      concat(lit("v"), (col("l_partkey") % 4).cast("string"),
        lit(":c"), col("l_linenumber").cast("string")).as("sk"),
      concat(lit("note-"), col("l_quantity").cast("int").cast("string"))
        .as("body"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("date_created"),
      col("l_suppkey").as("owner_id"),
      (col("l_returnflag") === "R").as("deleted"))

  private val CommentsSqlCte =
    """cm AS (
      |  SELECT l_orderkey AS asset_id,
      |         'v' || CAST(l_partkey % 4 AS VARCHAR) ||
      |           ':c' || CAST(l_linenumber AS VARCHAR) AS sk,
      |         'note-' || CAST(CAST(l_quantity AS INT) AS VARCHAR) AS body,
      |         strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS date_created,
      |         l_suppkey AS owner_id,
      |         (l_returnflag = 'R') AS deleted
      |  FROM lineitem
      |)"""

  val defs: Seq[QueryDef] = Seq(

    // ── Export accounting (assetExportService shape): per-asset file
    //    counts + byte totals AND the grand total in ONE aggregation
    //    pass via ROLLUP — one shuffle computes every level (the
    //    reference iterates assets and sums client-side). Money-sum
    //    parity per the oracle rules: decimal-exact sum, double at the
    //    edge; TOTAL row via coalesce (engines disagree on NULL sort
    //    order, so the label is part of the key).
    sql("ex1_export_rollup",
      """SELECT COALESCE(CAST(l_orderkey AS VARCHAR), 'TOTAL') AS asset_id,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_bytes
        |FROM lineitem WHERE l_orderkey < 50
        |GROUP BY ROLLUP(l_orderkey)
        |ORDER BY asset_id""")(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") < 50)
        .rollup(col("l_orderkey"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("total_bytes"))
        .select(coalesce(col("l_orderkey").cast("string"), lit("TOTAL"))
          .as("asset_id"), col("n_files"), col("total_bytes"))
        .orderBy("asset_id")),

    // ── F3 scale path: substring search through the trigram-postings
    //    side table — identical rows to the full contains scan, but only
    //    candidate FILES are read (TextIndexSpec asserts the pruning;
    //    at one file per sf dir the gate query proves equivalence).
    sql("f3_wildcard_indexed",
      """SELECT doc_id, lang FROM documents
        |WHERE contains(lower(text), 'dup')
        |ORDER BY doc_id""")(
      (s, d) => TextIndex.prunedSearch(s, s"$d/documents.parquet", "text", "dup")
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // ── F7 scale path: the metadata VALUE CATCH-ALL (`MD_._value`,
    //    search.py:787,893-899 — the wildcard a user types against "any
    //    metadata value") served through the trigram-postings index
    //    instead of a full scan of the long-form KV table. The KV table
    //    is materialized range-clustered on the value (the layout a
    //    metadata indexer would maintain), so the literal's trigrams
    //    prune to the files whose value range can match — TextIndexSpec
    //    asserts the pruning; this gate proves row-equivalence to the
    //    full scan.
    //    Identical rows to filtering all values with the wildcard.
    sql("f7_metadata_kv_indexed",
      """WITH kv AS (
        |  SELECT l_orderkey, l_linenumber,
        |         'qty-' || CAST(MAX(CAST(l_quantity AS INTEGER)) AS VARCHAR)
        |           AS v
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM kv WHERE contains(v, 'qty-4')
        |GROUP BY l_orderkey ORDER BY l_orderkey""")(
      (s, d) => {
        val kvDir = metadataKvDir(s, d)
        // ONE range exchange serves both the aggregate's clustering and
        // the final global order (RangePartitioning satisfies
        // ClusteredDistribution and OrderedDistribution on the same
        // key), where groupBy + orderBy would hash-exchange the hits
        // and then range-exchange the aggregate output again
        TextIndex.prunedSearch(s, kvDir, "v", "qty-4")
          .repartitionByRange(col("l_orderkey"))
          .groupBy("l_orderkey").agg(count(lit(1)).as("n_hits"))
          .orderBy("l_orderkey")
      }),

    // ── Comments: per-asset listing, keyset-paged on the SK, deleted
    //    excluded (get_comments :86-117 + showDeleted handling :234-241).
    sql("cm1_comments_keyset",
      s"""WITH $CommentsSqlCte
        |SELECT asset_id, sk, body, date_created, owner_id FROM cm
        |WHERE asset_id = 7 AND NOT deleted AND sk > 'v1:c2'
        |ORDER BY sk LIMIT 3""")(
      (s, d) => QueryCompiler.keysetPage(
        comments(s, d)
          .filter(col("asset_id") === 7 && !col("deleted"))
          .select("asset_id", "sk", "body", "date_created", "owner_id"),
        col("sk"), Some(lit("v1:c2")), pageSize = 3)),

    // ── Comments: per-version listing = begins_with prefix query on the
    //    composite SK (get_comments_version :119-152).
    sql("cm2_comments_version_prefix",
      s"""WITH $CommentsSqlCte
        |SELECT asset_id, sk, body, owner_id, deleted FROM cm
        |WHERE asset_id <= 20 AND sk LIKE 'v2:%'
        |ORDER BY asset_id, sk""")(
      (s, d) => comments(s, d)
        .filter(col("asset_id") <= 20 && col("sk").startsWith("v2:"))
        .select("asset_id", "sk", "body", "owner_id", "deleted")
        .orderBy("asset_id", "sk")),

    // ── Asset-link get with BOTH-endpoint authorization + link metadata
    //    (assetLinksService.py:164-206: a link is visible only when the
    //    caller passes the permission check on BOTH linked assets;
    //    per-link metadata rows `:135-157` travel with it). Set-wise:
    //    links ⋈ policy-enforced from-endpoints ⋈ policy-enforced
    //    to-endpoints — the endpoint filters are real Abac policies, so
    //    the authz predicates push into both endpoint scans.
    sql("j11_link_both_endpoint_authz",
      """WITH links AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS link_id,
        |         l_orderkey AS from_id, l_partkey AS to_id,
        |         l_returnflag AS relationship,
        |         'qty=' || CAST(CAST(l_quantity AS INT) AS VARCHAR) ||
        |           ';ship=' || strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')
        |           AS link_md
        |  FROM lineitem WHERE l_orderkey < 300
        |)
        |SELECT link_id, from_id, to_id, relationship, link_md
        |FROM links
        |JOIN orders o ON o.o_orderkey = from_id AND o.o_orderstatus = 'O'
        |JOIN part p ON p.p_partkey = to_id
        |  AND p.p_brand LIKE 'Brand#1%'
        |ORDER BY link_id""")(
      (s, d) => {
        val links = t(s, d, "lineitem")
          .filter(col("l_orderkey") < 300)
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("link_id"),
            col("l_orderkey").as("from_id"), col("l_partkey").as("to_id"),
            col("l_returnflag").as("relationship"),
            concat(lit("qty="), col("l_quantity").cast("int").cast("string"),
              lit(";ship="), date_format(col("l_shipdate"), "yyyy-MM-dd"))
              .as("link_md"))
        // the endpoint visibility checks are REAL policies — compiled to
        // pushed predicates on each endpoint scan, exactly the F11 path
        val fromAuth = graft.authz.Abac.enforce(t(s, d, "orders"),
          graft.authz.Abac.Policy(allow = Seq(Seq(
            graft.authz.Abac.Criterion("o_orderstatus", "equals", "O")))))
          .select(col("o_orderkey").as("from_id"))
        val toAuth = graft.authz.Abac.enforce(t(s, d, "part"),
          graft.authz.Abac.Policy(allow = Seq(Seq(
            graft.authz.Abac.Criterion("p_brand", "starts_with", "Brand#1")))))
          .select(col("p_partkey").as("to_id"))
        links.join(fromAuth, "from_id").join(toAuth, "to_id")
          .select("link_id", "from_id", "to_id", "relationship", "link_md")
          .orderBy("link_id")
      }),

    // ── Subscriptions: the listing surface (subscriptionService.py:78-137)
    //    — subscriptions grouped per entity with enrichment from the
    //    entity table (the reference's per-id asset-name batch get is the
    //    same join, done set-wise). Subscription rows are synthesized
    //    deterministically from customer (both engines see identical
    //    rows): every third customer subscribes to entity c_custkey % 300.
    sql("sb1_subscription_listing",
      """WITH subs AS (
        |  SELECT c_custkey % 300 AS entity_id, c_name AS subscriber
        |  FROM customer WHERE c_custkey % 3 = 0
        |), grouped AS (
        |  SELECT entity_id,
        |         array_to_string(list_sort(list(subscriber)), ',') AS subscribers,
        |         CAST(count(*) AS BIGINT) AS n_subscribers
        |  FROM subs GROUP BY entity_id
        |)
        |SELECT g.entity_id, g.subscribers, g.n_subscribers,
        |       o.o_orderpriority AS entity_value
        |FROM grouped g JOIN orders o ON o.o_orderkey = g.entity_id
        |ORDER BY g.entity_id""")(
      (s, d) => {
        val subs = t(s, d, "customer")
          .filter(col("c_custkey") % 3 === 0)
          .select((col("c_custkey") % 300).as("entity_id"),
            col("c_name").as("subscriber"))
        val grouped = subs.groupBy("entity_id")
          .agg(array_join(sort_array(collect_list(col("subscriber"))), ",")
              .as("subscribers"),
            count(lit(1)).as("n_subscribers"))
        grouped.join(t(s, d, "orders")
            .select(col("o_orderkey").as("entity_id"),
              col("o_orderpriority").as("entity_value")),
          "entity_id")
          .select("entity_id", "subscribers", "n_subscribers", "entity_value")
          .orderBy("entity_id")
      }),

    // ── Subscriptions: notification dispatch, batch twin of the
    //    streaming fan-out (subscriptionService.py:139-226 — SNS publish
    //    per subscriber when the subscribed event hits the entity).
    //    'Version change' events := purchase events; entity = event's
    //    props.k (the same typed-JSON access path C5 uses).
    sql("sb2_notification_dispatch",
      """WITH subs AS (
        |  SELECT c_custkey % 300 AS entity_id, c_name AS subscriber
        |  FROM customer WHERE c_custkey % 3 = 0
        |), ev AS (
        |  SELECT event_id,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 300
        |           AS entity_id
        |  FROM events WHERE event_type = 'purchase' AND event_id < 500
        |)
        |SELECT ev.event_id, ev.entity_id, s.subscriber
        |FROM ev JOIN subs s USING (entity_id)
        |ORDER BY event_id, subscriber""")(
      (s, d) => {
        val subs = t(s, d, "customer")
          .filter(col("c_custkey") % 3 === 0)
          .select((col("c_custkey") % 300).as("entity_id"),
            col("c_name").as("subscriber"))
        val ev = t(s, d, "events")
          .filter(col("event_type") === "purchase" && col("event_id") < 500)
          .select(col("event_id"),
            (get_json_object(col("props"), "$.k").cast("long") % 300)
              .as("entity_id"))
        graft.streaming.Subscriptions.dispatch(ev, subs)
          .orderBy("event_id", "subscriber")
      }),

    // ── Notification message build (`handlers/sendEmail/sendEmail.py:
    //    48-64`): the subject and body the dispatcher publishes per
    //    subscriber, reproduced BYTE-IDENTICALLY on both engines
    //    (including the reference template's leading newline, 4-space
    //    indents, and the trailing space after "occured. "). The body is
    //    emitted as its md5 so the row stays single-line while still
    //    pinning every byte of the template. Entities carry
    //    asset_name/version the way sendEmail reads them off the asset
    //    row. Scale shape: pure projection over the dispatch join —
    //    nothing new exchanges beyond sb2's plan.
    sql("sb3_notification_format",
      """WITH subs AS (
        |  SELECT c_custkey % 300 AS entity_id, c_name AS subscriber
        |  FROM customer WHERE c_custkey % 3 = 0
        |), ev AS (
        |  SELECT event_id,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 300
        |           AS entity_id
        |  FROM events WHERE event_type = 'purchase' AND event_id < 500
        |), disp AS (
        |  SELECT ev.event_id, ev.entity_id, s.subscriber,
        |         'asset-' || CAST(ev.entity_id AS VARCHAR) AS asset_name,
        |         'v' || CAST(ev.entity_id % 7 AS VARCHAR) AS ver
        |  FROM ev JOIN subs s USING (entity_id)
        |)
        |SELECT event_id, subscriber,
        |       '[' || asset_name || '] - File or Asset Changed (' || ver
        |         || ')' AS subject,
        |       md5(e'\n    Dear Subscriber,\n\n    We are excited to'
        |         || ' inform you that a change in a file or asset version'
        |         || ' of ' || asset_name || e' has occured. \n\n'
        |         || '    Current Version Number: ' || ver
        |         || e'\n\n    Thank you for staying updated!\n\n'
        |         || e'    Best Regards,\n    VAMS Automated System\n    ')
        |         AS body_md5
        |FROM disp ORDER BY event_id, subscriber""")(
      (s, d) => {
        val subs = t(s, d, "customer")
          .filter(col("c_custkey") % 3 === 0)
          .select((col("c_custkey") % 300).as("entity_id"),
            col("c_name").as("subscriber"))
        val ev = t(s, d, "events")
          .filter(col("event_type") === "purchase" && col("event_id") < 500)
          .select(col("event_id"),
            (get_json_object(col("props"), "$.k").cast("long") % 300)
              .as("entity_id"))
        val disp = graft.streaming.Subscriptions.dispatch(ev, subs)
          .withColumn("asset_name",
            concat(lit("asset-"), col("entity_id").cast("string")))
          .withColumn("ver",
            concat(lit("v"), (col("entity_id") % 7).cast("string")))
        disp.select(col("event_id"), col("subscriber"),
            concat(lit("["), col("asset_name"),
              lit("] - File or Asset Changed ("), col("ver"), lit(")"))
              .as("subject"),
            md5(concat(
              lit("\n    Dear Subscriber,\n\n    We are excited to inform" +
                " you that a change in a file or asset version of "),
              col("asset_name"),
              lit(" has occured. \n\n    Current Version Number: "),
              col("ver"),
              lit("\n\n    Thank you for staying updated!\n\n" +
                "    Best Regards,\n    VAMS Automated System\n    ")))
              .as("body_md5"))
          .orderBy("event_id", "subscriber")
      }),

    // ── Version diff: the set comparison behind version revert/creation
    //    (assetVersions.py:399-470 validates and copies exactly the
    //    files that differ between the target version's stored file list
    //    and the current state). Full-outer join of two version file
    //    sets on (asset, fileKey), rows classified added / removed /
    //    changed / unchanged by presence + etag. One shuffle on the
    //    composite key; at 100 TB both sides partition-prune to the
    //    asset's own partition first.
    sql("j12_version_diff",
      """WITH v1 AS (
        |  SELECT l_orderkey AS asset_id, 'f' || CAST(l_linenumber AS VARCHAR) AS file_key,
        |         md5(CAST(CAST(l_quantity AS INT) AS VARCHAR)) AS etag
        |  FROM lineitem WHERE l_orderkey < 100 AND l_linenumber <= 3
        |), v2 AS (
        |  SELECT l_orderkey AS asset_id, 'f' || CAST(l_linenumber AS VARCHAR) AS file_key,
        |         md5(CAST(CAST(l_extendedprice AS INT) AS VARCHAR)) AS etag
        |  FROM lineitem WHERE l_orderkey < 100 AND l_linenumber >= 2
        |)
        |SELECT COALESCE(v1.asset_id, v2.asset_id) AS asset_id,
        |       COALESCE(v1.file_key, v2.file_key) AS file_key,
        |       CASE WHEN v2.etag IS NULL THEN 'removed'
        |            WHEN v1.etag IS NULL THEN 'added'
        |            WHEN v1.etag <> v2.etag THEN 'changed'
        |            ELSE 'unchanged' END AS change
        |FROM v1 FULL OUTER JOIN v2
        |  ON v1.asset_id = v2.asset_id AND v1.file_key = v2.file_key
        |ORDER BY asset_id, file_key""")(
      (s, d) => {
        def ver(maxLine: Boolean, etagCol: org.apache.spark.sql.Column) =
          t(s, d, "lineitem")
            .filter(col("l_orderkey") < 100 &&
              (if (maxLine) col("l_linenumber") <= 3 else col("l_linenumber") >= 2))
            .select(col("l_orderkey").as("asset_id"),
              concat(lit("f"), col("l_linenumber").cast("string")).as("file_key"),
              md5(etagCol.cast("int").cast("string")).as("etag"))
        val v1 = ver(maxLine = true, col("l_quantity"))
        val v2 = ver(maxLine = false, col("l_extendedprice"))
          .withColumnRenamed("etag", "etag2")
        v1.join(v2, Seq("asset_id", "file_key"), "full_outer")
          .select(col("asset_id"), col("file_key"),
            when(col("etag2").isNull, "removed")
              .when(col("etag").isNull, "added")
              .when(col("etag") =!= col("etag2"), "changed")
              .otherwise("unchanged").as("change"))
          // persist before the global sort (r14 recipe: the range
          // sampler otherwise re-executes the uncached tail)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("asset_id", "file_key")
      }),

    // ── Tag catalog: tags ⋈ tagType dim + usage counts (the listing of
    //    handle_get_request :226-277 and the in-use check of
    //    delete_tag :162-224 in one surface). One exchange for the tag
    //    counts (map-side combined), broadcast join for the type dim.
    //    SQL-SPEC NOTE: the oracle's count(DISTINCT p_partkey) in
    //    `types` is implemented as count(*) — valid ONLY under the
    //    TPC-H PK contract that p_partkey is unique in part (which the
    //    generators honor). A part table with duplicate keys would make
    //    the Spark side diverge from this declared SQL; if that
    //    contract ever weakens, switch back to countDistinct.
    sql("tg1_tag_catalog",
      """WITH tags AS (
        |  SELECT unnest(regexp_split_to_array(p_type, ' ')) AS tag_name,
        |         p_brand, p_size
        |  FROM part
        |), catalog AS (
        |  SELECT tag_name, min(p_brand) AS tag_type,
        |         CAST(count(*) AS BIGINT) AS n_assets,
        |         CAST(count(DISTINCT p_size) AS BIGINT) AS n_sizes
        |  FROM tags GROUP BY tag_name
        |), types AS (
        |  SELECT p_brand AS tag_type,
        |         CAST(count(DISTINCT p_partkey) AS BIGINT) AS type_assets
        |  FROM part GROUP BY p_brand
        |)
        |SELECT c.tag_name, c.tag_type, c.n_assets, c.n_sizes,
        |       t.type_assets
        |FROM catalog c JOIN types t USING (tag_type)
        |ORDER BY c.tag_name""")(
      (s, d) => {
        // ONE range exchange on tag_name serves the catalog aggregate's
        // clustering AND the final global order (same shape as
        // f7_metadata_kv_indexed): groupBy + orderBy would hash-exchange
        // the tags and then range-exchange the aggregate output again
        val exploded = t(s, d, "part")
          .select(explode(split(col("p_type"), " ")).as("tag_name"),
            col("p_brand"), col("p_size"))
          .repartitionByRange(col("tag_name"))
        val catalog = exploded.groupBy("tag_name")
          .agg(min("p_brand").as("tag_type"),
            count(lit(1)).as("n_assets"),
            countDistinct("p_size").as("n_sizes"))
        // p_partkey is the table's unique key, so the oracle's
        // count(DISTINCT p_partkey) per brand is exactly count(*) —
        // a plain map-side-combined count, no distinct machinery
        val types = t(s, d, "part").groupBy(col("p_brand").as("tag_type"))
          .agg(count(lit(1)).as("type_assets"))
        catalog.join(broadcast(types), "tag_type")
          .select("tag_name", "tag_type", "n_assets", "n_sizes",
            "type_assets")
          .orderBy("tag_name")
      }),

    // ── Uploads: multipart part reconciliation
    //    (uploadFile.py:896-941 — expected part numbers vs uploaded
    //    parts; mismatch reports the sorted missing/extra part lists
    //    and yields no size; complete sums the part sizes). Upload
    //    records modeled on orders (expected part plan = o_orderkey%5+2,
    //    the calculate_num_parts :90-104 output), received parts on
    //    lineitem (l_linenumber = PartNumber, part size =
    //    trunc(l_extendedprice)). Scale shape: one co-keyed shuffle
    //    (orders ⋈ lineitem on orderkey) + a map-side set comparison —
    //    no explode of the expected range ever hits an exchange.
    sql("up1_upload_reconcile",
      """WITH ups AS (
        |  SELECT o_orderkey AS upload_id,
        |         'a' || CAST(o_custkey % 50 AS VARCHAR) AS asset_id,
        |         o_orderkey % 5 + 2 AS expected_n
        |  FROM orders WHERE o_orderkey < 400
        |), parts AS (
        |  SELECT l_orderkey AS upload_id,
        |         list_sort(list(DISTINCT l_linenumber)) AS present,
        |         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
        |           AS sz
        |  FROM lineitem WHERE l_orderkey < 400 GROUP BY 1
        |), recon AS (
        |  SELECT u.upload_id, u.asset_id, u.expected_n,
        |         coalesce(array_to_string(list_filter(range(1, u.expected_n + 1),
        |           x -> NOT list_contains(p.present, x)), ','), '') AS missing_parts,
        |         coalesce(array_to_string(list_filter(p.present,
        |           x -> x > u.expected_n OR x < 1), ','), '') AS extra_parts,
        |         p.sz
        |  FROM ups u JOIN parts p USING (upload_id)
        |)
        |SELECT upload_id, asset_id, expected_n,
        |       CASE WHEN missing_parts = '' AND extra_parts = ''
        |            THEN 'complete' ELSE 'part_mismatch' END AS status,
        |       missing_parts, extra_parts,
        |       CASE WHEN missing_parts = '' AND extra_parts = ''
        |            THEN sz ELSE 0 END AS total_size
        |FROM recon ORDER BY upload_id""")(
      (s, d) => {
        val ups = t(s, d, "orders").filter(col("o_orderkey") < 400)
          .select(col("o_orderkey").as("upload_id"),
            concat(lit("a"), (col("o_custkey") % 50).cast("string"))
              .as("asset_id"),
            (col("o_orderkey") % 5 + 2).as("expected_n"))
        val parts = t(s, d, "lineitem").filter(col("l_orderkey") < 400)
          .groupBy(col("l_orderkey").as("upload_id"))
          .agg(sort_array(collect_set(col("l_linenumber").cast("long")))
              .as("present"),
            sum(floor(col("l_extendedprice")).cast("long")).as("sz"))
        val strCsv = (a: Column) =>
          array_join(transform(a, x => x.cast("string")), ",")
        val recon = ups.join(parts, "upload_id")
          .withColumn("expected", sequence(lit(1L), col("expected_n")))
          .withColumn("missing_parts",
            strCsv(array_except(col("expected"), col("present"))))
          .withColumn("extra_parts",
            strCsv(array_except(col("present"), col("expected"))))
        val complete =
          col("missing_parts") === "" && col("extra_parts") === ""
        recon.select(col("upload_id"), col("asset_id"), col("expected_n"),
            when(complete, "complete").otherwise("part_mismatch")
              .as("status"),
            col("missing_parts"), col("extra_parts"),
            when(complete, col("sz")).otherwise(0L).as("total_size"))
          .orderBy("upload_id")
      }),

    // ── S11: multipart upload completion — the analytic remainder of
    //    the byte-transport handler (uploadFile.py): part-inventory
    //    verification (:897-941, the same check up1 reconciles), the
    //    7-day upload TTL sweep (:59 UPLOAD_EXPIRATION_DAYS, :1011
    //    expiresAt = createdAt + 7d; age_days models days since the
    //    upload initialized, so expired ⟺ age_days ≥ 7 — expired
    //    uploads are abort candidates), and assembled-object integrity
    //    via the composite
    //    ETag. `etag_surrogate` is the MD5 of the CONCATENATED HEX part
    //    digests — the oracle-hashable stand-in for the true S3
    //    algorithm (MD5 over the concatenated BINARY digests), which
    //    `Codecs.multipartETag` implements and `CodecsSpec` pins against
    //    S3-reference vectors (DuckDB's md5 is VARCHAR-only, so the
    //    binary form can't be replayed in the oracle). Presigned-URL
    //    issuance itself stays a non-goal (pure transport, no analytic
    //    content). Scale: two partial-aggregated groupBys on upload_id
    //    + a broadcastable dim join — no windows, no skew (parts per
    //    upload ≤ 10 000 by S3's own limit).
    sql("s11_multipart_complete",
      """WITH ups AS (
        |  SELECT o_orderkey AS upload_id,
        |         'a' || CAST(o_custkey % 50 AS VARCHAR) AS asset_id,
        |         o_orderkey % 5 + 2 AS expected_n,
        |         o_orderkey % 10 AS age_days
        |  FROM orders WHERE o_orderkey < 400
        |), p0 AS (
        |  SELECT l_orderkey AS upload_id, l_linenumber AS pn,
        |         min(l_returnflag || l_linestatus ||
        |             CAST(l_partkey AS VARCHAR)) AS content
        |  FROM lineitem WHERE l_orderkey < 400 GROUP BY 1, 2
        |), parts AS (
        |  SELECT upload_id,
        |         list_sort(list(CAST(pn AS BIGINT))) AS present,
        |         string_agg(md5(content), '' ORDER BY pn) AS cat,
        |         CAST(COUNT(*) AS BIGINT) AS n_parts,
        |         CAST(SUM(length(content)) AS BIGINT) AS sz
        |  FROM p0 GROUP BY 1
        |), recon AS (
        |  SELECT u.upload_id, u.asset_id, u.age_days >= 7 AS expired,
        |         p.present = range(1, u.expected_n + 1) AS complete,
        |         p.cat, p.n_parts, p.sz
        |  FROM ups u JOIN parts p USING (upload_id)
        |)
        |SELECT upload_id, asset_id,
        |       CASE WHEN expired THEN 'expired'
        |            WHEN complete THEN 'complete'
        |            ELSE 'incomplete' END AS status,
        |       CASE WHEN complete AND NOT expired
        |            THEN md5(cat) || '-' || CAST(n_parts AS VARCHAR)
        |       END AS etag_surrogate,
        |       CASE WHEN complete AND NOT expired THEN sz ELSE 0 END
        |         AS total_size
        |FROM recon ORDER BY upload_id""")(
      (s, d) => {
        val ups = t(s, d, "orders").filter(col("o_orderkey") < 400)
          .select(col("o_orderkey").as("upload_id"),
            concat(lit("a"), (col("o_custkey") % 50).cast("string"))
              .as("asset_id"),
            (col("o_orderkey") % 5 + 2).as("expected_n"),
            (col("o_orderkey") % 10).as("age_days"))
        val p0 = t(s, d, "lineitem").filter(col("l_orderkey") < 400)
          .groupBy(col("l_orderkey").as("upload_id"),
            col("l_linenumber").cast("long").as("pn"))
          .agg(min(concat(col("l_returnflag"), col("l_linestatus"),
            col("l_partkey").cast("string"))).as("content"))
        // ONE sorted collect carries part number, digest and size; the
        // digest concatenation and byte total are narrow array folds
        val parts = p0
          .select(col("upload_id"),
            struct(col("pn"), md5(col("content")).as("h"),
              length(col("content")).cast("long").as("b")).as("e"))
          .groupBy("upload_id")
          .agg(sort_array(collect_list(col("e"))).as("arr"))
          .select(col("upload_id"),
            transform(col("arr"), e => e.getField("pn")).as("present"),
            array_join(transform(col("arr"), e => e.getField("h")), "")
              .as("cat"),
            size(col("arr")).cast("long").as("n_parts"),
            aggregate(col("arr"), lit(0L),
              (a, e) => a + e.getField("b")).as("sz"))
        val expired = col("age_days") >= 7
        val complete = col("present") === sequence(lit(1L), col("expected_n"))
        // both sides are bounded by the < 400 key filter: broadcast the
        // upload-dim side instead of shuffling both (scale-safe — the
        // bound holds at any SF)
        broadcast(ups).join(parts, "upload_id")
          .select(col("upload_id"), col("asset_id"),
            when(expired, "expired").when(complete, "complete")
              .otherwise("incomplete").as("status"),
            when(complete && !expired,
              concat(md5(col("cat")), lit("-"), col("n_parts").cast("string")))
              .as("etag_surrogate"),
            when(complete && !expired, col("sz")).otherwise(0L)
              .as("total_size"))
          // bounded output (< 400 uploads) — single-partition sort
          .repartition(1).sortWithinPartitions("upload_id")
      }),

    // ── API keys: the authorizer's key-state resolution rolled up per
    //    user (apiKeyService.py:145-175 stores sha256 hash + isActive +
    //    expiresAt; apiGatewayAuthorizerHttp.py:318-336 rejects inactive
    //    FIRST, then expired — '' = never expires). Keys modeled on
    //    customer; the validation instant is pinned to 1995-06-01 so
    //    both engines resolve the same states. Scale shape: one
    //    map-side state classification + one shuffle on user_id.
    sql("ak1_apikey_auth",
      """WITH keys AS (
        |  SELECT 'key-' || CAST(c_custkey AS VARCHAR) AS api_key_id,
        |         'u' || CAST(c_custkey % 97 AS VARCHAR) AS user_id,
        |         (c_custkey % 7 <> 0) AS is_active,
        |         CASE WHEN c_custkey % 5 = 0 THEN ''
        |              ELSE strftime(DATE '1995-01-01'
        |                + CAST(c_custkey % 900 AS INT), '%Y-%m-%d') END
        |           AS expires_at
        |  FROM customer
        |), st AS (
        |  SELECT user_id,
        |         CASE WHEN NOT is_active THEN 'inactive'
        |              WHEN expires_at <> '' AND expires_at < '1995-06-01'
        |                THEN 'expired'
        |              ELSE 'valid' END AS status,
        |         expires_at
        |  FROM keys
        |)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(count(*) FILTER (WHERE status = 'valid') AS BIGINT)
        |         AS n_valid,
        |       CAST(count(*) FILTER (WHERE status = 'expired') AS BIGINT)
        |         AS n_expired,
        |       CAST(count(*) FILTER (WHERE status = 'inactive') AS BIGINT)
        |         AS n_inactive,
        |       coalesce(min(CASE WHEN status = 'valid' AND expires_at <> ''
        |                         THEN expires_at END), '') AS next_expiry
        |FROM st GROUP BY user_id ORDER BY user_id""")(
      (s, d) => {
        val keys = t(s, d, "customer").select(
          concat(lit("u"), (col("c_custkey") % 97).cast("string"))
            .as("user_id"),
          (col("c_custkey") % 7 =!= 0).as("is_active"),
          when(col("c_custkey") % 5 === 0, "")
            .otherwise(date_format(date_add(to_date(lit("1995-01-01")),
              (col("c_custkey") % 900).cast("int")), "yyyy-MM-dd"))
            .as("expires_at"))
        val st = keys.select(col("user_id"),
          when(!col("is_active"), "inactive")
            .when(col("expires_at") =!= "" &&
              col("expires_at") < "1995-06-01", "expired")
            .otherwise("valid").as("status"),
          col("expires_at"))
        st.groupBy("user_id")
          .agg(count(lit(1)).as("n_keys"),
            count(when(col("status") === "valid", 1)).as("n_valid"),
            count(when(col("status") === "expired", 1)).as("n_expired"),
            count(when(col("status") === "inactive", 1)).as("n_inactive"),
            coalesce(min(when(col("status") === "valid" &&
              col("expires_at") =!= "", col("expires_at"))), lit(""))
              .as("next_expiry"))
          .orderBy("user_id")
      }),

    // ── Users: the directory listing enriched with role membership
    //    (cognitoUserService.py:71-131 listing attributes;
    //    userRolesService.py membership rows). Users derived from the
    //    customer key space, role grants from supplier
    //    (role-<nationkey> granted to u<suppkey%97>). Scale shape: the
    //    user dim de-duplicates with one map-side-combined shuffle;
    //    grants join on user_id and roll up in the same exchange.
    sql("us1_user_directory",
      """WITH users AS (
        |  SELECT DISTINCT c_custkey % 97 AS k FROM customer
        |), u AS (
        |  SELECT 'u' || CAST(k AS VARCHAR) AS user_id,
        |         (k % 10 <> 0) AS enabled,
        |         (k % 3 = 0) AS mfa_enabled
        |  FROM users
        |), grants AS (
        |  SELECT DISTINCT 'u' || CAST(s_suppkey % 97 AS VARCHAR) AS user_id,
        |         'role-' || CAST(s_nationkey AS VARCHAR) AS role_name
        |  FROM supplier
        |)
        |SELECT u.user_id, u.enabled, u.mfa_enabled,
        |       CAST(count(g.role_name) AS BIGINT) AS n_roles,
        |       coalesce(array_to_string(list_sort(list(g.role_name)
        |         FILTER (WHERE g.role_name IS NOT NULL)), ','), '') AS roles
        |FROM u LEFT JOIN grants g USING (user_id)
        |GROUP BY u.user_id, u.enabled, u.mfa_enabled
        |ORDER BY u.user_id""")(
      (s, d) => {
        val users = t(s, d, "customer")
          .select((col("c_custkey") % 97).as("k")).distinct()
          .select(concat(lit("u"), col("k").cast("string")).as("user_id"),
            (col("k") % 10 =!= 0).as("enabled"),
            (col("k") % 3 === 0).as("mfa_enabled"))
        val grants = t(s, d, "supplier")
          .select(concat(lit("u"), (col("s_suppkey") % 97).cast("string"))
              .as("user_id"),
            concat(lit("role-"), col("s_nationkey").cast("string"))
              .as("role_name"))
          .distinct()
        users.join(grants, Seq("user_id"), "left")
          .groupBy("user_id", "enabled", "mfa_enabled")
          .agg(count(col("role_name")).as("n_roles"),
            array_join(sort_array(collect_list(col("role_name"))), ",")
              .as("roles"))
          .orderBy("user_id")
      }),

    // ── App feature flags: the config endpoint's whole-table scan
    //    rolled into the `featuresEnabled` concatenated string
    //    (configService.py:19-78 over storageBuilder :699-709). The
    //    reference concatenates in DynamoDB scan order; here the set is
    //    SORTED — the deterministic twin of an order-free contract.
    //    Feature rows modeled on region. Scale shape: one map-side-
    //    combined global aggregate of a 1-column projection.
    sql("cf1_feature_flags",
      """WITH feats AS (
        |  SELECT 'feat-' || lower(r_name) AS feature_name FROM region
        |)
        |SELECT array_to_string(list_sort(list(feature_name)), ',')
        |         AS features_enabled,
        |       CAST(count(*) AS BIGINT) AS n_features
        |FROM feats""")(
      (s, d) => t(s, d, "region")
        .select(concat(lit("feat-"), lower(col("r_name"))).as("feature_name"))
        .agg(array_join(sort_array(collect_list(col("feature_name"))), ",")
            .as("features_enabled"),
          count(lit(1)).as("n_features"))),

    // ── NGSI-LD knowledge-graph export (the Garnet addon's conversion,
    //    `handlers/addon/garnetFramework/garnetDataIndexAsset.py:164-290`):
    //    each link becomes a JSON-LD entity — urn id, VAMSAssetLink
    //    type, per-link scope, Property-wrapped fields, Relationship-
    //    wrapped endpoint urns. The broker SHIPPING (SQS) is out of
    //    analytic scope like ST6; the document BUILD is the transform,
    //    emitted byte-identically by both engines (compact JSON, fixed
    //    key order). Scale shape: fully narrow — one projection, no
    //    exchange except the output sort.
    sql("gx1_ngsild_links",
      """WITH links AS (
        |  SELECT 'l' || CAST(o_orderkey AS VARCHAR) AS link_id,
        |         'db' || CAST(o_custkey % 5 AS VARCHAR) AS fdb,
        |         'c' || CAST(o_custkey AS VARCHAR) AS fa,
        |         'db' || CAST(o_orderkey % 5 AS VARCHAR) AS tdb,
        |         'o' || CAST(o_orderkey AS VARCHAR) AS ta,
        |         CASE o_orderstatus WHEN 'O' THEN 'related'
        |              WHEN 'F' THEN 'parentChild' ELSE 'other' END AS rel
        |  FROM orders WHERE o_orderkey < 300
        |)
        |SELECT link_id,
        |       CAST(json_object(
        |         'id', 'urn:vams:assetlink:' || link_id,
        |         'type', 'VAMSAssetLink',
        |         'scope', json_array('/AssetLink/' || link_id),
        |         'relationshipType',
        |           json_object('type', 'Property', 'value', rel),
        |         'fromAsset', json_object('type', 'Relationship',
        |           'object', 'urn:vams:asset:' || fdb || ':' || fa),
        |         'toAsset', json_object('type', 'Relationship',
        |           'object', 'urn:vams:asset:' || tdb || ':' || ta)
        |       ) AS VARCHAR) AS ngsild
        |FROM links ORDER BY link_id""")(
      (s, d) => {
        val links = t(s, d, "orders").filter(col("o_orderkey") < 300)
          .select(concat(lit("l"), col("o_orderkey").cast("string")).as("link_id"),
            concat(lit("db"), (col("o_custkey") % 5).cast("string")).as("fdb"),
            concat(lit("c"), col("o_custkey").cast("string")).as("fa"),
            concat(lit("db"), (col("o_orderkey") % 5).cast("string")).as("tdb"),
            concat(lit("o"), col("o_orderkey").cast("string")).as("ta"),
            when(col("o_orderstatus") === "O", "related")
              .when(col("o_orderstatus") === "F", "parentChild")
              .otherwise("other").as("rel"))
        links.select(col("link_id"),
            to_json(struct(
              concat(lit("urn:vams:assetlink:"), col("link_id")).as("id"),
              lit("VAMSAssetLink").as("type"),
              array(concat(lit("/AssetLink/"), col("link_id"))).as("scope"),
              struct(lit("Property").as("type"), col("rel").as("value"))
                .as("relationshipType"),
              struct(lit("Relationship").as("type"),
                concat(lit("urn:vams:asset:"), col("fdb"), lit(":"), col("fa"))
                  .as("object")).as("fromAsset"),
              struct(lit("Relationship").as("type"),
                concat(lit("urn:vams:asset:"), col("tdb"), lit(":"), col("ta"))
                  .as("object")).as("toAsset"))).as("ngsild"))
          .orderBy("link_id")
      }),

    // ── NGSI-LD ASSET entity export (the Garnet addon's second
    //    converter, `garnetDataIndexAsset.py:352-540`
    //    `convert_asset_to_ngsi_ld`): urn id, VAMSAsset type,
    //    /Database/../Asset/.. scope, Property-wrapped core fields,
    //    bucket enrichment, the `{"@type":"DateTime","@value":..}`
    //    wrapper for dates, and the J3-style hasChildren/hasParents
    //    relationship flags (left join to aggregated edge existence,
    //    coalesce false) — emitted byte-identically by both engines.
    //    Scale shape: bucket dim broadcasts; the two flag joins reuse
    //    one edges aggregation each; the asset side never re-shuffles.
    sql("gx2_ngsild_asset",
      """WITH assets AS (
        |  SELECT 'db' || CAST(o_custkey % 5 AS VARCHAR) AS db,
        |         'o' || CAST(o_orderkey AS VARCHAR) AS aid,
        |         'asset-' || CAST(o_orderkey AS VARCHAR) AS name,
        |         CASE o_orderstatus WHEN 'O' THEN 'model3d'
        |              WHEN 'F' THEN 'image' ELSE 'other' END AS atype,
        |         'b' || CAST(o_custkey % 3 AS VARCHAR) AS bucket_id,
        |         (o_orderkey % 2 = 0) AS distributable,
        |         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dcreated,
        |         (o_orderkey % 13 = 0) AS archived,
        |         'v' || CAST(o_orderkey % 7 AS VARCHAR) AS ver
        |  FROM orders WHERE o_orderkey < 300
        |), buckets AS (
        |  SELECT 'b' || CAST(x AS VARCHAR) AS bid,
        |         'bucket-b' || CAST(x AS VARCHAR) AS bname
        |  FROM range(0, 3) r(x)
        |), edges AS (
        |  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS f,
        |         'o' || CAST(l_partkey % 300 AS VARCHAR) AS t
        |  FROM lineitem WHERE l_orderkey < 200
        |), childf AS (
        |  SELECT f AS aid, TRUE AS has_children FROM edges GROUP BY f
        |), parentf AS (
        |  SELECT t AS aid, TRUE AS has_parents FROM edges GROUP BY t
        |)
        |SELECT a.aid AS asset_id, json_object(
        |  'id', 'urn:vams:asset:' || a.db || ':' || a.aid,
        |  'type', 'VAMSAsset',
        |  'scope', json_array('/Database/' || a.db || '/Asset/' || a.aid),
        |  'assetName', json_object('type', 'Property', 'value', a.name),
        |  'assetType', json_object('type', 'Property', 'value', a.atype),
        |  'databaseId', json_object('type', 'Property', 'value', a.db),
        |  'bucketId', json_object('type', 'Property', 'value', a.bucket_id),
        |  'bucketName', json_object('type', 'Property', 'value', b.bname),
        |  'isDistributable',
        |    json_object('type', 'Property', 'value', a.distributable),
        |  'dateCreated', json_object('type', 'Property', 'value',
        |    json_object('@type', 'DateTime', '@value', a.dcreated)),
        |  'isArchived', json_object('type', 'Property', 'value', a.archived),
        |  'hasChildren', json_object('type', 'Property', 'value',
        |    COALESCE(c.has_children, FALSE)),
        |  'hasParents', json_object('type', 'Property', 'value',
        |    COALESCE(p.has_parents, FALSE)),
        |  'currentVersionId', json_object('type', 'Property', 'value', a.ver)
        |) AS ngsild
        |FROM assets a
        |JOIN buckets b ON b.bid = a.bucket_id
        |LEFT JOIN childf c ON c.aid = a.aid
        |LEFT JOIN parentf p ON p.aid = a.aid
        |ORDER BY asset_id""")(
      (s, d) => {
        val assets = t(s, d, "orders").filter(col("o_orderkey") < 300)
          .select(
            concat(lit("db"), (col("o_custkey") % 5).cast("string")).as("db"),
            concat(lit("o"), col("o_orderkey").cast("string")).as("aid"),
            concat(lit("asset-"), col("o_orderkey").cast("string")).as("name"),
            when(col("o_orderstatus") === "O", "model3d")
              .when(col("o_orderstatus") === "F", "image")
              .otherwise("other").as("atype"),
            concat(lit("b"), (col("o_custkey") % 3).cast("string"))
              .as("bucket_id"),
            (col("o_orderkey") % 2 === 0).as("distributable"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("dcreated"),
            (col("o_orderkey") % 13 === 0).as("archived"),
            concat(lit("v"), (col("o_orderkey") % 7).cast("string")).as("ver"))
        val buckets = s.range(3).select(
          concat(lit("b"), col("id").cast("string")).as("bid"),
          concat(lit("bucket-b"), col("id").cast("string")).as("bname"))
        val edges = t(s, d, "lineitem").filter(col("l_orderkey") < 200)
          .select(concat(lit("o"), col("l_orderkey").cast("string")).as("f"),
            concat(lit("o"), (col("l_partkey") % 300).cast("string")).as("t"))
        val childf = edges.groupBy(col("f").as("aid"))
          .agg(max(lit(true)).as("has_children"))
        val parentf = edges.groupBy(col("t").as("aid"))
          .agg(max(lit(true)).as("has_parents"))
        def prop(v: Column): Column =
          struct(lit("Property").as("type"), v.as("value"))
        assets
          .join(broadcast(buckets), col("bucket_id") === col("bid"))
          // the edge flags are bounded by the < 200 key filter —
          // broadcast both flag dims instead of shuffling the asset side
          // twice (scale-safe: the bound holds at any SF)
          .join(broadcast(childf), Seq("aid"), "left")
          .join(broadcast(parentf), Seq("aid"), "left")
          .select(col("aid").as("asset_id"),
            to_json(struct(
              concat(lit("urn:vams:asset:"), col("db"), lit(":"), col("aid"))
                .as("id"),
              lit("VAMSAsset").as("type"),
              array(concat(lit("/Database/"), col("db"), lit("/Asset/"),
                col("aid"))).as("scope"),
              prop(col("name")).as("assetName"),
              prop(col("atype")).as("assetType"),
              prop(col("db")).as("databaseId"),
              prop(col("bucket_id")).as("bucketId"),
              prop(col("bname")).as("bucketName"),
              prop(col("distributable")).as("isDistributable"),
              prop(struct(lit("DateTime").as("@type"),
                col("dcreated").as("@value"))).as("dateCreated"),
              prop(col("archived")).as("isArchived"),
              prop(coalesce(col("has_children"), lit(false)))
                .as("hasChildren"),
              prop(coalesce(col("has_parents"), lit(false)))
                .as("hasParents"),
              prop(col("ver")).as("currentVersionId"))).as("ngsild"))
          // bounded output (< 300 assets) — single-partition sort
          .repartition(1).sortWithinPartitions("asset_id")
      }),

    // ── NGSI-LD FILE entity export (the Garnet addon's third converter,
    //    `garnetDataIndexFile.py:296-530` `convert_file_to_ngsi_ld`):
    //    urn id with the URL-ENCODED file path, VAMSFile type,
    //    /Database/../Asset/../File/.. scope, Property-wrapped
    //    path/extension/S3 info/bucket/assetName/isArchived, the
    //    `{"@type":"DateTime","@value":..}` wrapper for lastModified,
    //    metadata_* properties switched on metadataValueType (an xyz
    //    entry lands as JsonProperty with a `json` payload,
    //    :477-484), attribute_* always Property (:500-516, file
    //    attributes are string-only per VAMS validation), and the
    //    belongsToAsset Relationship (:517-519). Files modeled on
    //    lineitem under gx2's asset ids; key order matches the
    //    reference's insertion order, emitted byte-identically by both
    //    engines. Path encoding: the synthetic paths' only
    //    reserved char is '/', so quote(path, safe='') reduces to the
    //    %2F substitution both engines spell the same way. Scale shape:
    //    fully narrow — one projection, no exchange except the output
    //    sort.
    sql("gx4_ngsild_file",
      """WITH files AS (
        |  SELECT 'db' || CAST(l_orderkey % 5 AS VARCHAR) AS db,
        |         'o' || CAST(l_orderkey AS VARCHAR) AS aid,
        |         'asset-' || CAST(l_orderkey AS VARCHAR) AS aname,
        |         'renders/' || CAST(l_linenumber AS VARCHAR) || '/part_'
        |           || CAST(l_partkey AS VARCHAR) || '.obj' AS path,
        |         CAST(l_quantity AS BIGINT) * 1024 AS sizeb,
        |         strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS lastmod,
        |         'v' || CAST(l_suppkey % 7 AS VARCHAR) AS ver,
        |         'bucket-b' || CAST(l_orderkey % 3 AS VARCHAR) AS bname,
        |         (l_orderkey % 13 = 0) AS archived,
        |         CASE l_returnflag WHEN 'R' THEN 'metal'
        |              WHEN 'A' THEN 'wood' ELSE 'plastic' END AS material,
        |         CAST(l_quantity AS BIGINT) AS dx,
        |         CAST(l_linenumber AS BIGINT) AS dy,
        |         CAST(l_partkey % 100 AS BIGINT) AS dz,
        |         CASE l_linestatus WHEN 'O' THEN 'open'
        |              ELSE 'finished' END AS stage
        |  FROM lineitem WHERE l_orderkey < 200
        |), enc AS (
        |  SELECT *, replace(path, '/', '%2F') AS epath,
        |         aid || ':' || path AS file_id
        |  FROM files
        |)
        |SELECT file_id, CAST(json_object(
        |  'id', 'urn:vams:file:' || db || ':' || aid || ':' || epath,
        |  'type', 'VAMSFile',
        |  'scope', json_array('/Database/' || db || '/Asset/' || aid
        |    || '/File/' || epath),
        |  'filePath', json_object('type', 'Property', 'value', path),
        |  'fileExtension', json_object('type', 'Property', 'value', 'obj'),
        |  'fileSize', json_object('type', 'Property', 'value', sizeb),
        |  'lastModified', json_object('type', 'Property', 'value',
        |    json_object('@type', 'DateTime', '@value', lastmod)),
        |  'contentType', json_object('type', 'Property', 'value', 'model/obj'),
        |  'etag', json_object('type', 'Property', 'value', md5(path)),
        |  's3VersionId', json_object('type', 'Property', 'value', ver),
        |  'bucketName', json_object('type', 'Property', 'value', bname),
        |  's3Key', json_object('type', 'Property', 'value',
        |    'assets/' || aid || '/' || path),
        |  'assetName', json_object('type', 'Property', 'value', aname),
        |  'isArchived', json_object('type', 'Property', 'value', archived),
        |  'metadata_material',
        |    json_object('type', 'Property', 'value', material),
        |  'metadata_dims', json_object('type', 'JsonProperty', 'json',
        |    json_object('x', dx, 'y', dy, 'z', dz)),
        |  'attribute_stage', json_object('type', 'Property', 'value', stage),
        |  'belongsToAsset', json_object('type', 'Relationship',
        |    'object', 'urn:vams:asset:' || db || ':' || aid)
        |) AS VARCHAR) AS ngsild
        |FROM enc ORDER BY file_id, ngsild""")(
      (s, d) => {
        val files = t(s, d, "lineitem").filter(col("l_orderkey") < 200)
          .select(
            concat(lit("db"), (col("l_orderkey") % 5).cast("string")).as("db"),
            concat(lit("o"), col("l_orderkey").cast("string")).as("aid"),
            concat(lit("asset-"), col("l_orderkey").cast("string"))
              .as("aname"),
            concat(lit("renders/"), col("l_linenumber").cast("string"),
              lit("/part_"), col("l_partkey").cast("string"), lit(".obj"))
              .as("path"),
            (col("l_quantity").cast("long") * 1024).as("sizeb"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("lastmod"),
            concat(lit("v"), (col("l_suppkey") % 7).cast("string")).as("ver"),
            concat(lit("bucket-b"), (col("l_orderkey") % 3).cast("string"))
              .as("bname"),
            (col("l_orderkey") % 13 === 0).as("archived"),
            when(col("l_returnflag") === "R", "metal")
              .when(col("l_returnflag") === "A", "wood")
              .otherwise("plastic").as("material"),
            col("l_quantity").cast("long").as("dx"),
            col("l_linenumber").cast("long").as("dy"),
            (col("l_partkey") % 100).as("dz"),
            when(col("l_linestatus") === "O", "open")
              .otherwise("finished").as("stage"))
          .withColumn("epath", regexp_replace(col("path"), "/", "%2F"))
          .withColumn("file_id", concat(col("aid"), lit(":"), col("path")))
        def prop(v: Column): Column =
          struct(lit("Property").as("type"), v.as("value"))
        files.select(col("file_id"),
            to_json(struct(
              concat(lit("urn:vams:file:"), col("db"), lit(":"), col("aid"),
                lit(":"), col("epath")).as("id"),
              lit("VAMSFile").as("type"),
              array(concat(lit("/Database/"), col("db"), lit("/Asset/"),
                col("aid"), lit("/File/"), col("epath"))).as("scope"),
              prop(col("path")).as("filePath"),
              prop(lit("obj")).as("fileExtension"),
              prop(col("sizeb")).as("fileSize"),
              prop(struct(lit("DateTime").as("@type"),
                col("lastmod").as("@value"))).as("lastModified"),
              prop(lit("model/obj")).as("contentType"),
              prop(md5(col("path"))).as("etag"),
              prop(col("ver")).as("s3VersionId"),
              prop(col("bname")).as("bucketName"),
              prop(concat(lit("assets/"), col("aid"), lit("/"), col("path")))
                .as("s3Key"),
              prop(col("aname")).as("assetName"),
              prop(col("archived")).as("isArchived"),
              prop(col("material")).as("metadata_material"),
              struct(lit("JsonProperty").as("type"),
                struct(col("dx").as("x"), col("dy").as("y"),
                  col("dz").as("z")).as("json")).as("metadata_dims"),
              prop(col("stage")).as("attribute_stage"),
              struct(lit("Relationship").as("type"),
                concat(lit("urn:vams:asset:"), col("db"), lit(":"),
                  col("aid")).as("object")).as("belongsToAsset")))
              .as("ngsild"))
          .orderBy("file_id", "ngsild")
      }),

    // ── PageRank over the entity link graph (the importance rollup a
    //    knowledge-graph export ranks nodes by; edges = who-bought-
    //    from-whom, customer → supplier, modeled on lineitem⋈orders the
    //    way the other graph surfaces derive their links). The
    //    arithmetic is FULLY INTEGER: ranks live on a 1e12 fixed-point
    //    grid, the damping 0.85 is the rational 17/20, and every
    //    per-edge contribution is a BIGINT floor-division — so the
    //    in-neighbor sums are order-independent and bit-identical in
    //    both engines (a float PageRank's Σ would round differently per
    //    shuffle order). Dangling mass is not redistributed (documented
    //    simplification; ranking order is what the surface serves).
    //    Scale shape: 3 iterations × (one edge⋈rank hash join + one
    //    map-side-combined groupBy on dst), rank state localCheckpointed
    //    per iteration exactly like the dedup components fixpoint —
    //    never a driver-side adjacency structure.
    sql("gx3_link_pagerank", {
      def iter(n: Int): String = {
        val prev = s"r${n - 1}"
        s"""r$n AS (
          |  SELECT nodes.nd AS node,
          |         150000000000 // nn.cnt
          |           + (17 * COALESCE(s.insum, 0)) // 20 AS r
          |  FROM nodes CROSS JOIN nn
          |  LEFT JOIN (SELECT e.dst, SUM(r.r // d.od) AS insum
          |             FROM e JOIN $prev r ON r.node = e.src
          |                    JOIN deg d ON d.src = e.src
          |             GROUP BY e.dst) s ON s.dst = nodes.nd
          |)"""
      }
      s"""WITH e AS (
        |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |         's' || CAST(l_suppkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), nodes AS (
        |  SELECT DISTINCT nd FROM (SELECT src AS nd FROM e
        |                           UNION ALL SELECT dst FROM e)
        |), nn AS (SELECT COUNT(*) AS cnt FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        |r0 AS (SELECT nd AS node, 1000000000000 // nn.cnt AS r
        |       FROM nodes CROSS JOIN nn),
        |${Seq(1, 2, 3).map(iter).mkString(",\n")}
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY r DESC, node LIMIT 20"""
    })(
      (s, d) => {
        // the converged rank frame memoizes per (session, dir) — a
        // production deployment materializes the rank table once per
        // corpus version (the same persistence rationale as the PQ
        // codebooks and BPE merge tables); the iterative build below
        // runs once per cache generation and every later consumer in
        // it reads the persisted node-sized result
        val ranks = graft.core.Caching.memoDf(s, s"pagerank:$d") {
          val e = t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey"))
            .join(t(s, d, "orders")
              .select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
            .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
              concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
            .distinct()
            .localCheckpoint()
          val nodes = e.select(col("src").as("node"))
            .unionByName(e.select(col("dst").as("node")))
            .distinct().localCheckpoint()
          // empty graph → empty rank frame (the driver-side seed
          // divisions would otherwise throw on nCnt = 0)
          val nCnt = math.max(nodes.count(), 1L)
          val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
          var r = nodes.select(col("node"),
            lit(1000000000000L / nCnt).as("r"))
          val base = 150000000000L / nCnt
          for (_ <- 1 to 3) {
            val insum = e.join(r, col("node") === col("src")).drop("node")
              .join(deg, "src")
              .select(col("dst"), expr("r div od").as("c"))
              .groupBy("dst").agg(sum("c").as("insum"))
            r = nodes.join(insum, col("node") === col("dst"), "left")
              .select(col("node"),
                (lit(base) + expr("(17 * coalesce(insum, 0L)) div 20"))
                  .as("r"))
              .localCheckpoint()
          }
          r
        }
        ranks.orderBy(col("r").desc, col("node")).limit(20)
          .select(col("node"), col("r").cast("long").as("rank_fp"))
      }),

    // ── Asset-link METADATA listing (metadataService.py:380-430 +
    //    storageBuilder :1182-1197): all metadata rows for the
    //    authorized links, SK-descending per link (ScanIndexForward=
    //    False), visible only when the caller passes authz on BOTH
    //    endpoint assets. Links modeled as in j11 (lineitem edges,
    //    order→part); each link carries 3 typed KV rows (weight/
    //    shipDate/flag), derived map-side via one explode — the KV
    //    derivation never hits an exchange, and the endpoint authz
    //    predicates push into both endpoint scans (the F11 path).
    sql("lm1_link_metadata",
      """WITH links AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS link_id,
        |         l_orderkey AS from_id, l_partkey AS to_id,
        |         CAST(l_quantity AS INT) AS qty,
        |         strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship,
        |         l_returnflag AS flag
        |  FROM lineitem WHERE l_orderkey < 200
        |), auth AS (
        |  SELECT link_id, qty, ship, flag FROM links
        |  JOIN orders ON o_orderkey = from_id AND o_orderstatus = 'O'
        |  JOIN part ON p_partkey = to_id AND p_brand LIKE 'Brand#1%'
        |), md AS (
        |  SELECT link_id, 'weight' AS metadata_key,
        |         CAST(qty AS VARCHAR) AS metadata_value,
        |         'number' AS value_type FROM auth
        |  UNION ALL
        |  SELECT link_id, 'shipDate', ship, 'date' FROM auth
        |  UNION ALL
        |  SELECT link_id, 'flag', flag, 'string' FROM auth
        |)
        |SELECT link_id, metadata_key, metadata_value, value_type
        |FROM md ORDER BY link_id, metadata_key DESC, metadata_value""")(
      (s, d) => {
        val links = t(s, d, "lineitem")
          .filter(col("l_orderkey") < 200)
          .select((col("l_orderkey") * 10 + col("l_linenumber")).as("link_id"),
            col("l_orderkey").as("from_id"), col("l_partkey").as("to_id"),
            col("l_quantity").cast("int").as("qty"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
            col("l_returnflag").as("flag"))
        val fromAuth = graft.authz.Abac.enforce(t(s, d, "orders"),
          graft.authz.Abac.Policy(allow = Seq(Seq(
            graft.authz.Abac.Criterion("o_orderstatus", "equals", "O")))))
          .select(col("o_orderkey").as("from_id"))
        val toAuth = graft.authz.Abac.enforce(t(s, d, "part"),
          graft.authz.Abac.Policy(allow = Seq(Seq(
            graft.authz.Abac.Criterion("p_brand", "starts_with", "Brand#1")))))
          .select(col("p_partkey").as("to_id"))
        links.join(fromAuth, "from_id").join(toAuth, "to_id")
          // typed KV rows in ONE map-side explode (no union re-scan)
          .select(col("link_id"), explode(array(
            struct(lit("weight").as("metadata_key"),
              col("qty").cast("string").as("metadata_value"),
              lit("number").as("value_type")),
            struct(lit("shipDate").as("metadata_key"),
              col("ship").as("metadata_value"),
              lit("date").as("value_type")),
            struct(lit("flag").as("metadata_key"),
              col("flag").as("metadata_value"),
              lit("string").as("value_type")))).as("kv"))
          .select(col("link_id"), col("kv.metadata_key"),
            col("kv.metadata_value"), col("kv.value_type"))
          // link_id is not unique in the synthetic edge set (duplicate
          // lineitem line numbers), so the tiebreak on value makes the
          // row order total — both engines emit identical sequences
          .orderBy(col("link_id").asc, col("metadata_key").desc,
            col("metadata_value").asc)
      }),

    // ── Database-level METADATA listing with schema enrichment
    //    (metadataService.py:3806-3890 over storageBuilder :843-872's
    //    DatabaseIdIndex GSI; enrichment semantics from
    //    `common/metadataSchemaValidation.py:647-760`): rows for one
    //    database, each classified against the aggregated [db, GLOBAL]
    //    schemas — matching keys carry schemaName/required/sequence,
    //    non-matching keys get the non-schema defaults, and schema
    //    fields ABSENT from the stored metadata are appended as
    //    placeholder rows (step 2 of enrich_metadata_with_schema);
    //    schema fields order by sequence first, then non-schema keys
    //    descending. Metadata rows modeled on supplier with
    //    latest-writer-wins dedup (the upsert path); the 8-row schema
    //    dim stays driver-sized, so at 100 TB the listing is a pruned
    //    per-database scan + a broadcast-sized full-outer enrich.
    sql("dm1_database_metadata",
      """WITH md AS (
        |  SELECT 'k' || CAST(s_suppkey % 12 AS VARCHAR) AS metadata_key,
        |         CAST(max(s_suppkey) AS VARCHAR) AS metadata_value,
        |         'string' AS value_type
        |  FROM supplier WHERE s_suppkey % 8 = 3
        |  GROUP BY 1
        |), sch AS (
        |  SELECT * FROM (VALUES
        |    ('k0', 'base (GLOBAL)', TRUE, 0),
        |    ('k1', 'base (GLOBAL)', FALSE, 1),
        |    ('k2', 'base (GLOBAL)', TRUE, 2),
        |    ('k3', 'base (GLOBAL)', FALSE, 3),
        |    ('k4', 'base (GLOBAL)', TRUE, 4),
        |    ('k5', 'base (GLOBAL)', FALSE, 5),
        |    ('k6', 'dbschema (db3)', TRUE, 6),
        |    ('k7', 'dbschema (db3)', FALSE, 7)
        |  ) AS t(field_name, schema_name, required, seq)
        |)
        |SELECT COALESCE(m.metadata_key, s.field_name) AS metadata_key,
        |       m.metadata_value, m.value_type,
        |       (s.field_name IS NOT NULL) AS schema_field,
        |       COALESCE(s.schema_name, '') AS schema_name,
        |       COALESCE(s.required, FALSE) AS schema_required,
        |       s.seq AS schema_seq
        |FROM md m FULL OUTER JOIN sch s ON m.metadata_key = s.field_name
        |ORDER BY schema_field DESC, schema_seq, metadata_key DESC""")(
      (s, d) => {
        import s.implicits._
        val md = t(s, d, "supplier")
          .filter(col("s_suppkey") % 8 === 3)
          .groupBy(concat(lit("k"), (col("s_suppkey") % 12).cast("string"))
            .as("metadata_key"))
          .agg(max("s_suppkey").cast("string").as("metadata_value"))
          .withColumn("value_type", lit("string"))
        val sch = Seq(
          ("k0", "base (GLOBAL)", true, 0), ("k1", "base (GLOBAL)", false, 1),
          ("k2", "base (GLOBAL)", true, 2), ("k3", "base (GLOBAL)", false, 3),
          ("k4", "base (GLOBAL)", true, 4), ("k5", "base (GLOBAL)", false, 5),
          ("k6", "dbschema (db3)", true, 6), ("k7", "dbschema (db3)", false, 7))
          .toDF("field_name", "schema_name", "required", "seq")
        md.join(sch, col("metadata_key") === col("field_name"), "full_outer")
          .select(
            coalesce(col("metadata_key"), col("field_name")).as("metadata_key"),
            col("metadata_value"), col("value_type"),
            col("field_name").isNotNull.as("schema_field"),
            coalesce(col("schema_name"), lit("")).as("schema_name"),
            coalesce(col("required"), lit(false)).as("schema_required"),
            col("seq").as("schema_seq"))
          .orderBy(col("schema_field").desc, col("schema_seq").asc,
            col("metadata_key").desc)
      }),

    // ── Constraint-template import analytics
    //    (`handlers/auth/authConstraintsTemplateService.py`): templates
    //    carry `{{VAR}}` placeholders substituted from variableValues
    //    (`substitute_variables` :79-116), leftover placeholders are
    //    detected by regex scan (`find_unreplaced_variables` :119-146),
    //    and each constraint fans out to ONE denormalized row per UNIQUE
    //    groupId (`_transform_to_denormalized_format` :171-210,
    //    `constraintId = base#group#groupId`) with a safety base row when
    //    no permissions exist (:225-229). Templates modeled on `part`;
    //    variables ROLE_NAME/PREFIX derive per row, and a deliberate
    //    `{{MISSING}}` var (large sizes) exercises the unreplaced scan.
    //    Scale shape: substitution + regex scan + distinct fan-out are
    //    all map-side (explode of a ≤2-element de-duplicated array);
    //    the only exchange is the final output sort.
    sql("ct1_constraint_template",
      """WITH tpl AS (
        |  SELECT 'tpl-' || CAST(p_partkey AS VARCHAR) AS identifier,
        |         'Constraint {{ROLE_NAME}}: ' || p_type AS name_raw,
        |         'Scope {{PREFIX}}' ||
        |           CASE WHEN p_size > 40 THEN ' {{MISSING}}' ELSE '' END
        |           AS desc_raw,
        |         'role-' || CAST(p_partkey % 7 AS VARCHAR) AS role_name,
        |         p_brand AS prefix,
        |         CASE WHEN p_size % 11 = 0 THEN []::VARCHAR[]
        |              ELSE list_distinct([
        |                'g' || CAST(p_partkey % 3 AS VARCHAR),
        |                'g' || CAST(p_partkey % 5 AS VARCHAR)]) END AS groups
        |  FROM part WHERE p_partkey < 400
        |), sub AS (
        |  SELECT identifier, groups,
        |         replace(replace(name_raw, '{{ROLE_NAME}}', role_name),
        |           '{{PREFIX}}', prefix) AS name_resolved,
        |         replace(replace(desc_raw, '{{ROLE_NAME}}', role_name),
        |           '{{PREFIX}}', prefix) AS desc_resolved
        |  FROM tpl
        |), scanned AS (
        |  SELECT *,
        |         COALESCE(array_to_string(list_sort(list_distinct(
        |           regexp_extract_all(name_resolved || ' ' || desc_resolved,
        |             '\{\{(\w+)\}\}', 1))), ','), '') AS unreplaced
        |  FROM sub
        |), fanned AS (
        |  SELECT identifier, unnest(groups) AS group_id,
        |         name_resolved, desc_resolved, unreplaced
        |  FROM scanned
        |)
        |SELECT identifier || '#group#' || group_id AS constraint_id,
        |       group_id, name_resolved, desc_resolved, unreplaced,
        |       (unreplaced <> '') AS has_unreplaced
        |FROM fanned
        |UNION ALL
        |SELECT identifier AS constraint_id, '' AS group_id,
        |       name_resolved, desc_resolved, unreplaced,
        |       (unreplaced <> '') AS has_unreplaced
        |FROM scanned WHERE len(groups) = 0
        |ORDER BY constraint_id""")(
      (s, d) => {
        val tpl = t(s, d, "part").filter(col("p_partkey") < 400)
          .select(
            concat(lit("tpl-"), col("p_partkey").cast("string"))
              .as("identifier"),
            concat(lit("Constraint {{ROLE_NAME}}: "), col("p_type"))
              .as("name_raw"),
            concat(lit("Scope {{PREFIX}}"),
              when(col("p_size") > 40, lit(" {{MISSING}}")).otherwise(lit("")))
              .as("desc_raw"),
            concat(lit("role-"), (col("p_partkey") % 7).cast("string"))
              .as("role_name"),
            col("p_brand").as("prefix"),
            when(col("p_size") % 11 === 0,
              array().cast("array<string>"))
              .otherwise(array_distinct(array(
                concat(lit("g"), (col("p_partkey") % 3).cast("string")),
                concat(lit("g"), (col("p_partkey") % 5).cast("string")))))
              .as("groups"))
        def subst(c: Column): Column =
          regexp_replace(
            regexp_replace(c, lit("\\{\\{ROLE_NAME\\}\\}"), col("role_name")),
            lit("\\{\\{PREFIX\\}\\}"), col("prefix"))
        val scanned = tpl
          .withColumn("name_resolved", subst(col("name_raw")))
          .withColumn("desc_resolved", subst(col("desc_raw")))
          .withColumn("unreplaced", array_join(array_sort(array_distinct(
            regexp_extract_all(
              concat(col("name_resolved"), lit(" "), col("desc_resolved")),
              lit("\\{\\{(\\w+)\\}\\}"), lit(1)))), ","))
        val out = Seq("group_id", "name_resolved", "desc_resolved",
          "unreplaced", "has_unreplaced")
        val fanned = scanned
          .select(col("identifier"), explode(col("groups")).as("group_id"),
            col("name_resolved"), col("desc_resolved"), col("unreplaced"))
          .withColumn("constraint_id",
            concat(col("identifier"), lit("#group#"), col("group_id")))
          .withColumn("has_unreplaced", col("unreplaced") =!= "")
          .select("constraint_id", out: _*)
        val base = scanned.filter(size(col("groups")) === 0)
          .withColumn("constraint_id", col("identifier"))
          .withColumn("group_id", lit(""))
          .withColumn("has_unreplaced", col("unreplaced") =!= "")
          .select("constraint_id", out: _*)
        fanned.unionByName(base).orderBy("constraint_id")
      })
  )
}
