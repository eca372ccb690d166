package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic fixed-point BM25 ranking — closes the one user-visible
  * relevance deviation from the reference, which sorts search hits by
  * OpenSearch's BM25 `_score`
  * (backend/backend/handlers/search/search.py:614,994,1311;
  * test_search.py:490-588 asserts sort-by-score shapes). The engine's
  * O3 weighted-match score remains for filter-style scoring; this
  * module is the idf/length-normalized ranking a search user actually
  * sees.
  *
  * Exactness contract: every quantity is a 64-bit integer.
  *  - tf, df, dl, N, Σdl come straight from the token stream;
  *  - k1 = 1.2 and b = 0.75 enter as the exact rationals 6/5 and 3/4,
  *    so the Robertson tf saturation term
  *    tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) becomes the integer
  *    quotient 44·tf·2^10 DIV ((20·tf+6)·2^10 + (18·dl·N·2^10) DIV Σdl).
  *    The length-norm summand is evaluated as the floor-identical
  *    decomposition  dl·q + (dl·r) DIV Σdl  with
  *    q = (18432·N) DIV Σdl, r = (18432·N) MOD Σdl — never forming the
  *    triple product dl·N·18432, which overflows int64 once dl·N
  *    exceeds ~5·10^14 (e.g. a 50k-token doc in a 10^10-doc corpus).
  *    Remaining bound (documented, ~18·avgdl× weaker): dl·Σdl < 2^63,
  *    i.e. a 10^13-token corpus still scores megatoken documents;
  *    18432·N < 2^63 holds for any N < 5·10^14 docs;
  *  - idf = log2((N+1)/(df+0.5)) = log2((2N+2)/(2df+1)) in 2^-20
  *    fixed point via [[graft.functions.GraftFunctions.log2Fp]] — an
  *    integer shift-and-square recurrence, no libm, which the DuckDB
  *    oracle replays as an unrolled 20-step CTE chain and matches
  *    BIT-IDENTICALLY. Using log2 instead of ln rescales every score
  *    by the positive constant 1/ln2 — rankings are unchanged
  *    (documented deviation, like the reference's own Lucene idf
  *    variant choice).
  *
  * Scale shape: two tree-aggregated corpus passes (N/Σdl/df — one
  * scalar row, broadcast back), a narrow per-row score projection
  * (tf/idf/score all inside whole-stage codegen, no explode, no
  * per-term shuffle), and a TakeOrderedAndProject top-k. Nothing
  * corpus-sized ever shuffles or sorts. */
object Bm25 {

  /** The search query's distinct lower-cased whitespace terms: the one
    * parse both bm25 routes of the search façade score, so a repeated
    * term ("w w") counts once on the scan route, as on the index route,
    * whose postings match the query's term SET. */
  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** One term's fixed-point BM25 summand as SQL over BIGINT operands
    * (see the exactness contract above): `q` and `r` are the quotient
    * and remainder of 18432·N by `sumdl`, so the length norm never forms
    * dl·N·18432. The scan routes pass column expressions, the index
    * route driver-side literals; every route sums this one formula. */
  private[query] def termScoreSql(idf: String, tf: String, dl: String,
      q: String, r: String, sumdl: String): String =
    s"($idf * 44 * $tf * 1024) DIV (($tf * 20 + 6) * 1024 + " +
      s"$dl * $q + ($dl * $r) DIV $sumdl)"

  /** Fixed-point BM25 top-k over a tokenized corpus: returns
    * (idCol, score_fp) for the k best-scoring docs with any query-term
    * match, ordered (score_fp DESC, idCol). `docs` must carry `idCol`
    * and an ARRAY<STRING> `tkCol`. */
  def rank(docs: DataFrame, idCol: String, tkCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = docs
      .select(col(idCol), col(tkCol).as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))

    // one aggregation pass → a single broadcast stats row: corpus size,
    // total length, and per-term document frequency
    val aggs = (count(lit(1)).cast("long").as("n") +:
      sum("dl").as("sumdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("tk"), t).cast("long")).as(s"df_$i")
      }).toList
    val stats = base.agg(aggs.head, aggs.tail: _*)

    var cur = base.crossJoin(broadcast(stats))
    terms.zipWithIndex.foreach { case (t, i) =>
      cur = cur
        .withColumn(s"tf_$i",
          size(filter(col("tk"), x => x === lit(t))).cast("long"))
        .withColumn(s"idf_$i", call_function("graft_log2_fp",
          col("n") * 2L + lit(2L), col(s"df_$i") * 2L + lit(1L)))
    }
    val scoreSum = terms.indices.map { i =>
      termScoreSql(s"idf_$i", s"tf_$i", "dl",
        "((n * 18432) DIV sumdl)", "((n * 18432) % sumdl)", "sumdl")
    }.mkString(" + ")
    cur
      .withColumn("score_fp", expr(scoreSum))
      .filter(col("score_fp") > 0)
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(k)
      .select(idCol, "score_fp")
  }

  /** BM25 `_score` COLUMN for the search façade: scores `target` rows
    * (already filtered) with corpus statistics taken from the FULL
    * `corpus` frame — OpenSearch computes scores from index-wide stats,
    * not from the filtered hit set, so the reference's `_score` for a
    * given doc does not move when filters change. The per-row document
    * is the lower-cased concatenation of the searched fields (the
    * "all-fields" match the reference's multi_match issues). Adds
    * `outCol` (the fixed-point score as DOUBLE — exact, scores are
    * < 2^53) and removes every helper column. */
  def scoreSearch(corpus: DataFrame, target: DataFrame,
      fields: Seq[String], query: String,
      outCol: String = "_score"): DataFrame = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "BM25 search needs at least one query term")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def tkOf(df: DataFrame): Column =
      split(trim(lower(concat_ws(" ", fields.map(col): _*))), "\\s+")
    val aggs = (count(lit(1)).cast("long").as("__n") +:
      sum(size(tkOf(corpus)).cast("long")).as("__sumdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(tkOf(corpus), t).cast("long")).as(s"__df_$i")
      }).toList
    val stats = corpus.agg(aggs.head, aggs.tail: _*)
    var cur = target.crossJoin(broadcast(stats))
      .withColumn("__tk", tkOf(target))
      .withColumn("__dl", size(col("__tk")).cast("long"))
    terms.zipWithIndex.foreach { case (t, i) =>
      cur = cur
        .withColumn(s"__tf_$i",
          size(filter(col("__tk"), x => x === lit(t))).cast("long"))
        .withColumn(s"__idf_$i", call_function("graft_log2_fp",
          col("__n") * 2L + lit(2L), col(s"__df_$i") * 2L + lit(1L)))
    }
    val scoreSum = terms.indices.map { i =>
      termScoreSql(s"__idf_$i", s"__tf_$i", "__dl",
        "((__n * 18432) DIV __sumdl)", "((__n * 18432) % __sumdl)", "__sumdl")
    }.mkString(" + ")
    cur.withColumn(outCol, expr(scoreSum).cast("double"))
      .drop(Seq("__tk", "__dl", "__n", "__sumdl") ++
        terms.indices.flatMap(i => Seq(s"__tf_$i", s"__df_$i", s"__idf_$i")): _*)
  }

  /** The 20 unrolled square-and-renormalize steps of the integer log2
    * recurrence as DuckDB CTEs `l1..l20` (input CTE `l0(term, e, m, f)`)
    * — shared by every BM25 oracle so both gates replay the ONE
    * definition [[graft.functions.GraftFunctions.log2Fp]] executes. */
  def idfStepsSql: String =
    (1 to 20).map { i =>
      s"""l$i AS (SELECT term,  e,
         |  CASE WHEN ((m*m) >> 21) >= 4194304 THEN ((m*m) >> 21) >> 1
         |       ELSE (m*m) >> 21 END AS m,
         |  f*2 + CASE WHEN ((m*m) >> 21) >= 4194304 THEN 1 ELSE 0 END AS f
         |  FROM l${i - 1})""".stripMargin
    }.mkString(",\n")

  /** The `l0` seed CTE: exponent + 21-bit mantissa of (2n+2)/(2df+1)
    * per term, from CTEs `tdf(term, df)` and `stats(n, …)`. */
  def idfSeedSql: String =
    """l0 AS (
      |  SELECT term, e, (a << 21) // (b << e) AS m, CAST(0 AS BIGINT) AS f
      |  FROM (
      |    SELECT term, a, b,
      |           CASE WHEN a >= (b << (e0 + 1)) THEN e0 + 1
      |                WHEN a < (b << e0) THEN e0 - 1
      |                ELSE e0 END AS e
      |    FROM (
      |      SELECT term, 2*n + 2 AS a, 2*df + 1 AS b,
      |             CAST(length(printf('%b', 2*n + 2))
      |                  - length(printf('%b', 2*df + 1)) AS BIGINT) AS e0
      |      FROM tdf, stats
      |    )
      |  )
      |)""".stripMargin

  /** DuckDB twin of [[rank]] over the `documents` table: replays the
    * IDENTICAL integer recurrences (the log2 chain unrolled as 20 CTE
    * steps, bit lengths via printf('%b', …)), so values hash-match the
    * Spark side exactly. */
  def oracleSql(terms: Seq[String], k: Int): String = {
    val termVals = terms.map(t => s"('$t')").mkString(", ")
    val steps = idfStepsSql
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
       |  FROM documents WHERE length(trim(text)) > 0
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(len(tk)) AS BIGINT) AS sumdl
       |  FROM toks
       |), terms(term) AS (VALUES $termVals),
       |tdf AS (
       |  SELECT t.term,
       |         CAST(SUM(CASE WHEN list_contains(d.tk, t.term)
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS df
       |  FROM terms t CROSS JOIN toks d GROUP BY t.term
       |),
       |$idfSeedSql,
       |$steps,
       |idf AS (SELECT term, (e << 20) + f AS idf_fp FROM l20),
       |dt AS (
       |  SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS dl, i.idf_fp,
       |         CAST(len(list_filter(d.tk, x -> x = i.term)) AS BIGINT) AS tf
       |  FROM toks d CROSS JOIN idf i
       |),
       |scored AS (
       |  SELECT doc_id, CAST(SUM(
       |    (idf_fp * 44 * tf * 1024) //
       |    ((tf * 20 + 6) * 1024 + dl * ((n * 18432) // sumdl)
       |     + (dl * ((n * 18432) % sumdl)) // sumdl)
       |  ) AS BIGINT) AS score_fp
       |  FROM dt, stats GROUP BY doc_id
       |)
       |SELECT doc_id, score_fp FROM scored WHERE score_fp > 0
       |ORDER BY score_fp DESC, doc_id LIMIT $k""".stripMargin
  }
}
