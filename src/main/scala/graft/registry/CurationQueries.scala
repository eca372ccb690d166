package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llmops.{Similarity, Text, TopK}

/** Round-5 additions: corpus-curation operators a training-data build
  * runs between quality filtering and epoch planning — repetition
  * quality gates (Gopher-style), deterministic source mixing, exact
  * per-stratum sampling heads, token-budget epoch planning, and tf-idf
  * term extraction. Every query is oracle-gated; every double in an
  * oracle-gated result is produced by bit-identical IEEE arithmetic on
  * both engines (integer-derived divisions only — no transcendentals,
  * no cross-row float sums).
  */
object CurationQueries {
  import QueryDef.sql

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** Per-stratum sampling head size. */
  val StratumK = 50
  /** Per-cluster quota ceiling for cluster-balanced sampling (the
    * bounded-aggregator k; the effective quota scales with corpus size
    * below it). */
  val ClusterQuotaCap = 64
  /** Global token budget for the epoch plan (tokens). */
  val TokenBudget = 1000000L

  private def nTokens(text: Column): Column = Text.nTokens(text)

  /** Per-doc bigram-LM score aggregates `(doc_id, n_bigrams, score_fp)`
    * under the English-reference add-1 bigram model — the shared
    * builder for llm_quality_lmscore and the curation funnel's LM gate.
    * PINNED (eager memo) at the return: every consumer references this
    * frame at least twice — once under the `broadcast(total)` scalar
    * and once as the stream side of the gate — and Catalyst does not
    * CSE plan subtrees, so the unpinned form executed the whole bigram
    * join chain per reference (the standalone lmscore query paid it
    * 2×, the funnel up to 5× across its stage chain). An earlier
    * round measured the inline form FASTER — but that measurement ran
    * under `count()`, which prunes the provably-unique left joins and
    * hid the recomputation entirely (see Bench.timedPass). Under full
    * materialization the doc-sized cache write is strictly cheaper
    * than a second bigram pass. The memo also spares the ~60-node
    * chain's re-analysis (measured ~0.3 s of analysis per call). */
  private def lmScores(s: SparkSession, d: String): DataFrame =
    graft.core.Caching.memoDf(s, s"lmScores:$d", eager = true)(
      lmScoresPlan(s, d))

  private def lmBigrams: Column = when(size(col("tk")) >= 2,
    transform(sequence(lit(0), size(col("tk")) - 2), i =>
      concat_ws(" ", element_at(col("tk"), i + 1),
        element_at(col("tk"), i + 2))))
    .otherwise(array().cast("array<string>"))

  /** Distinct-bigram table `(bg, c2)` over the WHOLE corpus, where c2 =
    * occurrences in English docs (the add-1 model's reference counts —
    * ≡ the old LEFT-joined `bi` with COALESCE(_, 0)). One map-side-
    * combined aggregate over the bigram explode; pinned per generation
    * because both the unigram derivation and the score table read it. */
  private def lmQtabRaw(s: SparkSession, d: String): DataFrame =
    graft.core.Caching.memoDf(s, s"lmQtabRaw:$d", eager = true) {
      LlmQueries.tokenArrays(s, d)
        .select((col("lang") === "en").as("is_en"),
          explode(lmBigrams).as("bg"))
        .groupBy("bg").agg(
          sum(when(col("is_en"), lit(1L)).otherwise(lit(0L))).as("c2"))
    }

  private def lmScoresPlan(s: SparkSession, d: String): DataFrame = {
      val withLang = LlmQueries.tokenArrays(s, d)
        .select("doc_id", "lang", "tk")
      // Score per DISTINCT bigram, not per occurrence: the add-1 score is
      // a pure function of the bigram, so evaluating it once per distinct
      // bg and joining back is bit-identical to the old per-occurrence
      // form — and it shrinks the unigram-lookup leg from every
      // OCCURRENCE (re-shuffled by first token) to vocabulary size. The
      // first token of a bigram is recoverable as its first
      // space-delimited field — exact, because tokens are \s+-split and
      // so contain no whitespace.
      //
      // The unigram reference counts NEVER explode the token stream:
      // every English token position is either a bigram start or its
      // doc's last token, so c1(w) = Σ c2 over English bigrams starting
      // with w (a vocabulary-sized fold of the pinned distinct-bigram
      // table) + the count of English docs whose last token is w (one
      // doc-level pass over the cached arrays). Words with no English
      // occurrence are filtered out, so vocabulary membership is
      // unchanged.
      val qtabRaw = lmQtabRaw(s, d)
      val w1c = qtabRaw
        .select(substring_index(col("bg"), " ", 1).as("w"), col("c2"))
        .groupBy("w").agg(sum("c2").as("c"))
      val lastTok = withLang.filter(col("lang") === "en")
        .select(element_at(col("tk"), -1).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val uni = w1c.unionByName(lastTok)
        .groupBy("w").agg(sum("c").as("c1"))
        .filter(col("c1") > 0)
      val vocab = uni.agg(count(lit(1)).as("v"))
      val docbg = withLang
        .select(col("doc_id"), explode(lmBigrams).as("bg"))
      val qtab = qtabRaw
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(uni.hint("shuffle_hash"), col("w1") === col("w"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("bg"),
          // greatest(..., 1): a corpus with ZERO English docs has an
          // empty unigram vocabulary (v = 0, c1 all null) — the add-1
          // score is meaningless there but must stay finite (the
          // denominator is ≥ 1 whenever any English doc exists, so
          // real corpora are unaffected)
          floor(lit(1000000000.0) * (col("c2") + 1) /
            greatest(coalesce(col("c1"), lit(0L)) + col("v"), lit(1L)))
            .cast("long").as("q"))
      // inner join is row-preserving: every bg in the stream is in qtab
      // by construction, so n_bigrams still counts every occurrence.
      // Join strategy is ADAPTIVE on the (pinned, so count-free) bigram
      // vocabulary size — the tfidf df-table precedent: a vocab-sized
      // score table broadcasts, turning the whole scoring pass into
      // scan → explode → BroadcastHashJoin → partial agg riding the
      // token cache's hashpartitioning(doc_id) — ZERO exchanges; a
      // corpus whose bigram vocabulary outgrows the threshold keeps the
      // bounded-memory shuffled hash join instead. The gate is on
      // ESTIMATED BYTES, not rows: 1M bigram STRINGS can be 50-100 MB+
      // (long-token corpora) — past the broadcast/driver-collect
      // comfort zone even when the row count looks small. Per-row
      // estimate = the bg strings + 8 (the long score) + 40 UnsafeRow
      // overhead. Both inputs are plan statistics of the pinned
      // qtabRaw: its materialized cache reports its in-memory bytes
      // (bg + the long count) and row count, so choosing runs no job.
      val qstats = qtabRaw.queryExecution.optimizedPlan.stats
      val qtabEstBytes =
        qstats.sizeInBytes + qstats.rowCount.getOrElse(BigInt(0)) * 40
      val scoreJoin =
        if (qtabEstBytes <= (64L << 20)) docbg.join(broadcast(qtab), Seq("bg"))
        else docbg.join(qtab.hint("shuffle_hash"), Seq("bg"))
      scoreJoin
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"), sum("q").as("score_fp"))
    }

  /** Per-(doc, bucket) token counts `(doc_id, is_t, b, c)` — the ONE
    * pass over the token stream both dsir consumers derive from. The
    * md5-based hash60 per token is the build's dominant cost and the
    * raw bucket rows are needed twice (the corpus bucket model AND the
    * per-doc weight fold); aggregating once (map-side combined — a
    * doc's tokens are contiguous in the cached arrays) halves the hash
    * work and shrinks both downstream inputs. Eager like docGramStats:
    * the two consumers fan into branches of the same job, where a lazy
    * mark can still double-compute partitions under task overlap. */
  private def dsirBucketCounts(s: SparkSession, d: String): DataFrame =
    graft.core.Caching.memoDf(s, s"dsirDb:$d", eager = true) {
      val m = 4096
      LlmQueries.tokenArrays(s, d)
        .select(col("doc_id"), (col("lang") === "en").as("is_t"),
          explode(col("tk")).as("tok"))
        .select(col("doc_id"), col("is_t"),
          (Text.hash60(col("tok")) % m).as("b"))
        .groupBy("doc_id", "is_t", "b").agg(count(lit(1)).as("c"))
    }

  /** Per-doc DSIR importance aggregates `(doc_id, n_tokens, weight_fp)`
    * under the 4096-bucket hashed unigram target/raw models — the
    * shared builder for llm_mix_dsir and the curation funnel's
    * selection stage. Session-cached SINCE r9: TopFraction's histogram
    * + mark passes read the weights twice per query (the single-reader
    * rationale that kept this uncached, like [[lmScores]], no longer
    * holds). Eager like subDupStarts: the funnel pins this chain
    * concurrently with the LM build; lazy marking deferred the weight
    * fold into TopFraction's serial histogram pass. */
  private def dsirWeights(s: SparkSession, d: String): DataFrame =
    graft.core.Caching.memoDf(s, s"dsirW:$d", eager = true) {
      val m = 4096
      val db = dsirBucketCounts(s, d)
      val bc = db.groupBy("b").agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), col("c")).otherwise(0L)).as("cr"))
      val tot = bc.agg(sum("ct").as("nt"), sum("cr").as("nr"))
      val q = bc.crossJoin(broadcast(tot))
        .select(col("b"), floor(
          (col("ct") + 1).cast("double") * (col("nr") + m) /
            ((col("cr") + 1).cast("double") * (col("nt") + m)) *
            lit(1000000.0)).cast("long").as("qb"))
      // weight_fp = Σ_tokens qb = Σ_buckets c·qb — identical long
      // arithmetic, folded over the pre-aggregated counts
      db.join(broadcast(q), Seq("b"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          sum(col("c") * col("qb")).as("weight_fp"))
        // the weight table is DOC-level (~1000× smaller than the token
        // stream it aggregates) — right-size the cached partitioning to
        // a quarter of the session's shuffle width so the three
        // selection passes over it schedule proportionally fewer tasks
        // (measured: warm llm_mix_dsir 0.91 s → 0.58 s at sf0.1)
        .coalesce(math.max(4, graft.core.GraftSession.shuffleWidth(s) / 4))
    }

  // ── llm_quality_train constants (shared by the Spark twin and the
  //    unrolled oracle; see the query comment for the algorithm) ──
  private val QtF = 1000L      // fixed-point scale of the frequency features
  private val QtS = 1000000L   // fixed-point scale of scores / weights
  private val QtC = 2L         // learning-rate divisor (lr = 1/C)
  private val QtM = 256        // hashed feature buckets

  /** Oracle SQL of the trained quality classifier, parameterized by the
    * train/score split predicates (over doc_id). See the
    * llm_quality_train query comment for the algorithm. */
  private def qualityTrainSql(trainWhere: String, scoreWhere: String,
      tail: String =
        """SELECT doc_id, s AS score_fp, s >= 0 AS predicted, y AS label
          |FROM sfin ORDER BY doc_id""".stripMargin): String =
    s"""WITH lab AS (
      |  SELECT doc_id,
      |    (0.5 * (CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
      |       x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |       / len(regexp_split_to_array(trim(lower(text)), '\\s+')))
      |     + 0.5 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
      |       / length(text))) >= 0.53 AS y, text
      |  FROM documents WHERE length(trim(text)) > 0
      |), toks AS (
      |  SELECT doc_id, y, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM lab
      |), ntok AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1
      |), featall AS (
      |  SELECT t.doc_id, any_value(t.y) AS y,
      |         ${QueryDef.hashBucketSql("t.tok")} % $QtM AS b,
      |         CAST(floor(CAST($QtF * count(*) AS DOUBLE) / any_value(ntok.nt)) AS BIGINT) AS x
      |  FROM toks t JOIN ntok USING (doc_id) GROUP BY t.doc_id, b
      |), featt AS (SELECT * FROM featall WHERE $trainWhere
      |), feats AS (SELECT * FROM featall WHERE $scoreWhere
      |), docs AS (SELECT doc_id, any_value(y) AS y FROM featt GROUP BY 1
      |), n AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(CASE WHEN y THEN 1 ELSE -1 END) AS BIGINT) AS tsum
      |  FROM docs
      |), b0 AS (SELECT CAST(floor(CAST(${QtS}::BIGINT * tsum AS DOUBLE) / n) AS BIGINT) AS b0 FROM n
      |), tb AS (
      |  SELECT f.b, CAST(SUM(f.x) AS BIGINT) AS t_b, CAST(count(*) AS BIGINT) AS n_b,
      |         CAST(SUM((n.n * f.x) * (n.n * f.x)) AS BIGINT) AS sq_raw
      |  FROM featt f, n GROUP BY f.b, n.n
      |), dp AS (
      |  SELECT tb.b, tb.t_b, tb.sq_raw - n.n * tb.t_b * tb.t_b AS dprime FROM tb, n
      |), a1 AS (
      |  SELECT f.doc_id, any_value(f.y) AS y, CAST(0 AS BIGINT) AS a FROM featt f GROUP BY f.doc_id
      |), s1 AS (
      |  SELECT d.doc_id, d.y,
      |         b0.b0 + CAST(floor(CAST(n.n * d.a - 0 AS DOUBLE) / (n.n * $QtF)) AS BIGINT) AS s
      |  FROM a1 d, n, b0
      |), r1 AS (
      |  SELECT s.doc_id, s.y, s.s - CASE WHEN s.y THEN ${QtS}::BIGINT ELSE -${QtS}::BIGINT END AS r
      |  FROM s1 s
      |), bb1 AS (
      |  SELECT f.b, CAST(SUM(r.r * f.x) AS BIGINT) AS bsum
      |  FROM featt f JOIN r1 r ON r.doc_id = f.doc_id GROUP BY f.b
      |), w1 AS (
      |  SELECT dp.b, CAST(0 AS BIGINT) -
      |         CASE WHEN dp.dprime > 0 THEN
      |           CAST(floor((CAST(n.n * bb1.bsum - dp.t_b * (SELECT SUM(r) FROM r1) AS DOUBLE) * n.n * $QtF)
      |                / ($QtC * CAST(dp.dprime AS DOUBLE))) AS BIGINT)
      |         ELSE 0 END AS w
      |  FROM dp JOIN bb1 ON bb1.b = dp.b, n
      |), a2 AS (
      |  SELECT f.doc_id, any_value(f.y) AS y, CAST(SUM(w.w * f.x) AS BIGINT) AS a
      |  FROM featt f LEFT JOIN w1 w ON w.b = f.b GROUP BY f.doc_id
      |), s2 AS (
      |  SELECT d.doc_id, d.y,
      |         b0.b0 + CAST(floor(CAST(n.n * d.a -
      |           (SELECT COALESCE(SUM(w.w * dp.t_b), 0) FROM w1 w JOIN dp ON dp.b = w.b)
      |           AS DOUBLE) / (n.n * $QtF)) AS BIGINT) AS s
      |  FROM a2 d, n, b0
      |), r2 AS (
      |  SELECT s.doc_id, s.y, s.s - CASE WHEN s.y THEN ${QtS}::BIGINT ELSE -${QtS}::BIGINT END AS r
      |  FROM s2 s
      |), bb2 AS (
      |  SELECT f.b, CAST(SUM(r.r * f.x) AS BIGINT) AS bsum
      |  FROM featt f JOIN r2 r ON r.doc_id = f.doc_id GROUP BY f.b
      |), w2 AS (
      |  SELECT dp.b, w.w -
      |         CASE WHEN dp.dprime > 0 THEN
      |           CAST(floor((CAST(n.n * bb2.bsum - dp.t_b * (SELECT SUM(r) FROM r2) AS DOUBLE) * n.n * $QtF)
      |                / ($QtC * CAST(dp.dprime AS DOUBLE))) AS BIGINT)
      |         ELSE 0 END AS w
      |  FROM dp JOIN bb2 ON bb2.b = dp.b JOIN w1 w ON w.b = dp.b, n
      |), afin AS (
      |  SELECT f.doc_id, any_value(f.y) AS y, CAST(SUM(w.w * f.x) AS BIGINT) AS a
      |  FROM feats f LEFT JOIN w2 w ON w.b = f.b GROUP BY f.doc_id
      |), sfin AS (
      |  SELECT d.doc_id, d.y,
      |         b0.b0 + CAST(floor(CAST(n.n * d.a -
      |           (SELECT COALESCE(SUM(w.w * dp.t_b), 0) FROM w2 w JOIN dp ON dp.b = w.b)
      |           AS DOUBLE) / (n.n * $QtF)) AS BIGINT) AS s
      |  FROM afin d, n, b0
      |)
      |$tail"""

  /** Spark twin of [[qualityTrainSql]] — see the llm_quality_train
    * query comment for the algorithm and scale notes. */
  /** The trained-and-scored frame, memoized per (corpus, split key):
    * llm_quality_train and llm_mix_classifier share the "all" split, so
    * within one cache generation the two-step training pays once. */
  private def qualityTrainFrame(
      s: SparkSession, d: String,
      trainPred: Column, scorePred: Column,
      splitKey: String): DataFrame =
   graft.core.Caching.memoDf(s, s"qtScores:$d:$splitKey") {
    val F = QtF; val S2 = QtS; val C = QtC; val M = QtM
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    // label derived ROW-WISE off the shared token cache (r16): the
    // heuristic's three ingredients (stopword fraction of tk,
    // non-alnum count, text length) all ride tokenArrays now, so the
    // old second documents scan + tokenize + doc_id join is gone —
    // same filter (length(trim(text)) > 0 is the cache's own gate),
    // bit-identical arithmetic, one fewer corpus pass per training.
    val yCol =
      ((lit(0.5) * (size(filter(col("tk"), x => x.isInCollection(stops)))
        .cast("double") / size(col("tk"))) +
        lit(0.5) * (lit(1.0) -
          col("n_nonalnum").cast("double") / col("n_text_len"))) >= 0.53)
    // The sparse feature table is consumed ~7× per training run (per
    // iteration: scores, residual joins, bucket sums; plus dp and the
    // final scoring) and shared by all three classifier queries, so —
    // unlike the single-consumer lmScores case where the persist
    // barrier cost more than it saved — memoizing it pays for itself
    // several times over within one cache generation.
    val featAll = graft.core.Caching.memoDf(s, s"qtFeat:$d") {
      LlmQueries.tokenArrays(s, d)
        .select(col("doc_id"), yCol.as("y"), size(col("tk")).as("nt"),
          explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), (Text.hash60(col("tok")) % M).as("b"))
        .agg(first(col("y")).as("y"),
          floor((lit(F) * count(lit(1))).cast("double") / first(col("nt")))
            .cast("long").as("x"))
    }
    val feat = featAll.filter(trainPred)
    val featScore = featAll.filter(scorePred)
    val docs = feat.groupBy("doc_id").agg(first(col("y")).as("y"))
    // 1-row scalar frame (n, b0), broadcast into every stage
    val nb = broadcast(docs.agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("y"), 1L).otherwise(-1L)).cast("long").as("tsum"))
      .select(col("n"),
        floor((lit(S2) * col("tsum")).cast("double") / col("n"))
          .cast("long").as("b0")))
    // per-bucket totals + centered-feature energy D'_b = sum_i u_ib^2
    // (sparse part + the (N - n_b)*T_b^2 absent-doc part, folded)
    val dp = feat.crossJoin(nb).groupBy("b")
      .agg(sum(col("x")).cast("long").as("t_b"),
        sum((col("n") * col("x")) * (col("n") * col("x"))).cast("long").as("sq_raw"),
        first(col("n")).as("n"))
      .select(col("b"), col("t_b"),
        (col("sq_raw") - col("n") * col("t_b") * col("t_b")).as("dprime"))
    def scoresOf(w: Option[DataFrame], featX: DataFrame): DataFrame = {
      val a = w match {
        case Some(wdf) => featX
          .join(broadcast(wdf), Seq("b"), "left")
          .groupBy("doc_id")
          .agg(first(col("y")).as("y"),
            coalesce(sum(col("w") * col("x")), lit(0L)).as("a"))
        case None => featX.groupBy("doc_id")
          .agg(first(col("y")).as("y"), sum(lit(0L)).as("a"))
      }
      val wt = w match {
        case Some(wdf) => broadcast(wdf.join(dp, Seq("b"))
          .agg(coalesce(sum(col("w") * col("t_b")), lit(0L)).as("wt")))
        case None => broadcast(s.range(1).select(lit(0L).as("wt")))
      }
      a.crossJoin(wt).crossJoin(nb)
        .select(col("doc_id"), col("y"),
          (col("b0") + floor((col("n") * col("a") - col("wt")).cast("double") /
            (col("n") * lit(F))).cast("long")).as("s"))
    }
    def step(prev: Option[DataFrame]): DataFrame = {
      val r = scoresOf(prev, feat).select(col("doc_id"),
        (col("s") - when(col("y"), S2).otherwise(-S2)).as("r"))
      val rtot = broadcast(r.agg(coalesce(sum("r"), lit(0L)).as("rtot")))
      val bsum = feat.join(r, Seq("doc_id"))
        .groupBy("b").agg(sum(col("r") * col("x")).as("bsum"))
      val prevW = prev.getOrElse(dp.select(col("b"), lit(0L).as("w")))
      dp.join(bsum, Seq("b")).join(prevW, Seq("b"))
        .crossJoin(rtot).crossJoin(nb)
        .select(col("b"), (col("w") - when(col("dprime") > 0,
          floor((col("n") * col("bsum") - col("t_b") * col("rtot")).cast("double") *
            col("n") * lit(F) /
            (lit(C) * col("dprime").cast("double"))).cast("long"))
          .otherwise(lit(0L))).as("w"))
    }
    // The weight frames are 256 rows but their PLANS are the whole
    // training chain: w2's plan references w1 three times (the
    // residual scoring, the previous-weight join, the wt correction),
    // and each broadcast of an unmaterialized w1 re-executes its
    // subtree — the lazily-composed two-step chain re-scanned the
    // cached feature table ~16× per action (the holdout family's
    // measured 4.5 s). An eager memo pins each step to ONE evaluation
    // per cache generation; values are untouched (every quantity is an
    // integer and every sum associative — the bit-identical contract).
    val w1 = graft.core.Caching.memoDf(s, s"qtW1:$d:$splitKey",
      eager = true)(step(None))
    val w2 = graft.core.Caching.memoDf(s, s"qtW2:$d:$splitKey",
      eager = true)(step(Some(w1)))
    scoresOf(Some(w2), featScore)
      .select(col("doc_id"), col("s").as("score_fp"),
        (col("s") >= 0).as("predicted"), col("y").as("label"))
   }

  val defs: Seq[QueryDef] = Seq(

    // ── TRAINED quality classifier (the fastText/CCNet bootstrap
    //    pattern: fit a cheap linear model to imitate a reference
    //    quality signal, then score everything with it). Features are
    //    256 hashed unigram frequency buckets (fixed-point, F=1000);
    //    the label is the llm_text_quality heuristic ≥ 0.53. Training
    //    is TWO centered, Jacobi-preconditioned least-squares gradient
    //    steps on ±S targets with a fixed intercept b0 = mean(target):
    //    centering + the per-bucket 1/Σu² preconditioner reach 97%
    //    agreement in one step where plain GD needs ~200 (measured),
    //    and two steps are SQL-unrollable. EVERY quantity is a 64-bit
    //    integer (the only divisions are floor()s of exactly-
    //    representable doubles, identical in both engines), and every
    //    sum is an integer sum — associative, so Spark's
    //    order-nondeterministic aggregation cannot change a bit.
    //    Centered features are DENSE, but never materialized: each
    //    centered dot product splits into a sparse term plus a global
    //    correction (N·Σwx − Σw·T_b; N·Σrx − T_b·ΣR), so the plan is
    //    per-iteration: one broadcast of the 256-row weight table, one
    //    map-side-combined doc aggregation, one bucket aggregation —
    //    at 100 TB the token stream is touched twice per step and the
    //    model state stays O(buckets). (The Σ(N·x)² term caps N at
    //    ~2³¹ docs before overflow; shard-and-rescale past that.)
    sql("llm_quality_train",
      qualityTrainSql(trainWhere = "TRUE", scoreWhere = "TRUE"))(
      (s, d) => qualityTrainFrame(s, d, lit(true), lit(true), "all")
        .orderBy("doc_id")),

    // ── Held-out twin: train on the 80% with doc_id % 5 <> 0, score
    //    ONLY the 20% the model never saw (centering statistics, b0,
    //    T_b, N all come from the train split alone). Train agreement
    //    97.4% / held-out 97.5% at sf0.1 — the model generalizes, it
    //    does not memorize. Same integer-exact arithmetic; the oracle
    //    is the same unrolled chain with the two split predicates.
    sql("llm_quality_train_holdout",
      qualityTrainSql(trainWhere = "doc_id % 5 <> 0", scoreWhere = "doc_id % 5 = 0"))(
      (s, d) => qualityTrainFrame(s, d,
        col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0, "holdout")
        .orderBy("doc_id")),

    // ── The classifier put to WORK: per-source top-25% selection by
    //    trained score (the GPT-3-style "classifier-filtered corpus",
    //    stratified so no source is wiped out). The ORACLE states the
    //    semantics the relational way (row_number per source — fine at
    //    oracle scale); the Spark side must NOT: `source` is
    //    low-cardinality by construction, so a window partitioned by it
    //    is a corpus-fraction single task at 100×. TopFraction instead
    //    finds each source's exact score boundary from a per-source
    //    bucket histogram and ranks only within fine (source, bucket)
    //    cells — identical `selected` booleans, corpus-parallel. (The
    //    per-source raw rank was dropped from the surface for exactly
    //    this reason: emitting rk for EVERY row is inherently a
    //    per-source total order; `selected` is the semantic.)
    sql("llm_mix_classifier",
      qualityTrainSql(trainWhere = "TRUE", scoreWhere = "TRUE",
        tail = """, ranked AS (
          |  SELECT s.doc_id, d.source, s.s AS score_fp,
          |         row_number() OVER (PARTITION BY d.source
          |                ORDER BY s.s DESC, s.doc_id) AS rk,
          |         count(*) OVER (PARTITION BY d.source) AS nd
          |  FROM sfin s JOIN documents d USING (doc_id)
          |)
          |SELECT doc_id, source, score_fp,
          |       rk <= CAST(CEIL(0.25 * nd) AS BIGINT) AS selected
          |FROM ranked ORDER BY doc_id""".stripMargin))(
      (s, d) => {
        val scored = qualityTrainFrame(s, d, lit(true), lit(true), "all")
          .select(col("doc_id"), col("score_fp"))
          .join(t(s, d, "documents").select("doc_id", "source"), Seq("doc_id"))
        // snapshot = true, RE-MEASURED round 12 after the eager weight
        // materialization: even with the scored base memo-persisted,
        // snapshot = false re-ran the scored-frame + documents join
        // for TopFraction's second pass and cost 8.0 s vs 5.3 s at
        // sf0.1 — the narrow checkpoint of (group, score, tie) stays
        // cheaper than re-deriving from cache.
        graft.llmops.TopFraction.mark(scored, "score_fp", "doc_id", 0.25,
            groupCols = Seq("source"), snapshot = true)
          .select(col("doc_id"), col("source"), col("score_fp"),
            col("selected"))
          .orderBy("doc_id")
      }),

    // ── Repetition quality gate (the Gopher-rule family): per-document
    //    word-bigram repetition stats — top-gram fraction and the
    //    fraction of occurrences belonging to repeated grams. The Spark
    //    side is a ZERO-SHUFFLE narrow pass: sort the bigram array, find
    //    run boundaries, derive run lengths — all codegen'd higher-order
    //    functions on the row, no explode, no groupBy. The oracle states
    //    the same semantics the relational way (unnest → count → agg),
    //    which is what any oracle-scale engine can afford at sf0.1.
    sql("llm_quality_repetition",
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), occ AS (
        |  SELECT doc_id,
        |         unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
        |  FROM tk WHERE len(t) >= 2
        |), cnt AS (
        |  SELECT doc_id, g, count(*) AS c FROM occ GROUP BY doc_id, g
        |)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_bigrams,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(max(c) AS DOUBLE) / sum(c) AS top_frac,
        |       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
        |         / sum(c) AS dup_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""")(
      (s, d) => {
        val toks = Text.tokens(col("text"))
        val docs = t(s, d, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), toks.as("tk"))
          .filter(size(col("tk")) >= 2)
        // ONE codegen'd pass computes run count (= distinct grams),
        // longest run (= top gram count) and singleton runs straight
        // off the token array (sorted-bigram construction inside the
        // kernel). This replaced an `aggregate()` HOF fold that was
        // bit-identical but interpreted per element with a struct
        // allocation per step — ~2.5M Catalyst evals over the sf0.1
        // corpus (~1 s of the query); the kernel is the same sort +
        // one-pass fold as tight JVM code. The single-reference
        // discipline still applies to the SURROUNDING expressions:
        // CollapseProject inlines a projection per reference, so
        // `folded` is referenced once and projected into fields below.
        val folded = {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GraftFunctions
            .BigramRunsExpr(GraftColumnBridge.expression(col("tk"))))
        }
        docs
          .select(col("doc_id"), (size(col("tk")) - 1).cast("long").as("n"),
            folded.as("f"))
          .select(
            col("doc_id"),
            col("n").as("n_bigrams"),
            col("f.nruns").as("n_distinct"),
            (col("f.best").cast("double") / col("n")).as("top_frac"),
            ((col("n") - col("f.singles")).cast("double") / col("n"))
              .as("dup_frac"))
          // persist before the global sort: the range sampler otherwise
          // re-executes the uncached tail (r14 recipe)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("doc_id")
      }),

    // ── Token-distribution ENTROPY as a quality signal (the
    //    information-density cousin of the Gopher repetition rules: a
    //    templated/boilerplate doc has low unigram entropy even when no
    //    single bigram dominates). EXACT fixed-point Shannon entropy —
    //    H·2^20 bits/token = lg(n) − (Σ cᵢ·lg(cᵢ)) DIV n with lg the
    //    integer shift-and-square log2 (graft_log2_fp), so the value is
    //    a BIGINT both engines compute bit-identically; the oracle
    //    replays the recurrence once per DISTINCT count value through
    //    the shared 20-step CTE chain. Spark side is ZERO-SHUFFLE
    //    narrow: sort the token array, ONE fold accumulates run lengths
    //    and Σ run·lg(run) in a single pass (the llm_quality_repetition
    //    fold discipline: every upstream array referenced exactly once).
    sql("llm_quality_entropy",
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0
        |), occ AS (
        |  SELECT doc_id, unnest(tk) AS tok FROM toks
        |), cnt AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM occ GROUP BY 1, 2
        |), nd AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |         CAST(COUNT(*) AS BIGINT) AS u
        |  FROM cnt GROUP BY 1
        |), vals AS (
        |  SELECT DISTINCT c AS term FROM cnt
        |  UNION SELECT DISTINCT n FROM nd
        |), l0 AS (
        |  SELECT term, CAST(length(printf('%b', term)) - 1 AS BIGINT) AS e,
        |         (term << 21) >> (length(printf('%b', term)) - 1) AS m,
        |         CAST(0 AS BIGINT) AS f
        |  FROM vals
        |),
        |${graft.query.Bm25.idfStepsSql},
        |lg AS (SELECT term AS v, (e << 20) + f AS lg_fp FROM l20),
        |s AS (
        |  SELECT cnt.doc_id, CAST(SUM(cnt.c * lg.lg_fp) AS BIGINT) AS sc
        |  FROM cnt JOIN lg ON lg.v = cnt.c GROUP BY 1
        |)
        |SELECT nd.doc_id, nd.n AS n_tokens, nd.u AS n_distinct,
        |       CAST(ln.lg_fp - s.sc // nd.n AS BIGINT) AS entropy_fp
        |FROM nd JOIN lg ln ON ln.v = nd.n JOIN s ON s.doc_id = nd.doc_id
        |ORDER BY nd.doc_id""")(
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        def lg(c: Column): Column =
          call_function("graft_log2_fp", c, lit(1L))
        val docs = t(s, d, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
          .withColumn("st", array_sort(col("tk")))
        val zero = struct(
          lit(null).cast("string").as("prev"), lit(0L).as("run"),
          lit(0L).as("sc"), lit(0L).as("nruns"))
        val folded = aggregate(col("st"), zero,
          (st, x) => {
            val same = x <=> st.getField("prev")
            val run2 = when(same, st.getField("run") + 1L).otherwise(lit(1L))
            struct(
              x.as("prev"), run2.as("run"),
              (st.getField("sc") + when(same, 0L).otherwise(
                when(st.getField("run") > 0L,
                  st.getField("run") * lg(st.getField("run")))
                  .otherwise(0L))).as("sc"),
              (st.getField("nruns") + when(same, 0L).otherwise(1L))
                .as("nruns"))
          },
          st => struct(
            (st.getField("sc") + when(st.getField("run") > 0L,
              st.getField("run") * lg(st.getField("run"))).otherwise(0L))
              .as("sc"),
            st.getField("nruns").as("nruns")))
        docs
          .select(col("doc_id"), size(col("tk")).cast("long").as("n"),
            folded.as("f"))
          .select(col("doc_id"), col("n").as("n_tokens"),
            col("f.nruns").as("n_distinct"),
            (lg(col("n")) - expr("f.sc DIV n")).as("entropy_fp"))
          // persist before the global sort: the range sampler otherwise
          // re-executes the uncached tail (r14 recipe)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("doc_id")
      }),

    // ── Deterministic source-weighted mixing: each source keeps a
    //    configured fraction of its documents, selected by a stable
    //    content-free hash — every engine (and every rerun) keeps the
    //    same docs, no RNG state to coordinate across 1000 executors.
    //    One narrow scan + one partial-aggregated groupBy on source.
    sql("llm_mix_weighted",
      s"""WITH d AS (
        |  SELECT source, n_chars,
        |         ${QueryDef.hashBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS h,
        |         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
        |              WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
        |              ELSE 0.1 END AS rate
        |  FROM documents
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN h < rate * 2147483647 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN h < rate * 2147483647 THEN n_chars ELSE 0 END)
        |            AS BIGINT) AS chars_kept,
        |       CAST(sum(CASE WHEN h < rate * 2147483647 THEN 1 ELSE 0 END)
        |            AS DOUBLE) / count(*) AS realized_rate
        |FROM d GROUP BY source ORDER BY source""")(
      (s, d) => {
        val h = Text.hash60(concat(lit("mix:"), col("doc_id").cast("string")))
        val rate = when(col("source") === "src0", 1.0)
          .when(col("source") === "src1", 0.75)
          .when(col("source") === "src2", 0.5)
          .when(col("source") === "src3", 0.25)
          .otherwise(0.1)
        val kept = (h < rate * lit(2147483647L)).cast("long")
        t(s, d, "documents")
          .select(col("source"), col("n_chars"), kept.as("kept"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_kept"),
            sum(col("n_chars") * col("kept")).as("chars_kept"))
          .withColumn("realized_rate",
            col("n_kept").cast("double") / col("n_docs"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── TEMPERATURE-sampled multilingual mixing (the UniMax /
    //    mT5-style α=0.5 rule): per-language sampling weights ∝
    //    count^α normalized, so high-resource languages down-sample
    //    and low-resource ones keep more of their data; target corpus
    //    = half the pool. DETERMINISM: √n is quantized to a 1e-6
    //    fixed-point BIGINT before the cross-language normalization sum
    //    (integer Σ is order-independent; sqrt itself is IEEE
    //    correctly-rounded — no libm variance), every later double op
    //    has the identical expression shape in both engines, and the
    //    keep decision is the stable content-free hash the other
    //    sampling operators share. Scale: one tiny lang rollup
    //    broadcast back onto a narrow scan.
    sql("llm_mix_temperature",
      s"""WITH lc AS (
        |  SELECT lang, COUNT(*) AS n,
        |         CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
        |              AS BIGINT) AS s
        |  FROM documents GROUP BY lang
        |), tot AS (
        |  SELECT SUM(s) AS st, SUM(n) AS nd FROM lc
        |), rates AS (
        |  SELECT lang, n, CAST(s AS DOUBLE) / st AS w,
        |         LEAST(1.0, (CAST(s AS DOUBLE) / st)
        |           * (CAST(nd AS DOUBLE) / 2.0) / n) AS rate
        |  FROM lc, tot
        |), d AS (
        |  SELECT d.lang, r.n, r.w, r.rate,
        |         ${QueryDef.hashBucketSql("'tmix:' || CAST(d.doc_id AS VARCHAR)")} AS h
        |  FROM documents d JOIN rates r USING (lang)
        |)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs, MAX(w) AS weight,
        |       MAX(rate) AS rate,
        |       CAST(SUM(CASE WHEN h < rate * 2147483647 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept
        |FROM d GROUP BY lang ORDER BY lang""")(
      (s, d) => {
        val lc = t(s, d, "documents").groupBy("lang").agg(
          count(lit(1)).as("n"),
          floor(sqrt(count(lit(1)).cast("double")) * lit(1000000.0))
            .cast("long").as("s"))
        val tot = lc.agg(sum("s").as("st"), sum("n").as("nd"))
        val rates = lc.crossJoin(broadcast(tot))
          .select(col("lang"), col("n"),
            (col("s").cast("double") / col("st")).as("w"),
            least(lit(1.0), (col("s").cast("double") / col("st")) *
              (col("nd").cast("double") / lit(2.0)) / col("n")).as("rate"))
        val h = Text.hash60(concat(lit("tmix:"), col("doc_id").cast("string")))
        t(s, d, "documents")
          .select(col("lang"), h.as("h"))
          .join(broadcast(rates), Seq("lang"))
          .groupBy("lang").agg(
            max("n").cast("long").as("n_docs"),
            max("w").as("weight"),
            max("rate").as("rate"),
            sum(when(col("h") < col("rate") * lit(2147483647L), 1L)
              .otherwise(0L)).as("n_kept"))
          .transform(QueryDef.sortedRollup(_, "lang"))
      }),

    // ── Quality-weighted sampling: keep probability = the document's
    //    quality score (the llm_text_quality formula), decided by the
    //    same stable content-free hash as the other sampling operators —
    //    deterministic, coordination-free, and biased toward cleaner
    //    text the way curation pipelines down-weight low-quality docs.
    //    Every derived double is a division/product of exact integers.
    sql("llm_mix_quality",
      s"""WITH f AS (
        |  SELECT doc_id,
        |         length(text) AS n_chars,
        |         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
        |         len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
        |         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        |             x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
        |         ${QueryDef.hashBucketSql("'qmix:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents WHERE length(trim(text)) > 0
        |), q AS (
        |  SELECT doc_id, h,
        |         0.5 * (CAST(n_stop AS DOUBLE) / n_tokens)
        |           + 0.5 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS quality
        |  FROM f
        |)
        |SELECT doc_id, quality, h < quality * 2147483647 AS kept
        |FROM q ORDER BY doc_id""")(
      (s, d) => {
        val stops = Seq("the", "a", "of", "and", "to", "in", "is")
        val f = t(s, d, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"), col("text"),
            Text.tokens(col("text")).as("tk"),
            Text.hash60(concat(lit("qmix:"), col("doc_id").cast("string")))
              .as("h"))
          .select(col("doc_id"), col("h"),
            length(col("text")).cast("long").as("n_chars"),
            size(col("tk")).cast("long").as("n_tokens"),
            graft.llmops.Text.nonAlnumCount(col("text")).cast("long")
              .as("n_punct"),
            size(filter(col("tk"), x => x.isInCollection(stops)))
              .cast("long").as("n_stop"))
        val quality =
          lit(0.5) * (col("n_stop").cast("double") / col("n_tokens")) +
            lit(0.5) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars"))
        f.select(col("doc_id"), quality.as("quality"),
            (col("h") < quality * lit(2147483647L)).as("kept"))
          .orderBy("doc_id")
      }),

    // ── DSIR-style importance resampling (Xie et al. 2023, "Data
    //    Selection for Language Models via Importance Resampling"):
    //    hashed unigram bag-of-words models of a TARGET distribution
    //    (here the English half of the corpus) and the RAW pool, a
    //    per-document importance weight, and top-25% selection. The
    //    per-bucket likelihood ratio is FIXED-POINT ((ct+1)(Nr+m) /
    //    (cr+1)(Nt+m), floored at 1e-6 resolution — exact integer
    //    products < 2^53, one correctly-rounded IEEE division; no libm
    //    log whose ulp could differ between engines), so the per-doc
    //    weight Σ n_b·q_b is an exact BIGINT — order-independent and
    //    bit-identical both sides. Scale shape: the feature model is
    //    4096 rows (DSIR's own design point — the model is
    //    driver-sized), broadcast back onto the token stream; the
    //    per-doc aggregation rides the token cache's
    //    hashpartitioning(doc_id). The exact top-f rank is the
    //    deterministic oracle twin of the paper's Gumbel-noise sampling
    //    (independent per row at 100 TB; exact rank needs the one
    //    doc-level sort this query ends in anyway).
    sql("llm_mix_dsir",
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0
        |), tokrows AS (
        |  SELECT doc_id, is_t,
        |         CAST(('0x' || substring(md5(unnest(tk)), 1, 15)) AS BIGINT)
        |           % 2147483647 % 4096 AS b
        |  FROM toks
        |), bc AS (
        |  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
        |         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
        |  FROM tokrows GROUP BY b
        |), tot AS (
        |  SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bc
        |), q AS (
        |  SELECT b, CAST(FLOOR((CAST(ct + 1 AS DOUBLE) * (nr + 4096)) /
        |    (CAST(cr + 1 AS DOUBLE) * (nt + 4096)) * 1000000.0) AS BIGINT)
        |    AS qb
        |  FROM bc, tot
        |), docw AS (
        |  SELECT r.doc_id, COUNT(*) AS n_tokens, SUM(q.qb) AS weight_fp
        |  FROM tokrows r JOIN q ON q.b = r.b GROUP BY r.doc_id
        |), ranked AS (
        |  SELECT doc_id, n_tokens, weight_fp,
        |         CAST(weight_fp AS DOUBLE) / n_tokens / 1000000.0
        |           AS importance,
        |         RANK() OVER (ORDER BY
        |           CAST(weight_fp AS DOUBLE) / n_tokens DESC, doc_id) AS rk,
        |         COUNT(*) OVER () AS nd
        |  FROM docw
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(weight_fp AS BIGINT) AS weight_fp, importance,
        |       rk <= CAST(CEIL(0.25 * nd) AS BIGINT) AS selected
        |FROM ranked ORDER BY doc_id""")(
      (s, d) => {
        // per-doc weights off the shared memo: the 4096-row feature
        // model (ONE map-side-combined shuffle, broadcast back onto the
        // token stream) and the doc aggregation riding the token
        // cache's partitioning — built once per (session, dir)
        val docw = dsirWeights(s, d)
        // top-25% selection WITHOUT the corpus-wide one-reducer rank:
        // TopFraction buckets the (always positive) importance score by
        // its order-preserving bit image, finds the exact boundary from
        // a histogram-sized cumsum, and ranks only within fine buckets
        // — same boolean the oracle's RANK() OVER (ORDER BY …) yields
        val scored = docw.withColumn("score",
          col("weight_fp").cast("double") / col("n_tokens"))
        // snapshot = false: docw rides the dsirWeights session memo, so
        // the two TopFraction passes re-read the cache, not the corpus
        graft.llmops.TopFraction.mark(scored, "score", "doc_id", 0.25,
            snapshot = false)
          .select(col("doc_id"), col("n_tokens"), col("weight_fp"),
            (col("score") / 1000000.0).as("importance"), col("selected"))
          // persist before the global sort: the range sampler otherwise
          // re-executes the uncached tail (r14 recipe)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("doc_id")
      }),

    // ── CCNet-style LANGUAGE-MODEL quality scoring (Wenzek et al.
    //    2020): a bigram model trained on the reference-domain corpus
    //    (the English half) scores every document; documents above the
    //    corpus mean are kept — the perplexity-filter shape with a
    //    DETERMINISTIC twist: probabilities are add-1-smoothed exact
    //    rationals floored to a 1e-9 fixed-point BIGINT (no libm log —
    //    the score is the mean bigram probability, a documented
    //    monotone-family deviation from log-perplexity), so the per-doc
    //    sum is order-independent and engine-exact. Scale: the model is
    //    two vocabulary-scale count tables joined onto the corpus
    //    bigram stream; the per-doc aggregation rides the token cache's
    //    partitioning; the keep threshold is one broadcast scalar.
    sql("llm_quality_lmscore",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0
        |), ref AS (
        |  SELECT tk FROM toks WHERE lang = 'en'
        |), uni AS (
        |  SELECT u.w, COUNT(*) AS c1
        |  FROM (SELECT unnest(tk) AS w FROM ref) u GROUP BY u.w
        |), vocab AS (SELECT COUNT(*) AS v FROM uni),
        |bi AS (
        |  SELECT b.bg, COUNT(*) AS c2 FROM (
        |    SELECT unnest([tk[i] || ' ' || tk[i+1]
        |                   for i in range(1, len(tk))]) AS bg
        |    FROM ref
        |  ) b GROUP BY b.bg
        |), docbg AS (
        |  SELECT doc_id,
        |         unnest([tk[i] || ' ' || tk[i+1]
        |                 for i in range(1, len(tk))]) AS bg,
        |         unnest([tk[i] for i in range(1, len(tk))]) AS w1
        |  FROM toks
        |), scored AS (
        |  SELECT d.doc_id,
        |         CAST(FLOOR(1000000000.0 * (COALESCE(b.c2, 0) + 1)
        |              / (COALESCE(u.c1, 0) + v.v)) AS BIGINT) AS q
        |  FROM docbg d
        |  LEFT JOIN bi b ON b.bg = d.bg
        |  LEFT JOIN uni u ON u.w = d.w1
        |  CROSS JOIN vocab v
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(q) AS score_fp
        |  FROM scored GROUP BY doc_id
        |), tot AS (
        |  SELECT SUM(score_fp) AS ts, SUM(n_bigrams) AS tn FROM agg
        |)
        |SELECT a.doc_id, CAST(a.n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(a.score_fp AS BIGINT) AS score_fp,
        |       CAST(a.score_fp AS DOUBLE) / a.n_bigrams / 1000000000.0
        |         AS mean_p,
        |       (CAST(a.score_fp AS DOUBLE) / a.n_bigrams)
        |         > (CAST(t.ts AS DOUBLE) / t.tn) AS kept
        |FROM agg a CROSS JOIN tot t ORDER BY a.doc_id""")(
      (s, d) => {
        // model training + corpus scoring off the shared memo (built
        // once per cache generation; the funnel's LM gate reads the
        // same persisted aggregates)
        val agg = lmScores(s, d)
        val tot = agg.agg(sum("score_fp").as("ts"), sum("n_bigrams").as("tn"))
        agg.crossJoin(broadcast(tot))
          .select(col("doc_id"),
            col("n_bigrams"), col("score_fp"),
            (col("score_fp").cast("double") / col("n_bigrams") /
              lit(1000000000.0)).as("mean_p"),
            ((col("score_fp").cast("double") / col("n_bigrams")) >
              (col("ts").cast("double") / col("tn"))).as("kept"))
          // persist before the global sort: the range sampler otherwise
          // re-executes the uncached tail (r14 recipe)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("doc_id")
      }),

    // ── The SECOND composed curation funnel — this session's operators
    //    as ONE declarative plan with per-source stage accounting:
    //    CCNet LM gate → exact-substring low-dup gate → DSIR top-25%
    //    selection among survivors → temperature (α=0.5) sampling over
    //    the survivors' language mix. Every stage reuses its
    //    oracle-gated construction through the session caches (LM
    //    scores, duplicated starts, DSIR weights), so the funnel adds
    //    only doc-id-sized joins and two broadcast scalars on top of
    //    work the constituent queries already pay for.
    sql("llm_curate_pipeline2",
      """WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0
        |),
        |ref AS (SELECT tk FROM toks WHERE lang = 'en'),
        |uni AS (SELECT u.w, COUNT(*) AS c1
        |        FROM (SELECT unnest(tk) AS w FROM ref) u GROUP BY u.w),
        |vocab AS (SELECT COUNT(*) AS v FROM uni),
        |bi AS (SELECT b.bg, COUNT(*) AS c2 FROM (
        |    SELECT unnest([tk[i] || ' ' || tk[i+1]
        |                   for i in range(1, len(tk))]) AS bg FROM ref
        |  ) b GROUP BY b.bg),
        |docbg AS (
        |  SELECT doc_id,
        |         unnest([tk[i] || ' ' || tk[i+1]
        |                 for i in range(1, len(tk))]) AS bg,
        |         unnest([tk[i] for i in range(1, len(tk))]) AS w1
        |  FROM toks
        |),
        |lmagg AS (
        |  SELECT d.doc_id, COUNT(*) AS nbg,
        |         SUM(CAST(FLOOR(1000000000.0 * (COALESCE(b.c2, 0) + 1)
        |             / (COALESCE(u.c1, 0) + v.v)) AS BIGINT)) AS score_fp
        |  FROM docbg d LEFT JOIN bi b ON b.bg = d.bg
        |       LEFT JOIN uni u ON u.w = d.w1 CROSS JOIN vocab v
        |  GROUP BY d.doc_id
        |),
        |lmtot AS (SELECT SUM(score_fp) AS ts, SUM(nbg) AS tn FROM lmagg),
        |s1 AS (
        |  SELECT a.doc_id FROM lmagg a CROSS JOIN lmtot t
        |  WHERE (CAST(a.score_fp AS DOUBLE) / a.nbg)
        |    > (CAST(t.ts AS DOUBLE) / t.tn)
        |),
        |pg AS (
        |  SELECT doc_id, unnest(range(1, len(tk) - 3)) AS i,
        |         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |                 tk[i+3] || ' ' || tk[i+4]
        |                 for i in range(1, len(tk) - 3)]) AS gram
        |  FROM toks
        |),
        |occ AS (
        |  SELECT doc_id, i, COUNT(*) OVER (PARTITION BY
        |    CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT)
        |      % 2147483647) AS occ
        |  FROM pg
        |),
        |dupt AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_tokens FROM (
        |    SELECT doc_id, LEAST(5, COALESCE(
        |      LEAD(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 5)) AS c
        |    FROM (SELECT doc_id, i FROM occ WHERE occ > 1)
        |  ) GROUP BY doc_id
        |),
        |s2 AS (
        |  SELECT t.doc_id FROM toks t JOIN s1 USING (doc_id)
        |  LEFT JOIN dupt d USING (doc_id)
        |  WHERE COALESCE(d.dup_tokens, 0) * 5 < len(t.tk)
        |),
        |tokrows AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |         CAST(('0x' || substring(md5(unnest(tk)), 1, 15)) AS BIGINT)
        |           % 2147483647 % 4096 AS b
        |  FROM toks
        |),
        |bc AS (SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
        |              SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
        |       FROM tokrows GROUP BY b),
        |tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM bc),
        |qt AS (SELECT b, CAST(FLOOR((CAST(ct + 1 AS DOUBLE) * (nr + 4096))
        |         / (CAST(cr + 1 AS DOUBLE) * (nt + 4096))
        |         * 1000000.0) AS BIGINT) AS qb
        |       FROM bc, tot),
        |docw AS (SELECT r.doc_id, COUNT(*) AS n_tokens, SUM(q.qb) AS weight_fp
        |         FROM tokrows r JOIN qt q ON q.b = r.b GROUP BY r.doc_id),
        |s3 AS (
        |  SELECT doc_id FROM (
        |    SELECT w.doc_id,
        |           RANK() OVER (ORDER BY
        |             CAST(w.weight_fp AS DOUBLE) / w.n_tokens DESC,
        |             w.doc_id) AS rk,
        |           COUNT(*) OVER () AS nd
        |    FROM docw w JOIN s2 USING (doc_id)
        |  ) WHERE rk <= CAST(CEIL(0.25 * nd) AS BIGINT)
        |),
        |lc AS (
        |  SELECT t.lang, COUNT(*) AS n,
        |         CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
        |              AS BIGINT) AS s
        |  FROM toks t JOIN s3 USING (doc_id) GROUP BY t.lang
        |),
        |ltot AS (SELECT SUM(s) AS st, SUM(n) AS nd FROM lc),
        |rates AS (
        |  SELECT lang, LEAST(1.0, (CAST(s AS DOUBLE) / st)
        |    * (CAST(nd AS DOUBLE) / 2.0) / n) AS rate FROM lc, ltot
        |),
        |s4 AS (
        |  SELECT t.doc_id FROM toks t JOIN s3 USING (doc_id)
        |       JOIN rates r USING (lang)
        |  WHERE CAST(('0x' || substring(md5('tmix2:' ||
        |          CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |          % 2147483647 < r.rate * 2147483647
        |)
        |SELECT t.source,
        |       CAST(COUNT(*) AS BIGINT) AS n0,
        |       CAST(SUM(CASE WHEN s1.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_lm,
        |       CAST(SUM(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_lowdup,
        |       CAST(SUM(CASE WHEN s3.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_dsir,
        |       CAST(SUM(CASE WHEN s4.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_final
        |FROM toks t
        |LEFT JOIN s1 ON s1.doc_id = t.doc_id
        |LEFT JOIN s2 ON s2.doc_id = t.doc_id
        |LEFT JOIN s3 ON s3.doc_id = t.doc_id
        |LEFT JOIN s4 ON s4.doc_id = t.doc_id
        |GROUP BY t.source ORDER BY t.source""")(
      (s, d) => {
        import graft.core.Caching.memoDf
        // meta IS a projection of the shared token cache (same non-empty
        // filter, and the cache carries the narrow metadata columns) —
        // no parquet scan, no join; each evaluation is a cached-scan
        // column prune
        val meta = LlmQueries.tokenArrays(s, d)
          .select("doc_id", "lang", "source")
        // Every stage frame below is doc-id-sized and PINNED (an eager
        // memoDf, counted once per cache generation) the moment it
        // exists: each stage's plan nests the previous stages' plus a
        // shared-memo build, and the final accounting references all
        // four — Catalyst does not CSE plan subtrees, so the unpinned
        // form re-executed the bigram-LM chain once per REFERENCE
        // (~5× lmScores under full materialization; count()-based
        // benches hid this by pruning the provably-unique left joins
        // away — 55-66 s vs 2.7 s at sf0.1). Pinning caps the funnel at
        // one execution per constituent plus four doc-id-sized cache
        // writes; the construction memo on top stops the Analyzer
        // re-walking the nested funnel plans on every invocation
        // (~1-2 s driver time per bench pass at sf1).
        //
        // The three pinned chains are INDEPENDENT given the token cache
        // (bigram LM; positional-shingle dup starts; DSIR weights) —
        // materialize them concurrently (guide §2.6) so the funnel's
        // wall time is the LONGEST chain, not the sum (measured at
        // sf0.1: lm ~1.8 s + starts ~0.7 s + weights ~0.4 s serial →
        // max ≈ 1.8 s overlapped). The shared token cache is pinned
        // first, single-threaded, so the racing chains read it instead
        // of double-computing it.
        LlmQueries.tokenArrays(s, d)
        graft.core.Caching.pinConcurrently(s)(
          () => { lmScores(s, d); () },
          () => { LlmQueries.substringDupStarts(s, d); () },
          () => { dsirWeights(s, d); () })
        val lm = lmScores(s, d)
        val dup = LlmQueries.substringDupTokens(s, d)
        val w = dsirWeights(s, d)
        // r15 RESTRUCTURE (guide §1.2 step 1 — fix the distributed
        // algorithm's job count, not its stages' insides): the four
        // doc-id-sized stage frames (s1..s4) + their four eager pins +
        // the 4-way union of the old accounting are replaced by ONE
        // pinned doc-level BASE (meta ⋈ lm ⋈ dup ⋈ weights — every join
        // doc-id-keyed over cached doc-id-partitioned inputs) carrying
        // the stage memberships as COLUMN predicates:
        //   f1 (LM gate)      = score_fp/n_bigrams > ts/tn (NULL → out,
        //                       exactly like the old inner join),
        //   f2 (low-dup gate) = f1 && dup_tokens·5 < n_tokens
        //                       (n_tokens ≡ size(tk): every token lands
        //                       in exactly one DSIR bucket),
        //   f3 (DSIR top-25%) = TopFraction over base.filter(f2) — the
        //                       identical (score DESC, doc_id) boundary
        //                       semantics, and
        //   f4 (temp sample)  = the tmix2 hash gate against the lang
        //                       rates computed from the f3 survivors.
        // The per-source accounting is then TWO aggregates (base-side
        // n0/n_lm/n_lowdup; survivor-side n_dsir/n_final) stitched by a
        // 5-row join — measured at sf0.1 this halves the funnel's
        // serial post-pin job chain (old: 4 stage counts + 4 cache
        // writes + union-agg; new: base count + TopFraction's two
        // passes + two rollup aggs).
        val base = memoDf(s, s"p2base:$d", eager = true) {
          meta
            .join(lm, Seq("doc_id"), "left")
            .join(dup, Seq("doc_id"), "left")
            .join(w, Seq("doc_id"), "left")
        }
        // one-row LM total, pinned so each downstream action's
        // broadcast reads cache instead of re-aggregating
        val lmTot = memoDf(s, s"p2lmtot:$d", eager = true)(
          base.agg(sum("score_fp").as("ts"), sum("n_bigrams").as("tn")))
        val f1 = (col("score_fp").cast("double") / col("n_bigrams")) >
          (col("ts").cast("double") / col("tn"))
        val f2 = f1 &&
          (coalesce(col("dup_tokens"), lit(0L)) * 5 < col("n_tokens"))
        val fb = base.crossJoin(broadcast(lmTot))
        // DSIR top-25% among the gate survivors — exact boundary from
        // the bucket histogram, no global rank. snapshot = false: both
        // TopFraction passes read the pinned base. The survivor frame
        // is pinned: the lang-rate aggregate AND the final accounting
        // both read it.
        val s3docs = memoDf(s, s"p2s3:$d", eager = true)(
          graft.llmops.TopFraction.mark(
            fb.filter(f2).withColumn("score",
              col("weight_fp").cast("double") / col("n_tokens"))
              .select(col("doc_id"), col("lang"), col("source"), col("score")),
            "score", "doc_id", 0.25, snapshot = false)
          .filter(col("selected")).select("doc_id", "lang", "source"))
        // temperature rates over the survivors' lang mix (tiny: one agg
        // over the pinned survivor frame, broadcast back)
        val lc = s3docs.groupBy("lang").agg(
          count(lit(1)).as("n"),
          floor(sqrt(count(lit(1)).cast("double")) * lit(1000000.0))
            .cast("long").as("sv"))
        val lt = lc.agg(sum("sv").as("st"), sum("n").as("nd2"))
        val rates = lc.crossJoin(broadcast(lt))
          .select(col("lang"), least(lit(1.0),
            (col("sv").cast("double") / col("st")) *
              (col("nd2").cast("double") / lit(2.0)) / col("n")).as("rate"))
        val h = Text.hash60(concat(lit("tmix2:"),
          col("doc_id").cast("string")))
        memoDf(s, s"p2final:$d") {
          // base-side counts (stages 0-2) and survivor-side counts
          // (stages 3-4), each ONE map-side-combined aggregate over a
          // pinned frame; stitched on the source rollup key
          val aggA = fb.groupBy("source").agg(
            count(lit(1)).as("n0"),
            sum(when(f1, 1L).otherwise(0L)).as("n_lm"),
            sum(when(f2, 1L).otherwise(0L)).as("n_lowdup"))
          val aggB = s3docs.join(broadcast(rates), Seq("lang"))
            .groupBy("source").agg(
              count(lit(1)).as("n_dsir"),
              sum(when(h < col("rate") * lit(2147483647L), 1L)
                .otherwise(0L)).as("n_final"))
          aggA.join(aggB, Seq("source"), "left")
            .select(col("source"), col("n0"), col("n_lm"), col("n_lowdup"),
              coalesce(col("n_dsir"), lit(0L)).as("n_dsir"),
              coalesce(col("n_final"), lit(0L)).as("n_final"))
            .transform(QueryDef.sortedRollup(_, "source"))
        }
      }),

    // ── Exact per-stratum sampling head: the k hash-smallest documents
    //    of every language. The Spark side uses the bounded top-k
    //    AGGREGATE (TopK.smallestK): map-side combine caps shuffle volume
    //    at k pairs per (partition × stratum), where the textbook window
    //    (`row_number() ... <= k` — the oracle's phrasing) shuffles every
    //    row of the corpus into one task per stratum first.
    sql("llm_sample_stratified",
      s"""WITH h AS (
        |  SELECT lang, doc_id,
        |         ${QueryDef.hashBucketSql("'strat:' || CAST(doc_id AS VARCHAR)")} AS bucket
        |  FROM documents
        |)
        |SELECT lang,
        |       CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY bucket, doc_id) AS BIGINT) AS rank,
        |       doc_id, bucket
        |FROM h QUALIFY rank <= $StratumK
        |ORDER BY lang, rank""")(
      (s, d) => {
        val h = Text.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
        val packed = t(s, d, "documents")
          .select(col("lang"), h.as("bucket"), col("doc_id"))
          .groupBy("lang")
          .agg(TopK.smallestK(StratumK)(col("bucket"), col("doc_id")).as("p"))
        packed
          .select(col("lang"), explode(transform(
            sequence(lit(1), (size(col("p")) / lit(2)).cast("int")), i =>
              struct(i.cast("long").as("rank"),
                element_at(col("p"), i * 2).as("doc_id"),
                element_at(col("p"), i * 2 - 1).as("bucket")))).as("e"))
          .select(col("lang"), col("e.rank").as("rank"),
            col("e.doc_id").as("doc_id"), col("e.bucket").as("bucket"))
          .orderBy("lang", "rank")
      }),

    // ── CLUSTER-BALANCED diversity sampling: cap each semantic
    //    cluster's contribution so dominant modes can't crowd the
    //    sample — the embedding-space analog of per-language
    //    stratification (llm_sample_stratified), used to diversify a
    //    corpus before expensive annotation/training. Cluster id = one
    //    LSH table's 6 hyperplane sign bits (64 clusters; pure integer
    //    plane arithmetic shared with llm_sim_lsh, so the oracle
    //    replays assignment exactly — no k-means state to ship).
    //    Selection inside a cluster is the deterministic hash head;
    //    quota scales with corpus size, capped by the aggregator bound.
    //    Scale shape: assignment is a NARROW codegen'd pass; selection
    //    is the bounded top-k aggregate (map-side combine, shuffle ≤
    //    k × clusters per partition); the quota is a broadcast 1-row
    //    scalar — no corpus-wide window, nothing driver-sized.
    sql("llm_sample_cluster",
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |b AS (
        |  SELECT vec_id,
        |         SUM(CASE WHEN list_dot_product(e,
        |               [CAST((i*131 + d) * 2654435761 % 1000003 AS DOUBLE)
        |                  / 1000003.0 - 0.5 for d in range(0, 64)]) >= 0
        |             THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS cluster
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS i)
        |  GROUP BY vec_id
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
        |k AS (SELECT least($ClusterQuotaCap,
        |               greatest(2, (n_total + 255) // 256)) AS quota FROM n),
        |cs AS (SELECT cluster, count(*) AS n_cluster FROM b GROUP BY cluster),
        |r AS (
        |  SELECT cluster, vec_id,
        |         row_number() OVER (PARTITION BY cluster ORDER BY
        |           ${QueryDef.hashBucketSql(
                      "'cluster:' || CAST(vec_id AS VARCHAR)")}, vec_id)
        |           AS rank
        |  FROM b
        |)
        |SELECT CAST(r.cluster AS BIGINT) AS cluster,
        |       CAST(r.rank AS BIGINT) AS rank, r.vec_id,
        |       CAST(cs.n_cluster AS BIGINT) AS n_cluster
        |FROM r JOIN cs USING (cluster) CROSS JOIN k
        |WHERE r.rank <= k.quota
        |ORDER BY cluster, rank""")(
      (s, d) => {
        val e = t(s, d, "embeddings")
        val withC = e.select(col("vec_id"),
          element_at(Similarity.lshBucketArray(
            Similarity.asDouble(col("embedding"))), 1).as("cluster"))
        val selKey = Text.hash60(
          concat(lit("cluster:"), col("vec_id").cast("string")))
        val packed = withC
          .select(col("cluster"), selKey.as("h"), col("vec_id"))
          .groupBy("cluster")
          .agg(TopK.smallestK(ClusterQuotaCap)(col("h"), col("vec_id")).as("p"),
            count(lit(1)).as("n_cluster"))
        val nTotal = e.agg(count(lit(1)).cast("long").as("n_total"))
        packed.crossJoin(broadcast(nTotal))
          .withColumn("quota", least(lit(ClusterQuotaCap.toLong),
            greatest(lit(2L), expr("(n_total + 255) DIV 256"))))
          .select(col("cluster"), col("n_cluster"),
            explode(transform(
              sequence(lit(1), least((size(col("p")) / lit(2)).cast("int"),
                col("quota").cast("int"))), i =>
                struct(i.cast("long").as("rank"),
                  element_at(col("p"), i * 2).as("vec_id")))).as("e2"))
          .select(col("cluster"), col("e2.rank").as("rank"),
            col("e2.vec_id").as("vec_id"), col("n_cluster"))
          .orderBy("cluster", "rank")
      }),

    // ── Token-budget epoch planning: allocate a global token budget
    //    across sources by integer weight, convert each source's share
    //    into an epoch (repeat) factor capped at 4.0 — the standard
    //    data-mixture planning step before training. Integer weights
    //    keep every derived double a single division/product of exact
    //    integers (cross-row float sums are NOT cross-engine stable;
    //    integer sums are).
    sql("llm_token_budget",
      s"""WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
        |             END) AS toks,
        |         CASE source WHEN 'src0' THEN 40 WHEN 'src1' THEN 30
        |              WHEN 'src2' THEN 20 WHEN 'src3' THEN 10
        |              ELSE 5 END AS w
        |  FROM documents GROUP BY source
        |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM s)
        |SELECT source,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(toks AS BIGINT) AS source_tokens,
        |       CAST(w AS DOUBLE) / tw AS share,
        |       $TokenBudget * (CAST(w AS DOUBLE) / tw) AS target_tokens,
        |       least(4.0, $TokenBudget * (CAST(w AS DOUBLE) / tw) / toks)
        |         AS epochs,
        |       least(4.0, $TokenBudget * (CAST(w AS DOUBLE) / tw) / toks)
        |         * toks AS planned_tokens
        |FROM s, tot ORDER BY source""")(
      (s, d) => {
        val w = when(col("source") === "src0", 40L)
          .when(col("source") === "src1", 30L)
          .when(col("source") === "src2", 20L)
          .when(col("source") === "src3", 10L)
          .otherwise(5L)
        val bySource = t(s, d, "documents")
          .select(col("source"), nTokens(col("text")).as("nt"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"), sum("nt").as("source_tokens"))
          .withColumn("w", w)
        // total weight: an unpartitioned window over #sources rows — the
        // frame at this point is one row per source, not corpus-sized
        val share = col("w").cast("double") /
          sum("w").over(Window.partitionBy())
        val target = lit(TokenBudget) * share
        val epochs = least(lit(4.0), target / col("source_tokens"))
        bySource.select(col("source"), col("n_docs"), col("source_tokens"),
            share.as("share"), target.as("target_tokens"),
            epochs.as("epochs"),
            (epochs * col("source_tokens")).as("planned_tokens"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── Corpus profiling: per-source token-count distribution (the
    //    stats sheet every corpus build publishes). Exact interpolated
    //    percentiles — both engines implement the standard
    //    h = (n-1)·q linear interpolation over sorted values, and the
    //    interpolation arithmetic on integer token counts is the same
    //    IEEE ops on the same operands, so the gate stays cell-exact.
    //    One shuffle on source with map-side partial aggregation; the
    //    sketch-based scale path (approx_percentile / t-digest) is the
    //    spec-bounded variant below — exact percentile state is
    //    per-group O(values), fine for per-source groups, not for
    //    per-document ones.
    sql("llm_profile_tokens",
      """WITH f AS (
        |  SELECT source,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
        |              END AS nt
        |  FROM documents
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(nt) AS BIGINT) AS min_tokens,
        |       CAST(max(nt) AS BIGINT) AS max_tokens,
        |       CAST(sum(nt) AS DOUBLE) / count(*) AS mean_tokens,
        |       quantile_cont(nt, 0.5) AS p50,
        |       quantile_cont(nt, 0.9) AS p90,
        |       quantile_cont(nt, 0.99) AS p99
        |FROM f GROUP BY source ORDER BY source""")(
      (s, d) => {
        val f = t(s, d, "documents")
          .select(col("source"), nTokens(col("text")).as("nt"))
        f.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            min("nt").as("min_tokens"),
            max("nt").as("max_tokens"),
            (sum("nt").cast("double") / count(lit(1))).as("mean_tokens"),
            percentile(col("nt"), lit(0.5)).as("p50"),
            percentile(col("nt"), lit(0.9)).as("p90"),
            percentile(col("nt"), lit(0.99)).as("p99"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── The sketch path for the same profile: approx_percentile
    //    (Greenwald-Khanna) keeps bounded state per group regardless of
    //    group size — the variant that survives percentiles OVER a
    //    column with billions of values per group. The sketch's answer
    //    is engine-specific (discrete rank rules differ), so the query
    //    is SELF-CHECKING instead of rows-only: each approximate
    //    percentile must land on an order statistic within ±1 rank of
    //    its target — checked against the group's sorted values, which
    //    exist ONLY as the in-harness oracle (the sketch alone is the
    //    scale path). The exact side is computed from the per-source
    //    DISTINCT-VALUE histogram (token counts are a bounded integer
    //    domain, so its state is value-domain-sized like the
    //    length-hist query — NOT a collect of the group's rows, which
    //    would reintroduce the unbounded state the sketch exists to
    //    avoid): a cumulative sum over (source, nt, count) yields the
    //    order statistics at ranks r−1, r, r+1, and the sketch's
    //    answer must land inside that value window. GK is
    //    deterministic for a given input, so the gate is stable; the
    //    tighter error bound stays in the spec suite.
    // Oracle mirrors the WHOLE gate — its own t-digest quantiles, the
    // exact distinct-value-histogram rank bounds, and the same
    // between-check — so the bench row compares equivalent work (see
    // a1_facets_sketch). The ±1-rank band is safe for DuckDB's
    // approx_quantile on this domain (token counts are a dense small
    // integer range; probed equal to quantile_disc at both gate SFs).
    sql("llm_profile_tokens_approx",
      """WITH f AS (
        |  SELECT source,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
        |              END AS nt
        |  FROM documents
        |), sk AS (
        |  SELECT source, count(*) AS n_docs,
        |         approx_quantile(nt, 0.5) AS a50,
        |         approx_quantile(nt, 0.9) AS a90,
        |         approx_quantile(nt, 0.99) AS a99
        |  FROM f GROUP BY source
        |), hist AS (
        |  SELECT source, nt, count(*) AS c FROM f GROUP BY source, nt
        |), h2 AS (
        |  SELECT source, nt,
        |         sum(c) OVER (PARTITION BY source ORDER BY nt) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |  FROM hist
        |), ex AS (
        |  SELECT source,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.5 * n) AS BIGINT) - 1, 1), n) THEN nt END) AS lo50,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.5 * n) AS BIGINT) + 1, 1), n) THEN nt END) AS hi50,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.9 * n) AS BIGINT) - 1, 1), n) THEN nt END) AS lo90,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.9 * n) AS BIGINT) + 1, 1), n) THEN nt END) AS hi90,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.99 * n) AS BIGINT) - 1, 1), n) THEN nt END) AS lo99,
        |    min(CASE WHEN cum >= least(greatest(CAST(ceil(0.99 * n) AS BIGINT) + 1, 1), n) THEN nt END) AS hi99
        |  FROM h2 GROUP BY source
        |)
        |SELECT sk.source, CAST(sk.n_docs AS BIGINT) AS n_docs,
        |       (sk.a50 BETWEEN ex.lo50 AND ex.hi50)
        |         AND (sk.a90 BETWEEN ex.lo90 AND ex.hi90)
        |         AND (sk.a99 BETWEEN ex.lo99 AND ex.hi99) AS sketch_ok
        |FROM sk JOIN ex ON ex.source = sk.source
        |ORDER BY sk.source""")(
      (s, d) => {
        // pin the narrow (source, nt) frame: the sketch aggregate and
        // the exact-histogram branch would otherwise EACH re-run the
        // regex token count over the full text column (the query's
        // dominant cost, paid twice; the oracle materializes its CTE
        // once)
        val f = graft.core.Caching.persistOnce(
          t(s, d, "documents")
            .select(col("source"), nTokens(col("text")).as("nt")))
        val sketch = f.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          approx_percentile(col("nt"), lit(0.5), lit(10000)).as("a50"),
          approx_percentile(col("nt"), lit(0.9), lit(10000)).as("a90"),
          approx_percentile(col("nt"), lit(0.99), lit(10000)).as("a99"))
        // exact order statistics from the distinct-value histogram:
        // rank r's value = min nt whose cumulative count reaches r
        val hist = f.groupBy("source", "nt").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(
            Window.partitionBy("source").orderBy("nt")))
          .withColumn("n", sum("c").over(Window.partitionBy("source")))
        def rankOf(p: Double): Column =
          least(greatest(ceil(lit(p) * col("n")).cast("long"), lit(1L)), col("n"))
        def valAt(p: Double, off: Int): Column =
          min(when(col("cum") >=
            least(greatest(rankOf(p) + off, lit(1L)), col("n")), col("nt")))
        val exact = hist.groupBy("source").agg(
          valAt(0.5, -1).as("lo50"), valAt(0.5, 1).as("hi50"),
          valAt(0.9, -1).as("lo90"), valAt(0.9, 1).as("hi90"),
          valAt(0.99, -1).as("lo99"), valAt(0.99, 1).as("hi99"))
        sketch.join(exact, "source")
          .withColumn("sketch_ok",
            col("a50").between(col("lo50"), col("hi50")) &&
              col("a90").between(col("lo90"), col("hi90")) &&
              col("a99").between(col("lo99"), col("hi99")))
          .select(col("source"), col("n_docs"), col("sketch_ok"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── Corpus novelty profile: what fraction of each document's
    //    distinct 3-gram shingles appear in at least one OTHER document.
    //    The boilerplate/memorization-risk sheet a corpus build reads
    //    before dedup threshold tuning. Shape: the cached (doc_id, g)
    //    postings get gram document-frequency via ONE window over a
    //    hash-partition on g (no self-join — the count(*) frame needs no
    //    ordering beyond the partition sort), then re-aggregate on
    //    doc_id: two shuffles total, both on high-cardinality keys, no
    //    broadcast of anything corpus-sized (gram vocabulary GROWS with
    //    the corpus — unlike tf-idf's unigram table it must never be a
    //    broadcast side).
    sql("llm_profile_novelty",
      s"""WITH ${LlmQueries.ShingleCtes}, ghd AS (
        |  SELECT DISTINCT doc_id, g FROM gh
        |), df AS (
        |  SELECT g, count(*) AS df FROM ghd GROUP BY g
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS shared_frac,
        |       CAST(max(df) AS BIGINT) AS max_df
        |FROM ghd JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""")(
      (s, d) => {
        val rows = LlmQueries.gramSetRows(s, d)
        // df >= 2 ⇔ the gram occurs in another doc: the postings are
        // distinct per (doc, gram) by construction. df comes from the
        // SHARED per-gram vocabulary memo (one map-side-combined shuffle
        // serving the whole gram family), not a corpus-postings window —
        // the window paid the same shuffle PLUS a sort, per query.
        val df = LlmQueries.gramDfFlags(s, d).select(col("g"), col("df"))
        val shared1 = sum(when(col("df") >= 2, 1L).otherwise(0L))
        // persist before the global sort (the range sampler otherwise
        // re-executes the join+aggregate tail)
        graft.core.Caching.persistOnce(
          rows.join(df.hint("shuffle_hash"), Seq("g"))
            .groupBy("doc_id").agg(
              count(lit(1)).as("n_grams"),
              shared1.as("n_shared"),
              (shared1.cast("double") / count(lit(1))).as("shared_frac"),
              max("df").as("max_df")))
          .orderBy("doc_id")
      }),

    // ── Containment near-dup pairs: |A∩B| / min(|A|,|B|) — the
    //    ASYMMETRIC overlap that catches a small document embedded in a
    //    larger one, which resemblance (Jaccard) structurally misses
    //    (a 50-gram doc inside a 500-gram doc has J ≈ 0.1 but
    //    containment 1.0). Candidates come from bottom-8 fingerprint
    //    collisions (the winnow sketch — per-doc bottom-k of the global
    //    gram-hash order, a ZERO-shuffle slice of the cached sorted
    //    sets); the sketch is deterministic, so the oracle encodes the
    //    same two-part contract the MinHash gate uses: qualify iff the
    //    sketches collide AND full-set containment ≥ 0.8. Verify joins
    //    ship the candidate side as the shuffled-hash build — never a
    //    corpus broadcast.
    sql("llm_dedup_containment",
      s"""WITH ${LlmQueries.ShingleCtes}, ghd AS (
        |  SELECT DISTINCT doc_id, g FROM gh
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM ghd GROUP BY doc_id
        |), bot AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY g) AS r
        |    FROM ghd) WHERE r <= 8
        |), ${graft.llmops.SkewGuard.oracleCandSql(
             "bot", Seq("g"), "doc_id", "a_id", "b_id")}, shared AS (
        |  SELECT c.a_id, c.b_id, count(*) AS shared
        |  FROM cand c JOIN ghd ga ON ga.doc_id = c.a_id
        |              JOIN ghd gb ON gb.doc_id = c.b_id AND gb.g = ga.g
        |  GROUP BY 1, 2
        |)
        |SELECT s.a_id, s.b_id, CAST(s.shared AS BIGINT) AS shared,
        |       CAST(s.shared AS DOUBLE) / least(sa.n, sb.n) AS containment
        |FROM shared s JOIN sizes sa ON sa.doc_id = s.a_id
        |              JOIN sizes sb ON sb.doc_id = s.b_id
        |WHERE CAST(s.shared AS DOUBLE) / least(sa.n, sb.n) >= 0.8
        |ORDER BY s.a_id, s.b_id""")(
      (s, d) => {
        val stats = LlmQueries.docGramStats(s, d)
        // gs is sorted ascending — bottom-8 is a narrow slice
        val bot = stats.select(col("doc_id"),
          explode(slice(col("gs"), 1, 8)).as("g"))
        // per-bottom-gram size guard (SkewGuard contract, mirrored in
        // the oracle): a boilerplate gram in 10⁴ documents' bottom-8
        // emits a star, not a k² cell
        val cand = graft.llmops.SkewGuard
          .cellPairs(bot, Seq("g"), "doc_id")
        val cont = col("shared").cast("double") / least(col("na"), col("nb"))
        // pairs colliding in SEVERAL bottom grams repeat in `cand` —
        // dedup on the post-verify OUTPUT (identical rows, ≤ threshold
        // survivors), not the candidate stream: an input distinct is a
        // full extra exchange of the pair stream to drop the few
        // percent of repeats (bounded ≤ 8× by the bottom-8 slice), and
        // the repeated icounts are cheaper than the shuffle they save
        // (measured 1.30 s → 0.85 s sf0.1 for the verify stage)
        cand.hint("shuffle_hash")
          .join(stats.select(col("doc_id").as("a_id"), col("gs").as("gs_a"),
            col("n").as("na")), "a_id")
          .hint("shuffle_hash")
          .join(stats.select(col("doc_id").as("b_id"), col("gs").as("gs_b"),
            col("n").as("nb")), "b_id")
          .withColumn("shared",
            LlmQueries.icount(s, col("gs_a"), col("gs_b")))
          .filter(cont >= 0.8)
          .select(col("a_id"), col("b_id"), col("shared"),
            cont.as("containment"))
          .dropDuplicates("a_id", "b_id")
          // persist before the global sort: the range sampler otherwise
          // re-executes the uncached tail (r14 recipe)
          .transform(graft.core.Caching.persistOnce)
          .orderBy("a_id", "b_id")
      }),

    // ── Vocabulary profile per source: distinct 3-gram count, posting
    //    count, and the posting-per-gram reuse ratio — the Heaps-law
    //    sheet that sizes dedup/index side tables before a corpus run.
    //    The postings arrive hash-partitioned on doc_id from the shared
    //    gram cache, so attaching provenance shuffles only the 2-column
    //    documents projection; the multi-distinct aggregate expands
    //    rows 3× inside one exchange (exact path — the HLL variant
    //    below is the bounded-state scale path).
    sql("llm_profile_vocab",
      s"""WITH ${LlmQueries.ShingleCtes}, ghd AS (
        |  SELECT DISTINCT doc_id, g FROM gh
        |)
        |SELECT d.source,
        |       CAST(count(DISTINCT ghd.doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_postings,
        |       CAST(count(DISTINCT ghd.g) AS BIGINT) AS n_grams,
        |       CAST(count(*) AS DOUBLE) / count(DISTINCT ghd.g)
        |         AS reuse_ratio
        |FROM ghd JOIN documents d ON d.doc_id = ghd.doc_id
        |GROUP BY d.source ORDER BY d.source""")(
      (s, d) => {
        val rows = LlmQueries.gramSetRows(s, d)
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        rows.join(src, "doc_id")
          .groupBy("source").agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_postings"),
            countDistinct(col("g")).as("n_grams"),
            (count(lit(1)).cast("double") / countDistinct(col("g")))
              .as("reuse_ratio"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── The HLL scale path for the vocabulary profile: sketch state is
    //    constant per group where the exact expand-distinct holds every
    //    distinct gram hash in the aggregation — the variant that
    //    survives a source with billions of distinct grams. SELF-
    //    CHECKING like the other sketch twins: exact distinct counts
    //    ride along as the in-harness oracle and the emitted `docs_ok` /
    //    `grams_ok` flags assert the estimates within 3σ of rsd=0.02;
    //    the oracle recomputes n_postings exactly and expects TRUE/TRUE
    //    (HLL++ is deterministic per input — a stable gate, with the
    //    tight error bound in the spec suite).
    // Oracle runs its own HLLs + exact counts + the same bound (not
    // TRUE literals) so the bench compares sketch-vs-sketch — see
    // a1_facets_sketch for the instrument-asymmetry rationale.
    sql("llm_profile_vocab_approx",
      s"""WITH ${LlmQueries.ShingleCtes}, ghd AS (
        |  SELECT DISTINCT doc_id, g FROM gh
        |)
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_postings,
        |       abs(approx_count_distinct(ghd.doc_id)
        |           - count(DISTINCT ghd.doc_id))
        |         <= greatest(3.0, 0.06 * count(DISTINCT ghd.doc_id))
        |         AS docs_ok,
        |       abs(approx_count_distinct(ghd.g) - count(DISTINCT ghd.g))
        |         <= greatest(3.0, 0.06 * count(DISTINCT ghd.g))
        |         AS grams_ok
        |FROM ghd JOIN documents d ON d.doc_id = ghd.doc_id
        |GROUP BY d.source ORDER BY d.source""")(
      (s, d) => {
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        def within3Sigma(est: Column, exact: Column): Column =
          abs(est - exact).cast("double") <=
            greatest(lit(3.0), lit(0.06) * exact)
        // Everything doc-granular comes off the cached per-doc gram sets
        // WITHOUT exploding postings: rows are unique per doc, so
        // x_docs = count(*), est_docs = HLL over doc-level ids (same
        // distinct set → same registers), and n_postings = Σ|gs| (the
        // sets are already deduped). Only the gram-distinct pair needs
        // the posting explode — and the HLL and the exact distinct stay
        // SEPARATE aggregates: combined, the one-distinct rewrite
        // computes the HLL partial in the (source, g)-keyed first
        // aggregate, shipping a ~400-byte register buffer per DISTINCT
        // POSTING across the exchange (measured 2× the whole query);
        // split, the HLL pass is one narrow map-side-combined scan and
        // the distinct pass ships bare (source, g) partials.
        val dl = LlmQueries.docGramStats(s, d)
          .select(col("doc_id"), col("gs"), col("n"))
          .join(src, "doc_id")
        val docAgg = dl.groupBy("source").agg(
          count(lit(1)).as("x_docs"),
          approx_count_distinct(col("doc_id"), 0.02).as("est_docs"),
          sum(col("n")).as("n_postings"))
        // ONE posting explode, deduped on (source, g) first: HLL is
        // duplicate-insensitive, so the estimate over the DISTINCT rows
        // has identical registers to one over the multiset — and the
        // exact distinct count is then a plain count(*). This replaces
        // the r14 shape's TWO explode passes (narrow HLL scan + a
        // two-stage countDistinct) with one explode + one dedup
        // exchange; the earlier hazard (fusing HLL with countDistinct
        // in ONE aggregate ships a 400-byte HLL partial per distinct
        // posting through the one-distinct rewrite) does not apply —
        // the dedup exchange ships bare (source, g) pairs and the HLL
        // partials aggregate AFTER it, per (source, partition).
        val distG = dl.select(col("source"), explode(col("gs")).as("g"))
          .dropDuplicates("source", "g")
        val gAgg = distG.groupBy("source").agg(
          count(lit(1)).as("x_grams"),
          approx_count_distinct(col("g"), 0.02).as("est_grams"))
        docAgg.join(gAgg, "source")
          .select(col("source"), col("n_postings"),
            within3Sigma(col("est_docs"), col("x_docs")).as("docs_ok"),
            within3Sigma(col("est_grams"), col("x_grams")).as("grams_ok"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── Dedup impact sheet: near-dup cluster size histogram plus the
    //    singleton mass — how many docs each dedup pass keeps/drops at
    //    each cluster size. Components come from the same min-label
    //    propagation the components query uses (pair-graph-sized, tiny
    //    next to the corpus); the histogram is two map-side-combined
    //    aggregations over it, and the singleton row derives from two
    //    1-row counts joined as broadcast literals.
    sql("llm_dedup_cluster_stats",
      s"""WITH RECURSIVE ${LlmQueries.ShingleCtes},
        |${LlmQueries.SimhashPairCtes}, ${LlmQueries.ComponentCtes}, csize AS (
        |  SELECT comp, count(*) AS sz FROM comp GROUP BY comp
        |), hist AS (
        |  SELECT sz, count(*) AS n_clusters FROM csize GROUP BY sz
        |), counts AS (
        |  SELECT (SELECT count(*) FROM documents)
        |           - (SELECT count(*) FROM comp) AS n1
        |)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |       CAST(n_clusters AS BIGINT) AS n_clusters,
        |       CAST(sz * n_clusters AS BIGINT) AS n_docs,
        |       CAST((sz - 1) * n_clusters AS BIGINT) AS n_dropped
        |FROM (SELECT 1 AS sz, n1 AS n_clusters FROM counts
        |      UNION ALL SELECT sz, n_clusters FROM hist)
        |ORDER BY cluster_size""")(
      (s, d) => {
        val labels = LlmQueries
          .simhashComponents(s, d)
        val hist = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("nd"))
        val nClustered = labels.agg(count(lit(1)).as("nc"))
        val singles = nDocs.crossJoin(nClustered)
          .select(lit(1L).as("sz"), (col("nd") - col("nc")).as("n_clusters"))
        singles.unionByName(hist)
          .select(col("sz").cast("long").as("cluster_size"),
            col("n_clusters").cast("long").as("n_clusters"),
            (col("sz") * col("n_clusters")).cast("long").as("n_docs"),
            ((col("sz") - 1) * col("n_clusters")).cast("long")
              .as("n_dropped"))
          .orderBy("cluster_size")
      }),

    // ── Dedup APPLICATION — the operational endpoint of the pair/
    //    component machinery: per source, the keep-list accounting a
    //    training pipeline actually consumes. Cluster representative =
    //    the component's min doc id (the component label itself), every
    //    other member drops; docs outside any component are singletons
    //    and keep. One corpus scan + a left join against the pair-graph-
    //    sized label frame (broadcast: labels ≤ 2·|pairs|, tiny next to
    //    the corpus by the banding contract) + one map-side-combined
    //    groupBy.
    sql("llm_dedup_apply",
      s"""WITH RECURSIVE ${LlmQueries.ShingleCtes},
        |${LlmQueries.SimhashPairCtes}, ${LlmQueries.ComponentCtes}, nt AS (
        |  SELECT doc_id, source,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
        |         END AS n_tokens
        |  FROM documents
        |), k AS (
        |  SELECT nt.source, nt.n_tokens,
        |         (c.doc_id IS NULL OR c.comp = nt.doc_id) AS keep
        |  FROM nt LEFT JOIN comp c ON c.doc_id = nt.doc_id
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_dropped,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |       CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_kept
        |FROM k GROUP BY source ORDER BY source""")(
      (s, d) => {
        val labels = LlmQueries.simhashComponents(s, d)
          .select(col("node").as("doc_id"), col("comp"))
        val nt = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            Text.nTokens(col("text")).as("n_tokens"))
        val keep = coalesce(col("comp") === col("doc_id"), lit(true))
        nt.join(broadcast(labels), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(keep.cast("long")).as("n_kept"),
            sum((!keep).cast("long")).as("n_dropped"),
            sum(col("n_tokens")).as("tokens_total"),
            sum(when(keep, col("n_tokens")).otherwise(0L)).as("tokens_kept"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── Approximate token-count quantiles by DETERMINISTIC hash
    //    sampling — the mergeable-sketch capability in an oracle-exact
    //    form: the sample is the docs whose stable content-free hash
    //    falls under the rate (here 1/8 for test-scale density;
    //    production uses 1/2^k to size the sample), quantiles are the
    //    exact nearest-rank elements OF THE SAMPLE, and exact global
    //    min/max ride the same corpus scan as partial aggregates. Error
    //    contract: each reported quantile's true rank deviates by
    //    O(sqrt(q(1-q)/m)) for sample size m — honest, documented, and
    //    every engine/rerun draws the SAME sample (no RNG state across
    //    1000 executors). The only sort is sample-sized BY CONSTRUCTION
    //    (the window partitions a frame the rate already shrank).
    sql("llm_profile_quantiles",
      s"""WITH nt AS (
        |  SELECT doc_id,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
        |         END AS n
        |  FROM documents
        |), samp AS (
        |  SELECT doc_id, n FROM nt
        |  WHERE ${QueryDef.hashBucketSql(
              "'quant:' || CAST(doc_id AS VARCHAR)")} % 8 = 0
        |), r AS (
        |  SELECT n, row_number() OVER (ORDER BY n, doc_id) AS rk,
        |         count(*) OVER () AS m
        |  FROM samp
        |), q AS (
        |  SELECT CAST(max(m) AS BIGINT) AS sample_n,
        |         CAST(max(CASE WHEN rk = CAST(CEIL(0.25 * m) AS BIGINT)
        |                       THEN n END) AS BIGINT) AS q25,
        |         CAST(max(CASE WHEN rk = CAST(CEIL(0.50 * m) AS BIGINT)
        |                       THEN n END) AS BIGINT) AS q50,
        |         CAST(max(CASE WHEN rk = CAST(CEIL(0.75 * m) AS BIGINT)
        |                       THEN n END) AS BIGINT) AS q75,
        |         CAST(max(CASE WHEN rk = CAST(CEIL(0.95 * m) AS BIGINT)
        |                       THEN n END) AS BIGINT) AS q95
        |  FROM r
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(min(n) AS BIGINT) AS min_tokens,
        |         CAST(max(n) AS BIGINT) AS max_tokens
        |  FROM nt
        |)
        |SELECT g.n_docs, g.min_tokens, g.max_tokens,
        |       q.sample_n, q.q25, q.q50, q.q75, q.q95
        |FROM g CROSS JOIN q""")(
      (s, d) => {
        val nt = t(s, d, "documents")
          .select(col("doc_id"), Text.nTokens(col("text")).as("n"))
        val h = Text.hash60(
          concat(lit("quant:"), col("doc_id").cast("string")))
        val samp = nt.filter(h % 8 === 0)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n"), col("doc_id"))
        val r = samp
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("m", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)))
        def qAt(p: Double, name: String) =
          max(when(col("rk") === ceil(lit(p) * col("m")).cast("long"),
            col("n"))).cast("long").as(name)
        val q = r.agg(max(col("m")).cast("long").as("sample_n"),
          qAt(0.25, "q25"), qAt(0.50, "q50"), qAt(0.75, "q75"),
          qAt(0.95, "q95"))
        val g = nt.agg(count(lit(1)).cast("long").as("n_docs"),
          min("n").cast("long").as("min_tokens"),
          max("n").cast("long").as("max_tokens"))
        g.crossJoin(broadcast(q))
      }),

    // ── Length-distribution histogram per source: documents binned by
    //    character count (64-char integer-division buckets — exact on
    //    both engines, no float binning). One map-side-combined groupBy
    //    over a 2-column scan; completes the profiling sheet family
    //    (percentiles → summary, histogram → shape).
    sql("llm_profile_length_hist",
      """SELECT source,
        |       CAST(n_chars // 64 AS BIGINT) AS bin,
        |       CAST(min(n_chars) AS BIGINT) AS lo,
        |       CAST(max(n_chars) AS BIGINT) AS hi,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY source, n_chars // 64
        |ORDER BY source, bin""")(
      (s, d) => t(s, d, "documents")
        .groupBy(col("source"), floor(col("n_chars") / 64).as("bin"))
        .agg(min("n_chars").as("lo"), max("n_chars").as("hi"),
          count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
        .select(col("source"), col("bin"), col("lo"), col("hi"),
          col("n_docs"), col("n_chars_total"))
        // group-cardinality rollup (source × 64-char bin)
        .transform(QueryDef.sortedRollup(_, "source", "bin"))),

    // ── Leakage-safe split assignment: hash on the near-dup FAMILY
    //    (component canonical, falling back to the doc id for
    //    singletons) instead of the doc id, so two near-duplicate
    //    documents can never land in different splits — the standard
    //    guard against train→eval leakage that plain per-doc hashing
    //    (llm_split_assign) does not give. The family table is
    //    pair-graph-sized (≪ corpus), so the corpus-side join
    //    broadcasts it; thresholds match llm_split_assign's 90/5/5.
    sql("llm_split_leakage_safe",
      s"""WITH RECURSIVE ${LlmQueries.ShingleCtes},
        |${LlmQueries.SimhashPairCtes}, ${LlmQueries.ComponentCtes},
        |assigned AS (
        |  SELECT d.doc_id,
        |         CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS family,
        |         ${QueryDef.hashBucketSql(
                     "CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)")} AS h
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |)
        |SELECT doc_id, family,
        |       CASE WHEN h < 0.9 * 2147483647 THEN 'train'
        |            WHEN h < 0.95 * 2147483647 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM assigned ORDER BY doc_id""")(
      (s, d) => {
        val canon = LlmQueries
          .simhashComponents(s, d)
          .select(col("node").as("doc_id"), col("comp"))
        val family = coalesce(col("comp"), col("doc_id"))
        val h = Text.hash60(family.cast("string"))
        t(s, d, "documents").select(col("doc_id"))
          .join(broadcast(canon), Seq("doc_id"), "left")
          .select(col("doc_id"), family.as("family"),
            when(h < 0.9 * 2147483647L, "train")
              .when(h < 0.95 * 2147483647L, "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      }),

    // ── The composed corpus build — the full curation funnel as ONE
    //    declarative plan: quality gate → exact-dup keep (min doc id
    //    per content hash among quality passers) → near-dup drop
    //    (simhash connected components, full-corpus canonical labels) →
    //    split assignment, with per-(source, stage) doc/token
    //    accounting. Each doc lands in exactly one stage: the first
    //    filter that rejects it, or its split. This is what a user of
    //    the reference would run nightly; every constituent operator is
    //    also individually oracle-gated above/in LlmQueries. Stage
    //    order is part of the contract; near-dup canonicals are
    //    computed on the FULL corpus (quality-failed docs still anchor
    //    a component) — the conservative convention, documented.
    sql("llm_curate_pipeline",
      s"""WITH RECURSIVE ${LlmQueries.ShingleCtes}, ${LlmQueries.SimhashPairCtes},
        |${LlmQueries.ComponentCtes}, base AS (
        |  SELECT doc_id, source, text,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
        |              END AS n_tokens,
        |         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
        |             x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
        |         ${QueryDef.hashBucketSql("CAST(doc_id AS VARCHAR)")} AS bucket
        |  FROM documents
        |), flagged AS (
        |  SELECT *, (n_tokens >= 20 AND
        |             CAST(n_stop AS DOUBLE) / n_tokens >= 0.02) AS q_pass
        |  FROM base
        |), exact AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS exact_min
        |  FROM flagged WHERE q_pass
        |), staged AS (
        |  SELECT f.source, f.n_tokens,
        |         CASE WHEN NOT f.q_pass THEN 'quality_fail'
        |              WHEN f.doc_id <> e.exact_min THEN 'exact_dup'
        |              WHEN COALESCE(c.comp, f.doc_id) <> f.doc_id THEN 'near_dup'
        |              WHEN f.bucket < 0.9 * 2147483647 THEN 'train'
        |              WHEN f.bucket < 0.95 * 2147483647 THEN 'val'
        |              ELSE 'test' END AS stage
        |  FROM flagged f
        |  LEFT JOIN exact e USING (doc_id)
        |  LEFT JOIN comp c USING (doc_id)
        |)
        |SELECT source, stage,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM staged GROUP BY source, stage ORDER BY source, stage""")(
      (s, d) => {
        val stops = Seq("the", "a", "of", "and", "to", "in", "is")
        // n_tokens and n_stop derive from one shared tk subtree — after
        // CollapseProject both references inline, but sharing the exact
        // subtree lets codegen subexpression elimination evaluate the
        // split once per row (split of "" is [""], hence the guard)
        val base = t(s, d, "documents")
          .withColumn("tk", Text.tokens(col("text")))
          .select(
            col("doc_id"), col("source"), col("text"),
            when(length(trim(col("text"))) === 0, 0L)
              .otherwise(size(col("tk")).cast("long")).as("n_tokens"),
            size(filter(col("tk"), x => x.isInCollection(stops)))
              .cast("long").as("n_stop"),
            Text.hash60(col("doc_id").cast("string")).as("bucket"))
        val flagged = base.withColumn("q_pass",
          col("n_tokens") >= 20 &&
            col("n_stop").cast("double") / col("n_tokens") >= 0.02)
        // exact-dup keep: min doc id per content hash, quality passers
        // only (hashing the text keeps the exchange narrow — equal texts
        // hash equal, collisions only merge groups identically on both
        // engines since the oracle groups on the same md5)
        val exactMin = flagged.filter(col("q_pass"))
          .withColumn("exact_min",
            min("doc_id").over(Window.partitionBy(md5(col("text")))))
          .select("doc_id", "exact_min")
        // near-dup canonicals: full-corpus simhash pair graph → min-label
        // components (tiny, localCheckpointed ⇒ broadcast-joined back)
        val canon = LlmQueries
          .simhashComponents(s, d)
          .select(col("node").as("doc_id"), col("comp"))
        flagged
          .join(exactMin, Seq("doc_id"), "left")
          .join(canon, Seq("doc_id"), "left")
          .withColumn("stage",
            when(!col("q_pass"), "quality_fail")
              .when(col("doc_id") =!= col("exact_min"), "exact_dup")
              .when(coalesce(col("comp"), col("doc_id")) =!= col("doc_id"),
                "near_dup")
              .when(col("bucket") < 0.9 * 2147483647L, "train")
              .when(col("bucket") < 0.95 * 2147483647L, "val")
              .otherwise("test"))
          .groupBy("source", "stage").agg(
            count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          // group-cardinality rollup (source × 6 stages)
          .transform(QueryDef.sortedRollup(_, "source", "stage"))
      }),

    // ── Cross-source duplication matrix: which sources mirror each
    //    other — the provenance question a dedup run answers for corpus
    //    ops (drop a mirrored source wholesale vs pair-by-pair). Joins
    //    the (small) near-dup pair set to per-doc provenance with the
    //    pair side as the shuffled-hash build — the same
    //    never-broadcast-the-corpus shape as the MinHash verify stage.
    sql("llm_dup_source_matrix",
      s"""WITH RECURSIVE ${LlmQueries.ShingleCtes}, ${LlmQueries.SimhashPairCtes},
        |${LlmQueries.ComponentCtes}, j AS (
        |  SELECT least(da.source, db.source) AS source_a,
        |         greatest(da.source, db.source) AS source_b,
        |         d.hamming
        |  FROM dup d
        |  JOIN documents da ON da.doc_id = d.a_id
        |  JOIN documents db ON db.doc_id = d.b_id
        |)
        |SELECT source_a, source_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       min(hamming) AS min_hamming
        |FROM j GROUP BY source_a, source_b ORDER BY source_a, source_b""")(
      (s, d) => {
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        val dup = LlmQueries.simhashPairs(s, d)
          .select(col("a_id"), col("b_id"), col("hamming"))
        dup.hint("shuffle_hash")
          .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
            "a_id")
          .hint("shuffle_hash")
          .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
            "b_id")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"), col("hamming"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"), min("hamming").as("min_hamming"))
          // group-cardinality rollup (source-pair matrix)
          .transform(QueryDef.sortedRollup(_, "source_a", "source_b"))
      }),

    // ── Corpus tf-idf top terms per document (keyword extraction for
    //    curation/search). idf is the RATIONAL form N/df — a monotone
    //    proxy for ln(N/df) at fixed tf that both engines compute
    //    bit-identically (ln is libm-dependent and would break the hash
    //    gate; ranking within a document differs only where ln's
    //    compression reorders mixed (tf, df) pairs, which the contract
    //    documents). Shape: tokens explode → (doc, term, tf) partial-agg
    //    → df partial-agg on term → join on term → per-doc top-3. The
    //    1-row corpus count joins as a broadcast literal, not an action.
    sql("llm_text_tfidf",
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), tf AS (
        |  SELECT doc_id, unnest(t) AS term FROM tk
        |), tfc AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tf GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM tk)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id
        |         ORDER BY tf * (CAST(n_docs AS DOUBLE) / df) DESC, term)
        |         AS BIGINT) AS rank,
        |       term, tf,
        |       tf * (CAST(n_docs AS DOUBLE) / df) AS score
        |FROM tfc JOIN df USING (term) CROSS JOIN n
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""")(
      (s, d) => {
        // single-file table ⇒ one input split: spread the tokenize work
        // across the session width before the explode (same rationale as
        // gramHashes); hashpartitioning(doc_id) then satisfies BOTH the
        // (doc_id, term) grouping and the per-doc rank window, so the tf
        // aggregation and the window pay no further exchange
        // tf feeds THREE plan branches (n_docs, the df aggregation, the
        // join probe) — Catalyst does not CSE plan subtrees, so without
        // a persist the tokenize+explode+aggregate runs per branch
        // (measured 1.2 s vs 0.9 s at sf0.1). The branches materialize
        // SEQUENTIALLY (df must finish before its broadcast, before the
        // probe), so lazy persist suffices — no eager count job. The
        // construction is memoized per (session, dir) like the gram
        // caches (repeat invocations pay a map lookup, not re-analysis).
        // MEMORY_AND_DISK default spills rather than OOMs at corpus
        // scale.
        // the tokenize pass is the SHARED token-array cache
        // (LlmQueries.tokenArrays — one corpus tokenize for the gram
        // family and this query); its hashpartitioning(doc_id)
        // satisfies the (doc_id, term) grouping AND the per-doc rank
        // window, so neither pays an exchange
        val tf = graft.core.Caching.memoDf(s, s"tfidfTf:$d") {
          LlmQueries.tokenArrays(s, d)
            .select(col("doc_id"), explode(col("tk")).as("term"))
            .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        }
        // a trimmed-nonempty text always splits to ≥1 token, so "docs
        // with text" ≡ "rows of the token-array cache" — a plain count
        // over the cached doc-level frame (one row per doc), not a
        // countDistinct over the (doc, term)-sized tf table
        val nDocs = LlmQueries.tokenArrays(s, d)
          .agg(count(lit(1)).as("n_docs"))
        // df is VOCABULARY-sized (distinct terms ≪ corpus rows) and is
        // re-attached to every (doc, term) row — broadcast it rather
        // than sort-merge-shuffling the tf side on the low-cardinality
        // term key (which also concentrates hot terms into few tasks).
        // A corpus whose term table outgrows the broadcast threshold
        // should drop the hint and lean on AQE's skew-join handling.
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(nDocs))
          .withColumn("score",
            col("tf") * (col("n_docs").cast("double") / col("df")))
        // persist before the global sort (sampler re-execution of the
        // join+window tail; output is docs×3 rows — tiny)
        graft.core.Caching.persistOnce(scored
            .withColumn("rank", row_number().over(
              Window.partitionBy("doc_id")
                .orderBy(col("score").desc, col("term"))).cast("long"))
            .filter(col("rank") <= 3)
            .select("doc_id", "rank", "term", "tf", "score"))
          .orderBy("doc_id", "rank")
      }),

    // ── Boilerplate coverage (the CCNet/RefinedWeb-style pre-filter):
    //    "viral" 3-grams — those present in ≥1% of documents — are
    //    boilerplate candidates; each source reports its pooled viral-
    //    coverage fraction and how many docs cross the 30% removal
    //    threshold. The threshold is RELATIVE to corpus size, so the
    //    query is scale-invariant. Every emitted double divides integer
    //    sums (pooled nv/n, flag via nv*10 >= n*3) — no cross-row float
    //    sums, per this file's parity doctrine. Scale shape: gram df is
    //    the one shared vocabulary shuffle (gramDfFlags cache, reused by
    //    jaccard + contamination); the viral subset is df-capped small →
    //    broadcast back onto the postings; source rollup is one
    //    map-side-combined exchange.
    sql("llm_boilerplate_fraction",
      s"""WITH ${LlmQueries.ShingleCtes}, ghd AS (
        |  SELECT DISTINCT doc_id, g FROM gh
        |), tot AS (
        |  SELECT count(*) AS nd FROM (SELECT DISTINCT doc_id FROM ghd)
        |), dfv AS (
        |  SELECT g, count(*) AS df FROM ghd GROUP BY g
        |), viral AS (
        |  SELECT g FROM dfv, tot WHERE df * 100 >= nd
        |), per AS (
        |  SELECT ghd.doc_id, count(*) AS n, count(v.g) AS nv
        |  FROM ghd LEFT JOIN viral v ON v.g = ghd.g
        |  GROUP BY ghd.doc_id
        |)
        |SELECT d.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(nv) AS DOUBLE) / SUM(n) AS corpus_bp,
        |       CAST(SUM(CASE WHEN nv * 10 >= n * 3 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_flagged
        |FROM per JOIN documents d ON d.doc_id = per.doc_id
        |GROUP BY d.source ORDER BY d.source""")(
      (s, d) => {
        val ghd = LlmQueries.gramSetRows(s, d)
        val tot = LlmQueries.docGramStats(s, d).agg(count(lit(1)).as("nd"))
        val viral = LlmQueries.gramDfFlags(s, d)
          .crossJoin(broadcast(tot))
          .filter(col("df") * 100 >= col("nd"))
          .select(col("g"), lit(1).as("isviral"))
        val per = ghd.join(broadcast(viral), Seq("g"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"), count(col("isviral")).as("nv"))
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        per.join(src, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (sum("nv").cast("double") / sum("n")).as("corpus_bp"),
            sum(when(col("nv") * 10 >= col("n") * 3, 1).otherwise(0))
              .cast("long").as("n_flagged"))
          .transform(QueryDef.sortedRollup(_, "source"))
      }),

    // ── Per-label embedding health sheet: double-quantized centroid,
    //    average norm, and cosine dispersion to the centroid — the
    //    drift/collapse check a curation run does before trusting ANN
    //    buckets built on those embeddings. DETERMINISM BY CONSTRUCTION:
    //    components quantize to a 1/4096 integer grid, the centroid is
    //    the floored integer mean, and every dot product is a sum of
    //    bounded integer products (< 2^53), so the doubles are exact and
    //    ORDER-INDEPENDENT — the same property that makes the aggregate
    //    reproducible across 1000 executors; cross-row averages sum
    //    1e9-quantized BIGINTs, never raw floats. Scale shape: one
    //    posexplode shuffle builds all centroids (64 rows/label), the
    //    label-sized centroid table broadcasts back, rollup is one
    //    map-side-combined exchange.
    sql("llm_embed_centroid_stats",
      """WITH v AS (
        |  SELECT vec_id, label,
        |         [CAST(floor(x * 4096) AS BIGINT)
        |          for x in embedding::DOUBLE[]] AS q
        |  FROM embeddings
        |), dims AS (
        |  SELECT label, i, SUM(q[i]) AS s2, count(*) AS n
        |  FROM v CROSS JOIN range(1, 65) AS r(i)
        |  GROUP BY label, i
        |), cent AS (
        |  SELECT label,
        |         list(CAST(floor(CAST(s2 AS DOUBLE) / n) AS BIGINT)
        |           ORDER BY i) AS cq
        |  FROM dims GROUP BY label
        |), scored AS (
        |  SELECT v.label,
        |         list_dot_product(v.q::DOUBLE[], c.cq::DOUBLE[]) /
        |           (sqrt(list_dot_product(v.q::DOUBLE[], v.q::DOUBLE[])) *
        |            sqrt(list_dot_product(c.cq::DOUBLE[], c.cq::DOUBLE[])))
        |           AS cosc,
        |         sqrt(list_dot_product(v.q::DOUBLE[], v.q::DOUBLE[]))
        |           AS qnorm
        |  FROM v JOIN cent c ON c.label = v.label
        |)
        |SELECT label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(SUM(CAST(floor(qnorm) AS BIGINT)) AS DOUBLE)
        |         / count(*) / 4096.0 AS avg_norm,
        |       CAST(SUM(CAST(floor(cosc * 1000000000.0) AS BIGINT))
        |         AS DOUBLE) / count(*) / 1000000000.0 AS avg_cos,
        |       min(cosc) AS min_cos
        |FROM scored GROUP BY label ORDER BY label""")(
      (s, d) => {
        // v feeds two plan branches (the centroid fold and the scoring
        // join) — persist so the scan + per-dim quantize runs once
        val v = graft.core.Caching.persistOnce(
          t(s, d, "embeddings").select(col("vec_id"), col("label"),
            transform(col("embedding").cast("array<double>"),
              x => floor(x * 4096).cast("long")).as("q")))
        val dims = v.select(col("label"), posexplode(col("q")))
          .groupBy("label", "pos")
          .agg(sum("col").as("s2"), count(lit(1)).as("n"))
        val cent = dims.groupBy("label").agg(
          transform(array_sort(collect_list(struct(col("pos"),
              floor(col("s2").cast("double") / col("n")).cast("long")
                .as("c")))),
            e => e.getField("c")).as("cq"))
        val qd = transform(col("q"), x => x.cast("double"))
        val cqd = transform(col("cq"), x => x.cast("double"))
        val scored = v.join(broadcast(cent), "label")
          .withColumn("cosc", Similarity.dot(qd, cqd) /
            (sqrt(Similarity.dot(qd, qd)) * sqrt(Similarity.dot(cqd, cqd))))
          .withColumn("qnorm", sqrt(Similarity.dot(qd, qd)))
        scored.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            (sum(floor(col("qnorm")).cast("long")).cast("double")
              / count(lit(1)) / 4096.0).as("avg_norm"),
            (sum(floor(col("cosc") * 1000000000.0).cast("long")).cast("double")
              / count(lit(1)) / 1000000000.0).as("avg_cos"),
            min(col("cosc")).as("min_cos"))
          .transform(QueryDef.sortedRollup(_, "label"))
      })
  )
}
