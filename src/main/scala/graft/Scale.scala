package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale-smoke tooling (round-11 verdict task 3): generate an sf1
  * `documents`/`embeddings` pair with the same schema and distribution
  * family as the driver's testdata, then measure time(sf1)/time(sf0.1)
  * for the most expensive document-family queries. The driver's
  * generator is not in this repo, so sf1 is a REGENERATION — same
  * shape (vocab, token-length range, source/lang mix, planted
  * exact/near-dup rates, labeled embedding clusters), deliberately NOT
  * byte-compatible — which is exactly what a scaling measurement
  * needs: the absolute work differs, the GROWTH CURVE is the signal.
  * The Spark side of a growth ratio is two `graft.Bench <q>` runs, with
  * SPARK_GRAFT_SF_DIR at the small and then at the generated dir.
  */
object GenScale {

  private val Vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "big", "merge", "stream", "join", "table",
    "query", "key", "window", "data", "customer", "the", "vector", "row",
    "index")

  private val Langs =
    Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "de")

  /** splitmix64 — deterministic per (seed, counter), no RNG state. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private[graft] def textOf(id: Long): String = {
    val n = 8 + math.floorMod(mix(id * 31 + 7), 93L).toInt
    (0 until n).map { i =>
      Vocab(math.floorMod(mix(id * 131071 + i), Vocab.length.toLong).toInt)
    }.mkString(" ")
  }

  def documents(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs).map { id =>
      // planted duplicate structure, proportional to sf0.1's: one
      // exact-dup group per 625 docs, one near-dup (suffix) per 50
      val text =
        if (id % 625 == 624 && id >= 2) textOf(id - 2)
        else if (id % 50 == 49 && id >= 1) textOf(id - 1) + " tail"
        else textOf(id)
      (id, text, Langs(math.floorMod(mix(id + 17), Langs.length.toLong).toInt),
        s"src${id % 20}", text.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, nVecs: Long): DataFrame = {
    import spark.implicits._
    val dim = 64
    spark.range(nVecs).map { id =>
      val label = math.floorMod(mix(id + 3), 10L).toInt
      val v = Array.tabulate(dim) { d =>
        // cluster center (per label) + per-vector noise
        val c = (math.floorMod(mix(label * 64L + d), 2001L) - 1000L) / 2500.0f
        val nz = (math.floorMod(mix(id * 64L + d), 2001L) - 1000L) / 10000.0f
        (c + nz).toFloat
      }
      (id, v, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Event stream: same schema/type/shape family as the driver's
    * `events` table (5 equal-mass event types, 10× the rows over the
    * SAME 30-day window — density grows with scale, events-per-user
    * held ~constant by scaling the user population, value/props
    * distributions matched). `ts` is written as plain TIMESTAMP
    * (micros) — `Tables.normalizeEventTs` handles every shipped shape. */
  def events(spark: SparkSession, nEvents: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val types = Array("view", "click", "purchase", "signup", "error")
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val span = 30L * 24 * 3600 * 1000000L
    val nUsers = math.max(100L, nEvents / 67L) // driver: 100k ev / 1.5k users
    spark.range(nEvents).map { id =>
      val ts = base + id * (span / nEvents) +
        math.floorMod(mix(id * 7 + 1), 1000000L)
      (id, ts, math.floorMod(mix(id + 5), nUsers),
        types(math.floorMod(mix(id + 9), types.length.toLong).toInt),
        math.floorMod(mix(id + 11), 56021L) / 100.0,
        s"""{"k": ${math.floorMod(mix(id + 13), 100L)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Order lines: same schema/type family as the driver's `lineitem`
    * (1-7 lines per order, quantities 1-50, A/N/R / O/F codes,
    * mid-90s-to-2000s ship dates). */
  def lineitem(spark: SparkSession, nOrders: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val rf = Array("A", "N", "R")
    val ls = Array("O", "F")
    val dateBase = 841536000000000L // 1996-09-01T00:00:00Z micros
    spark.range(nOrders).flatMap { ok =>
      val nLines = 1 + math.floorMod(mix(ok + 3), 7L).toInt
      (1 to nLines).map { ln =>
        val h = mix(ok * 131 + ln)
        val qty = (1 + math.floorMod(h, 50L)).toDouble
        (ok, math.floorMod(mix(h + 1), 200000L), math.floorMod(mix(h + 2), 10000L),
          ln, qty, qty * (900 + math.floorMod(h, 100L)),
          math.floorMod(h, 11L) / 100.0, math.floorMod(h, 9L) / 100.0,
          rf(math.floorMod(h, 3L).toInt), ls(math.floorMod(h, 2L).toInt),
          dateBase + math.floorMod(mix(h + 4), 5L * 365) * 86400000000L)
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "ship_us")
      .withColumn("l_shipdate", timestamp_micros(col("ship_us")))
      .drop("ship_us")
  }

  /** Parts: same schema/shape family as the driver's `part` (two-word
    * names/types over small vocabularies, 25 brands, sizes 1-50). */
  def part(spark: SparkSession, nParts: Long): DataFrame = {
    import spark.implicits._
    val adj = Array("large", "hot", "small", "cold", "bright", "dim")
    val noun = Array("ring", "bolt", "gear", "pipe", "plate", "wheel")
    val typ = Array("LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO")
    spark.range(nParts).map { id =>
      val h = mix(id + 21)
      (id,
        s"${adj(math.floorMod(h, 6L).toInt)} ${noun(math.floorMod(h >> 8, 6L).toInt)}",
        s"Brand#${1 + math.floorMod(h >> 16, 25L)}",
        typ(math.floorMod(h >> 24, 5L).toInt),
        (1 + math.floorMod(h >> 32, 50L)).toInt,
        900.0 + math.floorMod(h >> 40, 1000L) / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/root/repo/testdata-sf1"
    // second arg: scale multiplier on the sf1 row counts (e.g. 3 for the
    // sf3 notch the floor-class crossovers extrapolate to). Default 1.
    val m = if (args.length >= 2) args(1).toLong else 1L
    val spark = graft.core.GraftSession.harness(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    documents(spark, 50000L * m).coalesce((4 * m).toInt)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    embeddings(spark, 20000L * m).coalesce((4 * m).toInt)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // 10× the driver's sf0.1 row counts — lets the event/metadata-
    // family flags (ev1, f7, w6, tg1) run the same crossover audit as
    // the document family
    events(spark, 1000000L * m).coalesce((4 * m).toInt)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    lineitem(spark, 1500000L * m).coalesce((8 * m).toInt)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    part(spark, 200000L * m).coalesce((2 * m).toInt)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    println(s"wrote sf$m documents+embeddings+events+lineitem+part under $out")
    spark.stop()
  }
}

/** Streaming-store growth smoke (round-12 verdict task 3): the
  * band-store probes claim per-trigger cost Θ(batch) regardless of
  * store size — spec-pinned at file granularity, here TIMED. Builds
  * each modality's store at 1× and 10× size, then measures the
  * screen-against-store time for a CONSTANT-size batch on both, plus
  * the append fold. Stores are compacted to small key-clustered files
  * so the smoke reproduces the scale REGIME (file count ≫ probed
  * cells — at 10^10 docs files hold 4M rows and probes touch a
  * vanishing fraction; at smoke scale that means ~1k-row files), not
  * absolute sizes. Prints one JSON line:
  * {"store_scale":{name:[t_small, t_big, ratio]},...}. */
object StoreScale {

  private val Passes = 2

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/tmp/graft-storescale"
    val spark = graft.core.GraftSession.harness(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import graft.llmops.{EmbedDedup, IncrementalDedup, PhashDedup}
    val Small = 30000L
    val Big = 300000L
    val BatchN = 25
    // key-clustered ~1k-row files (see the class doc's regime note)
    def maintain(dir: String): Unit = {
      graft.sources.TxLog.compact(spark, dir, partitionCol = "_shard",
        keyCol = "_docId", targetRowsPerFile = 1024)
      graft.sources.TxLog.vacuum(spark, dir)
      ()
    }
    def timed(f: => Unit): Double = {
      val runs = (1 to Passes).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // ── text MinHash (st_curate_stream's near tier) ──────────────────
    // constant batch: half near-dups of stored docs, half novel
    val textBatch = {
      import spark.implicits._
      // texts derived from GenScale's deterministic generator: even
      // slots duplicate stored docs, odd slots are novel
      (0 until BatchN).map { i =>
        val id = 1000000000L + i
        val text =
          if (i % 2 == 0) GenScale.textOf((i * 37L) % Small)
          else GenScale.textOf(id)
        (id, text)
      }.toDF("doc_id", "text")
    }
    val mhBatchSigs = IncrementalDedup.signaturesOf(textBatch).localCheckpoint()
    Seq(("1x", Small), ("10x", Big)).foreach { case (tag, n) =>
      val dir = s"$base/mh_$tag"
      IncrementalDedup.mergeSignatures(spark, dir,
        IncrementalDedup.signaturesOf(GenScale.documents(spark, n)))
      maintain(dir)
    }
    val mhS = timed(noop(IncrementalDedup.screenStore(mhBatchSigs, s"$base/mh_1x")))
    val mhB = timed(noop(IncrementalDedup.screenStore(mhBatchSigs, s"$base/mh_10x")))
    results("minhash_screen") = (mhS, mhB)
    val mhFs = timed(IncrementalDedup.mergeSignatures(spark, s"$base/mh_1x", mhBatchSigs))
    val mhFb = timed(IncrementalDedup.mergeSignatures(spark, s"$base/mh_10x", mhBatchSigs))
    results("minhash_fold") = (mhFs, mhFb)

    // ── image aHash ──────────────────────────────────────────────────
    val phBatch = textBatch // same >=64-byte texts stand in for bytes
    val phHashed = PhashDedup.hashed(phBatch).localCheckpoint()
    Seq(("1x", Small), ("10x", Big)).foreach { case (tag, n) =>
      val dir = s"$base/ph_$tag"
      PhashDedup.mergeHashes(spark, dir,
        PhashDedup.hashed(GenScale.documents(spark, n)))
      maintain(dir)
    }
    val phS = timed(noop(PhashDedup.screenStore(phHashed, s"$base/ph_1x")))
    val phB = timed(noop(PhashDedup.screenStore(phHashed, s"$base/ph_10x")))
    results("phash_screen") = (phS, phB)

    // ── embedding cosine ─────────────────────────────────────────────
    val emBatch = {
      import org.apache.spark.sql.functions.{col, lit}
      EmbedDedup.prepared(GenScale.embeddings(spark, BatchN.toLong)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          col("embedding"))).localCheckpoint()
    }
    Seq(("1x", Small / 10), ("10x", Big / 10)).foreach { case (tag, n) =>
      val dir = s"$base/em_$tag"
      EmbedDedup.mergeVectors(spark, dir,
        EmbedDedup.prepared(GenScale.embeddings(spark, n)))
      // the embed store's maintenance CELL-CAPS before compacting —
      // its 6-bit bucket space is cell-bounded, and the cap is what
      // makes the probe flat under store growth (see BandStore.capCells)
      graft.llmops.BandStore.capCells(spark, dir, Seq("t", "b"),
        "vec_id", EmbedDedup.MaxCell)
      maintain(dir)
    }
    val emS = timed(noop(EmbedDedup.screenStore(emBatch, s"$base/em_1x")))
    val emB = timed(noop(EmbedDedup.screenStore(emBatch, s"$base/em_10x")))
    results("embed_screen") = (emS, emB)

    def f3(d: Double) = f"$d%.3f"
    val qjson = results.map { case (n, (ts, tb)) =>
      s""""$n":[${f3(ts)},${f3(tb)},${f3(tb / math.max(ts, 1e-9))}]"""
    }.mkString("{", ",", "}")
    println(s"""{"small_docs":$Small,"big_docs":$Big,"batch":$BatchN,""" +
      s""""passes":$Passes,"store_scale":$qjson}""")
    spark.stop()
  }
}
