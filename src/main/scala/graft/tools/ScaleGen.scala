package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deterministic scale-corpus generator: schema-identical, statistically
 * similar siblings of the driver's sf* tables (TESTDATA.md), at 100x -
 * 2000x the sf0.1 row counts, so the heavy operator families can be
 * MEASURED at multi-GB input instead of plan-asserted (VERDICT r8,
 * "What's missing" #1). Everything is a pure function of the row id
 * (seeded per-id generators, no partitioning sensitivity): re-running
 * any subset reproduces byte-identical rows.
 *
 * Layout written to `outDir`:
 *   events.parquet      nEvents rows   (Jan 2024, nUsers x 5 series)
 *   documents.parquet   nDocs rows     (~165-word docs; per 20-block:
 *                                       1 near-dup @ ~2% word edits +
 *                                       1 exact dup of the block base)
 *   embeddings.parquet  nVecs rows     (64-dim, 256 planted clusters)
 *   orders.parquet      nLine/4 rows   (uniform keys, 1996 dates)
 *   lineitem.parquet    nLine rows     (power-law l_orderkey: 20% of
 *                                       rows on 100 hot keys — the
 *                                       salted-join skew regime)
 *
 * Usage: ScaleGen <outDir> [nEvents] [nDocs] [nVecs] [nLineitem]
 */
object ScaleGen {
  // ~40-word tech vocabulary in the flavor of the driver's documents
  val Vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "index", "join", "shard", "cache", "store", "chunk",
    "codec", "plan", "stage", "task", "block", "range", "limit", "distinct")

  val Langs: Array[String] = Array("en", "en", "en", "en", "en", "en", "en",
    "de", "fr", "es", "ru", "zh") // ~58% en, long tail

  /** One word: ~25% from the 40-word head vocabulary, else a
    * log-uniform (Zipf-ish) id out of a 200k-word tail — Heaps/Zipf
    * statistics, so shingle document frequencies scale the way a real
    * corpus's do (mostly-rare tail + genuinely hot head shingles that
    * exercise the df caps / prefix filters) instead of every 3-gram
    * appearing in thousands of documents. */
  private def pickWord(r: java.util.Random): String =
    if (r.nextInt(4) == 0) Vocab(r.nextInt(Vocab.length))
    else "w" + math.exp(r.nextDouble() * math.log(200000.0)).toLong

  /** Words of the FRESH doc for a given seed id (block bases and
    * non-dup rows); near/exact dups derive from their block base. */
  private def freshWords(seedId: Long): Array[String] = {
    val r = new java.util.Random(seedId * 0x9E3779B97F4A7C15L + 42L)
    val len = 40 + r.nextInt(260) // avg ~170 words
    Array.fill(len)(pickWord(r))
  }

  /** doc text for id under the 20-block dup plan:
    * id%20==1 -> ~2% word substitutions of the block base (a planted
    * NEAR dup: ~6% of 3-gram shingles change, jaccard ~0.85-0.9);
    * id%20==2 -> byte-exact copy of the block base;
    * otherwise fresh. */
  def docText(id: Long): String = {
    val slot = id % 20
    if (slot == 1 && id >= 1) {
      val base = freshWords(id - 1)
      val r = new java.util.Random(id * 0xC2B2AE3D27D4EB4FL + 7L)
      val out = base.clone()
      val nMut = math.max(1, base.length / 50)
      var i = 0
      while (i < nMut) {
        out(r.nextInt(out.length)) = pickWord(r)
        i += 1
      }
      out.mkString(" ")
    } else if (slot == 2 && id >= 2) freshWords(id - 2).mkString(" ")
    else freshWords(id).mkString(" ")
  }

  def docRow(id: Long): Row = {
    val text = docText(id)
    val r = new java.util.Random(id * 0x165667B19E3779F9L + 3L)
    Row(id, text, Langs(r.nextInt(Langs.length)), "src" + r.nextInt(20),
      text.length.toLong)
  }

  def vecRow(id: Long, dim: Int): Row = {
    val cluster = ((id * 2654435761L) >>> 16).toInt & 255
    val cr = new java.util.Random(cluster * 0x9E3779B97F4A7C15L + 11L)
    val center = Array.fill(dim)(cr.nextGaussian().toFloat)
    val r = new java.util.Random(id * 0xFF51AFD7ED558CCDL + 13L)
    val v = Array.tabulate(dim)(j => center(j) + 0.15f * r.nextGaussian().toFloat)
    Row(id, v.toSeq, cluster % 20)
  }

  def events(spark: SparkSession, n: Long): DataFrame = {
    val types = array(lit("click"), lit("view"), lit("purchase"),
      lit("signup"), lit("error"))
    val baseSec = 1704067200L // 2024-01-01 00:00:00 UTC, the testdata epoch
    val nUsers = 30000L
    spark.range(0L, n, 1L, 512)
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(baseSec) +
          pmod(xxhash64(col("id"), lit(7L)), lit(30L * 86400))).as("ts"),
        pmod(xxhash64(col("id"), lit(11L)), lit(nUsers)).as("user_id"),
        element_at(types,
          (pmod(xxhash64(col("id"), lit(13L)), lit(5L)) + 1).cast("int"))
          .as("event_type"),
        // 2-decimal grid in [0, 10000) — the same cents-exact domain
        // every ts query relies on
        (pmod(xxhash64(col("id"), lit(17L)), lit(1000000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(19L)), lit(100L)),
          lit("}")).as("props"))
  }

  /** Orders dimension for the relational scale family: uniform keys,
    * the TPC-H-ish column set the oracled q_* queries read. Dates land
    * in 1996 (the driver corpus's year, so q6-style pushdown windows
    * stay meaningful). Pure column expressions — generation is a
    * codegen'd scan, no RDD. */
  def orders(spark: SparkSession, n: Long): DataFrame = {
    val statuses = array(lit("F"), lit("O"), lit("P"))
    val prios = array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
      lit("4-NOT SPECIFIED"), lit("5-LOW"))
    val baseSec = 820454400L // 1996-01-01 00:00:00 UTC
    spark.range(0L, n, 1L, 256)
      .select(col("id").as("o_orderkey"),
        pmod(xxhash64(col("id"), lit(23L)), lit(math.max(1L, n / 10))).as("o_custkey"),
        element_at(statuses,
          (pmod(xxhash64(col("id"), lit(27L)), lit(3L)) + 1).cast("int"))
          .as("o_orderstatus"),
        // 2-decimal grid, cents-exact like the driver corpus
        (pmod(xxhash64(col("id"), lit(29L)), lit(50000000L)) / 100.0)
          .as("o_totalprice"),
        timestamp_seconds(lit(baseSec) +
          pmod(xxhash64(col("id"), lit(31L)), lit(365L)) * 86400L).as("o_orderdate"),
        element_at(prios,
          (pmod(xxhash64(col("id"), lit(37L)), lit(5L)) + 1).cast("int"))
          .as("o_orderpriority"))
  }

  /** Lineitem facts with a PLANTED POWER-LAW order-key distribution —
    * the join-skew regime the salted q_skew_join exists for: 20% of
    * rows land on 100 hot order keys (~200k lineitems per hot key at
    * 100M rows — a 60000x fan-out over the 3.2 average; one reducer
    * per hot key without salting), the other 80% spread uniformly.
    * Everything is a pure function of the row id. */
  def lineitem(spark: SparkSession, n: Long, nOrders: Long): DataFrame = {
    val flags = array(lit("A"), lit("N"), lit("R"))
    val stats = array(lit("O"), lit("F"))
    val baseSec = 820454400L // 1996-01-01 UTC
    val hot = pmod(xxhash64(col("id"), lit(43L)), lit(100L))
    val uniform = pmod(xxhash64(col("id"), lit(41L)), lit(nOrders))
    spark.range(0L, n, 1L, 512)
      .select(col("id"),
        when(pmod(xxhash64(col("id"), lit(39L)), lit(5L)) === 0L, hot)
          .otherwise(uniform).as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(47L)), lit(200000L)).as("l_partkey"),
        pmod(xxhash64(col("id"), lit(53L)), lit(10000L)).as("l_suppkey"),
        (pmod(xxhash64(col("id"), lit(59L)), lit(7L)) + 1).cast("int")
          .as("l_linenumber"),
        (pmod(xxhash64(col("id"), lit(61L)), lit(50L)) + 1).cast("double")
          .as("l_quantity"),
        (pmod(xxhash64(col("id"), lit(67L)), lit(10000000L)) / 100.0)
          .as("l_extendedprice"),
        (pmod(xxhash64(col("id"), lit(71L)), lit(11L)) / 100.0).as("l_discount"),
        (pmod(xxhash64(col("id"), lit(73L)), lit(9L)) / 100.0).as("l_tax"),
        element_at(flags,
          (pmod(xxhash64(col("id"), lit(79L)), lit(3L)) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(stats,
          (pmod(xxhash64(col("id"), lit(83L)), lit(2L)) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(baseSec) +
          pmod(xxhash64(col("id"), lit(89L)), lit(500L)) * 86400L).as("l_shipdate"))
      .drop("id")
  }

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rdd = spark.range(0L, n, 1L, 256).rdd.map((id: java.lang.Long) => docRow(id))
    spark.createDataFrame(rdd, schema)
  }

  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val rdd = spark.range(0L, n, 1L, 128).rdd.map((id: java.lang.Long) => vecRow(id, dim))
    spark.createDataFrame(rdd, schema)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nEvents = if (args.length > 1) args(1).toLong else 200000000L
    val nDocs = if (args.length > 2) args(2).toLong else 2000000L
    val nVecs = if (args.length > 3) args(3).toLong else 2000000L
    val nLine = if (args.length > 4) args(4).toLong else 100000000L
    val spark = graft.LocalSession.start("graft-scale-gen", conf = Map(
      "spark.sql.shuffle.partitions" -> "256", "spark.driver.maxResultSize" -> "4g"))
    def t(what: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[scalegen] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // pass 0 for a table to skip (re-)generating it
    if (nEvents > 0) t(s"events x$nEvents") {
      events(spark, nEvents).write.mode("overwrite")
        .parquet(s"$outDir/events.parquet")
    }
    if (nDocs > 0) t(s"documents x$nDocs") {
      documents(spark, nDocs).write.mode("overwrite")
        .parquet(s"$outDir/documents.parquet")
    }
    if (nVecs > 0) t(s"embeddings x$nVecs") {
      embeddings(spark, nVecs).write.mode("overwrite")
        .parquet(s"$outDir/embeddings.parquet")
    }
    if (nLine > 0) {
      val nOrders = math.max(1L, nLine / 4)
      t(s"orders x$nOrders") {
        orders(spark, nOrders).write.mode("overwrite")
          .parquet(s"$outDir/orders.parquet")
      }
      t(s"lineitem x$nLine") {
        lineitem(spark, nLine, nOrders).write.mode("overwrite")
          .parquet(s"$outDir/lineitem.parquet")
      }
    }
    spark.stop()
  }
}
