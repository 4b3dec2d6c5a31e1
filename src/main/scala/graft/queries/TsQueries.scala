package graft.queries

import graft.tsdb.Ts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gorilla roundtrip + TSDB queries over the `events` table.
 *
 * Series = (user_id, event_type); values = `value`; timestamps at
 * second resolution (the reference's tuning). Every aggregate output
 * is exact-match safe against DuckDB: counts, IEEE min/max, and sums
 * as integer cents.
 */
object TsQueries {
  val series: Seq[String] = Seq("user_id", "event_type")

  def chunks(s: SparkSession, dir: String, leadTrail: Boolean = false): DataFrame =
    Ts.chunkify(Tables(s, dir, "events"), series, "ts", "value", leadTrail = leadTrail)

  /**
   * The persisted chunk store for a data dir: ingest ONCE (first call
   * per input fingerprint writes the date-partitioned parquet store),
   * then every query reads the store — the Gorilla production shape
   * (compress on ingest, query compressed many times) and the only
   * shape that survives 100×: queries start from pruned parquet scans
   * instead of paying a full re-encode of the raw events each time.
   * `fromSec`/`toSec` prune `window_date` partitions at plan time.
   */
  def storeChunks(s: SparkSession, dir: String,
                  fromSec: Long = Long.MinValue,
                  toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir)
    if (!committed(s, path))
      Ts.writeStore(chunks(s, dir), path)
    Ts.readStore(s, path, fromSec, toSec)
  }

  /** Label names of the LABELED chunk store ([[labeledStoreChunks]]):
    * the Gorilla-paper §4 key-search data model — a series is a label
    * SET, not a fixed column pair. Here the set is derived from the
    * events table (type = event_type, host = h<user%100>, region =
    * r<user%4>; host determines region, so the store holds 5·100
    * well-defined series). */
  val labelCols: Seq[String] = Seq("type", "host", "region")

  /** The label derivation behind the labeled store, as a frame
    * transformation so tools (ScaleBench's label family) apply the
    * IDENTICAL scheme to other events frames instead of copying it. */
  def labeledEventsFrom(ev: DataFrame): DataFrame =
    ev.select(col("event_type").as("type"),
      concat(lit("h"), pmod(col("user_id"), lit(100L))).as("host"),
      concat(lit("r"), pmod(col("user_id"), lit(4L))).as("region"),
      col("ts"), col("value"))

  private def labeledEvents(s: SparkSession, dir: String): DataFrame =
    labeledEventsFrom(Tables(s, dir, "events"))

  /** The labeled chunk store for a data dir, ingest-once like
    * [[storeChunks]]: every label is a top-level (indexed) column, so
    * selector equality/prefix matchers prune at the parquet scan. */
  def labeledStoreChunks(s: SparkSession, dir: String,
                         fromSec: Long = Long.MinValue,
                         toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir) + "_lbl"
    if (!committed(s, path))
      Ts.writeStore(Ts.chunkify(labeledEvents(s, dir), labelCols, "ts", "value"), path)
    Ts.readStore(s, path, fromSec, toSec)
  }

  /** Label names of the HISTOGRAM-bucket chunk store: the Prometheus
    * `_bucket` data model — per (metric, host) a family of CUMULATIVE
    * counter series, one per upper bound `le`, each sample the count
    * of observations ≤ le so far. `histogram_quantile` consumes this
    * through the PromQL front-end. */
  val histLabelCols: Seq[String] = Seq("type", "host", "le")

  /** (le label, upper bound in cents); "+Inf" is the unbounded arm. */
  val histBuckets: Seq[(String, Long)] = Seq(
    "10" -> 1000L, "25" -> 2500L, "50" -> 5000L, "100" -> 10000L,
    "250" -> 25000L, "+Inf" -> Long.MaxValue)

  /** Scrape grid of the histogram store: 2-h instants covering the
    * whole events range. A sample at instant g carries the count of
    * events with ts ≤ g (cumulative; every series is sampled at every
    * instant like a real scraper, so windowed rates always see pairs). */
  val HistGridFrom = 1704067200L // 2024-01-01T00:00Z
  val HistGridTo = 1706659200L // 2024-01-31T00:00Z
  val HistGridStep = 7200L

  /** Derived (recording-rule) chunk store: the canonical panel rule
    * `region:click:sum6h = sum by (region)(sum_over_time(click[6h]))`
    * evaluated on the 2-h query_range grid over [RangeFrom, RangeTo]
    * and materialized back into Gorilla chunks ([[graft.tsdb.Rules]]),
    * ingest-once like the raw stores. Derived series are first-class:
    * selectors prune on the rule name at the chunk-metadata scan and
    * `_over_time` functions answer from header stats with zero decode. */
  def recordedStoreChunks(s: SparkSession, dir: String): DataFrame = synchronized {
    val path = storePath(dir) + "_rec"
    if (!committed(s, path)) {
      val rule = graft.tsdb.Rules.Recording("region:click:sum6h",
        "sum by (region) (sum_over_time(click[6h]))",
        RangeFrom, RangeTo, 7200L)
      Ts.writeStore(graft.tsdb.Rules.materialize(
        labeledStoreChunks(s, dir), labelCols, Seq(rule)), path)
    }
    Ts.readStore(s, path, Long.MinValue, Long.MaxValue)
  }

  /** Open an ADAPTIVE-chunked store with SOUND time bounds (r19,
    * ADVICE follow-up). [[Ts.readStore]]'s `window_date >= date(from)`
    * partition prune assumes a chunk never starts before the window
    * it overlaps — true for the fixed-2-h stores (a 2-h window never
    * spans a date), UNSOUND for [[Ts.chunkifyAdaptive]] stores whose
    * windows stretch to days: the exact bug the r18 oracle gate
    * caught and reverted (PromqlQueries NOTE). Every current caller
    * passes defaults, but the parameters silently re-armed the trap
    * for the next caller — so the adaptive readers now bound on the
    * per-chunk `min_ts`/`max_ts` STAT columns instead, which are
    * sound for any chunk length and still reach the parquet scan as
    * pushed filters. */
  private def readAdaptiveStore(s: SparkSession, path: String,
                                fromSec: Long, toSec: Long): DataFrame = {
    val df = Ts.readStore(s, path)
    if (fromSec == Long.MinValue && toSec == Long.MaxValue) df
    else df.filter(col("max_ts") >= fromSec && col("min_ts") <= toSec)
  }

  /** The histogram-bucket chunk store, ingest-once like
    * [[labeledStoreChunks]]. Build: per-event bucket fanout (≤ 6
    * broadcast rows), per-(series, instant) new-observation counts,
    * then one cumulative window per series onto the full grid —
    * |present (type, host)| · 6 · |instants| rows into chunkify. */
  def histStoreChunks(s: SparkSession, dir: String,
                      fromSec: Long = Long.MinValue,
                      toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir) + "_hist"
    if (!committed(s, path)) {
      val ev0 = Tables(s, dir, "events")
      val ev = ev0.select(
        col("event_type").as("type"),
        concat(lit("h"), pmod(col("user_id"), lit(100L))).as("host"),
        round(col("value") * 100).cast("long").as("cents"),
        Ts.epochSec(ev0, "ts").as("tsec"))
      val b = s.createDataFrame(histBuckets).toDF("le", "le_cents")
      // event → all buckets it falls into, attributed to the first
      // scrape instant ≥ its timestamp
      val counts = ev.crossJoin(broadcast(b))
        .filter(col("cents") <= col("le_cents"))
        // first scrape instant >= ts, clamped into the grid so
        // pre-grid events still land in the first sample's count
        .withColumn("ts", greatest(expr(
          s"((tsec + ${HistGridStep - 1}L) div ${HistGridStep}L) * ${HistGridStep}L"),
          lit(HistGridFrom)))
        .groupBy("type", "host", "le", "ts").agg(count(lit(1)).as("__n"))
      val grid = s.range((HistGridTo - HistGridFrom) / HistGridStep + 1)
        .select((lit(HistGridFrom) + col("id") * HistGridStep).as("ts"))
      val series = ev.select("type", "host").distinct()
        .crossJoin(broadcast(b.select("le")))
      val w = Window.partitionBy("type", "host", "le").orderBy("ts")
      val samples = series.crossJoin(broadcast(grid))
        .join(counts, Seq("type", "host", "le", "ts"), "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("value", sum("__n").over(w).cast("double"))
        // chunkify reads LongType ts as nanos; hand it a timestamp
        .select(col("type"), col("host"), col("le"),
          to_timestamp(col("ts")).as("ts"), col("value"))
      // chunkifyAdaptive (r18): at a 2-h scrape step the 2-h default
      // window stored ONE point per chunk (8.1M single-point chunks on
      // the sf0.1 native store — header-dominated, and every query
      // paid a scan row + decode call per point). Density-adaptive
      // windows pack ~512 points per chunk: same decoded points, same
      // query results, ~two orders of magnitude fewer store rows.
      Ts.writeStore(Ts.chunkifyAdaptive(samples, histLabelCols, "ts", "value"), path)
    }
    readAdaptiveStore(s, path, fromSec, toSec)
  }

  /** Label names of the NATIVE-histogram chunk store (Prometheus 3.x
    * exponential buckets): per (metric, host) a family of CUMULATIVE
    * counter series keyed by `nb` — the exponential bucket index as a
    * string, plus the `count` / `sum` / `zero` arms a native histogram
    * carries (sum is EXACT here, unlike the classic midpoint
    * estimator). Schema (resolution) is [[NativeSchema]]; bucket i
    * covers (2^((i−1)/8), 2^(i/8)] in value units. */
  val nativeHistLabelCols: Seq[String] = Seq("type", "host", "nb")

  /** The exponential bucket table ([[graft.tsdb.NativeHist]] — schema,
    * exact cent thresholds, and interpolation bound doubles live
    * there so the PromQL lowering and the oracles share one source). */
  def nativeBuckets: Seq[(Int, Long, Long, Double, Double)] =
    graft.tsdb.NativeHist.buckets

  /** Shared ingest body of the FOUR native-histogram stores (_nhist,
    * _nhistm, _nhistw, _nhistg): integer-exact bucket assignment via
    * a broadcast of the per-schema cent thresholds (|cents| keys the
    * join; zero cents land in the `zero` arm, negative cents take the
    * MIRRORED "n"+i tag), per-event `count`/`sum` arms (sum keeps the
    * sign), one cumulative window per present series onto the 2-h
    * grid. Series presence is data-derived (a bucket series exists
    * iff an observation ever landed in it) — the sparse encoding
    * native histograms exist for. `schemaExpr` adds the per-series
    * `schema` label (mixed fleets); `centsOffset` re-centers
    * observations (the signed gauge fixture); value stays in the
    * DOLLARS convention (counts integral, the sum arm cents/100 —
    * chunkify's ×100 cent encode recovers the exact integer).
    * `resetAtSec = Some(R)` restarts the whole fleet right after the
    * scrape at R − step: every arm of every series re-bases to the
    * events of cells ≥ R (the simultaneous all-arm counter reset a
    * real process restart produces — the r18 histogram-grain reset
    * fixture). */
  private def buildNativeHistStore(s: SparkSession, dir: String, suffix: String,
                                   labelCols: Seq[String],
                                   schemaExpr: Option[Column],
                                   schemas: Seq[Int],
                                   centsOffset: Long,
                                   resetAtSec: Option[Long] = None): String = {
    val path = storePath(dir) + suffix
    if (!committed(s, path))
      buildNativeHistStoreFrom(s, Tables(s, dir, "events"), path, labelCols,
        schemaExpr, schemas, centsOffset, resetAtSec)
    path
  }

  /** The ingest body behind [[buildNativeHistStore]], parameterized by
    * the raw events frame so the streaming batch-twin parity specs can
    * drive THE SAME builder over synthetic fixtures. */
  private[graft] def buildNativeHistStoreFrom(s: SparkSession, ev0: DataFrame,
                                              path: String,
                                              labelCols: Seq[String],
                                              schemaExpr: Option[Column],
                                              schemas: Seq[Int],
                                              centsOffset: Long,
                                              resetAtSec: Option[Long] = None): Unit = {
    {
      val idSel = Seq(col("event_type").as("type"),
        concat(lit("h"), pmod(col("user_id"), lit(100L))).as("host")) ++
        schemaExpr.map(_.as("schema"))
      val ev = ev0.select(idSel ++ Seq(
        (round(col("value") * 100).cast("long") - centsOffset).as("cents"),
        Ts.epochSec(ev0, "ts").as("tsec")): _*)
      val maxRow = ev.agg(max(abs(col("cents")))).head()
      require(!maxRow.isNullAt(0),
        s"native-histogram ingest ($path): no events — nothing to ingest")
      // the tables nest, so the NARROWEST schema's top threshold gates
      val span = schemas.map(graft.tsdb.NativeHist.bucketsFor(_).last._3).min
      require(maxRow.getLong(0) <= span,
        s"event |cents| ${maxRow.getLong(0)} past the narrowest enumerated table ($span)")
      val hasSchema = schemaExpr.isDefined
      val b =
        if (hasSchema) s.createDataFrame(schemas.flatMap(sc =>
            graft.tsdb.NativeHist.bucketsFor(sc)
              .map(t => (sc.toString, t._1.toString, t._2, t._3))))
          .toDF("bsch", "nb", "lo_c", "hi_c")
        else s.createDataFrame(graft.tsdb.NativeHist.bucketsFor(schemas.head)
            .map(t => (t._1.toString, t._2, t._3)))
          .toDF("nb", "lo_c", "hi_c")
      // each observation feeds THREE arms: its bucket (zero / mirrored
      // by sign), count, and sum (weight = signed cents; others = 1)
      val joinCond = (if (hasSchema) col("schema") === col("bsch") else lit(true)) &&
        abs(col("cents")) > col("lo_c") && abs(col("cents")) <= col("hi_c")
      val bucketed = ev.join(broadcast(b), joinCond, "left")
        .withColumn("nb", when(col("cents") === 0, lit("zero"))
          .when(col("cents") < 0, concat(lit("n"), col("nb")))
          .otherwise(col("nb")))
      val idOut = labelCols.filterNot(_ == "nb").map(col)
      val arms = bucketed.select(
          idOut ++ Seq(col("nb"), col("tsec"), lit(1L).as("__w")): _*)
        .unionByName(ev.select(
          idOut ++ Seq(lit("count").as("nb"), col("tsec"), lit(1L).as("__w")): _*))
        .unionByName(ev.select(
          idOut ++ Seq(lit("sum").as("nb"), col("tsec"), col("cents").as("__w")): _*))
      val counts = arms
        .withColumn("ts", greatest(expr(
          s"((tsec + ${HistGridStep - 1}L) div ${HistGridStep}L) * ${HistGridStep}L"),
          lit(HistGridFrom)))
        .groupBy((labelCols :+ "ts").map(col): _*).agg(sum("__w").as("__n"))
      val grid = s.range((HistGridTo - HistGridFrom) / HistGridStep + 1)
        .select((lit(HistGridFrom) + col("id") * HistGridStep).as("ts"))
      val series = arms.select(labelCols.map(col): _*).distinct()
      val w = Window.partitionBy(labelCols.map(col): _*).orderBy("ts")
      // the raw integer cumulative; with a reset, samples at g >= R
      // re-base by the cumulative at R − step (the last pre-restart
      // scrape) — same partitioning, so the re-base costs no exchange
      val cum = sum("__n").over(w)
      val rebased = resetAtSec match {
        case None => cum
        case Some(r) =>
          val base = max(when(col("ts") === r - HistGridStep, cum))
            .over(Window.partitionBy(labelCols.map(col): _*)
              .orderBy("ts")
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          cum - when(col("ts") >= r, coalesce(base, lit(0L))).otherwise(lit(0L))
      }
      val samples = series.crossJoin(broadcast(grid))
        .join(counts, labelCols :+ "ts", "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("value", (rebased.cast("double")) /
          when(col("nb") === "sum", lit(100.0)).otherwise(lit(1.0)))
        .select(labelCols.map(col) ++
          Seq(to_timestamp(col("ts")).as("ts"), col("value")): _*)
      // chunkifyAdaptive (r18): at a 2-h scrape step the 2-h default
      // window stored ONE point per chunk (8.1M single-point chunks on
      // the sf0.1 native store — header-dominated, and every query
      // paid a scan row + decode call per point). Density-adaptive
      // windows pack ~512 points per chunk: same decoded points, same
      // query results, ~two orders of magnitude fewer store rows.
      Ts.writeStore(Ts.chunkifyAdaptive(samples, labelCols, "ts", "value"), path)
    }
  }

  /** The native-histogram chunk store, ingest-once like
    * [[histStoreChunks]] and on the same 2-h scrape grid
    * ([[buildNativeHistStore]] at the default schema). */
  def nativeHistStoreChunks(s: SparkSession, dir: String,
                            fromSec: Long = Long.MinValue,
                            toSec: Long = Long.MaxValue): DataFrame = synchronized {
    readAdaptiveStore(s, buildNativeHistStore(s, dir, "_nhist", nativeHistLabelCols,
      None, Seq(graft.tsdb.NativeHist.Schema), 0L), fromSec, toSec)
  }

  /** Grid instant of the [[resetNativeHistStoreChunks]] fleet
    * restart: one day before the eval instant, mid-window for the
    * canonical 2-d dashboards. */
  val NativeResetAt: Long = 1704931200L // = RangeTo − 86400, grid-aligned

  /** The RESET native-histogram store: [[nativeHistStoreChunks]]'s
    * build, but the whole fleet restarts right after the scrape at
    * [[NativeResetAt]] − step — every arm of every series re-bases
    * simultaneously (the real process-restart shape). Prometheus
    * detects native-histogram resets at the HISTOGRAM grain (any
    * arm's drop re-bases the whole sample); the engine's rate over nb
    * vectors implements exactly that, and this fixture is its oracled
    * gate with the restart mid-window. */
  def resetNativeHistStoreChunks(s: SparkSession, dir: String,
                                 fromSec: Long = Long.MinValue,
                                 toSec: Long = Long.MaxValue): DataFrame = synchronized {
    readAdaptiveStore(s, buildNativeHistStore(s, dir, "_nhistr", nativeHistLabelCols,
      None, Seq(graft.tsdb.NativeHist.Schema), 0L,
      resetAtSec = Some(NativeResetAt)), fromSec, toSec)
  }

  /** Label names of the MIXED-SCHEMA native-histogram store: a
    * per-series `schema` label (the Prometheus native-histogram
    * resolution the series scraped at) rides between the identity
    * labels and the bucket index. Aggregating across series with
    * different schemas downscales every index to the group's COARSEST
    * schema (i → ⌈i/2^Δ⌉ — exact, the cent thresholds nest across
    * schemas) before merging; see [[graft.tsdb.Promql]]'s nb-vector
    * aggregation. */
  val mixedNativeHistLabelCols: Seq[String] = Seq("type", "host", "schema", "nb")

  /** The mixed-fleet native-histogram chunk store: even-numbered
    * hosts scrape at schema 3 (2^(1/8) buckets), odd-numbered at the
    * coarser schema 2 (2^(1/4)) — the first thing a real fleet does
    * after a partial rollout of a new scrape resolution. Build is
    * [[nativeHistStoreChunks]] with the bucket-table join keyed by
    * each series' schema; assignment stays integer-exact per schema
    * (c^(2^s) ≤ 2^i·100^(2^s)). */
  def mixedNativeHistStoreChunks(s: SparkSession, dir: String,
                                 fromSec: Long = Long.MinValue,
                                 toSec: Long = Long.MaxValue): DataFrame = synchronized {
    readAdaptiveStore(s, buildNativeHistStore(s, dir, "_nhistm",
      mixedNativeHistLabelCols,
      Some(when(pmod(col("user_id"), lit(2L)) === 0, lit("3"))
        .otherwise(lit("2"))),
      Seq(2, 3), 0L), fromSec, toSec)
  }

  /** The WIDE mixed-fleet native-histogram store: hosts scrape across
    * the FULL Prometheus schema range — user_id mod 4 picks schema 3
    * (2^(1/8)), −2 (integer base 2^4 = 16), 5 (2^(1/32)) or 0
    * (base 2) — so downscale-to-coarsest must cross the sign boundary
    * (coarsest −2) with Δ up to 7. Build is
    * [[mixedNativeHistStoreChunks]] with the bucket-table join keyed
    * by each series' schema; assignment stays integer-exact per
    * schema (the same cleared inequality at every resolution, and
    * negative schemas need no root-clearing at all — the base is an
    * integer power of two). */
  def wideNativeHistStoreChunks(s: SparkSession, dir: String,
                                fromSec: Long = Long.MinValue,
                                toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val m4 = pmod(col("user_id"), lit(4L))
    readAdaptiveStore(s, buildNativeHistStore(s, dir, "_nhistw",
      mixedNativeHistLabelCols,
      Some(when(m4 === 0, lit("3")).when(m4 === 1, lit("-2"))
        .when(m4 === 2, lit("5")).otherwise(lit("0"))),
      Seq(3, -2, 5, 0), 0L), fromSec, toSec)
  }

  /** The SIGNED (gauge-shaped) native-histogram store: each click's
    * value is re-centered by −25.00 (a delta metric — roughly a third
    * of the window mass lands below zero at every SF), so
    * observations exercise the MIRRORED negative bucket spans:
    * signed cents c < 0 land in "n"+i where |c| fits bucket i, c = 0
    * in the zero arm, c > 0 in the positive span. Bucket and count
    * arms stay MONOTONE counters (rate's reset correction never
    * fires); the sum arm carries the signed cent total and is NOT
    * rate-safe — quantile/fraction read only buckets + count. Default
    * schema 3, labels (type, host, nb) like [[nativeHistStoreChunks]]. */
  def signedNativeHistStoreChunks(s: SparkSession, dir: String,
                                  fromSec: Long = Long.MinValue,
                                  toSec: Long = Long.MaxValue): DataFrame = synchronized {
    readAdaptiveStore(s, buildNativeHistStore(s, dir, "_nhistg", nativeHistLabelCols,
      None, Seq(graft.tsdb.NativeHist.Schema), 2500L), fromSec, toSec)
  }

  /** Label names of the NHCB chunk store (native histogram with
    * CUSTOM buckets, Prometheus 3.x schema −53 — the
    * scrape_classic_histograms migration bridge): `nbc` carries each
    * bucket's explicit upper bound (the SAME 10/25/…/250 layout the
    * classic `le` store scrapes, "+Inf" top arm) with NON-cumulative
    * per-bucket counts, plus the native data model's exact
    * count/sum arms. */
  val nhcbLabelCols: Seq[String] = Seq("type", "host", "nbc")

  /** The NHCB chunk store, ingest-once on the classic 2-h scrape
    * grid. Every bucket series of the bound list is materialized per
    * (type, host) — an NHCB scrape carries the full layout each
    * sample, exactly like the classic store — so the quantile's
    * bound-lag interpolation sees the same bucket rows a migrated
    * `le` dashboard saw. */
  def nhcbStoreChunks(s: SparkSession, dir: String,
                      fromSec: Long = Long.MinValue,
                      toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir) + "_nhcb"
    if (!committed(s, path))
      buildNhcbStoreFrom(s, Tables(s, dir, "events"), path)
    readAdaptiveStore(s, path, fromSec, toSec)
  }

  /** The ingest body behind [[nhcbStoreChunks]], parameterized by the
    * raw events frame so the streaming batch-twin parity specs can
    * drive THE SAME builder over synthetic fixtures. */
  private[graft] def buildNhcbStoreFrom(s: SparkSession, ev0: DataFrame,
                                        path: String): Unit = {
    {
      val ev = ev0.select(
        col("event_type").as("type"),
        concat(lit("h"), pmod(col("user_id"), lit(100L))).as("host"),
        round(col("value") * 100).cast("long").as("cents"),
        Ts.epochSec(ev0, "ts").as("tsec"))
      // (nbc, lo_c exclusive, hi_c inclusive): each observation lands
      // in exactly ONE bucket (non-cumulative, unlike the classic
      // le fanout)
      val lays = histBuckets.map(_._2)
      val b = s.createDataFrame(histBuckets.zipWithIndex.map {
          case ((le, hi), i) =>
            (le, if (i == 0) Long.MinValue else lays(i - 1), hi)
        }).toDF("nbc", "lo_c", "hi_c")
      val bucketed = ev.join(broadcast(b),
        col("cents") > col("lo_c") && col("cents") <= col("hi_c"))
      val arms = bucketed.select(col("type"), col("host"), col("nbc"),
          col("tsec"), lit(1L).as("__w"))
        .unionByName(ev.select(col("type"), col("host"),
          lit("count").as("nbc"), col("tsec"), lit(1L).as("__w")))
        .unionByName(ev.select(col("type"), col("host"),
          lit("sum").as("nbc"), col("tsec"), col("cents").as("__w")))
      val counts = arms
        .withColumn("ts", greatest(expr(
          s"((tsec + ${HistGridStep - 1}L) div ${HistGridStep}L) * ${HistGridStep}L"),
          lit(HistGridFrom)))
        .groupBy("type", "host", "nbc", "ts").agg(sum("__w").as("__n"))
      val grid = s.range((HistGridTo - HistGridFrom) / HistGridStep + 1)
        .select((lit(HistGridFrom) + col("id") * HistGridStep).as("ts"))
      // full layout per present (type, host): bucket series exist even
      // when empty, plus the count/sum arms
      val armNames = s.createDataFrame(
          (histBuckets.map(_._1) ++ Seq("count", "sum")).map(Tuple1(_)))
        .toDF("nbc")
      val series = ev.select("type", "host").distinct()
        .crossJoin(broadcast(armNames))
      val w = Window.partitionBy("type", "host", "nbc").orderBy("ts")
      val samples = series.crossJoin(broadcast(grid))
        .join(counts, Seq("type", "host", "nbc", "ts"), "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("value", (sum("__n").over(w).cast("double")) /
          when(col("nbc") === "sum", lit(100.0)).otherwise(lit(1.0)))
        .select(col("type"), col("host"), col("nbc"),
          to_timestamp(col("ts")).as("ts"), col("value"))
      // chunkifyAdaptive (r18): at a 2-h scrape step the 2-h default
      // window stored ONE point per chunk (8.1M single-point chunks on
      // the sf0.1 native store — header-dominated, and every query
      // paid a scan row + decode call per point). Density-adaptive
      // windows pack ~512 points per chunk: same decoded points, same
      // query results, ~two orders of magnitude fewer store rows.
      Ts.writeStore(Ts.chunkifyAdaptive(samples, nhcbLabelCols, "ts", "value"), path)
    }
  }

  /** The STREAMED NHCB chunk store: the same scrape derivation as
    * [[nhcbStoreChunks]], but the samples come out of the REAL
    * streaming engine — the raw events replayed as event-time-sliced
    * files through [[graft.streaming.StreamIngest.cumulativeGridStream]]
    * (the r17 continuous-scrape path, now covering the bound-list arm
    * family), the per-event arm derivation running stateless against
    * the broadcast bound table ([[graft.streaming.HistArms.nhcbArms]]).
    * The emitted dense cumulative grid chunkifies into the SAME store
    * layout the batch path writes, so the oracled
    * `promql_stream_nhcb_quantile` key reads the plain NHCB oracle off
    * it — stream == batch == oracle, with zero stream machinery on
    * the oracle side. Built once per dir. State per series = running
    * cum + a ≤ watermark/step pending map, never event volume. */
  def streamedNhcbStoreChunks(s: SparkSession, dir: String,
                              fromSec: Long = Long.MinValue,
                              toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir) + "_nhcbstr"
    if (!committed(s, path)) {
      val work = path + "_work"
      graft.Fs.rm(s, work)
      val srcDir = s"$work/src"
      new java.io.File(srcDir).mkdirs()
      val ev = Tables(s, dir, "events")
      val esec = Ts.epochSec(ev, "ts")
      // stage 5-day event-time slices as ordered files (the file
      // source processes in name order per trigger, so arrival
      // respects event time at slice granularity — the scrape-arrival
      // contract; the watermark covers intra-slice disorder)
      val sliceSec = 432000L
      val nSlices = ((HistGridTo - HistGridFrom) / sliceSec + 1).toInt
      (0 until nSlices).foreach { i =>
        val lo = HistGridFrom + i * sliceSec
        val slice = ev.filter(
          (if (i == 0) lit(true) else esec >= lo) &&
          (if (i == nSlices - 1) lit(true) else esec < lo + sliceSec))
        val tmp = s"$work/tmp"
        slice.coalesce(2).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.foreach { case (f, j) =>
            java.nio.file.Files.move(f.toPath,
              new java.io.File(srcDir, f"ev-$i%03d-$j.parquet").toPath)
          }
      }
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2).parquet(srcDir)
      val arms = graft.streaming.HistArms.nhcbArms(src, histBuckets)
      val outPath = s"$work/out"
      val q = graft.streaming.StreamIngest
        .cumulativeGridStream(arms, HistGridFrom, HistGridTo, HistGridStep,
          watermark = "121 hours")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ck")
        .format("parquet").start(outPath)
      q.processAllAvailable()
      // a sentinel past grid end + watermark flushes every series'
      // tail (its own junk series filters out below); built in the ts
      // column's native representation
      val sentSec = HistGridTo + 440000L
      val sentTs = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(sentSec * 1000000000L)
        case dt => to_timestamp(lit(sentSec)).cast(dt)
      }
      ev.limit(1).withColumn("ts", sentTs)
        .withColumn("event_type", lit("wmsentinel"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      q.stop()
      val samp = s.read.parquet(outPath)
        .filter(!col("series").startsWith("wmsentinel"))
        .withColumn("p", split(col("series"), "\\|"))
        .select(col("p").getItem(0).as("type"), col("p").getItem(1).as("host"),
          col("p").getItem(2).as("nbc"), to_timestamp(col("ts")).as("ts"),
          (col("cum").cast("double") /
            when(col("p").getItem(2) === "sum", lit(100.0)).otherwise(lit(1.0)))
            .as("value"))
      // chunkifyAdaptive (r18): at a 2-h scrape step the 2-h default
      // window stored ONE point per chunk (8.1M single-point chunks on
      // the sf0.1 native store — header-dominated, and every query
      // paid a scan row + decode call per point). Density-adaptive
      // windows pack ~512 points per chunk: same decoded points, same
      // query results, ~two orders of magnitude fewer store rows.
      Ts.writeStore(Ts.chunkifyAdaptive(samp, nhcbLabelCols, "ts", "value"), path)
      graft.Fs.rm(s, work)
    }
    readAdaptiveStore(s, path, fromSec, toSec)
  }

  /** Label names of the MIGRATION chunk store — a
    * scrape_classic_histograms rollout caught mid-flight: the SAME
    * metric's fleet carries BOTH models. Even hosts still expose
    * classic `le` cumulative bucket series (nbc = ""), odd hosts
    * already migrated to NHCB `nbc` series (le = "") with
    * one-bucket-per-observation counts plus the native count/sum
    * arms — one shared bound table ([[histBuckets]]), one scrape
    * grid. Absent label == empty string (the Prometheus data
    * model). */
  val migrationHistLabelCols: Seq[String] = Seq("type", "host", "le", "nbc")

  /** The migration-union chunk store: [[histStoreChunks]]'s classic
    * build over even hosts ∪ [[nhcbStoreChunks]]'s NHCB build over
    * odd hosts, ingest-once on the classic 2-h scrape grid. The
    * day-one dashboard over this store —
    * `histogram_quantile(φ, sum by (le, nbc) (rate(m[d])))` — must
    * read the SAME answer the all-classic fleet read before the
    * rollout started (the NHCB bridge telescopes both halves onto
    * one bound table), which is exactly what its oracle asserts. */
  def migrationHistStoreChunks(s: SparkSession, dir: String,
                               fromSec: Long = Long.MinValue,
                               toSec: Long = Long.MaxValue): DataFrame = synchronized {
    val path = storePath(dir) + "_histmig"
    if (!committed(s, path)) {
      val ev0 = Tables(s, dir, "events")
      val evAll = ev0.select(
        col("event_type").as("type"),
        concat(lit("h"), pmod(col("user_id"), lit(100L))).as("host"),
        round(col("value") * 100).cast("long").as("cents"),
        Ts.epochSec(ev0, "ts").as("tsec"),
        pmod(col("user_id"), lit(2L)).as("__par"))
      val grid = s.range((HistGridTo - HistGridFrom) / HistGridStep + 1)
        .select((lit(HistGridFrom) + col("id") * HistGridStep).as("ts"))
      val snap = greatest(expr(
        s"((tsec + ${HistGridStep - 1}L) div ${HistGridStep}L) * ${HistGridStep}L"),
        lit(HistGridFrom))
      // classic half (even hosts): cumulative per-le fanout, nbc = ""
      val evC = evAll.filter(col("__par") === 0)
      val bC = s.createDataFrame(histBuckets).toDF("le", "le_cents")
      val cntC = evC.crossJoin(broadcast(bC))
        .filter(col("cents") <= col("le_cents"))
        .withColumn("ts", snap)
        .groupBy("type", "host", "le", "ts").agg(count(lit(1)).as("__n"))
      val wC = Window.partitionBy("type", "host", "le").orderBy("ts")
      val sampC = evC.select("type", "host").distinct()
        .crossJoin(broadcast(bC.select("le")))
        .crossJoin(broadcast(grid))
        .join(cntC, Seq("type", "host", "le", "ts"), "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("value", sum("__n").over(wC).cast("double"))
        .select(col("type"), col("host"), col("le"), lit("").as("nbc"),
          to_timestamp(col("ts")).as("ts"), col("value"))
      // NHCB half (odd hosts): each observation lands in exactly ONE
      // bucket of the SAME bound table (the bridge premise), plus the
      // native count/sum arms; le = ""
      val evN = evAll.filter(col("__par") === 1)
      val lays = histBuckets.map(_._2)
      val bN = s.createDataFrame(histBuckets.zipWithIndex.map {
          case ((le, hi), i) =>
            (le, if (i == 0) Long.MinValue else lays(i - 1), hi)
        }).toDF("nbc", "lo_c", "hi_c")
      val arms = evN.join(broadcast(bN),
          col("cents") > col("lo_c") && col("cents") <= col("hi_c"))
        .select(col("type"), col("host"), col("nbc"), col("tsec"),
          lit(1L).as("__w"))
        .unionByName(evN.select(col("type"), col("host"),
          lit("count").as("nbc"), col("tsec"), lit(1L).as("__w")))
        .unionByName(evN.select(col("type"), col("host"),
          lit("sum").as("nbc"), col("tsec"), col("cents").as("__w")))
      val cntN = arms.withColumn("ts", snap)
        .groupBy("type", "host", "nbc", "ts").agg(sum("__w").as("__n"))
      val armNames = s.createDataFrame(
          (histBuckets.map(_._1) ++ Seq("count", "sum")).map(Tuple1(_)))
        .toDF("nbc")
      val wN = Window.partitionBy("type", "host", "nbc").orderBy("ts")
      val sampN = evN.select("type", "host").distinct()
        .crossJoin(broadcast(armNames))
        .crossJoin(broadcast(grid))
        .join(cntN, Seq("type", "host", "nbc", "ts"), "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("value", (sum("__n").over(wN).cast("double")) /
          when(col("nbc") === "sum", lit(100.0)).otherwise(lit(1.0)))
        .select(col("type"), col("host"), lit("").as("le"), col("nbc"),
          to_timestamp(col("ts")).as("ts"), col("value"))
      // chunkifyAdaptive (r18): at a 2-h scrape step the 2-h default
      // window stored ONE point per chunk (8.1M single-point chunks on
      // the sf0.1 native store — header-dominated, and every query
      // paid a scan row + decode call per point). Density-adaptive
      // windows pack ~512 points per chunk: same decoded points, same
      // query results, ~two orders of magnitude fewer store rows.
      Ts.writeStore(Ts.chunkifyAdaptive(sampC.unionByName(sampN),
        migrationHistLabelCols, "ts", "value"), path)
    }
    readAdaptiveStore(s, path, fromSec, toSec)
  }

  /** The materialized 15-min rollup for a data dir: derived from the
    * persisted chunk store ONCE (raw → chunks → rollup, the standing-
    * aggregate lineage), then every serve is a pruned partial scan. */
  def rollupStore(s: SparkSession, dir: String): DataFrame = synchronized {
    val path = storePath(dir) + "_roll900"
    if (!committed(s, path))
      Ts.writeRollup(storeChunks(s, dir), series, path, bucketSec = 900)
    Ts.readRollup(s, path)
  }

  /** The rollup built the way the STREAM maintains it: three uneven
    * chunk increments merge-folded in sequence (Ts.mergeRollup — the
    * body behind StreamIngest.rollupStream's per-batch sink), with the
    * cut points landing mid-day so the later folds hit partitions the
    * earlier folds already wrote (the existing+fresh merge path, not
    * just appends of new dates). Serving off this store must equal
    * computing from raw — the continuous aggregate is lossless under
    * incremental maintenance. */
  def mergeRollupStore(s: SparkSession, dir: String): DataFrame = synchronized {
    val path = storePath(dir) + "_roll900m"
    if (!committed(s, path)) {
      val ch = storeChunks(s, dir)
      // 2024-01-10T12:00Z and 2024-01-20T06:00Z — both 2-h aligned,
      // both strictly inside a bucket_date the neighboring fold touches
      val cuts = Seq(1704888000L, 1705730400L)
      Ts.mergeRollup(ch.filter(col("window_start") < cuts(0)),
        series, path, bucketSec = 900)
      Ts.mergeRollup(ch.filter(col("window_start") >= cuts(0) &&
        col("window_start") < cuts(1)), series, path, bucketSec = 900)
      Ts.mergeRollup(ch.filter(col("window_start") >= cuts(1)),
        series, path, bucketSec = 900)
    }
    Ts.readRollup(s, path)
  }

  /** Cache key: input dir + total bytes of the events table, so a
    * regenerated test dir never reads a stale store (the `s3` suffix
    * versions the stat layout — s3 added the `sumsq_cents` second
    * moment; s2 moved sum_cents to HALF_UP rounding). */
  /** Public accessor: where [[storeChunks]] persisted `dir`'s store
    * (for SQL clients registering it via [[Ts.registerStoreView]]). */
  def storePathFor(dir: String): String = storePath(dir)

  /** Whether a cached store at `path` finished its write: its root
    * `_SUCCESS` marker, looked up through the Hadoop FileSystem API so
    * the check holds on any filesystem, not only local disk. */
  private def committed(s: SparkSession, path: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    marker.getFileSystem(s.sparkContext.hadoopConfiguration).exists(marker)
  }

  private def storePath(dir: String): String = {
    val src = new java.io.File(s"$dir/events.parquet")
    val files = if (src.isDirectory) src.listFiles().toSeq else Seq(src)
    val fp = files.filter(_.isFile).map(f => f.length() + f.lastModified()).sum
    // _s4: store-format generation tag — bumped in r18 when writeStore
    // gained date-clustered file sizing, so stores cached by older code
    // (992 near-empty files on the sf0.1 native store) rebuild instead
    // of silently serving the old layout. The leaf starts with a letter:
    // Spark ignores `_`/`.`-prefixed paths as hidden
    s"/tmp/graft_store/store${dir.replaceAll("[^A-Za-z0-9.]", "_")}_${java.lang.Long.toHexString(fp)}_s4"
  }

  /** A store derived from `dir`'s chunk store, built once per dir: the
    * store is copied to `<path>.tmp`, `mutate` runs on the copy's path,
    * and the copy is renamed into place, all through the store path's
    * own FileSystem. */
  private def derivedStore(s: SparkSession, dir: String, suffix: String)(
      mutate: String => Unit): String = synchronized {
    storeChunks(s, dir) // ensure the source store exists
    val path = storePath(dir) + suffix
    if (!committed(s, path)) {
      val conf = s.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(storePath(dir))
      val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
      val fs = tmp.getFileSystem(conf)
      fs.delete(tmp, true)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, tmp, false, conf)
      mutate(tmp.toString)
      graft.Fs.replace(s, tmp.toString, path)
    }
    path
  }

  /** A byte-copy of the chunk store with [RangeFrom, RangeTo] deleted
    * in place ([[Ts.deleteFromStore]]) — built once per dir like
    * [[storeChunks]]. The copy is a filesystem copy, not a re-encode:
    * the point is to exercise delete-then-serve on a real persisted
    * store (horizon marker included) without paying a second ingest. */
  def deletedStorePath(s: SparkSession, dir: String): String =
    derivedStore(s, dir, "_del")(Ts.deleteFromStore(s, _, RangeFrom, RangeTo))

  /** The late batch both upsert queries merge: the fixed range's
    * points shifted +30 min — most land inside windows the store
    * already sealed (the decode-merge-re-encode path), the tail spills
    * into fresh windows (the new-chunk path). */
  private def lateBatch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val sec = Ts.epochSec(ev, "ts")
    ev.filter(sec >= RangeFrom && sec <= RangeTo)
      .select(col("user_id"), col("event_type"),
        to_timestamp(sec + 1800L).as("ts"),
        col("value").cast("double").as("v"))
  }

  /** A byte-copy of the chunk store with the late batch upserted in
    * place ([[Ts.upsertIntoStore]]) — built once per dir like
    * [[deletedStorePath]]: only the touched `window_date` partitions
    * are read and rewritten on a real persisted store. */
  def upsertedStorePath(s: SparkSession, dir: String): String =
    derivedStore(s, dir, "_ups")(
      Ts.upsertIntoStore(s, _, lateBatch(s, dir), series, "ts", "v"))

  /** A COMPACTED copy of a deliberately fragmented ingest: the events
    * split into two arbitrary halves and appended separately (two
    * micro-batches of a per-batch streaming sink — each window ends up
    * owning several partial chunks), then re-sealed by
    * [[Ts.compactStore]] into one-chunk-per-window form. Built once
    * per dir like the other derived stores. */
  def compactedStorePath(s: SparkSession, dir: String): String = synchronized {
    val path = storePath(dir) + "_cmp"
    if (!committed(s, path)) {
      val frag = storePath(dir) + "_frag"
      val ev = Tables(s, dir, "events")
      val half = pmod(xxhash64(col("event_id")), lit(2L))
      Ts.writeStore(Ts.chunkify(ev.filter(half === 0), series, "ts", "value"), frag)
      Ts.writeStore(Ts.chunkify(ev.filter(half === 1), series, "ts", "value"),
        frag, mode = "append")
      val tmp = path + ".tmp"
      Ts.compactStore(s, frag, tmp)
      graft.Fs.replace(s, tmp, path)
    }
    path
  }

  /** A byte-copy of the chunk store with partitions older than the
    * fixed range EXPIRED ([[Ts.expireStore]] — retention enforcement as
    * metadata-only partition drops, zero chunk bytes read). asOf =
    * RangeTo with a 2-day horizon puts the cutoff date exactly at
    * RangeFrom's midnight; 2-h windows never straddle midnight, so the
    * surviving store holds precisely the events at ts >= RangeFrom. */
  def expiredStorePath(s: SparkSession, dir: String): String =
    derivedStore(s, dir, "_exp")(
      Ts.expireStore(s, _, olderThanDays = 2, asOfSec = RangeTo))

  private def aggExact(points: DataFrame): DataFrame =
    points.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        min("ts").as("min_ts"), max("ts").as("max_ts"),
        min("v").as("min_v"), max("v").as("max_v"),
        sum(round(col("v") * 100).cast("long")).as("sum_cents"))
      .orderBy("user_id")

  private val aggExactSql =
    """SELECT user_id, count(*) AS n,
      |  min(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS min_ts,
      |  max(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS max_ts,
      |  min(value) AS min_v, max(value) AS max_v,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Decoded points for the generic ts_* QUERY keys, off the
    * PERSISTED chunk store (r18 optimization): the previous inline
    * `chunks(s, dir)` re-encoded the full events corpus (repartition +
    * sort + gorilla encode of 10M rows at sf0.1) on EVERY query — and
    * ts_mad's two-branch plan paid it twice per run. The store's
    * chunks are byte-identical to an inline chunkify (deterministic
    * sort-based encode of the same events — the compaction identity
    * TsStoreSpec pins), so every result is unchanged; this is the same
    * ingest-once/query-many scoping the ts_store_* / promql / hist
    * families already use. Codec-semantics keys (roundtrip,
    * compression accounting, chunk maintenance) deliberately keep
    * inline chunkify — the encode IS what they measure. */
  def points(s: SparkSession, dir: String): DataFrame =
    Ts.unpack(storeChunks(s, dir), series)

  /** 15-min resample of a decoded point frame; avg derived from exact
    * integer cents (shared by the in-memory and store-backed queries). */
  private def downsample15m(pts: DataFrame): DataFrame =
    pts
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .groupBy(col("user_id"), col("event_type"),
        ((col("ts") / 900).cast("long") * 900).as("bucket"))
      .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"),
        sum("cents").as("sum_cents"))
      .withColumn("avg_v", col("sum_cents") / (col("n") * 100.0))
      .orderBy("user_id", "event_type", "bucket")

  /** Per-series 3-sigma outliers, exactly: on integer cents,
    * (x - mean)^2 > 9*variance  <=>  (n*x - S)^2 > 9*(n*Q - S^2) with
    * S = sum(x), Q = sum(x^2) — all-integer arithmetic, so the flag is
    * bit-exact across engines (no float mean/stddev). `moments` is a
    * tiny one-row-per-series (n, s, q) frame; broadcast onto the
    * decoded points, per-point filter, done. This replaces round 5's
    * whole-partition window: the window buffered every row of a series
    * in ONE task (a hot series at 100× is a straggler with no map-side
    * partials), where the moments aggregate partial-aggregates
    * map-side and the join is a broadcast — skew-free by construction,
    * and the points lineage still executes exactly once. Longs hold
    * the moments up to ~1e9 cents-points per series; beyond that, swap
    * the three moment columns to decimal(38,0) — same plan shape. */
  private def anomalyJoin(pts: DataFrame, moments: DataFrame): DataFrame =
    pts.withColumn("cents", round(col("v") * 100).cast("long"))
      .join(broadcast(moments), Seq("user_id", "event_type"))
      .filter((col("n") * col("cents") - col("s")) *
          (col("n") * col("cents") - col("s")) >
        lit(9L) * (col("n") * col("q") - col("s") * col("s")))
      .select("user_id", "event_type", "ts", "cents", "n")
      .orderBy("user_id", "event_type", "ts", "cents")

  /** Per-series exact-integer moments (n, S=Σc, Q=Σc²) straight off
    * chunk-header stat columns — ZERO chunk decode: column pruning
    * keeps the `chunk` bytes out of this branch's scan entirely
    * (plan-pinned in ExplainAllSpec). One header row per chunk feeds
    * the aggregate, so at 100 TB the moments pass reads kilobytes of
    * stats per series instead of re-decoding the corpus. */
  private def headerMoments(chunkFrame: DataFrame): DataFrame =
    chunkFrame.groupBy("user_id", "event_type")
      .agg(sum("n").as("n"), sum("sum_cents").as("s"), sum("sumsq_cents").as("q"))

  /** The same moments from the raw events table (for the in-memory
    * variant, whose chunk frame is a transient chunkify — re-running
    * the encode just to read its headers would double the dominant
    * cost; a 3-column raw scan with map-side partial aggregation is
    * far cheaper than either a re-encode or a whole-partition window
    * over the decoded points). */
  private def rawMoments(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        round(col("value").cast("double") * 100).cast("long").as("cents"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents") * col("cents")).as("q"))

  /** Hourly (count, max) buckets of a point frame, densified to the
    * per-series hour grid spanning [first, last] bucket — the shared
    * base of gap-fill and interpolation (`n` = 0 marks a filled gap
    * row). JOIN-FREE densification: each hourly row emits itself
    * (pos 0, real stats) plus the empty buckets up to its successor
    * (lead + posexplode) — ONE pass over ONE execution of the decode
    * lineage. The previous bounds-aggregate + left-join-back shape
    * executed the full decode twice (exchange reuse never kicks in:
    * column pruning makes the two subplans differ), the same
    * double-read disease ts_store_anomaly had. Row count is bounded by
    * series span, not point count, exactly as before. */
  private def hourlyGrid(pts: DataFrame): DataFrame = {
    val hourly = pts
      .groupBy(col("user_id"), col("event_type"),
        ((col("ts") / 3600).cast("long") * 3600).as("bucket"))
      .agg(count(lit(1)).as("n"), max("v").as("max_v"))
    val w = Window.partitionBy("user_id", "event_type").orderBy("bucket")
    hourly
      .withColumn("__next", lead("bucket", 1).over(w))
      .select(col("user_id"), col("event_type"), col("n"), col("max_v"),
        posexplode(sequence(col("bucket"),
          coalesce(col("__next") - 3600L, col("bucket")), lit(3600L))))
      .select(col("user_id"), col("event_type"), col("col").as("bucket"),
        when(col("pos") === 0, col("n")).otherwise(lit(0L)).as("n"),
        when(col("pos") === 0, col("max_v")).as("max_v"))
  }

  /** The oracle's view of the same points, bypassing the codec. */
  private val ptsSql =
    """pts AS (SELECT user_id, event_type,
      |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)""".stripMargin

  // fixed query window: 2024-01-10T00:00Z .. 2024-01-12T00:00Z
  private val RangeFrom = 1704844800L
  private val RangeTo = 1705017600L
  // 90 days: far enough past the events corpus max (2024-01-31) that a
  // shifted replay lands above every per-series ingest horizon
  private val ReplayShift = 7776000L

  /** Gap-break sessionization ground truth for any key column:
    * session_window merges touching windows, so an event at exactly
    * prev+gap still extends the session => break strictly on >. */
  private def sessionizeSql(key: String, gapSec: Long): String = s"""WITH $ptsSql,
    |g AS (SELECT $key, ts,
    |        CASE WHEN ts - lag(ts) OVER (PARTITION BY $key ORDER BY ts) > $gapSec
    |             THEN 1 ELSE 0 END AS brk
    |      FROM (SELECT DISTINCT $key, ts FROM pts) q),
    |s AS (SELECT $key, ts,
    |        sum(brk) OVER (PARTITION BY $key ORDER BY ts
    |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    |      FROM g),
    |pp AS (SELECT p.$key, p.ts, s.sid
    |       FROM pts p JOIN s ON p.$key = s.$key AND p.ts = s.ts)
    |SELECT $key, min(ts) AS session_start, max(ts) AS session_end,
    |  count(*) AS n
    |FROM pp GROUP BY $key, sid ORDER BY $key, session_start""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // time-range scan: chunk pruning on stats columns before any decode
    "ts_range_query" -> ((s, dir) =>
      Ts.rangeQuery(chunks(s, dir), series, RangeFrom, RangeTo)
        .orderBy("user_id", "event_type", "ts", "v")),
    // surgical delete of the fixed range, then exact per-user
    // aggregates over what remains: untouched chunks pass through
    // encoded, fully-covered chunks drop without decode, only the
    // boundary windows re-encode (Ts.deleteRange) — must equal
    // aggregating the raw events with the range filtered out
    "ts_delete_range" -> ((s, dir) =>
      aggExact(Ts.unpack(
        Ts.deleteRange(chunks(s, dir), series, RangeFrom, RangeTo), series))),
    // late-data merge into sealed chunks: the +30-min-shifted range
    // batch routed by (series, window) metadata — untouched chunks
    // pass through encoded, touched windows decode+union+re-encode,
    // spill windows encode fresh; must equal aggregating raw ∪ late
    "ts_upsert" -> ((s, dir) =>
      aggExact(Ts.unpack(
        Ts.upsertPoints(chunks(s, dir), lateBatch(s, dir), series, "ts", "v"),
        series))),
    // the same merge in place on the PERSISTED store: only the touched
    // window_date partitions are read/rewritten (dynamic overwrite);
    // shares ts_upsert's oracle — the store roundtrip must change
    // nothing
    "ts_store_upsert" -> ((s, dir) =>
      aggExact(Ts.unpack(
        Ts.readStore(s, upsertedStorePath(s, dir)), series))),
    // background compaction (Gorilla's block finalize as a batch job):
    // a fragmented two-batch ingest re-sealed into one-chunk-per-window
    // form, then served — the compacted store must answer exactly like
    // a never-fragmented ingest of the raw events (shares
    // ts_roundtrip_agg's full-corpus oracle; the byte-identity of the
    // re-sealed chunks themselves is pinned in TsStoreSpec)
    "ts_store_compact" -> ((s, dir) =>
      aggExact(Ts.unpack(
        Ts.readStore(s, compactedStorePath(s, dir)), series))),
    // retention enforcement: partitions older than the fixed range
    // dropped metadata-only (directory deletes, zero chunk bytes
    // read), then the survivors served — must equal aggregating the
    // raw events at ts >= RangeFrom (2-h windows never straddle the
    // date cutoff's midnight, so expiry is point-exact here)
    "ts_store_expire" -> ((s, dir) =>
      aggExact(Ts.unpack(
        Ts.readStore(s, expiredStorePath(s, dir)), series))),
    // newest point per series, decoding only each series' newest chunk
    "ts_latest" -> ((s, dir) =>
      Ts.latest(chunks(s, dir), series).orderBy("user_id", "event_type")),
    // read-your-writes: sealed chunks + the OPEN (unsealed) tail served
    // as one view (the reference README's "serve queries mid-stream"
    // further work). The open frame deliberately re-presents a 2h
    // overlap of already-sealed points — the per-series sealed horizon
    // must drop them (exactly-once is structural, not caller-enforced).
    // Shares ts_range_query's oracle: the live view must equal a plain
    // range scan over ALL the data, sealed or not.
    "ts_live_range" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val cut = RangeFrom + 86400L // mid-range seal point
      val sec = Ts.epochSec(ev, "ts")
      val sealedChunks = Ts.chunkify(ev.filter(sec < cut), series, "ts", "value")
      val open = ev.filter(sec >= cut - 7200)
        .select(col("user_id"), col("event_type"), sec.as("ts"),
          col("value").cast("double").as("v"))
      Ts.liveRange(sealedChunks, open, series, RangeFrom, RangeTo)
        .orderBy("user_id", "event_type", "ts", "v")
    }),
    // 15-min resample; avg derived from exact integer cents
    "ts_downsample" -> ((s, dir) => downsample15m(points(s, dir))),
    // M4 visualization downsampling: the 4 points per series-bucket a
    // pixel-perfect polyline render needs (first/last/min/max, each
    // with its timestamp) — one hash aggregate, deterministic ties
    // via lexicographic struct ordering
    "ts_m4" -> ((s, dir) =>
      Ts.m4(points(s, dir), series, 14400L)
        .orderBy("user_id", "event_type", "bucket")),
    // === ingest-once/query-many: the same semantics off the persisted
    // date-partitioned chunk store (storeChunks writes once per dir) ===
    "ts_store_range" -> ((s, dir) =>
      Ts.rangeQuery(storeChunks(s, dir, RangeFrom, RangeTo), series, RangeFrom, RangeTo)
        .orderBy("user_id", "event_type", "ts", "v")),
    "ts_store_latest" -> ((s, dir) =>
      Ts.latest(storeChunks(s, dir), series).orderBy("user_id", "event_type")),
    // delete × live-read interplay: a store with [RangeFrom, RangeTo]
    // surgically deleted, served through liveRange with an open tail
    // that REPLAYS the entire deleted range (already ingested once —
    // the persisted horizon marker must drop every row, or deleted
    // data would resurrect under at-least-once delivery) plus the
    // same rows shifted 90 days past the corpus max (genuinely new —
    // every row must appear). The oracle is pure set algebra on raw
    // events, so both guard directions are exact-verified.
    "ts_store_live_delete" -> ((s, dir) => {
      val path = deletedStorePath(s, dir)
      val ev = Tables(s, dir, "events")
      val sec = Ts.epochSec(ev, "ts")
      val del = ev.filter(sec >= RangeFrom && sec <= RangeTo)
        .select(col("user_id"), col("event_type"), sec.as("ts"),
          col("value").cast("double").as("v"))
      val open = del.unionByName(del.withColumn("ts", col("ts") + ReplayShift))
      Ts.liveRangeStore(s, path, open, series, 0L, RangeTo + ReplayShift)
        .orderBy("user_id", "event_type", "ts", "v")
    }),
    // COMPRESSED-DOMAIN resample off the store: per-chunk bucket
    // partials (≤ 8 rows per 2-h chunk) instead of exploding 7200
    // points through the aggregate; shares ts_downsample's oracle —
    // the partial-merge path must change nothing
    "ts_store_downsample" -> ((s, dir) =>
      Ts.downsampleCompressed(storeChunks(s, dir), series, 900)
        .orderBy("user_id", "event_type", "bucket")),
    // standing aggregate served from the MATERIALIZED rollup: 1-h
    // buckets merged from persisted 15-min exact partials — zero
    // chunk bytes, zero decode (plan-asserted in TsStoreSpec); shares
    // ts_rollup_1h's raw-path oracle, so the materialize+merge
    // lineage must be lossless
    "ts_rollup_serve" -> ((s, dir) =>
      Ts.serveRollup(rollupStore(s, dir), series, 3600)
        .withColumnRenamed("bucket", "bucket_1h")
        .select("user_id", "event_type", "bucket_1h", "n", "min_v", "max_v",
          "sum_cents", "avg_v")
        .orderBy("user_id", "event_type", "bucket_1h")),
    // the same standing aggregate served off a rollup maintained the
    // way the STREAM maintains it — incremental merge-folds
    // (Ts.mergeRollup, the body of StreamIngest.rollupStream's sink)
    // instead of one batch materialization. Shares the raw-path
    // oracle: incremental maintenance must be lossless, fold order
    // and partition-merge included (stream==batch parity of the sink
    // itself is proven over MemoryStream in StreamIngestSpec)
    "stream_rollup" -> ((s, dir) =>
      Ts.serveRollup(mergeRollupStore(s, dir), series, 3600)
        .withColumnRenamed("bucket", "bucket_1h")
        .select("user_id", "event_type", "bucket_1h", "n", "min_v", "max_v",
          "sum_cents", "avg_v")
        .orderBy("user_id", "event_type", "bucket_1h")),
    // per-bucket VARIANCE off the store, compressed-domain: the same
    // one-decode-per-chunk bucket fold, with exact integer second
    // moments riding the partials (stddev_over_time's shape) — no
    // point rows anywhere, variance deterministic under any
    // partitioning
    "ts_store_downsample_var" -> ((s, dir) =>
      Ts.downsampleStatsCompressed(storeChunks(s, dir), series, 900)
        .select(col("user_id"), col("event_type"), col("bucket"), col("n"),
          col("sum_cents"), col("sumsq_cents"), col("avg_v"), col("var_cents"))
        .orderBy("user_id", "event_type", "bucket")),
    // compressed-domain range aggregate off the store in one scan:
    // covered chunks answered from header stats (never decoded),
    // boundary chunks via a streaming in-range fold — no point
    // materialization anywhere
    "ts_range_agg" -> ((s, dir) =>
      Ts.rangeAgg(storeChunks(s, dir, RangeFrom, RangeTo), series, RangeFrom, RangeTo)
        .orderBy("user_id", "event_type")),
    // the Gorilla paper §4 PRIMARY operation (PromQL /api/v1/series):
    // which series match a selector — key search before any data read.
    // Exercises the GENERAL-regex matcher (r[12] has no literal
    // prefix, so it stays a post-scan anchored rlike) alongside !=;
    // answered from chunk metadata alone (labels + the n stat)
    "ts_label_series" -> ((s, dir) =>
      graft.tsdb.Labels.select(labeledStoreChunks(s, dir), labelCols,
          """{region=~"r[12]", type!="view"}""")
        .groupBy(labelCols.map(col): _*)
        .agg(sum("n").as("n_points"))
        .orderBy("type", "host", "region")),
    // PromQL `sum by (region)` over the labeled store: selector prunes
    // series, the compressed-domain range partials (rangeAgg) then
    // RE-AGGREGATE across series by the label subset — counts/sums add
    // and min/max compose exactly, so collapsing 500 series to 4
    // regions costs one label-keyed hash agg over series-grain rows,
    // never a second pass over points or chunk bytes
    "ts_label_agg" -> ((s, dir) =>
      graft.tsdb.Labels.selectRangeAgg(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click"}""", RangeFrom, RangeTo)
        .groupBy("region")
        .agg(sum("n").as("n"), min("min_v").as("min_v"),
          max("max_v").as("max_v"), sum("sum_cents").as("sum_cents"))
        .orderBy("region")),
    // PromQL label_values()/series-count meta-query (the first thing a
    // metrics UI's autocomplete fires): per label, every value with
    // its series and point counts — answered from chunk METADATA
    // alone (indexed label columns + the n stat; zero chunk bytes
    // decoded, plan-pinned in LabelsSpec)
    "ts_label_values" -> ((s, dir) =>
      graft.tsdb.Labels.labelValues(labeledStoreChunks(s, dir), labelCols)
        .orderBy("label", "value")),
    // PromQL-style label-selector query off the LABELED store: the
    // whole matcher set {type="click", host=~"h1.*", region!="r3"}
    // compiles to indexed-column predicates — equality and the regex's
    // literal prefix PUSH to the parquet chunk scan (plan-pinned in
    // LabelsSpec), the surviving chunks answer compressed-domain via
    // rangeAgg (covered chunks: header stats only; boundary: one
    // streaming in-range fold). Label pruning costs chunk METADATA, so
    // at 100 TB a selective selector reads ~none of the chunk bytes
    "ts_label_select" -> ((s, dir) =>
      graft.tsdb.Labels.selectRangeAgg(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click", host=~"h1.*", region!="r3"}""", RangeFrom, RangeTo)
        .orderBy("type", "host", "region")),
    // PromQL rate() SCOPED BY SELECTOR — `rate({type="click",
    // host=~"h1.*"}[range])`, the metrics user's second query and the
    // paper-§4 composition the labeled store exists for: matchers
    // prune at the chunk-METADATA scan (pushed equality + prefix,
    // plan-pinned in LabelsSpec), window stats drop out-of-range
    // chunks, ONLY the survivors decode (selectRange), and the
    // existing consecutive-sample rate body runs per LABEL-SET series.
    // At 100 TB the decode cost is the selector's series count × the
    // range, never the store
    "ts_label_rate" -> ((s, dir) => {
      val w = Window.partitionBy(labelCols.map(col): _*).orderBy("ts", "v")
      graft.tsdb.Labels.selectRange(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click", host=~"h1.*"}""", RangeFrom, RangeTo)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("prev_v", lag("v", 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .withColumn("dt", col("ts") - col("prev_ts"))
        .withColumn("rate", (col("v") - col("prev_v")) / nullif(col("dt"), lit(0)))
        .select(col("type"), col("host"), col("region"), col("ts"), col("v"),
          col("prev_ts"), col("dt"), col("rate"))
        .orderBy("type", "host", "region", "ts", "v")
    }),
    // selector-scoped COMPRESSED-DOMAIN resample: both matchers are
    // pushed equality predicates over the chunk metadata, then the
    // surviving chunks fold straight to 15-min bucket partials
    // (gorilla_chunk_bucket_agg — one streaming decode per chunk,
    // ≤ 8 partial rows per 2-h chunk, never a point row). The
    // downsample dual of ts_label_select: dashboard-resolution
    // serving for one selector costs that selector's chunks only
    "ts_label_downsample" -> ((s, dir) =>
      Ts.downsampleCompressed(
          graft.tsdb.Labels.select(labeledStoreChunks(s, dir), labelCols,
            """{type="view", region="r2"}"""),
          labelCols, 900)
        .orderBy("type", "host", "region", "bucket")),
    // PromQL BINARY OP with vector matching — `sum({type="click"})
    // / on(host, region) sum({type="view"})`, the error-ratio /
    // conversion-rate query every metrics user writes next: each side
    // is a selector-pruned COMPRESSED-DOMAIN range aggregate (chunk
    // metadata prune → header stats + boundary fold, series-grain
    // rows, never points), re-aggregated to the `on()` label subset,
    // then one equi-join ON series-grain partials. PromQL one-to-one
    // matching = inner join (unmatched label-sets drop). At 100 TB
    // both join inputs are |matched label-sets| rows — the expensive
    // part stayed compressed-domain; the join is broadcastable noise
    "ts_label_ratio" -> ((s, dir) => {
      val ch = labeledStoreChunks(s, dir, RangeFrom, RangeTo)
      def side(sel: String, alias: String) =
        graft.tsdb.Labels.selectRangeAgg(ch, labelCols, sel, RangeFrom, RangeTo)
          .groupBy("host", "region")
          .agg(sum("n").as(s"n_$alias"), sum("sum_cents").as(s"${alias}_cents"))
      side("""{type="click"}""", "click")
        .join(broadcast(side("""{type="view"}""", "view")), Seq("host", "region"))
        .withColumn("ratio", col("click_cents").cast("double") /
          nullif(col("view_cents"), lit(0L)).cast("double"))
        .select("host", "region", "n_click", "click_cents", "n_view",
          "view_cents", "ratio")
        .orderBy("host", "region")
    }),
    // PromQL OFFSET modifier — `sum({type="click", region="r1"})
    // [range] vs the same selector `offset 2d`: the window-over-window
    // comparison behind every "vs last week" dashboard panel. BOTH
    // evaluation windows are selector-pruned compressed-domain range
    // aggregates off ONE store read spanning the union range (chunk
    // metadata prune first; the offset window re-uses the same pruned
    // chunk frame, no second scan lineage), inner-joined per full
    // label set (PromQL drops series absent from either window).
    // Exact BIGINT delta; the ratio is the only float. The prev
    // window is END-EXCLUSIVE (to − off − 1 on the second grid) so
    // the two 2-day windows ABUT instead of sharing the boundary
    // second — an inclusive prev would double-count ts == RangeFrom
    // in both sides of the comparison
    "ts_label_offset" -> ((s, dir) => {
      val off = 172800L // offset 2d
      val ch = labeledStoreChunks(s, dir, RangeFrom - off, RangeTo)
      val sel = """{type="click", region="r1"}"""
      def win(from: Long, to: Long, alias: String) =
        graft.tsdb.Labels.selectRangeAgg(ch, labelCols, sel, from, to)
          .select(col("type"), col("host"), col("region"),
            col("n").as(s"n_$alias"), col("sum_cents").as(s"${alias}_cents"))
      win(RangeFrom, RangeTo, "cur")
        .join(broadcast(win(RangeFrom - off, RangeTo - off - 1, "prev")),
          Seq("type", "host", "region"))
        .withColumn("delta_cents", col("cur_cents") - col("prev_cents"))
        .withColumn("ratio", col("cur_cents").cast("double") /
          nullif(col("prev_cents"), lit(0L)).cast("double"))
        .orderBy("type", "host", "region")
    }),
    // PromQL topk() — `topk(3, sum by (host) ({type="click"}))`, the
    // "which hosts dominate this metric" panel: selector-pruned
    // compressed-domain range partials re-aggregate to the host
    // dimension (series-grain rows, never points), then a TakeOrdered
    // top-k on exact BIGINT cents with the host name as the
    // deterministic tiebreak — k rows cross the wire, never the
    // host dimension
    "ts_label_topk" -> ((s, dir) =>
      graft.tsdb.Labels.selectRangeAgg(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click"}""", RangeFrom, RangeTo)
        .groupBy("host")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"))
        .orderBy(col("sum_cents").desc, col("host"))
        .limit(3)),
    // PromQL MANY-TO-ONE vector matching — `sum by (host, region)
    // ({type="click"}) / on(region) group_left sum by (region)
    // ({type="click"})`: each host row divides by its REGION total
    // (the share-of-group panel). The one side is a ≤ |regions|-row
    // aggregate derived from the SAME series-grain partials (one
    // store read, no second scan lineage), broadcast into the join;
    // group_left = the many side keeps its full label set. Exact
    // BIGINT cents on both sides; the share is the only float
    "ts_label_group_left" -> ((s, dir) => {
      val perHost = graft.tsdb.Labels.selectRangeAgg(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click"}""", RangeFrom, RangeTo)
        .groupBy("host", "region")
        .agg(sum("sum_cents").as("host_cents"))
      val perRegion = perHost.groupBy("region")
        .agg(sum("host_cents").as("region_cents"))
      perHost.join(broadcast(perRegion), Seq("region"))
        .withColumn("share", col("host_cents").cast("double") /
          nullif(col("region_cents"), lit(0L)).cast("double"))
        .select("host", "region", "host_cents", "region_cents", "share")
        .orderBy("region", "host")
    }),
    // PromQL quantile() ACROSS SERIES — `quantile by (region)(0.9,
    // sum by (host, region)({type="click"}))`: per region, the
    // interpolated p90 of its hosts' range totals (the "how uneven is
    // load across hosts" panel). The quantile runs over ≤ |hosts|
    // series-grain BIGINT rows per region — never points — and
    // interpolation on the integer cent grid is one identical IEEE
    // expression on both engines (the ts_quantiles discipline)
    "ts_label_quantile" -> ((s, dir) =>
      graft.tsdb.Labels.selectRangeAgg(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="click"}""", RangeFrom, RangeTo)
        .groupBy("host", "region")
        .agg(sum("sum_cents").as("host_cents"))
        .groupBy("region")
        .agg(count(lit(1)).as("n_hosts"),
          expr("percentile(host_cents, 0.5)").as("p50_cents"),
          expr("percentile(host_cents, 0.9)").as("p90_cents"))
        .orderBy("region")),
    // PromQL `unless` (set complement over label sets) — `sum by
    // (host)({type="click"}) unless on(host) ({type="error"})`:
    // hosts that clicked in range but logged NO error in range — the
    // "healthy but active" slice. Both sides are selector-pruned
    // series-grain partials; unless = a broadcastable LEFT ANTI join
    // on the matching label subset (the right side never ships its
    // values, only its keys)
    "ts_label_unless" -> ((s, dir) => {
      val ch = labeledStoreChunks(s, dir, RangeFrom, RangeTo)
      val clicks = graft.tsdb.Labels.selectRangeAgg(ch, labelCols,
          """{type="click"}""", RangeFrom, RangeTo)
        .groupBy("host")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"))
      val errored = graft.tsdb.Labels.selectRangeAgg(ch, labelCols,
          """{type="error"}""", RangeFrom, RangeTo)
        .select("host").distinct()
      clicks.join(broadcast(errored), Seq("host"), "left_anti")
        .orderBy("host")
    }),
    // PromQL count_values() — the value-frequency histogram of a
    // selector's samples on the exact integer cent grid (`
    // count_values("v", {type="purchase"})`): which exact amounts
    // recur and how often. This one genuinely needs sample values, so
    // survivors DECODE (selectRange) — but the aggregate is one hash
    // groupBy on (cents), output bounded by distinct values, and the
    // selector pruned every non-matching chunk before any byte read
    "ts_count_values" -> ((s, dir) =>
      graft.tsdb.Labels.selectRange(
          labeledStoreChunks(s, dir, RangeFrom, RangeTo), labelCols,
          """{type="purchase", host=~"h1.*"}""", RangeFrom, RangeTo)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .groupBy("cents")
        .agg(count(lit(1)).as("n"))
        .orderBy("cents")),
    // per-series VARIANCE over a time range, compressed-domain: the
    // exact integer moments (n, S, Q) come from stored header stats
    // for covered chunks and the streaming range kernel for boundary
    // chunks — zero point materialization; variance = (nQ - S²)/n²
    // with an exact BIGINT numerator and one float division
    "ts_range_variance" -> ((s, dir) =>
      Ts.rangeAgg(storeChunks(s, dir, RangeFrom, RangeTo), series, RangeFrom, RangeTo)
        .select(col("user_id"), col("event_type"), col("n"),
          col("sum_cents"), col("sumsq_cents"),
          (col("sum_cents").cast("double") / col("n")).as("mean_cents"),
          ((col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
            .cast("double") / (col("n") * col("n"))).as("var_cents"))
        .orderBy("user_id", "event_type")),
    // hottest series in a time range, straight off the compressed
    // store: rangeAgg (stats + boundary fold) then TakeOrdered top-k
    "ts_topk_series" -> ((s, dir) =>
      Ts.rangeAgg(storeChunks(s, dir, RangeFrom, RangeTo), series, RangeFrom, RangeTo)
        .orderBy(col("sum_cents").desc, col("user_id"), col("event_type"))
        .limit(10)),
    // counter resets per series-day (PromQL resets()): a reset is a
    // strict drop between consecutive samples, compared on exact
    // integer cents so both engines agree at every boundary
    "ts_resets" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "v")
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("prev_cents", lag("cents", 1).over(w))
        .groupBy(col("user_id"), col("event_type"),
          ((col("ts") / 86400).cast("long") * 86400).as("day"))
        .agg(sum(when(col("prev_cents").isNotNull &&
            col("cents") < col("prev_cents"), 1L).otherwise(0L)).as("n_resets"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "event_type", "day")
    }),
    // instantaneous rate (PromQL irate()): per series, the slope of
    // the LAST two samples inside the fixed query range. One window
    // rank keeps only two rows per series before the pivot, so the
    // shuffle is 2×|series|, not point-count; dcents/dt are exact
    // integers, the emitted rate is one IEEE division of them
    "ts_irate" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("v").desc)
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy("user_id", "event_type")
        .agg(max(when(col("rn") === 1, col("ts"))).as("last_ts"),
          max(when(col("rn") === 2, col("ts"))).as("prev_ts"),
          (max(when(col("rn") === 1, col("cents"))) -
            max(when(col("rn") === 2, col("cents")))).as("dcents"),
          (max(when(col("rn") === 1, col("ts"))) -
            max(when(col("rn") === 2, col("ts")))).as("dt"))
        .filter(col("prev_ts").isNotNull)
        .withColumn("irate",
          when(col("dt") =!= 0,
            col("dcents").cast("double") / (lit(100.0) * col("dt"))))
        .orderBy("user_id", "event_type")
    }),
    // per-series least-squares trend (PromQL deriv()): slope over the
    // fixed range from exact integer sums (t relative to the range
    // start so t·cents products stay far under 2^63; bound in the
    // oracle comment), emitted as BIGINT numerator/denominator plus
    // one IEEE division — deterministic under any partitioning
    "ts_deriv" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .select(col("user_id"), col("event_type"),
          (col("ts") - RangeFrom).as("t"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("cents").as("sv"),
          sum(col("t") * col("cents")).as("stv"),
          sum(col("t") * col("t")).as("stt"))
        .filter(col("n") >= 2)
        .withColumn("num", col("n") * col("stv") - col("st") * col("sv"))
        .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
        .withColumn("slope",
          when(col("den") =!= 0,
            col("num").cast("double") / (lit(100.0) * col("den"))))
        .select("user_id", "event_type", "n", "num", "den", "slope")
        .orderBy("user_id", "event_type")),
    // gauge change count per series-day (PromQL changes()): a change
    // is any consecutive-sample pair with differing values, compared
    // on exact integer cents — same window shape as ts_resets, but
    // counting magnitude-insensitive flips (a flapping gauge scores
    // high even when every drop is tiny and resets() stays 0)
    "ts_changes" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "v")
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("prev_cents", lag("cents", 1).over(w))
        .groupBy(col("user_id"), col("event_type"),
          ((col("ts") / 86400).cast("long") * 86400).as("day"))
        .agg(sum(when(col("prev_cents").isNotNull &&
            col("cents") =!= col("prev_cents"), 1L).otherwise(0L)).as("n_changes"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "event_type", "day")
    }),
    // gauge delta over the fixed range (PromQL delta()): last − first
    // sample per series, on exact cents. First/last ride ONE
    // partial-aggregating min/max over (ts, cents) structs — Spark's
    // struct ordering is lexicographic, so ties at the boundary
    // timestamp resolve on cents identically to the oracle's
    // (ts, cents) row_number — no whole-series window, no rank
    // shuffle: the aggregate partials map-side like any min/max
    "ts_delta" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .select(col("user_id"), col("event_type"), col("ts"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          min(struct(col("ts"), col("cents"))).as("__f"),
          max(struct(col("ts"), col("cents"))).as("__l"))
        .filter(col("n") >= 2)
        .select(col("user_id"), col("event_type"), col("n"),
          col("__f.ts").as("first_ts"), col("__l.ts").as("last_ts"),
          col("__f.cents").as("first_cents"), col("__l.cents").as("last_cents"),
          (col("__l.cents") - col("__f.cents")).as("delta_cents"),
          ((col("__l.cents") - col("__f.cents")) / 100.0).as("delta_v"))
        .orderBy("user_id", "event_type")),
    // linear extrapolation (PromQL predict_linear(, 1h)): ts_deriv's
    // exact integer sums feed ŷ = ȳ + m·(t_pred − t̄) evaluated as ONE
    // identical IEEE expression tree on both engines — every input is
    // a BIGINT→DOUBLE cast (correctly rounded in any engine) and
    // float arithmetic is deterministic, so the emitted double is
    // bit-stable without bignum intermediates (the all-integer
    // numerator ȳ·den + num·(n·t_pred − st) needs ~1e26 at sf1 —
    // decimal territory; the float form needs nothing past the exact
    // BIGINT moments already proven in ts_deriv)
    "ts_predict_linear" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .select(col("user_id"), col("event_type"),
          (col("ts") - RangeFrom).as("t"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), sum("t").as("st"), sum("cents").as("sv"),
          sum(col("t") * col("cents")).as("stv"),
          sum(col("t") * col("t")).as("stt"))
        .filter(col("n") >= 2)
        .withColumn("num", col("n") * col("stv") - col("st") * col("sv"))
        .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
        .withColumn("predict_v",
          when(col("den") =!= 0,
            (col("sv").cast("double") / (col("n") * 100.0)) +
              (col("num").cast("double") / (lit(100.0) * col("den"))) *
                (lit((RangeTo - RangeFrom + 3600L).toDouble) -
                  col("st").cast("double") / col("n"))))
        .select("user_id", "event_type", "n", "num", "den", "predict_v")
        .orderBy("user_id", "event_type")),
    // absent-series detection (PromQL absent() over a grid): for every
    // series the corpus has EVER seen, the hours in the fixed range
    // with zero samples. Grid = |series| × 48 rows (series-bounded,
    // not point-bounded); the present set is an hour-granular
    // distinct, removed with a broadcast-able left-anti join
    "ts_absent" -> ((s, dir) => {
      val pts = points(s, dir)
      val grid = pts.select("user_id", "event_type").distinct()
        .select(col("user_id"), col("event_type"),
          explode(sequence(lit(RangeFrom), lit(RangeTo - 3600), lit(3600L)))
            .as("hour"))
      val present = pts
        .filter(col("ts") >= RangeFrom && col("ts") < RangeTo)
        .select(col("user_id"), col("event_type"),
          ((col("ts") / 3600).cast("long") * 3600).as("hour"))
        .distinct()
      grid.join(present, Seq("user_id", "event_type", "hour"), "left_anti")
        .orderBy("user_id", "event_type", "hour")
    }),
    // counter rate between consecutive points of a series
    "ts_rate" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "v")
      points(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("prev_v", lag("v", 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .withColumn("dt", col("ts") - col("prev_ts"))
        .withColumn("rate", (col("v") - col("prev_v")) / nullif(col("dt"), lit(0)))
        .select("user_id", "event_type", "ts", "v", "prev_ts", "dt", "rate")
        .orderBy("user_id", "event_type", "ts", "v")
    }),
    // PromQL SUBQUERY composition, max_over_time(rate(x[1d])[31d:1d]):
    // stage 1 computes each series' daily rate from ONE
    // partial-aggregating (ts, cents)-struct min/max per bucket (exact
    // integer dcents/dt, one IEEE division — ts_delta's shape at
    // bucket granularity); stage 2 reduces the ≤ 31 bucket rows per
    // series to the peak rate via a (rate, bucket) struct max, ties
    // resolving to the later bucket exactly like the oracle's
    // row_number. No point-count window anywhere — both stages are
    // map-side-combining hash aggregates
    // multi-window multi-burn-rate SLO alert (Google SRE workbook §5;
    // PromQL's canonical alerting composition): a user's error RATIO
    // must exceed the burn threshold over BOTH a short (6 h) and a
    // long (24 h) window ending at the range head — the short window
    // catches fast burns, the long window suppresses blips. ONE
    // conditional hash aggregate over the 24 h scan (map-side
    // partials); the ratio gates are cross-multiplied integers
    // (err·1000 > thr‰·total), so engines can never disagree at a
    // threshold. Output: per-user window counts + the alert flag
    "ts_burn_rate" -> ((s, dir) => {
      val longFrom = RangeTo - 24L * 3600
      val shortFrom = RangeTo - 6L * 3600
      val thrPm = 180L // alert when the error ratio exceeds 18.0%
      points(s, dir)
        .filter(col("ts") > longFrom && col("ts") <= RangeTo)
        .groupBy("user_id")
        .agg(count(lit(1)).as("tot_long"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err_long"),
          sum(when(col("ts") > shortFrom, 1L).otherwise(0L)).as("tot_short"),
          sum(when(col("ts") > shortFrom && col("event_type") === "error", 1L)
            .otherwise(0L)).as("err_short"))
        .withColumn("alert",
          col("err_short") * 1000L > lit(thrPm) * col("tot_short") &&
            col("err_long") * 1000L > lit(thrPm) * col("tot_long"))
        .orderBy("user_id")
    }),
    "ts_subquery_rate" -> ((s, dir) =>
      points(s, dir)
        .select(col("user_id"), col("event_type"),
          ((col("ts") / 86400).cast("long") * 86400).as("bucket"), col("ts"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("user_id", "event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          min(struct(col("ts"), col("cents"))).as("__f"),
          max(struct(col("ts"), col("cents"))).as("__l"))
        .filter(col("n") >= 2 && col("__l.ts") =!= col("__f.ts"))
        .withColumn("rate", (col("__l.cents") - col("__f.cents")).cast("double") /
          (lit(100.0) * (col("__l.ts") - col("__f.ts"))))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_buckets"),
          max(struct(col("rate"), col("bucket"))).as("__m"))
        .select(col("user_id"), col("event_type"), col("n_buckets"),
          col("__m.rate").as("max_rate"), col("__m.bucket").as("at_bucket"))
        .orderBy("user_id", "event_type")),
    // PromQL holt_winters (double exponential smoothing, sf=0.3,
    // tf=0.1) over the fixed range: level/trend from the textbook
    // sequential fold — level=x₁, trend=x₁−x₀, then
    // lᵢ = 0.3·xᵢ + 0.7·(l+t); tᵢ = 0.1·(lᵢ−l) + 0.9·t. The recursion
    // is inherently sequential PER SERIES, so it runs as ONE fused
    // `hw_fold` kernel call over the collected range vector — state
    // bounded by the range's points per series, series parallelize
    // freely. (Previously an aggregate(slice(transform(...))) HOF
    // chain whose derived array fed 4 consumers; project collapse
    // inlined the transform into each — the repo's fuse-to-native rule
    // says a multi-reference array pipeline becomes a kernel.) The
    // kernel evaluates the identical IEEE tree the recursive-CTE
    // oracle does, so the emitted doubles stay bit-stable
    "ts_holt_winters" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .select(col("user_id"), col("event_type"), col("ts"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          collect_list(struct(col("ts"), col("cents"))).as("__arr"))
        .filter(col("n") >= 2)
        .withColumn("__hw", graft.functions.hw_fold(col("__arr"), 0.3, 0.1))
        .select(col("user_id"), col("event_type"), col("n"),
          col("__hw.level").as("level"), col("__hw.trend").as("trend"),
          (col("__hw.level") + col("__hw.trend")).as("forecast"))
        .orderBy("user_id", "event_type")),
    // k-point moving average (frame: 3 preceding + current), exact via cents
    "ts_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "v")
        .rowsBetween(-3, Window.currentRow)
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("mov_n", count(lit(1)).over(w))
        .withColumn("mov_avg", sum("cents").over(w) / (col("mov_n") * 100.0))
        .select("user_id", "event_type", "ts", "v", "mov_n", "mov_avg")
        .orderBy("user_id", "event_type", "ts", "v")
    }),
    // as-of join: each purchase -> latest click at-or-before it, one
    // shuffle via the generic Ts.asofJoin (union + running struct max)
    "ts_asof_join" -> ((s, dir) => {
      val pts = points(s, dir)
      val purchases = pts.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("v"))
      val clicks = pts.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      Ts.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts")
        .select(col("user_id"), col("ts").as("purchase_ts"), col("v"),
          col("right_ts").as("click_ts"))
        .orderBy("user_id", "purchase_ts", "v")
    }),
    // hourly grid with *linear interpolation* across interior gaps
    // (edges carry the nearest real value)
    "ts_interp" -> ((s, dir) => {
      val base = hourlyGrid(points(s, dir))
      val wPrev = Window.partitionBy("user_id", "event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id", "event_type").orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      base
        .withColumn("pb", last(when(col("n") > 0, col("bucket")), ignoreNulls = true).over(wPrev))
        .withColumn("pv", last(when(col("n") > 0, col("max_v")), ignoreNulls = true).over(wPrev))
        .withColumn("nb", first(when(col("n") > 0, col("bucket")), ignoreNulls = true).over(wNext))
        .withColumn("nv", first(when(col("n") > 0, col("max_v")), ignoreNulls = true).over(wNext))
        .withColumn("v_interp",
          when(col("n") > 0, col("max_v"))
            .when(col("pb").isNotNull && col("nb").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                ((col("bucket") - col("pb")) / (col("nb") - col("pb")).cast("double")))
            .otherwise(coalesce(col("pv"), col("nv"))))
        .select("user_id", "event_type", "bucket", "n", "v_interp")
        .orderBy("user_id", "event_type", "bucket")
    }),
    // counter increase per day with reset handling (negative delta =>
    // counter restarted; its value counts from zero), exact via cents
    "ts_increase" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "v")
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("prev_cents", lag("cents", 1).over(w))
        .withColumn("inc",
          when(col("prev_cents").isNull, lit(0L))
            .when(col("cents") >= col("prev_cents"), col("cents") - col("prev_cents"))
            .otherwise(col("cents")))
        .groupBy(col("user_id"), col("event_type"),
          ((col("ts") / 86400).cast("long") * 86400).as("day"))
        .agg(sum("inc").as("increase_cents"), count(lit(1)).as("n"))
        .orderBy("user_id", "event_type", "day")
    }),
    // exact distribution aggregates per series (interpolated quantiles
    // over the exact integer cent grid)
    "ts_quantiles" -> ((s, dir) =>
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          expr("percentile(cents, 0.5)").as("p50"),
          expr("percentile(cents, 0.9)").as("p90"),
          expr("percentile(cents, 0.99)").as("p99"))
        .orderBy("user_id", "event_type")),
    // LTTB downsampling (Steinarsson 2013, the Grafana default) of
    // each metric's line over the fixed dashboard window to 12 points
    // — the perceptual companion to ts_m4 (M4 keeps per-pixel
    // extremes, LTTB keeps line SHAPE). ONE fused lttb_select kernel
    // call per metric (SURVEY §5 rule); selection is all-Long triangle
    // areas on the (sec, cent) grid, so the recursive-CTE oracle
    // reproduces it bit-exactly. The collect_list is bounded by the
    // range window per metric — the same bound holt_winters rides.
    // NOTE: nOut=12 here is HARD-CODED into the oracle CTE too (its
    // `// 10` bucket divisor and the i=9 / i<10 / i=10 recursion
    // bounds all encode nOut−2 = 10) — changing nOut without rewriting
    // those constants would silently mismatch at verify time
    "ts_lttb" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .select(col("event_type"), col("ts"),
          round(col("v") * 100).cast("long").as("cents"))
        .groupBy("event_type")
        .agg(collect_list(struct(col("ts"), col("cents"))).as("__pts"))
        .select(col("event_type"),
          explode(graft.functions.lttb_select(col("__pts"), 12)).as("__p"))
        .select(col("event_type"), col("__p.ts").as("ts"),
          col("__p.cents").as("cents"))
        .orderBy("event_type", "ts", "cents")),
    // robust dispersion per series (PromQL mad_over_time): median +
    // median-absolute-deviation over the exact integer cent grid. Two
    // aggregation passes with a per-series median joined back between
    // them — the join's build side is one row per series, so it stays
    // broadcast-shaped at any point volume. Interpolated medians over
    // ints land on binary fractions (x.0/x.5, then x.25 for the MAD),
    // so both engines agree bitwise
    "ts_mad" -> ((s, dir) => {
      val pts = points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
      val med = pts.groupBy("user_id", "event_type")
        .agg(expr("percentile(cents, 0.5)").as("med_cents"))
      pts.join(broadcast(med), Seq("user_id", "event_type"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          max("med_cents").as("med_cents"),
          expr("percentile(abs(cents - med_cents), 0.5)").as("mad_cents"))
        .orderBy("user_id", "event_type")
    }),
    // cohort retention: users grouped by first-seen 6-hour window; how
    // many are active again exactly 24 h later. Two hash-aggregates +
    // one join back on user — both join sides are one row per user
    // (-window), not per event, so the shuffle is corpus-cardinality
    // bounded. All counts — bit-exact everywhere.
    "ts_retention" -> ((s, dir) => {
      // cohort = per-user min window via ONE whole-partition window
      // pass (the groupBy + join-back shape executed the decode
      // lineage twice — the ts_store_anomaly disease)
      val wUser = Window.partitionBy("user_id")
      points(s, dir)
        .select(col("user_id"), ((col("ts") / 21600).cast("long") * 21600).as("w"))
        .distinct()
        .withColumn("cohort_w", min("w").over(wUser))
        .groupBy("cohort_w")
        .agg(count_distinct(col("user_id")).as("n_users"),
          count_distinct(when(col("w") === col("cohort_w") + 86400,
            col("user_id"))).as("n_retained_24h"))
        .orderBy("cohort_w")
    }),
    // conversion funnel: purchases attributed to the latest click at
    // most 1 h earlier (event analytics on the same single-shuffle
    // as-of join), rolled up to daily conversions / users / revenue
    "ts_funnel" -> ((s, dir) => {
      // as-of attribution as ONE tagged scan: clicks sort before
      // purchases at equal ts (kind 0 < 1 => '<=' semantics), a
      // running max carries the latest click ts forward — exactly
      // Ts.asofJoin's shape, but on a single pass of the decode
      // lineage (feeding two filtered branches into the union-based
      // asofJoin executed the chunkify+decode pipeline twice)
      val w = Window.partitionBy("user_id").orderBy("ts", "__kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      points(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("__kind", (col("event_type") === "purchase").cast("int"))
        .withColumn("__click_ts",
          max(when(col("__kind") === 0, col("ts"))).over(w))
        .filter(col("__kind") === 1 && col("__click_ts").isNotNull &&
          col("ts") - col("__click_ts") <= 3600)
        .groupBy(((col("ts") / 86400).cast("long") * 86400).as("day"))
        .agg(count(lit(1)).as("n_conversions"),
          count_distinct(col("user_id")).as("n_users"),
          sum(round(col("v") * 100).cast("long")).as("rev_cents"))
        .orderBy("day")
    }),
    // multi-resolution rollup: the hourly tier is derived by MERGING
    // the 15-min partials (sum-of-sums, min-of-mins, count-of-counts)
    // — never re-scanning points. This is the mergeable-aggregate
    // contract that makes continuous TSDB rollup tiers cheap at scale;
    // the oracle computes the hour straight from raw points, so the
    // merge must be lossless
    "ts_rollup_1h" -> ((s, dir) =>
      downsample15m(points(s, dir))
        .groupBy(col("user_id"), col("event_type"),
          ((col("bucket") / 3600).cast("long") * 3600).as("bucket_1h"))
        .agg(sum("n").as("n"), min("min_v").as("min_v"), max("max_v").as("max_v"),
          sum("sum_cents").as("sum_cents"))
        .withColumn("avg_v", col("sum_cents") / (col("n") * 100.0))
        .orderBy("user_id", "event_type", "bucket_1h")),
    // seasonal (hour-of-day) baseline per series, and each
    // series-day-hour's deviation from it: exact integer sums both
    // levels; dev is two exact divisions and one subtraction —
    // deterministic across engines
    "ts_seasonal" -> ((s, dir) => {
      val p = points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("day", floor(col("ts") / 86400).cast("long"))
        .withColumn("hod", floor((col("ts") % 86400) / 3600).cast("long"))
      // hour-of-day baseline via ONE whole-partition window over the
      // hourly partials (the second groupBy + join-back executed the
      // decode lineage twice — the ts_store_anomaly disease); exact
      // integer sums either way
      val wHod = Window.partitionBy("user_id", "event_type", "hod")
      p.groupBy("user_id", "event_type", "day", "hod")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .withColumn("base_n", sum("n").over(wHod))
        .withColumn("base_sum_cents", sum("sum_cents").over(wHod))
        .withColumn("dev_cents",
          col("sum_cents") / col("n").cast("double") -
            col("base_sum_cents") / col("base_n").cast("double"))
        .select("user_id", "event_type", "day", "hod", "n", "sum_cents",
          "base_n", "base_sum_cents", "dev_cents")
        .orderBy("user_id", "event_type", "day", "hod")
    }),
    // mergeable sketch quantiles per series (rows-only: sketch shape
    // is engine-specific; accuracy vs exact percentile pinned in
    // TsSketchSpec) — the 100 TB path where exact per-series sorts
    // are replaced by fixed-size mergeable state
    "ts_quantiles_sketch" -> ((s, dir) =>
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(cents, array(0.5, 0.9, 0.99), 1000)").as("qs"))
        .select(col("user_id"), col("event_type"), col("n"),
          col("qs")(0).as("p50"), col("qs")(1).as("p90"), col("qs")(2).as("p99"))
        .orderBy("user_id", "event_type")),
    // sessionization: 30-min-gap session windows per user
    // (session_window is also the streaming form of this operator)
    "ts_sessionize" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      graft.streaming.StreamIngest.sessionize(
          ev.withColumn("__ts", to_timestamp(Ts.epochSec(ev, "ts"))),
          "user_id", "__ts", "30 minutes")
        .orderBy("user_id", "session_start")
    }),
    // the SAME sessionize aggregation the streaming path runs
    // (StreamIngest.sessionize; watermarked stream parity in
    // StreamIngestSpec), here keyed by event_type at a 10 min gap
    "stream_sessionize" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      graft.streaming.StreamIngest.sessionize(
          ev.withColumn("__ts", to_timestamp(Ts.epochSec(ev, "ts"))),
          "event_type", "__ts", "10 minutes")
        .orderBy("event_type", "session_start")
    }),
    // batch-equivalent of the streaming windowed ingest aggregation
    // (StreamIngest.chunkStream semantics; streaming path in
    // StreamIngestSpec over MemoryStream)
    "stream_window_agg" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      ev.withColumn("__sec", Ts.epochSec(ev, "ts"))
        .groupBy(col("event_type"),
          ((col("__sec") / 3600).cast("long") * 3600).as("window_start"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("event_type", "window_start")
    }),
    // hourly gap-fill with carry-forward of the last bucket max
    "ts_gapfill" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourlyGrid(points(s, dir))
        .withColumn("v_filled", last("max_v", ignoreNulls = true).over(w))
        .select("user_id", "event_type", "bucket", "n", "v_filled")
        .orderBy("user_id", "event_type", "bucket")
    }),
    // encode -> decode -> aggregate: proves bit-exact roundtrip at scale
    "ts_roundtrip_agg" -> ((s, dir) => aggExact(Ts.unpack(chunks(s, dir), series))),
    // the VALUE-ONLY codec (reference double_stream.rs standalone):
    // per-(series, 2h-window) ts-ordered values ->
    // gorilla_encode_values -> gorilla_decode_values -> exact
    // aggregates. Windowed like chunkify so the per-group array stays
    // bounded (a whole series' history in one collect_list would not
    // survive scale); values sort by (ts, v) so the encode order is
    // deterministic under duplicate timestamps.
    "ts_values_roundtrip" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val vals = ev.select(col("user_id"), col("event_type"),
          Ts.epochSec(ev, "ts").as("__sec"), col("value").cast("double").as("__v"))
        .groupBy(col("user_id"), col("event_type"),
          ((col("__sec") / Ts.WindowSec).cast("long") * Ts.WindowSec).as("__w"))
        .agg(graft.functions.gorilla_encode_values(
          transform(array_sort(collect_list(struct(col("__sec"), col("__v")))),
            p => p.getField("__v"))).as("vchunk"))
      vals.select(col("user_id"), col("event_type"),
          explode(graft.functions.gorilla_decode_values(col("vchunk"))).as("v"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"),
          sum(round(col("v") * 100).cast("long")).as("sum_cents"))
        .orderBy("user_id", "event_type")
    }),
    "ts_roundtrip_leadtrail" -> ((s, dir) =>
      aggExact(Ts.unpack(chunks(s, dir, leadTrail = true), series))),
    // the full decoded point set, row for row
    "ts_roundtrip_points" -> ((s, dir) =>
      Ts.unpack(chunks(s, dir), series)
        .select(col("user_id"), col("event_type"), col("ts"), col("v"))
        .orderBy("user_id", "event_type", "ts", "v")),
    // chunk layout: how many 2-h gorilla chunks per series, points per chunk
    "ts_chunk_stats" -> ((s, dir) =>
      chunks(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_chunks"), sum("n").as("n_points"),
          max("n").as("max_chunk_points"))
        .orderBy("user_id", "event_type")),
    // compression accounting (rows-only: byte sizes are codec-specific)
    "ts_compression" -> ((s, dir) =>
      graft.tsdb.Ts.compressionStats(chunks(s, dir), series)
        .orderBy("user_id", "event_type")),
    // density-adaptive windows: sparse series get wide windows so
    // chunk headers stop dominating (rows-only: byte sizes)
    "ts_compression_adaptive" -> ((s, dir) =>
      graft.tsdb.Ts.compressionStats(
        graft.tsdb.Ts.chunkifyAdaptive(Tables(s, dir, "events"), series, "ts", "value",
          targetPoints = 64), series)
        .orderBy("user_id", "event_type")),
    // per-series integer-moment 3-sigma outliers (see anomalyJoin):
    // moments from a cheap raw-table aggregate, flags in one pass over
    // the decoded points — no whole-partition window, no skew
    "ts_anomaly" -> ((s, dir) => anomalyJoin(points(s, dir), rawMoments(s, dir))),
    // per-series value histogram on 50-unit buckets: floor of the
    // double quotient cents/5000.0 — the identical IEEE operation in
    // both engines (DuckDB's integer `//` truncates toward zero, which
    // would diverge on negative values) — in one hash-aggregate with
    // map-side partials
    "ts_histogram" -> ((s, dir) =>
      points(s, dir)
        .withColumn("bucket",
          floor(round(col("v") * 100).cast("long") / 5000.0).cast("long"))
        .groupBy("user_id", "event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("user_id", "event_type", "bucket")),
    // time × value 2-D histogram over the dashboard window — the data
    // a heatmap panel renders (per metric: 2-h time buckets × 10-unit
    // value bands). One hash aggregate with map-side partials; cell
    // count is (window/2h)·bands-bounded, never point-bounded
    "ts_heatmap" -> ((s, dir) =>
      points(s, dir)
        .filter(col("ts") >= RangeFrom && col("ts") <= RangeTo)
        .groupBy(col("event_type"),
          ((col("ts") / 7200).cast("long") * 7200).as("t_bucket"),
          floor(round(col("v") * 100).cast("long") / 1000.0).cast("long")
            .as("v_band"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("v") * 100).cast("long")).as("sum_cents"))
        .orderBy("event_type", "t_bucket", "v_band")),
    // PromQL-style histogram_quantile(0.9) per series: the cumulative
    // distribution over the SAME fixed-width integer buckets
    // ts_histogram emits, the target rank at 0.9·n, and a linear
    // interpolation inside the bucket the rank falls into. Everything
    // up to the final division is integer (bucket counts, cumulative
    // sums), and the interpolation is the identical IEEE expression in
    // both engines — so the estimate is bit-deterministic. Scale: the
    // bucket partials are a mergeable map-side hash-agg, and the
    // per-series windows run over ≤ #buckets partial rows (bounded by
    // the value range, NOT the point count) — at 100 TB this is the
    // shape histogram-backed quantiles must take, since exact
    // per-series sorts don't compose and sketches lose exactness
    "ts_histogram_quantile" -> ((s, dir) => {
      val hist = points(s, dir)
        .withColumn("bucket",
          floor(round(col("v") * 100).cast("long") / 5000.0).cast("long"))
        .groupBy("user_id", "event_type", "bucket")
        .agg(count(lit(1)).as("nb"))
      val wCum = Window.partitionBy("user_id", "event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("user_id", "event_type")
      hist
        .withColumn("cum", sum("nb").over(wCum))
        .withColumn("n", sum("nb").over(wAll))
        .withColumn("rank", col("n") * 0.9)
        // exactly one bucket per series crosses the rank: cum is
        // strictly increasing (empty buckets are absent), 0 < rank <= n
        .filter(col("cum") >= col("rank") && col("cum") - col("nb") < col("rank"))
        .select(col("user_id"), col("event_type"), col("n"),
          ((col("bucket") * 5000.0 +
            (col("rank") - (col("cum") - col("nb"))) / col("nb") * 5000.0)
            / 100.0).as("p90_v"))
        .orderBy("user_id", "event_type")
    }),
    // the same integer-moment anomaly flags computed OFF THE PERSISTED
    // STORE (ingest-once path; shares ts_anomaly's oracle — the thing
    // under test is that the store roundtrip changes nothing). Moments
    // come from the stored (n, sum_cents, sumsq_cents) stat columns:
    // that branch never touches the `chunk` bytes, so the only decode
    // in the whole plan is the single points pass (plan-pinned)
    "ts_store_anomaly" -> ((s, dir) => {
      val st = storeChunks(s, dir)
      anomalyJoin(Ts.unpack(st, series), headerMoments(st))
    }),
    // top movers: series ranked by largest absolute day-over-day change
    // in daily integer-cents total (windowed lag over per-day partials,
    // then a global TakeOrdered top-k — never a full sort)
    "ts_top_movers" -> ((s, dir) => {
      val daily = points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .groupBy(col("user_id"), col("event_type"),
          ((col("ts") / 86400).cast("long") * 86400).as("day"))
        .agg(sum("cents").as("day_cents"))
      val w = Window.partitionBy("user_id", "event_type").orderBy("day")
      daily
        .withColumn("prev_cents", lag("day_cents", 1).over(w))
        .filter(col("prev_cents").isNotNull)
        .withColumn("delta", col("day_cents") - col("prev_cents"))
        .select("user_id", "event_type", "day", "day_cents", "prev_cents", "delta")
        .orderBy(abs(col("delta")).desc, col("user_id"), col("event_type"), col("day"))
        .limit(20)
    }),
    // PREFIX anomaly flags: each point judged against the integer
    // moments of strictly-earlier points only — the batch equivalent
    // of the streaming detector (StreamIngest.anomalyStream, stream==
    // batch parity in StreamIngestSpec); running moments via a window
    // frame ending at 1 PRECEDING, all-integer test as ts_anomaly
    "ts_anomaly_prefix" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      points(s, dir)
        .withColumn("cents", round(col("v") * 100).cast("long"))
        .withColumn("np", count(lit(1)).over(w))
        .withColumn("sp", coalesce(sum("cents").over(w), lit(0L)))
        .withColumn("qp", coalesce(sum(col("cents") * col("cents")).over(w), lit(0L)))
        .filter(col("np") >= 8 &&
          (col("np") * col("cents") - col("sp")) *
            (col("np") * col("cents") - col("sp")) >
          lit(9L) * (col("np") * col("qp") - col("sp") * col("sp")))
        .select("user_id", "event_type", "ts", "cents", "np")
        .orderBy("user_id", "event_type", "ts", "cents")
    }),
    // aggregate *directly over compressed chunks* (no point materialization)
    // written as a NAIVE decode-explode-aggregate — ChunkAggRule
    // rewrites it to per-chunk gorilla_chunk_agg partials (one row per
    // chunk through the aggregate, no point structs); plan-asserted in
    // PlansSpec, results oracled like any other query
    "ts_points_agg" -> ((s, dir) => {
      val c = chunks(s, dir)
      Ts.unpack(c, Seq("user_id", "event_type"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          min("ts").as("min_ts"), max("ts").as("max_ts"),
          min("v").as("min_v"), max("v").as("max_v"),
          sum(round(col("v") * 100).cast("long")).as("sum_cents"))
        .orderBy("user_id", "event_type")
    }),
    "ts_compressed_agg" -> ((s, dir) => {
      val c = chunks(s, dir)
      c.select(col("user_id"), graft.functions.gorilla_chunk_agg(col("chunk")).as("a"))
        .groupBy("user_id")
        .agg(sum(col("a.n")).as("n"),
          min(col("a.min_ts")).as("min_ts"), max(col("a.max_ts")).as("max_ts"),
          min(col("a.min_v")).as("min_v"), max(col("a.max_v")).as("max_v"))
        .orderBy("user_id")
    }),
  )

  private val baseOracle: Map[String, String] = Map(
    "ts_range_query" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, ts, v FROM pts
      |WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |ORDER BY user_id, event_type, ts, v""".stripMargin,
    // the store after a surgical delete must equal the raw events
    // with the deleted range filtered out
    "ts_delete_range" -> s"""WITH $ptsSql
      |SELECT user_id, count(*) AS n,
      |  min(ts) AS min_ts, max(ts) AS max_ts,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM pts WHERE ts < $RangeFrom OR ts > $RangeTo
      |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the upserted frame must equal aggregating raw events ∪ the
    // +30-min-shifted late batch (merge-append multiset semantics)
    "ts_upsert" -> s"""WITH $ptsSql,
      |allp AS (SELECT user_id, ts, v FROM pts
      |  UNION ALL
      |  SELECT user_id, ts + 1800 AS ts, v FROM pts
      |  WHERE ts >= $RangeFrom AND ts <= $RangeTo)
      |SELECT user_id, count(*) AS n,
      |  min(ts) AS min_ts, max(ts) AS max_ts,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM allp GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the live view must equal the plain range scan over ALL points
    "ts_live_range" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, ts, v FROM pts
      |WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |ORDER BY user_id, event_type, ts, v""".stripMargin,
    "ts_latest" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, ts, v FROM (
      |  SELECT user_id, event_type, ts, v,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, v DESC) AS rn
      |  FROM pts) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "ts_downsample" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, (ts // 900) * 900 AS bucket,
      |  count(*) AS n, min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) / (count(*) * 100.0) AS avg_v
      |FROM pts GROUP BY 1, 2, 3 ORDER BY user_id, event_type, bucket""".stripMargin,
    "ts_rate" -> s"""WITH $ptsSql
      |SELECT * FROM (
      |  SELECT user_id, event_type, ts, v,
      |    lag(ts) OVER w AS prev_ts,
      |    ts - lag(ts) OVER w AS dt,
      |    (v - lag(v) OVER w) / nullif(ts - lag(ts) OVER w, 0) AS rate
      |  FROM pts WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, v))
      |WHERE prev_ts IS NOT NULL ORDER BY user_id, event_type, ts, v""".stripMargin,
    "ts_m4" -> s"""WITH $ptsSql,
      |b AS (SELECT user_id, event_type, (ts // 14400) * 14400 AS bucket,
      |        ts, v FROM pts),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY ts, v) AS rf,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY ts DESC, v DESC) AS rl,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY v, ts) AS rlo,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY v DESC, ts DESC) AS rhi
      |FROM b)
      |SELECT user_id, event_type, bucket, count(*) AS n,
      |  max(CASE WHEN rf = 1 THEN ts END) AS ts_first,
      |  max(CASE WHEN rf = 1 THEN v END) AS v_first,
      |  max(CASE WHEN rl = 1 THEN ts END) AS ts_last,
      |  max(CASE WHEN rl = 1 THEN v END) AS v_last,
      |  max(CASE WHEN rlo = 1 THEN v END) AS min_v,
      |  max(CASE WHEN rlo = 1 THEN ts END) AS ts_min,
      |  max(CASE WHEN rhi = 1 THEN v END) AS max_v,
      |  max(CASE WHEN rhi = 1 THEN ts END) AS ts_max
      |FROM r GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, bucket""".stripMargin,
    "ts_resets" -> s"""WITH $ptsSql,
      |d AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents,
      |        lag(CAST(round(v * 100) AS BIGINT))
      |          OVER (PARTITION BY user_id, event_type ORDER BY ts, v) AS prev_cents
      |      FROM pts)
      |SELECT user_id, event_type, (ts // 86400) * 86400 AS day,
      |  CAST(sum(CASE WHEN prev_cents IS NOT NULL AND cents < prev_cents
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
      |  count(*) AS n
      |FROM d GROUP BY 1, 2, 3 ORDER BY user_id, event_type, day""".stripMargin,
    "ts_irate" -> s"""WITH $ptsSql,
      |r AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts DESC, v DESC) AS rn
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo)
      |SELECT user_id, event_type,
      |  max(CASE WHEN rn = 1 THEN ts END) AS last_ts,
      |  max(CASE WHEN rn = 2 THEN ts END) AS prev_ts,
      |  CAST(max(CASE WHEN rn = 1 THEN cents END) -
      |       max(CASE WHEN rn = 2 THEN cents END) AS BIGINT) AS dcents,
      |  CAST(max(CASE WHEN rn = 1 THEN ts END) -
      |       max(CASE WHEN rn = 2 THEN ts END) AS BIGINT) AS dt,
      |  CAST(max(CASE WHEN rn = 1 THEN cents END) -
      |       max(CASE WHEN rn = 2 THEN cents END) AS DOUBLE) /
      |    (100.0 * nullif(max(CASE WHEN rn = 1 THEN ts END) -
      |                    max(CASE WHEN rn = 2 THEN ts END), 0)) AS irate
      |FROM r WHERE rn <= 2 GROUP BY 1, 2
      |HAVING max(CASE WHEN rn = 2 THEN ts END) IS NOT NULL
      |ORDER BY user_id, event_type""".stripMargin,
    // t·cents ≤ 172800 · |cents|max and the per-series sums stay far
    // under 2^63 at every test SF (and at sf1: ~10⁴ pts/series ×
    // 1.7e13 ≈ 1.7e17); num/den are exact BIGINTs on both engines
    "ts_deriv" -> s"""WITH $ptsSql,
      |c AS (SELECT user_id, event_type, ts - $RangeFrom AS t,
      |        CAST(round(v * 100) AS BIGINT) AS cents
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo),
      |s AS (SELECT user_id, event_type, count(*) AS n,
      |        CAST(sum(t) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
      |        CAST(sum(t * cents) AS BIGINT) AS stv,
      |        CAST(sum(t * t) AS BIGINT) AS stt
      |      FROM c GROUP BY 1, 2)
      |SELECT user_id, event_type, n,
      |  CAST(n * stv - st * sv AS BIGINT) AS num,
      |  CAST(n * stt - st * st AS BIGINT) AS den,
      |  CAST(n * stv - st * sv AS DOUBLE) /
      |    (100.0 * nullif(n * stt - st * st, 0)) AS slope
      |FROM s WHERE n >= 2 ORDER BY user_id, event_type""".stripMargin,
    "ts_changes" -> s"""WITH $ptsSql,
      |d AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents,
      |        lag(CAST(round(v * 100) AS BIGINT))
      |          OVER (PARTITION BY user_id, event_type ORDER BY ts, v) AS prev_cents
      |      FROM pts)
      |SELECT user_id, event_type, (ts // 86400) * 86400 AS day,
      |  CAST(sum(CASE WHEN prev_cents IS NOT NULL AND cents <> prev_cents
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
      |  count(*) AS n
      |FROM d GROUP BY 1, 2, 3 ORDER BY user_id, event_type, day""".stripMargin,
    "ts_delta" -> s"""WITH $ptsSql,
      |r AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, CAST(round(v * 100) AS BIGINT)) AS rf,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts DESC, CAST(round(v * 100) AS BIGINT) DESC) AS rl
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo),
      |s AS (SELECT user_id, event_type,
      |        max(CASE WHEN rf = 1 THEN ts END) AS first_ts,
      |        max(CASE WHEN rl = 1 THEN ts END) AS last_ts,
      |        max(CASE WHEN rf = 1 THEN cents END) AS first_cents,
      |        max(CASE WHEN rl = 1 THEN cents END) AS last_cents,
      |        count(*) AS n
      |      FROM r GROUP BY 1, 2)
      |SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
      |  first_ts, last_ts, first_cents, last_cents,
      |  CAST(last_cents - first_cents AS BIGINT) AS delta_cents,
      |  CAST(last_cents - first_cents AS BIGINT) / 100.0 AS delta_v
      |FROM s WHERE n >= 2 ORDER BY user_id, event_type""".stripMargin,
    "ts_predict_linear" -> s"""WITH $ptsSql,
      |c AS (SELECT user_id, event_type, ts - $RangeFrom AS t,
      |        CAST(round(v * 100) AS BIGINT) AS cents
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo),
      |s AS (SELECT user_id, event_type, count(*) AS n,
      |        CAST(sum(t) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
      |        CAST(sum(t * cents) AS BIGINT) AS stv,
      |        CAST(sum(t * t) AS BIGINT) AS stt
      |      FROM c GROUP BY 1, 2)
      |SELECT user_id, event_type, n,
      |  CAST(n * stv - st * sv AS BIGINT) AS num,
      |  CAST(n * stt - st * st AS BIGINT) AS den,
      |  CASE WHEN n * stt - st * st <> 0 THEN
      |    (CAST(sv AS DOUBLE) / (n * 100.0)) +
      |      (CAST(n * stv - st * sv AS DOUBLE) /
      |        (100.0 * (n * stt - st * st))) *
      |        (${(RangeTo - RangeFrom + 3600L).toDouble} -
      |          CAST(st AS DOUBLE) / n)
      |  END AS predict_v
      |FROM s WHERE n >= 2 ORDER BY user_id, event_type""".stripMargin,
    "ts_absent" -> s"""WITH $ptsSql,
      |sr AS (SELECT DISTINCT user_id, event_type FROM pts),
      |grid AS (SELECT user_id, event_type,
      |           unnest(generate_series($RangeFrom, ${RangeTo - 3600}, 3600)) AS hour
      |         FROM sr),
      |pres AS (SELECT DISTINCT user_id, event_type,
      |           (ts // 3600) * 3600 AS hour
      |         FROM pts WHERE ts >= $RangeFrom AND ts < $RangeTo)
      |SELECT g.user_id, g.event_type, g.hour FROM grid g
      |WHERE NOT EXISTS (SELECT 1 FROM pres p
      |  WHERE p.user_id = g.user_id AND p.event_type = g.event_type
      |    AND p.hour = g.hour)
      |ORDER BY g.user_id, g.event_type, g.hour""".stripMargin,
    "ts_moving_avg" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, ts, v,
      |  count(*) OVER w AS mov_n,
      |  sum(CAST(round(v * 100) AS BIGINT)) OVER w / (count(*) OVER w * 100.0) AS mov_avg
      |FROM pts WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, v
      |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_type, ts, v""".stripMargin,
    "ts_asof_join" -> s"""WITH $ptsSql,
      |p AS (SELECT user_id, ts, v FROM pts WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts FROM pts WHERE event_type = 'click')
      |SELECT p.user_id, p.ts AS purchase_ts, p.v, c.ts AS click_ts
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.user_id, purchase_ts, p.v""".stripMargin,
    "ts_interp" -> s"""WITH $ptsSql,
      |agg AS (SELECT user_id, event_type, (ts // 3600) * 3600 AS bucket,
      |          count(*) AS n, max(v) AS max_v
      |        FROM pts GROUP BY 1, 2, 3),
      |grid AS (SELECT user_id, event_type,
      |           unnest(generate_series(min(bucket), max(bucket), 3600)) AS bucket
      |         FROM agg GROUP BY user_id, event_type),
      |j AS (SELECT g.user_id, g.event_type, g.bucket,
      |        coalesce(a.n, 0) AS n, a.max_v
      |      FROM grid g LEFT JOIN agg a
      |        ON g.user_id = a.user_id AND g.event_type = a.event_type
      |       AND g.bucket = a.bucket),
      |k AS (SELECT user_id, event_type, bucket, n, max_v,
      |  last_value(CASE WHEN n > 0 THEN bucket END IGNORE NULLS) OVER wp AS pb,
      |  last_value(CASE WHEN n > 0 THEN max_v END IGNORE NULLS) OVER wp AS pv,
      |  first_value(CASE WHEN n > 0 THEN bucket END IGNORE NULLS) OVER wn AS nb,
      |  first_value(CASE WHEN n > 0 THEN max_v END IGNORE NULLS) OVER wn AS nv
      |FROM j WINDOW
      |  wp AS (PARTITION BY user_id, event_type ORDER BY bucket
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id, event_type ORDER BY bucket
      |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, event_type, bucket, n,
      |  CASE WHEN n > 0 THEN max_v
      |       WHEN pb IS NOT NULL AND nb IS NOT NULL THEN
      |         pv + (nv - pv) * ((bucket - pb) / CAST(nb - pb AS DOUBLE))
      |       ELSE coalesce(pv, nv) END AS v_interp
      |FROM k ORDER BY user_id, event_type, bucket""".stripMargin,
    "ts_increase" -> s"""WITH $ptsSql,
      |d AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents,
      |        lag(CAST(round(v * 100) AS BIGINT))
      |          OVER (PARTITION BY user_id, event_type ORDER BY ts, v) AS prev_cents
      |      FROM pts)
      |SELECT user_id, event_type, (ts // 86400) * 86400 AS day,
      |  CAST(sum(CASE WHEN prev_cents IS NULL THEN 0
      |                WHEN cents >= prev_cents THEN cents - prev_cents
      |                ELSE cents END) AS BIGINT) AS increase_cents,
      |  count(*) AS n
      |FROM d GROUP BY 1, 2, 3 ORDER BY user_id, event_type, day""".stripMargin,
    "ts_quantiles" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, count(*) AS n,
      |  quantile_cont(CAST(round(v * 100) AS BIGINT), 0.5) AS p50,
      |  quantile_cont(CAST(round(v * 100) AS BIGINT), 0.9) AS p90,
      |  quantile_cont(CAST(round(v * 100) AS BIGINT), 0.99) AS p99
      |FROM pts GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin,
    // the kernel's selection loop as a recursive CTE: one row per
    // (metric, bucket index); list_max over (area, -ts, -cents)
    // structs replicates the strict-> earliest-wins tie rule
    "ts_lttb" -> s"""WITH RECURSIVE $ptsSql,
      |c AS (SELECT event_type, ts, CAST(round(v * 100) AS BIGINT) AS cents
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo),
      |a AS (SELECT event_type, count(*) AS n,
      |        list(struct_pack(t := ts, c := cents) ORDER BY ts, cents) AS ps
      |      FROM c GROUP BY 1),
      |r AS (
      |  SELECT event_type, n, ps, 0 AS i,
      |         ps[1].t AS pt, ps[1].c AS pc, [ps[1]] AS sel
      |  FROM a WHERE n > 12
      |  UNION ALL
      |  SELECT event_type, n, ps, i + 1,
      |         -(best.nt), -(best.nc),
      |         sel || [struct_pack(t := -(best.nt), c := -(best.nc))]
      |  FROM (
      |    SELECT event_type, n, ps, i, pt, pc, sel,
      |      list_max(list_transform(
      |        range(2 + (i * (n-2)) // 10, 2 + ((i+1) * (n-2)) // 10),
      |        j -> struct_pack(
      |          a := abs((pt * nn - sx) * (ps[j].c - pc)
      |                   - (pt - ps[j].t) * (sy - nn * pc)),
      |          nt := -ps[j].t, nc := -ps[j].c))) AS best
      |    FROM (
      |      SELECT *,
      |        CASE WHEN i = 9 THEN ps[n].t ELSE CAST(list_sum(list_transform(
      |          range(2 + ((i+1)*(n-2)) // 10, 2 + ((i+2)*(n-2)) // 10),
      |          j -> ps[j].t)) AS BIGINT) END AS sx,
      |        CASE WHEN i = 9 THEN ps[n].c ELSE CAST(list_sum(list_transform(
      |          range(2 + ((i+1)*(n-2)) // 10, 2 + ((i+2)*(n-2)) // 10),
      |          j -> ps[j].c)) AS BIGINT) END AS sy,
      |        CASE WHEN i = 9 THEN 1 ELSE
      |          (2 + ((i+2)*(n-2)) // 10) - (2 + ((i+1)*(n-2)) // 10) END AS nn
      |      FROM r WHERE i < 10) ) ),
      |sel_final AS (SELECT event_type, sel || [ps[n]] AS s FROM r WHERE i = 10),
      |allsel AS (
      |  SELECT event_type, UNNEST(s) AS p FROM sel_final
      |  UNION ALL
      |  SELECT event_type, UNNEST(ps) AS p FROM a WHERE n <= 12)
      |SELECT event_type, p.t AS ts, p.c AS cents FROM allsel
      |ORDER BY event_type, ts, cents""".stripMargin,
    "ts_mad" -> s"""WITH $ptsSql,
      |c AS (SELECT user_id, event_type,
      |  CAST(round(v * 100) AS BIGINT) AS cents FROM pts),
      |m AS (SELECT user_id, event_type,
      |  quantile_cont(cents, 0.5) AS med_cents FROM c GROUP BY 1, 2)
      |SELECT c.user_id, c.event_type, count(*) AS n,
      |  max(m.med_cents) AS med_cents,
      |  quantile_cont(abs(c.cents - m.med_cents), 0.5) AS mad_cents
      |FROM c JOIN m USING (user_id, event_type)
      |GROUP BY c.user_id, c.event_type
      |ORDER BY user_id, event_type""".stripMargin,
    "ts_retention" -> s"""WITH $ptsSql,
      |d AS (SELECT DISTINCT user_id,
      |  CAST(ts // 21600 * 21600 AS BIGINT) AS w FROM pts),
      |c AS (SELECT user_id, min(w) AS cohort_w FROM d GROUP BY user_id)
      |SELECT c.cohort_w,
      |  count(DISTINCT c.user_id) AS n_users,
      |  count(DISTINCT CASE WHEN d.w = c.cohort_w + 86400
      |    THEN c.user_id END) AS n_retained_24h
      |FROM c JOIN d USING (user_id)
      |GROUP BY c.cohort_w ORDER BY c.cohort_w""".stripMargin,
    "ts_funnel" -> s"""WITH $ptsSql,
      |p AS (SELECT user_id, ts, v FROM pts WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts FROM pts WHERE event_type = 'click'),
      |m AS (SELECT p.user_id, p.ts, p.v, c.ts AS click_ts
      |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      |SELECT CAST(ts // 86400 * 86400 AS BIGINT) AS day,
      |  count(*) AS n_conversions,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |FROM m WHERE click_ts IS NOT NULL AND ts - click_ts <= 3600
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ts_rollup_1h" -> s"""WITH $ptsSql
      |SELECT user_id, event_type,
      |  CAST(ts // 3600 * 3600 AS BIGINT) AS bucket_1h,
      |  count(*) AS n, min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) / (count(*) * 100.0) AS avg_v
      |FROM pts GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, bucket_1h""".stripMargin,
    "ts_seasonal" -> s"""WITH $ptsSql,
      |h AS (SELECT user_id, event_type, ts // 86400 AS day,
      |        (ts % 86400) // 3600 AS hod, count(*) AS n,
      |        CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |      FROM pts GROUP BY 1, 2, 3, 4),
      |b AS (SELECT user_id, event_type, hod, CAST(sum(n) AS BIGINT) AS base_n,
      |        CAST(sum(sum_cents) AS BIGINT) AS base_sum_cents
      |      FROM h GROUP BY 1, 2, 3)
      |SELECT h.user_id, h.event_type, h.day, h.hod, h.n, h.sum_cents,
      |  b.base_n, b.base_sum_cents,
      |  h.sum_cents / CAST(h.n AS DOUBLE) -
      |    b.base_sum_cents / CAST(b.base_n AS DOUBLE) AS dev_cents
      |FROM h JOIN b USING (user_id, event_type, hod)
      |ORDER BY user_id, event_type, day, hod""".stripMargin,
    "ts_sessionize" -> sessionizeSql("user_id", 1800),
    "stream_sessionize" -> sessionizeSql("event_type", 600),
    "stream_window_agg" ->
      """SELECT event_type,
        |  CAST((epoch_ns(ts) // 1000000000) // 3600 * 3600 AS BIGINT) AS window_start,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY event_type, window_start""".stripMargin,
    "ts_gapfill" -> s"""WITH $ptsSql,
      |agg AS (SELECT user_id, event_type, (ts // 3600) * 3600 AS bucket,
      |          count(*) AS n, max(v) AS max_v
      |        FROM pts GROUP BY 1, 2, 3),
      |grid AS (SELECT user_id, event_type,
      |           unnest(generate_series(min(bucket), max(bucket), 3600)) AS bucket
      |         FROM agg GROUP BY user_id, event_type)
      |SELECT g.user_id, g.event_type, g.bucket, coalesce(a.n, 0) AS n,
      |  last_value(a.max_v IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id, g.event_type ORDER BY g.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM grid g LEFT JOIN agg a
      |  ON g.user_id = a.user_id AND g.event_type = a.event_type AND g.bucket = a.bucket
      |ORDER BY g.user_id, g.event_type, g.bucket""".stripMargin,
    "ts_roundtrip_agg" -> aggExactSql,
    // the compacted store serves the whole corpus — same full oracle
    "ts_store_compact" -> aggExactSql,
    // expiry drops exactly the partitions before RangeFrom's midnight
    "ts_store_expire" ->
      s"""SELECT user_id, count(*) AS n,
         |  min(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS min_ts,
         |  max(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS max_ts,
         |  min(value) AS min_v, max(value) AS max_v,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM events
         |WHERE CAST(epoch_ns(ts) // 1000000000 AS BIGINT) >= $RangeFrom
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the same fold as a RECURSIVE CTE stepping through each series'
    // sorted sample list — each iteration's expressions evaluate
    // against the previous row, so the duplicated lᵢ subterm computes
    // on unmutated state. (DuckDB's list_reduce is NOT usable here:
    // from the second application on it overwrites the accumulator's
    // first struct field before evaluating the second, silently
    // corrupting any lambda whose later field reads an earlier one.)
    "ts_holt_winters" -> s"""WITH RECURSIVE $ptsSql,
      |c AS (SELECT user_id, event_type, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents
      |      FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo),
      |a AS (SELECT user_id, event_type, count(*) AS n,
      |        list(cents ORDER BY ts, cents) AS cl
      |      FROM c GROUP BY 1, 2),
      |x AS (SELECT user_id, event_type, n,
      |        list_transform(cl, q -> CAST(q AS DOUBLE) / 100.0) AS xs
      |      FROM a WHERE n >= 2),
      |r AS (
      |  SELECT user_id, event_type, n, xs, 2 AS i,
      |         xs[2] AS l, xs[2] - xs[1] AS t
      |  FROM x
      |  UNION ALL
      |  SELECT user_id, event_type, n, xs, i + 1,
      |         0.3 * xs[i + 1] + 0.7 * (l + t),
      |         0.1 * ((0.3 * xs[i + 1] + 0.7 * (l + t)) - l) + 0.9 * t
      |  FROM r WHERE i < n)
      |SELECT user_id, event_type, n, l AS level, t AS trend,
      |  l + t AS forecast
      |FROM r WHERE i = n ORDER BY user_id, event_type""".stripMargin,
    "ts_burn_rate" -> s"""WITH $ptsSql
      |SELECT user_id, count(*) AS tot_long,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS err_long,
      |  CAST(sum(CASE WHEN ts > ${RangeTo - 6L * 3600} THEN 1 ELSE 0 END)
      |    AS BIGINT) AS tot_short,
      |  CAST(sum(CASE WHEN ts > ${RangeTo - 6L * 3600} AND event_type = 'error'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS err_short,
      |  (sum(CASE WHEN ts > ${RangeTo - 6L * 3600} AND event_type = 'error'
      |       THEN 1 ELSE 0 END) * 1000 >
      |     180 * sum(CASE WHEN ts > ${RangeTo - 6L * 3600} THEN 1 ELSE 0 END))
      |  AND (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000 >
      |     180 * count(*)) AS alert
      |FROM pts WHERE ts > ${RangeTo - 24L * 3600} AND ts <= $RangeTo
      |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ts_subquery_rate" -> s"""WITH $ptsSql,
      |b AS (SELECT user_id, event_type, (ts // 86400) * 86400 AS bucket, ts,
      |        CAST(round(v * 100) AS BIGINT) AS cents
      |      FROM pts),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY ts, cents) AS rf,
      |  row_number() OVER (PARTITION BY user_id, event_type, bucket
      |                     ORDER BY ts DESC, cents DESC) AS rl
      |FROM b),
      |g AS (SELECT user_id, event_type, bucket, count(*) AS n,
      |  max(CASE WHEN rf = 1 THEN ts END) AS f_ts,
      |  max(CASE WHEN rf = 1 THEN cents END) AS f_c,
      |  max(CASE WHEN rl = 1 THEN ts END) AS l_ts,
      |  max(CASE WHEN rl = 1 THEN cents END) AS l_c
      |FROM r GROUP BY 1, 2, 3),
      |q AS (SELECT user_id, event_type, bucket,
      |  CAST(l_c - f_c AS DOUBLE) / (100.0 * (l_ts - f_ts)) AS rate
      |FROM g WHERE n >= 2 AND l_ts <> f_ts)
      |SELECT user_id, event_type,
      |  count(*) OVER (PARTITION BY user_id, event_type) AS n_buckets,
      |  rate AS max_rate, bucket AS at_bucket
      |FROM q
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY rate DESC, bucket DESC) = 1
      |ORDER BY user_id, event_type""".stripMargin,
    "ts_values_roundtrip" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, count(*) AS n,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM pts GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin,
    "ts_roundtrip_leadtrail" -> aggExactSql,
    "ts_roundtrip_points" ->
      """SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v
        |FROM events ORDER BY user_id, event_type, ts, v""".stripMargin,
    "ts_chunk_stats" ->
      """SELECT user_id, event_type, count(*) AS n_chunks,
        |  CAST(sum(n) AS BIGINT) AS n_points, max(n) AS max_chunk_points
        |FROM (
        |  SELECT user_id, event_type,
        |    CAST((epoch_ns(ts) // 1000000000) // 7200 * 7200 AS BIGINT) AS w,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3
        |) GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "ts_compressed_agg" ->
      """SELECT user_id, count(*) AS n,
        |  min(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS min_ts,
        |  max(CAST(epoch_ns(ts) // 1000000000 AS BIGINT)) AS max_ts,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ts_points_agg" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, count(*) AS n,
      |  min(ts) AS min_ts, max(ts) AS max_ts,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM pts GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
  )

  /** The store-backed queries compute the same relations as their
    * in-memory counterparts (same series, same windows), so they share
    * oracles — the thing under test is the persisted-store path. */
  private lazy val anomalyOracleSql: String = s"""WITH $ptsSql,
    |c AS (SELECT user_id, event_type, ts,
    |  CAST(round(v * 100) AS BIGINT) AS cents FROM pts),
    |st AS (SELECT user_id, event_type, count(*) AS n,
    |  CAST(sum(cents) AS BIGINT) AS s,
    |  CAST(sum(cents * cents) AS BIGINT) AS q
    |FROM c GROUP BY 1, 2)
    |SELECT c.user_id, c.event_type, c.ts, c.cents, st.n
    |FROM c JOIN st USING (user_id, event_type)
    |WHERE (st.n * c.cents - st.s) * (st.n * c.cents - st.s) >
    |  9 * (st.n * st.q - st.s * st.s)
    |ORDER BY user_id, event_type, ts, cents""".stripMargin

  val oracleSql: Map[String, String] = baseOracle ++ Map(
    "ts_store_range" -> baseOracle("ts_range_query"),
    // survivors of the delete, plus the 90-day-shifted replay copies
    // (genuinely new), and NOT the un-shifted replays (dropped by the
    // persisted horizon) — exact set algebra over raw events
    "ts_store_live_delete" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, ts, v FROM pts
      |WHERE ts < $RangeFrom OR ts > $RangeTo
      |UNION ALL
      |SELECT user_id, event_type, ts + $ReplayShift AS ts, v FROM pts
      |WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |ORDER BY user_id, event_type, ts, v""".stripMargin,
    "ts_store_latest" -> baseOracle("ts_latest"),
    "ts_store_upsert" -> baseOracle("ts_upsert"),
    "ts_store_downsample" -> baseOracle("ts_downsample"),
    // the rollup serve must equal computing the hour from raw points
    "ts_rollup_serve" -> baseOracle("ts_rollup_1h"),
    // incrementally-maintained rollup serves the same relation
    "stream_rollup" -> baseOracle("ts_rollup_1h"),
    "ts_range_agg" -> s"""WITH $ptsSql
      |SELECT user_id, event_type, count(*) AS n,
      |  min(ts) AS min_ts, max(ts) AS max_ts,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT) * CAST(round(v * 100) AS BIGINT))
      |    AS BIGINT) AS sumsq_cents
      |FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "ts_label_series" ->
      """WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region FROM events)
        |SELECT type, host, region, count(*) AS n_points
        |FROM lbl
        |WHERE regexp_full_match(region, 'r[12]') AND type != 'view'
        |GROUP BY type, host, region
        |ORDER BY type, host, region""".stripMargin,
    "ts_label_agg" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)
        |SELECT region, count(*) AS n, min(v) AS min_v, max(v) AS max_v,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "ts_label_values" ->
      """WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region FROM events),
        |k AS (SELECT type, host, region,
        |        type || chr(1) || host || chr(1) || region AS sk FROM lbl)
        |SELECT label, value, n_series, n_points FROM (
        |  SELECT 'type' AS label, type AS value,
        |    count(DISTINCT sk) AS n_series, count(*) AS n_points FROM k GROUP BY 2
        |  UNION ALL
        |  SELECT 'host', host, count(DISTINCT sk), count(*) FROM k GROUP BY 2
        |  UNION ALL
        |  SELECT 'region', region, count(DISTINCT sk), count(*) FROM k GROUP BY 2)
        |ORDER BY label, value""".stripMargin,
    // the selector's three matcher kinds translate exactly: = is
    // equality, =~"h1.*" is the anchored literal-prefix form (LIKE
    // 'h1%'), != is null-safe inequality (derived labels are never
    // null here)
    "ts_label_select" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)
        |SELECT type, host, region, count(*) AS n,
        |  min(ts) AS min_ts, max(ts) AS max_ts,
        |  min(v) AS min_v, max(v) AS max_v,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT) * CAST(round(v * 100) AS BIGINT))
        |    AS BIGINT) AS sumsq_cents
        |FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo
        |  AND type = 'click' AND host LIKE 'h1%' AND region != 'r3'
        |GROUP BY 1, 2, 3 ORDER BY type, host, region""".stripMargin,
    // selector prune (equality + anchored literal-prefix regex) then
    // the plain consecutive-sample rate window per label-set series —
    // ties on (ts, v) are interchangeable rows, same as ts_rate
    "ts_label_rate" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events),
        |pts AS (SELECT * FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo
        |  AND type = 'click' AND host LIKE 'h1%')
        |SELECT * FROM (
        |  SELECT type, host, region, ts, v,
        |    lag(ts) OVER w AS prev_ts,
        |    ts - lag(ts) OVER w AS dt,
        |    (v - lag(v) OVER w) / nullif(ts - lag(ts) OVER w, 0) AS rate
        |  FROM pts WINDOW w AS (PARTITION BY type, host, region ORDER BY ts, v))
        |WHERE prev_ts IS NOT NULL ORDER BY type, host, region, ts, v""".stripMargin,
    "ts_label_downsample" ->
      """WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)
        |SELECT type, host, region, (ts // 900) * 900 AS bucket,
        |  count(*) AS n, min(v) AS min_v, max(v) AS max_v,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) / (count(*) * 100.0) AS avg_v
        |FROM lbl WHERE type = 'view' AND region = 'r2'
        |GROUP BY 1, 2, 3, 4 ORDER BY type, host, region, bucket""".stripMargin,
    // vector matching: each side re-aggregates series-grain range
    // sums to the on(host, region) subset; one-to-one match = inner
    // join; the division runs on BIGINT cents cast to DOUBLE so both
    // engines do one identical IEEE division
    "ts_label_ratio" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events),
        |pts AS (SELECT * FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo),
        |c AS (SELECT host, region, CAST(count(*) AS BIGINT) AS n_click,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS click_cents
        |  FROM pts WHERE type = 'click' GROUP BY 1, 2),
        |w AS (SELECT host, region, CAST(count(*) AS BIGINT) AS n_view,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS view_cents
        |  FROM pts WHERE type = 'view' GROUP BY 1, 2)
        |SELECT c.host, c.region, n_click, click_cents, n_view, view_cents,
        |  CAST(click_cents AS DOUBLE) / CAST(nullif(view_cents, 0) AS DOUBLE)
        |    AS ratio
        |FROM c JOIN w ON c.host = w.host AND c.region = w.region
        |ORDER BY c.host, c.region""".stripMargin,
    // offset modifier: the same selector over [from, to] and the
    // END-EXCLUSIVE [from-2d, to-2d) — the windows abut, so the
    // boundary second ts == from lands in exactly one side; series
    // must appear in BOTH windows (PromQL binary-op matching),
    // delta on exact BIGINT cents
    "ts_label_offset" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events
        |  WHERE event_type = 'click' AND user_id % 4 = 1),
        |cur AS (SELECT type, host, region, CAST(count(*) AS BIGINT) AS n_cur,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS cur_cents
        |  FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo GROUP BY 1, 2, 3),
        |prev AS (SELECT type, host, region, CAST(count(*) AS BIGINT) AS n_prev,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS prev_cents
        |  FROM lbl WHERE ts >= ${RangeFrom - 172800L} AND ts <= ${RangeTo - 172800L - 1L}
        |  GROUP BY 1, 2, 3)
        |SELECT cur.type, cur.host, cur.region, n_cur, cur_cents, n_prev,
        |  prev_cents, cur_cents - prev_cents AS delta_cents,
        |  CAST(cur_cents AS DOUBLE) / CAST(nullif(prev_cents, 0) AS DOUBLE)
        |    AS ratio
        |FROM cur JOIN prev ON cur.type = prev.type AND cur.host = prev.host
        |  AND cur.region = prev.region
        |ORDER BY cur.type, cur.host, cur.region""".stripMargin,
    // topk over the host dimension on exact BIGINT cents; host name
    // breaks ties so LIMIT is deterministic on both engines
    "ts_label_topk" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)
        |SELECT host, count(*) AS n,
        |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'click'
        |GROUP BY host ORDER BY sum_cents DESC, host LIMIT 3""".stripMargin,
    // many-to-one group_left: host rows join their region total; the
    // share is the only float (one IEEE division on both engines)
    "ts_label_group_left" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events),
        |h AS (SELECT host, region,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS host_cents
        |  FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'click'
        |  GROUP BY 1, 2),
        |r AS (SELECT region, CAST(sum(host_cents) AS BIGINT) AS region_cents
        |  FROM h GROUP BY 1)
        |SELECT h.host, h.region, host_cents, region_cents,
        |  CAST(host_cents AS DOUBLE) / CAST(nullif(region_cents, 0) AS DOUBLE)
        |    AS share
        |FROM h JOIN r ON h.region = r.region
        |ORDER BY h.region, h.host""".stripMargin,
    // quantile across series: interpolated quantiles over the BIGINT
    // host totals (the ts_quantiles integer-grid discipline)
    "ts_label_quantile" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events),
        |h AS (SELECT host, region,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS host_cents
        |  FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'click'
        |  GROUP BY 1, 2)
        |SELECT region, count(*) AS n_hosts,
        |  quantile_cont(host_cents, 0.5) AS p50_cents,
        |  quantile_cont(host_cents, 0.9) AS p90_cents
        |FROM h GROUP BY region ORDER BY region""".stripMargin,
    // unless = anti-semi-join on the matching label subset
    "ts_label_unless" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events),
        |c AS (SELECT host, count(*) AS n,
        |    CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'click'
        |  GROUP BY host)
        |SELECT host, n, sum_cents FROM c
        |WHERE host NOT IN (SELECT DISTINCT host FROM lbl
        |  WHERE ts >= $RangeFrom AND ts <= $RangeTo AND type = 'error')
        |ORDER BY host""".stripMargin,
    // count_values on the exact integer cent grid
    "ts_count_values" ->
      s"""WITH lbl AS (SELECT event_type AS type,
        |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
        |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts, value AS v FROM events)
        |SELECT CAST(round(v * 100) AS BIGINT) AS cents, count(*) AS n
        |FROM lbl WHERE ts >= $RangeFrom AND ts <= $RangeTo
        |  AND type = 'purchase' AND host LIKE 'h1%'
        |GROUP BY 1 ORDER BY cents""".stripMargin,
    "ts_histogram" -> s"""WITH $ptsSql
      |SELECT user_id, event_type,
      |  CAST(floor(CAST(round(v * 100) AS BIGINT) / 5000.0) AS BIGINT) AS bucket,
      |  count(*) AS n, min(v) AS min_v, max(v) AS max_v
      |FROM pts GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, bucket""".stripMargin,
    "ts_heatmap" -> s"""WITH $ptsSql
      |SELECT event_type,
      |  CAST(ts // 7200 * 7200 AS BIGINT) AS t_bucket,
      |  CAST(floor(CAST(round(v * 100) AS BIGINT) / 1000.0) AS BIGINT) AS v_band,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |GROUP BY 1, 2, 3
      |ORDER BY event_type, t_bucket, v_band""".stripMargin,
    // DuckDB's sum(BIGINT) is HUGEINT — cast the window sums back to
    // BIGINT so the schema and the double conversions match Spark's.
    // And DuckDB parses bare `0.9`/`5000.0` literals as DECIMAL, whose
    // exact arithmetic diverges bit-wise from Spark's IEEE doubles —
    // every literal in the interpolation is cast to DOUBLE explicitly
    "ts_histogram_quantile" -> s"""WITH $ptsSql,
      |hist AS (SELECT user_id, event_type,
      |    CAST(floor(CAST(round(v * 100) AS BIGINT) / 5000.0) AS BIGINT) AS bucket,
      |    count(*) AS nb
      |  FROM pts GROUP BY 1, 2, 3),
      |c AS (SELECT user_id, event_type, bucket, nb,
      |    CAST(sum(nb) OVER (PARTITION BY user_id, event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(nb) OVER (PARTITION BY user_id, event_type) AS BIGINT) AS n
      |  FROM hist),
      |r AS (SELECT *, n * CAST(0.9 AS DOUBLE) AS rank FROM c)
      |SELECT user_id, event_type, n,
      |  (bucket * CAST(5000 AS DOUBLE) +
      |   (rank - (cum - nb)) / nb * CAST(5000 AS DOUBLE))
      |    / CAST(100 AS DOUBLE) AS p90_v
      |FROM r WHERE cum >= rank AND cum - nb < rank
      |ORDER BY user_id, event_type""".stripMargin,
    "ts_anomaly" -> anomalyOracleSql,
    // same relation computed off the persisted store — shared oracle
    "ts_store_anomaly" -> anomalyOracleSql,
    "ts_top_movers" -> s"""WITH $ptsSql,
      |daily AS (SELECT user_id, event_type,
      |  CAST(ts // 86400 * 86400 AS BIGINT) AS day,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS day_cents
      |FROM pts GROUP BY 1, 2, 3),
      |d AS (SELECT user_id, event_type, day, day_cents,
      |  lag(day_cents) OVER (PARTITION BY user_id, event_type ORDER BY day)
      |    AS prev_cents
      |FROM daily)
      |SELECT user_id, event_type, day, day_cents, prev_cents,
      |  day_cents - prev_cents AS delta
      |FROM d WHERE prev_cents IS NOT NULL
      |ORDER BY abs(day_cents - prev_cents) DESC, user_id, event_type, day
      |LIMIT 20""".stripMargin,
    "ts_anomaly_prefix" -> s"""WITH $ptsSql,
      |c AS (SELECT user_id, event_type, ts,
      |  CAST(round(v * 100) AS BIGINT) AS cents FROM pts),
      |r AS (SELECT user_id, event_type, ts, cents,
      |  count(*) OVER w AS np,
      |  coalesce(CAST(sum(cents) OVER w AS BIGINT), 0) AS sp,
      |  coalesce(CAST(sum(cents * cents) OVER w AS BIGINT), 0) AS qp
      |FROM c
      |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, cents
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_type, ts, cents, np FROM r
      |WHERE np >= 8 AND (np * cents - sp) * (np * cents - sp) > 9 * (np * qp - sp * sp)
      |ORDER BY user_id, event_type, ts, cents""".stripMargin,
    "ts_topk_series" -> s"""WITH $ptsSql,
      |agg AS (SELECT user_id, event_type, count(*) AS n,
      |  min(ts) AS min_ts, max(ts) AS max_ts,
      |  min(v) AS min_v, max(v) AS max_v,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT) * CAST(round(v * 100) AS BIGINT))
      |    AS BIGINT) AS sumsq_cents
      |FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |GROUP BY user_id, event_type)
      |SELECT * FROM agg
      |ORDER BY sum_cents DESC, user_id, event_type LIMIT 10""".stripMargin,
    // variance derives from the SAME header/kernel integer moments the
    // range aggregate carries: numerator n·Q − S² stays an exact
    // BIGINT in both engines, the only float op is one division
    "ts_store_downsample_var" -> s"""WITH $ptsSql,
      |c AS (SELECT user_id, event_type,
      |  CAST(ts // 900 * 900 AS BIGINT) AS bucket,
      |  CAST(round(v * 100) AS BIGINT) AS cents FROM pts),
      |agg AS (SELECT user_id, event_type, bucket, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents
      |FROM c GROUP BY 1, 2, 3)
      |SELECT user_id, event_type, bucket, n, sum_cents, sumsq_cents,
      |  sum_cents / (n * 100.0) AS avg_v,
      |  CAST(n * sumsq_cents - sum_cents * sum_cents AS DOUBLE) / (n * n)
      |    AS var_cents
      |FROM agg ORDER BY user_id, event_type, bucket""".stripMargin,
    "ts_range_variance" -> s"""WITH $ptsSql,
      |agg AS (SELECT user_id, event_type, count(*) AS n,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(sum(CAST(round(v * 100) AS BIGINT) * CAST(round(v * 100) AS BIGINT))
      |    AS BIGINT) AS sumsq_cents
      |FROM pts WHERE ts >= $RangeFrom AND ts <= $RangeTo
      |GROUP BY user_id, event_type)
      |SELECT user_id, event_type, n, sum_cents, sumsq_cents,
      |  CAST(sum_cents AS DOUBLE) / n AS mean_cents,
      |  CAST(n * sumsq_cents - sum_cents * sum_cents AS DOUBLE) / (n * n)
      |    AS var_cents
      |FROM agg ORDER BY user_id, event_type""".stripMargin,
  )
}
