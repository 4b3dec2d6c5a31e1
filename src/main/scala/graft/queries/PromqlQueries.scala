package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.Promql

/**
 * PromQL-front-end query keys: every body here goes through
 * [[graft.tsdb.Promql.eval]] — a QUERY STRING is parsed and compiled
 * onto the labeled chunk store — rather than hand-composing the
 * DataFrame plan. The compiled plans are the SAME compressed-domain
 * shapes the `ts_label_*` keys build by hand (selector pruning at the
 * chunk-metadata scan, range aggregates from header stats + boundary
 * folds, decode only where samples are genuinely needed), which
 * PromqlSpec pins both by plan shape and by row parity.
 *
 * Evaluation instant is `EvalTs` (the label family's RangeTo); a
 * `[2d]` range selector therefore covers the inclusive second grid
 * [EvalTs − 2d + 1, EvalTs] — the oracle windows below mirror that
 * exactly, as does every float: each oracle reproduces the compiler's
 * IEEE expression tree (exact BIGINT partials, one division at
 * output) so results hash-match bit-for-bit.
 */
object PromqlQueries {
  private val EvalTs = 1705017600L // = TsQueries.RangeTo
  private val Day = 86400L
  private val Win = 2 * Day // the [2d] range selector
  private val From = EvalTs - Win + 1
  private val OffFrom = EvalTs - 2 * Win + 1 // [2d] offset 2d window
  private val OffTo = EvalTs - Win
  private val RangeStart = 1704844800L // query_range grid start (= RangeFrom)
  private val StepWin = 21600L // the [6h] stepped window
  // absent panel grid: starts one day BEFORE the corpus's first event
  // (2024-01-01T00:00Z), so early windows provably match nothing
  private val AbsentGridStart = 1703980800L // 2023-12-31T00:00Z

  private val labelCols = TsQueries.labelCols

  // NOTE (r18 optimization round): window_date partition bounds were
  // tried on the histogram-store reads here and REVERTED — the r18
  // adaptive chunking packs a sparse 2-h-scrape series into multi-day
  // chunks whose window_date (the chunk START date) can precede any
  // query window that the chunk still overlaps, so a `window_date >=
  // date(from)` prune silently drops live chunks (caught by the DuckDB
  // oracle gate: every instant histogram key went empty). Time pruning
  // on these stores is carried by the per-chunk min_ts/max_ts stat
  // columns, which push to the parquet scan as row-group filters and
  // are sound for any chunk length. The labeled/raw stores keep their
  // date bounds: their windows stay 2-h-aligned inside one date.

  private def chunks(s: SparkSession, dir: String, fromSec: Long) =
    TsQueries.labeledStoreChunks(s, dir, fromSec, EvalTs)

  private def q(s: SparkSession, dir: String, query: String,
                fromSec: Long = From, lookback: Long = 300L): DataFrame =
    Promql.eval(chunks(s, dir, fromSec), labelCols, query, EvalTs, lookback)

  /** The histogram-bucket store (labels type/host/le) for the
    * `histogram_quantile` keys. */
  private def histQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
      query, EvalTs)

  /** The NATIVE-histogram store (labels type/host/nb — exponential
    * bucket indices + count/sum/zero arms) for the `_native_` keys. */
  private def nativeQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.nativeHistStoreChunks(s, dir),
      TsQueries.nativeHistLabelCols, query, EvalTs)

  /** The MIXED-SCHEMA native-histogram store (a per-series `schema`
    * label: even hosts scrape at schema 3, odd at the coarser 2) for
    * the `_mixed` keys — aggregations that drop `schema` downscale
    * every index to the group's coarsest resolution first. */
  private def mixedQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.mixedNativeHistStoreChunks(s, dir),
      TsQueries.mixedNativeHistLabelCols, query, EvalTs)

  /** The NHCB store (native histogram with CUSTOM buckets, schema
    * −53: `nbc` = explicit upper bound with NON-cumulative counts +
    * exact count/sum arms) for the `_nhcb` keys. */
  private def nhcbQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.nhcbStoreChunks(s, dir),
      TsQueries.nhcbLabelCols, query, EvalTs)

  /** The WIDE mixed-schema store (schemas 3 / −2 / 5 / 0 by
    * user_id mod 4 — the full Prometheus range, coarsest NEGATIVE)
    * for the `_mixed_wide` keys: the downscale crosses the schema
    * sign boundary with Δ up to 7. */
  private def wideQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.wideNativeHistStoreChunks(s, dir),
      TsQueries.mixedNativeHistLabelCols, query, EvalTs)

  /** The SIGNED native store (click values re-centered by −25.00, so
    * observations populate the MIRRORED negative spans) for the
    * `_signed` keys. */
  private def signedQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.signedNativeHistStoreChunks(s, dir),
      TsQueries.nativeHistLabelCols, query, EvalTs)

  /** The MIGRATION store (BOTH models of one metric mid-rollout:
    * even hosts classic `le`, odd hosts NHCB `nbc`) for the
    * `_migration` keys. */
  private def migQ(s: SparkSession, dir: String, query: String): DataFrame =
    Promql.eval(TsQueries.migrationHistStoreChunks(s, dir),
      TsQueries.migrationHistLabelCols, query, EvalTs)

  /** The shared DuckDB label derivation (identical to TsQueries'):
    * type = event_type, host = h(user%100), region = r(user%4), plus
    * the exact integer cent grid. */
  private val lblCte =
    """WITH lbl AS (SELECT event_type AS type,
      |  'h' || CAST(user_id % 100 AS VARCHAR) AS host,
      |  'r' || CAST(user_id % 4 AS VARCHAR) AS region,
      |  CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)""".stripMargin

  /** The native-histogram bucket table as SQL VALUES rows:
    * (ord, lo_cents, hi_cents, lo_bound, hi_bound) from
    * [[graft.tsdb.NativeHist.buckets]] — the SAME integer cent
    * thresholds and bound doubles the engine broadcasts, so bucket
    * assignment and interpolation constants agree by construction
    * (Double.toString round-trips through DuckDB's literal parse). */
  private def nativeBucketValuesFor(schema: Int): String =
    graft.tsdb.NativeHist.bucketsFor(schema)
      .map { case (i, lo, hi, lod, hid) =>
        // the trailing e0 forces a DOUBLE literal: a bare decimal
        // string in VALUES types as DECIMAL in DuckDB, and the
        // decimal->double coercions inside the interpolation land a
        // ulp off the engine's pure-double tree (caught at sf0.1)
        require(!s"$lod$hid".contains("E"), s"bucket $i bound formats " +
          "in scientific notation; the e0 suffix would corrupt it")
        s"($i, $lo, $hi, ${lod}e0, ${hid}e0)"
      }
      .mkString(", ")

  private lazy val NativeBucketValues: String = nativeBucketValuesFor(3)

  /** The classic-bucket (lo + hi) MICRO-unit factor per raw event
    * (each event lands in exactly one Δ bucket, so the engine's
    * per-bucket Δ·(lo+hi) numerator telescopes to a per-event CASE) —
    * shared by the per-step histogram oracles below. The NULL guard
    * keeps LEFT-JOIN-unmatched step rows out of the sum (they would
    * otherwise fall through to the ELSE arm). */
  private val HistFc =
    """CASE WHEN cents IS NULL THEN NULL
      |      WHEN cents <= 1000 THEN 10000000
      |      WHEN cents <= 2500 THEN 35000000
      |      WHEN cents <= 5000 THEN 75000000
      |      WHEN cents <= 10000 THEN 150000000
      |      WHEN cents <= 25000 THEN 350000000
      |      ELSE 500000000 END""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // instant vector: `{type="purchase", host=~"h1.*"}` — the LAST
    // sample per matching series within the lookback window (PromQL
    // staleness), compiled to a selector-pruned decode of lookback
    // chunks + one (ts, cents)-struct max partial agg. 1-day lookback
    // so the sparse purchase series stay populated at small SF
    "promql_instant" -> ((s, dir) =>
      q(s, dir, """{type="purchase", host=~"h1.*"}""",
          fromSec = EvalTs - Day + 1, lookback = Day)
        .orderBy("type", "host", "region")),
    // the canonical PromQL composition `sum by (region)(rate(click[2d]))`
    // stays EXACT end-to-end: rate carries positive-delta cents as
    // BIGINT with denominator d·100, the sum accumulates longs, and
    // the per-second division happens once at output
    "promql_sum_rate" -> ((s, dir) =>
      q(s, dir, "sum by (region) (rate(click[2d]))")
        .orderBy("region")),
    // binary op with on() matching — the error-ratio panel written as
    // the USER writes it; both sides compressed-domain partials
    "promql_ratio" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(click[2d])) " +
          "/ on(host) sum by (host) (sum_over_time(view[2d]))")
        .orderBy("host")),
    // topk over an OFFSET window: `[2d] offset 2d` shifts the whole
    // evaluation window; top-3 picked on exact BIGINT cents
    "promql_topk_offset" -> ((s, dir) =>
      q(s, dir, "topk(3, sum by (host) (sum_over_time(click[2d] offset 2d)))",
          fromSec = OffFrom)
        .orderBy(col("value").desc, col("host"))),
    // quantile across series on the exact integer grid
    "promql_quantile" -> ((s, dir) =>
      q(s, dir, "quantile by (region) (0.9, " +
          "sum by (host, region) (sum_over_time(click[2d])))")
        .orderBy("region")),
    // set complement: hosts clicking in-range with zero error events
    "promql_unless" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(click[2d])) " +
          "unless on(host) sum by (host) (sum_over_time(error[2d]))")
        .orderBy("host")),
    // set intersection: the same left side restricted to erroring hosts
    "promql_and" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(click[2d])) " +
          "and on(host) sum by (host) (sum_over_time(error[2d]))")
        .orderBy("host")),
    // scalar comparison FILTERS on the exact grid: `> 60` compares
    // BIGINT cents against 6000, never a float
    "promql_filter" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(purchase[2d])) > 60")
        .orderBy("host")),
    // many-to-one vector matching: per-host share of its region total,
    // the one side broadcast (group_left keeps the many side's labels)
    "promql_group_left" -> ((s, dir) =>
      q(s, dir, "sum by (host, region) (sum_over_time(click[2d])) " +
          "/ on(region) group_left sum by (region) (sum_over_time(click[2d]))")
        .orderBy("region", "host")),
    // group_right: the mirrored many-to-one matching — the ONE side
    // is the LEFT operand (broadcast), the many side keeps its full
    // label set; coverage-share panels are written this way round
    "promql_group_right" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum_over_time(click[2d])) " +
          "/ on(region) group_right sum by (host, region) (sum_over_time(click[2d]))")
        .orderBy("region", "host")),
    // without(): complement grouping — drop the host label, keep the
    // rest of the series' label set (type, region) in store order
    "promql_without" -> ((s, dir) =>
      q(s, dir, "sum without (host) (sum_over_time(click[2d]))")
        .orderBy("type", "region")),
    // scalar arithmetic chain over an exact increase: each float op is
    // one fixed IEEE node, reproduced verbatim by the oracle
    "promql_arith" -> ((s, dir) =>
      q(s, dir, "sum by (region) (increase(purchase[2d])) / 86400 * 100")
        .orderBy("region")),
    // avg_over_time from header-stat partials (sum/n — zero decode),
    // max across series per region is exact selection over doubles
    "promql_avg_max" -> ((s, dir) =>
      q(s, dir, "max by (region) (avg_over_time(view[2d]))")
        .orderBy("region")),
    // stddev_over_time: exact BIGINT second moments off header stats,
    // one division + one sqrt (both correctly-rounded IEEE)
    "promql_stddev" -> ((s, dir) =>
      q(s, dir, "max by (region) (stddev_over_time(view[1d]))",
          fromSec = EvalTs - Day + 1)
        .orderBy("region")),
    // per-group top-k: `topk by (region)(1, ...)` — the busiest host
    // PER REGION; rank window partitioned by the by() labels (group-
    // sized partitions, never a global sort), full label set kept
    "promql_topk_by" -> ((s, dir) =>
      q(s, dir, "topk by (region) (1, " +
          "sum by (host, region) (sum_over_time(click[2d])))")
        .orderBy("region", "host")),
    // count_values over an instant vector: frequency histogram of the
    // last-sample values on the exact cent grid (1-day staleness);
    // the string parameter NAMES the output label (Prometheus rule)
    "promql_count_values" -> ((s, dir) =>
      q(s, dir, """count_values("v", {type="purchase", host=~"h1.*"})""",
          fromSec = EvalTs - Day + 1, lookback = Day)
        .orderBy("v")),
    // query_range (stepped) evaluation — the Grafana panel call: 25
    // 2-h steps, each a 6-h window; COMPRESSED-DOMAIN end-to-end (one
    // bucket fold per chunk, partials exploded onto the ≤ 3 windows
    // each serves, one hash agg). Exact cents throughout
    "promql_range_sum" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "sum by (region) (sum_over_time(click[6h]))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // stepped BINARY op: per-step vector matching (the step column
    // joins implicitly next to on(region))
    "promql_range_ratio" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "sum by (region) (sum_over_time(click[6h])) " +
            "/ on(region) sum by (region) (sum_over_time(view[6h]))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // stepped rate — THE dashboard query: consecutive-sample pairs
    // formed once, bucket-pair partials exploded onto the windows
    // containing both endpoints; increase cents stay exact per step,
    // the per-second division happens once at output
    "promql_range_rate" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "sum by (region) (rate(click[1d]))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // stepped topk: the global form ranks WITHIN each step (the step
    // column is an implicit grouping label), so a 25-step panel gets
    // its top-2 hosts per step from one rank window over series-grain
    // partials — never a global sort
    "promql_range_topk" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "topk(2, sum by (host) (sum_over_time(click[6h])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts", "host")),
    // stepped delta — per-(series, bucket) FIRST/LAST (ts, cents)
    // structs off ONE decode, exploded onto the covering windows;
    // each step's first/last recovered exactly from bucket partials
    "promql_range_delta" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "delta(click[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped changes — the pairs body shared with rate, counting
    // value flips instead of summing positive deltas (Count kind)
    "promql_range_changes" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "changes(click[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped last_over_time — the struct body's LAST arm: the
    // window's latest sample per series per step
    "promql_range_last" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "last_over_time(view[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // clamp on the EXACT grid: both bounds land on cents, so the
    // least/greatest runs on BIGINT — never a float detour
    "promql_clamp" -> ((s, dir) =>
      q(s, dir, "clamp(sum by (host) (sum_over_time(purchase[2d])), 50, 200)")
        .orderBy("host")),
    // deriv(): per-series least-squares slope from exact integer sums
    // (BIGINT num/den, one division) — the ts_deriv discipline through
    // the string front-end
    "promql_deriv" -> ((s, dir) =>
      q(s, dir, """deriv({type="view"}[2d])""")
        .orderBy("host", "region")),
    // predict_linear(): the regression line extrapolated 1h past the
    // evaluation instant; three fixed divisions mirrored in the oracle
    "promql_predict" -> ((s, dir) =>
      q(s, dir, "predict_linear(view[2d], 1h)")
        .orderBy("host", "region")),
    // label_replace: relabeling mid-expression — hosts roll up to a
    // synthetic dc label (anchored regex, $1 capture), the outer sum
    // re-aggregates on it; exact cents survive the relabel
    "promql_label_replace" -> ((s, dir) =>
      q(s, dir, "sum by (dc) (label_replace(sum by (host) " +
        "(sum_over_time(click[2d])), \"dc\", \"dc-$1\", \"host\", \"h([0-9]).*\"))")
        .orderBy("dc")),
    // label_join: composite key label from existing labels
    "promql_label_join" -> ((s, dir) =>
      q(s, dir, "sum by (hr) (label_join(sum by (host, region) " +
        "(sum_over_time(click[2d])), \"hr\", \"-\", \"host\", \"region\"))")
        .orderBy("hr")),
    // histogram_quantile over the `_bucket` store — the SLO/alerting
    // staple: per-le cumulative counters rated over 2d, summed across
    // hosts per bucket, then the Prometheus bucket interpolation
    // (rank = φ·total, lowest bucket reaching it, linear inside);
    // counts stay exact longs until the one interpolation expression
    "promql_hist_quantile" -> ((s, dir) =>
      histQ(s, dir, "histogram_quantile(0.9, sum by (le) (rate(click[2d])))")),
    // stepped histogram_quantile: the step label rides the group —
    // a 25-step latency-quantile panel from one bucket-pair fold
    "promql_range_histq" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_quantile(0.5, sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // histogram_count: the +Inf bucket's rate — the event-throughput
    // panel straight off the bucket counters, exact longs until the
    // one per-second division at output
    "promql_hist_count" -> ((s, dir) =>
      histQ(s, dir, "histogram_count(sum by (le) (rate(click[2d])))")),
    // histogram_sum: the classic-bucket midpoint estimator
    // Σ ΔL·(lo+hi)/2 over a rate()-composed vector — Δ, bounds (micro
    // grid), and the numerator all exact BIGINT, ONE division
    "promql_hist_sum" -> ((s, dir) =>
      histQ(s, dir, "histogram_sum(sum by (le) (rate(click[2d])))")),
    // histogram_avg = sum/count with the rate denominators cancelling
    // exactly: one float division over two raw longs
    "promql_hist_avg" -> ((s, dir) =>
      histQ(s, dir, "histogram_avg(sum by (le) (rate(click[2d])))")),
    // stepped histogram_count: the +Inf-bucket rate per step — the
    // step label rides the histogram grouping, one bucket-pair fold
    // serves all 25 steps (same machinery as promql_range_histq)
    "promql_range_hist_count" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_count(sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // stepped histogram_sum/avg/stddev/stdvar/fraction: the rest of
    // the classic-bucket estimator family per step — histAgg is
    // label-generic so the step label rides the histogram grouping
    // and ONE bucket-pair fold serves all 25 steps (the
    // promql_range_histq machinery); exact BIGINT/DECIMAL moments
    // per (step, bucket), the same one-division output trees as the
    // instant forms
    "promql_range_hist_sum" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_sum(sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_hist_avg" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_avg(sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_hist_stddev" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_stddev(sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_hist_stdvar" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_stdvar(sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // bounds (20, 150) both OFF the bucket boundaries, per step —
    // the straddling-bucket interpolation exercised on every step
    "promql_range_hist_fraction" -> ((s, dir) =>
      Promql.evalRange(TsQueries.histStoreChunks(s, dir), TsQueries.histLabelCols,
          "histogram_fraction(20, 150, sum by (le) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // NATIVE histograms (Prometheus 3.x exponential buckets, schema 3
    // — graft.tsdb.NativeHist): the same histogram_quantile call
    // dispatches on the `nb` label. Buckets are NOT cumulative, so
    // the lowering cumulates over the index order (zero arm lowest),
    // then interpolates linearly inside the containing exponential
    // bucket — bucket ASSIGNMENT is integer-exact (c⁸ ≤ 2^i·10¹⁶),
    // the bound doubles are shared literals, so the oracle reproduces
    // the value bit-for-bit
    "promql_native_histq" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_quantile(0.9, sum by (nb) (rate(click[2d])))")),
    // counter RESET at the HISTOGRAM grain: the _nhistr store
    // restarts the whole fleet right after the scrape at
    // NativeResetAt − step, so every arm re-bases mid-window.
    // Prometheus detects native-histogram resets at the histogram
    // grain (any arm's drop re-bases the whole sample) — rate over an
    // nb vector drops exactly the reset-crossing cell for EVERY arm,
    // which the oracle expresses as excluding that one cell's events:
    // zero reset machinery on the oracle side
    "promql_native_histq_reset" -> ((s, dir) =>
      Promql.eval(TsQueries.resetNativeHistStoreChunks(s, dir),
        TsQueries.nativeHistLabelCols,
        "histogram_quantile(0.9, sum by (nb) (rate(click[2d])))", EvalTs)),
    // the stepped twin gates the same histogram-grain re-base through
    // the pair-containment lowering
    "promql_range_native_histq_reset" -> ((s, dir) =>
      Promql.evalRange(TsQueries.resetNativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // native count/sum arms pass through — sum is EXACT (the native
    // data model carries it; no midpoint estimation), avg is one
    // raw-over-raw division with the rate denominators cancelling
    "promql_native_hist_count" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_count(sum by (nb) (rate(click[2d])))")),
    "promql_native_hist_sum" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_sum(sum by (nb) (rate(click[2d])))")),
    "promql_native_hist_avg" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_avg(sum by (nb) (rate(click[2d])))")),
    // native histogram_fraction(0.2, 1.5): both bounds OFF the
    // exponential boundaries; each bound's bucket + intra-bucket
    // fraction resolve at COMPILE time (NativeHist.locate), so F(x)
    // is two conditional integer sums and one multiply by a shared
    // literal
    "promql_native_hist_fraction" -> ((s, dir) =>
      nativeQ(s, dir,
        "histogram_fraction(0.2, 1.5, sum by (nb) (rate(click[2d])))")),
    // stepped native quantile: the step label rides the quantile's
    // grouping exactly like the classic promql_range_histq — one
    // bucket fold serves all 25 steps
    "promql_range_native_histq" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // the rest of the stepped native family — the arms and the
    // compile-time fraction are label-generic, so range mode is
    // reachable the moment the instant form is; every reachable
    // surface carries a gate
    "promql_range_native_hist_count" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_count(sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_native_hist_sum" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_sum(sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_native_hist_avg" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_avg(sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_native_hist_fraction" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nativeHistStoreChunks(s, dir),
          TsQueries.nativeHistLabelCols,
          "histogram_fraction(0.2, 1.5, sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // MIXED-SCHEMA fleet (even hosts scrape at schema 3, odd at the
    // coarser 2): sum by (nb) downscales every schema-3 index
    // i → ⌈i/2⌉ onto the group's coarsest resolution BEFORE merging
    // (exact — the integer cent thresholds nest across schemas), the
    // result carries schema=2, and the quantile interpolates on the
    // SCHEMA-2 bound doubles. The oracle assigns every raw event at
    // schema 2 directly — equal by the nesting property, so a wrong
    // remap (floor, truncate, off-by-one) hash-fails
    "promql_native_histq_mixed" -> ((s, dir) =>
      mixedQ(s, dir, "histogram_quantile(0.9, sum by (nb) (rate(click[2d])))")),
    // the EXACT sum arm rides the downscale merge untouched — the
    // mixed fleet's total must equal the single-schema store's
    "promql_native_hist_sum_mixed" -> ((s, dir) =>
      mixedQ(s, dir, "histogram_sum(sum by (nb) (rate(click[2d])))")),
    // WIDE mixed fleet (schemas 3/−2/5/0): the downscale lands on a
    // NEGATIVE coarsest schema (−2, base 16) with Δ up to 7 — the
    // oracle assigns every raw event at schema −2 directly, so any
    // defect in the cross-sign remap hash-fails
    "promql_native_histq_mixed_wide" -> ((s, dir) =>
      wideQ(s, dir, "histogram_quantile(0.9, sum by (nb) (rate(click[2d])))")),
    "promql_native_hist_sum_mixed_wide" -> ((s, dir) =>
      wideQ(s, dir, "histogram_sum(sum by (nb) (rate(click[2d])))")),
    // NON-sum merging aggregation over the mixed fleet: avg by (nb)
    // must average each series' MERGED buckets (fragments from the
    // fine schema pre-merge per series before the cross-series avg) —
    // the r16 ADVICE case, now oracle-gated
    "promql_native_hist_avg_mixed" -> ((s, dir) =>
      mixedQ(s, dir, "avg by (nb) (rate(click[2d]))")),
    // SIGNED (gauge-shaped) store: click values re-centered by −25.00
    // populate the mirrored negative spans; φ = 0.25 lands INSIDE a
    // negative bucket at every SF (~a third of window mass is below
    // zero), interpolating on the mirrored bound pair
    "promql_native_histq_signed" -> ((s, dir) =>
      signedQ(s, dir, "histogram_quantile(0.25, sum by (nb) (rate(click[2d])))")),
    // fraction with a NEGATIVE lower bound: F(−5) counts the part of
    // the mirror bucket below −5 plus everything more negative
    "promql_native_hist_fraction_signed" -> ((s, dir) =>
      signedQ(s, dir,
        "histogram_fraction(-5, 2, sum by (nb) (rate(click[2d])))")),
    // the GAUGE-histogram read: delta() is last − first with NO reset
    // correction, so the signed (non-monotone) sum arm is readable —
    // the window's exact signed total, which rate() would corrupt
    "promql_native_hist_sum_signed" -> ((s, dir) =>
      signedQ(s, dir, "histogram_sum(sum by (nb) (delta(click[2d])))")),
    "promql_native_hist_avg_signed" -> ((s, dir) =>
      signedQ(s, dir, "histogram_avg(sum by (nb) (delta(click[2d])))")),
    // wide-fleet fraction: the compile-time locate constants resolve
    // at the NEGATIVE coarsest schema (−2) via the schema-keyed chains
    "promql_native_hist_fraction_mixed_wide" -> ((s, dir) =>
      wideQ(s, dir,
        "histogram_fraction(0.2, 1.5, sum by (nb) (rate(click[2d])))")),
    // stepped wide quantile: downscale onto the negative coarsest
    // schema per step partition
    "promql_range_native_histq_wide" -> ((s, dir) =>
      Promql.evalRange(TsQueries.wideNativeHistStoreChunks(s, dir),
          TsQueries.mixedNativeHistLabelCols,
          "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // native histogram_stddev/stdvar: Prometheus's native-histogram
    // spread convention — Σ n·(√(lo·hi) − μ)²/count, the zero arm at
    // mid 0, μ = sum/count — folded in sort_array(ord) order so the
    // irrational float sum is layout-independent. Rows-only (the fold
    // order isn't portably expressible in SQL); PromqlSpec pins the
    // values bit-exact against a driver-computed fold
    "promql_native_hist_stddev" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_stddev(sum by (nb) (rate(click[2d])))")),
    "promql_native_hist_stdvar" -> ((s, dir) =>
      nativeQ(s, dir, "histogram_stdvar(sum by (nb) (rate(click[2d])))")),
    // NHCB — native histogram with CUSTOM buckets (Prometheus 3.x
    // schema −53, the scrape_classic_histograms migration bridge):
    // the `nbc` label carries the classic layout's explicit bounds
    // with NON-cumulative per-bucket counts + the native model's
    // EXACT count/sum arms. quantile cumulates over the bound order
    // and dispatches into the classic interpolation body (first lower
    // bound 0, +Inf rank answers the last finite bound), so a
    // migrated `le` dashboard reads identically off the new store
    "promql_nhcb_quantile" -> ((s, dir) =>
      nhcbQ(s, dir, "histogram_quantile(0.9, sum by (nbc) (rate(click[2d])))")),
    // the STREAMED NHCB store (r18): the same quantile read off a
    // store whose samples came out of the REAL streaming engine — the
    // events replayed as event-time-sliced files through
    // cumulativeGridStream with the bound-list arm derivation
    // (HistArms.nhcbArms). Stream == batch == oracle: the oracle is
    // the plain NHCB quantile recomputed from raw events, zero stream
    // machinery in it
    "promql_stream_nhcb_quantile" -> ((s, dir) =>
      Promql.eval(TsQueries.streamedNhcbStoreChunks(s, dir),
        TsQueries.nhcbLabelCols,
        "histogram_quantile(0.9, sum by (nbc) (rate(click[2d])))", EvalTs)),
    // the EXACT sum arm — what the migration preserves that classic
    // midpoint estimation could not
    "promql_nhcb_sum" -> ((s, dir) =>
      nhcbQ(s, dir, "histogram_sum(sum by (nbc) (rate(click[2d])))")),
    // NHCB fraction(20, 150): both bounds OFF the custom boundaries —
    // one conditional aggregate (full buckets as exact longs, ONE
    // float multiply per straddling bucket), the +Inf partial term
    // IEEE-collapsing to 0
    "promql_nhcb_fraction" -> ((s, dir) =>
      nhcbQ(s, dir, "histogram_fraction(20, 150, sum by (nbc) (rate(click[2d])))")),
    // mixed-schema fraction: the compile-time locate constants are
    // resolved PER RESOLUTION and selected by the carried schema —
    // gates the schema-keyed bound path end-to-end
    "promql_native_hist_fraction_mixed" -> ((s, dir) =>
      mixedQ(s, dir,
        "histogram_fraction(0.2, 1.5, sum by (nb) (rate(click[2d])))")),
    // stepped twins: the nbc / mixed-schema lowerings are
    // label-generic, so range mode is reachable the moment the
    // instant form is — every reachable surface carries a gate
    "promql_range_nhcb_quantile" -> ((s, dir) =>
      Promql.evalRange(TsQueries.nhcbStoreChunks(s, dir),
          TsQueries.nhcbLabelCols,
          "histogram_quantile(0.9, sum by (nbc) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    "promql_range_native_histq_mixed" -> ((s, dir) =>
      Promql.evalRange(TsQueries.mixedNativeHistStoreChunks(s, dir),
          TsQueries.mixedNativeHistLabelCols,
          "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // MIGRATION UNION — the scrape_classic_histograms rollout fleet:
    // the SAME metric carries classic `le` series (even hosts) AND
    // NHCB `nbc` series (odd hosts). The NHCB bridge rewrites the
    // migrated half onto the classic bound table and same-bound rows
    // merge by addition, so the day-one dashboard reads EXACTLY what
    // the all-classic fleet read — which is what the oracle asserts:
    // it recomputes the classic quantile over ALL hosts from raw
    // events, with zero migration machinery in it
    "promql_histq_migration" -> ((s, dir) =>
      migQ(s, dir,
        "histogram_quantile(0.75, sum by (le, nbc) (rate(click[2d])))")),
    // the stepped twin: the union lowering is label-generic, so range
    // mode is reachable the moment the instant form is — every
    // reachable surface carries a gate
    "promql_range_histq_migration" -> ((s, dir) =>
      Promql.evalRange(TsQueries.migrationHistStoreChunks(s, dir),
          TsQueries.migrationHistLabelCols,
          "histogram_quantile(0.5, sum by (le, nbc) (rate(click[1d])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // histogram_stddev/stdvar: midpoint-estimator spread — second
    // moment aggregated in DECIMAL (exact, order-independent), two
    // divisions + one subtraction (+ sqrt) at output
    "promql_hist_stddev" -> ((s, dir) =>
      histQ(s, dir, "histogram_stddev(sum by (le) (rate(click[2d])))")),
    "promql_hist_stdvar" -> ((s, dir) =>
      histQ(s, dir, "histogram_stdvar(sum by (le) (rate(click[2d])))")),
    // histogram_fraction(20, 150): both bounds OFF the bucket
    // boundaries (buckets 10/25/50/100/250), so the linear
    // interpolation inside the straddling buckets is exercised
    "promql_hist_fraction" -> ((s, dir) =>
      histQ(s, dir, "histogram_fraction(20, 150, sum by (le) (rate(click[2d])))")),
    // mad_over_time: median absolute deviation of the window's samples
    // per series — both medians exact interpolations on the cent grid
    "promql_mad_ot" -> ((s, dir) =>
      q(s, dir, "mad_over_time(view[1d])", fromSec = EvalTs - Day + 1)
        .orderBy("host", "region")),
    // stepped mad_over_time — the robust-spread panel: medians don't
    // compose from partials, so each decoded point explodes onto the
    // ≤ k windows containing its bucket and the two exact cent-grid
    // medians run per (series, step) (the range_quantile machinery)
    "promql_range_mad" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "mad_over_time(view[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // sort_by_label: presentation ordering by a label (remaining
    // labels + value tiebreak); representation untouched
    "promql_sort_by_label" -> ((s, dir) =>
      q(s, dir, "sort_by_label(sum by (host, region) " +
          "(sum_over_time(click[2d])), \"region\")")),
    // limitk: k elements picked by the deterministic md5 series hash
    // (sampleStratified's construction) — reproducible across engines
    "promql_limitk" -> ((s, dir) =>
      q(s, dir, "limitk(5, sum by (host) (sum_over_time(click[2d])))")
        .orderBy("host")),
    // limit_ratio: the integer-exact ppm hash gate; r=0.25 keeps the
    // same quarter of the series on both engines
    "promql_limit_ratio" -> ((s, dir) =>
      q(s, dir, "limit_ratio(0.25, sum by (host) (sum_over_time(click[2d])))")
        .orderBy("host")),
    // info(): enrich the host sums with the region data label carried
    // by the purchase info series — LEFT join, so hosts without a
    // purchase sample in the lookback keep a NULL region (Prometheus
    // leaves unmatched samples unenriched)
    "promql_info" -> ((s, dir) =>
      q(s, dir, "info(sum by (host) (sum_over_time(click[2d])), " +
          """{type="purchase"})""", lookback = Day)
        .orderBy("host")),
    // ts_of_{last,max,min}_over_time (Prometheus 3.1 experimental):
    // the timestamp of the window's last / extreme sample per series —
    // integer seconds end-to-end, value ties resolve to the latest
    "promql_ts_of_last" -> ((s, dir) =>
      q(s, dir, "ts_of_last_over_time(purchase[2d])")
        .orderBy("host", "region")),
    "promql_ts_of_max" -> ((s, dir) =>
      q(s, dir, "ts_of_max_over_time(view[2d])")
        .orderBy("host", "region")),
    "promql_ts_of_min" -> ((s, dir) =>
      q(s, dir, "ts_of_min_over_time(view[2d])")
        .orderBy("host", "region")),
    // stepped ts_of_max: the extreme's timestamp per series per step —
    // per-bucket struct extremes compose, so one decode serves 25 steps
    "promql_range_ts_of" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "ts_of_max_over_time(view[6h])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped ts_of_min / ts_of_last: same bucket struct-extreme
    // partials, min-side and last-sample arms (value ties -> latest)
    "promql_range_ts_of_min" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "ts_of_min_over_time(view[6h])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    "promql_range_ts_of_last" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "ts_of_last_over_time(purchase[6h])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // ^ — PromQL's power operator (tightest binop, right-assoc;
    // −x^2 = −(x^2)): one Math.pow over the exact per-host sums,
    // squared then halved so the parse exercises both the scalar arm
    // and the precedence
    "promql_pow" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(click[2d])) ^ 2 / 2")
        .orderBy("host")),
    // atan2: PromQL's word arithmetic operator (the angle panel trick
    // for phase plots) — exact partials on both sides, one IEEE atan2
    // per matched pair (java and libm agree bit-for-bit)
    "promql_atan2" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(click[2d])) " +
          "atan2 on(host) sum by (host) (sum_over_time(view[2d]))")
        .orderBy("host")),
    // SUBQUERY `expr[2d:6h]`: the inner expression re-evaluated on an
    // 8-instant inner grid (the SAME stepped machinery query_range
    // uses), the outer max selecting among exact longs — one division
    // at output. The alerting staple `max_over_time(rate(..)[d:s])`
    "promql_subquery" -> ((s, dir) =>
      Promql.eval(chunks(s, dir, EvalTs - 151200L - Day), labelCols,
          "max_over_time(sum by (region) (rate(click[1d]))[2d:6h])", EvalTs)
        .orderBy("region")),
    // subquery consumed by avg_over_time over exact partials: the
    // inner stepped sum stays BIGINT, avg = sum/(n·100) once
    "promql_subquery_avg" -> ((s, dir) =>
      Promql.eval(chunks(s, dir, EvalTs - Day), labelCols,
          "avg_over_time(sum by (host) (sum_over_time(view[6h]))[1d:6h])", EvalTs)
        .orderBy("host")),
    // absent(): the alerting primitive — 1 iff the selector matches
    // NOTHING in the lookback; labels from the equality matchers,
    // emptiness probed by a broadcast anti join (no driver count)
    "promql_absent" -> ((s, dir) =>
      q(s, dir, """absent({type="click", host="h999"})""",
          fromSec = EvalTs - 300 + 1)),
    // absent_over_time: the same probe over an explicit [d] window
    "promql_absent_ot" -> ((s, dir) =>
      q(s, dir, """absent_over_time({type="click", host="h999"}[2d])""")),
    // quantile_over_time: per-series φ-quantile of the window's
    // samples — exact interpolation on the integer cent grid (Spark's
    // exact percentile == DuckDB's quantile_cont), /100 once; the
    // outer max is exact selection over doubles
    "promql_quantile_ot" -> ((s, dir) =>
      q(s, dir, "max by (region) (quantile_over_time(0.9, view[1d]))",
          fromSec = EvalTs - Day + 1)
        .orderBy("region")),
    // irate: the last TWO samples per series (rank window, (ts, cents)
    // desc), counter-reset aware, one division by the sample gap
    "promql_irate" -> ((s, dir) =>
      q(s, dir, "irate(click[2d])")
        .orderBy("host", "region")),
    // idelta: the same two-sample body, gauge difference in exact cents
    "promql_idelta" -> ((s, dir) =>
      q(s, dir, "idelta(view[2d])")
        .orderBy("host", "region")),
    // sort_desc: presentation ordering of an instant vector by value
    // (label tiebreak); representation untouched
    "promql_sort" -> ((s, dir) =>
      q(s, dir, "sort_desc(sum by (host) (sum_over_time(purchase[2d])))")),
    // stddev across series: exact BIGINT second moments (n·ΣV²−(ΣV)²),
    // one division + one sqrt
    "promql_stddev_agg" -> ((s, dir) =>
      q(s, dir, "stddev by (region) (sum by (host, region) " +
          "(sum_over_time(click[2d])))")
        .orderBy("region")),
    // group(): 1 per existing group — the label-set existence operator
    "promql_group_agg" -> ((s, dir) =>
      q(s, dir, "group by (region) (sum by (host, region) " +
          "(sum_over_time(click[2d])))")
        .orderBy("region")),
    // @ modifier: the selector pinned to an ABSOLUTE instant (EvalTs −
    // 1d) regardless of the query's evaluation time
    "promql_at" -> ((s, dir) =>
      q(s, dir, s"sum by (region) (sum_over_time(click[2d] @ ${EvalTs - Day}))",
          fromSec = EvalTs - 3 * Day + 1)
        .orderBy("region")),
    // timestamp(): the last sample's unix second per series — exact
    // integers end-to-end (1-day staleness like promql_instant)
    "promql_timestamp" -> ((s, dir) =>
      q(s, dir, """timestamp({type="purchase", host=~"h1.*"})""",
          fromSec = EvalTs - Day + 1, lookback = Day)
        .orderBy("type", "host", "region")),
    // sqrt: one correctly-rounded IEEE op over the exact sum
    "promql_sqrt" -> ((s, dir) =>
      q(s, dir, "sqrt(sum by (region) (sum_over_time(click[2d])))")
        .orderBy("region")),
    // sgn on the exact grid: the subtraction and the sign both run on
    // BIGINT cents — never a float
    "promql_sgn" -> ((s, dir) =>
      q(s, dir, "sgn(sum by (host) (sum_over_time(purchase[2d])) - 60)")
        .orderBy("host")),
    // —— round-12: the math-function tail ——
    // transcendentals differ by ulps between JVM and DuckDB libm, so
    // these keys round to 9 decimals on BOTH sides of the comparison
    // contract (a real regression moves far more than 1e-9; the
    // memory-noted ulp risk rules out full-hash floats here)
    "promql_ln" -> ((s, dir) =>
      q(s, dir, "ln(sum by (region) (sum_over_time(click[2d])))")
        .withColumn("value", round(col("value"), 9)).orderBy("region")),
    "promql_log" -> ((s, dir) =>
      q(s, dir, "log2(sum by (region) (sum_over_time(click[2d])))" +
          " + log10(sum by (region) (sum_over_time(click[2d])))")
        .withColumn("value", round(col("value"), 9)).orderBy("region")),
    // exp over per-series rates, folded with max (order-independent —
    // the engine refuses float SUMS by design, and rightly refused the
    // first draft of this key)
    "promql_exp" -> ((s, dir) =>
      q(s, dir, "max by (region) (exp(rate(click[2d])))")
        .withColumn("value", round(col("value"), 9)).orderBy("region")),
    // inverse hyperbolics (r18 — the last three Prometheus math
    // functions): domain-shifted so every term is in-domain over the
    // non-negative rate (acosh needs ≥ 1, atanh needs |x| < 1); the
    // engine lowers each to its log closed form, which the oracle
    // replays verbatim (DuckDB has no asinh/acosh/atanh) — max-folded
    // (order-independent) and rounded to 9 like the other libm keys
    "promql_trig_inverse" -> ((s, dir) =>
      q(s, dir, "max by (region) (asinh(rate(click[2d]))" +
          " + acosh(1 + rate(click[2d]))" +
          " + atanh(1 / (2 + rate(click[2d]))))")
        .withColumn("value", round(col("value"), 9)).orderBy("region")),
    // —— round-12: time() + calendar functions ——
    // yyyymmdd of each purchase series' last sample — calendar
    // extraction over a VECTOR argument, all-integer, oracle-exact
    "promql_calendar" -> ((s, dir) =>
      q(s, dir, "year(timestamp({type=\"purchase\", host=~\"h1.*\"})) * 10000" +
          " + month(timestamp({type=\"purchase\", host=~\"h1.*\"})) * 100" +
          " + day_of_month(timestamp({type=\"purchase\", host=~\"h1.*\"}))",
          fromSec = EvalTs - Day + 1, lookback = Day)
        .orderBy("type", "host", "region")),
    // zero-arg calendar form: days_in_month() ≡ days_in_month(vector
    // (time())) — one label-free row off the evaluation instant
    "promql_days" -> ((s, dir) =>
      q(s, dir, "days_in_month()").orderBy("value")),
    // scalar-typed arithmetic: time()/100 stays a SCALAR through the
    // division (no label matching), applied elementwise to the vector
    "promql_time" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum_over_time(click[2d])) - time() / 100")
        .orderBy("region")),
    // scalar(v): the corpus-share panel — each region's sum divided by
    // the global total, the 1-row total broadcast onto every element
    "promql_scalar" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum_over_time(click[2d]))" +
          " / scalar(sum(sum_over_time(click[2d])))")
        .orderBy("region")),
    // hour()-gated alert silencing: `unless on()` suppresses the whole
    // vector when the (label-free) gate matches; EvalTs is 00:00 UTC,
    // so hour() >= 8 is empty and the alert passes through — the
    // suppressing direction is pinned in PromqlSpec
    "promql_silence" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum_over_time(click[2d]))" +
          " unless on() (hour() >= 8)")
        .orderBy("region")),
    // stepped time(): the per-step scalar rides the grid — hour() in a
    // range query labels each panel column with its wall-clock hour
    "promql_range_time" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "hour()", RangeStart, EvalTs, 7200L)
        .orderBy("ts")),
    // label-free ÷ label-free — the global-ratio scorecard number:
    // one-row vectors match on the empty label set (a 1×1 join)
    "promql_global_ratio" -> ((s, dir) =>
      q(s, dir, "sum(sum_over_time(click[2d])) / sum(sum_over_time(view[2d]))")
        .orderBy("value")),
    // stepped irate — the instantaneous-rate panel: per-bucket top-2
    // partials merge into each window's last two samples (bounded
    // re-sort, never a per-step decode)
    "promql_range_irate" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "irate(click[6h])", RangeStart, EvalTs, 7200L)
        .orderBy("type", "host", "region", "ts")),
    "promql_range_idelta" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "idelta(view[6h])", RangeStart, EvalTs, 7200L)
        .orderBy("type", "host", "region", "ts")),
    // stepped count_values — the per-step value histogram panel: the
    // aggregation grid rides the same bucket-fold partials, the step
    // is an implicit group key
    "promql_range_count_values" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "count_values by (region) (\"v\", sum_over_time(click[6h]))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "v", "ts")),
    // stepped quantile aggregator (ACROSS series, vs quantile_over_
    // time across samples): p90 of the per-host window sums, per step
    "promql_range_qagg" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          "quantile by (region) (0.9, sum by (host, region) (sum_over_time(click[6h])))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // negative offset (Prometheus promql-negative-offset): the window
    // looks FORWARD of the evaluation instant — at EvalTs the [2d]
    // window shifted by -1d covers (EvalTs-1d, EvalTs+1d], and the
    // corpus simply ends at EvalTs, so only the trailing day answers
    "promql_offset_neg" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum_over_time(click[2d] offset -1d))")
        .orderBy("region")),
    // NESTED subquery — `[d:step]` inside a range query: the inner
    // step series evaluates ONCE over the union span, and each inner
    // instant explodes onto the outer steps it is visible at (integer
    // index arithmetic, no per-step re-evaluation); max stays on the
    // exact BIGINT grid, one division at output
    "promql_subquery_nested" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day - StepWin), labelCols,
          "max_over_time(sum by (region) (sum_over_time(click[6h]))[1d:6h])",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // @ in stepped mode — the "compare vs fixed instant" panel: the
    // pinned window evaluates ONCE in instant mode and replicates
    // across the grid (a broadcast of the ≤steps-row grid); each
    // step's live 6h sum is divided by the pinned reference window
    "promql_range_at" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "sum by (region) (sum_over_time(click[6h]))" +
            s" / sum by (region) (sum_over_time(click[1d] @ $EvalTs))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // @ end() preset: the same compare-vs-fixed-instant panel written
    // portably — the pin resolves to the query's OWN end bound before
    // evaluation, so moving the dashboard window moves the reference
    "promql_at_preset" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "sum by (region) (sum_over_time(click[6h]))" +
            " / sum by (region) (sum_over_time(click[1d] @ end()))",
          RangeStart, EvalTs, 7200L)
        .orderBy("region", "ts")),
    // group_left(labels) carry — the info-metric join: the one side's
    // named labels are COPIED onto every matched many-side element
    // (the `* on(instance) group_left(version) build_info` pattern);
    // the synthetic `tier` info label comes off label_replace, and the
    // one side stays a value-1 bool vector so the product is identity
    "promql_group_left_carry" -> ((s, dir) =>
      q(s, dir, "sum by (host, region) (sum_over_time(click[2d]))" +
          " * on(host) group_left(tier) label_replace(" +
          "sum by (host) (sum_over_time(purchase[2d])) > bool -1," +
          " \"tier\", \"gold\", \"host\", \"h1.*\")")
        .orderBy("host", "region")),
    // bool modifier: comparisons EMIT 0/1 instead of filtering, and
    // the 0/1 grid is exact — `sum(... > bool t)` counts hosts above
    // threshold per region without a float anywhere
    "promql_bool" -> ((s, dir) =>
      q(s, dir, "sum by (region) (sum by (host, region) " +
          "(sum_over_time(click[2d])) > bool 200)")
        .orderBy("region")),
    // stepped deriv — the trend panel: per-(series, bucket) exact
    // regression partials off ONE decode, exploded onto windows
    // (slope is shift-invariant in t exactly, so partials compose);
    // one division per (series, step)
    "promql_range_deriv" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "deriv(view[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped timestamp() — the freshness panel: last sample second
    // per (series, step) within each step's 6-h lookback; sample→step
    // visibility is the stepped-absent index arithmetic, one max per
    // (series, step), exact integers until the output cast
    "promql_range_timestamp" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - StepWin), labelCols,
          """timestamp({type="purchase", host=~"h1.*"})""",
          RangeStart, EvalTs, 7200L, lookbackSec = 21600L)
        .orderBy("host", "region", "ts")),
    // stepped holt_winters — the smoothing panel: the fold is order-
    // dependent (no partial composition), so points explode onto
    // covering windows and the fused kernel folds once per
    // (series, step); the recursive-CTE oracle carries the step
    // through the same IEEE recurrence
    "promql_range_hw" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "holt_winters(purchase[1d], 0.3, 0.1)", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped quantile_over_time — the p95/median panel: quantiles
    // don't compose from partials, so each decoded point explodes
    // onto the ≤ k windows containing its bucket and ONE exact
    // percentile runs per (series, step); still a single decode
    "promql_range_quantile" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "quantile_over_time(0.5, view[1d])", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // stepped absent_over_time — the "no data" panel: the grid spans
    // the day BEFORE the corpus begins, so the early steps' [6h]
    // windows match nothing (absent rows) and the later ones match
    // (no rows) — sample→step visibility is pure integer index
    // arithmetic, the present set broadcasts, the grid anti-joins
    "promql_range_absent" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, AbsentGridStart - StepWin), labelCols,
          """absent_over_time({type="purchase", host="h11"}[6h])""",
          AbsentGridStart, AbsentGridStart + 24 * 7200L, 7200L)
        .orderBy("ts")),
    // stepped predict_linear — the forecast panel: the SAME deriv
    // partials, each window extrapolating to its own eval instant
    // + 2h; integer x stays exact, the horizon lands in one double add
    "promql_range_predict" -> ((s, dir) =>
      Promql.evalRange(chunks(s, dir, RangeStart - Day), labelCols,
          "predict_linear(view[1d], 2h)", RangeStart, EvalTs, 7200L)
        .orderBy("host", "region", "ts")),
    // RECORDING rule: `region:click:sum6h` materialized as Gorilla
    // chunks (graft.tsdb.Rules) — the derived store is a first-class
    // substrate: the rule name selects at the chunk-metadata scan and
    // max_over_time answers from its header stats with ZERO decode
    "promql_recording" -> ((s, dir) =>
      Promql.eval(TsQueries.recordedStoreChunks(s, dir), labelCols,
          "max_over_time(region:click:sum6h[2d])", EvalTs)
        .orderBy("region")),
    // ALERTING rule with `for`: the condition is a stepped PromQL
    // filter; 4h continuity (3 consecutive 2-h evaluations) judged by
    // ONE range window per series — pending vs firing, no driver loop
    "promql_alert" -> ((s, dir) =>
      graft.tsdb.Rules.alert(chunks(s, dir, RangeStart - StepWin), labelCols,
        graft.tsdb.Rules.Alert("HighClickVolume",
          "sum by (region) (sum_over_time(click[6h])) > 100", 14400L,
          RangeStart, EvalTs, 7200L))
        .orderBy("region", "ts")),
    // ALERTING rule with `keep_firing_for` (Prometheus ≥ 2.42): the
    // un-fire hysteresis — a firing series whose condition stops
    // holding keeps firing for 4h (2 extra evaluations) past the last
    // condition-true step, re-arms WITHOUT re-entering pending when
    // the condition returns inside the window, and dies after a
    // > keep gap. Hysteresis rows carry cond=false and the last true
    // value; the oracle reproduces the island state machine with the
    // identical window chain
    "promql_alert_keep" -> ((s, dir) =>
      graft.tsdb.Rules.alert(chunks(s, dir, RangeStart - StepWin), labelCols,
        graft.tsdb.Rules.Alert("HighClickVolume",
          "sum by (region) (sum_over_time(click[6h])) > 100", 14400L,
          RangeStart, EvalTs, 7200L, keepFiringForSec = 14400L))
        .orderBy("region", "ts", "cond")),
    // `or`: set union preferring the LEFT side for matching label
    // sets — rhs ships as a broadcast anti-join, both arms stay on
    // the exact cent grid through the union
    "promql_or" -> ((s, dir) =>
      q(s, dir, "sum by (host) (sum_over_time(purchase[2d])) > 60 " +
          "or sum by (host) (sum_over_time(click[2d])) > 200")
        .orderBy("host")),
    // holt_winters (Prometheus 3.x double_exponential_smoothing):
    // the smoothed level per series — ONE fused kernel fold per
    // series over the decoded window, bit-identical to the
    // recursive-CTE oracle because kernel and CTE evaluate the same
    // IEEE recurrence in the same order
    "promql_holt_winters" -> ((s, dir) =>
      q(s, dir, "holt_winters(purchase[2d], 0.3, 0.1)")
        .orderBy("type", "host", "region")),
    // CONTINUOUS recording (graft.streaming.StreamRules): the same
    // rule shape evaluated by the STREAMING rule-group loop — the
    // whole events table arrives as three watermark-gated micro-
    // batches (one slice deliberately a batch late, within the 1-h
    // lateness bound), each fold sealing raw chunks and evaluating
    // only the grid steps the event-time watermark newly covers; the
    // decoded derived store must equal the one-shot grid evaluation
    // (the oracle computes the identical watermark-derived grid)
    "promql_stream_record" -> ((s, dir) => {
      val rec = s"${streamRulesStore(s, dir)}/rec"
      graft.tsdb.Ts.unpack(graft.tsdb.Ts.readStore(s, rec), labelCols)
        .select(col("region"), col("ts"), col("v").as("value"))
        .orderBy("region", "ts")
    }),
    // CONTINUOUS alerting off the same streaming fold: per batch the
    // engine re-derives `for`-continuity from the store (a for-deep
    // lookback, no memory state) and appends pending/firing rows to
    // the state log — the log must equal the one-shot stepped alert
    // evaluation over the identical watermark-derived grid
    "promql_stream_alert" -> ((s, dir) =>
      s.read.parquet(s"${streamRulesStore(s, dir)}/alerts")
        .filter(col("alert") === "HighClickVolume")
        .select(col("region"), col("ts"), col("value"), col("state"))
        .orderBy("region", "ts")),
    // CONTINUOUS keep_firing_for: the same group carries the
    // hysteresis twin — per batch the chain state is recovered from
    // the persisted state log (the keep analog of the for-deep
    // lookback), so the streamed log must equal the one-shot island
    // state machine over the identical watermark-derived grid,
    // including hysteresis tails that cross the batch cuts
    "promql_stream_alert_keep" -> ((s, dir) =>
      s.read.parquet(s"${streamRulesStore(s, dir)}/alerts")
        .filter(col("alert") === "HighClickVolumeKeep")
        .select(col("region"), col("ts"), col("value"), col("state"),
          col("cond"))
        .orderBy("region", "ts", "cond")))

  /** Grid/batch geometry of [[streamRecordedStore]] — shared with its
    * oracle: 2-h steps, 1-h allowed lateness, batch cuts at Jan-10 and
    * Jan-18 00:00Z (both step-aligned). */
  private val SRecStep = 7200L
  private val SRecLate = 3600L
  private val SRecCut1 = RangeStart // 1704844800 = 2024-01-10T00:00Z
  private val SRecCut2 = 1705536000L // 2024-01-18T00:00Z

  /** Build (once per dir) the continuous-rules artifacts: a rule
    * GROUP (the `region:click:sum6h` recording + a `for`-clause
    * alert on the same condition) run through [[graft.streaming
    * .StreamRules.foldGroupBatch]] over a 3-batch, out-of-order,
    * watermark-gated ingest of the events table. The rows at
    * [cut1 − 1h, cut1) arrive one batch LATE — legal under the 1-h
    * lateness bound because their covering steps (≥ cut1) are beyond
    * batch 1's watermark — so the build exercises exactly the
    * contract the streaming engine guarantees: a step folds only
    * after everything it can see has arrived. Returns the base dir
    * (`rec` = derived chunk store, `alerts` = state log). */
  private def streamRulesStore(s: SparkSession, dir: String): String =
    synchronized {
      val base = TsQueries.storePathFor(dir) + "_srec3" // r16: + keep-alert
      val done = new java.io.File(base, "_DONE")
      if (!done.exists()) {
        // wipe partial builds: a half-folded cursor would skip batches
        val conf = s.sparkContext.hadoopConfiguration
        val hfs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
        hfs.delete(new org.apache.hadoop.fs.Path(base), true)
        val ev = TsQueries.labeledEventsFrom(Tables(s, dir, "events"))
        val sec = graft.tsdb.Ts.epochSec(ev, "ts")
        val late = sec >= SRecCut1 - SRecLate && sec < SRecCut1
        val group = graft.streaming.StreamRules.RuleGroup(SRecStep,
          recordings = Seq(graft.streaming.StreamRules.Recording(
            "region:click:sum6h",
            "sum by (region) (sum_over_time(click[6h]))")),
          alerts = Seq(
            graft.streaming.StreamRules.Alert("HighClickVolume",
              "sum by (region) (sum_over_time(click[6h])) > 100",
              forSec = 2 * SRecStep),
            // the keep_firing_for twin: same condition, 2-step
            // hysteresis — chains crossing the batch cuts recover
            // from the state log (firingSeedFor)
            graft.streaming.StreamRules.Alert("HighClickVolumeKeep",
              "sum by (region) (sum_over_time(click[6h])) > 100",
              forSec = 2 * SRecStep, keepFiringForSec = 2 * SRecStep)),
          latenessSec = SRecLate, horizonSec = StepWin + SRecStep)
        val slices = Seq(
          ev.filter(sec < SRecCut1 && !late),
          ev.filter(late || (sec >= SRecCut1 && sec < SRecCut2)),
          ev.filter(sec >= SRecCut2))
        slices.zipWithIndex.foreach { case (b, i) =>
          graft.streaming.StreamRules.foldGroupBatch(b, i.toLong, labelCols,
            "ts", "value", group, s"$base/raw", s"$base/rec", s"$base/alerts")
        }
        java.nio.file.Files.write(done.toPath, Array.empty[Byte])
      }
      base
    }

  def oracleSql: Map[String, String] = Map(
    "promql_instant" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  AND type = 'purchase' AND host LIKE 'h1%'),
        |r AS (SELECT type, host, region, cents, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY ts DESC, cents DESC) AS rn
        |  FROM pts)
        |SELECT type, host, region, CAST(cents AS DOUBLE) / 100.0 AS value
        |FROM r WHERE rn = 1 ORDER BY type, host, region""".stripMargin,
    "promql_sum_rate" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= $From AND ts <= $EvalTs
        |  AND type = 'click'),
        |d AS (SELECT region, cents - lag(cents) OVER (
        |    PARTITION BY type, host, region ORDER BY ts, cents) AS dd FROM pts)
        |SELECT region,
        |  CAST(CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / ${Win * 100}.0 AS value
        |FROM d WHERE dd IS NOT NULL GROUP BY region ORDER BY region""".stripMargin,
    "promql_ratio" ->
      s"""$lblCte,
        |c AS (SELECT host, CAST(sum(cents) AS BIGINT) AS lc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host),
        |v AS (SELECT host, CAST(sum(cents) AS BIGINT) AS rc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'view' GROUP BY host)
        |SELECT host, value FROM (
        |  SELECT c.host,
        |    (CAST(lc AS DOUBLE) / 100.0) / nullif(CAST(rc AS DOUBLE) / 100.0, 0.0)
        |      AS value
        |  FROM c JOIN v USING (host))
        |WHERE value IS NOT NULL ORDER BY host""".stripMargin,
    "promql_topk_offset" ->
      s"""$lblCte
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM (
        |  SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $OffFrom AND ts <= $OffTo AND type = 'click'
        |  GROUP BY host ORDER BY sc DESC, host LIMIT 3)
        |ORDER BY value DESC, host""".stripMargin,
    "promql_quantile" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2)
        |SELECT region, quantile_cont(sc, 0.9) / 100.0 AS value
        |FROM h GROUP BY region ORDER BY region""".stripMargin,
    "promql_unless" ->
      s"""$lblCte,
        |c AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host)
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM c
        |WHERE host NOT IN (SELECT DISTINCT host FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'error')
        |ORDER BY host""".stripMargin,
    "promql_and" ->
      s"""$lblCte,
        |c AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host)
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM c
        |WHERE host IN (SELECT DISTINCT host FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'error')
        |ORDER BY host""".stripMargin,
    "promql_filter" ->
      s"""$lblCte
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM (
        |  SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |  GROUP BY host HAVING CAST(sum(cents) AS BIGINT) > 6000)
        |ORDER BY host""".stripMargin,
    "promql_group_left" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS hc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2),
        |r AS (SELECT region, CAST(sum(hc) AS BIGINT) AS rc FROM h GROUP BY region)
        |SELECT host, region, value FROM (
        |  SELECT h.host, h.region,
        |    (CAST(hc AS DOUBLE) / 100.0) / nullif(CAST(rc AS DOUBLE) / 100.0, 0.0)
        |      AS value
        |  FROM h JOIN r USING (region))
        |WHERE value IS NOT NULL ORDER BY region, host""".stripMargin,
    // group_right mirrors group_left with the grain sides swapped:
    // the region total divides INTO each host row, host labels survive
    "promql_group_right" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS hc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2),
        |r AS (SELECT region, CAST(sum(hc) AS BIGINT) AS rc FROM h GROUP BY region)
        |SELECT host, region, value FROM (
        |  SELECT h.host, h.region,
        |    (CAST(rc AS DOUBLE) / 100.0) / nullif(CAST(hc AS DOUBLE) / 100.0, 0.0)
        |      AS value
        |  FROM h JOIN r USING (region))
        |WHERE value IS NOT NULL ORDER BY region, host""".stripMargin,
    "promql_without" ->
      s"""$lblCte
        |SELECT type, region, CAST(sum(cents) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY type, region ORDER BY type, region""".stripMargin,
    "promql_arith" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= $From AND ts <= $EvalTs
        |  AND type = 'purchase'),
        |d AS (SELECT region, cents - lag(cents) OVER (
        |    PARTITION BY type, host, region ORDER BY ts, cents) AS dd FROM pts)
        |SELECT region,
        |  CAST(CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / 100.0 / 86400.0 * 100.0 AS value
        |FROM d WHERE dd IS NOT NULL GROUP BY region ORDER BY region""".stripMargin,
    "promql_avg_max" ->
      s"""$lblCte,
        |p AS (SELECT type, host, region, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'view' GROUP BY 1, 2, 3)
        |SELECT region, max(CAST(sc AS DOUBLE) / (n * 100.0)) AS value
        |FROM p GROUP BY region ORDER BY region""".stripMargin,
    "promql_stddev" ->
      s"""$lblCte,
        |p AS (SELECT type, host, region, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sc,
        |    CAST(sum(cents * cents) AS BIGINT) AS qc FROM lbl
        |  WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs AND type = 'view'
        |  GROUP BY 1, 2, 3)
        |SELECT region,
        |  max(sqrt(CAST(n * qc - sc * sc AS DOUBLE) / (n * n * 10000.0))) AS value
        |FROM p GROUP BY region ORDER BY region""".stripMargin,
    "promql_topk_by" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2),
        |r AS (SELECT host, region, sc, row_number() OVER (
        |    PARTITION BY region ORDER BY sc DESC, host) AS rk FROM h)
        |SELECT host, region, CAST(sc AS DOUBLE) / 100.0 AS value
        |FROM r WHERE rk = 1 ORDER BY region, host""".stripMargin,
    "promql_count_values" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  AND type = 'purchase' AND host LIKE 'h1%'),
        |last AS (SELECT type, host, region, cents, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY ts DESC, cents DESC) AS rn
        |  FROM pts)
        |SELECT CAST(cents AS DOUBLE) / 100.0 AS v,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM last WHERE rn = 1 GROUP BY cents ORDER BY v""".stripMargin,
    // stepped windows are LEFT-CLOSED [t − 6h, t − 1] on the second
    // grid (the compiler's bucket-alignment convention)
    "promql_range_sum" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT region, t AS ts,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |WHERE type = 'click'
        |GROUP BY region, t ORDER BY region, ts""".stripMargin,
    "promql_range_ratio" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |c AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS lc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |v AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS rc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'view' GROUP BY region, t)
        |SELECT region, ts, value FROM (
        |  SELECT c.region, c.t AS ts,
        |    (CAST(lc AS DOUBLE) / 100.0) / nullif(CAST(rc AS DOUBLE) / 100.0, 0.0)
        |      AS value
        |  FROM c JOIN v ON c.region = v.region AND c.t = v.t)
        |WHERE value IS NOT NULL ORDER BY region, ts""".stripMargin,
    // pair membership in a window == both endpoints inside it; lag runs
    // over the grid's full coverage, exactly like the compiled plan
    "promql_range_rate" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl
        |  WHERE ts >= ${RangeStart - Day} AND ts <= ${EvalTs - 1}
        |  AND type = 'click'),
        |pr AS (SELECT region, ts, cents,
        |    lag(ts) OVER w AS prev_ts, cents - lag(cents) OVER w AS dd
        |  FROM pts WINDOW w AS (PARTITION BY type, host, region ORDER BY ts, cents)),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT region, t AS ts,
        |  CAST(CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / ${Day * 100}.0 AS value
        |FROM pr JOIN steps ON pr.prev_ts >= t - $Day AND pr.ts <= t - 1
        |WHERE prev_ts IS NOT NULL
        |GROUP BY region, t ORDER BY region, ts""".stripMargin,
    "promql_range_topk" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |h AS (SELECT host, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY host, t),
        |r AS (SELECT host, t, sc, row_number() OVER (
        |    PARTITION BY t ORDER BY sc DESC, host) AS rk FROM h)
        |SELECT host, t AS ts, CAST(sc AS DOUBLE) / 100.0 AS value
        |FROM r WHERE rk <= 2 ORDER BY ts, host""".stripMargin,
    // window first/last under the engine's (ts, cents) struct order:
    // first_value/last_value over the full frame with the same keys
    "promql_range_delta" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |pts AS (SELECT * FROM lbl
        |  WHERE ts >= ${RangeStart - Day} AND ts <= ${EvalTs - 1}
        |  AND type = 'click'),
        |pr AS (SELECT type, host, region, t,
        |    first_value(cents) OVER w AS fc, last_value(cents) OVER w AS lc
        |  FROM pts JOIN steps ON pts.ts >= t - $Day AND pts.ts <= t - 1
        |  WINDOW w AS (PARTITION BY type, host, region, t ORDER BY pts.ts, cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT DISTINCT type, host, region, t AS ts,
        |  CAST(CAST(lc - fc AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM pr ORDER BY host, region, ts""".stripMargin,
    "promql_range_changes" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl
        |  WHERE ts >= ${RangeStart - Day} AND ts <= ${EvalTs - 1}
        |  AND type = 'click'),
        |pr AS (SELECT type, host, region, ts, cents,
        |    lag(ts) OVER w AS prev_ts, cents - lag(cents) OVER w AS dd
        |  FROM pts WINDOW w AS (PARTITION BY type, host, region ORDER BY ts, cents)),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT type, host, region, t AS ts,
        |  CAST(CAST(sum(CASE WHEN dd <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    AS value
        |FROM pr JOIN steps ON pr.prev_ts >= t - $Day AND pr.ts <= t - 1
        |WHERE prev_ts IS NOT NULL
        |GROUP BY type, host, region, t ORDER BY host, region, ts""".stripMargin,
    "promql_range_last" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |pts AS (SELECT * FROM lbl
        |  WHERE ts >= ${RangeStart - Day} AND ts <= ${EvalTs - 1}
        |  AND type = 'view'),
        |pr AS (SELECT type, host, region, t,
        |    last_value(cents) OVER w AS lc
        |  FROM pts JOIN steps ON pts.ts >= t - $Day AND pts.ts <= t - 1
        |  WINDOW w AS (PARTITION BY type, host, region, t ORDER BY pts.ts, cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT DISTINCT type, host, region, t AS ts,
        |  CAST(lc AS DOUBLE) / 100.0 AS value
        |FROM pr ORDER BY host, region, ts""".stripMargin,
    "promql_clamp" ->
      s"""$lblCte
        |SELECT host,
        |  CAST(least(greatest(sc, 5000), 20000) AS DOUBLE) / 100.0 AS value
        |FROM (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |  GROUP BY host)
        |ORDER BY host""".stripMargin,
    // regression sums on the relative-second × cent grid: BIGINT-exact
    // on both engines (t ≤ 172799, |cents| ≤ ~5e4 → products < 2^63)
    "promql_deriv" ->
      s"""$lblCte,
        |c AS (SELECT type, host, region, ts - $From AS t, cents
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'view'),
        |g AS (SELECT type, host, region, count(*) AS n,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
        |    CAST(sum(t * cents) AS BIGINT) AS stv,
        |    CAST(sum(t * t) AS BIGINT) AS stt
        |  FROM c GROUP BY 1, 2, 3),
        |d AS (SELECT type, host, region,
        |    CAST(n * stv - st * sv AS BIGINT) AS num,
        |    CAST(n * stt - st * st AS BIGINT) AS den
        |  FROM g WHERE n >= 2)
        |SELECT type, host, region,
        |  CAST(num AS DOUBLE) / (100.0 * den) AS value
        |FROM d WHERE den <> 0 ORDER BY host, region""".stripMargin,
    "promql_predict" ->
      s"""$lblCte,
        |c AS (SELECT type, host, region, ts - $From AS t, cents
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'view'),
        |g AS (SELECT type, host, region, count(*) AS n,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
        |    CAST(sum(t * cents) AS BIGINT) AS stv,
        |    CAST(sum(t * t) AS BIGINT) AS stt
        |  FROM c GROUP BY 1, 2, 3),
        |d AS (SELECT type, host, region, n, st, sv,
        |    CAST(n * stv - st * sv AS BIGINT) AS num,
        |    CAST(n * stt - st * st AS BIGINT) AS den
        |  FROM g WHERE n >= 2)
        |SELECT type, host, region,
        |  (CAST(sv AS DOUBLE) / n + CAST(num AS DOUBLE) / den *
        |    (176399.0 - CAST(st AS DOUBLE) / n)) / 100.0 AS value
        |FROM d WHERE den <> 0 ORDER BY host, region""".stripMargin,
    "promql_label_replace" ->
      s"""$lblCte
        |SELECT regexp_replace(host, '^(?:h([0-9]).*)$$', 'dc-\\1') AS dc,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY dc ORDER BY dc""".stripMargin,
    "promql_label_join" ->
      s"""$lblCte
        |SELECT host || '-' || region AS hr,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY hr ORDER BY hr""".stripMargin,
    // histogram oracles: the bucket store's cumulative counters are
    // re-derived directly from raw events — increase over a window of
    // grid samples telescopes to a plain COUNT of events between the
    // window's first and last scrape instants — then the Prometheus
    // interpolation replicated op-for-op (raw BIGINT cents, one
    // multiply, one divide; empty histograms dropped like the engine)
    "promql_hist_quantile" ->
      s"""$lblCte,
        |b(le, le_cents, le_num) AS (VALUES ('10', 1000, 10.0),
        |  ('25', 2500, 25.0), ('50', 5000, 50.0), ('100', 10000, 100.0),
        |  ('250', 25000, 250.0), ('+Inf', NULL, CAST('inf' AS DOUBLE))),
        |ic AS (SELECT b.le_num, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM b LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > ${EvalTs - 165600L} AND l.ts <= $EvalTs
        |    AND (b.le_cents IS NULL OR l.cents <= b.le_cents)
        |  GROUP BY b.le_num),
        |r AS (SELECT le_num, CAST(ic AS DOUBLE) AS cum,
        |    lag(le_num) OVER w AS prev_le,
        |    CAST(lag(ic) OVER w AS DOUBLE) AS prev_cum,
        |    0.9 * CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS DOUBLE) AS rnk,
        |    CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS DOUBLE) AS tot
        |  FROM ic WINDOW w AS (ORDER BY le_num)),
        |p AS (SELECT *, row_number() OVER (ORDER BY le_num) AS rn
        |  FROM r WHERE tot > 0 AND cum >= rnk)
        |SELECT CASE WHEN isinf(le_num) THEN prev_le
        |  ELSE coalesce(prev_le, 0.0) + (le_num - coalesce(prev_le, 0.0)) *
        |    ((rnk - coalesce(prev_cum, 0.0)) / (cum - coalesce(prev_cum, 0.0)))
        |  END AS value
        |FROM p WHERE rn = 1""".stripMargin,
    "promql_range_histq" ->
      s"""$lblCte,
        |b(le, le_cents, le_num) AS (VALUES ('10', 1000, 10.0),
        |  ('25', 2500, 25.0), ('50', 5000, 50.0), ('100', 10000, 100.0),
        |  ('250', 25000, 250.0), ('+Inf', NULL, CAST('inf' AS DOUBLE))),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ic AS (SELECT b.le_num, st.t, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |    AND (b.le_cents IS NULL OR l.cents <= b.le_cents)
        |  GROUP BY b.le_num, st.t),
        |r AS (SELECT t, le_num, CAST(ic AS DOUBLE) AS cum,
        |    lag(le_num) OVER w AS prev_le,
        |    CAST(lag(ic) OVER w AS DOUBLE) AS prev_cum,
        |    0.5 * CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (PARTITION BY t) AS DOUBLE) AS rnk,
        |    CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (PARTITION BY t) AS DOUBLE) AS tot
        |  FROM ic WINDOW w AS (PARTITION BY t ORDER BY le_num)),
        |p AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY le_num) AS rn
        |  FROM r WHERE tot > 0 AND cum >= rnk)
        |SELECT t AS ts, CASE WHEN isinf(le_num) THEN prev_le
        |  ELSE coalesce(prev_le, 0.0) + (le_num - coalesce(prev_le, 0.0)) *
        |    ((rnk - coalesce(prev_cum, 0.0)) / (cum - coalesce(prev_cum, 0.0)))
        |  END AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // the migration-union oracles are the CLASSIC quantile recomputed
    // over ALL hosts from raw events — zero migration machinery: the
    // engine's bridge rewrite + bound-table merge must land exactly
    // where the pre-rollout all-classic fleet landed
    "promql_histq_migration" ->
      s"""$lblCte,
        |b(le, le_cents, le_num) AS (VALUES ('10', 1000, 10.0),
        |  ('25', 2500, 25.0), ('50', 5000, 50.0), ('100', 10000, 100.0),
        |  ('250', 25000, 250.0), ('+Inf', NULL, CAST('inf' AS DOUBLE))),
        |ic AS (SELECT b.le_num, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM b LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > ${EvalTs - 165600L} AND l.ts <= $EvalTs
        |    AND (b.le_cents IS NULL OR l.cents <= b.le_cents)
        |  GROUP BY b.le_num),
        |r AS (SELECT le_num, CAST(ic AS DOUBLE) AS cum,
        |    lag(le_num) OVER w AS prev_le,
        |    CAST(lag(ic) OVER w AS DOUBLE) AS prev_cum,
        |    0.75 * CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS DOUBLE) AS rnk,
        |    CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS DOUBLE) AS tot
        |  FROM ic WINDOW w AS (ORDER BY le_num)),
        |p AS (SELECT *, row_number() OVER (ORDER BY le_num) AS rn
        |  FROM r WHERE tot > 0 AND cum >= rnk)
        |SELECT CASE WHEN isinf(le_num) THEN prev_le
        |  ELSE coalesce(prev_le, 0.0) + (le_num - coalesce(prev_le, 0.0)) *
        |    ((rnk - coalesce(prev_cum, 0.0)) / (cum - coalesce(prev_cum, 0.0)))
        |  END AS value
        |FROM p WHERE rn = 1""".stripMargin,
    "promql_range_histq_migration" ->
      s"""$lblCte,
        |b(le, le_cents, le_num) AS (VALUES ('10', 1000, 10.0),
        |  ('25', 2500, 25.0), ('50', 5000, 50.0), ('100', 10000, 100.0),
        |  ('250', 25000, 250.0), ('+Inf', NULL, CAST('inf' AS DOUBLE))),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ic AS (SELECT b.le_num, st.t, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |    AND (b.le_cents IS NULL OR l.cents <= b.le_cents)
        |  GROUP BY b.le_num, st.t),
        |r AS (SELECT t, le_num, CAST(ic AS DOUBLE) AS cum,
        |    lag(le_num) OVER w AS prev_le,
        |    CAST(lag(ic) OVER w AS DOUBLE) AS prev_cum,
        |    0.5 * CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (PARTITION BY t) AS DOUBLE) AS rnk,
        |    CAST(max(CASE WHEN isinf(le_num) THEN ic END) OVER
        |      (PARTITION BY t) AS DOUBLE) AS tot
        |  FROM ic WINDOW w AS (PARTITION BY t ORDER BY le_num)),
        |p AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY le_num) AS rn
        |  FROM r WHERE tot > 0 AND cum >= rnk)
        |SELECT t AS ts, CASE WHEN isinf(le_num) THEN prev_le
        |  ELSE coalesce(prev_le, 0.0) + (le_num - coalesce(prev_le, 0.0)) *
        |    ((rnk - coalesce(prev_cum, 0.0)) / (cum - coalesce(prev_cum, 0.0)))
        |  END AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // histogram_count/sum/avg/fraction: the bucket counters re-derived
    // from raw events (rate telescopes to a COUNT between the window's
    // first and last scrape instants); sum/avg replicate the engine's
    // Σ Δ·(lo+hi) micro-grid numerator per event (each event lands in
    // exactly one Δ bucket), fraction replicates the interpolation
    // expression tree op-for-op
    "promql_hist_count" ->
      s"""$lblCte
        |SELECT CAST(CAST(100 * count(*) AS BIGINT) AS DOUBLE) / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    "promql_hist_sum" ->
      s"""$lblCte
        |SELECT CAST(CAST(sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS BIGINT)) AS BIGINT) AS DOUBLE) / 34560000000000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    "promql_hist_avg" ->
      s"""$lblCte,
        |g AS (SELECT CAST(sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS BIGINT)) AS BIGINT) AS num,
        |  CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs)
        |SELECT CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS value
        |FROM g WHERE cnt > 0""".stripMargin,
    // per-step telescope: events between the step window's first and
    // last scrape instants (the range_histq ic derivation), one rate
    // denominator division at output
    "promql_range_hist_count" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ic AS (SELECT st.t, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM steps st LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts, CAST(ic AS DOUBLE) / 8640000.0 AS value
        |FROM ic ORDER BY ts""".stripMargin,
    // per-step versions of the classic-bucket estimator oracles: the
    // same telescoped event derivation as promql_range_hist_count,
    // the instant keys' exact BIGINT/HUGEINT moment trees run per
    // step. [1d] rate denominator = 8640000 (86400 s × the store's
    // 100× scaling): hist_sum divides num by 2e6·8640000; the
    // avg/stddev/stdvar/fraction denominators cancel per step.
    // hist_sum keeps event-empty steps at 0 (the engine's flat-counter
    // rate row still exists there); the others drop them (cnt > 0)
    "promql_range_hist_sum" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t, CAST(coalesce(sum(100 *
        |      CAST($HistFc AS BIGINT)), 0) AS BIGINT) AS num
        |  FROM steps st LEFT JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts, CAST(num AS DOUBLE) / 17280000000000.0 AS value
        |FROM g ORDER BY ts""".stripMargin,
    "promql_range_hist_avg" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t,
        |    CAST(sum(100 * CAST($HistFc AS BIGINT)) AS BIGINT) AS num,
        |    CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM steps st JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts,
        |  CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS value
        |FROM g WHERE cnt > 0 ORDER BY ts""".stripMargin,
    "promql_range_hist_stddev" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t,
        |    CAST(sum(100 * CAST($HistFc AS BIGINT)) AS BIGINT) AS num,
        |    sum(100 * CAST($HistFc AS HUGEINT)
        |      * CAST($HistFc AS HUGEINT)) AS m2,
        |    CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM steps st JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t),
        |v AS (SELECT t,
        |    CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS mu,
        |    CAST(m2 AS DOUBLE) / (4000000000000.0 * CAST(cnt AS DOUBLE)) AS em2
        |  FROM g WHERE cnt > 0)
        |SELECT t AS ts, sqrt(greatest(em2 - mu * mu, 0.0)) AS value
        |FROM v ORDER BY ts""".stripMargin,
    "promql_range_hist_stdvar" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t,
        |    CAST(sum(100 * CAST($HistFc AS BIGINT)) AS BIGINT) AS num,
        |    sum(100 * CAST($HistFc AS HUGEINT)
        |      * CAST($HistFc AS HUGEINT)) AS m2,
        |    CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM steps st JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t),
        |v AS (SELECT t,
        |    CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS mu,
        |    CAST(m2 AS DOUBLE) / (4000000000000.0 * CAST(cnt AS DOUBLE)) AS em2
        |  FROM g WHERE cnt > 0)
        |SELECT t AS ts, greatest(em2 - mu * mu, 0.0) AS value
        |FROM v ORDER BY ts""".stripMargin,
    "promql_range_hist_fraction" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 1000) AS BIGINT) AS c10,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 2500) AS BIGINT) AS c25,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 10000) AS BIGINT) AS c100,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 25000) AS BIGINT) AS c250,
        |  CAST(100 * count(*) AS BIGINT) AS ctot
        |  FROM steps st JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts,
        |  ((CAST(c100 AS DOUBLE) + (CAST(c250 AS DOUBLE) - CAST(c100 AS DOUBLE)) *
        |    ((150.0 - 100.0) / (250.0 - 100.0)))
        |  - (CAST(c10 AS DOUBLE) + (CAST(c25 AS DOUBLE) - CAST(c10 AS DOUBLE)) *
        |    ((20.0 - 10.0) / (25.0 - 10.0))))
        |  / CAST(ctot AS DOUBLE) AS value
        |FROM g WHERE ctot > 0 ORDER BY ts""".stripMargin,
    "promql_hist_stddev" ->
      s"""$lblCte,
        |g AS (SELECT CAST(sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS BIGINT)) AS BIGINT) AS num,
        |  sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS HUGEINT) * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS HUGEINT)) AS m2,
        |  CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |v AS (SELECT CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS mu,
        |  CAST(m2 AS DOUBLE) / (4000000000000.0 * CAST(cnt AS DOUBLE)) AS em2
        |  FROM g WHERE cnt > 0)
        |SELECT sqrt(greatest(em2 - mu * mu, 0.0)) AS value FROM v""".stripMargin,
    "promql_hist_stdvar" ->
      s"""$lblCte,
        |g AS (SELECT CAST(sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS BIGINT)) AS BIGINT) AS num,
        |  sum(100 * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS HUGEINT) * CAST(CASE
        |    WHEN cents <= 1000 THEN 10000000
        |    WHEN cents <= 2500 THEN 35000000
        |    WHEN cents <= 5000 THEN 75000000
        |    WHEN cents <= 10000 THEN 150000000
        |    WHEN cents <= 25000 THEN 350000000
        |    ELSE 500000000 END AS HUGEINT)) AS m2,
        |  CAST(100 * count(*) AS BIGINT) AS cnt
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |v AS (SELECT CAST(num AS DOUBLE) / (2000000.0 * CAST(cnt AS DOUBLE)) AS mu,
        |  CAST(m2 AS DOUBLE) / (4000000000000.0 * CAST(cnt AS DOUBLE)) AS em2
        |  FROM g WHERE cnt > 0)
        |SELECT greatest(em2 - mu * mu, 0.0) AS value FROM v""".stripMargin,
    "promql_hist_fraction" ->
      s"""$lblCte,
        |g AS (SELECT
        |  CAST(100 * count(*) FILTER (WHERE cents <= 1000) AS BIGINT) AS c10,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 2500) AS BIGINT) AS c25,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 10000) AS BIGINT) AS c100,
        |  CAST(100 * count(*) FILTER (WHERE cents <= 25000) AS BIGINT) AS c250,
        |  CAST(100 * count(*) AS BIGINT) AS ctot
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs)
        |SELECT ((CAST(c100 AS DOUBLE) + (CAST(c250 AS DOUBLE) - CAST(c100 AS DOUBLE)) *
        |    ((150.0 - 100.0) / (250.0 - 100.0)))
        |  - (CAST(c10 AS DOUBLE) + (CAST(c25 AS DOUBLE) - CAST(c10 AS DOUBLE)) *
        |    ((20.0 - 10.0) / (25.0 - 10.0))))
        |  / CAST(ctot AS DOUBLE) AS value
        |FROM g WHERE ctot > 0""".stripMargin,
    // native-histogram oracles: per-bucket event counts re-derived
    // from raw events via the SAME integer cent thresholds the engine
    // broadcasts (NativeBucketValues); the count telescope and the
    // one interpolation mirror the engine's expression tree op-for-op
    "promql_native_histq" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -536870912, 0.0e0, 0.0e0, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |c AS (SELECT ord, blo, bhi, n, sum(n) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY ord) AS rn
        |  FROM c, t WHERE t.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1""".stripMargin,
    // the reset twins: the SAME native-quantile oracles with ONE
    // change — the reset-crossing cell's events are excluded (the
    // fleet restarted right after the scrape at NativeResetAt − step,
    // so the delta at NativeResetAt is a re-base, not an increase).
    // Every fixture series carries mass long before the reset, so the
    // histogram-grain drop fires for every (type, host)
    "promql_native_histq_reset" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs
        |  AND NOT (ts > ${TsQueries.NativeResetAt - 7200L}
        |           AND ts <= ${TsQueries.NativeResetAt})),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -536870912, 0.0e0, 0.0e0, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |c AS (SELECT ord, blo, bhi, n, sum(n) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY ord) AS rn
        |  FROM c, t WHERE t.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1""".stripMargin,
    "promql_range_native_histq_reset" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |  AND NOT (l.ts > ${TsQueries.NativeResetAt - 7200L}
        |           AND l.ts <= ${TsQueries.NativeResetAt})),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (
        |  SELECT st.t, b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT t, -536870912, 0.0e0, 0.0e0,
        |    CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0 GROUP BY t),
        |c AS (SELECT t, ord, blo, bhi, n, sum(n) OVER (PARTITION BY t
        |    ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, tt.tot,
        |    row_number() OVER (PARTITION BY c.t ORDER BY ord) AS rn
        |  FROM c JOIN tt ON tt.t = c.t WHERE tt.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(tt.tot AS DOUBLE))
        |SELECT t AS ts, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // native fraction: the engine's compile-time bucket location
    // re-derived through the SAME NativeHist.locate call, the two
    // conditional sums and the one multiply mirrored op-for-op
    "promql_native_hist_fraction" -> {
      val (ordLo, fracLo) = graft.tsdb.NativeHist.locate(0.2)
      val (ordHi, fracHi) = graft.tsdb.NativeHist.locate(1.5)
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord
        |  UNION ALL
        |  SELECT -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |g AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN ord < $ordHi THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordHi THEN n END), 0) AS DOUBLE)
        |      * ${fracHi}e0 AS fhi,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordLo THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordLo THEN n END), 0) AS DOUBLE)
        |      * ${fracLo}e0 AS flo
        |  FROM bc)
        |SELECT (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g, t WHERE tot > 0""".stripMargin
    },
    // stepped native count/sum/avg: the per-step telescoped event
    // derivation (count == the classic +Inf arm's telescope; sum is
    // the exact cent total; avg's denominators cancel per step)
    "promql_range_native_hist_count" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ic AS (SELECT st.t, CAST(100 * count(l.ts) AS BIGINT) AS ic
        |  FROM steps st LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts, CAST(ic AS DOUBLE) / 8640000.0 AS value
        |FROM ic ORDER BY ts""".stripMargin,
    "promql_range_native_hist_sum" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t,
        |    CAST(coalesce(sum(l.cents), 0) AS BIGINT) AS s
        |  FROM steps st LEFT JOIN lbl l ON l.type = 'click'
        |    AND l.ts > st.t - $Day AND l.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts, CAST(s AS DOUBLE) / 8640000.0 AS value
        |FROM g ORDER BY ts""".stripMargin,
    "promql_range_native_hist_avg" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |g AS (SELECT st.t, CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(100 * count(*) AS BIGINT) AS c
        |  FROM steps st JOIN lbl ON type = 'click'
        |    AND lbl.ts > st.t - $Day AND lbl.ts <= st.t - 7200
        |  GROUP BY st.t)
        |SELECT t AS ts, CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS value
        |FROM g WHERE c > 0 ORDER BY ts""".stripMargin,
    // stepped native fraction: the compile-time bucket location with
    // per-step conditional sums
    "promql_range_native_hist_fraction" -> {
      val (ordLo, fracLo) = graft.tsdb.NativeHist.locate(0.2)
      val (ordHi, fracHi) = graft.tsdb.NativeHist.locate(1.5)
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (
        |  SELECT st.t, b.ord, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.ord
        |  UNION ALL
        |  SELECT t, -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0 GROUP BY t),
        |g AS (SELECT t,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordHi THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordHi THEN n END), 0) AS DOUBLE)
        |      * ${fracHi}e0 AS fhi,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordLo THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordLo THEN n END), 0) AS DOUBLE)
        |      * ${fracLo}e0 AS flo
        |  FROM bc GROUP BY t)
        |SELECT g.t AS ts, (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g JOIN tt ON tt.t = g.t WHERE tot > 0 ORDER BY ts""".stripMargin
    },
    // stepped native quantile: the per-step telescoped window with
    // the same bucket table and interpolation tree
    "promql_range_native_histq" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (
        |  SELECT st.t, b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT t, -536870912, 0.0e0, 0.0e0,
        |    CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0 GROUP BY t),
        |c AS (SELECT t, ord, blo, bhi, n, sum(n) OVER (PARTITION BY t
        |    ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, tt.tot,
        |    row_number() OVER (PARTITION BY c.t ORDER BY ord) AS rn
        |  FROM c JOIN tt ON tt.t = c.t WHERE tt.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(tt.tot AS DOUBLE))
        |SELECT t AS ts, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // count telescope identical to the classic store's; sum is the
    // exact cent total over the same window; avg = sum/(100·count)
    // (the raw-over-raw division the engine emits)
    "promql_native_hist_count" ->
      s"""$lblCte
        |SELECT CAST(CAST(100 * count(*) AS BIGINT) AS DOUBLE)
        |  / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    "promql_native_hist_sum" ->
      s"""$lblCte
        |SELECT CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |  / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    "promql_native_hist_avg" ->
      s"""$lblCte,
        |g AS (SELECT CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(100 * count(*) AS BIGINT) AS c
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs)
        |SELECT CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS value
        |FROM g WHERE c > 0""".stripMargin,
    // mixed-schema quantile: the engine remaps the schema-3 series'
    // indices onto schema 2 and merges; the oracle assigns EVERY raw
    // event at schema 2 directly — equal because the integer cent
    // thresholds nest (hi_2(j) = hi_3(2j)), so any remap defect
    // hash-fails. Interpolation constants are the schema-2 bound
    // doubles the engine broadcasts.
    "promql_native_histq_mixed" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(2)}),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -536870912, 0.0e0, 0.0e0, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |c AS (SELECT ord, blo, bhi, n, sum(n) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY ord) AS rn
        |  FROM c, t WHERE t.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT '2' AS schema, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1""".stripMargin,
    // the exact sum arm is schema-independent: the mixed fleet's
    // total equals the single-schema telescope, tagged schema=2
    "promql_native_hist_sum_mixed" ->
      s"""$lblCte
        |SELECT '2' AS schema, CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |  / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    // WIDE mixed fleet: the engine downscales schemas 5/3/0 onto the
    // NEGATIVE coarsest −2 (Δ up to 7, crossing the sign boundary);
    // the oracle assigns every raw event at schema −2 directly —
    // equal because the integer cent thresholds nest across the FULL
    // range (hi_s(i) = hi_{s+1}(2i), property-pinned in PromqlSpec)
    "promql_native_histq_mixed_wide" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(-2)}),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -536870912, 0.0e0, 0.0e0, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |c AS (SELECT ord, blo, bhi, n, sum(n) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY ord) AS rn
        |  FROM c, t WHERE t.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT '-2' AS schema, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1""".stripMargin,
    "promql_native_hist_sum_mixed_wide" ->
      s"""$lblCte
        |SELECT '-2' AS schema, CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |  / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    // avg by (nb) over the mixed fleet: per-series buckets MERGE to
    // the coarse layout first (the engine's pre-merge), THEN average
    // across the series HOLDING each bucket — the oracle derives both
    // the numerator (window counts at schema 2) and the denominator
    // (all-time series presence per coarse bucket) from raw events;
    // the count/sum arms average over every host that ever clicked
    "promql_native_hist_avg_mixed" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(2)}),
        |ev AS (SELECT host, cents, ts FROM lbl WHERE type = 'click'),
        |pres AS (SELECT DISTINCT e.host, b.ord
        |  FROM ev e JOIN b ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  UNION
        |  SELECT DISTINCT host, -536870912 FROM ev WHERE cents <= 0),
        |wn AS (SELECT e.host, b.ord, CAST(100 * count(*) AS BIGINT) AS n
        |  FROM ev e JOIN b ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  WHERE e.ts > ${EvalTs - 165600L} AND e.ts <= $EvalTs
        |  GROUP BY e.host, b.ord
        |  UNION ALL
        |  SELECT host, -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs
        |  GROUP BY host),
        |bg AS (SELECT p.ord, CAST(coalesce(sum(w.n), 0) AS BIGINT) AS tot,
        |    count(*) AS c
        |  FROM pres p LEFT JOIN wn w ON w.host = p.host AND w.ord = p.ord
        |  GROUP BY p.ord),
        |hosts AS (SELECT count(DISTINCT host) AS h FROM ev),
        |warm AS (SELECT CAST(100 * count(*) AS BIGINT) AS wc,
        |    CAST(coalesce(sum(cents), 0) AS BIGINT) AS ws
        |  FROM ev WHERE ts > ${EvalTs - 165600L} AND ts <= $EvalTs)
        |SELECT '2' AS schema,
        |  CASE WHEN ord = -536870912 THEN 'zero'
        |       ELSE CAST(ord AS VARCHAR) END AS nb,
        |  CAST(tot AS DOUBLE) / (CAST(c AS DOUBLE) * 17280000.0e0) AS value
        |FROM bg
        |UNION ALL
        |SELECT '2', 'count',
        |  CAST(wc AS DOUBLE) / (CAST(h AS DOUBLE) * 17280000.0e0)
        |FROM warm, hosts
        |UNION ALL
        |SELECT '2', 'sum',
        |  CAST(ws AS DOUBLE) / (CAST(h AS DOUBLE) * 17280000.0e0)
        |FROM warm, hosts""".stripMargin,
    // SIGNED store quantile: re-centered cents exercise the MIRRORED
    // spans — negative observations join on |sc| and take ord
    // NegBase − i with the NEGATED bound pair, cumulating below the
    // zero arm; φ = 0.25 lands inside a mirror bucket
    "promql_native_histq_signed" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |ev AS (SELECT cents - 2500 AS sc FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.sc) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.sc > b.lo_c AND e.sc <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -1073741824 - b.ord, -b.bhi, -b.blo,
        |    CAST(100 * count(e.sc) AS BIGINT)
        |  FROM b LEFT JOIN ev e ON -e.sc > b.lo_c AND -e.sc <= b.hi_c
        |  GROUP BY b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT -536870912, 0.0e0, 0.0e0, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE sc = 0),
        |c AS (SELECT ord, blo, bhi, n, sum(n) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY ord) AS rn
        |  FROM c, t WHERE t.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.25 * CAST(t.tot AS DOUBLE))
        |SELECT blo + (bhi - blo) *
        |    ((0.25 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1""".stripMargin,
    // SIGNED fraction(−5, 2): the compile-time locate constants land
    // on a mirror bucket (ordLo) and a positive bucket (ordHi); the
    // conditional sums run over the three-branch signed bucket table
    "promql_native_hist_fraction_signed" -> {
      val (ordLo, fracLo) = graft.tsdb.NativeHist.locate(-5.0)
      val (ordHi, fracHi) = graft.tsdb.NativeHist.locate(2.0)
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES $NativeBucketValues),
        |ev AS (SELECT cents - 2500 AS sc FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, CAST(100 * count(e.sc) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.sc > b.lo_c AND e.sc <= b.hi_c
        |  GROUP BY b.ord
        |  UNION ALL
        |  SELECT -1073741824 - b.ord, CAST(100 * count(e.sc) AS BIGINT)
        |  FROM b LEFT JOIN ev e ON -e.sc > b.lo_c AND -e.sc <= b.hi_c
        |  GROUP BY b.ord
        |  UNION ALL
        |  SELECT -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE sc = 0),
        |g AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN ord < $ordHi THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordHi THEN n END), 0) AS DOUBLE)
        |      * ${fracHi}e0 AS fhi,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordLo THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordLo THEN n END), 0) AS DOUBLE)
        |      * ${fracLo}e0 AS flo
        |  FROM bc)
        |SELECT (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g, t WHERE tot > 0""".stripMargin
    },
    // NHCB quantile: per-bucket NON-cumulative event counts on the
    // classic bound layout, cumulated in bound order, the classic
    // interpolation tree (first lower bound 0, +Inf rank -> the last
    // finite bound) — op-for-op the engine's expression
    "promql_nhcb_quantile" ->
      s"""$lblCte,
        |b(nbc, lo_c, hi_c, bound) AS (VALUES
        |  ('10', -9223372036854775808, 1000, 10.0e0),
        |  ('25', 1000, 2500, 25.0e0), ('50', 2500, 5000, 50.0e0),
        |  ('100', 5000, 10000, 100.0e0), ('250', 10000, 25000, 250.0e0),
        |  ('+Inf', 25000, 9223372036854775807, CAST('infinity' AS DOUBLE))),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (SELECT b.bound, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.bound),
        |c AS (SELECT bound, n, sum(n) OVER (ORDER BY bound
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  lag(bound) OVER (ORDER BY bound) AS prevle FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY bound) AS rn
        |  FROM c, t WHERE t.tot > 0 AND cum > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT CASE WHEN isinf(bound) THEN prevle
        |  ELSE coalesce(prevle, 0.0e0) + (bound - coalesce(prevle, 0.0e0)) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) END AS value
        |FROM p WHERE rn = 1""".stripMargin,
    // streamed-store twin: the IDENTICAL oracle — the streamed store
    // must land exactly where the batch-built store lands
    "promql_stream_nhcb_quantile" ->
      s"""$lblCte,
        |b(nbc, lo_c, hi_c, bound) AS (VALUES
        |  ('10', -9223372036854775808, 1000, 10.0e0),
        |  ('25', 1000, 2500, 25.0e0), ('50', 2500, 5000, 50.0e0),
        |  ('100', 5000, 10000, 100.0e0), ('250', 10000, 25000, 250.0e0),
        |  ('+Inf', 25000, 9223372036854775807, CAST('infinity' AS DOUBLE))),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (SELECT b.bound, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.bound),
        |c AS (SELECT bound, n, sum(n) OVER (ORDER BY bound
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  lag(bound) OVER (ORDER BY bound) AS prevle FROM bc),
        |p AS (SELECT c.*, t.tot, row_number() OVER (ORDER BY bound) AS rn
        |  FROM c, t WHERE t.tot > 0 AND cum > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(t.tot AS DOUBLE))
        |SELECT CASE WHEN isinf(bound) THEN prevle
        |  ELSE coalesce(prevle, 0.0e0) + (bound - coalesce(prevle, 0.0e0)) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) END AS value
        |FROM p WHERE rn = 1""".stripMargin,
    "promql_nhcb_sum" ->
      s"""$lblCte
        |SELECT CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |  / 17280000.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    // NHCB fraction: full buckets sum exact (cents thresholds), each
    // straddling bucket's summed count multiplied ONCE by the shared
    // double-literal ratio — op-for-op the engine's aggregate
    "promql_nhcb_fraction" ->
      s"""$lblCte,
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |g AS (SELECT
        |  CAST(100 * count(*) AS BIGINT) AS tot,
        |  CAST(100 * coalesce(sum(CASE WHEN cents <= 10000
        |    THEN 1 END), 0) AS DOUBLE)
        |    + CAST(100 * coalesce(sum(CASE WHEN cents > 10000
        |        AND cents <= 25000 THEN 1 END), 0) AS DOUBLE)
        |      * ((150.0e0 - 100.0e0) / (250.0e0 - 100.0e0)) AS fhi,
        |  CAST(100 * coalesce(sum(CASE WHEN cents <= 1000
        |    THEN 1 END), 0) AS DOUBLE)
        |    + CAST(100 * coalesce(sum(CASE WHEN cents > 1000
        |        AND cents <= 2500 THEN 1 END), 0) AS DOUBLE)
        |      * ((20.0e0 - 10.0e0) / (25.0e0 - 10.0e0)) AS flo
        |  FROM ev)
        |SELECT (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g WHERE tot > 0""".stripMargin,
    // mixed-schema fraction: the schema-2 locate constants (the
    // coarsest the merge lands on), the same two conditional sums
    "promql_native_hist_fraction_mixed" -> {
      val (ordLo, fracLo) = graft.tsdb.NativeHist.locateAt(0.2, 2)
      val (ordHi, fracHi) = graft.tsdb.NativeHist.locateAt(1.5, 2)
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(2)}),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord
        |  UNION ALL
        |  SELECT -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |g AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN ord < $ordHi THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordHi THEN n END), 0) AS DOUBLE)
        |      * ${fracHi}e0 AS fhi,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordLo THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordLo THEN n END), 0) AS DOUBLE)
        |      * ${fracLo}e0 AS flo
        |  FROM bc)
        |SELECT '2' AS schema, (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g, t WHERE tot > 0""".stripMargin
    },
    // the GAUGE read over the signed store: delta's last − first on
    // the 2-h grid telescopes to the window's exact signed cent total
    // — readable precisely BECAUSE delta does no reset correction
    "promql_native_hist_sum_signed" ->
      s"""$lblCte
        |SELECT CAST(CAST(sum(cents - 2500) AS BIGINT) AS DOUBLE)
        |  / 100.0 AS value
        |FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs""".stripMargin,
    "promql_native_hist_avg_signed" ->
      s"""$lblCte,
        |g AS (SELECT CAST(sum(cents - 2500) AS BIGINT) AS s,
        |    CAST(100 * count(*) AS BIGINT) AS c
        |  FROM lbl WHERE type = 'click'
        |    AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs)
        |SELECT CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS value
        |FROM g WHERE c > 0""".stripMargin,
    // wide-fleet fraction: locate constants at the NEGATIVE coarsest
    // schema (−2), the same two conditional sums
    "promql_native_hist_fraction_mixed_wide" -> {
      val (ordLo, fracLo) = graft.tsdb.NativeHist.locateAt(0.2, -2)
      val (ordHi, fracHi) = graft.tsdb.NativeHist.locateAt(1.5, -2)
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(-2)}),
        |ev AS (SELECT cents FROM lbl WHERE type = 'click'
        |  AND ts > ${EvalTs - 165600L} AND ts <= $EvalTs),
        |t AS (SELECT CAST(100 * count(*) AS BIGINT) AS tot FROM ev),
        |bc AS (
        |  SELECT b.ord, CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b LEFT JOIN ev e ON e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY b.ord
        |  UNION ALL
        |  SELECT -536870912, CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0),
        |g AS (SELECT
        |  CAST(coalesce(sum(CASE WHEN ord < $ordHi THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordHi THEN n END), 0) AS DOUBLE)
        |      * ${fracHi}e0 AS fhi,
        |  CAST(coalesce(sum(CASE WHEN ord < $ordLo THEN n END), 0) AS DOUBLE)
        |    + CAST(coalesce(sum(CASE WHEN ord = $ordLo THEN n END), 0) AS DOUBLE)
        |      * ${fracLo}e0 AS flo
        |  FROM bc)
        |SELECT '-2' AS schema, (fhi - flo) / CAST(tot AS DOUBLE) AS value
        |FROM g, t WHERE tot > 0""".stripMargin
    },
    // stepped wide quantile: per-step downscale onto schema −2; the
    // oracle assigns every raw event at −2 directly per step
    "promql_range_native_histq_wide" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(-2)}),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (
        |  SELECT st.t, b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT t, -536870912, 0.0e0, 0.0e0,
        |    CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0 GROUP BY t),
        |c AS (SELECT t, ord, blo, bhi, n, sum(n) OVER (PARTITION BY t
        |    ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, tt.tot,
        |    row_number() OVER (PARTITION BY c.t ORDER BY ord) AS rn
        |  FROM c JOIN tt ON tt.t = c.t WHERE tt.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(tt.tot AS DOUBLE))
        |SELECT '-2' AS schema, t AS ts, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // stepped NHCB quantile: the per-step telescoped window with the
    // custom bound table and the classic interpolation tree
    "promql_range_nhcb_quantile" ->
      s"""$lblCte,
        |b(nbc, lo_c, hi_c, bound) AS (VALUES
        |  ('10', -9223372036854775808, 1000, 10.0e0),
        |  ('25', 1000, 2500, 25.0e0), ('50', 2500, 5000, 50.0e0),
        |  ('100', 5000, 10000, 100.0e0), ('250', 10000, 25000, 250.0e0),
        |  ('+Inf', 25000, 9223372036854775807, CAST('infinity' AS DOUBLE))),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (SELECT st.t, b.bound,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.bound),
        |c AS (SELECT t, bound, n, sum(n) OVER (PARTITION BY t
        |    ORDER BY bound ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  lag(bound) OVER (PARTITION BY t ORDER BY bound) AS prevle FROM bc),
        |p AS (SELECT c.*, tt.tot,
        |    row_number() OVER (PARTITION BY c.t ORDER BY bound) AS rn
        |  FROM c JOIN tt ON tt.t = c.t WHERE tt.tot > 0 AND cum > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(tt.tot AS DOUBLE))
        |SELECT t AS ts, CASE WHEN isinf(bound) THEN prevle
        |  ELSE coalesce(prevle, 0.0e0) + (bound - coalesce(prevle, 0.0e0)) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) END AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // stepped mixed-schema quantile: the oracle assigns every raw
    // event at schema 2 per step (the nesting property), interpolates
    // on the schema-2 bounds, and tags the carried coarsest schema
    "promql_range_native_histq_mixed" ->
      s"""$lblCte,
        |b(ord, lo_c, hi_c, blo, bhi) AS (VALUES ${nativeBucketValuesFor(2)}),
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ev AS (SELECT st.t, l.cents FROM steps st JOIN lbl l
        |  ON l.type = 'click'
        |  AND l.ts > st.t - $Day AND l.ts <= st.t - 7200),
        |tt AS (SELECT t, CAST(100 * count(*) AS BIGINT) AS tot
        |  FROM ev GROUP BY t),
        |bc AS (
        |  SELECT st.t, b.ord, b.blo, b.bhi,
        |    CAST(100 * count(e.cents) AS BIGINT) AS n
        |  FROM b CROSS JOIN steps st
        |  LEFT JOIN ev e ON e.t = st.t
        |    AND e.cents > b.lo_c AND e.cents <= b.hi_c
        |  GROUP BY st.t, b.ord, b.blo, b.bhi
        |  UNION ALL
        |  SELECT t, -536870912, 0.0e0, 0.0e0,
        |    CAST(100 * count(*) AS BIGINT)
        |  FROM ev WHERE cents <= 0 GROUP BY t),
        |c AS (SELECT t, ord, blo, bhi, n, sum(n) OVER (PARTITION BY t
        |    ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bc),
        |p AS (SELECT c.*, tt.tot,
        |    row_number() OVER (PARTITION BY c.t ORDER BY ord) AS rn
        |  FROM c JOIN tt ON tt.t = c.t WHERE tt.tot > 0
        |    AND CAST(cum AS DOUBLE) >= 0.9 * CAST(tt.tot AS DOUBLE))
        |SELECT '2' AS schema, t AS ts, blo + (bhi - blo) *
        |    ((0.9 * CAST(tot AS DOUBLE) - CAST(cum - n AS DOUBLE))
        |     / (CAST(cum AS DOUBLE) - CAST(cum - n AS DOUBLE))) AS value
        |FROM p WHERE rn = 1 ORDER BY ts""".stripMargin,
    // mad_over_time: both medians exact interpolations on the integer
    // cent grid (quantile_cont == Spark's percentile there), /100 once
    "promql_mad_ot" ->
      s"""$lblCte,
        |pts AS (SELECT type, host, region, cents FROM lbl
        |  WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs AND type = 'view'),
        |med AS (SELECT type, host, region, quantile_cont(cents, 0.5) AS m
        |  FROM pts GROUP BY type, host, region)
        |SELECT p.type, p.host, p.region,
        |  quantile_cont(abs(p.cents - m.m), 0.5) / 100.0 AS value
        |FROM pts p JOIN med m USING (type, host, region)
        |GROUP BY p.type, p.host, p.region ORDER BY host, region""".stripMargin,
    // stepped mad_over_time: both medians exact interpolations on the
    // integer cent grid per (series, step) — the range_quantile window
    // derivation with the instant mad's double-median tree
    "promql_range_mad" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |pts AS (SELECT type, host, region, t, cents
        |  FROM lbl JOIN steps ON lbl.ts >= t - $Day AND lbl.ts <= t - 1
        |  WHERE type = 'view'),
        |med AS (SELECT type, host, region, t, quantile_cont(cents, 0.5) AS m
        |  FROM pts GROUP BY type, host, region, t)
        |SELECT p.type, p.host, p.region, p.t AS ts,
        |  quantile_cont(abs(p.cents - m.m), 0.5) / 100.0 AS value
        |FROM pts p JOIN med m USING (type, host, region, t)
        |GROUP BY p.type, p.host, p.region, p.t
        |ORDER BY host, region, ts""".stripMargin,
    "promql_sort_by_label" ->
      s"""$lblCte
        |SELECT host, region,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY host, region ORDER BY region, host, value""".stripMargin,
    // limitk / limit_ratio: the engine's md5 series hash re-derived
    // digit-by-digit (first 8 hex chars as a base-16 integer — the
    // sample_stratified construction)
    "promql_limitk" ->
      s"""$lblCte,
        |h AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host),
        |k AS (SELECT host, sc FROM h
        |  ORDER BY CAST(list_sum(list_transform(generate_series(1, 8), i ->
        |    (strpos('0123456789abcdef', substr(md5(host || ':42'), i, 1)) - 1)
        |      * power(16, 8 - i))) AS BIGINT), host
        |  LIMIT 5)
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value
        |FROM k ORDER BY host""".stripMargin,
    "promql_limit_ratio" ->
      s"""$lblCte,
        |h AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host)
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM h
        |WHERE CAST(list_sum(list_transform(generate_series(1, 8), i ->
        |    (strpos('0123456789abcdef', substr(md5(host || ':42'), i, 1)) - 1)
        |      * power(16, 8 - i))) AS BIGINT) * 1000000 < ${250000L * 4294967296L}
        |ORDER BY host""".stripMargin,
    // info(): LEFT join — hosts with no purchase sample in the 1-day
    // lookback keep a NULL region, matching the engine's unenriched
    // pass-through
    "promql_info" ->
      s"""$lblCte,
        |base AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY host),
        |iv AS (SELECT DISTINCT host, region FROM lbl
        |  WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs AND type = 'purchase')
        |SELECT b.host, iv.region, CAST(b.sc AS DOUBLE) / 100.0 AS value
        |FROM base b LEFT JOIN iv ON b.host = iv.host
        |ORDER BY b.host""".stripMargin,
    "promql_ts_of_last" ->
      s"""$lblCte
        |SELECT type, host, region, CAST(max(ts) AS DOUBLE) AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |GROUP BY type, host, region ORDER BY host, region""".stripMargin,
    "promql_ts_of_max" ->
      s"""$lblCte,
        |r AS (SELECT type, host, region, ts, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY cents DESC, ts DESC) AS rn
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'view')
        |SELECT type, host, region, CAST(ts AS DOUBLE) AS value
        |FROM r WHERE rn = 1 ORDER BY host, region""".stripMargin,
    "promql_ts_of_min" ->
      s"""$lblCte,
        |r AS (SELECT type, host, region, ts, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY cents ASC, ts DESC) AS rn
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'view')
        |SELECT type, host, region, CAST(ts AS DOUBLE) AS value
        |FROM r WHERE rn = 1 ORDER BY host, region""".stripMargin,
    "promql_range_ts_of" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |r AS (SELECT type, host, region, t, lbl.ts AS sts, row_number() OVER (
        |    PARTITION BY type, host, region, t
        |    ORDER BY cents DESC, lbl.ts DESC) AS rn
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'view')
        |SELECT type, host, region, t AS ts, CAST(sts AS DOUBLE) AS value
        |FROM r WHERE rn = 1 ORDER BY host, region, ts""".stripMargin,
    // stepped ts_of_min: the same per-step extreme derivation with the
    // min arm (value ties -> latest second, like the engine)
    "promql_range_ts_of_min" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |r AS (SELECT type, host, region, t, lbl.ts AS sts, row_number() OVER (
        |    PARTITION BY type, host, region, t
        |    ORDER BY cents ASC, lbl.ts DESC) AS rn
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'view')
        |SELECT type, host, region, t AS ts, CAST(sts AS DOUBLE) AS value
        |FROM r WHERE rn = 1 ORDER BY host, region, ts""".stripMargin,
    // stepped ts_of_last: the last sample second per (series, step);
    // sparse purchase series — steps whose window matches nothing drop
    "promql_range_ts_of_last" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT type, host, region, t AS ts,
        |  CAST(max(lbl.ts) AS DOUBLE) AS value
        |FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |WHERE type = 'purchase' GROUP BY type, host, region, t
        |ORDER BY host, region, ts""".stripMargin,
    // ^: one power() over the exact per-host sums; DuckDB's and the
    // JVM's pow agree on these inputs (verified at sf0.01/0.1 —
    // unlike atan2, squaring is exactly representable here)
    "promql_pow" ->
      s"""$lblCte
        |SELECT host,
        |  power(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0, 2.0)
        |    / 2 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY host ORDER BY host""".stripMargin,
    // promql_atan2 has NO sql oracle: DuckDB's libm atan2 and the
    // JVM's differ by 1 ulp on ~14% of this corpus's pairs (measured
    // r14: 9/66 rows) — the only key whose VALUE is a raw libm call.
    // PromqlSpec pins every element bit-exactly against Math.atan2
    // instead.
    // subquery grids: instants are the multiples of step in (T-d, T]
    "promql_subquery" ->
      s"""$lblCte,
        |steps AS (SELECT (${EvalTs - 151200L} + i * 21600) AS t
        |  FROM generate_series(0, 7) s(i)),
        |pts AS (SELECT * FROM lbl
        |  WHERE ts >= ${EvalTs - 151200L - Day} AND ts <= ${EvalTs - 1}
        |  AND type = 'click'),
        |pr AS (SELECT region, ts, cents,
        |    lag(ts) OVER w AS prev_ts, cents - lag(cents) OVER w AS dd
        |  FROM pts WINDOW w AS (PARTITION BY type, host, region ORDER BY ts, cents)),
        |inc AS (SELECT region, t,
        |    CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT) AS ic
        |  FROM pr JOIN steps ON pr.prev_ts >= t - $Day AND pr.ts <= t - 1
        |  WHERE prev_ts IS NOT NULL GROUP BY region, t)
        |SELECT region, CAST(max(ic) AS DOUBLE) / ${Day * 100}.0 AS value
        |FROM inc GROUP BY region ORDER BY region""".stripMargin,
    "promql_subquery_avg" ->
      s"""$lblCte,
        |steps AS (SELECT (${EvalTs - 64800L} + i * 21600) AS t
        |  FROM generate_series(0, 3) s(i)),
        |sc AS (SELECT host, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'view' GROUP BY host, t)
        |SELECT host,
        |  CAST(CAST(sum(sc) AS BIGINT) AS DOUBLE) / (count(*) * 100.0) AS value
        |FROM sc GROUP BY host ORDER BY host""".stripMargin,
    "promql_absent" ->
      s"""$lblCte
        |SELECT 'click' AS type, 'h999' AS host, CAST(1 AS DOUBLE) AS value
        |WHERE NOT EXISTS (SELECT 1 FROM lbl
        |  WHERE ts >= ${EvalTs - 300 + 1} AND ts <= $EvalTs
        |  AND type = 'click' AND host = 'h999')""".stripMargin,
    "promql_absent_ot" ->
      s"""$lblCte
        |SELECT 'click' AS type, 'h999' AS host, CAST(1 AS DOUBLE) AS value
        |WHERE NOT EXISTS (SELECT 1 FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs
        |  AND type = 'click' AND host = 'h999')""".stripMargin,
    "promql_quantile_ot" ->
      s"""$lblCte,
        |p AS (SELECT type, host, region,
        |    quantile_cont(cents, 0.9) / 100.0 AS q FROM lbl
        |  WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs AND type = 'view'
        |  GROUP BY 1, 2, 3)
        |SELECT region, max(q) AS value FROM p GROUP BY region
        |ORDER BY region""".stripMargin,
    // last two samples under the engine's rank rule ((ts, cents) desc);
    // counter reset (last < prev) answers with the last value
    "promql_irate" ->
      s"""$lblCte,
        |r AS (SELECT type, host, region, ts, cents, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY ts DESC, cents DESC) AS rn
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'),
        |two AS (SELECT type, host, region,
        |    max(CASE WHEN rn = 1 THEN ts END) AS lts,
        |    max(CASE WHEN rn = 1 THEN cents END) AS lc,
        |    max(CASE WHEN rn = 2 THEN ts END) AS pts,
        |    max(CASE WHEN rn = 2 THEN cents END) AS pc
        |  FROM r WHERE rn <= 2 GROUP BY 1, 2, 3
        |  HAVING count(*) = 2 AND max(CASE WHEN rn = 1 THEN ts END)
        |    <> max(CASE WHEN rn = 2 THEN ts END))
        |SELECT type, host, region,
        |  CAST(CASE WHEN lc >= pc THEN lc - pc ELSE lc END AS DOUBLE)
        |    / (CAST(lts - pts AS DOUBLE) * 100.0) AS value
        |FROM two ORDER BY host, region""".stripMargin,
    "promql_idelta" ->
      s"""$lblCte,
        |r AS (SELECT type, host, region, ts, cents, row_number() OVER (
        |    PARTITION BY type, host, region ORDER BY ts DESC, cents DESC) AS rn
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'view'),
        |two AS (SELECT type, host, region,
        |    max(CASE WHEN rn = 1 THEN ts END) AS lts,
        |    max(CASE WHEN rn = 1 THEN cents END) AS lc,
        |    max(CASE WHEN rn = 2 THEN ts END) AS pts,
        |    max(CASE WHEN rn = 2 THEN cents END) AS pc
        |  FROM r WHERE rn <= 2 GROUP BY 1, 2, 3
        |  HAVING count(*) = 2 AND max(CASE WHEN rn = 1 THEN ts END)
        |    <> max(CASE WHEN rn = 2 THEN ts END))
        |SELECT type, host, region, CAST(lc - pc AS DOUBLE) / 100.0 AS value
        |FROM two ORDER BY host, region""".stripMargin,
    "promql_sort" ->
      s"""$lblCte
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM (
        |  SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |  GROUP BY host)
        |ORDER BY sc DESC, host""".stripMargin,
    "promql_stddev_agg" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2),
        |g AS (SELECT region, count(*) AS n, CAST(sum(sc) AS BIGINT) AS ss,
        |    CAST(sum(sc * sc) AS BIGINT) AS qq FROM h GROUP BY region)
        |SELECT region,
        |  sqrt(CAST(n * qq - ss * ss AS DOUBLE) / (n * n * 10000.0)) AS value
        |FROM g ORDER BY region""".stripMargin,
    "promql_group_agg" ->
      s"""$lblCte
        |SELECT region, CAST(1 AS DOUBLE) AS value FROM (
        |  SELECT DISTINCT region FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click')
        |ORDER BY region""".stripMargin,
    "promql_at" ->
      s"""$lblCte
        |SELECT region,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= ${EvalTs - 3 * Day + 1} AND ts <= ${EvalTs - Day}
        |  AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_timestamp" ->
      s"""$lblCte
        |SELECT type, host, region, CAST(max(ts) AS DOUBLE) AS value
        |FROM lbl WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  AND type = 'purchase' AND host LIKE 'h1%'
        |GROUP BY type, host, region ORDER BY type, host, region""".stripMargin,
    "promql_sqrt" ->
      s"""$lblCte
        |SELECT region,
        |  sqrt(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0) AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_sgn" ->
      s"""$lblCte
        |SELECT host, CAST(CASE WHEN sc > 6000 THEN 1 WHEN sc < 6000 THEN -1
        |  ELSE 0 END AS DOUBLE) AS value FROM (
        |  SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |  GROUP BY host)
        |ORDER BY host""".stripMargin,
    // transcendental oracles round to 9 decimals on both sides —
    // JVM and DuckDB libm agree far past 1e-9 but not to the last ulp
    "promql_ln" ->
      s"""$lblCte
        |SELECT region,
        |  round(ln(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0), 9)
        |    AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_log" ->
      s"""$lblCte
        |SELECT region,
        |  round(log2(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0)
        |    + log10(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0), 9)
        |    AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_exp" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= $From AND ts <= $EvalTs
        |  AND type = 'click'),
        |d AS (SELECT type, host, region, cents - lag(cents) OVER (
        |    PARTITION BY type, host, region ORDER BY ts, cents) AS dd FROM pts),
        |r AS (SELECT type, host, region,
        |  CAST(CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / ${Win * 100}.0 AS rv
        |  FROM d WHERE dd IS NOT NULL GROUP BY type, host, region)
        |SELECT region, round(max(exp(rv)), 9) AS value
        |FROM r GROUP BY region ORDER BY region""".stripMargin,
    // the engine's log closed forms replayed verbatim (DuckDB ships no
    // inverse hyperbolics); rv >= 0 keeps every term in-domain, so the
    // domain guards never fire here (they are spec-pinned instead)
    "promql_trig_inverse" ->
      s"""$lblCte,
        |pts AS (SELECT * FROM lbl WHERE ts >= $From AND ts <= $EvalTs
        |  AND type = 'click'),
        |d AS (SELECT type, host, region, cents - lag(cents) OVER (
        |    PARTITION BY type, host, region ORDER BY ts, cents) AS dd FROM pts),
        |r AS (SELECT type, host, region,
        |  CAST(CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / ${Win * 100}.0 AS rv
        |  FROM d WHERE dd IS NOT NULL GROUP BY type, host, region)
        |SELECT region, round(max(
        |    ln(rv + sqrt(rv * rv + 1.0))
        |    + ln((1.0 + rv) + sqrt((1.0 + rv) * (1.0 + rv) - 1.0))
        |    + 0.5 * ln((1.0 + 1.0 / (2.0 + rv)) / (1.0 - 1.0 / (2.0 + rv)))
        |  ), 9) AS value
        |FROM r GROUP BY region ORDER BY region""".stripMargin,
    // calendar extraction is all-integer (UTC) — exact oracles;
    // make_timestamp(µs) keeps DuckDB timezone-free like the engine's
    // UTC session
    "promql_calendar" ->
      s"""$lblCte
        |SELECT type, host, region,
        |  CAST(year(make_timestamp(max(ts) * 1000000)) * 10000
        |    + month(make_timestamp(max(ts) * 1000000)) * 100
        |    + day(make_timestamp(max(ts) * 1000000)) AS DOUBLE) AS value
        |FROM lbl WHERE ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  AND type = 'purchase' AND host LIKE 'h1%'
        |GROUP BY type, host, region ORDER BY type, host, region""".stripMargin,
    "promql_days" ->
      s"""SELECT CAST(day(last_day(make_timestamp(
        |  CAST($EvalTs AS BIGINT) * 1000000))) AS DOUBLE) AS value""".stripMargin,
    "promql_time" ->
      s"""$lblCte
        |SELECT region,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0
        |    - (CAST($EvalTs AS DOUBLE) / 100.0) AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_scalar" ->
      s"""$lblCte,
        |w AS (SELECT region, cents FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'),
        |tot AS (SELECT CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0
        |  AS tv FROM w)
        |SELECT region,
        |  (CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0)
        |    / (SELECT tv FROM tot) AS value
        |FROM w GROUP BY region ORDER BY region""".stripMargin,
    // at EvalTs (00:00 UTC) the hour() >= 8 gate is empty, so the
    // alert passes through untouched — the suppression direction is
    // spec-pinned where the oracle can't reach it
    "promql_silence" ->
      s"""$lblCte
        |SELECT region,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_range_time" ->
      s"""SELECT ($RangeStart + i * 7200) AS ts,
        |  CAST(hour(make_timestamp(($RangeStart + i * 7200) * 1000000))
        |    AS DOUBLE) AS value
        |FROM generate_series(0, ${(EvalTs - RangeStart) / 7200}) AS t(i)
        |ORDER BY ts""".stripMargin,
    "promql_global_ratio" ->
      s"""$lblCte
        |SELECT (CAST(CAST(sum(CASE WHEN type = 'click' THEN cents END)
        |    AS BIGINT) AS DOUBLE) / 100.0)
        |  / (CAST(CAST(sum(CASE WHEN type = 'view' THEN cents END)
        |    AS BIGINT) AS DOUBLE) / 100.0) AS value
        |FROM lbl WHERE ts >= $From AND ts <= $EvalTs
        |  AND type IN ('click', 'view')""".stripMargin,
    "promql_range_irate" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ranked AS (SELECT type, host, region, t, ts, cents, row_number() OVER (
        |    PARTITION BY type, host, region, t ORDER BY ts DESC, cents DESC) AS rn
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click'),
        |two AS (SELECT type, host, region, t,
        |    max(CASE WHEN rn = 1 THEN ts END) AS lt,
        |    max(CASE WHEN rn = 1 THEN cents END) AS lc,
        |    max(CASE WHEN rn = 2 THEN ts END) AS pt,
        |    max(CASE WHEN rn = 2 THEN cents END) AS pc,
        |    count(*) AS n
        |  FROM ranked WHERE rn <= 2 GROUP BY type, host, region, t)
        |SELECT type, host, region, t AS ts,
        |  CAST(CASE WHEN lc >= pc THEN lc - pc ELSE lc END AS DOUBLE)
        |    / ((lt - pt) * 100.0) AS value
        |FROM two WHERE n = 2 AND lt <> pt
        |ORDER BY type, host, region, ts""".stripMargin,
    "promql_range_idelta" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |ranked AS (SELECT type, host, region, t, ts, cents, row_number() OVER (
        |    PARTITION BY type, host, region, t ORDER BY ts DESC, cents DESC) AS rn
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'view'),
        |two AS (SELECT type, host, region, t,
        |    max(CASE WHEN rn = 1 THEN ts END) AS lt,
        |    max(CASE WHEN rn = 1 THEN cents END) AS lc,
        |    max(CASE WHEN rn = 2 THEN ts END) AS pt,
        |    max(CASE WHEN rn = 2 THEN cents END) AS pc,
        |    count(*) AS n
        |  FROM ranked WHERE rn <= 2 GROUP BY type, host, region, t)
        |SELECT type, host, region, t AS ts,
        |  CAST(lc - pc AS DOUBLE) / 100.0 AS value
        |FROM two WHERE n = 2 AND lt <> pt
        |ORDER BY type, host, region, ts""".stripMargin,
    "promql_range_count_values" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |h AS (SELECT type, host, region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY type, host, region, t)
        |SELECT region, CAST(sc AS DOUBLE) / 100.0 AS v, t AS ts,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM h GROUP BY region, sc, t
        |ORDER BY region, v, ts""".stripMargin,
    "promql_range_qagg" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |h AS (SELECT host, region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY host, region, t)
        |SELECT region, t AS ts, quantile_cont(sc, 0.9) / 100.0 AS value
        |FROM h GROUP BY region, t ORDER BY region, ts""".stripMargin,
    "promql_offset_neg" ->
      s"""$lblCte
        |SELECT region,
        |  CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100.0 AS value
        |FROM lbl WHERE ts >= ${EvalTs + Day - Win + 1} AND ts <= ${EvalTs + Day}
        |  AND type = 'click'
        |GROUP BY region ORDER BY region""".stripMargin,
    "promql_subquery_nested" ->
      s"""$lblCte,
        |osteps AS (SELECT ($RangeStart + i * 7200) AS ot
        |  FROM generate_series(0, 24) s(i)),
        |isteps AS (SELECT (${RangeStart - 64800L} + i * 21600) AS t
        |  FROM generate_series(0, ${(EvalTs - (RangeStart - 64800L)) / 21600}) s(i)),
        |isum AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN isteps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t)
        |SELECT region, ot AS ts, CAST(max(sc) AS DOUBLE) / 100.0 AS value
        |FROM isum JOIN osteps ON isum.t > ot - $Day AND isum.t <= ot
        |GROUP BY region, ot ORDER BY region, ts""".stripMargin,
    "promql_at_preset" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |live AS (SELECT region, t,
        |    CAST(sum(cents) AS BIGINT) AS lc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |pin AS (SELECT region, CAST(sum(cents) AS BIGINT) AS rc
        |  FROM lbl WHERE type = 'click'
        |    AND ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  GROUP BY region)
        |SELECT live.region, live.t AS ts,
        |  (CAST(live.lc AS DOUBLE) / 100.0) / (CAST(pin.rc AS DOUBLE) / 100.0)
        |    AS value
        |FROM live JOIN pin ON live.region = pin.region
        |WHERE pin.rc <> 0
        |ORDER BY live.region, ts""".stripMargin,
    "promql_range_at" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |live AS (SELECT region, t,
        |    CAST(sum(cents) AS BIGINT) AS lc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |pin AS (SELECT region, CAST(sum(cents) AS BIGINT) AS rc
        |  FROM lbl WHERE type = 'click'
        |    AND ts >= ${EvalTs - Day + 1} AND ts <= $EvalTs
        |  GROUP BY region)
        |SELECT live.region, live.t AS ts,
        |  (CAST(live.lc AS DOUBLE) / 100.0) / (CAST(pin.rc AS DOUBLE) / 100.0)
        |    AS value
        |FROM live JOIN pin ON live.region = pin.region
        |WHERE pin.rc <> 0
        |ORDER BY live.region, ts""".stripMargin,
    "promql_group_left_carry" ->
      s"""$lblCte,
        |m AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS mc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click'
        |  GROUP BY host, region),
        |o AS (SELECT host,
        |    CASE WHEN host LIKE 'h1%' THEN 'gold' ELSE '' END AS tier
        |  FROM lbl WHERE ts >= $From AND ts <= $EvalTs AND type = 'purchase'
        |  GROUP BY host)
        |SELECT m.host, m.region, o.tier,
        |  CAST(m.mc AS DOUBLE) / 100.0 * 1.0 AS value
        |FROM m JOIN o ON m.host = o.host
        |ORDER BY m.host, m.region""".stripMargin,
    "promql_bool" ->
      s"""$lblCte,
        |h AS (SELECT host, region, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE ts >= $From AND ts <= $EvalTs AND type = 'click' GROUP BY 1, 2)
        |SELECT region, CAST(CAST(sum(CASE WHEN sc > 20000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS DOUBLE) AS value
        |FROM h GROUP BY region ORDER BY region""".stripMargin,
    // stepped regression: the same exact integer sums as promql_deriv,
    // per (series, step window); slope shift-invariance makes the base
    // choice irrelevant — any t origin gives identical BIGINT num/den
    "promql_range_deriv" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |c AS (SELECT type, host, region, t, ts - ${RangeStart - Day} AS tt, cents
        |  FROM lbl JOIN steps ON lbl.ts >= t - $Day AND lbl.ts <= t - 1
        |  WHERE type = 'view'),
        |g AS (SELECT type, host, region, t, count(*) AS n,
        |    CAST(sum(tt) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
        |    CAST(sum(tt * cents) AS BIGINT) AS stv,
        |    CAST(sum(tt * tt) AS BIGINT) AS stt
        |  FROM c GROUP BY 1, 2, 3, 4),
        |d AS (SELECT type, host, region, t,
        |    CAST(n * stv - st * sv AS BIGINT) AS num,
        |    CAST(n * stt - st * st AS BIGINT) AS den
        |  FROM g WHERE n >= 2)
        |SELECT type, host, region, t AS ts,
        |  CAST(num AS DOUBLE) / (100.0 * den) AS value
        |FROM d WHERE den <> 0 ORDER BY host, region, ts""".stripMargin,
    // stepped timestamp: per-step last sample second in the lookback
    "promql_range_timestamp" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT type, host, region, t AS ts, CAST(max(lbl.ts) AS DOUBLE) AS value
        |FROM lbl JOIN steps ON lbl.ts >= t - 21599 AND lbl.ts <= t
        |WHERE type = 'purchase' AND host LIKE 'h1%'
        |GROUP BY type, host, region, t
        |ORDER BY host, region, ts""".stripMargin,
    // stepped holt_winters: the instant oracle's recursive CTE with
    // the step carried through the group keys (trend renamed tr —
    // the step column owns `t` here)
    "promql_range_hw" ->
      s"""${lblCte.replaceFirst("WITH lbl", "WITH RECURSIVE lbl")},
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |c AS (SELECT type, host, region, t, lbl.ts, cents FROM lbl
        |  JOIN steps ON lbl.ts >= t - $Day AND lbl.ts <= t - 1
        |  WHERE type = 'purchase'),
        |a AS (SELECT type, host, region, t, count(*) AS n,
        |    list(cents ORDER BY ts, cents) AS cl
        |  FROM c GROUP BY 1, 2, 3, 4),
        |x AS (SELECT type, host, region, t, n,
        |    list_transform(cl, q -> CAST(q AS DOUBLE) / 100.0) AS xs
        |  FROM a WHERE n >= 2),
        |rr AS (
        |  SELECT type, host, region, t, n, xs, 2 AS i,
        |    xs[2] AS l, xs[2] - xs[1] AS tr FROM x
        |  UNION ALL
        |  SELECT type, host, region, t, n, xs, i + 1,
        |    0.3 * xs[i + 1] + 0.7 * (l + tr),
        |    0.1 * ((0.3 * xs[i + 1] + 0.7 * (l + tr)) - l) + 0.9 * tr
        |  FROM rr WHERE i < n)
        |SELECT type, host, region, t AS ts, l AS value FROM rr WHERE i = n
        |ORDER BY host, region, ts""".stripMargin,
    // stepped quantile: DuckDB's quantile_cont interpolates with the
    // same (1−f)·a + f·b rule Spark's exact percentile uses; one
    // division by 100 after
    "promql_range_quantile" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i))
        |SELECT type, host, region, t AS ts,
        |  quantile_cont(cents, 0.5) / 100.0 AS value
        |FROM lbl JOIN steps ON lbl.ts >= t - $Day AND lbl.ts <= t - 1
        |WHERE type = 'view' GROUP BY type, host, region, t
        |ORDER BY host, region, ts""".stripMargin,
    // stepped absent: grid steps whose [6h] window matches nothing
    "promql_range_absent" ->
      s"""$lblCte,
        |steps AS (SELECT ($AbsentGridStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |present AS (SELECT DISTINCT t FROM lbl
        |  JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'purchase' AND host = 'h11')
        |SELECT 'purchase' AS type, 'h11' AS host, t AS ts,
        |  CAST(1 AS DOUBLE) AS value
        |FROM steps WHERE t NOT IN (SELECT t FROM present)
        |ORDER BY ts""".stripMargin,
    // stepped predict_linear: the deriv partials (identical integer
    // num/den/st/sv/n per (series, step)), extrapolated to each
    // window's own eval instant + 2h — the float tree mirrors the
    // compiler's ŷ = v̄ + slope·(x − t̄) with x's integer part exact
    "promql_range_predict" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |c AS (SELECT type, host, region, t, ts - ${RangeStart - Day} AS tt, cents
        |  FROM lbl JOIN steps ON lbl.ts >= t - $Day AND lbl.ts <= t - 1
        |  WHERE type = 'view'),
        |g AS (SELECT type, host, region, t, count(*) AS n,
        |    CAST(sum(tt) AS BIGINT) AS st, CAST(sum(cents) AS BIGINT) AS sv,
        |    CAST(sum(tt * cents) AS BIGINT) AS stv,
        |    CAST(sum(tt * tt) AS BIGINT) AS stt
        |  FROM c GROUP BY 1, 2, 3, 4),
        |d AS (SELECT type, host, region, t, n, st, sv,
        |    CAST(n * stv - st * sv AS BIGINT) AS num,
        |    CAST(n * stt - st * st AS BIGINT) AS den
        |  FROM g WHERE n >= 2)
        |SELECT type, host, region, t AS ts,
        |  (CAST(sv AS DOUBLE) / n + (CAST(num AS DOUBLE) / den) *
        |    ((CAST(t - 1 - ${RangeStart - Day} AS DOUBLE) + 7200.0)
        |      - CAST(st AS DOUBLE) / n)) / 100.0 AS value
        |FROM d WHERE den <> 0 ORDER BY host, region, ts""".stripMargin,
    // the recorded series re-derived from raw events: per-step 6-h
    // region sums on the 2-h grid, then the outer max over the steps
    // inside the [2d] window (t > RangeStart ⇒ i ≥ 1)
    "promql_recording" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(1, 24) s(i)),
        |sums AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t)
        |SELECT 'region:click:sum6h' AS type, '' AS host, region,
        |  CAST(max(sc) AS DOUBLE) / 100.0 AS value
        |FROM sums GROUP BY region ORDER BY region""".stripMargin,
    "promql_alert" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |sums AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |cond AS (SELECT region, t, CAST(sc AS DOUBLE) / 100.0 AS value
        |  FROM sums WHERE sc > 10000),
        |st AS (SELECT region, t, value, count(*) OVER (
        |    PARTITION BY region ORDER BY t
        |    RANGE BETWEEN 14400 PRECEDING AND CURRENT ROW) AS n FROM cond)
        |SELECT region, t AS ts, value,
        |  CASE WHEN n >= 3 THEN 'firing' ELSE 'pending' END AS state
        |FROM st ORDER BY region, ts""".stripMargin,
    // keep_firing_for: the engine's island state machine re-derived —
    // condition-true steps chain while gaps ≤ keep, a step fires iff
    // its island has seen for-continuity (running max), and every
    // firing true step emits hysteresis tails up to
    // min(next true − step, t + keep, endTs)
    "promql_alert_keep" ->
      s"""$lblCte,
        |steps AS (SELECT ($RangeStart + i * 7200) AS t
        |  FROM generate_series(0, 24) s(i)),
        |sums AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |cond AS (SELECT region, t, CAST(sc AS DOUBLE) / 100.0 AS value
        |  FROM sums WHERE sc > 10000),
        |st AS (SELECT region, t, value, count(*) OVER (
        |    PARTITION BY region ORDER BY t
        |    RANGE BETWEEN 14400 PRECEDING AND CURRENT ROW) >= 3 AS fr,
        |  CASE WHEN t - lag(t) OVER (PARTITION BY region ORDER BY t)
        |    IS DISTINCT FROM NULL
        |    AND t - lag(t) OVER (PARTITION BY region ORDER BY t) <= 14400
        |    THEN 0 ELSE 1 END AS brk FROM cond),
        |isl AS (SELECT *, sum(brk) OVER (PARTITION BY region ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM st),
        |mk AS (SELECT *, max(CASE WHEN fr THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY region, grp ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS fire,
        |  lead(t) OVER (PARTITION BY region ORDER BY t) AS nxt FROM isl)
        |SELECT region, t AS ts, value,
        |  CASE WHEN fire THEN 'firing' ELSE 'pending' END AS state,
        |  TRUE AS cond FROM mk
        |UNION ALL
        |SELECT region, t + 7200 * j AS ts, value, 'firing' AS state,
        |  FALSE AS cond
        |FROM mk CROSS JOIN generate_series(1, 2) s(j)
        |WHERE fire AND t + 7200 * j <=
        |  least(t + 14400, coalesce(nxt - 7200, t + 14400), $EvalTs)
        |ORDER BY region, ts, cond""".stripMargin,
    "promql_or" ->
      s"""$lblCte,
        |l AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE type = 'purchase' AND ts >= $From AND ts <= $EvalTs
        |  GROUP BY host HAVING CAST(sum(cents) AS BIGINT) > 6000),
        |r AS (SELECT host, CAST(sum(cents) AS BIGINT) AS sc FROM lbl
        |  WHERE type = 'click' AND ts >= $From AND ts <= $EvalTs
        |  GROUP BY host HAVING CAST(sum(cents) AS BIGINT) > 20000)
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM l
        |UNION ALL
        |SELECT host, CAST(sc AS DOUBLE) / 100.0 AS value FROM r
        |WHERE host NOT IN (SELECT host FROM l)
        |ORDER BY host""".stripMargin,
    // holt_winters: the level after folding x_i = cents_i/100 through
    // l_i = sf·x_i + (1−sf)(l+t), t_i = tf·(l_i−l) + (1−tf)·t in
    // (ts, cents) order — the CTE duplicates the l_i subterm verbatim
    // (list_reduce would corrupt it: it overwrites the accumulator's
    // first field before evaluating the second)
    "promql_holt_winters" ->
      s"""${lblCte.replaceFirst("WITH lbl", "WITH RECURSIVE lbl")},
        |c AS (SELECT type, host, region, ts, cents FROM lbl
        |  WHERE type = 'purchase' AND ts >= $From AND ts <= $EvalTs),
        |a AS (SELECT type, host, region, count(*) AS n,
        |    list(cents ORDER BY ts, cents) AS cl
        |  FROM c GROUP BY 1, 2, 3),
        |x AS (SELECT type, host, region, n,
        |    list_transform(cl, q -> CAST(q AS DOUBLE) / 100.0) AS xs
        |  FROM a WHERE n >= 2),
        |rr AS (
        |  SELECT type, host, region, n, xs, 2 AS i,
        |    xs[2] AS l, xs[2] - xs[1] AS t FROM x
        |  UNION ALL
        |  SELECT type, host, region, n, xs, i + 1,
        |    0.3 * xs[i + 1] + 0.7 * (l + t),
        |    0.1 * ((0.3 * xs[i + 1] + 0.7 * (l + t)) - l) + 0.9 * t
        |  FROM rr WHERE i < n)
        |SELECT type, host, region, l AS value FROM rr WHERE i = n
        |ORDER BY type, host, region""".stripMargin,
    // the continuous alert log must equal the one-shot stepped alert
    // over the same watermark-derived grid: continuity = count of
    // condition-true steps in [t − for, t] (clipped at the grid's own
    // first step, which the cond rows' grid membership encodes)
    "promql_stream_alert" ->
      s"""$lblCte,
        |b AS (SELECT ((min(ts) + ${SRecStep - 1}) // $SRecStep) * $SRecStep AS fs,
        |  ((max(ts) - $SRecLate) // $SRecStep) * $SRecStep AS ls FROM lbl),
        |steps AS (SELECT unnest(generate_series(fs, ls,
        |  CAST($SRecStep AS BIGINT))) AS t FROM b),
        |sums AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |cond AS (SELECT region, t, CAST(sc AS DOUBLE) / 100.0 AS value
        |  FROM sums WHERE sc > 10000),
        |st AS (SELECT region, t, value, count(*) OVER (
        |    PARTITION BY region ORDER BY t
        |    RANGE BETWEEN ${2 * SRecStep} PRECEDING AND CURRENT ROW) AS n
        |  FROM cond)
        |SELECT region, t AS ts, value,
        |  CASE WHEN n >= 3 THEN 'firing' ELSE 'pending' END AS state
        |FROM st ORDER BY region, ts""".stripMargin,
    // the continuous keep_firing_for log must equal the one-shot
    // island state machine over the watermark-derived grid: chains by
    // gap ≤ keep, fire = running max of the for-gate per island,
    // hysteresis tails to min(next true − step, t + keep, last step)
    "promql_stream_alert_keep" ->
      s"""$lblCte,
        |b AS (SELECT ((min(ts) + ${SRecStep - 1}) // $SRecStep) * $SRecStep AS fs,
        |  ((max(ts) - $SRecLate) // $SRecStep) * $SRecStep AS ls FROM lbl),
        |steps AS (SELECT unnest(generate_series(fs, ls,
        |  CAST($SRecStep AS BIGINT))) AS t FROM b),
        |sums AS (SELECT region, t, CAST(sum(cents) AS BIGINT) AS sc
        |  FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |  WHERE type = 'click' GROUP BY region, t),
        |cond AS (SELECT region, t, CAST(sc AS DOUBLE) / 100.0 AS value
        |  FROM sums WHERE sc > 10000),
        |st AS (SELECT region, t, value, count(*) OVER (
        |    PARTITION BY region ORDER BY t
        |    RANGE BETWEEN ${2 * SRecStep} PRECEDING AND CURRENT ROW) >= 3 AS fr,
        |  CASE WHEN t - lag(t) OVER (PARTITION BY region ORDER BY t)
        |    IS DISTINCT FROM NULL
        |    AND t - lag(t) OVER (PARTITION BY region ORDER BY t)
        |      <= ${2 * SRecStep}
        |    THEN 0 ELSE 1 END AS brk FROM cond),
        |isl AS (SELECT *, sum(brk) OVER (PARTITION BY region ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM st),
        |mk AS (SELECT isl.*, b.ls, max(CASE WHEN fr THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY region, grp ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS fire,
        |  lead(t) OVER (PARTITION BY region ORDER BY t) AS nxt
        |  FROM isl, b)
        |SELECT region, t AS ts, value,
        |  CASE WHEN fire THEN 'firing' ELSE 'pending' END AS state,
        |  TRUE AS cond FROM mk
        |UNION ALL
        |SELECT region, t + $SRecStep * j AS ts, value, 'firing' AS state,
        |  FALSE AS cond
        |FROM mk CROSS JOIN generate_series(1, 2) s(j)
        |WHERE fire AND t + $SRecStep * j <=
        |  least(t + ${2 * SRecStep}, coalesce(nxt - $SRecStep,
        |    t + ${2 * SRecStep}), ls)
        |ORDER BY region, ts, cond""".stripMargin,
    // the continuously-recorded store must equal the one-shot grid
    // evaluation over the SAME watermark-derived grid: first step =
    // min event sec aligned UP to the 2-h grid (rules evaluate from
    // when data begins), last step = (max event sec − 1h lateness)
    // aligned DOWN (the final watermark)
    "promql_stream_record" ->
      s"""$lblCte,
        |b AS (SELECT ((min(ts) + ${SRecStep - 1}) // $SRecStep) * $SRecStep AS fs,
        |  ((max(ts) - $SRecLate) // $SRecStep) * $SRecStep AS ls FROM lbl),
        |steps AS (SELECT unnest(generate_series(fs, ls,
        |  CAST($SRecStep AS BIGINT))) AS t FROM b)
        |SELECT region, t AS ts, CAST(sum(cents) AS DOUBLE) / 100.0 AS value
        |FROM lbl JOIN steps ON lbl.ts >= t - $StepWin AND lbl.ts <= t - 1
        |WHERE type = 'click' GROUP BY region, t
        |ORDER BY region, ts""".stripMargin)
}
