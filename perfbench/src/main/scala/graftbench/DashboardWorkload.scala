package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{Promql, Ts}

object DashboardWorkload {
  /** A selector matcher: `label = value` or `label =~ regex` (anchored). */
  final case class M(label: String, re: Boolean, value: String) {
    def promql: String = s"""$label${if (re) "=~" else "="}"$value""""
    def sql: Column = if (re) col(label).rlike(s"^(?:$value)$$") else col(label) === value
    def matches(s: Gen.Series): Boolean = {
      val v = label match { case "type" => s.typ; case "host" => s.host; case _ => s.region }
      if (re) v.matches(value) else v == value
    }
  }

  /** One dashboard panel query. `fn` is an `_over_time` function and `by`
    * an optional outer aggregation; `kind` is instant, range or agg. */
  final case class Q(name: String, kind: String, sel: Seq[M], fn: String,
                     rangeSec: Long, by: Option[(String, Seq[String])],
                     evalTs: Long = 0, start: Long = 0, end: Long = 0, step: Long = 0) {
    def selector: String = sel.map(_.promql).mkString("{", ", ", "}")
    def query: String = {
      val inner = s"$fn($selector[${rangeSec}s])"
      by.map { case (op, ls) => s"$op by (${ls.mkString(", ")}) ($inner)" }.getOrElse(inner)
    }
    /** Second range whose points the query reads. */
    def span: (Long, Long) = kind match {
      case "instant" => (evalTs - rangeSec + 1, evalTs)
      case "range" => (start - rangeSec, end - 1)
      case _ => (start, end)
    }
  }
}

/**
 * `dashboard`: the read path. Set-up builds a chunk store from the seeded
 * points (untimed for the queries). One closed-loop client
 * then runs a seeded, fixed list of PromQL instant and range queries and
 * `Ts.rangeAgg` calls, from one series to every series, over windows that
 * either cover whole chunks or straddle them. Each query's result is
 * checked against a plain Spark SQL evaluation over the raw points in the
 * first untimed warm-up pass, on the same DataFrame that pass materializes.
 */
final class DashboardWorkload(spark: SparkSession, work: String, seed: Long, threads: Int)
    extends Workload {
  import DashboardWorkload._
  val itemKinds = Set("instant", "range", "agg")
  private val T0 = 1709251200L // 2024-03-01T00:00Z
  private val Hours = 8
  private val hosts = 25
  private val scrape = new Scrape(spark, seed, hosts, T0, steps = Hours * 360, threads)
  private val labels = Scrape.Labels

  private val queries: Seq[Q] = {
    val r = new java.util.SplittableRandom(Gen.mix(seed, 99))
    def host() = f"h${r.nextInt(hosts)}%03d"
    def chunkEnd(k: Int) = T0 + 7200L * (k + 1) - 1 // last second of chunk window k
    def anyTs(back: Long) = T0 + back + r.nextInt((Hours * 3600L - back).toInt)
    def grid(step: Long, span: Long) = {
      val s = T0 + step * (1 + r.nextInt(((Hours * 3600L - span) / step).toInt - 1))
      (s, s + span)
    }
    val (s8, e8) = grid(300, 7200)
    val (s9, e9) = grid(600, 4 * 3600)
    val k12 = r.nextInt(Hours / 2 - 1)
    val f13 = anyTs(0) - 6000
    Seq(
      Q("one_series_chunk", "instant", Seq(M("type", false, "cpu"), M("host", false, host())),
        "sum_over_time", 7200, None, evalTs = chunkEnd(r.nextInt(Hours / 2))),
      Q("sum_by_region_chunk", "instant", Seq(M("type", false, "req")),
        "sum_over_time", 7200, Some(("sum", Seq("region"))), evalTs = chunkEnd(r.nextInt(Hours / 2))),
      Q("max_by_region_straddle", "instant", Seq(M("type", false, "cpu")),
        "max_over_time", 45 * 60, Some(("max", Seq("region"))), evalTs = anyTs(45 * 60)),
      Q("max_avg_all_series", "instant", Seq(M("type", true, ".+")),
        "avg_over_time", 4 * 3600, Some(("max", Seq("type"))), evalTs = anyTs(4 * 3600)),
      Q("range_sum_by_region", "range", Seq(M("type", false, "req")),
        "sum_over_time", 300, Some(("sum", Seq("region"))), start = s8, end = e8, step = 300),
      Q("range_one_series", "range", Seq(M("type", false, "cpu"), M("host", false, host())),
        "max_over_time", 600, None, start = s9, end = e9, step = 600),
      Q("rangeagg_all_chunks", "agg", Nil, "", 0, None,
        start = T0 + 7200L * k12, end = T0 + 7200L * (k12 + 2) - 1),
      Q("rangeagg_cpu_straddle", "agg", Seq(M("type", false, "cpu")), "", 0, None,
        start = f13, end = f13 + 5000))
  }

  /** Raw points each query covers (its selector over its time span). */
  private val covered: Map[String, Long] = queries.map { q =>
    val (lo, hi) = q.span
    q.name -> scrape.series.indices.filter(i => q.sel.forall(_.matches(scrape.series(i))))
      .map(i => scrape.points(i)._1.count(t => t >= lo && t <= hi).toLong).sum
  }.toMap

  private var storeDir = ""
  private var chunks: DataFrame = _
  private var nChunks = 0L
  private var raw: DataFrame = _

  def setup(rep: Int): Unit = {
    storeDir = s"$work/store-$rep"
    Ts.writeStore(Ts.chunkify(scrape.frame(), labels, "ts", "v"), storeDir)
  }

  override def storeRoot: Option[String] = Some(storeDir)

  private def build(r: Runner, q: Q): DataFrame = q.kind match {
    case "agg" =>
      val sel = q.sel.map(_.sql).foldLeft(chunks)(_.filter(_))
      r.span("Ts.rangeAgg", "tsdb")(Ts.rangeAgg(sel, labels, q.start, q.end))
    case kind =>
      if (r.tracer.tracing) r.span("parse", "promql")(Promql.parse(q.query, "type"))
      r.span("build", "promql")(
        if (kind == "instant") Promql.eval(chunks, labels, q.query, q.evalTs)
        else Promql.evalRange(chunks, labels, q.query, q.start, q.end, q.step))
  }

  /** The same query in plain Spark SQL over the raw points. */
  private def oracle(q: Q): DataFrame = {
    if (raw == null) raw = scrape.frame().cache()
    val (lo, hi) = q.span
    val pts = q.sel.map(_.sql).foldLeft(raw.filter(col("sec").between(lo, hi)))(_.filter(_))
    if (q.kind == "agg")
      return pts.groupBy(labels.map(col): _*).agg(count(lit(1)).as("n"), min("sec").as("min_ts"),
        max("sec").as("max_ts"), min("v").as("min_v"), max("v").as("max_v"),
        sum("cents").as("sum_cents"), sum(col("cents") * col("cents")).as("sumsq_cents"))
    // range: every step t on the grid with t-d <= sec <= t-1
    val stepped =
      if (q.kind == "instant") pts
      else {
        val first = greatest(lit(q.start), ceil((col("sec") + 1) / q.step) * q.step).cast("long")
        val last = least(lit(q.end), floor((col("sec") + q.rangeSec) / q.step) * q.step).cast("long")
        pts.filter(first <= last).withColumn("ts", explode(sequence(first, last, lit(q.step))))
      }
    val keys = labels ++ (if (q.kind == "range") Seq("ts") else Nil)
    val perSeries = stepped.groupBy(keys.map(col): _*).agg((q.fn match {
      case "sum_over_time" => sum("cents").cast("double") / 100.0
      case "count_over_time" => count(lit(1)).cast("double")
      case "max_over_time" => max("v")
      case "min_over_time" => min("v")
      case "avg_over_time" => sum("cents").cast("double") / count(lit(1)) / 100.0
    }).as("value"))
    q.by match {
      case None => perSeries
      case Some((op, ls)) =>
        val outer = ls ++ (if (q.kind == "range") Seq("ts") else Nil)
        perSeries.groupBy(outer.map(col): _*).agg((op match {
          case "sum" => sum("value")
          case "max" => max("value")
          case "avg" => avg("value")
        }).as("value"))
    }
  }

  private val AggCols = Seq("n", "min_ts", "max_ts", "min_v", "max_v", "sum_cents", "sumsq_cents")

  private def check(q: Q, got: DataFrame): Option[String] = {
    val want = oracle(q)
    val values = if (q.kind == "agg") AggCols else Seq("value")
    val gotKeys = got.columns.filterNot(values.contains).toSeq
    val wantKeys = want.columns.filterNot(values.contains).toSeq
    if (gotKeys.toSet != wantKeys.toSet)
      return Some(s"${q.name}: result labels ${gotKeys.mkString(",")}, expected ${wantKeys.mkString(",")}")
    val cols = (gotKeys ++ values).map(col)
    Stats.sameResults(s"${q.name} [${if (q.kind == "agg") "rangeAgg" else q.query}]",
      Stats.keyed(got.select(cols: _*), gotKeys.length), Stats.keyed(want.select(cols: _*), gotKeys.length))
  }

  /** The first warm-up pass checks every query; two more only run them.
    * Each query is small, so its time is mostly Spark's driver-side
    * planning and scheduling code, which takes several passes to warm. */
  override def warmupCycles: Int = 3

  def cycle(r: Runner, k: Int): Unit = {
    if (chunks == null) {
      chunks = Ts.readStore(spark, storeDir)
      nChunks = chunks.count()
    }
    queries.foreach { q =>
      r.op(q.name, q.kind, covered(q.name)) {
        val df = build(r, q)
        r.noop(df)
        df
      } { df => if (k == 0) check(q, df) else None }
    }
  }

  override def layerMetrics(r: Runner): Map[String, Double] = {
    val spans = r.tracer.spans
    def medMs(name: String) = Stats.median(spans.filter(s => s.name == name && s.layer == "promql")
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq)
    Map("promql.parse_ms" -> medMs("parse"), "promql.build_ms" -> medMs("build"),
      "store.chunks_read_frac" -> r.perOp(_.storeChunks) / nChunks,
      "store.bytes_per_point" -> Files.size(storeDir).toDouble / scrape.nPoints) ++
      Probe.timeSeries(r, storeDir)
  }

  override def report(r: Runner): Seq[String] = {
    val ok = r.okMeasured.filter(!_.traced)
    def secs(kind: String) = ok.filter(o => kind.isEmpty || o.kind == kind).map(_.seconds)
    Seq(f"query_p50_s=${Stats.median(secs(""))}%.4f query_p90_s=${Stats.quantile(secs(""), 0.9)}%.4f " +
      f"(n=${ok.length})",
      f"instant_p50_s=${Stats.median(secs("instant"))}%.4f (n=${secs("instant").length}) " +
        f"range_p50_s=${Stats.median(secs("range"))}%.4f (n=${secs("range").length}) " +
        f"rangeagg_p50_s=${Stats.median(secs("agg"))}%.4f (n=${secs("agg").length})",
      f"queries_per_s=${ok.length / ok.map(_.seconds).sum}%.3f")
  }
}
