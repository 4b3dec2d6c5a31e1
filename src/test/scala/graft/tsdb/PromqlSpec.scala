package graft.tsdb

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import Promql._

/** PromQL front-end: parser (precedence, durations, modifiers,
  * errors), compiler parity against hand-composed label-store frames,
  * and the scale pins — a selector arriving through the STRING
  * front-end must still push to the parquet chunk scan, and the
  * `_over_time` family must stay compressed-domain (no decode). */
class PromqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val EvalTs = 1705017600L
  val labelCols = Seq("type", "host", "region")
  def chunks = graft.queries.TsQueries.labeledStoreChunks(spark, dir)

  // ===== parser =====

  test("parser: aggregation over a range function, metric-name sugar") {
    assert(parse("sum by (region) (rate(click[2d]))") ==
      AggExpr("sum", None, By(Seq("region")),
        FnCall("rate", VectorSel(Seq(Labels.Eq("type", "click")), Some(172800L), 0L))))
    // sugar composes with explicit matchers
    assert(parse("""click{region="r1"}""") ==
      VectorSel(Seq(Labels.Eq("type", "click"), Labels.Eq("region", "r1")), None, 0L))
    // all four matcher ops arrive as Labels matchers
    assert(parse("""{a="x", b!="y", c=~"h1.*", d!~"z"}""") ==
      VectorSel(Seq(Labels.Eq("a", "x"), Labels.Ne("b", "y"),
        Labels.Re("c", "h1.*"), Labels.NotRe("d", "z")), None, 0L))
  }

  test("parser: durations, offset, trailing grouping clause") {
    assert(parse("sum_over_time(x[1h30m])") ==
      FnCall("sum_over_time",
        VectorSel(Seq(Labels.Eq("type", "x")), Some(5400L), 0L)))
    assert(parse("sum_over_time(x[2d] offset 1d)") ==
      FnCall("sum_over_time",
        VectorSel(Seq(Labels.Eq("type", "x")), Some(172800L), 86400L)))
    // PromQL also allows the grouping clause after the parens
    assert(parse("sum(count_over_time(x[5m])) by (host)") ==
      parse("sum by (host) (count_over_time(x[5m]))"))
  }

  test("parser: operator precedence and vector matching modifiers") {
    val a = VectorSel(Seq(Labels.Eq("type", "a")), None, 0L)
    val b = VectorSel(Seq(Labels.Eq("type", "b")), None, 0L)
    val c = VectorSel(Seq(Labels.Eq("type", "c")), None, 0L)
    // * binds tighter than +, + tighter than comparison, cmp tighter than unless
    assert(parse("a + b * c") ==
      BinExpr("+", a, BinExpr("*", b, c, DefaultMatching), DefaultMatching))
    assert(parse("a + b > 10 unless c") ==
      BinExpr("unless",
        BinExpr(">", BinExpr("+", a, b, DefaultMatching), NumLit(10), DefaultMatching),
        c, DefaultMatching))
    assert(parse("a / on(host) group_left b") ==
      BinExpr("/", a, b, Matching(Some(Seq("host")), Nil,
        groupLeft = true, groupRight = false)))
    assert(parse("a and ignoring(region) b") ==
      BinExpr("and", a, b, Matching(None, Seq("region"), false, false)))
    // unary minus is scalar multiplication
    assert(parse("-a") == BinExpr("*", NumLit(-1), a, DefaultMatching))
  }

  test("parser: malformed queries fail loudly") {
    intercept[IllegalArgumentException](parse("sum by region (x)")) // missing parens
    intercept[IllegalArgumentException](parse("rate(x[2d]") )       // unbalanced
    intercept[IllegalArgumentException](parse("x[2q]"))             // bad unit
    intercept[IllegalArgumentException](parse("""{a=x}"""))         // unquoted value
    intercept[IllegalArgumentException](parse("rate(x[2d]) extra")) // trailing
    intercept[IllegalArgumentException](parse("topk(x)"))           // missing k
    // `bool` is now supported: it parses into the boolMod flag
    assert(parse("x > bool 10") == BinExpr(">",
      VectorSel(Seq(Labels.Eq("type", "x")), None, 0L), NumLit(10),
      DefaultMatching, boolMod = true))
  }

  test("parser: subquery [range:step] on selectors, functions, aggregates") {
    assert(parse("max_over_time(rate(x[5m])[1h:5m])") ==
      FnCall("max_over_time", Subquery(
        FnCall("rate", VectorSel(Seq(Labels.Eq("type", "x")), Some(300L), 0L)),
        3600L, 300L, 0L)))
    assert(parse("avg_over_time(sum by (host)(sum_over_time(x[1h]))[1d:1h] offset 2h)") ==
      FnCall("avg_over_time", Subquery(
        AggExpr("sum", None, By(Seq("host")),
          FnCall("sum_over_time", VectorSel(Seq(Labels.Eq("type", "x")), Some(3600L), 0L))),
        86400L, 3600L, 7200L)))
    // recording-rule-style identifiers still lex as one token
    assert(parse("""{a="x"} and job:ratio:sum""") ==
      BinExpr("and", VectorSel(Seq(Labels.Eq("a", "x")), None, 0L),
        VectorSel(Seq(Labels.Eq("type", "job:ratio:sum")), None, 0L), DefaultMatching))
    intercept[IllegalArgumentException](parse("rate(x[1h:])")) // missing step
  }

  test("subquery: max/avg/rate over an inner stepped evaluation == hand fold") {
    val innerQ = "sum by (region) (rate(click[1d]))"
    // inner grid for [1d:6h] at EvalTs: 4 instants EvalTs-64800 .. EvalTs
    val inner = Promql.evalRange(chunks, labelCols, innerQ,
        EvalTs - 64800L, EvalTs, 21600L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byRegion = inner.groupBy(_._1)
    def got(q: String): Map[String, Double] =
      Promql.eval(chunks, labelCols, q, EvalTs)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val mx = got(s"max_over_time($innerQ[1d:6h])")
    val av = got(s"avg_over_time($innerQ[1d:6h])")
    val ct = got(s"count_over_time($innerQ[1d:6h])")
    assert(mx.nonEmpty && mx.keySet == byRegion.keySet)
    byRegion.foreach { case (rg, rows) =>
      val vs = rows.map(_._3)
      assert(mx(rg) == vs.max, s"max $rg")
      assert(math.abs(av(rg) - vs.sum / vs.size) < 1e-9, s"avg $rg")
      assert(ct(rg) == vs.size.toDouble, s"count $rg")
    }
    // counter family over the step series: positive deltas of
    // consecutive step values (exact longs under the hood)
    val rt = got(s"increase($innerQ[1d:6h])")
    byRegion.foreach { case (rg, rows) =>
      val ordered = rows.sortBy(_._2).map(_._3).toSeq
      val inc = ordered.sliding(2).collect {
        case Seq(a, b) if b > a => b - a }.sum
      assert(math.abs(rt(rg) - inc) < 1e-9, s"increase $rg")
    }
  }

  test("subquery: unconsumed fails loudly") {
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      "sum by (region)(rate(click[6h]))[1d:6h]", EvalTs))
  }

  test("nested subquery in a range query == the same query per step") {
    val start = 1704844800L
    val stepO = 21600L
    val q = "max_over_time(sum by (region) (sum_over_time(click[6h]))[1d:6h])"
    val got = Promql.evalRange(chunks, labelCols, q, start, EvalTs, stepO)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = (start to EvalTs by stepO).flatMap { t =>
      Promql.eval(chunks, labelCols, q, t).collect()
        .map(r => ((r.getString(0), t), r.getDouble(1)))
    }.toMap
    assert(got.nonEmpty && got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"$k: ${got(k)} vs $v") }
    // double nesting recurses: a subquery inside the nested body
    val q2 = "max_over_time(min_over_time(sum by (region) " +
      "(sum_over_time(click[6h]))[1d:6h])[2d:1d])"
    val g2 = Promql.evalRange(chunks, labelCols, q2, start, EvalTs, stepO)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    val w2 = (start to EvalTs by stepO).flatMap { t =>
      Promql.eval(chunks, labelCols, q2, t).collect()
        .map(r => ((r.getString(0), t), r.getDouble(1)))
    }.toMap
    assert(g2.nonEmpty && g2.keySet == w2.keySet)
    w2.foreach { case (k, v) => assert(g2(k) == v, s"nested2 $k") }
  }

  // ===== compiler parity vs hand-composed frames =====

  test("sum_over_time through the parser == hand-built selectRangeAgg") {
    val from = EvalTs - 172800L + 1
    val got = Promql.eval(chunks, labelCols,
      """sum by (region) (sum_over_time({type="click"}[2d]))""", EvalTs)
      .orderBy("region").collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = Labels.selectRangeAgg(chunks, labelCols, """{type="click"}""",
        from, EvalTs)
      .groupBy("region").agg(sum("sum_cents").as("c"))
      .select(col("region"), (col("c").cast("double") / lit(100.0)).as("v"))
      .orderBy("region").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("instant vector == last sample per series within lookback") {
    val lookback = 86400L
    val got = Promql.eval(chunks, labelCols, """{type="purchase"}""",
      EvalTs, lookback).orderBy("type", "host", "region").collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labelCols.map(col): _*).orderBy(col("ts").desc, col("v").desc)
    val want = Labels.selectRange(chunks, labelCols, """{type="purchase"}""",
        EvalTs - lookback + 1, EvalTs)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .orderBy("type", "host", "region").collect()
      .map(r => (r.getString(1), r.getDouble(4)))
    assert(got.nonEmpty)
    assert(got.map(_._1).sameElements(want.map(_._1)))
    got.zip(want).foreach { case ((h, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-9, s"host $h: $g vs $e") }
  }

  test("scalar comparison filters on the exact integer grid") {
    val from = EvalTs - 172800L + 1
    val got = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(purchase[2d])) > 60", EvalTs)
      .select("host").collect().map(_.getString(0)).toSet
    val want = Labels.selectRangeAgg(chunks, labelCols, """{type="purchase"}""",
        from, EvalTs)
      .groupBy("host").agg(sum("sum_cents").as("c"))
      .filter(col("c") > 6000L).collect().map(_.getString(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("sum(rate) stays exact: equals per-series exact increase summed, then one division") {
    val from = EvalTs - 172800L + 1
    val got = Promql.eval(chunks, labelCols,
      "sum by (region) (rate(click[2d]))", EvalTs)
      .orderBy("region").collect().map(r => (r.getString(0), r.getDouble(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labelCols.map(col): _*).orderBy("ts", "cents")
    val want = Labels.selectRange(chunks, labelCols, """{type="click"}""", from, EvalTs)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .withColumn("prev", lag("cents", 1).over(w)).filter(col("prev").isNotNull)
      .withColumn("d", col("cents") - col("prev"))
      .groupBy("region").agg(sum(when(col("d") > 0, col("d")).otherwise(0L)).as("inc"))
      .select(col("region"),
        (col("inc").cast("double") / lit(172800L * 100.0)).as("v"))
      .orderBy("region").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.nonEmpty && got.sameElements(want)) // bit-equal, not approx
  }

  test("topk by (region) keeps the full label set; == per-group rank") {
    val from = EvalTs - 172800L + 1
    val got = Promql.eval(chunks, labelCols,
      "topk by (region) (2, sum by (host, region) (sum_over_time(click[2d])))",
      EvalTs).orderBy("region", "host").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("region").orderBy(col("c").desc, col("host"))
    val want = Labels.selectRangeAgg(chunks, labelCols, """{type="click"}""",
        from, EvalTs)
      .groupBy("host", "region").agg(sum("sum_cents").as("c"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
    // 4 regions x top-2 hosts
    assert(got.map(_._2).size <= got.size)
  }

  test("math functions: clamp stays on the exact grid; absent flips on matches") {
    // clamp bounds land on cents -> exact least/greatest on BIGINT
    val vals = Promql.eval(chunks, labelCols,
      "clamp(sum by (host) (sum_over_time(purchase[2d])), 50, 200)", EvalTs)
      .collect().map(_.getDouble(1))
    assert(vals.nonEmpty && vals.forall(v => v >= 50.0 && v <= 200.0))
    // abs/floor compose through the parser
    val fl = Promql.eval(chunks, labelCols,
      "floor(abs(sum by (region) (sum_over_time(click[2d]))))", EvalTs)
      .collect().map(_.getDouble(1))
    assert(fl.nonEmpty && fl.forall(v => v == math.floor(v)))
    // absent: nothing matches -> one row with the equality labels
    val a = Promql.eval(chunks, labelCols,
      """absent({type="click", host="h999"})""", EvalTs).collect()
    assert(a.length == 1 && a(0).getString(0) == "click" &&
      a(0).getString(1) == "h999" && a(0).getDouble(2) == 1.0)
    // something matches (1-day lookback) -> empty vector
    val b = Promql.eval(chunks, labelCols,
      """absent({type="click"})""", EvalTs, lookbackSec = 86400L).collect()
    assert(b.isEmpty)
    intercept[IllegalArgumentException](
      Promql.eval(chunks, labelCols, "clamp(click, 1)", EvalTs)) // arity
  }

  // ===== stepped (query_range) evaluation =====

  test("evalRange == per-step hand computation on the left-closed grid") {
    val start = 1704844800L; val step = 7200L; val d = 21600L
    val stepped = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[6h]))", start, EvalTs, step)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(stepped.nonEmpty)
    val pts = Labels.selectRange(chunks, labelCols, """{type="click"}""",
        start - d, EvalTs - 1)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .select("region", "ts", "cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for (t <- Seq(start, start + 5 * step, EvalTs)) {
      val want = pts.filter(p => p._2 >= t - d && p._2 <= t - 1)
        .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      want.foreach { case (region, cents) =>
        val got = stepped.getOrElse((region, t),
          fail(s"missing step ($region, $t)"))
        assert(got == cents.toDouble / 100.0, s"($region, $t)")
      }
      // no phantom steps: stepped rows at t == regions with data
      assert(stepped.keys.count(_._2 == t) == want.size)
    }
  }

  test("stepped _over_time == per-step hand fold where buckets straddle chunks") {
    import spark.implicits._
    // 90-min buckets on 2-h chunks: buckets straddling a chunk edge get
    // one partial per chunk, which the one window aggregate must merge
    val base = 1704844800L // aligned to 7200 and 5400
    val (step, d) = (5400L, 10800L)
    val start = base + d
    val end = start + 2 * step
    val rows = for (h <- 1 to 3; j <- 0L until (end - base) / 47L
                    if h != 3 || j * 47L < 7200L) yield {
      val cents = (j * 7919L + h * 131L) % 20001L - 10000L
      ("m", s"h$h", (base + j * 47L) * 1000000000L, cents / 100.0)
    }
    val L = Seq("type", "host")
    val ch = Ts.chunkify(rows.toDF("type", "host", "ts", "v"), L, "ts", "v")
    val pts = Labels.selectRange(ch, L, """{type="m"}""", start - d, end - 1)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .select("host", "ts", "v", "cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    def fold(w: Array[(String, Long, Double, Long)], fn: String): Double = {
      val n = w.length.toLong
      val (s, q) = (w.map(_._4).sum, w.map(p => p._4 * p._4).sum)
      val variance = (n * q - s * s).toDouble / (n * n * 10000.0)
      fn match {
        case "sum" => s / 100.0
        case "count" => n.toDouble
        case "min" => w.map(_._3).min
        case "max" => w.map(_._3).max
        case "avg" => s.toDouble / (n * 100.0)
        case "stdvar" => variance
        case "stddev" => math.sqrt(variance)
        case "present" => 1.0
      }
    }
    for (fn <- Seq("sum", "count", "min", "max", "avg", "stdvar", "stddev", "present")) {
      val got = Promql.evalRange(ch, L, s"${fn}_over_time(m[3h])", start, end, step)
        .collect().map(r => ((r.getString(1), r.getLong(2)), r.getDouble(3))).toMap
      val want = (0L to 2L).map(start + _ * step).flatMap { t =>
        pts.filter(p => p._2 >= t - d && p._2 <= t - 1).groupBy(_._1)
          .map { case (host, w) => (host, t) -> fold(w, fn) }
      }.toMap
      assert(want.keySet.map(_._1) == Set("h1", "h2", "h3"))
      assert(got == want, fn)
    }
  }

  test("stepped rate == per-step pairs-in-window hand computation") {
    val start = 1704844800L; val step = 7200L; val d = 86400L
    val stepped = Promql.evalRange(chunks, labelCols,
      "sum by (region) (rate(click[1d]))", start, EvalTs, step)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(stepped.nonEmpty)
    // hand computation: consecutive pairs over the full coverage, a
    // pair counts in the windows containing BOTH endpoints
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(labelCols.map(col): _*).orderBy("ts", "cents")
    val pairs = Labels.selectRange(chunks, labelCols, """{type="click"}""",
        start - d, EvalTs - 1)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .withColumn("pts", lag("ts", 1).over(w))
      .withColumn("pc", lag("cents", 1).over(w))
      .filter(col("pts").isNotNull)
      .select("region", "pts", "ts", "cents", "pc").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3) - r.getLong(4)))
    for (t <- Seq(start, start + 11 * step, EvalTs)) {
      val want = pairs.filter(p => p._2 >= t - d && p._3 <= t - 1)
        .groupBy(_._1).view
        .mapValues(_.map(p => math.max(0L, p._4)).sum).toMap
      want.foreach { case (region, inc) =>
        val got = stepped.getOrElse((region, t), fail(s"missing ($region, $t)"))
        assert(got == inc.toDouble / (d * 100.0), s"($region, $t)") // bit-equal
      }
      assert(stepped.keys.count(_._2 == t) == want.size)
    }
  }

  test("stepped changes/delta/last_over_time == per-step hand computation") {
    val start = 1704844800L; val step = 7200L; val d = 86400L
    def steppedMap(q: String): Map[(String, String, String, Long), Double] =
      Promql.evalRange(chunks, labelCols, q, start, EvalTs, step)
        .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3)), r.getDouble(4))).toMap
    val ch = steppedMap("changes(click[1d])")
    val de = steppedMap("delta(click[1d])")
    val lo = steppedMap("last_over_time(click[1d])")
    assert(ch.nonEmpty && de.nonEmpty && lo.nonEmpty)
    val pts = Labels.selectRange(chunks, labelCols, """{type="click"}""",
        start - d, EvalTs - 1)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3), r.getLong(r.fieldIndex("cents"))))
    for (t <- Seq(start + 3 * step, EvalTs)) {
      val inWin = pts.filter(p => p._2 >= t - d && p._2 <= t - 1)
        .groupBy(_._1).view.mapValues(_.sortBy(p => (p._2, p._3))).toMap
      inWin.foreach { case (series, samples) =>
        val key = (series._1, series._2, series._3, t)
        val flips = samples.map(_._3).toSeq.sliding(2).count {
          case Seq(a, b) => a != b; case _ => false }
        // changes exists iff the series has >= 2 samples in the window
        if (samples.size >= 2)
          assert(ch(key) == flips.toDouble, s"changes $key")
        else assert(!ch.contains(key))
        assert(de(key) == (samples.last._3 - samples.head._3) / 100.0, s"delta $key")
        assert(lo(key) == samples.last._3 / 100.0, s"last $key")
      }
    }
  }

  test("deriv / predict_linear == hand least-squares per series") {
    val from = EvalTs - 172800L + 1
    val pts = Labels.selectRange(chunks, labelCols, """{type="view"}""",
        from, EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3) - from).toDouble, math.round(r.getDouble(4) * 100).toDouble))
      .groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3))).toMap
    def fit(s: Array[(Double, Double)]): Option[(Double, Double, Double)] = {
      val n = s.length
      if (n < 2) return None
      val (st, sv) = (s.map(_._1).sum, s.map(_._2).sum)
      val stv = s.map(p => p._1 * p._2).sum
      val stt = s.map(p => p._1 * p._1).sum
      val den = n * stt - st * st
      if (den == 0) None else Some((n * stv - st * sv) / den, st / n, sv / n)
    }
    val de = Promql.eval(chunks, labelCols, """deriv({type="view"}[2d])""", EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    val pr = Promql.eval(chunks, labelCols, "predict_linear(view[2d], 1h)", EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getDouble(3))).toMap
    val want = pts.flatMap { case (k, s) => fit(s).map(k -> _) }
    assert(de.nonEmpty && de.keySet == want.keySet && pr.keySet == want.keySet)
    want.foreach { case (k, (slope, meanT, meanV)) =>
      assert(math.abs(de(k) - slope / 100.0) < 1e-9, s"deriv $k")
      val x = 172799.0 + 3600.0
      assert(math.abs(pr(k) - (meanV + slope * (x - meanT)) / 100.0) < 1e-9,
        s"predict $k")
    }
  }

  test("label_replace / label_join: relabel, re-aggregate, miss keeps dst") {
    val base = "sum by (host, region) (sum_over_time(click[2d]))"
    val perHost = Promql.eval(chunks, labelCols, base, EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    // replace: host h42 -> dc-4; the outer sum re-groups exactly
    val dc = Promql.eval(chunks, labelCols,
      s"""sum by (dc) (label_replace($base, "dc", "dc-$$1", "host", "h([0-9]).*"))""",
      EvalTs).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = perHost.groupBy { case ((h, _), _) => "dc-" + h.charAt(1) }
      .view.mapValues(_.values.sum).toMap
    assert(dc.keySet == want.keySet && dc.keySet.forall(k =>
      math.abs(dc(k) - want(k)) < 1e-9))
    // join: hr = host-region, full label set survives alongside
    val hr = Promql.eval(chunks, labelCols,
      s"""label_join($base, "hr", "-", "host", "region")""", EvalTs)
    assert(hr.columns.toSeq == Seq("host", "region", "hr", "value"))
    hr.collect().foreach(r =>
      assert(r.getString(2) == r.getString(0) + "-" + r.getString(1)))
    // non-matching regex: NEW dst label arrives empty on every row
    val miss = Promql.eval(chunks, labelCols,
      s"""label_replace($base, "dc", "x", "host", "zz[0-9]+")""", EvalTs)
    assert(miss.collect().forall(_.getString(2) == ""))
    // arity and unknown source label fail loudly
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      s"""label_replace($base, "dc", "x", "nope", ".*")""", EvalTs))
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      s"""label_join($base, "hr")""", EvalTs))
  }

  test("histogram_quantile == hand interpolation over the bucket vector") {
    val hch = graft.queries.TsQueries.histStoreChunks(spark, dir)
    val hlc = graft.queries.TsQueries.histLabelCols
    // the input vector, already summed per bucket
    val buckets = Promql.eval(hch, hlc, "sum by (le) (rate(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(p => if (p._1 == "+Inf") Double.PositiveInfinity else p._1.toDouble)
    assert(buckets.map(_._1).last == "+Inf" && buckets.length == 6)
    // cumulative by construction
    assert(buckets.map(_._2).toSeq == buckets.map(_._2).sorted.toSeq)
    def hand(phi: Double): Double = {
      val total = buckets.last._2
      val rank = phi * total
      val i = buckets.indexWhere(_._2 >= rank)
      val (le, cum) = buckets(i)
      if (le == "+Inf") buckets(i - 1)._1.toDouble
      else {
        val lower = if (i == 0) 0.0 else buckets(i - 1)._1.toDouble
        val prevC = if (i == 0) 0.0 else buckets(i - 1)._2
        lower + (le.toDouble - lower) * ((rank - prevC) / (cum - prevC))
      }
    }
    for (phi <- Seq(0.5, 0.9, 0.99)) {
      val got = Promql.eval(hch, hlc,
        s"histogram_quantile($phi, sum by (le) (rate(click[2d])))", EvalTs)
        .collect().map(_.getDouble(0))
      assert(got.length == 1 && math.abs(got.head - hand(phi)) < 1e-9, s"phi=$phi")
    }
    // grouping labels survive: per-host quantiles keep (type, host)
    val perHost = Promql.eval(hch, hlc,
      "histogram_quantile(0.9, rate(click[2d]))", EvalTs)
    assert(perHost.columns.toSeq == Seq("type", "host", "value"))
    val vals = perHost.collect().map(_.getDouble(2))
    assert(vals.nonEmpty && vals.forall(v => v >= 0.0 && v <= 250.0))
    // input without an le label is rejected
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      "histogram_quantile(0.9, sum by (region) (rate(click[2d])))", EvalTs))
  }

  test("evalRange stays compressed-domain and pushes the selector") {
    val df = Promql.evalRange(chunks, labelCols,
      """sum by (region) (sum_over_time({type="click", host=~"h1.*"}[6h]))""",
      1704844800L, EvalTs, 7200L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(type,click)"), plan.take(3000))
    assert(plan.contains("gorilla_chunk_bucket_agg"), plan.take(3000))
    assert(!plan.contains("gorilla_decode"),
      "stepped _over_time must never materialize points:\n" + plan.take(3000))
  }

  test("evalRange: misuse fails loudly") {
    // window not a multiple of the step grid
    intercept[IllegalArgumentException](Promql.evalRange(chunks, labelCols,
      "sum(sum_over_time(click[5000s]))", 1704844800L, EvalTs, 7200L).collect())
    // bare instant selector has no per-step window
    intercept[IllegalArgumentException](Promql.evalRange(chunks, labelCols,
      """{type="click"}""", 1704844800L, EvalTs, 7200L))
    // unaligned grid start
    intercept[IllegalArgumentException](Promql.evalRange(chunks, labelCols,
      "sum(sum_over_time(click[4h]))", 1704844801L, EvalTs, 7200L))
  }

  test("parser: @ modifier, quantile_over_time leading scalar, sort/timestamp") {
    assert(parse("""{a="x"}[2d] @ 1705017600""") ==
      VectorSel(Seq(Labels.Eq("a", "x")), Some(172800L), 0L, Some(1705017600L)))
    assert(parse("quantile_over_time(0.9, click[1d])") ==
      MathCall("quantile_over_time",
        VectorSel(Seq(Labels.Eq("type", "click")), Some(86400L), 0L), Seq(0.9)))
    assert(parse("sort_desc(click)") ==
      FnCall("sort_desc", VectorSel(Seq(Labels.Eq("type", "click")), None, 0L)))
    assert(parse("timestamp(click)") ==
      FnCall("timestamp", VectorSel(Seq(Labels.Eq("type", "click")), None, 0L)))
    intercept[IllegalArgumentException](parse("""{a="x"} @ 1.5"""))
  }

  test("@ modifier: sel[d] @ T == the same window via offset") {
    val off = 86400L
    val atQ = Promql.eval(chunks, labelCols,
      s"sum by (region) (sum_over_time(click[1d] @ ${EvalTs - off}))", EvalTs)
    val offQ = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[1d] offset 1d))", EvalTs)
    assert(atQ.orderBy("region").collect().toSeq ==
      offQ.orderBy("region").collect().toSeq)
    // @ holds under a DIFFERENT evaluation instant; offset moves
    val atQ2 = Promql.eval(chunks, labelCols,
      s"sum by (region) (sum_over_time(click[1d] @ ${EvalTs - off}))", EvalTs + 9999)
    assert(atQ2.orderBy("region").collect().toSeq ==
      atQ.orderBy("region").collect().toSeq)
  }

  test("irate/idelta == hand last-two-samples per series") {
    import org.apache.spark.sql.expressions.Window
    val from = EvalTs - 172800L + 1
    val pts = Labels.selectRange(chunks, labelCols, """{type="click"}""", from, EvalTs)
      .withColumn("cents", round(col("v") * 100).cast("long"))
    val w = Window.partitionBy(labelCols.map(col): _*)
      .orderBy(col("ts").desc, col("cents").desc)
    val two = pts.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(labelCols.map(col): _*)
      .agg(max(struct(col("ts"), col("cents"))).as("l"),
        min(struct(col("ts"), col("cents"))).as("p"), count(lit(1)).as("n"))
      .filter(col("n") === 2 && col("l.ts") =!= col("p.ts"))
    val wantIrate = two.select(col("host"), col("region"),
      (when(col("l.cents") >= col("p.cents"), col("l.cents") - col("p.cents"))
        .otherwise(col("l.cents")).cast("double") /
        ((col("l.ts") - col("p.ts")) * lit(100.0))).as("v"))
      .orderBy("host", "region").collect().toSeq
    val gotIrate = Promql.eval(chunks, labelCols, "irate(click[2d])", EvalTs)
      .select("host", "region", "value").orderBy("host", "region").collect().toSeq
    assert(gotIrate == wantIrate)
    val wantIdelta = two.select(col("host"), col("region"),
      ((col("l.cents") - col("p.cents")).cast("double") / 100.0).as("v"))
      .orderBy("host", "region").collect().toSeq
    val gotIdelta = Promql.eval(chunks, labelCols, "idelta(click[2d])", EvalTs)
      .select("host", "region", "value").orderBy("host", "region").collect().toSeq
    assert(gotIdelta == wantIdelta)
  }

  test("quantile_over_time == exact percentile on the cent grid") {
    val from = EvalTs - 86400L + 1
    val want = Labels.selectRange(chunks, labelCols, """{type="view"}""", from, EvalTs)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .groupBy("host", "region")
      .agg((expr("percentile(cents, 0.5)") / lit(100.0)).as("v"))
      .orderBy("host", "region").collect().toSeq
    val got = Promql.eval(chunks, labelCols,
      "quantile_over_time(0.5, view[1d])", EvalTs)
      .select("host", "region", "value").orderBy("host", "region").collect().toSeq
    assert(got == want)
  }

  test("stddev/stdvar/group aggregators; sgn and sqrt pointwise") {
    val base = "sum by (host, region) (sum_over_time(click[2d]))"
    val sums = Promql.eval(chunks, labelCols, base, EvalTs)
    val moments = sums.withColumn("c", (col("value") * 100).cast("long"))
      .groupBy("region").agg(count(lit(1)).as("n"),
        sum("c").as("s"), sum(col("c") * col("c")).as("q"))
    val wantVar = moments.select(col("region"),
      ((col("n") * col("q") - col("s") * col("s")).cast("double") /
        ((col("n") * col("n")).cast("double") * lit(10000.0))).as("v"))
      .orderBy("region").collect().toSeq
    val gotVar = Promql.eval(chunks, labelCols, s"stdvar by (region) ($base)", EvalTs)
      .orderBy("region").collect().toSeq
    assert(gotVar == wantVar)
    val gotDev = Promql.eval(chunks, labelCols, s"stddev by (region) ($base)", EvalTs)
      .orderBy("region").collect().toSeq
    assert(gotDev.map(_.getDouble(1)) == wantVar.map(r => math.sqrt(r.getDouble(1))))
    val gotGroup = Promql.eval(chunks, labelCols, s"group by (region) ($base)", EvalTs)
      .orderBy("region").collect().toSeq
    assert(gotGroup.forall(_.getDouble(1) == 1.0) && gotGroup.size == 4)
    // sgn on the exact grid: -1/0/1 against the cent threshold
    val sgn = Promql.eval(chunks, labelCols, s"sgn($base - 100)", EvalTs)
      .collect()
    val ref = sums.collect().map(r => (r.getString(0), r.getString(1)) ->
      math.signum(r.getDouble(2) - 100.0)).toMap
    assert(sgn.forall(r => r.getDouble(2) == ref((r.getString(0), r.getString(1)))))
    val sq = Promql.eval(chunks, labelCols, s"sqrt($base)", EvalTs).collect()
    val refSq = sums.collect().map(r => (r.getString(0), r.getString(1)) ->
      math.sqrt(r.getDouble(2))).toMap
    assert(sq.forall(r => r.getDouble(2) == refSq((r.getString(0), r.getString(1)))))
  }

  test("sort/sort_desc order by value; timestamp() == last sample ts") {
    val vals = Promql.eval(chunks, labelCols,
      "sort_desc(sum by (host) (sum_over_time(click[2d])))", EvalTs)
      .collect().map(_.getDouble(1)).toSeq
    assert(vals == vals.sorted.reverse && vals.nonEmpty)
    val asc = Promql.eval(chunks, labelCols,
      "sort(sum by (host) (sum_over_time(click[2d])))", EvalTs)
      .collect().map(_.getDouble(1)).toSeq
    assert(asc == vals.sorted)
    val from = EvalTs - 86400L + 1
    val want = Labels.selectRange(chunks, labelCols, """{type="view"}""", from, EvalTs)
      .groupBy(labelCols.map(col): _*).agg(max("ts").cast("double").as("v"))
      .orderBy("host", "region").collect().toSeq
    val got = Promql.eval(chunks, labelCols, """timestamp({type="view"})""",
      EvalTs, lookbackSec = 86400L)
      .orderBy("host", "region").collect().toSeq
    assert(got == want)
  }

  test("bool modifier emits 0/1 on the exact grid instead of filtering") {
    val base = "sum by (host, region) (sum_over_time(click[2d]))"
    val all = Promql.eval(chunks, labelCols, base, EvalTs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val b = Promql.eval(chunks, labelCols, s"$base > bool 50", EvalTs).collect()
    assert(b.length == all.size) // no filtering
    b.foreach { r =>
      val v = all((r.getString(0), r.getString(1)))
      assert(r.getDouble(2) == (if (v > 50.0) 1.0 else 0.0))
    }
    // sum of bools == count of hosts above threshold (exact Count kind)
    val cnt = Promql.eval(chunks, labelCols,
      s"sum by (region) ($base > bool 50)", EvalTs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = all.toSeq.groupBy(_._1._2)
      .map { case (rg, xs) => rg -> xs.count(_._2 > 50.0).toDouble }
    assert(cnt == want)
  }

  test("stepped deriv == per-window hand least-squares") {
    import org.apache.spark.sql.expressions.Window
    val start = 1704844800L
    val day = 86400L
    val got = Promql.evalRange(chunks, labelCols, "deriv(view[1d])",
        start, EvalTs, 7200L)
      .orderBy("host", "region", "ts").collect().toSeq
    val pts = Labels.selectRange(chunks, labelCols, """{type="view"}""",
        start - day, EvalTs - 1)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .select("type", "host", "region", "ts", "cents").collect()
    val steps = (0 to 24).map(i => start + i * 7200L)
    val want = (for {
      t <- steps
      ((ty, h, rg), xs) <- pts.filter(r => r.getLong(3) >= t - day &&
          r.getLong(3) <= t - 1)
        .groupBy(r => (r.getString(0), r.getString(1), r.getString(2)))
      if xs.length >= 2
    } yield {
      val n = xs.length.toLong
      val tt = xs.map(r => r.getLong(3) - (start - day))
      val vv = xs.map(_.getLong(4))
      val (st, sv) = (tt.sum, vv.sum)
      val stv = tt.zip(vv).map { case (a, b) => a * b }.sum
      val stt = tt.map(x => x * x).sum
      val num = n * stv - st * sv
      val den = n * stt - st * st
      ((h, rg, t), if (den == 0) None else Some(num.toDouble / (100.0 * den)))
    }).collect { case (k, Some(v)) => k -> v }.toMap
    assert(got.size == want.size)
    got.foreach { r =>
      assert(r.getDouble(4) == want((r.getString(1), r.getString(2), r.getLong(3))))
    }
  }

  test("absent_over_time flips on window matches") {
    val hit = Promql.eval(chunks, labelCols,
      """absent_over_time({type="click", host="h999"}[2d])""", EvalTs).collect()
    assert(hit.length == 1 && hit.head.getDouble(2) == 1.0)
    val miss = Promql.eval(chunks, labelCols,
      """absent_over_time({type="click"}[2d])""", EvalTs).collect()
    assert(miss.isEmpty)
  }

  test("holt_winters == hand decode + hw_fold; misuse fails loudly") {
    val from = EvalTs - 172800L + 1
    val want = Labels.selectRange(chunks, labelCols, """{type="purchase"}""",
        from, EvalTs)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .groupBy(labelCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        collect_list(struct(col("ts"), col("cents"))).as("arr"))
      .filter(col("n") >= 2)
      .withColumn("hw", graft.functions.hw_fold(col("arr"), 0.3, 0.1))
      .select(col("host"), col("region"), col("hw.level").as("v"))
      .orderBy("host", "region").collect().toSeq
    val got = Promql.eval(chunks, labelCols,
      "holt_winters(purchase[2d], 0.3, 0.1)", EvalTs)
      .select("host", "region", "value").orderBy("host", "region").collect().toSeq
    assert(got == want && got.nonEmpty)
    // Prometheus 3.x alias parses to the same tree
    assert(parse("double_exponential_smoothing(purchase[2d], 0.3, 0.1)") ==
      parse("holt_winters(purchase[2d], 0.3, 0.1)"))
    intercept[IllegalArgumentException] { // needs both smoothing factors
      parse("holt_winters(purchase[2d], 0.3)")
    }
    intercept[IllegalArgumentException] { // factors must be in (0, 1)
      Promql.eval(chunks, labelCols, "holt_winters(purchase[2d], 1.5, 0.1)", EvalTs)
    }
  }

  test("or: union prefers the left side for matching label sets") {
    val l = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(purchase[2d])) > 60", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(click[2d])) > 0", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(purchase[2d])) > 60 " +
        "or sum by (host) (sum_over_time(click[2d])) > 0", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == l.keySet ++ r.keySet)
    got.foreach { case (h, v) =>
      assert(v == l.getOrElse(h, r(h))) // lhs wins where both fire
    }
    assert((r.keySet -- l.keySet).nonEmpty, "rhs-only arm must be exercised")
  }

  test("stepped absent()/timestamp(): exact lookback visibility at the boundary") {
    import spark.implicits._
    val T0 = 1700006400L
    val base = T0 - 3600L // 600-aligned; first sample lands exactly here
    val rows = (0L until 110L).map { j =>
      val m = base + j * 60L
      ("m", "h1", m * 1000000000L, 1.0)
    }
    val ch = Ts.chunkify(rows.toDF("type", "host", "ts", "v"),
      Seq("type", "host"), "ts", "v")
    // grid straddles the data start; default 300s lookback: a sample
    // at ts is visible at step t iff ts <= t <= ts + 299
    val abs1 = Promql.evalRange(ch, Seq("type", "host"),
        """absent({type="m"})""", base - 1200L, base + 1200L, 600L)
      .collect().map(_.getAs[Long]("ts")).toSet
    assert(abs1 == Set(base - 1200L, base - 600L)) // pre-data steps only
    // a selector matching nothing is absent at EVERY step, labeled by
    // its equality matchers
    val abs2 = Promql.evalRange(ch, Seq("type", "host"),
        """absent({type="m", host="h9"})""", T0, T0 + 3000L, 600L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("ts")))
    assert(abs2.length == 6 && abs2.forall(t => t._1 == "m" && t._2 == "h9"))
    // stepped timestamp: the last visible sample second per step —
    // samples land every 60s up to T0+2940, so each covered step's
    // answer is the step itself and the final step sees the last sample
    val ts1 = Promql.evalRange(ch, Seq("type", "host"),
        """timestamp({type="m"})""", T0, T0 + 3000L, 600L)
      .collect().map(r => r.getAs[Long]("ts") -> r.getAs[Double]("value")).toMap
    assert((0L to 4L).forall(i => ts1(T0 + i * 600) == (T0 + i * 600).toDouble))
    assert(ts1(T0 + 3000L) == (T0 + 2940L).toDouble)
  }

  test("stepped predict_linear is EXACT on an integer line") {
    import spark.implicits._
    // cents(u) = 1000 + 2u on a 60s cadence: slope, means, and the
    // extrapolation instant are all exactly-representable integers,
    // so every float in ŷ = v̄ + slope·(x − t̄) is exact and the
    // forecast must equal the true line at x = step instant − 1 + h
    val T0 = 1700006400L // 600-aligned
    val (d, step, h) = (3600L, 600L, 1800L)
    val base = T0 - d
    val rows = (0L until 110L).map { j =>
      val m = base + j * 60L
      val cents = 1000L + 2L * (m - base)
      ("m", "h1", m * 1000000000L, cents.toDouble / 100.0)
    }
    val chunks2 = Ts.chunkify(rows.toDF("type", "host", "ts", "v"),
      Seq("type", "host"), "ts", "v")
    val got = Promql.evalRange(chunks2, Seq("type", "host"),
        s"predict_linear(m[1h], 30m)", T0, T0 + 3000L, step)
      .orderBy("ts").collect()
      .map(r => r.getAs[Long]("ts") -> r.getAs[Double]("value")).toMap
    assert(got.size == 6)
    (0L to 5L).foreach { i =>
      val x = i * step + (d - 1) + h // relative to base, integer-exact
      val want = (1000L + 2L * x).toDouble / 100.0
      assert(got(T0 + i * step) == want, s"step $i")
    }
  }

  // ===== scale pins =====

  test("selector through the string front-end still pushes to the chunk scan") {
    val df = Promql.eval(chunks, labelCols,
      """sum by (region) (sum_over_time({type="click", host=~"h1.*"}[2d]))""", EvalTs)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(type,click)"), plan.take(3000))
    assert(plan.contains("StringStartsWith(host") ||
      plan.contains("StartsWith(host"), plan.take(3000))
    // compressed-domain: the _over_time family never materializes points
    assert(!plan.contains("gorilla_decode"),
      "sum_over_time must stay compressed-domain:\n" + plan.take(3000))
    assert(plan.contains("gorilla_chunk_agg_range"), plan.take(3000))
  }

  test("absent/timestamp decode ONLY the timestamp stream (ts-only kernel)") {
    Seq(
      Promql.eval(chunks, labelCols,
        """absent_over_time({type="click", host="h999"}[2d])""", EvalTs),
      Promql.eval(chunks, labelCols,
        """timestamp({type="purchase", host=~"h1.*"})""", EvalTs),
      Promql.evalRange(chunks, labelCols,
        """absent_over_time({type="purchase", host="h11"}[6h])""",
        1703980800L, 1704153600L, 7200L)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("gorilla_decode_ts"), plan.take(2000))
      // the value stream must never decode on the presence path
      assert(!plan.replace("gorilla_decode_ts", "").contains("gorilla_decode"),
        "value decode on a ts-only path:\n" + plan.take(3000))
    }
  }

  test("rate decodes ONLY selector survivors; binary-op one side broadcasts") {
    val rate = Promql.eval(chunks, labelCols,
      """sum by (region) (rate({type="click", host=~"h1.*"}[2d]))""", EvalTs)
    val rPlan = rate.queryExecution.executedPlan.toString
    assert(rPlan.contains("EqualTo(type,click)"), rPlan.take(3000))
    assert(rPlan.contains("gorilla_decode"), rPlan.take(3000)) // samples needed
    val gl = Promql.eval(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[2d])) " +
        "/ on(region) group_left sum by (region) (sum_over_time(click[2d]))", EvalTs)
    val gPlan = gl.queryExecution.executedPlan.toString
    assert(gPlan.contains("BroadcastHashJoin") || gPlan.contains("BroadcastExchange"),
      gPlan.take(3000))
    assert(gl.count() > 0)
  }

  // ===== round-12: math tail, time()/calendar, vector()/scalar() =====

  test("parser: pi()/time()/vector()/scalar(), zero-arg calendar, math tail") {
    assert(parse("pi()") == NumLit(math.Pi))
    assert(parse("time()") == TimeExpr)
    assert(parse("hour()") == MathCall("hour", TimeExpr, Nil))
    assert(parse("day_of_week(timestamp(click))") ==
      MathCall("day_of_week",
        FnCall("timestamp", VectorSel(Seq(Labels.Eq("type", "click")), None, 0L)), Nil))
    assert(parse("scalar(sum(click))") ==
      ScalarCall(AggExpr("sum", None, NoGroup,
        VectorSel(Seq(Labels.Eq("type", "click")), None, 0L))))
    assert(parse("vector(time())") == FnCall("vector", TimeExpr))
    assert(parse("ln(click)") ==
      MathCall("ln", VectorSel(Seq(Labels.Eq("type", "click")), None, 0L), Nil))
    // bare `pi` (no parens) stays a metric-name selector
    assert(parse("pi") == VectorSel(Seq(Labels.Eq("type", "pi")), None, 0L))
  }

  test("stepped irate/idelta == per-step instant evaluation") {
    val start = 1704844800L
    for (q <- Seq("irate(view[1d])", "idelta(view[1d])")) {
      val got = Promql.evalRange(chunks, labelCols, q, start, EvalTs, 21600L)
        .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3)), r.getDouble(4))).toMap
      // the stepped window at t is the LEFT-CLOSED [t−d, t−1] — the
      // instant window of an evaluation at t−1
      val want = (start to EvalTs by 21600L).flatMap { t =>
        Promql.eval(chunks, labelCols, q, t - 1).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2), t),
            r.getDouble(3)))
      }.toMap
      assert(got.nonEmpty && got.keySet == want.keySet, s"$q keys")
      want.foreach { case (k, v) => assert(got(k) == v, s"$q $k") }
    }
  }

  test("@ start()/end() resolve to the query's own bounds") {
    assert(parse("sum_over_time(x[2d] @ end())") ==
      FnCall("sum_over_time",
        VectorSel(Seq(Labels.Eq("type", "x")), Some(172800L), 0L, Some(AtEnd))))
    // instant query: start() == end() == the evaluation instant
    val viaEnd = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d] @ end()))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val plain = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(viaEnd.nonEmpty && viaEnd == plain)
    // range query: @ end() pins every step's window at endTs — equal
    // to the same window pinned at the literal timestamp
    val start = 1704844800L
    val ge = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[1d] @ end()))",
      start, EvalTs, 7200L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val gl = Promql.evalRange(chunks, labelCols,
      s"sum by (region) (sum_over_time(click[1d] @ $EvalTs))",
      start, EvalTs, 7200L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ge.nonEmpty && ge == gl)
    // @ start() pins at the grid start
    val gs = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[1d] @ start()))",
      start, EvalTs, 7200L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val gsl = Promql.evalRange(chunks, labelCols,
      s"sum by (region) (sum_over_time(click[1d] @ $start))",
      start, EvalTs, 7200L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gs.nonEmpty && gs == gsl && gs != ge)
  }

  test("negative offset looks forward: offset -d at T == no offset at T+d") {
    assert(parse("sum_over_time(x[2d] offset -1d)") ==
      FnCall("sum_over_time",
        VectorSel(Seq(Labels.Eq("type", "x")), Some(172800L), -86400L)))
    val shifted = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[1d] offset -1d))", EvalTs - 86400L)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val plain = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[1d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(shifted.nonEmpty && shifted == plain)
  }

  test("stepped negative offset: window at t == unshifted window at t+d") {
    val start = 1704844800L
    val got = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[6h] offset -6h))",
      start, EvalTs - 21600L, 7200L)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[6h]))",
      start + 21600L, EvalTs, 7200L)
      .collect().map(r => ((r.getString(0), r.getLong(1) - 21600L), r.getDouble(2))).toMap
    assert(got.nonEmpty && got == want)
  }

  // the shapes Prometheus's own documentation, the querying examples
  // page, and common Grafana/SLO dashboards use — compositions
  // (nested binops, @ + offset + subquery, aggregation-over-binop,
  // postfix grouping), not just tokens. Metric names adapted to the
  // corpus (click/view/purchase; labels host/region). Shared by the
  // parse-level sweep AND the round-16 eval-level sweep below.
  private lazy val acceptShapes = Seq(
      // selectors & modifiers
      "click",
      """{type="click"}""",
      """click{host="h1"}""",
      """click{host=~"h1.*", region!="r2"}""",
      """click{host!~"h[0-9]"}""",
      "click offset 5m",
      "click offset -5m",
      "click @ 1705017600",
      "click @ 1705017600 offset 1h",
      // rates & windows
      "rate(click[5m])",
      "irate(click[5m])",
      "increase(click[1h])",
      "delta(view[1h])",
      "idelta(view[1h])",
      "deriv(view[1h])",
      "predict_linear(view[1h], 3600)",
      "resets(click[1d])",
      "changes(click[1d])",
      "avg_over_time(view[1h])",
      "min_over_time(view[1h])",
      "max_over_time(view[1h])",
      "sum_over_time(view[1h])",
      "count_over_time(view[1h])",
      "last_over_time(view[1h])",
      "present_over_time(view[1h])",
      "stddev_over_time(view[1h])",
      "stdvar_over_time(view[1h])",
      "quantile_over_time(0.95, view[1h])",
      "mad_over_time(view[1h])",
      "holt_winters(view[1d], 0.3, 0.1)",
      "rate(click[5m] offset 1h)",
      // aggregations, prefix AND postfix grouping
      "sum(click)",
      "sum by (host) (click)",
      "sum without (host, region) (click)",
      "sum(click) by (host)",
      "sum(rate(click[5m])) without (host)",
      "avg by (region) (click)",
      "count(click)",
      """count_values("val", click)""",
      "topk(3, click)",
      "bottomk(3, click)",
      "quantile(0.9, click)",
      "stddev(click)",
      "stdvar(click)",
      "group by (host) (click)",
      "limitk(10, click)",
      "limit_ratio(0.5, click)",
      // binops, comparisons, set ops, matching
      "click + view",
      "click - view",
      "click * view",
      "click / view",
      "click % view",
      "click ^ 2",
      "click > 10",
      "click == bool 10",
      "click != bool 0",
      "click and view",
      "click or view",
      "click unless view",
      "click and on (host) view",
      "click or ignoring (region) view",
      "click * on (host) group_left view",
      "view * on (host) group_right sum by (host) (click)",
      "click atan2 view",
      "(click + view) * 2",
      "-click",
      // the Grafana/SLO composition staples
      "sum(rate(click[5m])) / sum(rate(view[5m]))",
      "100 * (1 - avg by (host) (rate(click[5m])))",
      "histogram_quantile(0.9, sum by (le) (rate(click[5m])))",
      "histogram_quantile(0.95, sum(rate(click[5m])) by (le))",
      "topk(5, sum by (host) (rate(click[5m])))",
      "(sum(rate(click[5m])) - sum(rate(view[5m]))) / sum(rate(click[5m]))",
      """sum(rate(click{region="r1"}[1h])) / sum(rate(view{region="r1"}[1h])) > bool 0.01""",
      """sum by (region) (label_replace(rate(click[5m]), "dc", "$1", "host", "h(.*)"))""",
      // functions
      "abs(click - view)",
      "ceil(click)",
      "floor(click)",
      "round(click, 5)",
      "clamp(click, 0, 10)",
      "clamp_max(click, 10)",
      "clamp_min(click, 0)",
      "exp(ln(click))",
      "sqrt(click)",
      "asinh(click)",
      "acosh(click)",
      "atanh(sgn(click) / 2)",
      "log2(click)",
      "log10(click)",
      "sgn(click - view)",
      "sort(click)",
      "sort_desc(click)",
      """sort_by_label(click, "host")""",
      """label_join(click, "hr", "-", "host", "region")""",
      "vector(1)",
      "click - scalar(sum(view))",
      """absent(click{host="nope"})""",
      "absent_over_time(click[1h])",
      "timestamp(click)",
      "hour(timestamp(click))",
      "time()",
      "day_of_week()",
      "histogram_count(click)",
      "histogram_sum(click)",
      "histogram_avg(click)",
      "histogram_stddev(click)",
      "histogram_fraction(0, 0.5, click)",
      """info(click, {type="purchase"})""",
      // subqueries and @/offset composition
      "sum_over_time(click[1h:5m])",
      "max_over_time(rate(click[5m])[30m:5m])",
      "avg_over_time(max_over_time(view[5m])[1h:5m])",
      "sum_over_time(click[1h:5m] offset 1h)",
      "rate(click[5m] @ 1705017600)",
      "sum(rate(click[5m] @ 1705017600) or rate(view[5m]))",
      "click @ start()",
      "rate(click[5m] @ end())",
      "double_exponential_smoothing(view[1d], 0.3, 0.1)",
      "click ^ 2",
      "2 ^ -1 * click",
      "-click ^ 2")

  test("conformance sweep: real-world query shapes parse; malformed reject") {
    // Parse-level: accept means the parser builds an Expr; semantic
    // errors (e.g. a histogram member on a non-bucket vector) are
    // eval's job (the eval-level sweep below).
    val accept = acceptShapes
    val reject = Seq(
      "sum(",
      "rate(click[5])",        // duration needs a unit
      "click offset",          // dangling modifier
      "histogram_quantile(click)", // missing phi
      "sum by host (click)",   // grouping labels need parens
      """click{host=}""",
      "topk(click)",           // missing k
      "click[5m",              // unterminated range
      "click{",                // unterminated selector
      "rate(click[5m]",        // unbalanced parens
      """label_replace(click, "dc")""", // arity
      "click @ ",              // dangling @
      "1 +",                   // dangling operator
      "sum() (click)",         // empty call
      """count_values(click, "v")""") // param order
    val failed = accept.filter { q =>
      try { parse(q); false } catch { case _: IllegalArgumentException => true }
    }
    assert(failed.isEmpty, s"real-world shapes REJECTED:\n  ${failed.mkString("\n  ")}")
    val wrongly = reject.filter { q =>
      try { parse(q); true } catch { case _: IllegalArgumentException => false }
    }
    assert(wrongly.isEmpty, s"malformed shapes ACCEPTED:\n  ${wrongly.mkString("\n  ")}")
  }

  test("conformance sweep: every accepted shape EVALUATES or rejects semantically") {
    // round-16: composition bugs live in LOWERING, not parsing — every
    // parse-accepted shape must drive through Promql.eval against the
    // real sf0.001 store and either produce a materialized result
    // (rows ≥ 0) or raise the engine's own IllegalArgumentException (a
    // DOCUMENTED semantic rejection, e.g. a histogram member on a
    // non-bucket vector). An AnalysisException, codegen failure,
    // MatchError, or NPE here is a lowering bug: a serving endpoint
    // would 500 instead of 400.
    var evaluated = 0
    var rejected = Vector.empty[String]
    val crashes = acceptShapes.flatMap { q =>
      try { Promql.eval(chunks, labelCols, q, EvalTs).count(); evaluated += 1; None }
      catch {
        case e: IllegalArgumentException => rejected :+= s"$q -> ${e.getMessage}"; None
        case e: Throwable => Some(s"$q -> ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    assert(crashes.isEmpty, s"lowering CRASHES:\n  ${crashes.mkString("\n  ")}")
    // the pass must not vacuously succeed by rejecting everything: the
    // overwhelming majority of documented shapes genuinely evaluate
    // (the only legitimate rejections are histogram members over the
    // non-bucket store and the float-sum ordering guards)
    assert(evaluated >= acceptShapes.size - 12,
      s"only $evaluated/${acceptShapes.size} evaluated; rejections:\n  " +
        rejected.mkString("\n  "))
  }

  test("conformance sweep: every accepted shape drives evalRange too") {
    // round-17: the STEPPED lowering is the larger composition surface
    // (40+ promql_range_* keys) — every parse-accepted shape must also
    // drive through Promql.evalRange on a real grid and either
    // materialize or raise the engine's own IllegalArgumentException.
    // A crash here is a range-mode lowering bug the instant sweep
    // cannot see (grid assembly, step-keyed joins, @/offset
    // composition against the panel window). Step 300 s divides every
    // window duration the shapes use; rejections must belong to the
    // engine's DOCUMENTED classes — an IAE outside the whitelist is a
    // new semantic bug, not a pass.
    val start = EvalTs - 4 * 300L
    val documented = Seq(
      "bare instant selector in a range query", // wrap-in-_over_time rule
      "must be a positive multiple",            // window vs step grid
      "needs an 'le'",                          // histogram member, non-bucket store
      "order-dependent",                        // float-sum ordering guards
      "not in result labels",                   // by(le) on the non-bucket store
      "absent(v) needs a plain selector")
    var evaluated = 0
    var rejected = Vector.empty[String]
    val crashes = acceptShapes.flatMap { q =>
      try {
        Promql.evalRange(chunks, labelCols, q, start, EvalTs, 300L).count()
        evaluated += 1; None
      } catch {
        case e: IllegalArgumentException => rejected :+= s"$q -> ${e.getMessage}"; None
        case e: Throwable => Some(s"$q -> ${e.getClass.getName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    assert(crashes.isEmpty, s"range lowering CRASHES:\n  ${crashes.mkString("\n  ")}")
    val undocumented = rejected.filterNot(r => documented.exists(r.contains))
    assert(undocumented.isEmpty,
      s"UNDOCUMENTED range-mode rejections:\n  ${undocumented.mkString("\n  ")}")
    // 41 of the 116 instant shapes are range-evaluable as written (the
    // wrap-in-_over_time rule rejects every bare-selector composition
    // by design); pin the floor so a lowering regression that silently
    // flips evaluating shapes into rejections fails here
    assert(evaluated >= 41,
      s"only $evaluated/${acceptShapes.size} evaluated in range mode; " +
        s"rejections:\n  ${rejected.mkString("\n  ")}")
  }

  test("function parity: every Prometheus 3.x function evaluates end-to-end") {
    // The COMPLETE function inventory of the Prometheus 3.x reference
    // (functions page + aggregation operators, experimental included),
    // each with one evaluable shape driven through the real store.
    // This is the completeness gate behind the "full function parity"
    // claim: a new Prometheus function is a FAILING test here first
    // (add the name with no shape), then an implementation. The shape
    // must MATERIALIZE (count() runs) — parse-accept alone is not
    // parity.
    val shapes = Map[String, String](
      // math (pointwise)
      "abs" -> "abs(click - view)", "ceil" -> "ceil(click)",
      "floor" -> "floor(click)", "round" -> "round(click, 5)",
      "clamp" -> "clamp(click, 0, 10)", "clamp_max" -> "clamp_max(click, 10)",
      "clamp_min" -> "clamp_min(click, 0)", "sqrt" -> "sqrt(click)",
      "sgn" -> "sgn(click - view)", "exp" -> "exp(sgn(click))",
      "ln" -> "ln(click)", "log2" -> "log2(click)", "log10" -> "log10(click)",
      "deg" -> "deg(click)", "rad" -> "rad(click)",
      "sin" -> "sin(click)", "cos" -> "cos(click)", "tan" -> "tan(click)",
      "asin" -> "asin(sgn(click))", "acos" -> "acos(sgn(click))",
      "atan" -> "atan(click)", "sinh" -> "sinh(sgn(click))",
      "cosh" -> "cosh(sgn(click))", "tanh" -> "tanh(click)",
      "asinh" -> "asinh(click)", "acosh" -> "acosh(click)",
      "atanh" -> "atanh(sgn(click) / 2)", "pi" -> "deg(vector(pi()))",
      // range-vector
      "rate" -> "rate(click[1h])", "irate" -> "irate(click[1h])",
      "increase" -> "increase(click[1h])", "delta" -> "delta(view[1h])",
      "idelta" -> "idelta(view[1h])", "deriv" -> "deriv(view[1h])",
      "predict_linear" -> "predict_linear(view[1h], 3600)",
      "resets" -> "resets(click[1d])", "changes" -> "changes(click[1d])",
      "avg_over_time" -> "avg_over_time(view[1h])",
      "min_over_time" -> "min_over_time(view[1h])",
      "max_over_time" -> "max_over_time(view[1h])",
      "sum_over_time" -> "sum_over_time(view[1h])",
      "count_over_time" -> "count_over_time(view[1h])",
      "last_over_time" -> "last_over_time(view[1h])",
      "present_over_time" -> "present_over_time(view[1h])",
      "stddev_over_time" -> "stddev_over_time(view[1h])",
      "stdvar_over_time" -> "stdvar_over_time(view[1h])",
      "quantile_over_time" -> "quantile_over_time(0.95, view[1h])",
      "mad_over_time" -> "mad_over_time(view[1h])",
      "holt_winters" -> "holt_winters(view[1d], 0.3, 0.1)",
      "double_exponential_smoothing" ->
        "double_exponential_smoothing(view[1d], 0.3, 0.1)",
      "ts_of_last_over_time" -> "ts_of_last_over_time(view[1h])",
      "ts_of_max_over_time" -> "ts_of_max_over_time(view[1h])",
      "ts_of_min_over_time" -> "ts_of_min_over_time(view[1h])",
      // labels, sorting, existence
      "label_replace" ->
        """label_replace(click, "dc", "$1", "host", "h(.*)")""",
      "label_join" -> """label_join(click, "hr", "-", "host", "region")""",
      "sort" -> "sort(click)", "sort_desc" -> "sort_desc(click)",
      "sort_by_label" -> """sort_by_label(click, "host")""",
      "sort_by_label_desc" -> """sort_by_label_desc(click, "host")""",
      "absent" -> """absent(click{host="nope"})""",
      "absent_over_time" -> "absent_over_time(click[1h])",
      "info" ->
        """info(sum by (host) (sum_over_time(click[6h])), {type="purchase"})""",
      // scalars, time, calendar
      "scalar" -> "click - scalar(sum(view))", "vector" -> "vector(1)",
      "time" -> "vector(time())", "timestamp" -> "timestamp(click)",
      "minute" -> "minute()", "hour" -> "hour(timestamp(click))",
      "day_of_week" -> "day_of_week()", "day_of_month" -> "day_of_month()",
      "days_in_month" -> "days_in_month()", "month" -> "month()",
      "year" -> "year()",
      // aggregation operators
      "sum" -> "sum by (host) (click)", "min" -> "min(click)",
      "max" -> "max(click)", "avg" -> "avg by (region) (click)",
      "group" -> "group by (host) (click)", "stddev" -> "stddev(click)",
      "stdvar" -> "stdvar(click)", "count" -> "count(click)",
      "count_values" -> """count_values("val", click)""",
      "bottomk" -> "bottomk(3, click)", "topk" -> "topk(3, click)",
      "quantile" -> "quantile(0.9, click)", "limitk" -> "limitk(10, click)",
      "limit_ratio" -> "limit_ratio(0.5, click)")
    // the histogram members need a bucketed store ('le' label) — the
    // spec's classic bucket fixture, same EvalTs frame
    val hch = graft.queries.TsQueries.histStoreChunks(spark, dir)
    val hlc = graft.queries.TsQueries.histLabelCols
    val histShapes = Map[String, String](
      "histogram_quantile" ->
        "histogram_quantile(0.9, sum by (le) (rate(click[2d])))",
      "histogram_count" -> "histogram_count(sum by (le) (rate(click[2d])))",
      "histogram_sum" -> "histogram_sum(sum by (le) (rate(click[2d])))",
      "histogram_avg" -> "histogram_avg(sum by (le) (rate(click[2d])))",
      "histogram_stddev" -> "histogram_stddev(sum by (le) (rate(click[2d])))",
      "histogram_stdvar" -> "histogram_stdvar(sum by (le) (rate(click[2d])))",
      "histogram_fraction" ->
        "histogram_fraction(0, 50, sum by (le) (rate(click[2d])))")
    val failures =
      (shapes.toSeq.map { case (fn, q) => (fn, q, chunks, labelCols) } ++
        histShapes.toSeq.map { case (fn, q) => (fn, q, hch, hlc) })
        .sortBy(_._1).flatMap { case (fn, q, st, lc) =>
          try { Promql.eval(st, lc, q, EvalTs).count(); None }
          catch { case e: Throwable =>
            Some(s"$fn: $q -> ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString) }
        }
    assert(failures.isEmpty, s"parity failures:\n  ${failures.mkString("\n  ")}")
    val inventory = shapes.keySet ++ histShapes.keySet
    // the engine's own public function sets stay inside the inventory —
    // no invented names masquerading as Prometheus surface
    (Promql.MathFns ++ Promql.CalFns ++ Promql.RangeFns).foreach(fn =>
      assert(inventory.contains(fn), s"engine function '$fn' not in the inventory"))
    // and an unknown function still rejects with the parser's own error
    intercept[IllegalArgumentException] {
      Promql.eval(chunks, labelCols, "made_up_fn(click)", EvalTs).count()
    }
  }

  test("^: right-assoc, tighter than unary minus, one pow per element") {
    val base = "sum by (region) (sum_over_time(click[2d]))"
    val x = Promql.eval(chunks, labelCols, base, EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val sq = Promql.eval(chunks, labelCols, s"$base ^ 2", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(sq.nonEmpty && sq.keySet == x.keySet)
    sq.foreach { case (k, v) => assert(v == math.pow(x(k), 2.0)) }
    // unary minus binds LOOSER: −x^2 = −(x^2), never (−x)^2
    val neg = Promql.eval(chunks, labelCols, s"-$base ^ 2", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    neg.foreach { case (k, v) => assert(v == -math.pow(x(k), 2.0)) }
    // right associativity: 2^3^2 = 2^(3^2) = 512, not (2^3)^2 = 64
    val ra = Promql.eval(chunks, labelCols, "vector(2 ^ 3 ^ 2)", EvalTs)
      .collect().map(_.getDouble(0))
    assert(ra.toSeq == Seq(512.0))
  }

  test("parser fuzz: random token soup parses or fails with IAE, never crashes") {
    // a malformed query must die with the parser's own error type —
    // a MatchError / NPE / StackOverflow here would crash a serving
    // endpoint instead of 400ing the query
    val rnd = new scala.util.Random(20260815L)
    val atoms = Vector("sum", "rate", "click", "by", "(", ")", "[", "]",
      "{", "}", "2d", "5m", ",", "+", "*", "/", "on", "group_left",
      "\"x\"", "=", "=~", "offset", "@", "1705017600", "0.5", "time",
      "scalar", "vector", "hour", "ln", "unless", "bool", ":", "-",
      "topk", "quantile_over_time", "pi", "label_replace",
      // round-14 surface: the fuzz must churn through the new arms too
      "atan2", "info", "limitk", "limit_ratio", "sort_by_label",
      "histogram_sum", "histogram_fraction", "mad_over_time",
      "ts_of_max_over_time", "count_values", "histogram_stddev")
    var parsed = 0
    (1 to 500).foreach { _ =>
      val q = Seq.fill(1 + rnd.nextInt(12))(atoms(rnd.nextInt(atoms.size)))
        .mkString(" ")
      try { parse(q); parsed += 1 }
      catch { case _: IllegalArgumentException => () }
    }
    assert(parsed > 0) // the soup occasionally forms a legal query
  }

  test("calendar functions at the evaluation instant (2024-01-12 Friday 00:00Z)") {
    def one(q: String): Double =
      Promql.eval(chunks, labelCols, q, EvalTs).collect().head.getDouble(0)
    assert(one("year()") == 2024.0)
    assert(one("month()") == 1.0)
    assert(one("day_of_month()") == 12.0)
    assert(one("day_of_week()") == 5.0) // Prom convention: 0 = Sunday
    assert(one("days_in_month()") == 31.0)
    assert(one("hour()") == 0.0)
    assert(one("minute()") == 0.0)
    // and over a VECTOR argument: hour of each series' last sample ts
    val hv = Promql.eval(chunks, labelCols,
      """hour(timestamp({type="purchase"}))""", EvalTs, 86400L).collect()
    assert(hv.nonEmpty && hv.forall { r =>
      val h = r.getDouble(3); h >= 0 && h <= 23 })
  }

  test("math tail: exp/ln round-trip, log identities, deg(pi)=180") {
    val x = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val lnv = Promql.eval(chunks, labelCols,
      "ln(sum by (region) (sum_over_time(click[2d])))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(lnv.keySet == x.keySet && x.nonEmpty)
    lnv.foreach { case (k, v) => assert(math.abs(v - math.log(x(k))) < 1e-12) }
    val rt = Promql.eval(chunks, labelCols,
      "exp(ln(sum by (region) (sum_over_time(click[2d]))))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    rt.foreach { case (k, v) => assert(math.abs(v / x(k) - 1.0) < 1e-12) }
    val l2 = Promql.eval(chunks, labelCols,
      "log2(sum by (region) (sum_over_time(click[2d])))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    l2.foreach { case (k, v) => assert(math.abs(v - math.log(x(k)) / math.log(2)) < 1e-9) }
    assert(Promql.eval(chunks, labelCols, "deg(vector(pi()))", EvalTs)
      .collect().head.getDouble(0) == 180.0)
    // off-domain logs carry NaN / -Inf, never drop the sample
    val neg = Promql.eval(chunks, labelCols,
      "ln(sum by (region) (sum_over_time(click[2d])) * 0)", EvalTs).collect()
    assert(neg.length == x.size && neg.forall(_.getDouble(1).isNegInfinity))
  }

  test("inverse hyperbolics: closed forms, odd symmetry, poles, NaN off-domain") {
    def one(q: String): Double =
      Promql.eval(chunks, labelCols, q, EvalTs).collect().head.getDouble(0)
    // in-domain values agree with the log closed forms (and with Go's
    // math.* to well past 1e-12 at these magnitudes)
    assert(math.abs(one("asinh(vector(0.75))")
      - math.log(0.75 + math.sqrt(0.75 * 0.75 + 1))) < 1e-15)
    assert(math.abs(one("acosh(vector(2.5))")
      - math.log(2.5 + math.sqrt(2.5 * 2.5 - 1))) < 1e-15)
    assert(math.abs(one("atanh(vector(0.5))") - 0.5 * math.log(3.0)) < 1e-15)
    // odd symmetry is exact by construction (mirrored positive branch),
    // not within-epsilon — the naive single formula would cancel
    assert(one("asinh(vector(-3))") == -one("asinh(vector(3))"))
    assert(one("atanh(vector(-0.5))") == -one("atanh(vector(0.5))"))
    // atanh poles: Go's ±Inf at ±1
    assert(one("atanh(vector(1))").isPosInfinity)
    assert(one("atanh(vector(-1))").isNegInfinity)
    // off-domain carries NaN, never drops the sample (acosh < 1 both
    // sides of 0, |atanh| > 1)
    Seq("acosh(vector(0.5))", "acosh(vector(-2))",
        "atanh(vector(2))", "atanh(vector(-1.5))")
      .foreach(q => assert(one(q).isNaN, q))
    // identity round-trips through the exact selector path
    val x = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val rt = Promql.eval(chunks, labelCols,
      "sinh(asinh(sum by (region) (sum_over_time(click[2d])) / 1000))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rt.keySet == x.keySet && x.nonEmpty)
    rt.foreach { case (k, v) => assert(math.abs(v / (x(k) / 1000) - 1) < 1e-12) }
  }

  test("time()/scalar() are scalar-typed: elementwise, no label matching") {
    val base = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val t = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d])) - time() / 100", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(t.keySet == base.keySet && base.nonEmpty)
    t.foreach { case (k, v) =>
      assert(v == base(k) - EvalTs.toDouble / 100.0) }
    // scalar(sum(...)): the 1-row total applies to every element
    val total = base.values.sum
    val share = Promql.eval(chunks, labelCols,
      "sum by (region) (sum_over_time(click[2d]))" +
        " / scalar(sum(sum_over_time(click[2d])))", EvalTs)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    share.foreach { case (k, v) =>
      assert(math.abs(v - base(k) / total) < 1e-12) }
    // scalar of a MULTI-element vector is NaN
    val nan = Promql.eval(chunks, labelCols,
      "vector(scalar(sum by (region) (sum_over_time(click[2d]))))", EvalTs)
      .collect()
    assert(nan.length == 1 && nan.head.getDouble(0).isNaN)
  }

  test("unless on(): the hour-gated silencing idiom suppresses and passes") {
    val alert = "sum by (region) (sum_over_time(click[2d]))"
    // EvalTs is 00:00 UTC: hour() < 8 matches -> whole vector suppressed
    assert(Promql.eval(chunks, labelCols,
      s"$alert unless on() (hour() < 8)", EvalTs).count() == 0)
    // gate empty -> alert passes through untouched
    val passed = Promql.eval(chunks, labelCols,
      s"$alert unless on() (hour() >= 8)", EvalTs).count()
    assert(passed > 0 &&
      passed == Promql.eval(chunks, labelCols, alert, EvalTs).count())
    // and on(): the complementary gate keeps iff the gate matches
    assert(Promql.eval(chunks, labelCols,
      s"$alert and on() (hour() < 8)", EvalTs).count() == passed)
    assert(Promql.eval(chunks, labelCols,
      s"$alert and on() (hour() >= 8)", EvalTs).count() == 0)
  }

  test("group_left(labels) carries one-side labels onto the many side") {
    assert(parse("a / on(host) group_left(version, build) b") ==
      BinExpr("/", VectorSel(Seq(Labels.Eq("type", "a")), None, 0L),
        VectorSel(Seq(Labels.Eq("type", "b")), None, 0L),
        Matching(Some(Seq("host")), Nil, groupLeft = true, groupRight = false,
          carry = Seq("version", "build"))))
    // info-metric join: tier comes off the one side, value untouched
    val got = Promql.eval(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[2d]))" +
        " * on(host) group_left(tier) label_replace(" +
        "sum by (host) (sum_over_time(purchase[2d])) > bool -1," +
        " \"tier\", \"gold\", \"host\", \"h1.*\")", EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getString(2), r.getDouble(3)))).toMap
    val base = Promql.eval(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val oneHosts = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(purchase[2d]))", EvalTs)
      .collect().map(_.getString(0)).toSet
    assert(got.nonEmpty && got.keySet == base.keySet.filter(k => oneHosts(k._1)))
    got.foreach { case ((h, r), (tier, v)) =>
      assert(tier == (if (h.startsWith("h1")) "gold" else ""), s"$h tier $tier")
      assert(v == base((h, r)) * 1.0)
    }
    // a carried label missing on the one side fails loudly
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[2d]))" +
        " * on(host) group_left(nope) sum by (host) (sum_over_time(purchase[2d]))",
      EvalTs))
    // the carry composes with range queries: the step joins implicitly
    val stepped = Promql.evalRange(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[1d]))" +
        " * on(host) group_left(tier) label_replace(" +
        "sum by (host) (sum_over_time(purchase[1d])) > bool -1," +
        " \"tier\", \"gold\", \"host\", \"h1.*\")",
      1704844800L, EvalTs, 21600L).collect()
    assert(stepped.nonEmpty)
    stepped.foreach { r =>
      val h = r.getAs[String]("host")
      val tier = r.getAs[String]("tier")
      assert(tier == (if (h.startsWith("h1")) "gold" else ""), s"$h $tier")
    }
  }

  test("@ in stepped mode: the pinned window is one instant eval replicated") {
    val start = 1704844800L
    def grid(q: String) = Promql.evalRange(chunks, labelCols, q,
      start, EvalTs, 7200L, lookbackSec = 86400L)
    def inst(q: String) = Promql.eval(chunks, labelCols, q, EvalTs, 86400L)
    // every stepped lowering family lowers the pin, not just _over_time
    for (q <- Seq(
      s"sum by (region) (sum_over_time(click[2d] @ $EvalTs))",
      s"quantile_over_time(0.5, view[1d] @ $EvalTs)",
      s"""absent_over_time({type="click", host="h999"}[2d] @ $EvalTs)""",
      s"deriv(view[1d] @ $EvalTs)",
      s"predict_linear(view[1d] @ $EvalTs, 3600)",
      s"""timestamp({type="purchase"} @ $EvalTs)""")) {
      val g = grid(q).collect()
      val i = inst(q).collect()
      val nSteps = (EvalTs - start) / 7200 + 1
      assert(g.length == i.length * nSteps, s"$q: ${g.length} vs ${i.length}")
      // per step, the constant equals the instant evaluation
      val perStep = g.groupBy(r => r.getLong(r.fieldIndex("ts")))
      assert(perStep.size == nSteps)
      val iSet = i.map(r => r.toSeq.map {
        case d: Double => math.rint(d * 1e9); case x => x }).toSet
      perStep.values.foreach { rows =>
        val tsIdx = rows.head.fieldIndex("ts")
        val rSet = rows.map(r => r.toSeq.zipWithIndex
          .filterNot(_._2 == tsIdx).map(_._1).map {
            case d: Double => math.rint(d * 1e9); case x => x }).toSet
        assert(rSet == iSet, s"$q step mismatch")
      }
    }
    // an @-free window that is NOT grid-aligned still fails loudly,
    // while the same window pinned with @ is legal (no grid to align)
    intercept[IllegalArgumentException](grid("sum(sum_over_time(click[100000s]))"))
    assert(grid(s"sum(sum_over_time(click[100000s] @ $EvalTs))").count() > 0)
  }

  test("stepped time(): hour() rides the grid, one row per step") {
    val start = 1704844800L // 2024-01-10T00:00Z
    val got = Promql.evalRange(chunks, labelCols, "hour()",
      start, EvalTs, 7200L).orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = (start to EvalTs by 7200L).map(t => (t, (t % 86400 / 3600).toDouble))
    assert(got.toSeq == want)
    // and scalar-typed arithmetic joins per step, not per cross product
    val shifted = Promql.evalRange(chunks, labelCols,
      "sum by (region) (sum_over_time(click[6h])) * 0 + time()",
      start, EvalTs, 7200L).collect()
    assert(shifted.forall(r => r.getDouble(2) == r.getLong(1).toDouble))
  }

  // ===== round-14: histogram_count/sum/avg/fraction =====

  /** A tiny classic-bucket store on Prometheus's DEFAULT layout
    * (.005/.01/.025) — the exact bounds a cent-grid double parse
    * silently truncated before the micro-grid fix. Cumulative counts
    * 2/5/9/10 at one instant. */
  private def bucketStore = {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(("m", "h1", "0.005", 2.0), ("m", "h1", "0.01", 5.0),
      ("m", "h1", "0.025", 9.0), ("m", "h1", "+Inf", 10.0))
      .map { case (t, h, le, v) => (t, h, le, T0 * 1000000000L, v) }
    (Ts.chunkify(rows.toDF("type", "host", "le", "ts", "v"),
      Seq("type", "host", "le"), "ts", "v"), T0)
  }

  test("histogram_count/sum/avg: hand-computed on the default .005 layout") {
    val (ch, t0) = bucketStore
    def one(q: String): Double =
      Promql.eval(ch, Seq("type", "host", "le"), q, t0)
        .collect().map(_.getAs[Double]("value")).head
    assert(one("""histogram_count({type="m"})""") == 10.0)
    // sum = midpoint estimator: 2*.0025 + 3*.0075 + 4*.0175 + 1*.025
    assert(one("""histogram_sum({type="m"})""") == 0.1225)
    assert(one("""histogram_avg({type="m"})""") == 0.01225)
  }

  test("histogram_stddev/stdvar: exact-moment variance on the .005 layout") {
    val (ch, t0) = bucketStore
    def one(q: String): Double =
      Promql.eval(ch, Seq("type", "host", "le"), q, t0)
        .collect().map(_.getAs[Double]("value")).head
    // cents deltas 200/300/400/100, fc micros 5000/15000/35000/50000:
    // the same expression tree the engine runs, over the exact moments
    val mu = 24500000.0 / (2.0e6 * 1000.0)
    val vr = 812500000000.0 / (4.0e12 * 1000.0) - mu * mu
    assert(one("""histogram_stdvar({type="m"})""") == vr)
    assert(one("""histogram_stddev({type="m"})""") == math.sqrt(vr))
    // single-bucket histogram: E[mid²] and μ² round through different
    // trees and can land one ulp apart — the clamp must answer exactly
    // 0, never a NaN stddev
    import spark.implicits._
    val T1 = 1700006400L
    val one1 = Seq(("m", "h1", "0.005", 7.0), ("m", "h1", "+Inf", 7.0))
      .map { case (t, h, le, v) => (t, h, le, T1 * 1000000000L, v) }
    val ch1 = Ts.chunkify(one1.toDF("type", "host", "le", "ts", "v"),
      Seq("type", "host", "le"), "ts", "v")
    def one2(q: String): Double =
      Promql.eval(ch1, Seq("type", "host", "le"), q, T1)
        .collect().map(_.getAs[Double]("value")).head
    assert(one2("""histogram_stdvar({type="m"})""") == 0.0)
    assert(one2("""histogram_stddev({type="m"})""") == 0.0)
  }

  test("histogram_sum: a bound OFF the 1e-6 grid fails loud, never truncates") {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(("m", "h1", "0.0000005", 2.0), ("m", "h1", "+Inf", 3.0))
      .map { case (t, h, le, v) => (t, h, le, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "le", "ts", "v"),
      Seq("type", "host", "le"), "ts", "v")
    val e = intercept[Exception] {
      Promql.eval(ch, Seq("type", "host", "le"),
        """histogram_sum({type="m"})""", T0).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not on the exact 1e-6 grid")), msgs(e).toString)
  }

  test("histogram_fraction: clamped bounds, straddle interpolation, lo>hi rejected") {
    val (ch, t0) = bucketStore
    def frac(lo: String, hi: String): Double =
      Promql.eval(ch, Seq("type", "host", "le"),
          s"""histogram_fraction($lo, $hi, {type="m"})""", t0)
        .collect().map(_.getAs[Double]("value")).head
    // interpolation inside (.005, .01]: F(.0075) = 200 + 300*0.5 = 350
    assert(frac("0", "0.0075") == 0.35)
    // a negative bound clamps to the first-bucket floor 0
    assert(frac("-5", "0.0075") == frac("0", "0.0075"))
    // bounds past the last finite bucket both collapse to prevCum
    assert(frac("0.03", "100") == 0.0)
    assert(frac("0", "1000") == 0.9) // pinned: +Inf mass is unreachable
    intercept[IllegalArgumentException](frac("1", "0.5"))
  }

  // ===== round-15: native histograms (exponential buckets) =====

  test("NativeHist bucket table: exact integer thresholds, exact membership") {
    val b = NativeHist.buckets
    // monotone, gap-free cent coverage from 0
    assert(b.head._2 == 0L)
    b.sliding(2).foreach { case Seq(p, n) => assert(p._3 == n._2) case _ => }
    // membership agrees with the exact inequality c⁸ ≤ 2^i·10¹⁶ on
    // boundary-heavy cents (200 = exactly 2.00, a power-of-two bound)
    val T = BigInt(10).pow(16)
    for (c <- Seq(1L, 2L, 99L, 100L, 101L, 199L, 200L, 201L, 4999L, 50000L)) {
      val Seq((i, _, _, lod, hid)) =
        b.filter(t => c > t._2 && c <= t._3).toSeq: @unchecked
      def fits(j: Int): Boolean = {
        val shift = if (j < 0) -j else 0
        (BigInt(c).pow(8) << shift) <=
          (if (j > 0) BigInt(2).pow(j) else BigInt(1)) * T
      }
      assert(fits(i) && !fits(i - 1), s"cents $c -> idx $i")
      assert(lod == math.pow(2, (i - 1) / 8.0) && hid == math.pow(2, i / 8.0))
    }
  }

  test("native histogram_quantile/count/sum/avg: hand-computed; zero arm") {
    import spark.implicits._
    val T0 = 1700006400L
    // h1: 4 obs in idx 8 = (2^(7/8), 2], 6 obs in idx 16 = (2^(15/8), 4],
    // sum 4·2 + 6·4 = 32; h2: 3 zero obs + 1 in idx 8, sum 2
    val rows = Seq(
      ("m", "h1", "8", 4.0), ("m", "h1", "16", 6.0),
      ("m", "h1", "count", 10.0), ("m", "h1", "sum", 32.0),
      ("m", "h2", "zero", 3.0), ("m", "h2", "8", 1.0),
      ("m", "h2", "count", 4.0), ("m", "h2", "sum", 2.0))
      .map { case (t, h, nb, v) => (t, h, nb, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "nb", "ts", "v"),
      Seq("type", "host", "nb"), "ts", "v")
    def byHost(q: String): Map[String, Double] =
      Promql.eval(ch, Seq("type", "host", "nb"), q, T0)
        .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    // rank = .5·1000 raw lands in idx 16: linear inside (2^(15/8), 4]
    val lo = math.pow(2, 15 / 8.0); val hi = math.pow(2, 2.0)
    val want = lo + (hi - lo) * ((500.0 - 400.0) / (1000.0 - 400.0))
    val q5 = byHost("""histogram_quantile(0.5, {type="m"})""")
    assert(q5("h1") == want)
    assert(q5("h2") == 0.0) // rank 200 < zero-arm cum 300 -> exactly 0
    // φ = 1 answers the top bucket's exact upper bound
    assert(byHost("""histogram_quantile(1.0, {type="m"})""")("h1") == 4.0)
    assert(byHost("""histogram_count({type="m"})""") ==
      Map("h1" -> 10.0, "h2" -> 4.0))
    // native sum is EXACT (carried, not midpoint-estimated)
    assert(byHost("""histogram_sum({type="m"})""") ==
      Map("h1" -> 32.0, "h2" -> 2.0))
    assert(byHost("""histogram_avg({type="m"})""") ==
      Map("h1" -> 3.2, "h2" -> 0.5))
    // fraction: bound 1.9 lands inside idx 8, lo 0 on the zero arm —
    // the expected values re-run the engine's exact float tree
    val (o8, fr) = NativeHist.locate(1.9)
    assert(o8 == 8)
    val fx = byHost("""histogram_fraction(0, 1.9, {type="m"})""")
    assert(fx("h1") == ((0.0 + 400.0 * fr) - (0.0 + 0.0 * 1.0)) / 1000.0)
    // h2: the zero arm holds 3 of 4 obs (F(0) = 300 raw), idx 8 the rest
    assert(fx("h2") == ((300.0 + 100.0 * fr) - (0.0 + 300.0 * 1.0)) / 400.0)
    // a bound past the table answers the full cumulative -> fraction 1
    assert(byHost("""histogram_fraction(0, 100000, {type="m"})""")("h1") == 1.0)
  }

  // ===== round-16: ADVICE fixes =====

  /** The h1/h2 native vector the round-15 test uses, for the r16
    * boundary pins: h1 = 4 obs in idx 8 + 6 in idx 16 (sum 32),
    * h2 = 3 zeros + 1 in idx 8 (sum 2). */
  private def nativeVec = {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(
      ("m", "h1", "8", 4.0), ("m", "h1", "16", 6.0),
      ("m", "h1", "count", 10.0), ("m", "h1", "sum", 32.0),
      ("m", "h2", "zero", 3.0), ("m", "h2", "8", 1.0),
      ("m", "h2", "count", 4.0), ("m", "h2", "sum", 2.0))
      .map { case (t, h, nb, v) => (t, h, nb, T0 * 1000000000L, v) }
    (Ts.chunkify(rows.toDF("type", "host", "nb", "ts", "v"),
      Seq("type", "host", "nb"), "ts", "v"), T0)
  }

  test("NativeHist.locate: a gap bound answers the cumulative below it") {
    // below ~0.07 the cent-empty filter leaves gaps between kept
    // buckets' bound doubles (bucket −53 ends at ~0.01013, bucket −45
    // starts at ~0.01858); a bound in a gap holds no observable mass,
    // so F(bound) must count exactly the buckets entirely below —
    // (first kept bucket above, fraction 0) — never Int.MaxValue
    // ("past the table" would count ALL mass below the bound)
    val b = NativeHist.buckets
    val gapX = 0.015
    assert(!b.exists(t => gapX > t._4 && gapX <= t._5)) // genuinely a gap
    assert(NativeHist.locate(gapX) == (-45, 0.0))
    // below the whole table: first bucket at fraction 0 (unchanged)
    assert(NativeHist.locate(1e-9) == (b.head._1, 0.0))
    // past the table: the full cumulative (unchanged)
    assert(NativeHist.locate(1e9) == (Int.MaxValue, 0.0))
    // engine-level consequence: a gap bound inside histogram_fraction
    // counts nothing between 0.015 and 0.05 for h2 (zero arm + idx 8
    // only) — before the fix flo counted ALL 400 raw and the fraction
    // came out −0.25
    val (ch, t0) = nativeVec
    val fx = Promql.eval(ch, Seq("type", "host", "nb"),
        """histogram_fraction(0.015, 0.05, {type="m"})""", t0)
      .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    assert(fx("h2") == 0.0)
    assert(fx("h1") == 0.0)
  }

  test("native histogram_quantile: phi outside [0,1] rejected, phi=0 pinned") {
    val (ch, t0) = nativeVec
    def q(phi: String): Map[String, Double] =
      Promql.eval(ch, Seq("type", "host", "nb"),
          s"""histogram_quantile($phi, {type="m"})""", t0)
        .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    assert(intercept[IllegalArgumentException](q("1.5"))
      .getMessage.contains("phi in [0, 1]"))
    // a negative φ literal is already rejected at PARSE time (the
    // grammar takes a bare scalar); either layer is a loud rejection
    intercept[IllegalArgumentException](q("-0.1"))
    // φ = 0: the LOWEST POPULATED bucket's lower bound — rank 0 must
    // skip empty leading buckets, never evaluate 0/0 → NaN; h2's
    // lowest populated arm is the zero bucket → exactly 0
    val q0 = q("0")
    assert(q0("h1") == math.pow(2, 7 / 8.0))
    assert(q0("h2") == 0.0)
  }

  test("histogram_stdvar: a second-moment decimal overflow fails loud") {
    // le bounds near the ±2e12 cap: the +2e12 cap keeps every fc LONG
    // in range but fc² ≈ 1.5e37 needs only Δ ≥ 7 to pass decimal(38,0)
    // — under non-ANSI Spark the overflowed product is a silent NULL
    // that sum() would drop, quietly shrinking the second moment
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(("m", "h1", "1900000000000", 2.0),
      ("m", "h1", "2000000000000", 9.0), ("m", "h1", "+Inf", 9.0))
      .map { case (t, h, le, v) => (t, h, le, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "le", "ts", "v"),
      Seq("type", "host", "le"), "ts", "v")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      Promql.eval(ch, Seq("type", "host", "le"),
        """histogram_stdvar({type="m"})""", T0).collect()
    }
    // under ANSI (Spark 4 default) the product itself raises; under
    // non-ANSI the product nulls and the engine's guard raises — both
    // paths fail LOUD, neither quietly shrinks the moment
    assert(msgs(e).exists(m => m.contains("overflows decimal(38,0)") ||
      m.contains("cannot be represented as Decimal")), msgs(e).toString)
    // the same layout stays fine for the FIRST moment only
    val s = Promql.eval(ch, Seq("type", "host", "le"),
      """histogram_sum({type="m"})""", T0).collect()
    assert(s.length == 1)
  }

  // ===== round-16: mixed-schema native histograms =====

  /** A two-resolution fleet: h1 scrapes at schema 3 (2^(1/8)
    * buckets), h2 at the coarser schema 2 (2^(1/4)). The thresholds
    * nest, so h1's idx 8/16 land inside schema-2 buckets 4/8. */
  private def mixedVec = {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(
      ("m", "h1", "3", "8", 4.0), ("m", "h1", "3", "16", 6.0),
      ("m", "h1", "3", "count", 10.0), ("m", "h1", "3", "sum", 32.0),
      ("m", "h2", "2", "zero", 1.0), ("m", "h2", "2", "4", 2.0),
      ("m", "h2", "2", "8", 2.0),
      ("m", "h2", "2", "count", 5.0), ("m", "h2", "2", "sum", 10.0))
      .map { case (t, h, sc, nb, v) => (t, h, sc, nb, T0 * 1000000000L, v) }
    (Ts.chunkify(rows.toDF("type", "host", "schema", "nb", "ts", "v"),
      Seq("type", "host", "schema", "nb"), "ts", "v"), T0)
  }
  private val mixedLbl = Seq("type", "host", "schema", "nb")

  test("NativeHist: cent thresholds nest across schemas") {
    // bucket_2(c) == ⌈bucket_3(c)/2⌉ for every cent — the exactness
    // that makes downscale-then-merge equal direct coarse assignment
    def idxAt(bs: Seq[(Int, Long, Long, Double, Double)], c: Long): Int =
      bs.find(t => c > t._2 && c <= t._3).get._1
    for (c <- Seq(1L, 2L, 5L, 99L, 100L, 101L, 200L, 201L, 4999L, 50000L, 243486L)) {
      val i3 = idxAt(NativeHist.buckets, c)
      val i2 = idxAt(NativeHist.bucketsFor(2), c)
      assert(i2 == math.ceil(i3 / 2.0).toInt, s"c=$c ($i3 -> $i2)")
    }
  }

  test("mixed-schema sum by (nb): downscale-to-coarsest merge") {
    val (ch, t0) = mixedVec
    val got = Promql.eval(ch, mixedLbl, """sum by (nb) ({type="m"})""", t0)
      .collect().map(r => (r.getAs[String]("schema"), r.getAs[String]("nb")) ->
        r.getAs[Double]("value")).toMap
    // h1's idx 8/16 remap to ⌈8/2⌉=4 / ⌈16/2⌉=8 and merge with h2's
    // native schema-2 buckets; arms pass through; the result CARRIES
    // the coarsest schema
    assert(got == Map(("2", "zero") -> 1.0, ("2", "4") -> 6.0,
      ("2", "8") -> 8.0, ("2", "count") -> 15.0, ("2", "sum") -> 42.0))
  }

  test("mixed-schema downscale: ceiling index mapping, both signs") {
    import spark.implicits._
    val T0 = 1700006400L
    // idx 9 → ⌈9/2⌉ = 5 (a truncating div would answer 4);
    // idx −53 → ⌈−53/2⌉ = −26 (a floor div would answer −27)
    val rows = Seq(("m", "h1", "3", "9", 1.0), ("m", "h1", "3", "-53", 2.0),
      ("m", "h2", "2", "4", 4.0))
      .map { case (t, h, sc, nb, v) => (t, h, sc, nb, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    val got = Promql.eval(ch, mixedLbl, """sum by (nb) ({type="m"})""", T0)
      .collect().map(r => r.getAs[String]("nb") -> r.getAs[Double]("value")).toMap
    assert(got == Map("5" -> 1.0, "-26" -> 2.0, "4" -> 4.0))
  }

  test("mixed-schema merge == direct coarse assignment (randomized property)") {
    // the algebraic content of the downscale: assigning observations
    // at schema 3 and downscaling the indices MUST be
    // indistinguishable from assigning the same observations at
    // schema 2 directly — for the index map on random cents, and
    // END-TO-END for the merged quantile/sum/count against a
    // pre-coarsened single-schema twin (bit-equal, not approximately)
    val rnd = new scala.util.Random(20260816L)
    val b3 = NativeHist.buckets; val b2 = NativeHist.bucketsFor(2)
    def idxAt(bs: Seq[(Int, Long, Long, Double, Double)], c: Long): Int =
      bs.find(t => c > t._2 && c <= t._3).get._1
    (1 to 2000).foreach { _ =>
      // log-uniform cents over the full enumerated span
      val c = math.max(1L, math.exp(rnd.nextDouble() * math.log(1158524.0)).toLong)
      val i3 = idxAt(b3, c); val i2 = idxAt(b2, c)
      assert(i2 == math.ceil(i3 / 2.0).toInt, s"c=$c ($i3 -> $i2)")
    }
    // end-to-end twin: h1 scrapes half the observations at schema 3,
    // h2 the other half at schema 2; the single-host twin assigns ALL
    // of them at schema 2
    import spark.implicits._
    val T0 = 1700006400L
    val obs = Seq.fill(300)(
      math.max(0L, math.exp(rnd.nextDouble() * math.log(1158524.0)).toLong -
        (if (rnd.nextInt(20) == 0) 10000000L else 0L))) // a few zeros
    val (o1, o2) = obs.splitAt(150)
    def bucketRows(host: String, sch: String,
                   bs: Seq[(Int, Long, Long, Double, Double)],
                   os: Seq[Long]): Seq[(String, String, String, String, Long, Double)] = {
      val byIdx = os.filter(_ > 0).groupBy(c => idxAt(bs, c).toString)
        .map { case (i, cs) => (i, cs.size.toDouble) }
      val zero = os.count(_ <= 0).toDouble
      (byIdx.toSeq ++ (if (zero > 0) Seq("zero" -> zero) else Nil) ++
        Seq("count" -> os.size.toDouble, "sum" -> os.map(math.max(_, 0L)).sum / 100.0))
        .map { case (nb, v) => ("m", host, sch, nb, T0 * 1000000000L, v) }
    }
    val mixed = Ts.chunkify(
      (bucketRows("h1", "3", b3, o1) ++ bucketRows("h2", "2", b2, o2))
        .toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    val twin = Ts.chunkify(
      bucketRows("h0", "2", b2, obs)
        .toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    for (q <- Seq("histogram_quantile(0.25, sum by (nb) ({type=\"m\"}))",
        "histogram_quantile(0.7, sum by (nb) ({type=\"m\"}))",
        "histogram_quantile(0.99, sum by (nb) ({type=\"m\"}))",
        "histogram_sum(sum by (nb) ({type=\"m\"}))",
        "histogram_count(sum by (nb) ({type=\"m\"}))",
        "histogram_fraction(0.2, 7.7, sum by (nb) ({type=\"m\"}))")) {
      val a = Promql.eval(mixed, mixedLbl, q, T0)
        .collect().map(_.getAs[Double]("value")).toSeq
      val b = Promql.eval(twin, mixedLbl, q, T0)
        .collect().map(_.getAs[Double]("value")).toSeq
      assert(a.length == 1 && a == b, s"$q: mixed=$a twin=$b")
    }
  }

  test("mixed-schema histogram_quantile: interpolates on the coarsest bounds") {
    val (ch, t0) = mixedVec
    val q = Promql.eval(ch, mixedLbl,
        """histogram_quantile(0.5, sum by (nb) ({type="m"}))""", t0).collect()
    assert(q.length == 1 && q.head.getAs[String]("schema") == "2")
    // merged: zero 100, nb4 700, nb8 1500 raw; rank .5·1500 = 750 →
    // nb8 at SCHEMA-2 bounds (2^(7/4), 2^2]
    val lo = math.pow(2, 7 / 4.0); val hi = 4.0
    assert(q.head.getAs[Double]("value") ==
      lo + (hi - lo) * ((750.0 - 700.0) / (1500.0 - 700.0)))
    // arms survive the merge: count/sum/avg over the mixed fleet
    def one(fn: String): Double =
      Promql.eval(ch, mixedLbl, s"""$fn(sum by (nb) ({type="m"}))""", t0)
        .collect().map(_.getAs[Double]("value")).head
    assert(one("histogram_count") == 15.0)
    assert(one("histogram_sum") == 42.0)
    assert(one("histogram_avg") == 4200.0 / 1500.0)
    // fraction over the merged (schema-labeled) vector: bounds locate
    // per resolution; (0, 2] covers zero + nb4 fully and none of nb8
    // (2 is exactly nb4's upper bound at schema 2)
    val fr = Promql.eval(ch, mixedLbl,
        """histogram_fraction(0, 2, sum by (nb) ({type="m"}))""", t0)
      .collect().map(_.getAs[Double]("value")).head
    val (o2, f2) = NativeHist.locateAt(2.0, 2)
    assert(o2 == 4 && f2 == 1.0)
    // F(2) = zero(100) + nb4 mass(600)·1.0; F(0) = zero(100)
    assert(fr == ((100.0 + 600.0 * 1.0) - 100.0) / 1500.0)
  }

  test("native histogram_stddev/stdvar: geometric-midpoint convention") {
    val (ch, t0) = nativeVec
    def byHost(q: String): Map[String, Double] =
      Promql.eval(ch, Seq("type", "host", "nb"), q, t0)
        .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    // Prometheus native convention: Σ n·(√(lo·hi) − μ)² / count, the
    // zero arm at mid 0 — expected values re-run the engine's exact
    // float tree in the SAME sort_array(ord) fold order
    def mid(i: Int) = {
      val b = NativeHist.buckets.find(_._1 == i).get; Math.sqrt(b._4 * b._5)
    }
    val mu1 = 3200.0 / 1000.0
    val vr1 = (400.0 * (mid(8) - mu1) * (mid(8) - mu1) +
      600.0 * (mid(16) - mu1) * (mid(16) - mu1)) / 1000.0
    val mu2 = 200.0 / 400.0
    val vr2 = (300.0 * (0.0 - mu2) * (0.0 - mu2) +
      100.0 * (mid(8) - mu2) * (mid(8) - mu2)) / 400.0
    val sv = byHost("""histogram_stdvar({type="m"})""")
    assert(sv == Map("h1" -> vr1, "h2" -> vr2))
    val sd = byHost("""histogram_stddev({type="m"})""")
    assert(sd == Map("h1" -> math.sqrt(vr1), "h2" -> math.sqrt(vr2)))
  }

  // ===== round-16: NHCB (native histogram, custom buckets) =====

  test("NHCB (nbc) vector: classic interpolation off non-cumulative buckets") {
    import spark.implicits._
    val T0 = 1700006400L
    // custom bounds 10/25/50 + +Inf, NON-cumulative counts 2/3/4/1,
    // exact sum arm 123 (classic midpoint estimation would answer
    // 2·5 + 3·17.5 + 4·37.5 + 1·50 = 262.5 — the NHCB migration keeps
    // the true sum)
    val rows = Seq(("m", "h1", "10", 2.0), ("m", "h1", "25", 3.0),
      ("m", "h1", "50", 4.0), ("m", "h1", "+Inf", 1.0),
      ("m", "h1", "count", 10.0), ("m", "h1", "sum", 123.0))
      .map { case (t, h, nbc, v) => (t, h, nbc, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "nbc", "ts", "v"),
      Seq("type", "host", "nbc"), "ts", "v")
    def one(q: String): Double =
      Promql.eval(ch, Seq("type", "host", "nbc"), q, T0)
        .collect().map(_.getAs[Double]("value")).head
    // rank .5·1000 = 500 raw; cum 200/500/900/1000 → the 25 bucket at
    // its exact upper edge: 10 + 15·(500−200)/(500−200) = 25
    assert(one("""histogram_quantile(0.5, {type="m"})""") == 25.0)
    // a rank below the first bound interpolates from lower bound 0
    assert(one("""histogram_quantile(0.1, {type="m"})""") ==
      0.0 + 10.0 * (100.0 - 0.0) / (200.0 - 0.0))
    // rank 950 lands in +Inf → the last finite bound
    assert(one("""histogram_quantile(0.95, {type="m"})""") == 50.0)
    assert(one("""histogram_count({type="m"})""") == 10.0)
    assert(one("""histogram_sum({type="m"})""") == 123.0) // EXACT
    assert(one("""histogram_avg({type="m"})""") == 12.3)
    // fraction: bucket 10 full (200 raw) + straddle of (10, 25] at
    // (20−10)/(25−10); a bound past the last finite bucket collapses
    // the +Inf partial term to exactly 0 (full finite cumulative)
    assert(one("""histogram_fraction(0, 20, {type="m"})""") ==
      (200.0 + 300.0 * ((20.0 - 10.0) / (25.0 - 10.0))) / 1000.0)
    assert(one("""histogram_fraction(0, 1000, {type="m"})""") == 0.9)
    // a negative lo clamps to the first-bucket floor 0
    assert(one("""histogram_fraction(-5, 20, {type="m"})""") ==
      one("""histogram_fraction(0, 20, {type="m"})"""))
    intercept[IllegalArgumentException](
      one("""histogram_fraction(5, 1, {type="m"})"""))
    // the unsupported members fail loud with the migration guidance
    val e = intercept[IllegalArgumentException](
      one("""histogram_stddev({type="m"})"""))
    assert(e.getMessage.contains("NHCB"))
    // phi validation mirrors the native path
    intercept[IllegalArgumentException](
      one("""histogram_quantile(1.5, {type="m"})"""))
  }

  test("nativeHistStoreChunks: an empty events table fails with a clear message") {
    val tmp = java.nio.file.Files.createTempDirectory("nhist_empty")
      .toFile.getAbsolutePath
    spark.read.parquet(s"$dir/events.parquet").limit(0)
      .write.parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalArgumentException](
      graft.queries.TsQueries.nativeHistStoreChunks(spark, tmp))
    assert(e.getMessage.contains("no events"))
  }

  // ===== round-15: the stepped classic-histogram family =====

  test("stepped histogram family == instant shifted one scrape") {
    // the hist store's counters sit ON the 7200-s scrape grid, so the
    // stepped left-closed window [t−d, t−1] covers scrapes
    // {t−d … t−7200} while the instant window (t'−d, t'] at
    // t' = t−7200 covers the same set — the stepped value at t must
    // equal the instant value at t−7200 BIT-EXACTLY for every
    // estimator in the family (same moments, same division trees)
    val hch = graft.queries.TsQueries.histStoreChunks(spark, dir)
    val hlc = graft.queries.TsQueries.histLabelCols
    val start = 1704844800L
    for (q <- Seq(
        "histogram_count(sum by (le) (rate(click[1d])))",
        "histogram_sum(sum by (le) (rate(click[1d])))",
        "histogram_avg(sum by (le) (rate(click[1d])))",
        "histogram_stddev(sum by (le) (rate(click[1d])))",
        "histogram_stdvar(sum by (le) (rate(click[1d])))",
        "histogram_fraction(20, 150, sum by (le) (rate(click[1d])))")) {
      val g = Promql.evalRange(hch, hlc, q, start, EvalTs, 7200L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
        .toMap
      assert(g.size == 25, q)
      for (t <- Seq(start, start + 12 * 7200L, EvalTs)) {
        val want = Promql.eval(hch, hlc, q, t - 7200L)
          .collect().map(_.getAs[Double]("value"))
        assert(want.length == 1 && g(t) == want.head, s"$q @ $t")
      }
    }
    // the NATIVE store sits on the same scrape grid, so the same
    // one-scrape-shift parity must hold for its whole family
    val nch = graft.queries.TsQueries.nativeHistStoreChunks(spark, dir)
    val nlc = graft.queries.TsQueries.nativeHistLabelCols
    for (q <- Seq(
        "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
        "histogram_count(sum by (nb) (rate(click[1d])))",
        "histogram_sum(sum by (nb) (rate(click[1d])))",
        "histogram_avg(sum by (nb) (rate(click[1d])))",
        "histogram_stddev(sum by (nb) (rate(click[1d])))",
        "histogram_stdvar(sum by (nb) (rate(click[1d])))",
        "histogram_fraction(0.2, 1.5, sum by (nb) (rate(click[1d])))")) {
      val g = Promql.evalRange(nch, nlc, q, start, EvalTs, 7200L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
        .toMap
      assert(g.size == 25, q)
      for (t <- Seq(start, start + 12 * 7200L, EvalTs)) {
        val want = Promql.eval(nch, nlc, q, t - 7200L)
          .collect().map(_.getAs[Double]("value"))
        assert(want.length == 1 && g(t) == want.head, s"native $q @ $t")
      }
    }
    // and the NHCB store: non-cumulative custom buckets must commute
    // with stepping through the classic interpolation body
    val cch = graft.queries.TsQueries.nhcbStoreChunks(spark, dir)
    val clc = graft.queries.TsQueries.nhcbLabelCols
    for (q <- Seq(
        "histogram_quantile(0.9, sum by (nbc) (rate(click[1d])))",
        "histogram_sum(sum by (nbc) (rate(click[1d])))",
        "histogram_count(sum by (nbc) (rate(click[1d])))")) {
      val g = Promql.evalRange(cch, clc, q, start, EvalTs, 7200L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
        .toMap
      assert(g.size == 25, q)
      for (t <- Seq(start, start + 12 * 7200L, EvalTs)) {
        val want = Promql.eval(cch, clc, q, t - 7200L)
          .collect().map(_.getAs[Double]("value"))
        assert(want.length == 1 && g(t) == want.head, s"nhcb $q @ $t")
      }
    }
    // and the MIXED-SCHEMA store: downscale + merge must commute with
    // stepping exactly like the single-schema lowering
    val mch = graft.queries.TsQueries.mixedNativeHistStoreChunks(spark, dir)
    val mlc = graft.queries.TsQueries.mixedNativeHistLabelCols
    for (q <- Seq(
        "histogram_quantile(0.9, sum by (nb) (rate(click[1d])))",
        "histogram_sum(sum by (nb) (rate(click[1d])))")) {
      val g = Promql.evalRange(mch, mlc, q, start, EvalTs, 7200L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
        .toMap
      assert(g.size == 25, q)
      for (t <- Seq(start, start + 12 * 7200L, EvalTs)) {
        val want = Promql.eval(mch, mlc, q, t - 7200L)
          .collect().map(_.getAs[Double]("value"))
        assert(want.length == 1 && g(t) == want.head, s"mixed $q @ $t")
      }
    }
  }

  test("ts_of_{last,max,min}_over_time: extreme timestamps, ties -> latest") {
    import spark.implicits._
    val T0 = 1700006400L
    // values 5, 9, 2, 9, 5: max 9 at t1 AND t3 (tie -> t3), min 2 at t2
    val rows = Seq(5.0, 9.0, 2.0, 9.0, 5.0).zipWithIndex.map { case (v, i) =>
      ("m", "h1", (T0 - 240 + i * 60) * 1000000000L, v)
    }
    val ch = Ts.chunkify(rows.toDF("type", "host", "ts", "v"),
      Seq("type", "host"), "ts", "v")
    def one(q: String): Double =
      Promql.eval(ch, Seq("type", "host"), q, T0)
        .collect().map(_.getAs[Double]("value")).head
    assert(one("ts_of_last_over_time(m[5m])") == T0.toDouble)
    assert(one("ts_of_max_over_time(m[5m])") == (T0 - 60).toDouble) // tie -> later
    assert(one("ts_of_min_over_time(m[5m])") == (T0 - 120).toDouble)
    // stepped == instant at each step, for all three (the bucket
    // struct-extreme partials must compose exactly, ties included).
    // PRECONDITION for every stepped==instant parity in this suite:
    // instant windows are (t−d, t] while stepped buckets are left-
    // closed [t−d, t−1], so parity is exact iff no sample lands on a
    // step-aligned second — true of this corpus family BY CONSTRUCTION
    // (the generator never emits step-aligned seconds); assert it so a
    // regenerated corpus that breaks the premise fails HERE, not as an
    // inscrutable value mismatch
    val start = 1704844800L
    assert(spark.read.parquet(s"$dir/events.parquet")
      .filter(expr("unix_timestamp(ts) % 7200 = 0")).isEmpty,
      "corpus now has step-aligned samples: the stepped/instant window " +
        "conventions differ at edges, every parity test needs revisiting")
    for (fn <- Seq("ts_of_last_over_time", "ts_of_max_over_time",
        "ts_of_min_over_time")) {
      val g = Promql.evalRange(chunks, labelCols, s"$fn(view[6h])",
          start, EvalTs, 7200L).collect()
        .map(r => ((r.getString(0), r.getString(1), r.getString(2),
          r.getAs[Long]("ts")), r.getAs[Double]("value"))).toMap
      val want = (start to EvalTs by 7200L).flatMap { t =>
        Promql.eval(chunks, labelCols, s"$fn(view[6h])", t).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2), t),
            r.getAs[Double]("value")))
      }.toMap
      assert(g.nonEmpty && g.keySet == want.keySet, fn)
      want.foreach { case (k, v) => assert(g(k) == v, s"$fn $k") }
    }
    // the decode-based functions at the window edge: `eval` at T−1 and
    // `evalRange`'s step T both read [T−d, T−1], so the two lowerings
    // must agree exactly whatever sits on a step-aligned second
    // (7d windows on a 1d grid: this sparse corpus needs the width for
    // most series to hold the >= 2 samples rate/deriv/holt_winters need)
    val steps = Seq(EvalTs - 2 * 86400L, EvalTs - 86400L, EvalTs)
    for (q <- Seq("rate(view[7d])", "increase(view[7d])", "changes(view[7d])",
        "resets(view[7d])", "delta(view[7d])", "last_over_time(view[7d])",
        "deriv(view[7d])", "predict_linear(view[7d], 1h)",
        "quantile_over_time(0.9, view[7d])", "holt_winters(view[7d], 0.5, 0.5)")) {
      val g = Promql.evalRange(chunks, labelCols, q, steps.head, steps.last, 86400L)
        .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2),
          r.getAs[Long]("ts")), r.getAs[Double]("value"))).toMap
      val want = steps.flatMap { t =>
        Promql.eval(chunks, labelCols, q, t - 1).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2), t),
            r.getAs[Double]("value")))
      }.toMap
      assert(g.nonEmpty && g.keySet == want.keySet, q)
      // predict_linear's mean time t̄ is one double division on each
      // arm's own origin (window start vs the grid's), so the two
      // roundings may differ in the last place; every other result is
      // exact integer math plus the same fixed IEEE ops
      val relTol = if (q.startsWith("predict_linear")) 1e-12 else 0.0
      want.foreach { case (k, v) =>
        assert(math.abs(g(k) - v) <= relTol * math.abs(v), s"$q $k: ${g(k)} vs $v")
      }
    }
  }

  // ===== round-14: mad_over_time =====

  test("mad_over_time: hand-computed; stepped == instant at each step") {
    import spark.implicits._
    val T0 = 1700006400L
    // cents 1,2,3,10: median 2.5, |dev| {1.5,.5,.5,7.5} -> MAD 1.0 cents
    val rows = Seq(0.01, 0.02, 0.03, 0.10).zipWithIndex.map { case (v, i) =>
      ("m", "h1", (T0 - 180 + i * 60) * 1000000000L, v)
    }
    val ch = Ts.chunkify(rows.toDF("type", "host", "ts", "v"),
      Seq("type", "host"), "ts", "v")
    val got = Promql.eval(ch, Seq("type", "host"),
      "mad_over_time(m[1h])", T0).collect()
    assert(got.length == 1 && got.head.getAs[Double]("value") == 0.01)
    // stepped parity on the real store (6h windows, 2h steps)
    val start = 1704844800L
    val g = Promql.evalRange(chunks, labelCols, "mad_over_time(view[6h])",
        start, EvalTs, 7200L).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2),
        r.getAs[Long]("ts")), r.getAs[Double]("value"))).toMap
    val want = (start to EvalTs by 7200L).flatMap { t =>
      Promql.eval(chunks, labelCols, "mad_over_time(view[6h])", t).collect()
        .map(r => ((r.getString(0), r.getString(1), r.getString(2), t),
          r.getAs[Double]("value")))
    }.toMap
    assert(g.nonEmpty && g.keySet == want.keySet)
    want.foreach { case (k, v) => assert(g(k) == v, s"mad $k") }
  }

  // ===== round-14: info() =====

  test("info(): LEFT join keeps unmatched elements with null data labels") {
    import spark.implicits._
    val T0 = 1700006400L
    // base series on h1 + h2; the info series only covers h1
    val rows = Seq(("m", "h1", "", 1.0), ("m", "h2", "", 2.0),
      ("tinfo", "h1", "prod", 1.0))
      .map { case (t, h, e, v) => (t, h, e, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "env", "ts", "v"),
      Seq("type", "host", "env"), "ts", "v")
    val got = Promql.eval(ch, Seq("type", "host", "env"),
        """info(sum by (host) (sum_over_time({type="m"}[5m])), {type="tinfo"})""",
        T0).orderBy("host").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getDouble(2)))
    assert(got.toSeq == Seq(("h1", Some("prod"), 1.0), ("h2", None, 2.0)))
  }

  test("info() in range mode: the step joins as a key (per-step enrichment)") {
    val q = """info(sum by (host) (sum_over_time(click[6h])), {type="purchase"})"""
    val start = 1704844800L
    val g = Promql.evalRange(chunks, labelCols, q, start, EvalTs, 7200L,
        lookbackSec = 86400L).collect()
      .map(r => ((r.getString(0), r.getAs[Long]("ts")),
        (Option(r.getString(r.fieldIndex("region"))), r.getAs[Double]("value")))).toMap
    val want = (start to EvalTs by 7200L).flatMap { t =>
      Promql.eval(chunks, labelCols, q, t, lookbackSec = 86400L).collect()
        .map(r => ((r.getString(0), t),
          (Option(r.getString(1)), r.getAs[Double]("value"))))
    }.toMap
    assert(g.nonEmpty && g.keySet == want.keySet)
    want.foreach { case (k, v) => assert(g(k) == v, s"info $k") }
    // the left-join arm is exercised: some step must carry a null region
    assert(g.values.exists(_._1.isEmpty), "expected at least one unenriched row")
  }

  // ===== round-14: limitk / limit_ratio =====

  test("limitk: deterministic, monotone in k, stepped == instant") {
    def hosts(q: String): Seq[String] =
      Promql.eval(chunks, labelCols, q, EvalTs).collect()
        .map(_.getAs[String]("host")).toSeq.sorted
    val k3 = hosts("limitk(3, sum by (host) (sum_over_time(click[2d])))")
    val k5 = hosts("limitk(5, sum by (host) (sum_over_time(click[2d])))")
    assert(k3.size == 3 && k5.size == 5 && k3.toSet.subsetOf(k5.toSet))
    // per-group arm: limitk by (region)(1, …) keeps exactly one host
    // per region, and it is the region's smallest-hash host
    val byG = Promql.eval(chunks, labelCols,
      "limitk by (region) (1, sum by (host, region) (sum_over_time(click[2d])))",
      EvalTs).collect().map(r => r.getString(1) -> r.getString(0)).toMap
    val allHR = Promql.eval(chunks, labelCols,
      "sum by (host, region) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => (r.getString(1), r.getString(0)))
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest((s + ":42").getBytes)
        .take(4).map("%02x".format(_)).mkString, 16)
    allHR.groupBy(_._1).foreach { case (rg, hs) =>
      val want = hs.map(_._2).minBy(h => (h32(h + "," + rg), h))
      assert(byG(rg) == want, s"region $rg")
    }
    // stepped: the per-step pick equals the instant pick at that step
    val start = 1704844800L
    val g = Promql.evalRange(chunks, labelCols,
        "limitk(2, sum by (host) (sum_over_time(click[6h])))",
        start, EvalTs, 7200L).collect()
      .map(r => (r.getAs[Long]("ts"), r.getString(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = (start to EvalTs by 7200L).map { t =>
      t -> Promql.eval(chunks, labelCols,
        "limitk(2, sum by (host) (sum_over_time(click[6h])))", t)
        .collect().map(_.getString(0)).toSet
    }.toMap
    assert(g == want.filter(_._2.nonEmpty))
  }

  test("limit_ratio: r and r-1 partition the vector exactly") {
    def hosts(q: String): Set[String] =
      Promql.eval(chunks, labelCols, q, EvalTs).collect()
        .map(_.getAs[String]("host")).toSet
    val all = hosts("sum by (host) (sum_over_time(click[2d]))")
    val keep = hosts("limit_ratio(0.25, sum by (host) (sum_over_time(click[2d])))")
    val comp = hosts("limit_ratio(-0.75, sum by (host) (sum_over_time(click[2d])))")
    assert((keep & comp).isEmpty && (keep ++ comp) == all)
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      "limit_ratio(1.5, sum by (host) (sum_over_time(click[2d])))", EvalTs))
  }

  // ===== round-14: count_values label name, sort_by_label =====

  test("count_values: the string names the output label; collisions rejected") {
    assert(parse("""count_values("version", x)""") ==
      AggExpr("count_values", None, NoGroup,
        VectorSel(Seq(Labels.Eq("type", "x")), None, 0L), Some("version")))
    intercept[IllegalArgumentException](parse("count_values(3, x)"))
    val df = Promql.eval(chunks, labelCols,
      """count_values("version", sum by (host) (sum_over_time(purchase[2d])))""",
      EvalTs)
    assert(df.columns.toSeq == Seq("version", "value"))
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      """count_values by (host) ("host", sum by (host) (sum_over_time(purchase[2d])))""",
      EvalTs))
  }

  test("atan2: word operator at * precedence; scalar and vector forms") {
    // precedence: a atan2 b * c == a atan2 (b * c); and it chains left
    val a = VectorSel(Seq(Labels.Eq("type", "a")), None, 0L)
    val b = VectorSel(Seq(Labels.Eq("type", "b")), None, 0L)
    val c = VectorSel(Seq(Labels.Eq("type", "c")), None, 0L)
    assert(parse("a atan2 b") == BinExpr("atan2", a, b, DefaultMatching))
    assert(parse("a + b atan2 c") ==
      BinExpr("+", a, BinExpr("atan2", b, c, DefaultMatching), DefaultMatching))
    // a metric literally named atan2 still parses at atom position
    assert(parse("atan2{host=\"h1\"}") ==
      VectorSel(Seq(Labels.Eq("type", "atan2"), Labels.Eq("host", "h1")), None, 0L))
    // vector atan2 scalar == Math.atan2 per element
    val base = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = Promql.eval(chunks, labelCols,
      "sum by (host) (sum_over_time(click[2d])) atan2 2", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.nonEmpty && got.keySet == base.keySet)
    got.foreach { case (h, v) => assert(v == math.atan2(base(h), 2.0), h) }
    // scalar-left form
    val gl = Promql.eval(chunks, labelCols,
      "2 atan2 sum by (host) (sum_over_time(click[2d]))", EvalTs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    gl.foreach { case (h, v) => assert(v == math.atan2(2.0, base(h)), h) }
  }

  test("sort_by_label orders by the labels then the rest; bad label rejected") {
    val rows = Promql.eval(chunks, labelCols,
      """sort_by_label(sum by (host, region) (sum_over_time(click[2d])), "region")""",
      EvalTs).collect().map(r => (r.getString(1), r.getString(0)))
    assert(rows.nonEmpty && rows.toSeq == rows.toSeq.sorted)
    intercept[IllegalArgumentException](Promql.eval(chunks, labelCols,
      """sort_by_label(sum by (host) (sum_over_time(click[2d])), "nope")""",
      EvalTs).collect())
  }

  // ===== round-17: full Prometheus schema range [-4, 8] =====

  test("NativeHist.bucketsFor: full-range tables are exact and nested") {
    // every schema in the Prometheus exponential range [-4, 8]:
    // gap-free monotone cent coverage from 0, same value span (the
    // top threshold reaches at least 100·2^13.5 — past the corpus
    // domain), bound doubles on the exact dyadic grid
    for (sc <- -4 to 8) {
      val b = NativeHist.bucketsFor(sc)
      assert(b.head._2 == 0L, s"schema $sc lo")
      b.sliding(2).foreach {
        case Seq(p, n) => assert(p._3 == n._2, s"schema $sc gap at ${n._1}")
        case _ =>
      }
      assert(b.last._3 >= 1158523L, s"schema $sc span ${b.last._3}")
      val p = if (sc >= 0) 1 << sc else 1
      val q = if (sc < 0) 1 << -sc else 1
      b.foreach { t =>
        assert(t._4 == math.pow(2, (t._1 - 1).toDouble * q / p) &&
          t._5 == math.pow(2, t._1.toDouble * q / p), s"schema $sc bound ${t._1}")
      }
    }
    // the schema-0 top bucket is the TRUE threshold 100·2^14 (the r16
    // search cap silently clamped it to 1200000 — ADVICE pin)
    assert(NativeHist.bucketsFor(0).last._3 == 1638400L)
    // exact membership at the extremes of the range: the cleared
    // inequality c^(2^s) ≤ 2^i·100^(2^s) at s = 8 (p = 256), and the
    // integer-base inequality c ≤ 100·2^(16i) at s = −4
    val b8 = NativeHist.bucketsFor(8)
    val T8 = BigInt(100).pow(256)
    for (c <- Seq(1L, 99L, 100L, 101L, 4999L, 50000L, 1158523L)) {
      val Seq((i, _, _, _, _)) =
        b8.filter(t => c > t._2 && c <= t._3).toSeq: @unchecked
      def fits(j: Int): Boolean = {
        val shift = if (j < 0) -j else 0
        (BigInt(c).pow(256) << shift) <=
          (if (j > 0) BigInt(2).pow(j) else BigInt(1)) * T8
      }
      assert(fits(i) && !fits(i - 1), s"schema 8 cents $c -> idx $i")
    }
    val bm4 = NativeHist.bucketsFor(-4)
    assert(bm4.map(_._1) == Seq(0, 1)) // (0.01¢…1], (1…65536] dollars
    assert(bm4.map(_._3) == Seq(100L, 6553600L))
    // out-of-range schemas fail loud
    intercept[IllegalArgumentException](NativeHist.bucketsFor(-5))
    intercept[IllegalArgumentException](NativeHist.bucketsFor(9))
  }

  test("NativeHist: thresholds nest across EVERY consecutive schema pair") {
    // idx_s(c) == ⌈idx_{s+1}(c)/2⌉ for random log-uniform cents at
    // every pair in [-4, 8] — the exactness the downscale remap rests
    // on, now over the full Prometheus range
    def idxAt(bs: Seq[(Int, Long, Long, Double, Double)], c: Long): Int =
      bs.find(t => c > t._2 && c <= t._3).get._1
    val rnd = new scala.util.Random(20260817L)
    val cents = Seq(1L, 2L, 99L, 100L, 101L, 6400L, 1158523L) ++
      Seq.fill(200)(math.max(1L,
        math.exp(rnd.nextDouble() * math.log(1158523.0)).toLong))
    for (s <- -4 to 7) {
      val bLo = NativeHist.bucketsFor(s); val bHi = NativeHist.bucketsFor(s + 1)
      cents.foreach { c =>
        val iLo = idxAt(bLo, c); val iHi = idxAt(bHi, c)
        assert(iLo == math.ceil(iHi / 2.0).toInt, s"s=$s c=$c ($iHi -> $iLo)")
      }
    }
  }

  test("mixed-schema downscale with a NEGATIVE coarsest schema") {
    import spark.implicits._
    val T0 = 1700006400L
    // h1 scrapes at schema 3, h2 at schema −2 (base 16): Δ = 5, so
    // h1's idx 8 (…, 2] and idx 16 (…, 4] both remap to ⌈i/32⌉ = 1 =
    // (1, 16] at schema −2 and merge with h2's native bucket 1
    val rows = Seq(
      ("m", "h1", "3", "8", 4.0), ("m", "h1", "3", "16", 6.0),
      ("m", "h1", "3", "count", 10.0), ("m", "h1", "3", "sum", 32.0),
      ("m", "h2", "-2", "zero", 1.0), ("m", "h2", "-2", "1", 2.0),
      ("m", "h2", "-2", "2", 2.0),
      ("m", "h2", "-2", "count", 5.0), ("m", "h2", "-2", "sum", 40.0))
      .map { case (t, h, sc, nb, v) => (t, h, sc, nb, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    val got = Promql.eval(ch, mixedLbl, """sum by (nb) ({type="m"})""", T0)
      .collect().map(r => (r.getAs[String]("schema"), r.getAs[String]("nb")) ->
        r.getAs[Double]("value")).toMap
    assert(got == Map(("-2", "zero") -> 1.0, ("-2", "1") -> 12.0,
      ("-2", "2") -> 2.0, ("-2", "count") -> 15.0, ("-2", "sum") -> 72.0))
    // quantile interpolates on the schema-(−2) bounds (1, 16]:
    // rank .5·1500 = 750 lands in merged bucket 1 (cum 100+1200)
    val q = Promql.eval(ch, mixedLbl,
      """histogram_quantile(0.5, sum by (nb) ({type="m"}))""", T0).collect()
    assert(q.length == 1 && q.head.getAs[String]("schema") == "-2")
    assert(q.head.getAs[Double]("value") ==
      1.0 + (16.0 - 1.0) * ((750.0 - 100.0) / (1300.0 - 100.0)))
  }

  test("mixed-schema non-sum aggregation merges per-series buckets first") {
    import spark.implicits._
    val T0 = 1700006400L
    // the ADVICE r16 case: h1's schema-3 indices 15/16 BOTH remap to
    // schema-2 index 8 — avg by (nb) must average the per-series
    // MERGED buckets (h1: 4+6=10, h2: 2 → avg 6), never the fragment
    // rows (avg(4,6,2) = 4)
    val rows = Seq(
      ("m", "h1", "3", "15", 4.0), ("m", "h1", "3", "16", 6.0),
      ("m", "h1", "3", "count", 10.0), ("m", "h1", "3", "sum", 32.0),
      ("m", "h2", "2", "8", 2.0),
      ("m", "h2", "2", "count", 2.0), ("m", "h2", "2", "sum", 7.0))
      .map { case (t, h, sc, nb, v) => (t, h, sc, nb, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    def by(q: String): Map[String, Double] =
      Promql.eval(ch, mixedLbl, q, T0)
        .collect().map(r => r.getAs[String]("nb") ->
          r.getAs[Number]("value").doubleValue).toMap
    assert(by("""avg by (nb) ({type="m"})""")("8") == 6.0)
    // count counts SERIES with the bucket, not fragments
    assert(by("""count by (nb) ({type="m"})""")("8") == 2.0)
    // min/max see the merged per-series value 10, not fragments 4/6
    assert(by("""max by (nb) ({type="m"})""")("8") == 10.0)
    assert(by("""min by (nb) ({type="m"})""")("8") == 2.0)
    // sum unchanged (fragments merge in the outer aggregate)
    assert(by("""sum by (nb) ({type="m"})""")("8") == 12.0)
  }

  test("schema label outside [-4,8] or non-canonical fails loud, never drops") {
    import spark.implicits._
    val T0 = 1700006400L
    def store(sc: String) = {
      val rows = Seq(("m", "h1", sc, "2", 4.0), ("m", "h1", sc, "count", 4.0),
        ("m", "h1", sc, "sum", 8.0))
        .map { case (t, h, s2, nb, v) => (t, h, s2, nb, T0 * 1000000000L, v) }
      Ts.chunkify(rows.toDF("type", "host", "schema", "nb", "ts", "v"),
        mixedLbl, "ts", "v")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for (bad <- Seq("9", "-5", "03", "x")) {
      val e = intercept[Exception](Promql.eval(store(bad), mixedLbl,
        """histogram_quantile(0.5, sum by (nb) ({type="m"}))""", T0).collect())
      assert(msgs(e).exists(_.contains("not a canonical integer")),
        s"schema '$bad': ${msgs(e)}")
    }
    // a VALID negative schema sails through the same path
    val ok = Promql.eval(store("-2"), mixedLbl,
      """histogram_quantile(0.5, sum by (nb) ({type="m"}))""", T0).collect()
    assert(ok.length == 1)
  }

  // ===== round-17: mirrored negative bucket spans =====

  /** A gauge-shaped native vector with NEGATIVE observations: h1 holds
    * 3 obs in mirror bucket n8 = [−2, −2^(7/8)), 2 zeros, and 5 in
    * positive idx 8 = (2^(7/8), 2]; sum = 3·(−2) + 5·2 = 4. */
  private def signedVec = {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(
      ("m", "h1", "n8", 3.0), ("m", "h1", "zero", 2.0), ("m", "h1", "8", 5.0),
      ("m", "h1", "count", 10.0), ("m", "h1", "sum", 4.0))
      .map { case (t, h, nb, v) => (t, h, nb, T0 * 1000000000L, v) }
    (Ts.chunkify(rows.toDF("type", "host", "nb", "ts", "v"),
      Seq("type", "host", "nb"), "ts", "v"), T0)
  }

  test("negative spans: quantile cumulates n-buckets, zero, then positive") {
    val (ch, t0) = signedVec
    def q(phi: Double): Double =
      Promql.eval(ch, Seq("type", "host", "nb"),
          s"""histogram_quantile($phi, {type="m"})""", t0)
        .collect().map(_.getAs[Double]("value")).head
    val lo8 = math.pow(2, 7 / 8.0); val hi8 = 2.0
    // rank .2·1000 = 200 lands inside n8 = [−2, −2^(7/8)): linear on
    // the MIRRORED bounds
    assert(q(0.2) == -hi8 + (-lo8 - -hi8) * ((200.0 - 0.0) / (300.0 - 0.0)))
    // rank .4·1000 = 400 lands in the zero arm → exactly 0
    assert(q(0.4) == 0.0)
    // rank .8·1000 = 800 lands in positive idx 8 (cum 300+200+500)
    assert(q(0.8) == lo8 + (hi8 - lo8) * ((800.0 - 500.0) / (1000.0 - 500.0)))
    // φ = 0: the LOWEST populated bucket's lower bound (n8's −2)
    assert(q(0.0) == -2.0)
  }

  test("negative spans: locateAt mirrors gaps and fraction uses signed F(x)") {
    // inside the mirror of idx 8: frac measures from the NEGATIVE end
    val lo8 = math.pow(2, 7 / 8.0)
    assert(NativeHist.locateAt(-1.9, 3) ==
      (NativeHist.negOrd(8), (-1.9 + 2.0) / (2.0 - lo8)))
    // exactly 0 → the zero arm in full (negative spans count below it)
    assert(NativeHist.locateAt(0.0, 3) == (NativeHist.ZeroOrd, 1.0))
    // a mirrored GAP bound: everything at-or-beyond the first kept
    // bucket counts in full (the positive-gap rule, mirrored)
    val gapX = -0.015
    val b = NativeHist.buckets
    assert(!b.exists(t => 0.015 > t._4 && 0.015 <= t._5))
    assert(NativeHist.locateAt(gapX, 3) == (NativeHist.negOrd(-45), 1.0))
    // below the table's most negative bound: F = 0
    assert(NativeHist.locateAt(-1e9, 3) == (Int.MinValue, 0.0))
    // engine: F(−1.9) counts the part of n8 below −1.9; F(2) is
    // everything — fraction(−1.9, 2) spans both signs and the zero arm
    val (ch, t0) = signedVec
    val fr = Promql.eval(ch, Seq("type", "host", "nb"),
        """histogram_fraction(-1.9, 2, {type="m"})""", t0)
      .collect().map(_.getAs[Double]("value")).head
    val fLo = (-1.9 + 2.0) / (2.0 - lo8)
    assert(fr == ((300.0 + 200.0 + 500.0 * 1.0) - (0.0 + 300.0 * fLo)) / 1000.0)
  }

  test("wide-fleet merge == direct coarse assignment (randomized, signed)") {
    // the r16 randomized twin property extended to round 17's surface:
    // a 4-schema fleet spanning the sign boundary (5/3/0/−2) with
    // SIGNED observations must be indistinguishable — bit-equal, not
    // approximately — from a single-host twin that assigns every
    // observation at the coarsest schema (−2) directly. Exercises the
    // cross-sign index remap, the mirrored-span remap tag, and the
    // signed cumulation order in one end-to-end property.
    val rnd = new scala.util.Random(20260818L)
    val schemas = Seq("5", "3", "0", "-2")
    val tables = schemas.map(s => s -> NativeHist.bucketsFor(s.toInt)).toMap
    def idxAt(bs: Seq[(Int, Long, Long, Double, Double)], c: Long): Int =
      bs.find(t => c > t._2 && c <= t._3).get._1
    // signed log-uniform cents: ~half negative, a few exact zeros
    val obs = Seq.fill(400) {
      val mag = math.max(1L,
        math.exp(rnd.nextDouble() * math.log(1158523.0)).toLong)
      if (rnd.nextInt(25) == 0) 0L
      else if (rnd.nextBoolean()) mag else -mag
    }
    import spark.implicits._
    val T0 = 1700006400L
    def bucketRows(host: String, sch: String,
                   os: Seq[Long]): Seq[(String, String, String, String, Long, Double)] = {
      val bs = tables(sch)
      val byIdx = os.filterNot(_ == 0L)
        .groupBy(c => (if (c < 0) "n" else "") + idxAt(bs, math.abs(c)))
        .map { case (nb, cs) => (nb, cs.size.toDouble) }
      val zero = os.count(_ == 0L).toDouble
      (byIdx.toSeq ++ (if (zero > 0) Seq("zero" -> zero) else Nil) ++
        Seq("count" -> os.size.toDouble, "sum" -> os.sum / 100.0))
        .map { case (nb, v) => ("m", host, sch, nb, T0 * 1000000000L, v) }
    }
    val groups = obs.grouped(100).toSeq
    val mixed = Ts.chunkify(
      schemas.zip(groups).flatMap { case (sch, os) =>
        bucketRows(s"h$sch", sch, os)
      }.toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    val twin = Ts.chunkify(
      bucketRows("h0", "-2", obs)
        .toDF("type", "host", "schema", "nb", "ts", "v"),
      mixedLbl, "ts", "v")
    for (q <- Seq("histogram_quantile(0.15, sum by (nb) ({type=\"m\"}))",
        "histogram_quantile(0.5, sum by (nb) ({type=\"m\"}))",
        "histogram_quantile(0.85, sum by (nb) ({type=\"m\"}))",
        "histogram_sum(sum by (nb) ({type=\"m\"}))",
        "histogram_count(sum by (nb) ({type=\"m\"}))",
        "histogram_fraction(-7.7, 7.7, sum by (nb) ({type=\"m\"}))")) {
      // (avg by (nb) is deliberately absent: its denominator counts
      // SERIES holding each bucket, which differs between a 4-host
      // fleet and its 1-host twin by construction)
      val a = Promql.eval(mixed, mixedLbl, q, T0)
        .collect().map(r => r.toSeq.toList).toSet
      val b = Promql.eval(twin, mixedLbl, q, T0)
        .collect().map(r => r.toSeq.toList).toSet
      assert(a.nonEmpty && a == b, s"$q: mixed=$a twin=$b")
    }
  }

  test("negative spans: stddev midpoint carries the span's sign") {
    val (ch, t0) = signedVec
    val mid8 = Math.sqrt(math.pow(2, 7 / 8.0) * 2.0)
    val mu = 4.0 / 10.0
    // sort_array fold order: n8 (lowest ord), zero, idx 8
    val vr = (300.0 * (-mid8 - mu) * (-mid8 - mu) +
      200.0 * (0.0 - mu) * (0.0 - mu) +
      500.0 * (mid8 - mu) * (mid8 - mu)) / 1000.0
    val got = Promql.eval(ch, Seq("type", "host", "nb"),
        """histogram_stdvar({type="m"})""", t0)
      .collect().map(_.getAs[Double]("value")).head
    assert(got == vr)
  }

  // ===== round-18: native-histogram counter resets (histogram grain) =====

  private val nbLbl = Seq("type", "host", "nb")

  private def nbStore(rows: Seq[(String, String, String, Long, Double)]) = {
    import spark.implicits._
    Ts.chunkify(rows.map { case (t, h, nb, sec, v) =>
        (t, h, nb, sec * 1000000000L, v) }
      .toDF("type", "host", "nb", "ts", "v"), nbLbl, "ts", "v")
  }

  test("nb rate: a partial-arm drop re-bases the WHOLE histogram sample") {
    // the divergent case: the process restarts between t1 and t2 and
    // bucket 8 OUTGROWS its pre-reset value across the gap (count
    // 8→2 drops, bucket 2→6 rises). Prometheus detects the reset at
    // the HISTOGRAM grain: the whole t2 sample is a re-base, so
    // bucket 8's +4 must NOT count even though that arm never
    // dropped (per-arm positive-delta would answer 6)
    val T0 = 1700006400L
    def at(i: Int) = T0 + i * 3600L
    val ch = nbStore(Seq(
      ("m", "h1", "8", at(0), 1.0), ("m", "h1", "count", at(0), 5.0),
      ("m", "h1", "8", at(1), 2.0), ("m", "h1", "count", at(1), 8.0),
      ("m", "h1", "8", at(2), 6.0), ("m", "h1", "count", at(2), 2.0),
      ("m", "h1", "8", at(3), 7.0), ("m", "h1", "count", at(3), 3.0)))
    val inc = Promql.eval(ch, nbLbl, """increase({type="m"}[4h])""", at(3))
      .collect().map(r => r.getString(2) -> r.getAs[Double]("value")).toMap
    assert(inc == Map("count" -> 4.0, "8" -> 2.0))
  }

  test("nb rate: simultaneous all-arm reset == per-arm positive delta") {
    // the real restart: every arm drops at t2 — histogram-grain and
    // per-arm agree by construction (the crossing delta drops)
    val T0 = 1700006400L
    def at(i: Int) = T0 + i * 3600L
    val ch = nbStore(Seq(
      ("m", "h1", "8", at(0), 2.0), ("m", "h1", "count", at(0), 4.0),
      ("m", "h1", "8", at(1), 5.0), ("m", "h1", "count", at(1), 9.0),
      ("m", "h1", "8", at(2), 1.0), ("m", "h1", "count", at(2), 2.0),
      ("m", "h1", "8", at(3), 3.0), ("m", "h1", "count", at(3), 6.0)))
    val inc = Promql.eval(ch, nbLbl, """increase({type="m"}[4h])""", at(3))
      .collect().map(r => r.getString(2) -> r.getAs[Double]("value")).toMap
    assert(inc == Map("count" -> 9.0, "8" -> 5.0))
  }

  test("nb stepped rate re-bases at the histogram grain per step") {
    val T0 = 1700006400L
    def at(i: Int) = T0 + i * 3600L
    val ch = nbStore(Seq(
      ("m", "h1", "8", at(0), 1.0), ("m", "h1", "count", at(0), 5.0),
      ("m", "h1", "8", at(1), 2.0), ("m", "h1", "count", at(1), 8.0),
      ("m", "h1", "8", at(2), 6.0), ("m", "h1", "count", at(2), 2.0),
      ("m", "h1", "8", at(3), 7.0), ("m", "h1", "count", at(3), 3.0)))
    val got = Promql.evalRange(ch, nbLbl,
        """increase({type="m"}[2h])""", at(1), at(3), 3600L)
      .collect().map(r => (r.getString(2), r.getLong(3), r.getAs[Double]("value")))
      .toSet
    // pair (t0,t1) lands in the t2-step window (+3 count, +1 bucket);
    // the reset-crossing pair (t1,t2) lands in the t3-step window
    // ZEROED for both arms — the grain re-base, per step
    assert(got == Set(
      ("count", at(2), 3.0), ("8", at(2), 1.0),
      ("count", at(3), 0.0), ("8", at(3), 0.0)))
  }

  test("nb rate: a sum-arm drop is NOT a reset (gauge histograms)") {
    // negative observations (the signed mirrored-span store) pull the
    // sum arm down without any restart — reset detection reads
    // count/bucket STRUCTURE only (the Prometheus convention), so the
    // bucket/count increases at that instant still count; the sum
    // arm's own negative delta clamps to 0 like any counter delta
    val T0 = 1700006400L
    def at(i: Int) = T0 + i * 3600L
    val ch = nbStore(Seq(
      ("m", "h1", "n8", at(0), 1.0), ("m", "h1", "count", at(0), 3.0),
      ("m", "h1", "sum", at(0), 5.0),
      ("m", "h1", "n8", at(1), 2.0), ("m", "h1", "count", at(1), 4.0),
      ("m", "h1", "sum", at(1), 3.0)))
    val inc = Promql.eval(ch, nbLbl, """increase({type="m"}[2h])""", at(1))
      .collect().map(r => r.getString(2) -> r.getAs[Double]("value")).toMap
    assert(inc == Map("n8" -> 1.0, "count" -> 1.0, "sum" -> 0.0))
  }

  test("nb changes/resets stay per-arm counter series (documented)") {
    // resets() on an nb vector counts PER-ARM drops: each arm is its
    // own counter series in this data model; the histogram-grain
    // reset count is resets of the count arm
    val T0 = 1700006400L
    def at(i: Int) = T0 + i * 3600L
    val ch = nbStore(Seq(
      ("m", "h1", "8", at(0), 1.0), ("m", "h1", "count", at(0), 5.0),
      ("m", "h1", "8", at(1), 2.0), ("m", "h1", "count", at(1), 8.0),
      ("m", "h1", "8", at(2), 6.0), ("m", "h1", "count", at(2), 2.0)))
    val rs = Promql.eval(ch, nbLbl, """resets({type="m"}[3h])""", at(2))
      .collect().map(r => r.getString(2) -> r.getAs[Double]("value")).toMap
    assert(rs == Map("count" -> 1.0, "8" -> 0.0))
  }

  // ===== round-18: classic+NHCB migration union =====

  private val migLbl = Seq("type", "host", "le", "nbc")

  /** A rollout fleet caught mid-flight: h1 still classic (cumulative
    * le rows 1→3, 2→7, +Inf→10; nbc = ""), h2 migrated to NHCB
    * (one-per-bucket counts 1→2, 2→3, +Inf→1, count 6, sum 9;
    * le = "") — the SAME {1, 2, +Inf} bound table. */
  private def migVec = {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(
      ("m", "h1", "1", "", 3.0), ("m", "h1", "2", "", 7.0),
      ("m", "h1", "+Inf", "", 10.0),
      ("m", "h2", "", "1", 2.0), ("m", "h2", "", "2", 3.0),
      ("m", "h2", "", "+Inf", 1.0),
      ("m", "h2", "", "count", 6.0), ("m", "h2", "", "sum", 9.0))
      .map { case (t, h, le, nbc, v) => (t, h, le, nbc, T0 * 1000000000L, v) }
    (Ts.chunkify(rows.toDF("type", "host", "le", "nbc", "ts", "v"),
      migLbl, "ts", "v"), T0)
  }

  private def errMsgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ errMsgs(t.getCause)

  test("migration union: fleet quantile == hand merge; per-host untouched") {
    val (ch, t0) = migVec
    // fleet-wide: merged cum (raw cents scale cancels) 1→3+2=5,
    // 2→7+5=12, +Inf→10+6=16; rank .5·16=8 lands in bucket 2:
    // 1 + (2−1)·(8−5)/(12−5)
    val fleet = Promql.eval(ch, migLbl,
        """histogram_quantile(0.5, sum by (le, nbc) ({type="m"}))""", t0)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(fleet == Seq(1.0 + 3.0 / 7.0))
    // per-host (group identity = host): each host is single-model —
    // h1 answers its classic quantile (rank 5 in bucket 2: 1 + 1·(5−3)/(7−3)),
    // h2 its NHCB quantile (cum 1→2, 2→5, +Inf→6; rank 3 in bucket 2:
    // 1 + 1·(3−2)/(5−2))
    val byHost = Promql.eval(ch, migLbl,
        """histogram_quantile(0.5, {type="m"})""", t0)
      .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    assert(byHost == Map("h1" -> 1.5, "h2" -> (1.0 + 1.0 / 3.0)))
    // histAgg routes through the same union: fleet count = the merged
    // +Inf row (10 + 6)
    val cnt = Promql.eval(ch, migLbl,
        """histogram_count(sum by (le, nbc) ({type="m"}))""", t0)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(cnt == Seq(16.0))
  }

  test("migration union: le+nb has no bridge and fails loud") {
    import spark.implicits._
    val T0 = 1700006400L
    val rows = Seq(("m", "h1", "1", "", 3.0), ("m", "h2", "", "8", 4.0))
      .map { case (t, h, le, nb, v) => (t, h, le, nb, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "le", "nb", "ts", "v"),
      Seq("type", "host", "le", "nb"), "ts", "v")
    for (q <- Seq("""histogram_quantile(0.5, {type="m"})""",
        """histogram_count({type="m"})""")) {
      val e = intercept[IllegalArgumentException](
        Promql.eval(ch, Seq("type", "host", "le", "nb"), q, T0))
      assert(e.getMessage.contains("no defined merge"), e.getMessage)
    }
  }

  test("migration union: a row claiming both or neither model raises") {
    import spark.implicits._
    val T0 = 1700006400L
    def evalRows(rows: Seq[(String, String, String, String, Double)]) = {
      val ch = Ts.chunkify(rows.map { case (t, h, le, nbc, v) =>
          (t, h, le, nbc, T0 * 1000000000L, v) }
        .toDF("type", "host", "le", "nbc", "ts", "v"), migLbl, "ts", "v")
      Promql.eval(ch, migLbl,
        """histogram_quantile(0.5, {type="m"})""", T0).collect()
    }
    val both = intercept[Exception](evalRows(Seq(
      ("m", "h1", "1", "1", 3.0), ("m", "h1", "+Inf", "", 3.0))))
    assert(errMsgs(both).exists(_.contains("cannot be classic and NHCB")),
      errMsgs(both).toString)
    val neither = intercept[Exception](evalRows(Seq(
      ("m", "h1", "", "", 3.0), ("m", "h1", "+Inf", "", 3.0))))
    assert(errMsgs(neither).exists(_.contains("neither bucket label")),
      errMsgs(neither).toString)
  }

  test("migration union: bound tables that do not telescope raise") {
    import spark.implicits._
    val T0 = 1700006400L
    // classic half on {1, +Inf}, NHCB half on {2, +Inf}: the fleet
    // aggregation puts both models in one group with DIFFERENT bound
    // sets — cumulative series over different bounds cannot add
    val rows = Seq(
      ("m", "h1", "1", "", 3.0), ("m", "h1", "+Inf", "", 10.0),
      ("m", "h2", "", "2", 3.0), ("m", "h2", "", "+Inf", 3.0),
      ("m", "h2", "", "count", 6.0))
      .map { case (t, h, le, nbc, v) => (t, h, le, nbc, T0 * 1000000000L, v) }
    val ch = Ts.chunkify(rows.toDF("type", "host", "le", "nbc", "ts", "v"),
      migLbl, "ts", "v")
    val e = intercept[Exception](Promql.eval(ch, migLbl,
      """histogram_quantile(0.5, sum by (le, nbc) ({type="m"}))""", T0)
      .collect())
    assert(errMsgs(e).exists(_.contains("do not telescope")),
      errMsgs(e).toString)
    // the SAME two hosts are fine per-host: each group is single-model
    val byHost = Promql.eval(ch, migLbl,
        """histogram_quantile(1.0, {type="m"})""", T0)
      .collect().map(r => r.getString(1) -> r.getAs[Double]("value")).toMap
    assert(byHost.keySet == Set("h1", "h2"))
  }
}
