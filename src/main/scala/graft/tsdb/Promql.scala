package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * PromQL front-end for the labeled chunk store: a real query-string
 * surface over the Gorilla-paper §4 query model the label family
 * implements piecewise (`Labels.selectRangeAgg` / `selectRange` and
 * the `ts_label_*` compositions).
 *
 * `Promql.eval(chunks, labelCols, "sum by (region)(rate({type=\"click\"}[2d]))", evalTs)`
 * parses the string (hand-written lexer + recursive-descent parser,
 * PromQL operator precedence) and compiles it onto the SAME
 * compressed-domain bodies the hand-built keys use — so a selector
 * reaching the evaluator still prunes at the parquet chunk-metadata
 * scan (pushed equality / regex-literal-prefix predicates; pinned in
 * PromqlSpec), over-time aggregates still answer from header stats +
 * boundary folds without materializing points, and only the
 * functions that genuinely need samples (rate/increase/delta/changes/
 * resets/last_over_time and instant-vector lookback) decode survivors.
 *
 * Evaluation model: one INSTANT evaluation at `evalTs` (the single
 * step of a range query; PromQL's `query` endpoint). A range selector
 * `sel[d]` covers the inclusive second grid `[evalTs-d+1, evalTs]`
 * (PromQL's half-open `(t-d, t]` on integer seconds); `offset o`
 * shifts that window to `[evalTs-o-d+1, evalTs-o]`. A bare selector
 * is an instant vector: the LAST sample per series within the 5-min
 * lookback window, PromQL's staleness rule.
 *
 * Numeric discipline (the ts_label_* oracle discipline): every sum
 * accumulates in exact BIGINT (cents or counts) for as long as the
 * expression allows — floats appear only through fixed single IEEE
 * operations (one division, one sqrt), so results are bit-stable
 * under any partitioning and reproducible in an ANSI-SQL oracle.
 * A [[Vec]] tracks which representation its value column holds.
 *
 * Reference: johshoff/gibbon README (Gorilla §4 query model as the
 * aspiration); semantics follow the public PromQL spec.
 */
object Promql {

  // ===================== AST =====================

  sealed trait Expr
  /** `{type="click", host=~"h1.*"}[2d] offset 1d @ 1705017600`;
    * `range=None` = instant, `at=None` = the query's evaluation instant. */
  final case class VectorSel(matchers: Seq[Labels.Matcher], range: Option[Long],
                             offset: Long, at: Option[Long] = None) extends Expr
  final case class NumLit(v: Double) extends Expr
  /** `time()` — the evaluation timestamp: a scalar at an instant, the
    * per-step `ts` in a range query. Also the implicit argument of the
    * zero-arg calendar functions (`hour()` ≡ `hour(vector(time()))`). */
  case object TimeExpr extends Expr
  /** `scalar(v)` — the value of a 1-element vector, NaN otherwise
    * (per step in a range query). Only meaningful inside arithmetic or
    * `vector(...)`; a bare scalar result has no vector shape. */
  final case class ScalarCall(arg: Expr) extends Expr
  /** Over-time / range-vector function: `rate(sel[d])`, `sum_over_time(..)`;
    * also the instant-vector `absent(sel)`. */
  final case class FnCall(fn: String, arg: Expr) extends Expr
  /** Pointwise math function with optional scalar params:
    * `abs(e)`, `clamp(e, lo, hi)`, `round(e)`. */
  final case class MathCall(fn: String, arg: Expr, params: Seq[Double]) extends Expr
  /** `sum by (region)(e)`, `topk(3, e)`, `quantile by (g)(0.9, e)`;
    * `strParam` carries `count_values`' output label name. */
  final case class AggExpr(op: String, param: Option[Double], grouping: Grouping,
                           arg: Expr, strParam: Option[String] = None) extends Expr
  /** `lhs / on(host) group_left rhs`, `a unless on(host) b`, `e > 10`;
    * `boolMod` = the `bool` comparison modifier (emit 0/1, don't filter). */
  final case class BinExpr(op: String, lhs: Expr, rhs: Expr,
                           matching: Matching, boolMod: Boolean = false) extends Expr
  /** PromQL subquery `expr[range:step]` — the inner expression
    * re-evaluated at every step of an inner grid, consumed by an
    * `_over_time` / counter function like a range vector. */
  final case class Subquery(arg: Expr, range: Long, step: Long,
                            offset: Long) extends Expr
  /** `histogram_quantile(φ, e)` over a vector carrying an `le` label. */
  final case class HistExpr(phi: Double, arg: Expr) extends Expr
  /** `label_replace(e, dst, rep, src, regex)` / `label_join(e, dst,
    * sep, srcs…)` / `sort_by_label(_desc)(e, lbls…)` —
    * label-manipulation with string parameters. */
  final case class LabelCall(fn: String, arg: Expr,
                             params: Seq[String]) extends Expr
  /** `info(e, {sel})` — Prometheus 3.x experimental: enrich `e` with
    * the data labels of the info series `sel` selects, joined on the
    * labels the two share (the metric-name label excluded). */
  final case class InfoCall(arg: Expr, sel: VectorSel) extends Expr

  /** Sentinels for the `@ start()` / `@ end()` preset modifiers —
    * parsed into `VectorSel.at` and resolved to the query's concrete
    * range bounds (or the evaluation instant, for an instant query)
    * by [[resolveAtPresets]] before any window math can see them. */
  val AtStart: Long = Long.MinValue + 1
  val AtEnd: Long = Long.MinValue + 2

  /** Replace `@ start()` / `@ end()` sentinels with the query's
    * concrete bounds — one AST pass at the eval entry points, so every
    * downstream window computation sees only real instants. */
  private def resolveAtPresets(e: Expr, start: Long, end: Long): Expr = {
    def rec(x: Expr): Expr = x match {
      case v: VectorSel => v.copy(at = v.at.map {
        case AtStart => start
        case AtEnd => end
        case t => t
      })
      case s: Subquery => s.copy(arg = rec(s.arg))
      case FnCall(f, a) => FnCall(f, rec(a))
      case MathCall(f, a, p) => MathCall(f, rec(a), p)
      case ag: AggExpr => ag.copy(arg = rec(ag.arg))
      case BinExpr(op, l, r, m, b) => BinExpr(op, rec(l), rec(r), m, b)
      case HistExpr(phi, a) => HistExpr(phi, rec(a))
      case LabelCall(f, a, p) => LabelCall(f, rec(a), p)
      case InfoCall(a, s) => InfoCall(rec(a), rec(s).asInstanceOf[VectorSel])
      case ScalarCall(a) => ScalarCall(rec(a))
      case other => other // NumLit, TimeExpr
    }
    rec(e)
  }

  sealed trait Grouping
  case object NoGroup extends Grouping
  final case class By(labels: Seq[String]) extends Grouping
  final case class Without(labels: Seq[String]) extends Grouping

  /** Vector-matching modifiers on a binary op. */
  final case class Matching(on: Option[Seq[String]], ignoring: Seq[String],
                            groupLeft: Boolean, groupRight: Boolean,
                            carry: Seq[String] = Nil)
  val DefaultMatching: Matching = Matching(None, Nil, groupLeft = false, groupRight = false)

  // ===================== Lexer =====================

  private sealed trait Tok
  private final case class TIdent(s: String) extends Tok
  private final case class TNum(v: Double) extends Tok
  private final case class TDur(sec: Long) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TOp(s: String) extends Tok // punctuation + operators
  private case object TEof extends Tok

  private val durUnit = Map("ms" -> 0L, "s" -> 1L, "m" -> 60L, "h" -> 3600L,
    "d" -> 86400L, "w" -> 604800L, "y" -> 31536000L)

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"PromQL lex error at $i: $msg in: $q")
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit || (c == '.' && i + 1 < q.length && q.charAt(i + 1).isDigit)) {
        val start = i
        while (i < q.length && q.charAt(i).isDigit) i += 1
        if (i < q.length && q.charAt(i) == '.') { // float literal
          i += 1
          while (i < q.length && q.charAt(i).isDigit) i += 1
          out += TNum(q.substring(start, i).toDouble)
        } else if (i < q.length && q.charAt(i).isLetter) {
          // duration literal: one or more <int><unit> segments (1h30m)
          i = start
          var sec = 0L
          var more = true
          while (more) {
            val ns = i
            while (i < q.length && q.charAt(i).isDigit) i += 1
            if (ns == i) err("malformed duration")
            val us = i
            while (i < q.length && q.charAt(i).isLetter) i += 1
            val unit = q.substring(us, i)
            val mult = durUnit.getOrElse(unit, err(s"unknown duration unit '$unit'"))
            if (unit == "ms") err("sub-second durations unsupported (second grid)")
            sec += q.substring(ns, us).toLong * mult
            more = i < q.length && q.charAt(i).isDigit
          }
          out += TDur(sec)
        } else out += TNum(q.substring(start, i).toDouble)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < q.length && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_' ||
          q.charAt(i) == ':')) i += 1
        out += TIdent(q.substring(start, i))
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        while (i < q.length && q.charAt(i) != quote) {
          if (q.charAt(i) == '\\' && i + 1 < q.length) { sb.append(q.charAt(i + 1)); i += 2 }
          else { sb.append(q.charAt(i)); i += 1 }
        }
        if (i >= q.length) err("unterminated string")
        i += 1
        out += TStr(sb.toString)
      } else {
        val two = if (i + 1 < q.length) q.substring(i, i + 2) else ""
        if (Set("==", "!=", ">=", "<=", "=~", "!~").contains(two)) { out += TOp(two); i += 2 }
        else if ("+-*/%^(){}[],=<>:@".indexOf(c) >= 0) { out += TOp(c.toString); i += 1 }
        else err(s"unexpected character '$c'")
      }
    }
    (out += TEof).result()
  }

  // ===================== Parser =====================

  /** Range-vector functions (need `sel[d]`) → true; the rest take an
    * instant vector. Both sets compile through [[evalExpr]]. */
  val RangeFns: Set[String] = Set("rate", "increase", "delta", "changes", "resets",
    "sum_over_time", "count_over_time", "min_over_time", "max_over_time",
    "avg_over_time", "stddev_over_time", "stdvar_over_time", "last_over_time",
    "present_over_time", "deriv", "predict_linear", "irate", "idelta",
    "mad_over_time", "ts_of_last_over_time", "ts_of_max_over_time",
    "ts_of_min_over_time")
  private val aggOps = Set("sum", "min", "max", "avg", "count", "topk", "bottomk",
    "quantile", "count_values", "stddev", "stdvar", "group",
    "limitk", "limit_ratio")
  /** Pointwise math functions (optional scalar params after the vector). */
  val MathFns: Set[String] = Set("abs", "ceil", "floor", "round",
    "clamp", "clamp_min", "clamp_max", "sqrt", "sgn",
    "exp", "ln", "log2", "log10", "deg", "rad",
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh")
  /** Calendar functions: value interpreted as a UTC unix timestamp;
    * the vector argument is optional (`hour()` ≡ `hour(vector(time()))`). */
  val CalFns: Set[String] = Set("minute", "hour", "day_of_week",
    "day_of_month", "days_in_month", "month", "year")
  private val paramAggs = Set("topk", "bottomk", "quantile", "limitk",
    "limit_ratio")
  private val setOps = Set("and", "or", "unless")
  private val cmpOps = Set("==", "!=", ">", "<", ">=", "<=")

  /** `metricLabel` is the label column a bare metric name selects on
    * (`click{...}` ≡ `{type="click", ...}`): the store's first label
    * column, the PromQL `__name__` of this data model. */
  def parse(q: String, metricLabel: String = "type"): Expr =
    new Parser(lex(q), q, metricLabel).parseAll()

  private final class Parser(toks: Vector[Tok], src: String, metricLabel: String) {
    private var p = 0
    private def peek: Tok = toks(p)
    private def next(): Tok = { val t = toks(p); p += 1; t }
    private def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"PromQL parse error: $msg in: $src")
    private def expectOp(s: String): Unit = next() match {
      case TOp(`s`) => ()
      case t => err(s"expected '$s', got $t")
    }
    private def ident(): String = next() match {
      case TIdent(s) => s
      case t => err(s"expected identifier, got $t")
    }

    def parseAll(): Expr = {
      val e = parseOr()
      if (peek != TEof) err(s"trailing input at token $peek")
      e
    }

    // precedence: or < and/unless < cmp < +- < */% < unary/atom
    private def parseOr(): Expr = {
      var l = parseAnd()
      while (peek == TIdent("or")) { next(); val m = parseMatching(); l = BinExpr("or", l, parseAnd(), m) }
      l
    }
    private def parseAnd(): Expr = {
      var l = parseCmp()
      while (peek == TIdent("and") || peek == TIdent("unless")) {
        val op = ident(); val m = parseMatching(); l = BinExpr(op, l, parseCmp(), m)
      }
      l
    }
    private def parseCmp(): Expr = {
      var l = parseAdd()
      while (peek match { case TOp(o) => cmpOps(o); case _ => false }) {
        val TOp(op) = next(): @unchecked
        val boolMod = peek == TIdent("bool")
        if (boolMod) next()
        val m = parseMatching(); l = BinExpr(op, l, parseAdd(), m, boolMod)
      }
      l
    }
    private def parseAdd(): Expr = {
      var l = parseMul()
      while (peek == TOp("+") || peek == TOp("-")) {
        val TOp(op) = next(): @unchecked
        val m = parseMatching(); l = BinExpr(op, l, parseMul(), m)
      }
      l
    }
    private def parseMul(): Expr = {
      var l = parseUnary()
      // atan2 is PromQL's one WORD arithmetic operator (same precedence
      // as * / %); it only reads as an operator AFTER an atom, so a
      // metric actually named atan2 still parses at atom position
      while (peek == TOp("*") || peek == TOp("/") || peek == TOp("%") ||
          peek == TIdent("atan2")) {
        val op = next() match {
          case TOp(o) => o
          case TIdent(o) => o
          case t => err(s"unexpected token $t")
        }
        val m = parseMatching(); l = BinExpr(op, l, parseUnary(), m)
      }
      l
    }
    private def parseUnary(): Expr = peek match {
      case TOp("-") => next(); BinExpr("*", NumLit(-1), parseUnary(), DefaultMatching)
      case TOp("+") => next(); parseUnary()
      case _ => parsePow()
    }
    // `^` binds tightest of the binops and is RIGHT-associative;
    // unary minus binds looser (−x^2 = −(x^2)), so the right operand
    // re-enters through parseUnary — 2^3^2 parses as 2^(3^2)
    private def parsePow(): Expr = {
      val l = parseAtom()
      if (peek == TOp("^")) {
        next(); val m = parseMatching()
        BinExpr("^", l, parseUnary(), m)
      } else l
    }

    /** `on(a,b)` / `ignoring(a)` + `group_left` / `group_right` after a
      * binary operator token. */
    private def parseMatching(): Matching = {
      var on: Option[Seq[String]] = None
      var ign: Seq[String] = Nil
      peek match {
        case TIdent("on") => next(); on = Some(labelList())
        case TIdent("ignoring") => next(); ign = labelList()
        case _ => ()
      }
      var gl = false; var gr = false
      var carry: Seq[String] = Nil
      peek match {
        case TIdent("group_left") => next(); gl = true
        case TIdent("group_right") => next(); gr = true
        case _ => ()
      }
      // `group_left(version, build)`: copy the named labels from the
      // "one" side onto every matched many-side element (the
      // info-metric join pattern)
      if ((gl || gr) && peek == TOp("(")) carry = labelList()
      Matching(on, ign, gl, gr, carry)
    }

    private def labelList(): Seq[String] = {
      expectOp("(")
      val out = Seq.newBuilder[String]
      if (peek != TOp(")")) {
        out += ident()
        while (peek == TOp(",")) { next(); out += ident() }
      }
      expectOp(")")
      out.result()
    }

    private def parseAtom(): Expr = peek match {
      case TOp("(") => next(); val e = parseOr(); expectOp(")"); withModifiers(e)
      case TNum(v) => next(); NumLit(v)
      case TOp("{") => withModifiers(selector(None))
      case TIdent(name) if name == "label_replace" || name == "label_join" ||
          name == "sort_by_label" || name == "sort_by_label_desc" =>
        next(); expectOp("(")
        val a = parseOr()
        val ps = Seq.newBuilder[String]
        while (peek == TOp(",")) {
          next()
          ps += (next() match {
            case TStr(s) => s
            case t => err(s"$name expects string params, got $t")
          })
        }
        expectOp(")")
        val params = ps.result()
        // arity is grammatical in Prometheus — reject at parse, not
        // at first evaluation
        name match {
          case "label_replace" if params.size != 4 =>
            err(s"label_replace(v, dst, rep, src, regex) needs 4 " +
              s"string params, got ${params.size}")
          case "label_join" if params.size < 2 =>
            err(s"label_join(v, dst, sep, srcs…) needs at least 2 " +
              s"string params, got ${params.size}")
          case n if (n == "sort_by_label" || n == "sort_by_label_desc") &&
              params.isEmpty =>
            err(s"$n needs at least one label param")
          case _ => ()
        }
        withModifiers(LabelCall(name, a, params))
      case TIdent("histogram_quantile") =>
        next(); expectOp("(")
        val phi = next() match {
          case TNum(v) => v
          case t => err(s"histogram_quantile needs a scalar φ first, got $t")
        }
        expectOp(",")
        val a = parseOr(); expectOp(")")
        withModifiers(HistExpr(phi, a))
      case TIdent("quantile_over_time") =>
        next(); expectOp("(")
        val phi = next() match {
          case TNum(v) => v
          case t => err(s"quantile_over_time needs a scalar φ first, got $t")
        }
        expectOp(",")
        val a = parseOr(); expectOp(")")
        withModifiers(MathCall("quantile_over_time", a, Seq(phi)))
      case TIdent("histogram_fraction") =>
        // histogram_fraction(lo, hi, v) — two scalar bounds first
        next(); expectOp("(")
        def bound(): Double = next() match {
          case TNum(v) => v
          case TOp("-") => next() match {
            case TNum(v) => -v
            case t => err(s"histogram_fraction needs scalar bounds, got -$t")
          }
          case t => err(s"histogram_fraction needs scalar bounds, got $t")
        }
        val lo = bound(); expectOp(",")
        val hi = bound(); expectOp(",")
        val a = parseOr(); expectOp(")")
        withModifiers(MathCall("histogram_fraction", a, Seq(lo, hi)))
      case TIdent(name) if name == "histogram_count" || name == "histogram_sum" ||
          name == "histogram_avg" || name == "histogram_stddev" ||
          name == "histogram_stdvar" =>
        next(); expectOp("(")
        val a = parseOr(); expectOp(")")
        withModifiers(FnCall(name, a))
      case TIdent("info") if toks.lift(p + 1).contains(TOp("(")) =>
        // info(v, {info-metric selector}) — Prometheus 3.x experimental:
        // enrich v with the data labels of the matching info series
        next(); expectOp("(")
        val a = parseOr()
        expectOp(",")
        val sel = peek match {
          case TOp("{") => selector(None)
          case TIdent(n) => next(); selector(Some(n))
          case t => err(s"info() needs an info-metric selector second, got $t")
        }
        expectOp(")")
        withModifiers(InfoCall(a, sel))
      case TIdent(name) if aggOps(name) => next(); withModifiers(aggregation(name))
      case TIdent(name) if RangeFns(name) || name == "absent" ||
          name == "absent_over_time" || name == "sort" || name == "sort_desc" ||
          name == "timestamp" || name == "holt_winters" ||
          name == "double_exponential_smoothing" =>
        next(); expectOp("(")
        val a = parseOr()
        // trailing scalars: predict_linear's horizon (seconds or a
        // duration), holt_winters' two smoothing factors
        val extras = Seq.newBuilder[Double]
        while (peek == TOp(",")) {
          next()
          extras += (next() match {
            case TNum(v) => v
            case TDur(s) => s.toDouble
            case t => err(s"$name expects scalar trailing arguments, got $t")
          })
        }
        expectOp(")")
        withModifiers((name, extras.result()) match {
          case ("predict_linear", Seq(t)) => MathCall("predict_linear", a, Seq(t))
          case ("predict_linear", _) => err("predict_linear needs a scalar horizon")
          case ("holt_winters" | "double_exponential_smoothing", Seq(sf, tf)) =>
            MathCall("holt_winters", a, Seq(sf, tf))
          case ("holt_winters" | "double_exponential_smoothing", _) =>
            err(s"$name needs two smoothing factors")
          case (_, s) if s.nonEmpty => err(s"$name takes one argument")
          case (_, _) => FnCall(name, a)
        })
      case TIdent(name) if MathFns(name) =>
        next(); expectOp("(")
        val a = parseOr()
        val ps = Seq.newBuilder[Double]
        while (peek == TOp(",")) {
          next()
          ps += (next() match {
            case TNum(v) => v
            case TOp("-") => next() match {
              case TNum(v) => -v
              case t => err(s"$name expects scalar params, got -$t")
            }
            case t => err(s"$name expects scalar params, got $t")
          })
        }
        expectOp(")")
        withModifiers(MathCall(name, a, ps.result()))
      case TIdent("pi") if toks.lift(p + 1).contains(TOp("(")) =>
        // pi() is PromQL's only zero-arg scalar function — a literal;
        // bare `pi` (no parens) still parses as a metric name below
        next(); expectOp("("); expectOp(")")
        withModifiers(NumLit(math.Pi))
      case TIdent("time") if toks.lift(p + 1).contains(TOp("(")) =>
        next(); expectOp("("); expectOp(")")
        TimeExpr
      case TIdent("vector") if toks.lift(p + 1).contains(TOp("(")) =>
        next(); expectOp("(")
        val a = parseOr(); expectOp(")")
        withModifiers(FnCall("vector", a))
      case TIdent("scalar") if toks.lift(p + 1).contains(TOp("(")) =>
        next(); expectOp("(")
        val a = parseOr(); expectOp(")")
        ScalarCall(a)
      case TIdent(name) if CalFns(name) && toks.lift(p + 1).contains(TOp("(")) =>
        next(); expectOp("(")
        val a = if (peek == TOp(")")) TimeExpr else parseOr()
        expectOp(")")
        withModifiers(MathCall(name, a, Nil))
      case TIdent(name) => // metric name sugar: first label col equality
        next(); withModifiers(selector(Some(name)))
      case t => err(s"unexpected token $t")
    }

    /** `sum by (region)(e)` / `sum(e) by (region)` / `topk(3, e)`. */
    private def aggregation(op: String): Expr = {
      var grouping: Grouping = NoGroup
      def tryGrouping(): Unit = peek match {
        case TIdent("by") => next(); grouping = By(labelList())
        case TIdent("without") => next(); grouping = Without(labelList())
        case _ => ()
      }
      tryGrouping()
      expectOp("(")
      var strParam: Option[String] = None
      val param: Option[Double] =
        if (op == "count_values") {
          // Prometheus requires a STRING label name first: it becomes
          // the output label holding the counted sample value
          next() match {
            case TStr(s) => strParam = Some(s)
            case t => err(s"count_values needs a string label name first, got $t")
          }
          expectOp(",")
          None
        } else if (paramAggs(op)) {
          val v = next() match {
            case TNum(n) => n
            case TOp("-") => next() match {
              // limit_ratio(-0.5, e): the complement half of the
              // deterministic hash split
              case TNum(n) => -n
              case t => err(s"$op needs a scalar first argument, got -$t")
            }
            case t => err(s"$op needs a scalar first argument, got $t")
          }
          expectOp(",")
          Some(v)
        } else None
      val arg = parseOr()
      expectOp(")")
      tryGrouping()
      AggExpr(op, param, grouping, arg, strParam)
    }

    /** `{m1, m2}` or `name{m1}` or bare `name`; metric name = equality
      * on the FIRST label column (the store's metric-name label). */
    private def selector(metricName: Option[String]): VectorSel = {
      val ms = Seq.newBuilder[Labels.Matcher]
      metricName.foreach(n => ms += Labels.Eq(metricLabel, n))
      if (peek == TOp("{")) {
        next()
        var first = true
        while (peek != TOp("}")) {
          if (!first) expectOp(",")
          first = false
          val lbl = ident()
          val op = next() match { case TOp(o) => o; case t => err(s"expected matcher op, got $t") }
          val v = next() match { case TStr(s) => s; case t => err(s"expected string, got $t") }
          ms += (op match {
            case "=" => Labels.Eq(lbl, v)
            case "!=" => Labels.Ne(lbl, v)
            case "=~" => Labels.Re(lbl, v)
            case "!~" => Labels.NotRe(lbl, v)
            case o => err(s"unknown matcher operator '$o'")
          })
        }
        expectOp("}")
      }
      VectorSel(ms.result(), None, 0L)
    }

    /** `[range]` and `offset` attach to the selector they follow. */
    private def withModifiers(e: Expr): Expr = {
      var cur = e
      var changed = true
      while (changed) {
        changed = false
        peek match {
          case TOp("[") =>
            next()
            val d = next() match { case TDur(s) => s; case t => err(s"expected duration, got $t") }
            peek match {
              case TOp(":") => // subquery `expr[range:step]` — on ANY expression
                next()
                val st = next() match {
                  case TDur(s) => s
                  case t => err(s"subquery needs an explicit step, got $t")
                }
                expectOp("]")
                cur = Subquery(cur, d, st, 0L); changed = true
              case _ =>
                expectOp("]")
                cur match {
                  case v: VectorSel if v.range.isEmpty => cur = v.copy(range = Some(d)); changed = true
                  case _ => err("range [] only applies to a selector (use [d:step] for a subquery)")
                }
            }
          case TIdent("offset") =>
            next()
            // negative offsets look FORWARD of the evaluation time
            // (Prometheus's promql-negative-offset, now on by default)
            // — the "compare this window against the one after it"
            // shape; the window math downstream is signed throughout
            val neg = peek == TOp("-")
            if (neg) next()
            val d0 = next() match { case TDur(s) => s; case t => err(s"expected duration, got $t") }
            val d = if (neg) -d0 else d0
            cur match {
              case v: VectorSel => cur = v.copy(offset = d); changed = true
              case sq: Subquery => cur = sq.copy(offset = d); changed = true
              case _ => err("offset only applies to a selector or subquery")
            }
          case TOp("@") => // absolute evaluation instant: `sel @ 1705017600`
            next()
            val at = next() match {
              case TNum(v) if v.isWhole => v.toLong
              // `@ start()` / `@ end()`: the query's own range bounds,
              // resolved at the eval entry points (resolveAtPresets)
              case TIdent("start") => expectOp("("); expectOp(")"); AtStart
              case TIdent("end") => expectOp("("); expectOp(")"); AtEnd
              case t => err(s"@ expects an integer unix timestamp, start(), or end(), got $t")
            }
            cur match {
              case v: VectorSel => cur = v.copy(at = Some(at)); changed = true
              case _ => err("@ only applies to a selector")
            }
          case _ => ()
        }
      }
      cur
    }
  }

  // ===================== Compiler =====================

  /** How the `value` column is represented — exact BIGINT for as long
    * as the expression allows (sums stay order-independent under any
    * partitioning), doubles only past a fixed single IEEE op.
    * `Exact(denom)`: value is a LONG whose double meaning is
    * value/denom — cents are Exact(100), counts Exact(1), and
    * `rate[d]` is Exact(d·100) so `sum(rate(x[d]))` accumulates the
    * positive-delta cents exactly and divides ONCE at output. */
  private sealed trait ValKind
  private final case class Exact(denom: Double) extends ValKind
  private case object Dbl extends ValKind
  private val Cents = Exact(100.0)
  private val Count = Exact(1.0)

  /** A compiled vector: `df` holds `labels* , value` where value is
    * LONG (Exact) or DOUBLE (Dbl). */
  private final case class Vec(df: DataFrame, labels: Seq[String], kind: ValKind) {
    def toDouble: DataFrame = kind match {
      case Dbl => df
      case Exact(1.0) => df.withColumn("value", col("value").cast("double"))
      case Exact(d) => df.withColumn("value", col("value").cast("double") / lit(d))
    }
  }
  private def asDouble(c: Column, kind: ValKind): Column = kind match {
    case Dbl => c
    case Exact(1.0) => c.cast("double")
    case Exact(d) => c.cast("double") / lit(d)
  }

  /** `grid = Some((startTs, stepSec))` switches to stepped (range-
    * query) evaluation: every vector carries a `ts` step column,
    * treated as an extra matching label throughout. */
  final case class Ctx(chunks: DataFrame, labelCols: Seq[String], evalTs: Long,
                       lookbackSec: Long = 300L,
                       grid: Option[(Long, Long)] = None)

  /** Evaluate a PromQL query at instant `evalTs` against a labeled
    * chunk store. Returns the result's label columns + `value: double`. */
  def eval(chunks: DataFrame, labelCols: Seq[String], query: String,
           evalTs: Long, lookbackSec: Long = 300L): DataFrame = {
    val v = evalExpr(
      resolveAtPresets(parse(query, labelCols.head), evalTs, evalTs),
      Ctx(chunks, labelCols, evalTs, lookbackSec))
    v.toDouble.select((v.labels.map(col) :+ col("value")): _*)
  }

  /**
   * PromQL `query_range`: evaluate at every step t_i = startTs + i·stepSec
   * with t_i ≤ endTs; the result carries a `ts` column (the step) next
   * to the labels. The over-time window at a step is the LEFT-CLOSED
   * second grid [t_i − d, t_i − 1] — exactly k = d/step whole
   * epoch-aligned step buckets (PromQL's half-open `(t−d, t]` shifted
   * one second), which is what keeps stepped evaluation
   * COMPRESSED-DOMAIN: selector survivors fold ONCE into per-(chunk,
   * bucket) partials (`gorilla_chunk_bucket_agg` — one streaming
   * decode per chunk, never a point row), each partial serves ≤ k
   * steps (an explode onto its window indices), and one hash
   * aggregate assembles every window. Cost: chunks-of-selector +
   * |chunks| · |buckets per chunk| · k partial rows — independent of
   * point count past the fold, the shape a dashboard's 300-step panel
   * needs at 100 TB.
   *
   * Requires `startTs % stepSec == 0` and, per range selector,
   * `d % stepSec == 0` (the bucket-alignment contract). Every range
   * function lowers in stepped mode — the `_over_time` family from
   * bucket partials, rate/increase/changes/resets from pair partials,
   * delta/irate/deriv/`ts_of_*`/… from per-bucket partials of one
   * decode, quantile/mad/holt_winters from decoded points exploded
   * onto their covering windows — as do aggregations
   * (by/without — the step is implicitly part of every grouping),
   * binary ops (matched per step), scalar arithmetic, `@`-pinned
   * selectors (evaluated once) and subqueries. A bare instant selector
   * has no window to fold and is rejected: wrap it in an `_over_time`
   * function.
   */
  def evalRange(chunks: DataFrame, labelCols: Seq[String], query: String,
                startTs: Long, endTs: Long, stepSec: Long,
                lookbackSec: Long = 300L): DataFrame = {
    require(stepSec > 0 && endTs >= startTs, "need stepSec > 0 and endTs >= startTs")
    require(startTs % stepSec == 0, "startTs must align to the step grid")
    val v = evalExpr(
      resolveAtPresets(parse(query, labelCols.head), startTs, endTs),
      Ctx(chunks, labelCols, endTs, lookbackSec, grid = Some((startTs, stepSec))))
    v.toDouble.select((v.labels.map(col) :+ col("value")): _*)
  }

  private def matcherString(ms: Seq[Labels.Matcher]): String =
    ms.map {
      case Labels.Eq(l, v) => s"""$l="$v""""
      case Labels.Ne(l, v) => s"""$l!="$v""""
      case Labels.Re(l, v) => s"""$l=~"$v""""
      case Labels.NotRe(l, v) => s"""$l!~"$v""""
    }.mkString("{", ", ", "}")

  /** `sel @ T` inside a range query: the pinned window is the SAME at
    * every step (Grafana's "compare vs fixed instant" panel), so the
    * body evaluates ONCE in instant mode and the per-series constant
    * replicates across the grid via a broadcast of the (≤ steps)-row
    * grid — never a per-step re-evaluation. Returns None when the
    * selector isn't pinned (callers fall through to their stepped
    * lowering). */
  private def atPinned(sel: VectorSel, ctx: Ctx)(inst: Ctx => Vec): Option[Vec] =
    if (ctx.grid.isDefined && sel.at.isDefined) {
      val v = inst(ctx.copy(grid = None))
      Some(Vec(v.df.crossJoin(broadcast(timeVec(ctx).df.select("ts"))),
        v.labels :+ "ts", v.kind))
    } else None

  /** [from, to] second-grid window of a range selector at evalTs
    * (or the selector's pinned `@` instant). */
  private def window(sel: VectorSel, ctx: Ctx): (Long, Long) = {
    val to = sel.at.getOrElse(ctx.evalTs) - sel.offset
    val d = sel.range.getOrElse(
      throw new IllegalArgumentException("range function needs sel[duration]"))
    (to - d + 1, to)
  }

  private def evalExpr(e: Expr, ctx: Ctx): Vec = e match {
    case NumLit(_) =>
      throw new IllegalArgumentException("scalar-only expression has no vector result")
    case TimeExpr => timeVec(ctx)
    case _: ScalarCall => throw new IllegalArgumentException(
      "scalar() must be consumed by arithmetic or vector()")
    case FnCall("vector", arg) => vectorOf(arg, ctx)
    case sel: VectorSel => instantVector(sel, ctx)
    case FnCall("absent", arg) => absentVec(arg, ctx)
    case FnCall("absent_over_time", arg) => absentVec(arg, ctx)
    case FnCall("sort", arg) => sortVec(arg, desc = false, ctx)
    case FnCall("sort_desc", arg) => sortVec(arg, desc = true, ctx)
    case FnCall("timestamp", arg) => timestampVec(arg, ctx)
    case FnCall(fn @ ("histogram_count" | "histogram_sum" | "histogram_avg" |
                      "histogram_stddev" | "histogram_stdvar"),
        arg) => histAgg(fn, Nil, arg, ctx)
    case FnCall(fn, sq: Subquery) => subqueryFn(fn, sq, ctx)
    case _: Subquery =>
      throw new IllegalArgumentException("subquery [d:step] must be consumed by a range function")
    case FnCall("mad_over_time", arg) => madOverTime(arg, ctx)
    case FnCall(fn, arg) => rangeFn(fn, arg, ctx)
    case ic: InfoCall => infoFn(ic, ctx)
    case MathCall("predict_linear", arg, ps) => predictLinear(arg, ps.head, ctx)
    case MathCall("quantile_over_time", arg, ps) => quantileOverTime(ps.head, arg, ctx)
    case MathCall("histogram_fraction", arg, ps) =>
      histAgg("histogram_fraction", ps, arg, ctx)
    case MathCall("holt_winters", arg, ps) => holtWintersVec(arg, ps(0), ps(1), ctx)
    case mc: MathCall => mathFn(mc, ctx)
    case lc: LabelCall => labelFn(lc, ctx)
    case h: HistExpr => histQuantile(h.phi, h.arg, ctx)
    case agg: AggExpr => aggregate(agg, ctx)
    case bin: BinExpr => binary(bin, ctx)
  }

  /** PromQL scalar TYPE tracking: number literals, `time()`,
    * `scalar(v)`, and arithmetic over them evaluate to a scalar (one
    * value per step), never to a labeled vector — binary ops against a
    * vector apply them elementwise with NO label matching. */
  private def isScalarExpr(e: Expr): Boolean = e match {
    case NumLit(_) | TimeExpr | (_: ScalarCall) => true
    case BinExpr(op, l, r, _, _) if !setOps(op) && !cmpOps(op) =>
      isScalarExpr(l) && isScalarExpr(r)
    case _ => false
  }

  /** Evaluate a scalar-typed expression ([[isScalarExpr]]) to its
    * column form: one label-free row at an instant, one row per `ts`
    * step in range mode — always broadcastable by construction. */
  private def evalScalar(e: Expr, ctx: Ctx): Vec = e match {
    case n: NumLit => vectorOf(n, ctx)
    case TimeExpr => timeVec(ctx)
    case sc: ScalarCall => scalarVec(sc.arg, ctx)
    case BinExpr(op, l, r, _, _) =>
      scalarColOp(evalScalar(l, ctx), op, evalScalar(r, ctx), scalarLeft = false)
    case other => throw new IllegalArgumentException(s"not a scalar expression: $other")
  }

  /** `time()` as a vector: the evaluation instant (one label-free
    * row), or in stepped mode one row per grid step with `value = ts`
    * — a driver-side sequence explode, ≤ steps rows, never data-sized. */
  private def timeVec(ctx: Ctx): Vec = {
    val spark = ctx.chunks.sparkSession
    ctx.grid match {
      case Some((start, step)) =>
        val df = spark.range(1).select(
            explode(sequence(lit(start), lit(ctx.evalTs), lit(step))).as("ts"))
          .withColumn("value", col("ts"))
        Vec(df, Seq("ts"), Count)
      case None =>
        Vec(spark.range(1).select(lit(ctx.evalTs).as("value")), Seq.empty, Count)
    }
  }

  /** PromQL `vector(s)`: a 1-element, label-free instant vector from a
    * scalar (per step in a range query — rides the [[timeVec]] grid). */
  private def vectorOf(arg: Expr, ctx: Ctx): Vec = arg match {
    case NumLit(v) =>
      val base = timeVec(ctx)
      if (v.isWhole && math.abs(v) < 9e15)
        Vec(base.df.withColumn("value", lit(v.toLong)), base.labels, Count)
      else Vec(base.df.withColumn("value", lit(v)), base.labels, Dbl)
    case TimeExpr => timeVec(ctx)
    case sc: ScalarCall => scalarVec(sc.arg, ctx)
    // compound scalar expressions (`vector(time() - 300)`,
    // `vector(scalar(a) + 1)`) ride the scalar evaluator — already a
    // 1-row (per-step) label-free frame, exactly vector()'s shape
    case a if isScalarExpr(a) => evalScalar(a, ctx)
    case _ => throw new IllegalArgumentException(
      "vector() takes a scalar argument (a number, time(), or scalar(v))")
  }

  /** PromQL `scalar(v)`: the single element's value when |v| == 1,
    * NaN otherwise — per step in a range query, with steps where the
    * vector is empty filled to NaN off the grid. One partial-
    * aggregating groupBy; the result is ≤ steps rows (broadcastable). */
  private def scalarVec(arg: Expr, ctx: Ctx): Vec = {
    val d = evalExpr(arg, ctx)
    val dd = d.toDouble
    if (d.labels.contains("ts")) {
      val agg = dd.groupBy("ts")
        .agg(count(lit(1)).as("__n"), max("value").as("__v"))
      val df = timeVec(ctx).df.drop("value")
        .join(agg, Seq("ts"), "left")
        .withColumn("value",
          when(col("__n") === 1, col("__v")).otherwise(lit(Double.NaN)))
        .select(col("ts"), col("value"))
      Vec(df, Seq("ts"), Dbl)
    } else {
      val df = dd.agg(count(lit(1)).as("__n"), max("value").as("__v"))
        .withColumn("value",
          when(col("__n") === 1, col("__v")).otherwise(lit(Double.NaN)))
        .select("value")
      Vec(df, Seq.empty, Dbl)
    }
  }

  /** PromQL label manipulation. `label_replace(v, dst, rep, src, re)`
    * anchors `re` against the src label (Prometheus full-match rule);
    * on a match dst gets `rep` with $1… capture substitutions, on a
    * miss dst keeps its existing value (empty when new). `label_join
    * (v, dst, sep, srcs…)` concatenates source labels. A NEW dst
    * appends to the label set; the value representation is untouched
    * so exact-grid expressions stay exact through relabeling. */
  private def labelFn(lc: LabelCall, ctx: Ctx): Vec = {
    val v = evalExpr(lc.arg, ctx)
    val nameRe = "[a-zA-Z_][a-zA-Z0-9_]*"
    lc.fn match {
      case "label_replace" =>
        val Seq(dst, rep, src, re) = (lc.params match {
          case p if p.size == 4 => p
          case p => throw new IllegalArgumentException(
            s"label_replace(v, dst, rep, src, regex) needs 4 string params, got ${p.size}")
        }): @unchecked
        require(dst.matches(nameRe), s"invalid destination label '$dst'")
        require(v.labels.contains(src), s"source label '$src' not in ${v.labels}")
        val anchored = "^(?:" + re + ")$"
        val dstExpr = when(col(src).rlike(anchored),
          regexp_replace(col(src), anchored, rep))
          .otherwise(if (v.labels.contains(dst)) col(dst) else lit(""))
        val labels = if (v.labels.contains(dst)) v.labels else v.labels :+ dst
        Vec(v.df.withColumn(dst, dstExpr)
          .select((labels :+ "value").map(col): _*), labels, v.kind)
      case "label_join" =>
        val (dst, sep, srcs) = lc.params match {
          case d +: s +: rest if rest.nonEmpty => (d, s, rest)
          case p => throw new IllegalArgumentException(
            s"label_join(v, dst, sep, srcs…) needs ≥ 3 string params, got ${p.size}")
        }
        require(dst.matches(nameRe), s"invalid destination label '$dst'")
        srcs.foreach(s => require(v.labels.contains(s),
          s"source label '$s' not in ${v.labels}"))
        val labels = if (v.labels.contains(dst)) v.labels else v.labels :+ dst
        Vec(v.df.withColumn(dst, concat_ws(sep, srcs.map(col): _*))
          .select((labels :+ "value").map(col): _*), labels, v.kind)
      case "sort_by_label" | "sort_by_label_desc" =>
        // Prometheus 3.x presentation sort: order by the given labels
        // (then the remaining labels, then value, for determinism);
        // representation and label set untouched, like sort()
        if (lc.params.isEmpty) throw new IllegalArgumentException(
          s"${lc.fn} needs at least one label to sort by")
        lc.params.foreach(l => require(v.labels.contains(l),
          s"${lc.fn}: label '$l' not in result labels ${v.labels.mkString(",")}"))
        val desc = lc.fn == "sort_by_label_desc"
        val keyed = lc.params.map(l => if (desc) col(l).desc else col(l).asc)
        val rest = v.labels.filterNot(lc.params.contains).map(col(_).asc)
        Vec(v.df.orderBy(keyed ++ rest :+ col("value").asc: _*),
          v.labels, v.kind)
      case other => throw new IllegalArgumentException(s"unknown function '$other'")
    }
  }

  /** `histogram_quantile(φ, v)` over a vector with an `le` label —
    * the Prometheus `_bucket` interpolation: per group (all labels
    * but le; the step joins implicitly in range mode), rank = φ ·
    * value(+Inf), pick the lowest bucket whose CUMULATIVE value
    * reaches the rank, and interpolate linearly inside it (lower
    * bound 0 for the first bucket; the +Inf bucket answers with the
    * last finite upper bound). Bucket counts arrive as exact longs
    * from the counter family; the interpolation is a fixed float
    * expression — one multiply, one divide — reproducible in SQL.
    * Groups without a +Inf bucket are dropped (rank undefined), as
    * are EMPTY histograms (total 0): Prometheus answers those with
    * NaN; dropping the sample instead keeps every emitted value
    * defined and the whole expression reproducible in an ANSI
    * oracle. */
  private def histQuantile(phi: Double, arg: Expr, ctx: Ctx): Vec = {
    val v = evalExpr(arg, ctx)
    if (!v.labels.contains("le") && v.labels.contains("nb"))
      return histQuantileNative(phi, v)
    if (!v.labels.contains("le") && v.labels.contains("nbc"))
      return histQuantileNhcb(phi, v)
    if (!v.labels.contains("le")) throw new IllegalArgumentException(
      "histogram_quantile needs an 'le' (classic), 'nb' (native " +
        "exponential) or 'nbc' (native custom-bucket) label on its " +
        s"input vector (got ${v.labels.mkString(", ")})")
    // a vector carrying BOTH models of one metric — the
    // scrape_classic_histograms rollout fleet. le+nbc merges through
    // the NHCB bridge; le+nb has no bridge and fails loud (silently
    // treating the other bucket label as a plain grouping label was
    // the one remaining silent-wrong class).
    if (v.labels.contains("nb")) throw new IllegalArgumentException(
      "histogram_quantile over a vector carrying BOTH 'le' (classic) " +
        "and 'nb' (native exponential) labels has no defined merge — " +
        "exponential bounds do not telescope onto a classic bound " +
        "table; aggregate the models apart or bridge the classic " +
        "side through NHCB (nbc)")
    histQuantileClassic(phi,
      if (v.labels.contains("nbc")) migrationUnion("histogram_quantile", v)
      else v)
  }

  /** The classic `le`-bucket interpolation body ([[histQuantile]]'s
    * original lowering); the migration union routes rewritten NHCB
    * fleets through this same body. */
  private def histQuantileClassic(phi: Double, v: Vec): Vec = {
    val L = v.labels.filterNot(_ == "le")
    def ordW = Window.partitionBy(L.map(col): _*).orderBy(col("__le"))
    val fullW = ordW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cumD = col("value").cast("double") // raw; φ·total uses the same scale
    val df = v.df
      .withColumn("__le", when(col("le") === "+Inf", lit(Double.PositiveInfinity))
        .otherwise(col("le").cast("double")))
      .withColumn("__cum", cumD)
      .withColumn("__prevLe", lag(col("__le"), 1).over(ordW))
      .withColumn("__prevCum", lag(col("value"), 1).over(ordW).cast("double"))
      .withColumn("__total",
        max(when(col("__le") === Double.PositiveInfinity, cumD)).over(fullW))
      .withColumn("__rank", lit(phi) * col("__total"))
    val first = df.filter(col("__total") > 0 && col("__cum") >= col("__rank"))
      .withColumn("__rn", row_number().over(ordW))
      .filter(col("__rn") === 1)
    val lower = coalesce(col("__prevLe"), lit(0.0))
    val prevC = coalesce(col("__prevCum"), lit(0.0))
    val interp = lower + (col("__le") - lower) *
      ((col("__rank") - prevC) / (col("__cum") - prevC))
    // degenerate layout (a rank in +Inf with no finite bucket): NaN,
    // like the reference bucketQuantile — never a null sample
    val value = when(col("__le") === Double.PositiveInfinity,
        coalesce(col("__prevLe"), lit(Double.NaN)))
      .otherwise(interp)
    Vec(first.withColumn("value", value)
      .select(L.map(col) :+ col("value"): _*), L, Dbl)
  }

  /** MIGRATION UNION — the scrape_classic_histograms rollout fleet:
    * a vector whose store carries BOTH `le` classic bucket series and
    * `nbc` NHCB series of the SAME metric (day one of a rollout, some
    * hosts migrated, some not). The NHCB bridge makes the union
    * well-defined: schema −53 carries EXPLICIT upper bounds — the
    * classic layout — so every NHCB series rewrites exactly onto
    * classic form (bucket counts cumulate over the bound order, which
    * makes the rewritten "+Inf" row equal the count arm — count and
    * the exact sum arm drop; `le` := `nbc`), and then same-(group,
    * bound) rows MERGE by addition: the union telescopes on the
    * shared bound table, exactly what `sum by (le)` does to an
    * all-classic fleet, so a migration dashboard reads the same
    * answer it read before the rollout started. Absent label == empty
    * string (the Prometheus data model). Returned labels: the input
    * minus `nbc`. Because the exact NHCB sum arm cannot merge with a
    * classic side that never had one, downstream sum/avg/stddev/
    * stdvar degrade to the classic MIDPOINT estimator — a union is
    * never more exact than its classic half.
    *
    * Fail-loud, never silent-wrong:
    *  - a row claiming both models (le and nbc both non-empty) or
    *    neither raises, naming the labels;
    *  - a group identity carrying both models whose bound tables
    *    DIFFER raises (cumulative series over different bound sets
    *    cannot add — the shared layout IS the bridge premise).
    *
    * Scale: one series-grain window per group identity plus one tiny
    * groupBy — the vector is post-fold (≤ |series|·|bounds| rows),
    * never point data. */
  private def migrationUnion(fn: String, v: Vec): Vec = {
    val G = v.labels.filterNot(l => l == "le" || l == "nbc")
    val outL = v.labels.filterNot(_ == "nbc")
    val vt = v.df.schema("value").dataType.catalogString
    val leS = coalesce(col("le"), lit(""))
    val nbcS = coalesce(col("nbc"), lit(""))
    def partW(cols: Seq[String]) =
      if (cols.isEmpty) Window.partitionBy()
      else Window.partitionBy(cols.map(col): _*)
    // classify each row exactly once; the malformed arms live INSIDE
    // the classification expression so no later filter can drop a
    // malformed row before its error evaluates
    val model = when(leS =!= "" && nbcS =!= "", raise_error(concat(
        lit(s"$fn: a series carries both le='"), col("le"),
        lit("' and nbc='"), col("nbc"),
        lit("' — one series cannot be classic and NHCB at " +
          "once"))).cast("int"))
      .when(leS === "" && nbcS === "", raise_error(lit(
        s"$fn: a series in a migration (le+nbc) vector carries " +
          "neither bucket label — not a histogram series")).cast("int"))
      .when(leS =!= "", lit(1)).otherwise(lit(2))
    val isC = col("__m") === 1
    val isN = col("__m") === 2
    // the bound-order key for the NHCB cumulation (classic counts are
    // already cumulative and never read it; nulls sort first, before
    // every real bound)
    val parsed = expr("try_cast(nbc AS DOUBLE)")
    val nbcOrd = when(col("nbc") === "+Inf", lit(Double.PositiveInfinity))
      .otherwise(when(parsed.isNull, raise_error(concat(
        lit(s"$fn: NHCB bucket bound '"), col("nbc"),
        lit("' is not numeric"))).cast("double")).otherwise(parsed))
    val cumW = partW(G).orderBy(col("__mord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rewritten = v.df.withColumn("__m", model)
      // NHCB count/sum arms drop: the cumulated "+Inf" bucket IS the
      // count, and the classic side has no exact-sum twin to merge with
      .filter(isC || (col("nbc") =!= "count" && col("nbc") =!= "sum"))
      .withColumn("__mord", when(isC, lit(null).cast("double")).otherwise(nbcOrd))
      .withColumn("value", when(isC, col("value"))
        .otherwise(sum(when(isN, col("value"))).over(cumW)))
      .withColumn("le", when(isC, col("le")).otherwise(col("nbc")))
    // the telescope gate: a group holding both models must hold them
    // on the SAME bound table — checked per bound (each bound row
    // must then see both models)
    val gW = partW(G)
    val bW = partW(G :+ "le")
    val gated = rewritten
      .withColumn("__gc", max(when(isC, 1).otherwise(0)).over(gW))
      .withColumn("__gn", max(when(isN, 1).otherwise(0)).over(gW))
      .withColumn("__bc", max(when(isC, 1).otherwise(0)).over(bW))
      .withColumn("__bn", max(when(isN, 1).otherwise(0)).over(bW))
      .withColumn("value", when(
          col("__gc") === 1 && col("__gn") === 1 &&
            (col("__bc") === 0 || col("__bn") === 0),
          raise_error(concat(lit(s"$fn: migration union: bound '"),
            col("le"), lit("' exists in only one model of a group " +
              "carrying both classic (le) and NHCB (nbc) series — " +
              "the bound tables do not telescope; fix the NHCB " +
              "layout to the classic bounds or aggregate the models " +
              "apart"))).cast(vt))
        .otherwise(col("value")))
    // the telescoping merge: ≤ 2 rows per (group, bound), one per
    // model — histogram addition on the shared bound table
    val merged = gated.groupBy((G :+ "le").map(col): _*)
      .agg(sum("value").as("value"))
    Vec(merged.select(outL.map(col) :+ col("value"): _*), outL, v.kind)
  }

  /** `histogram_quantile(φ, v)` over an NHCB vector — a native
    * histogram with CUSTOM buckets (Prometheus 3.x schema −53, the
    * scrape_classic_histograms migration bridge): an `nbc` label
    * carrying each bucket's explicit upper bound (decimal string,
    * "+Inf" top arm) with NON-cumulative per-bucket counts, plus the
    * exact count/sum arms of the native data model. The lowering
    * cumulates over the bound order and dispatches into the CLASSIC
    * interpolation body — first bucket's lower bound pinned at 0, a
    * rank in the +Inf arm answering the last finite bound — so a
    * migrated `le` dashboard reads identically off the new store.
    * Counts stay exact longs through the cumulation; one float
    * expression at output. */
  private def histQuantileNhcb(phi: Double, v: Vec): Vec = {
    require(phi >= 0 && phi <= 1,
      s"histogram_quantile over an NHCB (nbc) vector needs " +
        s"phi in [0, 1], got $phi")
    val L = v.labels.filterNot(_ == "nbc")
    val ordW = Window.partitionBy(L.map(col): _*).orderBy(col("__le"))
    val cumW = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the count-arm total rides a group-sized window over the same
    // frame (single vector reference — no second decode)
    val totW = Window.partitionBy(L.map(col): _*).orderBy(col("nbc"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val parsed = expr("try_cast(nbc AS DOUBLE)")
    val df = v.df
      .withColumn("__tot",
        max(when(col("nbc") === "count", col("value"))).over(totW))
      .filter(col("nbc") =!= "count" && col("nbc") =!= "sum")
      .withColumn("__le",
        when(col("nbc") === "+Inf", lit(Double.PositiveInfinity))
          .otherwise(when(parsed.isNull, raise_error(concat(
            lit("NHCB bucket bound '"), col("nbc"),
            lit("' is not numeric"))).cast("double")).otherwise(parsed)))
      .withColumn("__cum", sum(col("value")).over(cumW))
      .withColumn("__prevLe", lag(col("__le"), 1).over(ordW))
      .withColumn("__rank", lit(phi) * col("__tot").cast("double"))
    val first = df.filter(col("__tot") > 0 && col("__cum") > 0 &&
        col("__cum").cast("double") >= col("__rank"))
      .withColumn("__rn", row_number().over(ordW))
      .filter(col("__rn") === 1)
    val lower = coalesce(col("__prevLe"), lit(0.0))
    val prevC = (col("__cum") - col("value")).cast("double")
    val interp = lower + (col("__le") - lower) *
      ((col("__rank") - prevC) / (col("__cum").cast("double") - prevC))
    // a rank in the +Inf arm with NO finite bucket below it has no
    // interpolable bound: answer NaN (the reference bucketQuantile's
    // degenerate-layout convention), never a null sample
    val value = when(col("__le") === Double.PositiveInfinity,
        coalesce(col("__prevLe"), lit(Double.NaN)))
      .otherwise(interp)
    Vec(first.withColumn("value", value)
      .select(L.map(col) :+ col("value"): _*), L, Dbl)
  }

  /** `histogram_quantile(φ, v)` over a NATIVE-histogram vector (an
    * `nb` label: exponential bucket indices + count/sum/zero arms,
    * [[NativeHist]]). Unlike classic `le` buckets the per-index
    * counts are NOT cumulative, so the lowering cumulates over the
    * index order first (zero arm sorts lowest), takes rank =
    * φ · count-arm value, picks the first bucket whose running sum
    * reaches it, and interpolates LINEARLY between the bucket's
    * exponential bounds — the documented convention here (it matches
    * the classic-bucket rule; a rank in the zero arm answers exactly
    * 0 since its bounds collapse). Counts stay exact longs through
    * the cumulation; the one float expression at output embeds the
    * SAME bound doubles the oracle carries, so results reproduce
    * bit-for-bit. Groups without a count arm or with total 0 drop,
    * like the classic form. */
  private def histQuantileNative(phi: Double, v: Vec): Vec = {
    // fail loud outside [0, 1]: φ > 1 would silently drop every
    // series (rank past the last cumulative) and φ < 0 would
    // interpolate a negative rank through the first bucket
    require(phi >= 0 && phi <= 1,
      s"histogram_quantile over a native-histogram vector needs " +
        s"phi in [0, 1], got $phi")
    val L = v.labels.filterNot(_ == "nb")
    val s = v.df.sparkSession
    import s.implicits._
    // a `schema` label (mixed-fleet store, or the coarsest carried out
    // of a downscaling aggregation) keys the bound table per
    // resolution; without one the store-wide default schema applies
    val hasSchema = v.labels.contains("schema")
    val bounds = broadcast(
      if (hasSchema)
        SchemaRange.flatMap(sc => NativeHist.boundRowsFor(sc)
            .map(t => (sc.toString, t._1, t._2, t._3, t._4)))
          .toDF("schema", "nb", "__ord", "__blo", "__bhi")
      else NativeHist.boundRows.toDF("nb", "__ord", "__blo", "__bhi"))
    val ordW = Window.partitionBy(L.map(col): _*).orderBy(col("__ord"))
    val cumW = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the count-arm total rides a group-sized window over the SAME
    // frame (the classic histQuantile __total trick) — a filter+join
    // spelling would reference the rate subtree twice and decode the
    // selector's chunks twice (caught by the plan pin)
    val totW = Window.partitionBy(L.map(col): _*).orderBy(col("nb"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val df = (if (hasSchema) validSchema(v.df) else v.df)
      .withColumn("__tot",
        max(when(col("nb") === "count", col("value"))).over(totW))
      .filter(col("nb") =!= "count" && col("nb") =!= "sum")
      .join(bounds, if (hasSchema) Seq("schema", "nb") else Seq("nb"))
      .withColumn("__cum", sum(col("value")).over(cumW))
      .withColumn("__rank", lit(phi) * col("__tot").cast("double"))
    // the __cum > 0 arm only bites at φ = 0 (rank 0): it skips empty
    // leading buckets so the answer is the LOWEST POPULATED bucket's
    // lower bound (prevCum = 0 there, so the interpolation lands
    // exactly on __blo) instead of 0/0 → NaN on an empty first row
    val first = df.filter(col("__tot") > 0 && col("__cum") > 0 &&
        col("__cum").cast("double") >= col("__rank"))
      .withColumn("__rn", row_number().over(ordW))
      .filter(col("__rn") === 1)
    val prevC = (col("__cum") - col("value")).cast("double")
    val interp = col("__blo") + (col("__bhi") - col("__blo")) *
      ((col("__rank") - prevC) / (col("__cum").cast("double") - prevC))
    Vec(first.withColumn("value", interp)
      .select(L.map(col) :+ col("value"): _*), L, Dbl)
  }

  /** `histogram_count/sum/avg/fraction/stddev/stdvar` over a
    * NATIVE-histogram vector: the count and sum ARMS pass through
    * (native histograms carry an EXACT sum — no midpoint estimation,
    * the main accuracy win over classic buckets); avg is the one
    * raw-over-raw division (the shared rate denominators cancel
    * exactly); fraction locates each scalar bound's bucket AT COMPILE
    * TIME ([[NativeHist.locate]]) so F(x) is two conditional integer
    * sums plus one multiply by a shared literal — reproducible in an
    * ANSI oracle. stddev/stdvar use the Prometheus native-histogram
    * convention — each bucket contributes n·(mid − mean)² with mid =
    * the GEOMETRIC midpoint √(lo·hi) (0 for the zero arm), mean =
    * sum/count — folded over a sort_array'd bucket list so the float
    * sum has ONE deterministic order regardless of layout; rows-only
    * gated (the fold order is pinned in PromqlSpec, not expressible
    * in a portable SQL oracle). A `schema` label keys the bound /
    * locate tables per resolution (mixed-fleet stores). */
  private def histAggNative(fn: String, params: Seq[Double], v: Vec): Vec = {
    val L = v.labels.filterNot(_ == "nb")
    val hasSchema = v.labels.contains("schema")
    val s = v.df.sparkSession
    import s.implicits._
    def arm(a: String) = v.df.filter(col("nb") === a)
    fn match {
      case "histogram_fraction" =>
        val Seq(lo0, hi0) = (params match {
          case p if p.size == 2 => p
          case p => throw new IllegalArgumentException(
            s"histogram_fraction(lo, hi, v) needs two scalar bounds, got ${p.size}")
        }): @unchecked
        require(lo0 <= hi0,
          s"histogram_fraction needs lo <= hi, got ($lo0, $hi0)")
        val bounds = broadcast(
          if (hasSchema)
            SchemaRange.flatMap(sc => NativeHist.boundRowsFor(sc)
                .map(t => (sc.toString, t._1, t._2)))
              .toDF("schema", "nb", "__ord")
          else NativeHist.boundRows.map(t => (t._1, t._2)).toDF("nb", "__ord"))
        // F(x) per group = Σ_{ord<ordX} n + n_{ordX}·frac — sparse
        // series just contribute 0 where a bucket is absent; the
        // count/sum arms ride the SAME aggregate (left-joined bounds
        // leave their __ord null, so the conditional sums skip them)
        // instead of a second vector reference that would decode twice.
        // With a schema label the (ordX, frac) constants are resolved
        // per resolution and selected by the row's schema — a group
        // only ever holds one schema, so exactly one chain is live
        def fAt(x: Double): Column =
          if (!hasSchema) {
            val (ordX, frac) = NativeHist.locate(x)
            coalesce(sum(when(col("__ord") < ordX, col("value"))), lit(0L))
              .cast("double") +
              coalesce(sum(when(col("__ord") === ordX, col("value"))), lit(0L))
                .cast("double") * lit(frac)
          } else SchemaRange.map { sc =>
            val (ordX, frac) = NativeHist.locateAt(x, sc)
            val m = col("schema") === sc.toString
            coalesce(sum(when(m && col("__ord") < ordX, col("value"))), lit(0L))
              .cast("double") +
              coalesce(sum(when(m && col("__ord") === ordX, col("value"))), lit(0L))
                .cast("double") * lit(frac)
          }.reduce(_ + _)
        val g = (if (hasSchema) validSchema(v.df) else v.df).join(bounds,
            if (hasSchema) Seq("schema", "nb") else Seq("nb"), "left")
          .groupBy(L.map(col): _*)
          .agg(fAt(hi0).as("__fhi"), fAt(lo0).as("__flo"),
            max(when(col("nb") === "count", col("value"))).as("__tot"))
        Vec(g.filter(col("__tot") > 0)
          .select(L.map(col) :+ ((col("__fhi") - col("__flo")) /
            col("__tot").cast("double")).as("value"): _*), L, Dbl)
      case "histogram_count" =>
        Vec(arm("count").select(L.map(col) :+ col("value"): _*), L, v.kind)
      case "histogram_sum" =>
        Vec(arm("sum").select(L.map(col) :+ col("value"): _*), L, v.kind)
      case "histogram_avg" =>
        // one conditional aggregate over the single vector reference
        // (a sum⋈count self-join would decode the selector twice)
        val g = v.df.groupBy(L.map(col): _*)
          .agg(max(when(col("nb") === "sum", col("value"))).as("__s"),
            max(when(col("nb") === "count", col("value"))).as("__c"))
        Vec(g.filter(col("__s").isNotNull && col("__c") > 0)
          .select(L.map(col) :+ (col("__s").cast("double") /
            col("__c").cast("double")).as("value"): _*), L, Dbl)
      case "histogram_stddev" | "histogram_stdvar" =>
        // Prometheus native convention: Σ n_i·(mid_i − μ)² / count
        // with mid = √(lo·hi) geometric (0 for the zero arm), μ =
        // sum/count. The mids are irrational, so the variance is a
        // FLOAT sum — made layout-independent by folding a
        // sort_array'd (ord, n, mid) list left-to-right; the mid
        // literals are driver-computed doubles shared with the spec
        // pin. One conditional aggregate over the single vector
        // reference, like avg.
        // geometric midpoint √(lo·hi), 0 for the zero arm, NEGATED for
        // the mirrored span (its bound pair is (−hi, −lo): the product
        // is positive, the midpoint must carry the span's sign)
        def midOf(t: (String, Int, Double, Double)): Double =
          if (t._2 == NativeHist.ZeroOrd) 0.0
          else if (t._3 < 0) -Math.sqrt(t._3 * t._4)
          else Math.sqrt(t._3 * t._4)
        val bounds = broadcast(
          if (hasSchema)
            SchemaRange.flatMap(sc => NativeHist.boundRowsFor(sc).map(t =>
                (sc.toString, t._1, t._2, midOf(t))))
              .toDF("schema", "nb", "__ord", "__mid")
          else NativeHist.boundRows.map(t => (t._1, t._2, midOf(t)))
            .toDF("nb", "__ord", "__mid"))
        val g = (if (hasSchema) validSchema(v.df) else v.df).join(bounds,
            if (hasSchema) Seq("schema", "nb") else Seq("nb"), "left")
          .groupBy(L.map(col): _*)
          .agg(sort_array(collect_list(when(col("__ord").isNotNull,
              struct(col("__ord").as("o"),
                col("value").cast("double").as("n"),
                col("__mid").as("m"))))).as("__bs"),
            max(when(col("nb") === "count", col("value"))).as("__c"),
            max(when(col("nb") === "sum", col("value"))).as("__s"))
          .filter(col("__s").isNotNull && col("__c") > 0)
          .withColumn("__mu", col("__s").cast("double") / col("__c").cast("double"))
          .withColumn("__vr", expr(
            "aggregate(__bs, 0.0D, (acc, x) -> acc + x.n * (x.m - __mu) * (x.m - __mu))")
            / col("__c").cast("double"))
        Vec(g.select(L.map(col) :+
          (if (fn == "histogram_stddev") sqrt(col("__vr")) else col("__vr"))
            .as("value"): _*), L, Dbl)
      case other => throw new IllegalArgumentException(
        s"$other over a native-histogram (nb) vector is not supported " +
          "(classic-bucket `le` vectors carry the full family)")
    }
  }

  /** `histogram_count/sum/avg/fraction` over an NHCB (`nbc`) vector:
    * like the exponential-native family the count and EXACT sum arms
    * are carried data (the accuracy win NHCB preserves through the
    * migration — no midpoint estimation), so count/sum pass through
    * and avg is one raw-over-raw division. fraction is a SINGLE
    * conditional aggregate over the one vector reference: a bucket
    * (prevLe, le] contributes its full count when le ≤ x, the
    * straddling bucket contributes n·(x−prevLe)/(le−prevLe), and the
    * +Inf arm's partial term IEEE-collapses to 0 — so a bound past
    * the last finite bucket answers the full finite cumulative, the
    * classic convention. Counts stay exact longs except the one
    * straddle multiply. stddev/stdvar over nbc fail loud: no moment
    * convention is defined for custom buckets, and a user migrating
    * off `le` buckets keeps the exact arms instead. */
  private def histAggNhcb(fn: String, params: Seq[Double], v: Vec): Vec = {
    val L = v.labels.filterNot(_ == "nbc")
    fn match {
      case "histogram_count" =>
        Vec(v.df.filter(col("nbc") === "count")
          .select(L.map(col) :+ col("value"): _*), L, v.kind)
      case "histogram_sum" =>
        Vec(v.df.filter(col("nbc") === "sum")
          .select(L.map(col) :+ col("value"): _*), L, v.kind)
      case "histogram_avg" =>
        val g = v.df.groupBy(L.map(col): _*)
          .agg(max(when(col("nbc") === "sum", col("value"))).as("__s"),
            max(when(col("nbc") === "count", col("value"))).as("__c"))
        Vec(g.filter(col("__s").isNotNull && col("__c") > 0)
          .select(L.map(col) :+ (col("__s").cast("double") /
            col("__c").cast("double")).as("value"): _*), L, Dbl)
      case "histogram_fraction" =>
        val Seq(lo0, hi0) = (params match {
          case p if p.size == 2 => p
          case p => throw new IllegalArgumentException(
            s"histogram_fraction(lo, hi, v) needs two scalar bounds, got ${p.size}")
        }): @unchecked
        require(lo0 <= hi0,
          s"histogram_fraction needs lo <= hi, got ($lo0, $hi0)")
        val parsed = expr("try_cast(nbc AS DOUBLE)")
        // arm rows keep a NULL __le and sort first, so the first real
        // bucket's lag coalesces to the classic 0 lower bound and the
        // arms drop out of every conditional term (null comparisons)
        val ordW = Window.partitionBy(L.map(col): _*)
          .orderBy(col("__le").asc_nulls_first, col("nbc"))
        val base = v.df
          .withColumn("__le",
            when(col("nbc") === "+Inf", lit(Double.PositiveInfinity))
              .otherwise(when(col("nbc") === "count" || col("nbc") === "sum",
                lit(null).cast("double"))
                .otherwise(when(parsed.isNull, raise_error(concat(
                  lit("NHCB bucket bound '"), col("nbc"),
                  lit("' is not numeric"))).cast("double")).otherwise(parsed))))
          .withColumn("__plo",
            coalesce(lag(col("__le"), 1).over(ordW), lit(0.0)))
        def fAt(x0: Double): Column = {
          val x = math.max(x0, 0.0) // classic first-bucket floor at 0
          coalesce(sum(when(col("__le") <= x, col("value"))), lit(0L))
            .cast("double") +
            coalesce(sum(when(col("__plo") < x && lit(x) < col("__le"),
              col("value").cast("double") *
                ((lit(x) - col("__plo")) / (col("__le") - col("__plo"))))),
              lit(0.0))
        }
        val g = base.groupBy(L.map(col): _*)
          .agg(fAt(hi0).as("__fhi"), fAt(lo0).as("__flo"),
            max(when(col("nbc") === "count", col("value"))).as("__tot"))
        Vec(g.filter(col("__tot") > 0)
          .select(L.map(col) :+ ((col("__fhi") - col("__flo")) /
            col("__tot").cast("double")).as("value"): _*), L, Dbl)
      case other => throw new IllegalArgumentException(
        s"$other over an NHCB (nbc) vector is not supported — the " +
          "exact count/sum arms, histogram_quantile and " +
          "histogram_fraction carry the migrated dashboard surface")
    }
  }

  /** `histogram_count/sum/avg/fraction` over a classic `_bucket`
    * vector (an `le` label with cumulative counters, "+Inf" arm
    * present) — the dashboard tail next to [[histQuantile]], stepped
    * for free (the step label rides the group like every other
    * grouping here).
    *
    * - `histogram_count(v)`: the +Inf bucket's value per group —
    *   exact, representation untouched (composes with `rate`: the
    *   rate-then-count shape keeps the one-divide-at-output contract).
    * - `histogram_sum(v)`: the classic-bucket midpoint estimator
    *   (native histograms carry an exact sum; cumulative buckets
    *   don't, so this is the standard Σ count_i · mid_i with the +Inf
    *   arm pinned at the last finite bound — the same convention
    *   histogram_quantile uses for φ→1). Computed as Σ ΔL·(lo+hi) on
    *   the exact integer MICRO grid (bounds parsed via DECIMAL — a
    *   double parse would silently truncate Prometheus's default
    *   .005/.025 layout; off-grid bounds fail loud) with ONE
    *   denominator change (denom · 2e6), so `sum()` over it stays
    *   order-independent and the float division happens once at
    *   output. Per-bucket Δ and bound lags are group-sized windows
    *   (≤ |buckets| rows per series), never data-sized.
    * - `histogram_avg(v)` = sum/count in ONE float division:
    *   Σ ΔL·(lo+hi) / (2e6 · L_inf) — denominators cancel exactly, so
    *   the emitted double is reproducible from the raw longs.
    * - `histogram_stddev/stdvar(v)`: the midpoint-estimator variance
    *   E[mid²] − μ² (Prometheus defines these for NATIVE histograms
    *   only; this is the classic-bucket estimator, the same midpoint
    *   convention histogram_sum uses). The second moment Σ ΔL·(lo+hi)²
    *   aggregates in DECIMAL — exact AND order-independent where a
    *   float sum would be neither — so the output is two divisions,
    *   one subtraction (and one sqrt) over exact integers.
    * - `histogram_fraction(lo, hi, v)`: (F(hi) − F(lo)) / total with
    *   F linearly interpolated inside the bucket containing the bound
    *   (lower bound 0 for the first bucket, Prometheus's
    *   histogram_quantile rule). Bounds clamp at 0 (first-bucket
    *   floor) and lo > hi is rejected; a bound past the last finite
    *   bucket interpolates against +Inf, which IEEE-collapses to
    *   F = prevCum — no special-casing, the same expression both
    *   engines run. Groups without a +Inf bucket or with total 0
    *   drop (fraction undefined), like [[histQuantile]]. */
  private def histAgg(fn: String, params: Seq[Double], arg: Expr,
                      ctx: Ctx): Vec = {
    val v0 = evalExpr(arg, ctx)
    if (!v0.labels.contains("le") && v0.labels.contains("nb"))
      return histAggNative(fn, params, v0)
    if (!v0.labels.contains("le") && v0.labels.contains("nbc"))
      return histAggNhcb(fn, params, v0)
    if (!v0.labels.contains("le")) throw new IllegalArgumentException(
      s"$fn needs an 'le' (classic), 'nb' (native) or 'nbc' (NHCB) " +
        s"label on its input vector (got ${v0.labels.mkString(", ")})")
    // both models in one vector: same dispatch discipline as
    // histogram_quantile — le+nbc merges through the NHCB bridge
    // (degrading sum/avg/stddev/stdvar to the classic midpoint
    // estimator, see migrationUnion), le+nb fails loud
    if (v0.labels.contains("nb")) throw new IllegalArgumentException(
      s"$fn over a vector carrying BOTH 'le' (classic) and 'nb' " +
        "(native exponential) labels has no defined merge — " +
        "exponential bounds do not telescope onto a classic bound " +
        "table; aggregate the models apart or bridge the classic " +
        "side through NHCB (nbc)")
    val v = if (v0.labels.contains("nbc")) migrationUnion(fn, v0) else v0
    val L = v.labels.filterNot(_ == "le")
    def ordW = Window.partitionBy(L.map(col): _*).orderBy(col("__le"))
    val fullW = ordW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def withLe(df: DataFrame): DataFrame = df.withColumn("__le",
      when(col("le") === "+Inf", lit(Double.PositiveInfinity))
        .otherwise(col("le").cast("double")))
    fn match {
      case "histogram_count" =>
        Vec(v.df.filter(col("le") === "+Inf")
          .select(L.map(col) :+ col("value"): _*), L, v.kind)
      case "histogram_sum" | "histogram_avg" |
           "histogram_stddev" | "histogram_stdvar" =>
        val denom = v.kind match {
          case Exact(d) => d
          case Dbl => throw new IllegalArgumentException(
            s"$fn over a float bucket vector is order-dependent; " +
              "aggregate before the float op")
        }
        // per-bucket Δcount and the (lo + hi) MICRO-unit factor; the
        // +Inf arm contributes at 2·(last finite bound). Bounds parse
        // through DECIMAL, never double, so Prometheus's default
        // .005/.025-style layouts stay exact; a bound off the 1e-6
        // grid (or past ±2e12) fails loud instead of truncating.
        // The ±2e12 cap keeps every derived LONG in range: __lec ≤
        // 2e18, so __fc = __plec + __lec (and the +Inf arm's
        // __plec·2) stays ≤ 4e18 < Long.MaxValue
        val led = col("le").cast("decimal(38,12)")
        val ledBad = led.isNull ||
          led =!= led.cast("decimal(38,6)").cast("decimal(38,12)") ||
          abs(led) > lit(2e12)
        val df = withLe(v.df)
          .withColumn("__lec", when(col("le") === "+Inf", lit(null))
            .otherwise(when(ledBad, raise_error(concat(
              lit(s"$fn: bucket bound '"), col("le"),
              lit("' is not on the exact 1e-6 grid"))).cast("long"))
              .otherwise((led * lit(1000000L)).cast("long"))))
          .withColumn("__plec",
            coalesce(lag(col("__lec"), 1).over(ordW), lit(0L)))
          .withColumn("__fc", when(col("le") === "+Inf", col("__plec") * 2)
            .otherwise(col("__plec") + col("__lec")))
          .withColumn("__dl",
            col("value") - coalesce(lag(col("value"), 1).over(ordW), lit(0L)))
        val fcDec = col("__fc").cast("decimal(38,0)")
        // both moments in DECIMAL: Δ·fc (first) and Δ·fc² (second)
        // overflow BIGINT at plausible counter volumes (Δ ~ 1e9 ×
        // fc ~ 4e18 ≫ 2⁶³), and decimal sums stay exact AND
        // order-independent (the float-sum ban holds). The ±2e12 le
        // cap bounds the per-row FIRST moment (Δ·fc ≤ 9.3e18·4e18
        // overflows? no: |Δ| ≤ 2⁶³ and fc ≤ 4e18 CAN overflow 1e38
        // together, and Δ·fc² does so at Δ ≥ 7) — under non-ANSI
        // mode an overflowed product or sum is a silent NULL that
        // sum() would drop (or greatest() would absorb), quietly
        // corrupting the moment. Guard BOTH layers loud: a per-row
        // product that nulls out raises, and a nulled aggregate
        // (sum overflow across rows) raises after the fold.
        def ovGuard(prod: Column, what: String): Column =
          when(prod.isNull, raise_error(lit(
            s"$fn: $what overflows decimal(38,0) — bucket bounds too " +
              "large for exact midpoint moments at this count volume"))
            .cast("decimal(38,0)")).otherwise(prod)
        val dlDec = col("__dl").cast("decimal(38,0)")
        val g0 = df.groupBy(L.map(col): _*)
          .agg(sum(ovGuard(dlDec * fcDec, "a Δ·(lo+hi) term")).as("__num"),
            sum(ovGuard(dlDec * fcDec * fcDec, "a Δ·(lo+hi)² term")).as("__m2"),
            max(when(col("le") === "+Inf", col("value"))).as("__cnt"),
            count(col("__dl")).as("__nrows"))
          .filter(col("__cnt").isNotNull)
        val g = g0
          .withColumn("__num", when(col("__nrows") > 0 && col("__num").isNull,
            raise_error(lit(s"$fn: first-moment sum overflows decimal(38,0)"))
              .cast("decimal(38,0)")).otherwise(col("__num")))
          .withColumn("__m2", when(col("__nrows") > 0 && col("__m2").isNull,
            raise_error(lit(s"$fn: second-moment sum overflows decimal(38,0)"))
              .cast("decimal(38,0)")).otherwise(col("__m2")))
          .drop("__nrows")
        fn match {
          case "histogram_sum" =>
            Vec(g.select(L.map(col) :+ col("__num").as("value"): _*),
              L, Exact(denom * 2.0e6))
          case "histogram_avg" =>
            Vec(g.filter(col("__cnt") > 0)
              .select(L.map(col) :+ (col("__num").cast("double") /
                (lit(2.0e6) * col("__cnt").cast("double"))).as("value"): _*),
              L, Dbl)
          case _ => // histogram_stddev / histogram_stdvar
            // midpoint-estimator variance E[mid²] − μ²: both moments
            // exact integers (BIGINT / DECIMAL) until the two divisions
            val cntd = col("__cnt").cast("double")
            val mu = col("__num").cast("double") / (lit(2.0e6) * cntd)
            // clamp at 0: a single-bucket histogram's true variance is
            // 0, but E[mid²] and μ² round through DIFFERENT expression
            // trees, so the subtraction can land one ulp negative —
            // sqrt would answer NaN for a perfectly ordinary input
            val vr = greatest(
              col("__m2").cast("double") / (lit(4.0e12) * cntd) - mu * mu,
              lit(0.0))
            Vec(g.filter(col("__cnt") > 0)
              .select(L.map(col) :+
                (if (fn == "histogram_stddev") sqrt(vr) else vr).as("value"): _*),
              L, Dbl)
        }
      case "histogram_fraction" =>
        val Seq(lo0, hi0) = (params match {
          case p if p.size == 2 => p
          case p => throw new IllegalArgumentException(
            s"histogram_fraction(lo, hi, v) needs two scalar bounds, got ${p.size}")
        }): @unchecked
        require(lo0 <= hi0,
          s"histogram_fraction needs lo <= hi, got ($lo0, $hi0)")
        // classic-bucket convention: the first bucket's lower bound is
        // pinned at 0 (the histogram_quantile rule), so bounds clamp
        // at 0 — a negative bound must answer F = 0, not interpolate
        // a NEGATIVE cumulative through the first bucket
        val lo = math.max(lo0, 0.0)
        val hi = math.max(hi0, 0.0)
        val base = withLe(v.df)
          .withColumn("__cum", col("value").cast("double"))
          .withColumn("__prevLe",
            coalesce(lag(col("__le"), 1).over(ordW), lit(0.0)))
          .withColumn("__prevCum",
            coalesce(lag(col("value"), 1).over(ordW).cast("double"), lit(0.0)))
        // interpolated cumulative count at bound x: first bucket with
        // __le ≥ x; (x−prev)/(+Inf−prev) collapses to 0 in IEEE, so a
        // bound past the last finite bucket answers with prevCum
        def cumAt(x: Double, out: String): DataFrame = base
          .filter(col("__le") >= x)
          .withColumn("__rn", row_number().over(ordW))
          .filter(col("__rn") === 1)
          .select(L.map(col) :+ (col("__prevCum") +
            (col("__cum") - col("__prevCum")) *
              ((lit(x) - col("__prevLe")) / (col("__le") - col("__prevLe"))))
            .as(out): _*)
        val tot = base.filter(col("le") === "+Inf")
          .filter(col("__cum") > 0)
          .select(L.map(col) :+ col("__cum").as("__tot"): _*)
        val joined = cumAt(hi, "__fhi")
          .join(cumAt(lo, "__flo"), L)
          .join(tot, L)
        Vec(joined.select(L.map(col) :+
          ((col("__fhi") - col("__flo")) / col("__tot")).as("value"): _*),
          L, Dbl)
      case other => throw new IllegalArgumentException(s"unknown histogram fn '$other'")
    }
  }

  /** `mad_over_time(sel[d])` (Prometheus experimental): the median
    * absolute deviation of a series' samples in the window —
    * median(|xᵢ − median(x)|), both medians exact interpolations on
    * the integer cent grid ([[quantileOverTime]]'s discipline:
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * (1−f)·a + f·b rule; cent medians land on .0/.5 and the MAD on
    * .25 binary fractions, so emitted doubles are bit-stable). Two
    * aggregation passes with the per-group median joined back —
    * the median frame is series-sized (× steps in range mode),
    * broadcast-shaped at any point volume; stepped mode rides the
    * same decode-and-explode as every non-composable window fn. */
  private def madOverTime(arg: Expr, ctx: Ctx): Vec = {
    val sel = rangeSel("mad_over_time", arg)
    val L = ctx.labelCols
    atPinned(sel, ctx)(madOverTime(arg, _)).getOrElse {
      if (ctx.grid.isDefined) {
        val g = windowGrid("mad_over_time", sel, ctx)
        Vec(g.stamp(mad(g.perWindow(sel, ctx), L :+ "__i", identity), L), L :+ "ts", Dbl)
      } else {
        val (from, to) = window(sel, ctx)
        Vec(mad(decoded(sel, from, to, ctx), L, broadcast(_)), L, Dbl)
      }
    }
  }

  /** median(|x − median(x)|) of the samples per `keys`; `hint` places
    * the per-key median frame on the join's build side. */
  private def mad(pts: DataFrame, keys: Seq[String],
                  hint: DataFrame => DataFrame): DataFrame = {
    val med = pts.groupBy(keys.map(col): _*)
      .agg(expr("percentile(cents, 0.5)").as("__med"))
    pts.join(hint(med), keys)
      .groupBy(keys.map(col): _*)
      .agg((expr("percentile(abs(cents - __med), 0.5)") / lit(100.0)).as("value"))
  }

  /** `info(v, {sel})` — Prometheus 3.x experimental, the general form
    * of the `group_left(labels)` carry: every element of `v` gains the
    * DATA labels of the info series it matches. The join keys are the
    * labels the two sides share with the metric-name label excluded
    * (the identifying labels — `info` drops the info metric's own
    * name, like Prometheus drops `__name__`); the info side's
    * remaining labels are the carried data labels. The info side
    * reduces to distinct (key, data) rows — series-grain, broadcast
    * by construction; if one key maps to several data-label
    * combinations the match fans out like Prometheus's many-to-many
    * info join. Elements of `v` with NO matching info series are kept
    * with null data labels — Prometheus's info() leaves unmatched
    * samples unenriched, so this is a LEFT join, never an inner one.
    * `v`'s representation is untouched, so exact-grid expressions
    * stay exact through the enrichment. */
  private def infoFn(ic: InfoCall, ctx: Ctx): Vec = {
    val v = evalExpr(ic.arg, ctx)
    // the info side's VALUES are discarded — only per-step label
    // presence matters — so it rides the ts-only decode kernel
    // (timestampVec): instant mode = the lookback staleness window,
    // range mode = per-step visibility with the step exploding as a
    // label, which then joins as a key (per-step enrichment)
    val iv = timestampVec(ic.sel, ctx)
    val metric = ctx.labelCols.headOption.getOrElse("")
    val ivLabels = iv.labels.filterNot(_ == metric)
    val keys = v.labels.filter(ivLabels.contains)
    if (keys.isEmpty) throw new IllegalArgumentException(
      s"info(): no shared identifying labels between ${v.labels.mkString(",")} " +
        s"and the info series' ${ivLabels.mkString(",")}")
    val data = ivLabels.filterNot(l => v.labels.contains(l) || l == "ts")
    if (data.isEmpty) throw new IllegalArgumentException(
      "info(): the info series carries no data labels beyond the match keys")
    val side = iv.df.select((keys ++ data).map(col): _*).distinct()
    Vec(v.df.join(broadcast(side), keys, "left"),
      v.labels ++ data, v.kind)
  }

  /** PromQL absent(): a 1-element vector when the selector matches
    * NOTHING in the lookback window, empty otherwise. The result's
    * labels are the selector's equality matchers (PromQL's rule); the
    * emptiness probe is a ≤ 1-row broadcast anti join, never a
    * driver-side count. */
  private def absentVec(arg: Expr, ctx: Ctx): Vec = {
    val sel = arg match {
      case s: VectorSel => s
      case _ => throw new IllegalArgumentException("absent() expects a selector")
    }
    if (ctx.grid.isDefined) return steppedAbsent(sel, ctx)
    val spark = ctx.chunks.sparkSession
    val eqs = sel.matchers.collect { case Labels.Eq(l, v) => (l, v) }
    val labels = ctx.labelCols.filter(l => eqs.exists(_._1 == l))
    // absent_over_time probes the [d] window; absent() the lookback
    val (pFrom, pTo) = sel.range match {
      case Some(_) => window(sel, ctx)
      case None =>
        val to = sel.at.getOrElse(ctx.evalTs) - sel.offset
        (to - ctx.lookbackSec + 1, to)
    }
    val matched = Labels.selectRangeTs(ctx.chunks, ctx.labelCols,
        matcherString(sel.matchers), pFrom, pTo)
      .select(lit(1).as("__k")).distinct()
    var one = spark.range(1).select(lit(1).as("__k"))
    eqs.filter(e => labels.contains(e._1))
      .foreach { case (l, v) => one = one.withColumn(l, lit(v)) }
    val df = one.join(broadcast(matched), Seq("__k"), "left_anti")
      .withColumn("value", lit(1L))
      .select((labels :+ "value").map(col): _*)
    Vec(df, labels, Count)
  }

  /** Stepped absent()/absent_over_time() — the "no data" panel: a
    * grid row appears exactly at the steps whose probe window
    * ([t−d, t−1] for a range selector, the lookback (t−L, t] for an
    * instant one) matches NOTHING. Each matched sample explodes onto
    * the steps it is visible at (pure integer index arithmetic — no
    * per-step query, no range join), the distinct visible steps
    * broadcast, and the grid anti-joins them. */
  private def steppedAbsent(sel: VectorSel, ctx: Ctx): Vec =
    atPinned(sel, ctx)(absentVec(sel, _)).getOrElse {
      val g = stepGrid(ctx, sel.offset)
      val spark = ctx.chunks.sparkSession
      val eqs = sel.matchers.collect { case Labels.Eq(l, v) => (l, v) }
      val labels = ctx.labelCols.filter(l => eqs.exists(_._1 == l))
      // sample at ts is visible at step t iff aOff <= t - ts <= bOff
      val (aOff, bOff) = sel.range match {
        case Some(d) => (1L, d) // window [t−d, t−1]
        case None => (0L, ctx.lookbackSec - 1) // lookback (t−L, t]
      }
      val pts = Labels.selectRangeTs(ctx.chunks, ctx.labelCols,
        matcherString(sel.matchers), g.start - bOff, g.tLast - aOff)
      val stepD = g.step.toDouble
      val present = pts
        .withColumn("__lo", greatest(ceilIdx(col("ts"), aOff, g.start, stepD), lit(0L)))
        .withColumn("__hi", least(floorIdx(col("ts"), bOff, g.start, stepD),
          lit(g.nSteps - 1)))
        .filter(col("__lo") <= col("__hi"))
        .select(explode(sequence(col("__lo"), col("__hi"))).as("__i"))
        .distinct()
      var grid = spark.range(g.nSteps).select(col("id").as("__i"))
      eqs.filter(e => labels.contains(e._1))
        .foreach { case (l, v) => grid = grid.withColumn(l, lit(v)) }
      val df = grid.join(broadcast(present), Seq("__i"), "left_anti")
        .withColumn("ts", g.stepTs)
        .withColumn("value", lit(1L))
        .select((labels :+ "ts" :+ "value").map(col): _*)
      Vec(df, labels :+ "ts", Count)
    }

  /** PromQL sort()/sort_desc(): order an instant vector by value
    * (label tiebreak for determinism). Ordering is a presentation
    * property — the representation and labels are untouched, so the
    * sort composes under later pointwise ops. */
  private def sortVec(arg: Expr, desc: Boolean, ctx: Ctx): Vec = {
    val v = evalExpr(arg, ctx)
    val first = if (desc) col("value").desc else col("value").asc
    Vec(v.df.orderBy(first +: v.labels.map(col): _*), v.labels, v.kind)
  }

  /** PromQL timestamp(): the last sample's timestamp (unix seconds) per
    * series in the lookback window — exact integers end-to-end. */
  private def timestampVec(arg: Expr, ctx: Ctx): Vec = {
    val sel = arg match {
      case s: VectorSel if s.range.isEmpty => s
      case _ => throw new IllegalArgumentException("timestamp() expects an instant selector")
    }
    val L = ctx.labelCols
    // stepped mode: last sample second per (series, step) within each
    // step's lookback — each sample explodes onto the steps it is
    // visible at (integer index arithmetic, same as stepped absent),
    // one max per (series, step)
    atPinned(sel, ctx)(timestampVec(arg, _)).getOrElse {
      if (ctx.grid.isDefined) {
        val g = stepGrid(ctx, sel.offset)
        val lb = ctx.lookbackSec
        val pts = Labels.selectRangeTs(ctx.chunks, L, matcherString(sel.matchers),
          g.start - lb + 1, g.tLast)
        val stepD = g.step.toDouble
        // the lower bound stays inline: ceilIdx's `ts + 0` would be a
        // different plan expression
        val perStep = pts
          .withColumn("__lo", greatest(
            ceil((col("ts") - lit(g.start)) / lit(stepD)).cast("long"), lit(0L)))
          .withColumn("__hi", least(floorIdx(col("ts"), lb - 1, g.start, stepD),
            lit(g.nSteps - 1)))
          .filter(col("__lo") <= col("__hi"))
          .withColumn("__i", explode(sequence(col("__lo"), col("__hi"))))
          .groupBy(L.map(col) :+ col("__i"): _*)
          .agg(max(col("ts")).as("value"))
        Vec(g.stamp(perStep, L), L :+ "ts", Count)
      } else {
        val to = sel.at.getOrElse(ctx.evalTs) - sel.offset
        val from = to - ctx.lookbackSec + 1
        val df = Labels.selectRangeTs(ctx.chunks, L, matcherString(sel.matchers), from, to)
          .groupBy(L.map(col): _*)
          .agg(max(col("ts")).as("value"))
        Vec(df, L, Count)
      }
    }
  }

  /** `quantile_over_time(φ, sel[d])`: the φ-quantile of a series'
    * samples in the window — exact interpolation on the integer cent
    * grid (Spark's exact `percentile`, DuckDB's `quantile_cont`: the
    * same (1−f)·a + f·b rule), one division by 100 at output. */
  private def quantileOverTime(phi: Double, arg: Expr, ctx: Ctx): Vec = {
    val sel = rangeSel("quantile_over_time", arg)
    val L = ctx.labelCols
    val q = (expr(s"percentile(cents, $phi)") / lit(100.0)).as("value")
    // stepped mode — the p95 panel: quantiles don't compose from
    // partials, so each decoded point explodes onto the ≤ k windows
    // containing its bucket (windows are unions of whole step
    // buckets) and ONE exact percentile runs per (series, step) —
    // still a single decode of the selector's survivors
    atPinned(sel, ctx)(quantileOverTime(phi, arg, _)).getOrElse {
      if (ctx.grid.isDefined) {
        val g = windowGrid("quantile_over_time", sel, ctx)
        Vec(g.stamp(g.perWindow(sel, ctx).groupBy(L.map(col) :+ col("__i"): _*).agg(q), L),
          L :+ "ts", Dbl)
      } else {
        val (from, to) = window(sel, ctx)
        Vec(decoded(sel, from, to, ctx).groupBy(L.map(col): _*).agg(q), L, Dbl)
      }
    }
  }

  /** `holt_winters(sel[d], sf, tf)` (Prometheus 3.x:
    * `double_exponential_smoothing`): the smoothed LEVEL of a series'
    * samples in the window — one fused kernel call per series
    * ([[graft.functions.HoltWinters]]; the kernel sorts by (ts, cents)
    * and folds the exact IEEE recurrence the recursive-CTE oracle
    * evaluates, so emitted doubles are bit-stable). Series with < 2
    * samples are absent, matching PromQL. */
  private def holtWintersVec(arg: Expr, sf: Double, tf: Double, ctx: Ctx): Vec = {
    require(sf > 0 && sf < 1 && tf > 0 && tf < 1,
      "holt_winters smoothing factors must be in (0, 1)")
    val sel = rangeSel("holt_winters", arg)
    val L = ctx.labelCols
    def smoothed(g: RelationalGroupedDataset): DataFrame = g
      .agg(count(lit(1)).as("__n"),
        collect_list(struct(col("ts"), col("cents"))).as("__arr"))
      .filter(col("__n") >= 2)
      .withColumn("__hw", graft.functions.hw_fold(col("__arr"), sf, tf))
    // stepped mode — the smoothing panel: the fold is order-dependent
    // so it can't compose from partials; each decoded point explodes
    // onto its covering windows and the kernel folds once per
    // (series, step). One decode of the selector's survivors.
    atPinned(sel, ctx)(holtWintersVec(arg, sf, tf, _)).getOrElse {
      if (ctx.grid.isDefined) {
        val g = windowGrid("holt_winters", sel, ctx)
        val perStep = smoothed(g.perWindow(sel, ctx).groupBy(L.map(col) :+ col("__i"): _*))
          .withColumn("ts", g.stepTs)
          .select(L.map(col) :+ col("ts") :+ col("__hw.level").as("value"): _*)
        Vec(perStep, L :+ "ts", Dbl)
      } else {
        val (from, to) = window(sel, ctx)
        val df = smoothed(decoded(sel, from, to, ctx).groupBy(L.map(col): _*))
          .select(L.map(col) :+ col("__hw.level").as("value"): _*)
        Vec(df, L, Dbl)
      }
    }
  }

  /** Pointwise math. Exact kinds stay exact where the operation lands
    * on the integer grid (abs always; clamp when the bounds do);
    * ceil/floor/round operate on the double value (PromQL semantics). */
  private def mathFn(mc: MathCall, ctx: Ctx): Vec = {
    val v = evalExpr(mc.arg, ctx)
    def needParams(n: Int): Unit = if (mc.params.size != n)
      throw new IllegalArgumentException(s"${mc.fn} expects $n scalar param(s)")
    def onGrid(s: Double): Boolean = v.kind match {
      case Exact(d) => (s * d).isWhole && math.abs(s * d) < 9e15
      case Dbl => false
    }
    def gridLit(s: Double): Column = v.kind match {
      case Exact(d) => lit((s * d).toLong)
      case Dbl => lit(s)
    }
    mc.fn match {
      case "abs" =>
        needParams(0)
        Vec(v.df.withColumn("value", abs(col("value"))), v.labels, v.kind)
      case "round" if mc.params.size == 1 =>
        // PromQL round(v, to_nearest): the nearest MULTIPLE of
        // to_nearest, ties rounding up — Prometheus computes
        // floor(v/toNearest + 0.5) · toNearest, reproduced literally
        // (r18: the streaming-rule conformance sweep exposed that the
        // one-param form rejected; the instant sweep's bare-selector
        // wrapper had hidden the gap)
        val n = mc.params.head
        if (n <= 0) throw new IllegalArgumentException(
          s"round(v, to_nearest) needs to_nearest > 0, got $n")
        val d = v.toDouble
        Vec(d.withColumn("value",
          floor(col("value") / lit(n) + lit(0.5)).cast("double") * lit(n)),
          v.labels, Dbl)
      case "ceil" | "floor" | "round" =>
        needParams(0)
        val d = v.toDouble
        val f = mc.fn match {
          case "ceil" => ceil(col("value")).cast("double")
          case "floor" => floor(col("value")).cast("double")
          case _ => round(col("value"), 0)
        }
        Vec(d.withColumn("value", f), v.labels, Dbl)
      case "clamp" =>
        needParams(2)
        val (lo, hi) = (mc.params(0), mc.params(1))
        if (onGrid(lo) && onGrid(hi))
          Vec(v.df.withColumn("value",
            least(greatest(col("value"), gridLit(lo)), gridLit(hi))), v.labels, v.kind)
        else {
          val d = v.toDouble
          Vec(d.withColumn("value",
            least(greatest(col("value"), lit(lo)), lit(hi))), v.labels, Dbl)
        }
      case "clamp_min" | "clamp_max" =>
        needParams(1)
        val s = mc.params.head
        val op: (Column, Column) => Column =
          if (mc.fn == "clamp_min") greatest(_, _) else least(_, _)
        if (onGrid(s))
          Vec(v.df.withColumn("value", op(col("value"), gridLit(s))), v.labels, v.kind)
        else {
          val d = v.toDouble
          Vec(d.withColumn("value", op(col("value"), lit(s))), v.labels, Dbl)
        }
      case "sqrt" => // IEEE sqrt is correctly rounded: one exact float op
        needParams(0)
        val d = v.toDouble
        Vec(d.withColumn("value", sqrt(col("value"))), v.labels, Dbl)
      case "sgn" => // sign on the exact grid stays exact (−1/0/1)
        needParams(0)
        v.kind match {
          case Exact(_) => Vec(v.df.withColumn("value",
            signum(col("value")).cast("long")), v.labels, Count)
          case Dbl => Vec(v.df.withColumn("value", signum(col("value"))), v.labels, Dbl)
        }
      case "ln" | "log2" | "log10" =>
        // PromQL logs are total: x>0 → log, x==0 → −Inf, x<0/NaN → NaN.
        // Spark's Logarithm returns NULL off-domain, which would DROP
        // the sample from the vector instead of carrying NaN — map the
        // off-domain branches explicitly.
        needParams(0)
        val d = v.toDouble
        val f: Column => Column = mc.fn match {
          case "ln" => log(_); case "log2" => log2(_); case _ => log10(_)
        }
        Vec(d.withColumn("value",
          when(col("value") > 0, f(col("value")))
            .when(col("value") === 0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN))), v.labels, Dbl)
      case "exp" | "deg" | "rad" | "sin" | "cos" | "tan" | "asin" | "acos" |
           "atan" | "sinh" | "cosh" | "tanh" =>
        // java.lang.Math semantics end-to-end (NaN off-domain, never
        // NULL), matching PromQL's Go math — one codegen'd float op
        needParams(0)
        val d = v.toDouble
        val f: Column => Column = mc.fn match {
          case "exp" => exp(_)
          case "deg" => degrees(_)
          case "rad" => radians(_)
          case "sin" => sin(_); case "cos" => cos(_); case "tan" => tan(_)
          case "asin" => asin(_); case "acos" => acos(_); case "atan" => atan(_)
          case "sinh" => sinh(_); case "cosh" => cosh(_); case _ => tanh(_)
        }
        Vec(d.withColumn("value", f(col("value"))), v.labels, Dbl)
      case "asinh" | "acosh" | "atanh" =>
        // Inverse hyperbolics via their log closed forms, domain-guarded
        // so off-domain carries NaN (never NULL — a NULL would DROP the
        // sample from the vector, as with ln above). asinh mirrors the
        // positive branch for odd symmetry (the naive single formula
        // cancels catastrophically for x ≪ 0 and loses ±Inf); atanh's
        // poles at ±1 are Go's ±Inf. sqrt/*/÷ are correctly-rounded
        // IEEE ops, so the only libm op is one ln — same class as
        // ln/log2/log10 above, and the DuckDB oracle runs the identical
        // closed form.
        needParams(0)
        val d = v.toDouble
        val x = col("value")
        val out = mc.fn match {
          case "asinh" =>
            val pos: Column => Column = y => log(y + sqrt(y * y + lit(1.0)))
            when(x < 0, -pos(-x)).otherwise(pos(x))
          case "acosh" =>
            when(x >= 1, log(x + sqrt(x * x - lit(1.0))))
              .otherwise(lit(Double.NaN))
          case _ =>
            val pos: Column => Column = // 0 <= y < 1; mirrored for odd symmetry
              y => lit(0.5) * log((lit(1.0) + y) / (lit(1.0) - y))
            when(x === 1, lit(Double.PositiveInfinity))
              .when(x === -1, lit(Double.NegativeInfinity))
              .when(x > -1 && x < 0, -pos(-x))
              .when(x >= 0 && x < 1, pos(x))
              .otherwise(lit(Double.NaN))
        }
        Vec(d.withColumn("value", out), v.labels, Dbl)
      case fn if CalFns(fn) =>
        // value = a UTC unix timestamp (the session timezone is UTC by
        // SparkEntry contract); outputs land on the integer grid, so
        // the exact kind survives the extraction
        needParams(0)
        val t = timestamp_seconds(asDouble(col("value"), v.kind))
        val out = fn match {
          case "minute" => minute(t)
          case "hour" => hour(t)
          case "day_of_week" => dayofweek(t) - lit(1) // Prom: 0=Sunday
          case "day_of_month" => dayofmonth(t)
          case "days_in_month" => dayofmonth(last_day(t))
          case "month" => month(t)
          case _ => year(t)
        }
        Vec(v.df.withColumn("value", out.cast("long")), v.labels, Count)
      case other => throw new IllegalArgumentException(s"unknown function '$other'")
    }
  }

  /** Instant vector: last sample per series within the lookback
    * window — decode only the lookback chunks, pick per-series max
    * (ts, cents) struct (one partial-aggregating hash agg, no rank
    * window; ties on ts resolve by value like the ts_delta shape). */
  private def instantVector(sel: VectorSel, ctx: Ctx): Vec = {
    if (sel.range.isDefined)
      throw new IllegalArgumentException("range selector outside a range function")
    if (ctx.grid.isDefined)
      throw new IllegalArgumentException(
        "bare instant selector in a range query: wrap it in an _over_time window")
    val to = sel.at.getOrElse(ctx.evalTs) - sel.offset
    val from = to - ctx.lookbackSec + 1
    val pts = Labels.selectRange(ctx.chunks, ctx.labelCols,
      matcherString(sel.matchers), from, to)
    val df = pts
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .groupBy(ctx.labelCols.map(col): _*)
      .agg(lastSample.as("last"))
      .select(ctx.labelCols.map(col) :+ col("last.cents").as("value"): _*)
    Vec(df, ctx.labelCols, Cents)
  }

  // ============ range functions: what both lowerings share ============
  //
  // A range function lowers twice: instant arms read the window
  // [T−d+1, T] and get header-stat partials; stepped arms read
  // [t−d, t−1] as k = d/step whole buckets of one grid. An instant
  // query lowered as a one-step grid (Prometheus's engine shape) is
  // correct, but each instant plan then gains the stepped form's second
  // aggregation and explode: `promql_ts_of_last` went from 4 to 6
  // exchanges and 4 to 8 aggregates, and 14 instant oracle keys ran
  // 1.6–2.5× slower at sf0.01. So both lowerings stay, and what they
  // share lives once, below: the step grid, the counter deltas and
  // fold, the regression partials, the irate/idelta finish, the
  // `ts_of_*` extreme and the point-fold aggregates.

  /** The step grid of one stepped lowering. `start`/`end` are the
    * data-side grid (the selector's offset applied); output `ts` stays
    * on the un-offset grid from `start0`. A window of `d` seconds is
    * k = d/step whole buckets, and bucket j (relative to `start`) lies
    * inside windows i ∈ [j+1, j+k]. The lookback lowerings (absent,
    * timestamp) have no window: d = 0 and they use only the grid. */
  private final case class StepGrid(start0: Long, step: Long, start: Long, end: Long,
                                    d: Long) {
    val k: Long = d / step
    val nSteps: Long = (end - start) / step + 1
    val tLast: Long = start + (nSteps - 1) * step
    val j0: Long = start / step // bucket index origin (start is step-aligned)
    /** The bucket index of the seconds column `ts`: (ts div step) − j0. */
    def bucket(ts: String): Column = expr(s"($ts div ${step}L) - ${j0}L")
    /** Bucket `j` onto its windows [j+1, j+k] ∩ [0, nSteps−1]. */
    def windows(j: Column): Column = explode(sequence(
      greatest(j + lit(1L), lit(0L)),
      least(j + lit(k), lit(nSteps - 1))))
    /** The output instant of window `__i`. */
    def stepTs: Column = lit(start0) + col("__i") * lit(step)
    /** Stamp each window's instant; keep `labels, ts, value`. */
    def stamp(df: DataFrame, labels: Seq[String]): DataFrame =
      df.withColumn("ts", stepTs).select((labels :+ "ts" :+ "value").map(col): _*)
    /** The selector's decoded samples over every window of the grid. */
    def samples(sel: VectorSel, ctx: Ctx): DataFrame =
      decoded(sel, start - d, tLast - 1, ctx)
    /** Each decoded sample exploded onto its ≤ k covering windows
      * (`__i`): the form of a fold that does not compose from bucket
      * partials. */
    def perWindow(sel: VectorSel, ctx: Ctx): DataFrame = samples(sel, ctx)
      .withColumn("__j", bucket("ts"))
      .withColumn("__i", windows(col("__j")))
  }

  /** The range query's grid for a selector with `offset`. */
  private def stepGrid(ctx: Ctx, offset: Long, d: Long = 0L): StepGrid = {
    val (start0, step) = ctx.grid.get
    val start = start0 - offset
    require(start % step == 0, "offset must preserve step alignment")
    StepGrid(start0, step, start, ctx.evalTs - offset, d)
  }

  /** [[stepGrid]] for a range selector, whose window must be whole
    * step buckets (the bucket-alignment contract). */
  private def windowGrid(fn: String, sel: VectorSel, ctx: Ctx): StepGrid = {
    val step = ctx.grid.get._2
    val d = sel.range.getOrElse(
      throw new IllegalArgumentException(s"$fn needs sel[duration]"))
    require(d % step == 0 && d >= step,
      s"window ${d}s must be a positive multiple of the ${step}s step grid")
    stepGrid(ctx, sel.offset, d)
  }

  private def rangeSel(fn: String, arg: Expr): VectorSel = arg match {
    case s: VectorSel => s
    case _ => throw new IllegalArgumentException(s"$fn expects a range selector argument")
  }

  /** A window's first / last sample: (ts, cents) struct order is time
    * order, ties on ts resolving by value. */
  private def firstSample: Column = min(struct(col("ts"), col("cents")))
  private def lastSample: Column = max(struct(col("ts"), col("cents")))

  /** Consecutive-sample deltas per series: each decoded sample gains
    * its predecessor's cents as `prev` (and its timestamp as `prevTs`
    * when given) in (ts, cents) order, a series' first sample drops,
    * and `d` = cents − prev.
    *
    * NATIVE-HISTOGRAM (nb) vectors: Prometheus detects counter resets
    * at the HISTOGRAM grain — a drop in ANY arm (count or a bucket)
    * means the whole sample re-based, so EVERY arm's delta at that
    * instant is a post-restart re-base, not an increase. graft
    * decomposes an nb store into per-arm counter series; per-arm
    * positive-delta is identical when all arms drop together (the real
    * restart) but diverges when one arm moves against the others (e.g.
    * a bucket that already out-grew its pre-reset value across the
    * restart gap) — so rate/increase over an nb vector zero the WHOLE
    * histogram's deltas at any instant where any STRUCTURAL arm drops.
    * The sum arm is excluded from the DETECTION (Prometheus reads
    * count/bucket structure, never the sum, which legitimately falls
    * when negative observations ride a gauge histogram — the signed
    * mirrored-span store) but re-bases WITH the sample when a true
    * reset fires. Both windows share one partitioning (the histogram
    * identity), so the grain change costs a sort, never a second
    * exchange. Arms share the scrape grid (native scrapes carry the
    * full layout), which is what makes the same-instant frame the
    * histogram sample. changes()/resets() stay PER-ARM by definition
    * here: each arm is its own counter series in this data model
    * (documented; Prometheus-side native resets() is the count-arm's
    * resets, which this model expresses as resets(...{nb="count"})).
    * Subquery-composed rate keeps per-arm semantics too — Prometheus
    * never routes native histograms through subqueries (float-sample
    * surface). */
  private def counterDeltas(pts: DataFrame, L: Seq[String], fn: String,
                            prev: String, d: String,
                            prevTs: Option[String] = None): DataFrame = {
    def lagged(w: WindowSpec): DataFrame =
      prevTs.foldLeft(pts)((df, c) => df.withColumn(c, lag("ts", 1).over(w)))
        .withColumn(prev, lag("cents", 1).over(w))
    val hasPrev = col(prevTs.getOrElse(prev)).isNotNull
    if (Set("rate", "increase")(fn) && L.contains("nb")) {
      val hg = L.filterNot(_ == "nb")
      def hgW = if (hg.isEmpty) Window.partitionBy()
        else Window.partitionBy(hg.map(col): _*)
      val w = hgW.orderBy("nb", "ts", "cents")
      val rstW = hgW.orderBy("ts").rangeBetween(0, 0)
      lagged(w).withColumn("__pnb", lag("nb", 1).over(w))
        .filter(hasPrev && col("__pnb") === col("nb"))
        .withColumn(d, col("cents") - col(prev))
        .withColumn(d,
          when(max(when(col(d) < 0 && col("nb") =!= "sum", 1)
              .otherwise(0)).over(rstW) === 1,
            lit(0L)).otherwise(greatest(col(d), lit(0L))))
    } else {
      lagged(Window.partitionBy(L.map(col): _*).orderBy("ts", "cents"))
        .filter(hasPrev)
        .withColumn(d, col("cents") - col(prev))
    }
  }

  /** rate/increase sum the positive deltas (reset-aware), changes
    * counts the nonzero ones, resets the negative ones. */
  private def counterFold(fn: String, d: Column): Column = fn match {
    case "increase" | "rate" => sum(when(d > 0, d).otherwise(0L))
    case "changes" => sum(when(d =!= 0, 1L).otherwise(0L))
    case "resets" => sum(when(d < 0, 1L).otherwise(0L))
  }

  /** The fold's representation: rate keeps the increase exact with
    * denom `rateDenom` (range·unit), so the per-second division happens
    * ONCE at output and `sum(rate(..))` stays exact; increase keeps the
    * samples' kind; changes/resets are counts. */
  private def counterKind(fn: String, rateDenom: Double, increase: ValKind): ValKind =
    fn match {
      case "rate" => Exact(rateDenom)
      case "increase" => increase
      case _ => Count
    }

  /** Exact regression partials n, Σt, Σv, Σtv, Σt² per group on the
    * integer (relative-second `__t`, cent) grid. */
  private def regressionPartials(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("__n"), sum("__t").as("__st"), sum("cents").as("__sv"),
      sum(col("__t") * col("cents")).as("__stv"), sum(col("__t") * col("__t")).as("__stt"))

  /** BIGINT slope numerator/denominator from the partials; groups with
    * < 2 samples or a degenerate denominator drop (PromQL emits nothing
    * for them). */
  private def regressionLine(g: DataFrame): DataFrame = g
    .filter(col("__n") >= 2)
    .withColumn("__num", col("__n") * col("__stv") - col("__st") * col("__sv"))
    .withColumn("__den", col("__n") * col("__stt") - col("__st") * col("__st"))
    .filter(col("__den") =!= 0)

  /** deriv: the least-squares slope, one division, per second. */
  private def derivSlope: Column = col("__num").cast("double") / (lit(100.0) * col("__den"))

  /** predict_linear: ŷ = v̄ + slope·(x − t̄) at `x` (seconds on the
    * partials' own origin); three fixed divisions, mirrored op-for-op
    * in the SQL oracle. */
  private def predicted(x: Column): Column = {
    val meanT = col("__st").cast("double") / col("__n")
    val meanV = col("__sv").cast("double") / col("__n")
    val slope = col("__num").cast("double") / col("__den")
    (meanV + slope * (x - meanT)) / lit(100.0)
  }

  /** irate/idelta from a window's last two samples `__l`, `__p`:
    * idelta is their cent difference; irate counts a counter reset
    * (last < prev) as increase = last, per second. */
  private def lastTwo(fn: String): (Column, ValKind) = fn match {
    case "idelta" => (col("__l.cents") - col("__p.cents"), Cents)
    case _ =>
      val incr = when(col("__l.cents") >= col("__p.cents"),
        col("__l.cents") - col("__p.cents")).otherwise(col("__l.cents"))
      (incr.cast("double") /
        ((col("__l.ts") - col("__p.ts")) * lit(100.0)).cast("double"), Dbl)
  }

  /** Prometheus 3.1 experimental `ts_of_*`: the TIMESTAMP of the
    * window's last / maximum / minimum sample, as one extreme over
    * (value, ts) structs. Value ties resolve to the LATEST sample (max
    * struct on (cents, ts); the min arm negates ts inside the struct so
    * ties still answer with the latest), integer seconds end-to-end.
    * The extremes compose: a window's extreme is the extreme of its
    * buckets' extremes. */
  private val TsOfFns = Set("ts_of_last_over_time", "ts_of_max_over_time",
    "ts_of_min_over_time")
  private def tsOfExtreme(fn: String): Column = fn match {
    case "ts_of_last_over_time" => max(col("ts"))
    case "ts_of_max_over_time" => max(struct(col("cents"), col("ts")))
    case _ => min(struct(col("cents"), (-col("ts")).as("nts")))
  }
  /** The timestamp held by the extreme column `x`. */
  private def tsOfValue(fn: String, x: String): Column = fn match {
    case "ts_of_last_over_time" => col(x)
    case "ts_of_max_over_time" => col(s"$x.ts")
    case _ => -col(s"$x.nts")
  }

  /** Range-vector functions. The `_over_time` family answers from
    * compressed-domain partials (selectRangeAgg — header stats +
    * boundary folds, zero point rows); the counter/gauge family
    * decodes survivors and folds consecutive-sample deltas in exact
    * cents. */
  private val SteppedFns = Set("sum_over_time", "count_over_time", "min_over_time",
    "max_over_time", "avg_over_time", "stddev_over_time", "stdvar_over_time",
    "present_over_time")

  private def rangeFn(fn: String, arg: Expr, ctx: Ctx): Vec = {
    val sel = rangeSel(fn, arg)
    if (ctx.grid.isDefined)
      return atPinned(sel, ctx)(rangeFn(fn, arg, _)).getOrElse(fn match {
        case "rate" | "increase" | "changes" | "resets" => steppedPairs(fn, sel, ctx)
        case "delta" | "last_over_time" => steppedStruct(fn, sel, ctx)
        case "deriv" => steppedDeriv(sel, ctx)
        case "irate" | "idelta" => steppedIrate(fn, sel, ctx)
        case f if TsOfFns(f) => steppedTsOf(fn, sel, ctx)
        case f if SteppedFns(f) => steppedOverTime(fn, sel, ctx)
        case other => throw new IllegalArgumentException(s"unknown function '$other'")
      })
    val (from, to) = window(sel, ctx)
    val L = ctx.labelCols
    def partials: DataFrame =
      Labels.selectRangeAgg(ctx.chunks, L, matcherString(sel.matchers), from, to)
    def perSeries: RelationalGroupedDataset =
      decoded(sel, from, to, ctx).groupBy(L.map(col): _*)
    def out(c: Column, kind: ValKind, src: DataFrame): Vec =
      Vec(src.select(L.map(col) :+ c.as("value"): _*), L, kind)

    fn match {
      case "sum_over_time" => out(col("sum_cents"), Cents, partials)
      case "count_over_time" => out(col("n"), Count, partials)
      case "min_over_time" => out(col("min_v"), Dbl, partials)
      case "max_over_time" => out(col("max_v"), Dbl, partials)
      case "present_over_time" => out(lit(1L), Count, partials)
      case "avg_over_time" =>
        out(col("sum_cents").cast("double") / (col("n") * lit(100.0)), Dbl, partials)
      case "stdvar_over_time" =>
        // exact BIGINT numerator n·Q − S², two exact casts, one division
        out((col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
          .cast("double") / (col("n") * col("n") * lit(10000.0)).cast("double"), Dbl, partials)
      case "stddev_over_time" =>
        out(sqrt((col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
          .cast("double") / (col("n") * col("n") * lit(10000.0)).cast("double")), Dbl, partials)
      case "last_over_time" =>
        out(col("last.cents"), Cents, perSeries.agg(lastSample.as("last")))
      case f if TsOfFns(f) =>
        val x = if (fn == "ts_of_last_over_time") "__t" else "__m"
        out(tsOfValue(fn, x), Count, perSeries.agg(tsOfExtreme(fn).as(x)))
      case "delta" => // gauge last − first
        out(col("last.cents") - col("first.cents"), Cents,
          perSeries.agg(firstSample.as("first"), lastSample.as("last")))
      case "increase" | "rate" | "changes" | "resets" =>
        val lagged = counterDeltas(decoded(sel, from, to, ctx), L, fn, "prev", "d")
        out(col("value"), counterKind(fn, (to - from + 1) * 100.0, Cents),
          lagged.groupBy(L.map(col): _*).agg(counterFold(fn, col("d")).as("value")))
      case "deriv" => out(derivSlope, Dbl, regressionSums(sel, ctx)._1)
      case "irate" | "idelta" =>
        // last TWO samples per series: rank window (ts, cents) desc —
        // two rows survive per series, one struct min/max recovers them
        val pts = decoded(sel, from, to, ctx)
        val w = Window.partitionBy(L.map(col): _*)
          .orderBy(col("ts").desc, col("cents").desc)
        val two = pts.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 2)
          .groupBy(L.map(col): _*)
          .agg(lastSample.as("__l"), firstSample.as("__p"), count(lit(1)).as("__n"))
          .filter(col("__n") === 2 && col("__l.ts") =!= col("__p.ts"))
        val (value, kind) = lastTwo(fn)
        out(value, kind, two)
      case other => throw new IllegalArgumentException(s"unknown function '$other'")
    }
  }

  /** Per-series exact regression partials over a range selector, `t`
    * relative to the window start so products stay far under 2^63. */
  private def regressionSums(sel: VectorSel, ctx: Ctx): (DataFrame, Long, Long) = {
    val (from, to) = window(sel, ctx)
    val g = regressionPartials(decoded(sel, from, to, ctx)
      .withColumn("__t", col("ts") - lit(from))
      .groupBy(ctx.labelCols.map(col): _*))
    (regressionLine(g), from, to)
  }

  /** `predict_linear(sel[d], t)`: the regression line extrapolated t
    * seconds past the evaluation instant, x = (d−1) + t relative
    * seconds. */
  private def predictLinear(arg: Expr, tAhead: Double, ctx: Ctx): Vec = {
    val sel = rangeSel("predict_linear", arg)
    // stepped mode: the deriv partials + the window's own prediction
    // instant — a full forecast panel from ONE decode
    atPinned(sel, ctx)(predictLinear(arg, tAhead, _)).getOrElse {
      if (ctx.grid.isDefined) steppedDeriv(sel, ctx, Some(tAhead))
      else {
        val (g, from, to) = regressionSums(sel, ctx)
        Vec(g.select(ctx.labelCols.map(col) :+
          predicted(lit((to - from).toDouble + tAhead)).as("value"): _*),
          ctx.labelCols, Dbl)
      }
    }
  }

  /** Stepped `_over_time`: one compressed-domain bucket fold, each
    * per-(chunk, bucket) partial exploded onto the ≤ k windows it
    * serves, one hash aggregate — count, long sums and min/max compose
    * over any grouping of the chunk partials, so no per-(series,
    * bucket) merge comes first. The result carries the step as a `ts`
    * label column. */
  private def steppedOverTime(fn: String, sel: VectorSel, ctx: Ctx): Vec = {
    val g = windowGrid(fn, sel, ctx)
    val L = ctx.labelCols
    // selector prune at the chunk-metadata scan, window-stat prune,
    // then ONE streaming bucket fold per surviving chunk
    val withStep = Labels.select(ctx.chunks, L, matcherString(sel.matchers))
      .filter(col("max_ts") >= g.start - g.d && col("min_ts") <= g.tLast - 1)
      .select(L.map(col) :+ explode(graft.functions.gorilla_chunk_bucket_agg(
        col("chunk"), g.step, Ts.FixedScale)).as("__b"): _*)
      .filter(col("__b.bucket") >= g.start - g.d && col("__b.bucket") <= g.tLast - g.step)
      // the partial's bucket column is an aligned second, not a sample ts
      .withColumn("__j", expr(s"(__b.bucket - ${g.start}L) div ${g.step}L"))
      .withColumn("__i", g.windows(col("__j")))
    def grouped = withStep.groupBy(L.map(col) :+ col("__i"): _*)
    val (df, kind) = fn match {
      case "sum_over_time" => (grouped.agg(sum("__b.sum_fixed").as("value")), Cents)
      case "count_over_time" => (grouped.agg(sum("__b.n").as("value")), Count)
      case "min_over_time" => (grouped.agg(min("__b.min_v").as("value")), Dbl)
      case "max_over_time" => (grouped.agg(max("__b.max_v").as("value")), Dbl)
      case "present_over_time" =>
        (grouped.agg(count(lit(1)).as("__c")).withColumn("value", lit(1L)), Count)
      case "avg_over_time" =>
        (grouped.agg((sum("__b.sum_fixed").cast("double") /
          (sum("__b.n") * lit(100.0))).as("value")), Dbl)
      case "stdvar_over_time" | "stddev_over_time" =>
        val v = (sum("__b.n") * sum("__b.sumsq_fixed") -
          sum("__b.sum_fixed") * sum("__b.sum_fixed"))
          .cast("double") / (sum("__b.n") * sum("__b.n") * lit(10000.0))
        (grouped.agg((if (fn == "stddev_over_time") sqrt(v) else v).as("value")), Dbl)
    }
    Vec(g.stamp(df, L), L :+ "ts", kind)
  }

  /** Stepped rate/increase/changes/resets: consecutive-sample pairs are
    * formed ONCE over the grid's full coverage (the per-series sort
    * ts_rate already pays), classified by (prev-bucket, cur-bucket),
    * folded per bucket pair, and each pair-partial exploded onto the
    * windows containing BOTH endpoints — exact, because windows are
    * unions of whole step buckets and window membership of a pair is
    * bucket containment. nb vectors rate/increase at the histogram
    * grain here too ([[counterDeltas]]). */
  private def steppedPairs(fn: String, sel: VectorSel, ctx: Ctx): Vec = {
    val g = windowGrid(fn, sel, ctx)
    val L = ctx.labelCols
    val lagged = counterDeltas(g.samples(sel, ctx), L, fn, "__pc", "__d",
      prevTs = Some("__pts"))
    val pairs = lagged
      .withColumn("__jp", g.bucket("__pts"))
      .withColumn("__jc", g.bucket("ts"))
      // a pair spanning >= k buckets fits in no window
      .filter(col("__jc") - col("__jp") < g.k)
      .groupBy(L.map(col) :+ col("__jp") :+ col("__jc"): _*)
      .agg(counterFold(fn, col("__d")).as("__inc"))
    // windows containing buckets [jp, jc]: i in [jc+1, jp+k]
    val perStep = pairs
      .withColumn("__lo", greatest(col("__jc") + lit(1L), lit(0L)))
      .withColumn("__hi", least(col("__jp") + lit(g.k), lit(g.nSteps - 1)))
      .filter(col("__lo") <= col("__hi"))
      .withColumn("__i", explode(sequence(col("__lo"), col("__hi"))))
      .groupBy(L.map(col) :+ col("__i"): _*)
      .agg(sum("__inc").as("value"))
    Vec(g.stamp(perStep, L), L :+ "ts", counterKind(fn, g.d * 100.0, Cents))
  }

  /** Stepped delta / last_over_time: per-(series, bucket) FIRST and
    * LAST (ts, cents) structs off one decode, exploded onto the
    * windows containing the bucket; min/max struct per window then
    * recover the window's first/last sample exactly (bucket time
    * ranges are disjoint, so struct order == time order). */
  private def steppedStruct(fn: String, sel: VectorSel, ctx: Ctx): Vec = {
    val g = windowGrid(fn, sel, ctx)
    val L = ctx.labelCols
    val perBucket = g.samples(sel, ctx)
      .withColumn("__j", g.bucket("ts"))
      .groupBy(L.map(col) :+ col("__j"): _*)
      .agg(firstSample.as("__first"), lastSample.as("__last"))
    val perStep = perBucket
      .withColumn("__i", g.windows(col("__j")))
      .groupBy(L.map(col) :+ col("__i"): _*)
      .agg(min("__first").as("__wf"), max("__last").as("__wl"))
      .withColumn("value", fn match {
        case "delta" => col("__wl.cents") - col("__wf.cents")
        case _ => col("__wl.cents") // last_over_time
      })
    Vec(g.stamp(perStep, L), L :+ "ts", Cents)
  }

  /** Stepped `ts_of_{last,max,min}_over_time`: per-(series, bucket)
    * [[tsOfExtreme]] partials off one decode explode onto their ≤ k
    * covering windows, one extreme per (series, step). */
  private def steppedTsOf(fn: String, sel: VectorSel, ctx: Ctx): Vec = {
    val g = windowGrid(fn, sel, ctx)
    val L = ctx.labelCols
    val perBucket = g.samples(sel, ctx)
      .withColumn("__j", g.bucket("ts"))
      .groupBy(L.map(col) :+ col("__j"): _*)
      .agg(tsOfExtreme(fn).as("__x"))
    val windowAgg =
      if (fn == "ts_of_min_over_time") min(col("__x")) else max(col("__x"))
    val perStep = perBucket
      .withColumn("__i", g.windows(col("__j")))
      .groupBy(L.map(col) :+ col("__i"): _*)
      .agg(windowAgg.as("__w"))
      .withColumn("value", tsOfValue(fn, "__w"))
    Vec(g.stamp(perStep, L), L :+ "ts", Count)
  }

  /** Stepped irate/idelta — the instantaneous-rate panel: each window
    * needs its LAST TWO samples. Per-(series, bucket) partials keep the
    * bucket's top-2 (ts, cents) structs — composable, since a window's
    * last two samples are among its buckets' top-2s — then each
    * partial explodes onto its ≤ k covering windows and a bounded
    * (≤ 2k-struct) re-sort merges per (series, step). Same tie-break
    * as the instant path: (ts, cents) struct order, windows whose two
    * survivors share a timestamp emit nothing. */
  private def steppedIrate(fn: String, sel: VectorSel, ctx: Ctx): Vec = {
    val g = windowGrid(fn, sel, ctx)
    val L = ctx.labelCols
    def top2(c: Column): Column = slice(reverse(sort_array(c)), 1, 2)
    val perBucket = g.samples(sel, ctx)
      .withColumn("__j", g.bucket("ts"))
      .groupBy(L.map(col) :+ col("__j"): _*)
      .agg(top2(collect_list(struct(col("ts"), col("cents")))).as("__t2"))
    val perStep = perBucket
      .withColumn("__i", g.windows(col("__j")))
      .groupBy(L.map(col) :+ col("__i"): _*)
      .agg(top2(flatten(collect_list(col("__t2")))).as("__t2"))
      .filter(size(col("__t2")) === 2)
      .withColumn("__l", element_at(col("__t2"), 1))
      .withColumn("__p", element_at(col("__t2"), 2))
      .filter(col("__l.ts") =!= col("__p.ts"))
      .withColumn("ts", g.stepTs)
    val (value, kind) = lastTwo(fn)
    Vec(perStep.select((L :+ "ts").map(col) :+ value.as("value"): _*), L :+ "ts", kind)
  }

  /** Stepped deriv: per-(series, bucket) exact regression partials
    * off ONE decode, exploded onto the covering windows and summed —
    * VALID because the least-squares slope is shift-invariant in t
    * EXACTLY in integer arithmetic (n·Σtv − Σt·Σv and n·Σt² − (Σt)²
    * both cancel any common t offset), so partials with one global
    * origin compose for every window. One division per (series, step)
    * at output. */
  private def steppedDeriv(sel: VectorSel, ctx: Ctx,
                           horizon: Option[Double] = None): Vec = {
    // callers (rangeFn, predictLinear) lower @-pinned selectors via
    // atPinned before reaching here
    require(sel.at.isEmpty, "@-pinned selector reached a stepped lowering")
    val g = windowGrid("deriv", sel, ctx)
    val L = ctx.labelCols
    val base = g.start - g.d // one global t origin; slope is shift-invariant
    val perBucket = regressionPartials(g.samples(sel, ctx)
      .withColumn("__t", col("ts") - lit(base))
      .withColumn("__j", g.bucket("ts"))
      .groupBy(L.map(col) :+ col("__j"): _*))
    val perStep = regressionLine(perBucket
      .withColumn("__i", g.windows(col("__j")))
      .groupBy(L.map(col) :+ col("__i"): _*)
      .agg(sum("__n").as("__n"), sum("__st").as("__st"), sum("__sv").as("__sv"),
        sum("__stv").as("__stv"), sum("__stt").as("__stt")))
      .withColumn("value", horizon match {
        case None => derivSlope
        // predict_linear at x = the window's own eval instant + h, on
        // the ONE global origin the partials use — the integer part
        // stays exact, h lands in a single double addition
        case Some(h) =>
          predicted((col("__i") * lit(g.step) + lit(g.d - 1L)).cast("double") + lit(h))
      })
    Vec(g.stamp(perStep, L), L :+ "ts", Dbl)
  }

  /** Range function over a subquery `fn(expr[d:step])`: the inner
    * expression is re-evaluated on the inner step grid — the SAME
    * stepped machinery `evalRange` uses (compressed-domain bucket
    * folds, pair partials, per-step algebra) — and the outer function
    * folds the per-series step series like a range vector's samples.
    * Prometheus grid rule: evaluation instants are the multiples of
    * `step` inside `(T−off−d, T−off]`. The fold stays on the exact
    * BIGINT grid wherever the inner kind is Exact — `max_over_time(
    * sum by(g)(rate(x[h]))[d:s])` selects among exact longs and
    * divides ONCE at output. */
  private def subqueryFn(fn: String, sq: Subquery, ctx: Ctx): Vec = {
    val step = sq.step
    require(step > 0 && sq.range >= step,
      s"subquery range ${sq.range}s must cover its ${step}s step")
    // Prometheus grid rule at evaluation instant T: inner instants are
    // the multiples of `step` inside (T−off−d, T−off] — ABSOLUTE
    // multiples, so every outer step of a nested subquery reads a
    // window of the SAME inner step series
    def innerGrid(to: Long): (Long, Long) = {
      val end = Math.floorDiv(to, step) * step
      val start = end - Math.floorDiv(sq.range - (to - end) - 1, step) * step
      (start, end)
    }
    val (samples, groupCols, ord, kind) = ctx.grid match {
      case None =>
        val (innerStart, innerEnd) = innerGrid(ctx.evalTs - sq.offset)
        require(innerEnd >= innerStart, "empty subquery grid")
        val v = evalExpr(sq.arg, ctx.copy(evalTs = innerEnd,
          grid = Some((innerStart, step))))
        (v.df, v.labels.filterNot(_ == "ts"), col("ts"), v.kind)
      case Some((oStart, oStep)) =>
        // NESTED subquery: evaluate the inner step series ONCE over
        // the union span of every outer step's window, then each inner
        // instant t explodes onto the outer steps it is visible at —
        // T ∈ [t+off, t+off+d) on the outer grid, pure integer index
        // arithmetic (the stepped-absent trick; no per-step re-eval,
        // no range join)
        val oEnd = ctx.evalTs
        val (innerStartMin, _) = innerGrid(oStart - sq.offset)
        val (_, innerEndMax) = innerGrid(oEnd - sq.offset)
        require(innerEndMax >= innerStartMin, "empty subquery grid")
        val v = evalExpr(sq.arg, ctx.copy(evalTs = innerEndMax,
          grid = Some((innerStartMin, step))))
        val nOuter = (oEnd - oStart) / oStep
        val stepD = oStep.toDouble
        // visible at T iff T−off−d < t ≤ T−off ⇔ T ∈ [t+off, t+off+d)
        val lo = greatest(ceilIdx(col("__its"), sq.offset, oStart, stepD), lit(0L))
        val hi = least(floorIdx(col("__its"), sq.offset + sq.range - 1,
          oStart, stepD), lit(nOuter))
        val exploded = v.df.withColumnRenamed("ts", "__its")
          .filter(lo <= hi)
          .withColumn("__oi", explode(sequence(lo, hi)))
          .withColumn("ts", lit(oStart) + col("__oi") * lit(oStep))
        (exploded, v.labels.filterNot(_ == "ts") :+ "ts", col("__its"), v.kind)
    }
    val L = groupCols
    def grouped = samples.groupBy(L.map(col): _*)
    def requireExact(): Double = kind match {
      case Exact(d) => d
      case Dbl => throw new IllegalArgumentException(
        s"$fn over a float-valued subquery is order-dependent; " +
          "keep the inner expression on the exact grid")
    }
    def out(df: DataFrame, k: ValKind): Vec =
      Vec(df.select(L.map(col) :+ col("value"): _*), L, k)
    fn match {
      case "sum_over_time" =>
        requireExact(); out(grouped.agg(sum("value").as("value")), kind)
      case "count_over_time" =>
        out(grouped.agg(count(lit(1)).as("value")), Count)
      case "present_over_time" =>
        out(grouped.agg(count(lit(1)).as("__c")).withColumn("value", lit(1L)), Count)
      case "min_over_time" => out(grouped.agg(min("value").as("value")), kind)
      case "max_over_time" => out(grouped.agg(max("value").as("value")), kind)
      case "avg_over_time" =>
        val d = requireExact()
        out(grouped.agg((sum("value").cast("double") /
          (count(lit(1)) * lit(d))).as("value")), Dbl)
      case "stdvar_over_time" | "stddev_over_time" =>
        val d = requireExact() // exact second moments: n·Q − S² in BIGINT
        val num = (count(lit(1)) * sum(col("value") * col("value")) -
          sum("value") * sum("value")).cast("double")
        val den = (count(lit(1)) * count(lit(1))).cast("double") * lit(d * d)
        val variance = num / den
        out(grouped.agg((if (fn == "stddev_over_time") sqrt(variance)
          else variance).as("value")), Dbl)
      case "last_over_time" =>
        out(grouped.agg(max(struct(ord, col("value"))).as("__l"))
          .withColumn("value", col("__l.value")), kind)
      case "delta" =>
        requireExact()
        out(grouped.agg(min(struct(ord, col("value"))).as("__f"),
            max(struct(ord, col("value"))).as("__l"))
          .withColumn("value", col("__l.value") - col("__f.value")), kind)
      case "rate" | "increase" | "changes" | "resets" =>
        val dn = requireExact()
        val w = Window.partitionBy(L.map(col): _*).orderBy(ord)
        val lagged = samples.withColumn("__p", lag("value", 1).over(w))
          .filter(col("__p").isNotNull)
          .withColumn("__d", col("value") - col("__p"))
        out(lagged.groupBy(L.map(col): _*).agg(counterFold(fn, col("__d")).as("value")),
          counterKind(fn, dn * sq.range, kind))
      case other => throw new IllegalArgumentException(
        s"$other cannot consume a subquery")
    }
  }

  /** Outer-grid index bounds for an inner instant (stepped-absent
    * index arithmetic, shared by the nested-subquery explode). */
  private def ceilIdx(ts: Column, off: Long, start: Long, stepD: Double): Column =
    ceil((ts + lit(off) - lit(start)) / lit(stepD)).cast("long")
  private def floorIdx(ts: Column, off: Long, start: Long, stepD: Double): Column =
    floor((ts + lit(off) - lit(start)) / lit(stepD)).cast("long")

  private def decoded(sel: VectorSel, from: Long, to: Long, ctx: Ctx): DataFrame =
    Labels.selectRange(ctx.chunks, ctx.labelCols, matcherString(sel.matchers), from, to)
      .withColumn("cents", round(col("v") * 100).cast("long"))

  /** Aggregation operators across series. Exact kinds aggregate in
    * BIGINT; quantile interpolates on the integer grid (one fixed
    * expression); topk/bottomk are TakeOrdered with label tiebreaks. */
  /** Deterministic 32-bit series hash for limitk/limit_ratio: the
    * first 32 md5 bits of the comma-joined SERIES labels ("ts"
    * excluded, so a series is consistently in or out across every
    * step of a range query) plus a fixed salt —
    * [[graft.ops.TextOps.sampleStratified]]'s engine-portable
    * construction (md5 is bit-identical everywhere; label values in
    * this store carry no commas, so the join is injective). */
  private def seriesHash(labels: Seq[String]): org.apache.spark.sql.Column = {
    val series = labels.filterNot(_ == "ts")
    conv(substring(md5(concat(
      concat_ws(",", series.map(col(_).cast("string")): _*), lit(":42"))),
      1, 8), 16, 10).cast("long")
  }

  /** The full Prometheus exponential schema range: every per-schema
    * bound/locate table in the nb-vector family enumerates this. */
  private val SchemaRange: Range = -4 to 8

  /** Column-metadata tag marking a `schema` column that is already
    * validated — either it passed [[validSchema]] once, or
    * [[downscaleToCoarsest]] synthesized it from `__cs` (an INT min
    * over validated inputs, canonical by construction). The tag lets
    * the second validSchema on the quantile-after-downscale path
    * no-op instead of paying per-row try_cast/when work twice
    * (round-17 ADVICE). Metadata rides projections and groupBy keys;
    * if a plan shape drops it, validSchema simply re-validates —
    * fail-safe in both directions. */
  private val SchemaValidatedKey = "graft.schemaValidated"
  private val SchemaValidatedMeta =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(SchemaValidatedKey, true).build()

  /** Fail-loud `schema` label guard: the bound tables key on the
    * CANONICAL decimal string of an integer in [[SchemaRange]], so a
    * malformed label ("03", "foo", "9") would silently drop every
    * bucket row at the join — inconsistent with the engine's
    * convention (bucketsFor/locateAt `require` their schema). Raise
    * instead, naming the bad label. Idempotent: a column already
    * carrying [[SchemaValidatedMeta]] passes through untouched. */
  private def validSchema(df: DataFrame): DataFrame = {
    val already = df.schema.fields.find(_.name == "schema")
      .exists(_.metadata.contains(SchemaValidatedKey))
    if (already) df
    else {
      val si = expr("try_cast(schema AS INT)") // ANSI-safe: null, not throw
      df.withColumn("schema",
        when(si.isNull || si < SchemaRange.head || si > SchemaRange.last ||
            si.cast("string") =!= col("schema"),
          raise_error(concat(
            lit("native-histogram schema label '"), col("schema"),
            lit(s"' is not a canonical integer in [${SchemaRange.head}, " +
              s"${SchemaRange.last}]"))))
          .otherwise(col("schema")))
        .withMetadata("schema", SchemaValidatedMeta)
    }
  }

  /** Remap a mixed-schema native-histogram vector onto each output
    * group's COARSEST schema: Δ = schema − min(schema) over the group
    * identity (the out labels minus the bucket index), index
    * i → ⌈i/2^Δ⌉ = floorDiv(i + 2^Δ − 1, 2^Δ) — integer-only end to
    * end (pmod-based floor division; the division is exact by
    * construction), so two engines can never disagree on the merged
    * layout. Mirrored negative-span buckets ("n"+i) remap |i| through
    * the same formula and keep their tag (the thresholds nest on
    * |value| identically). The count/sum/zero arms pass through
    * unchanged (they are resolution-independent), and the `schema`
    * label collapses to the coarsest. Same-index rows are NOT merged
    * here — [[mergeSeriesBuckets]] (for ops that need per-series
    * merged buckets) or the triggering sum does that. The window is
    * group-sized (≤ |series|·|buckets| rows per group identity),
    * never data-sized. */
  private def downscaleToCoarsest(v: Vec, outG: Seq[String]): Vec = {
    val part = outG.filterNot(_ == "nb")
    val withSch = validSchema(v.df)
      .withColumn("__sch", expr("CAST(schema AS INT)"))
    // coarsest per group identity, via ONE window over the FOLDED
    // vector (series-sized — the rate/selector fold already ran, so
    // even the global-grouping no-partition case moves ≤ |series| tiny
    // rows through one task, never point data). The agg+crossJoin
    // spelling is NOT an optimization: it references the vector
    // subtree twice and re-decodes the selector's chunks — caught by
    // the promql_native_histq_mixed plan pin (decodes must stay 1)
    val withCs = withSch.withColumn("__cs",
      min(col("__sch")).over(
        if (part.isEmpty) Window.partitionBy()
        else Window.partitionBy(part.map(col): _*)))
    val df = withCs
      .withColumn("__d", expr("CAST(shiftleft(1, __sch - __cs) AS LONG)"))
      .withColumn("__neg", col("nb").startsWith("n"))
      .withColumn("__i", expr( // arms cast to null; "n"+i strips the tag
        "try_cast(CASE WHEN nb LIKE 'n%' THEN substring(nb, 2) ELSE nb END AS LONG)"))
      .withColumn("__x", col("__i") + col("__d") - 1)
      .withColumn("nb", when(col("__i").isNull, col("nb"))
        .otherwise(concat(when(col("__neg"), lit("n")).otherwise(lit("")),
          expr("CAST((__x - pmod(__x, __d)) DIV __d AS STRING)"))))
      .withColumn("schema", col("__cs").cast("string"))
      .drop("__sch", "__cs", "__d", "__neg", "__i", "__x")
      // valid by construction (min over validated INTs) — tag so the
      // downstream histQuantile/histAggNative validSchema no-ops
      .withMetadata("schema", SchemaValidatedMeta)
    Vec(df, v.labels, v.kind)
  }

  /** Merge same-(series, bucket) fragment rows a downscale leaves
    * behind: after i → ⌈i/2^Δ⌉ a fine series can hold SEVERAL rows per
    * coarse index, which is transparent to a sum (the outer aggregate
    * merges them anyway) but wrong for every other merging op — avg
    * over fragments averages fragment values where the reference
    * merges each histogram's buckets BEFORE cross-series aggregation.
    * One exact integer-grid sum per series grain restores the
    * per-histogram layout; fails loud on a float vector (a float
    * merge would be order-dependent, the engine-wide convention). */
  private def mergeSeriesBuckets(v: Vec): Vec = {
    if (v.kind == Dbl) throw new IllegalArgumentException(
      "merging a mixed-schema native-histogram float vector is " +
        "order-dependent; aggregate before the float op")
    Vec(v.df.groupBy(v.labels.map(col): _*).agg(sum("value").as("value")),
      v.labels, v.kind)
  }

  private def aggregate(agg: AggExpr, ctx: Ctx): Vec = {
    val v0 = evalExpr(agg.arg, ctx)
    val out0 = agg.grouping match {
      case NoGroup => Nil
      case By(ls) =>
        val bad = ls.filterNot(v0.labels.contains)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"by(${bad.mkString(",")}) not in result labels ${v0.labels.mkString(",")}")
        v0.labels.filter(ls.contains) // keep store order for determinism
      case Without(ls) => v0.labels.filterNot(ls.contains)
    }
    // the step column is implicitly part of EVERY grouping in range mode
    val outG = if (v0.labels.contains("ts") && !out0.contains("ts")) out0 :+ "ts" else out0
    // MIXED-SCHEMA native histograms: a merging aggregation that keeps
    // the bucket index but drops the per-series `schema` label is
    // summing histograms that scraped at different resolutions — the
    // Prometheus convention downscales every index to the group's
    // COARSEST schema first (i → ⌈i/2^Δ⌉, exact because the integer
    // cent thresholds nest across schemas), and the result CARRIES the
    // coarsest schema (a native histogram sample always knows its
    // resolution). topk/limitk/limit_ratio keep the full label set and
    // never merge buckets, so they stay untouched.
    val mergingOp = Set("sum", "count", "min", "max", "avg", "stddev",
      "stdvar", "group", "quantile", "count_values")(agg.op)
    val (v, out) =
      if (mergingOp && v0.labels.contains("nb") && v0.labels.contains("schema") &&
          outG.contains("nb") && !outG.contains("schema")) {
        val down = downscaleToCoarsest(v0, outG)
        // sum merges a series' fragment rows by itself; every other
        // merging op needs the per-series merged buckets first
        // (fragments would inflate counts and skew avg/min/max/
        // quantile/stddev) — see mergeSeriesBuckets
        (if (agg.op == "sum") down else mergeSeriesBuckets(down),
          v0.labels.filter(l => outG.contains(l) || l == "schema"))
      } else (v0, outG)
    def grouped = if (out.isEmpty) v.df.groupBy() else v.df.groupBy(out.map(col): _*)
    agg.op match {
      case "sum" =>
        if (v.kind == Dbl) throw new IllegalArgumentException(
          "sum over a float vector is order-dependent; aggregate before the float op")
        Vec(grouped.agg(sum("value").as("value")), out, v.kind)
      case "count" => Vec(grouped.agg(count(lit(1)).as("value")), out, Count)
      case "min" => Vec(grouped.agg(min("value").as("value")), out, v.kind)
      case "max" => Vec(grouped.agg(max("value").as("value")), out, v.kind)
      case "avg" =>
        v.kind match {
          case Dbl => throw new IllegalArgumentException(
            "avg over a float vector is order-dependent; aggregate before the float op")
          case Exact(d) => Vec(grouped.agg((sum("value").cast("double") /
            (count(lit(1)) * lit(d))).as("value")), out, Dbl)
        }
      case "stddev" | "stdvar" =>
        v.kind match {
          case Dbl => throw new IllegalArgumentException(
            s"${agg.op} over a float vector is order-dependent; aggregate before the float op")
          case Exact(d) =>
            // exact BIGINT second moments across series: n·ΣV² − (ΣV)²
            val num = (count(lit(1)) * sum(col("value") * col("value")) -
              sum("value") * sum("value")).cast("double")
            val den = (count(lit(1)) * count(lit(1))).cast("double") * lit(d * d)
            val variance = num / den
            Vec(grouped.agg((if (agg.op == "stddev") sqrt(variance)
              else variance).as("value")), out, Dbl)
        }
      case "group" => // PromQL group(): 1 for every group that exists
        Vec(grouped.agg(max(lit(1L)).as("value")), out, Count)
      case "quantile" =>
        val phi = agg.param.getOrElse(0.5)
        // interpolation runs on the exact integer grid; the kind's
        // denominator divides out once afterwards
        val q = expr(s"percentile(value, $phi)")
        val scaled = v.kind match {
          case Dbl => q
          case Exact(1.0) => q
          case Exact(d) => q / lit(d)
        }
        Vec(grouped.agg(scaled.as("value")), out, Dbl)
      case "count_values" =>
        // the string parameter names the OUTPUT label carrying the
        // counted sample value (Prometheus: count_values("version", e))
        val name = agg.strParam.getOrElse(throw new IllegalArgumentException(
          "count_values needs a string label name first"))
        require(name.matches("[a-zA-Z_][a-zA-Z0-9_]*"),
          s"count_values: invalid label name '$name'")
        require(!out.contains(name) && name != "value",
          s"count_values: label '$name' collides with a result column")
        val ls = out :+ "value"
        Vec(v.toDouble.groupBy(ls.map(col): _*).agg(count(lit(1)).as("__n"))
          .withColumnRenamed("value", name).withColumnRenamed("__n", "value"),
          out :+ name, Count)
      case "topk" | "bottomk" =>
        // PromQL topk/bottomk KEEP the full label set; by() means
        // per-group top-k, no grouping means global
        val k = agg.param.getOrElse(1.0).toInt
        val valueOrd = if (agg.op == "topk") col("value").desc else col("value").asc
        val tiebreak = v.labels.filterNot(out.contains).map(col)
        if (out.isEmpty) {
          // global: TakeOrdered — k rows cross the wire, never the vector
          Vec(v.df.orderBy(valueOrd +: tiebreak: _*).limit(k), v.labels, v.kind)
        } else {
          // per-group: rank window partitioned by the by() labels —
          // partitions are group-sized (≤ |series| rows), never global
          val w = Window.partitionBy(out.map(col): _*).orderBy(valueOrd +: tiebreak: _*)
          Vec(v.df.withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k).drop("__rk"), v.labels, v.kind)
        }
      case "limitk" =>
        // Prometheus 3.x limitk: k elements per group, chosen by the
        // deterministic series-hash order (the sampleStratified md5
        // discipline) so the pick is reproducible across engines,
        // cluster layouts, and retries — and limitk(k) ⊆ limitk(k+1).
        // Full label set kept, like topk; per-group via a rank window
        // over group-sized partitions, global via TakeOrdered.
        val k = agg.param.getOrElse(1.0).toInt
        val ord = seriesHash(v.labels).asc +:
          v.labels.filterNot(out.contains).map(col(_).asc)
        if (out.isEmpty)
          Vec(v.df.orderBy(ord: _*).limit(k), v.labels, v.kind)
        else {
          val w = Window.partitionBy(out.map(col): _*).orderBy(ord: _*)
          Vec(v.df.withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= k).drop("__rk"), v.labels, v.kind)
        }
      case "limit_ratio" =>
        // Prometheus 3.x limit_ratio: keep ≈ r of the elements via the
        // INTEGER-EXACT ppm gate over the series hash (h·10⁶ <
        // round(r·10⁶)·2³²) — sampleStratified's construction, md5 so
        // both engines compute the identical gate. r < 0 keeps the
        // exact complement: limit_ratio(r) ∪ limit_ratio(r−1) is the
        // whole vector, disjointly. A pure per-element filter: no
        // shuffle, kind and labels untouched.
        val r = agg.param.getOrElse(1.0)
        require(r >= -1.0 && r <= 1.0, s"limit_ratio needs r in [-1, 1], got $r")
        val h = seriesHash(v.labels)
        val gate =
          if (r >= 0) h * 1000000L < lit(Math.round(r * 1000000L) * 4294967296L)
          else h * 1000000L >= lit(Math.round((1.0 + r) * 1000000L) * 4294967296L)
        Vec(v.df.filter(gate), v.labels, v.kind)
      case other => throw new IllegalArgumentException(s"unknown aggregation '$other'")
    }
  }

  /** Binary operators with PromQL vector matching: arithmetic joins on
    * the matching label subset (group_left broadcasts the one side),
    * comparisons filter, and/or/unless are semi/union/anti joins that
    * ship only keys for the right side. */
  private def binary(bin: BinExpr, ctx: Ctx): Vec = (bin.lhs, bin.rhs) match {
    // BOTH sides scalar-typed (literals, time(), scalar(v), arithmetic
    // over them): no vector shape at top level — checked BEFORE the
    // one-sided NumLit cases so `scalar(x) + 1` gets the real reason,
    // not the "must be consumed by arithmetic" message (it IS)
    case (l, r) if isScalarExpr(l) && isScalarExpr(r) =>
      throw new IllegalArgumentException(
        s"scalar-only expression has no vector result: " +
          s"${bin.op} over two scalars (wrap in vector() for a vector)")
    case (l, NumLit(s)) =>
      scalarOp(evalExpr(l, ctx), bin.op, s, scalarLeft = false, bin.boolMod)
    case (NumLit(s), r) =>
      scalarOp(evalExpr(r, ctx), bin.op, s, scalarLeft = true, bin.boolMod)
    // scalar-TYPED operands (time(), scalar(v), and arithmetic over
    // them) behave like NumLit — no label matching, the scalar applies
    // to every element (per step in range mode)
    case (l, r) if isScalarExpr(r) && !isScalarExpr(l) =>
      scalarColOp(evalExpr(l, ctx), bin.op, evalScalar(r, ctx),
        scalarLeft = false, bin.boolMod)
    case (l, r) if isScalarExpr(l) && !isScalarExpr(r) =>
      scalarColOp(evalExpr(r, ctx), bin.op, evalScalar(l, ctx),
        scalarLeft = true, bin.boolMod)
    case (l, r) =>
      val lv = evalExpr(l, ctx)
      val rv = evalExpr(r, ctx)
      val keys = bin.matching.on.getOrElse(
        lv.labels.toSet.intersect(rv.labels.toSet).toSeq
          .filterNot(bin.matching.ignoring.contains))
        .filterNot(bin.matching.ignoring.contains)
      // store order; in range mode the step matches implicitly
      val keyCols = ctx.labelCols.filter(keys.contains) ++
        (if (lv.labels.contains("ts") && rv.labels.contains("ts")) Seq("ts") else Nil)
      // `on()` with NO labels (the alert-silencing idiom `alert unless
      // on() gate`): every element shares the empty key, so the set op
      // keys on a constant — suppress-all when the gate is non-empty
      def setKeyed(df: DataFrame): DataFrame =
        if (keyCols.isEmpty) df.withColumn("__one", lit(1)) else df
      val setKeys = if (keyCols.isEmpty) Seq("__one") else keyCols
      bin.op match {
        case "and" =>
          Vec(setKeyed(lv.df).join(
            broadcast(setKeyed(rv.df).select(setKeys.map(col): _*).distinct()),
            setKeys, "left_semi").drop("__one"), lv.labels, lv.kind)
        case "unless" =>
          Vec(setKeyed(lv.df).join(
            broadcast(setKeyed(rv.df).select(setKeys.map(col): _*).distinct()),
            setKeys, "left_anti").drop("__one"), lv.labels, lv.kind)
        case "or" =>
          if (lv.labels != rv.labels) throw new IllegalArgumentException(
            "'or' needs both sides on the same label set")
          val rOnly = rv.df.join(broadcast(lv.df.select(keyCols.map(col): _*).distinct()),
            keyCols, "left_anti")
          val kind = if (lv.kind == rv.kind) lv.kind else Dbl
          val ldf = if (kind == lv.kind) lv.df else lv.toDouble
          val rdf = if (kind == rv.kind) rOnly else Vec(rOnly, rv.labels, rv.kind).toDouble
          Vec(ldf.unionByName(rdf), lv.labels, kind)
        case op =>
          val manyLeft = bin.matching.groupLeft
          val manyRight = bin.matching.groupRight
          // `group_left(version)`: labels COPIED from the one side onto
          // every matched many-side element; a same-named many-side
          // label is overwritten (dropped from the many projection).
          // DELIBERATE DEVIATION from reference PromQL: a carried label
          // that is ABSENT from the one side THROWS here, where
          // Prometheus silently copies it as empty — in a fixed-schema
          // label store an absent carry label is a typo'd column name,
          // and failing loud beats emitting a phantom empty column
          val carry = bin.matching.carry
          if (carry.nonEmpty) {
            val oneLabels = if (manyRight) lv.labels else rv.labels
            val missing = carry.filterNot(oneLabels.contains)
            if (missing.nonEmpty) throw new IllegalArgumentException(
              s"group_left/group_right(${missing.mkString(",")}): " +
                s"label not present on the one side (${oneLabels.mkString(",")})")
          }
          val outLabels =
            if (manyLeft) (lv.labels.filterNot(n =>
              carry.contains(n) && !keyCols.contains(n)) ++
              carry.filterNot(keyCols.contains)).distinct
            else if (manyRight) (rv.labels.filterNot(n =>
              carry.contains(n) && !keyCols.contains(n)) ++
              carry.filterNot(keyCols.contains)).distinct
            else keyCols
          val lval = asDouble(col("__lv"), lv.kind)
          val rval = asDouble(col("__rv"), rv.kind)
          // the grain side keeps its full label set (minus labels the
          // carry overwrites); the other side keeps its keys + carried
          // labels, dropping non-key labels that would collide
          val (lkeepLabels, rkeepLabels) =
            if (manyRight)
              (lv.labels.filter(n => keyCols.contains(n) || carry.contains(n) ||
                !rv.labels.contains(n)),
                rv.labels.filterNot(n => carry.contains(n) && !keyCols.contains(n)))
            else
              (lv.labels.filterNot(n => carry.contains(n) && !keyCols.contains(n)),
                rv.labels.filter(n => keyCols.contains(n) || carry.contains(n) ||
                  !lv.labels.contains(n)))
          val lside = lv.df.withColumnRenamed("value", "__lv")
            .select((lkeepLabels :+ "__lv").distinct.map(col): _*)
          val rside = rv.df.withColumnRenamed("value", "__rv")
            .select((rkeepLabels :+ "__rv").distinct.map(col): _*)
          // the "one" side of a many-to-one match is group-grain — broadcast it
          val joined =
            if (manyLeft) lside.join(broadcast(rside), keyCols)
            else if (manyRight) rside.join(broadcast(lside), keyCols)
            else lside.join(rside, keyCols)
          if (cmpOps(bin.op)) {
            // comparison = filter; keep the LEFT value (PromQL filter semantics).
            // Exact-kind pairs with equal denom compare on exact longs.
            val cond =
              if (sameExact(lv.kind, rv.kind)) cmp(bin.op, col("__lv"), col("__rv"))
              else cmp(bin.op, lval, rval)
            if (bin.boolMod) // `bool`: emit 0/1 per matched pair, no filter
              Vec(joined.select(lkeepLabels.map(col) :+
                when(cond, 1L).otherwise(0L).as("value"): _*), lkeepLabels, Count)
            else
              // comparisons FILTER the left vector: its full label set survives
              Vec(joined.filter(cond)
                .select(lkeepLabels.map(col) :+ col("__lv").as("value"): _*),
                lkeepLabels, lv.kind)
          } else {
            val (value, kind) = op match {
              case "+" if sameExact(lv.kind, rv.kind) => (col("__lv") + col("__rv"), lv.kind)
              case "-" if sameExact(lv.kind, rv.kind) => (col("__lv") - col("__rv"), lv.kind)
              case "+" => (lval + rval, Dbl)
              case "-" => (lval - rval, Dbl)
              case "*" => (lval * rval, Dbl)
              case "/" => (lval / nullif(rval, lit(0.0)), Dbl)
              case "%" => (lval % nullif(rval, lit(0.0)), Dbl)
              case "^" => (pow(lval, rval), Dbl)
              case "atan2" => (atan2(lval, rval), Dbl)
              case o => throw new IllegalArgumentException(s"unknown operator '$o'")
            }
            val res = joined.select(outLabels.map(col) :+ value.as("value"): _*)
            // PromQL drops undefined samples (x/0 here yields NULL, not Inf)
            Vec(if (op == "/" || op == "%") res.filter(col("value").isNotNull) else res,
              outLabels, kind)
          }
      }
  }

  private def sameExact(a: ValKind, b: ValKind): Boolean = (a, b) match {
    case (Exact(x), Exact(y)) => x == y
    case _ => false
  }

  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case "==" => l === r
    case "!=" => l =!= r
    case ">" => l > r
    case "<" => l < r
    case ">=" => l >= r
    case "<=" => l <= r
  }

  /** Vector ⟂ scalar. Addition/subtraction against an exact vector
    * stays exact when the scalar lands on the vector's integer grid;
    * comparisons against an exact vector compare on the exact grid
    * when the threshold does. */
  /** [[scalarOp]] where the scalar is a COLUMN-valued 1-row(-per-step)
    * vector ([[timeVec]]/[[scalarVec]]): the scalar side broadcasts
    * (≤ steps rows by construction) and joins on the step in range
    * mode, cross-joins the single row otherwise — never a shuffle of
    * the vector side. Doubles end-to-end (the scalar column has no
    * static grid to stay exact on). */
  private def scalarColOp(v: Vec, op: String, s: Vec, scalarLeft: Boolean,
                          boolMod: Boolean = false): Vec = {
    val d = v.toDouble
    val sdf = s.toDouble.withColumnRenamed("value", "__sv")
    val joined =
      if (v.labels.contains("ts") && s.labels.contains("ts"))
        d.join(broadcast(sdf), Seq("ts"))
      else d.crossJoin(broadcast(sdf.select("__sv")))
    val dv = col("value")
    val sv = col("__sv")
    if (cmpOps(op)) {
      val c = if (scalarLeft) cmp(op, sv, dv) else cmp(op, dv, sv)
      if (boolMod)
        Vec(joined.withColumn("value", when(c, 1L).otherwise(0L)).drop("__sv"),
          v.labels, Count)
      else Vec(joined.filter(c).drop("__sv"), v.labels, Dbl)
    } else {
      val value = (op, scalarLeft) match {
        case ("+", _) => dv + sv
        case ("-", false) => dv - sv
        case ("-", true) => sv - dv
        case ("*", _) => dv * sv
        case ("/", false) => dv / sv
        case ("/", true) => sv / nullif(dv, lit(0.0))
        case ("%", false) => dv % sv
        case ("%", true) => sv % nullif(dv, lit(0.0))
        case ("^", false) => pow(dv, sv)
        case ("^", true) => pow(sv, dv)
        case ("atan2", false) => atan2(dv, sv)
        case ("atan2", true) => atan2(sv, dv)
        case (o, _) => throw new IllegalArgumentException(s"unknown operator '$o'")
      }
      val res = joined.withColumn("value", value).drop("__sv")
      Vec(if (scalarLeft && (op == "/" || op == "%"))
        res.filter(col("value").isNotNull) else res, v.labels, Dbl)
    }
  }

  private def scalarOp(v: Vec, op: String, s: Double, scalarLeft: Boolean,
                       boolMod: Boolean = false): Vec = {
    val scaled = v.kind match { case Exact(d) => s * d; case Dbl => Double.NaN }
    val onGrid = v.kind != Dbl && scaled.isWhole && math.abs(scaled) < 9e15
    if (cmpOps(op)) {
      val c =
        if (onGrid) {
          val t = lit(scaled.toLong)
          if (scalarLeft) cmp(op, t, col("value")) else cmp(op, col("value"), t)
        } else {
          val dv = asDouble(col("value"), v.kind)
          if (scalarLeft) cmp(op, lit(s), dv) else cmp(op, dv, lit(s))
        }
      if (boolMod) // `bool`: 0/1 per sample, exact Count grid
        Vec(v.df.withColumn("value", when(c, 1L).otherwise(0L)), v.labels, Count)
      else Vec(v.df.filter(c), v.labels, v.kind)
    } else (op, onGrid) match {
      case ("+", true) =>
        Vec(v.df.withColumn("value", col("value") + lit(scaled.toLong)), v.labels, v.kind)
      case ("-", true) if !scalarLeft =>
        Vec(v.df.withColumn("value", col("value") - lit(scaled.toLong)), v.labels, v.kind)
      case ("-", true) =>
        Vec(v.df.withColumn("value", lit(scaled.toLong) - col("value")), v.labels, v.kind)
      case _ =>
        val d = v.toDouble
        val value = (op, scalarLeft) match {
          case ("+", _) => col("value") + lit(s)
          case ("-", false) => col("value") - lit(s)
          case ("-", true) => lit(s) - col("value")
          case ("*", _) => col("value") * lit(s)
          case ("/", false) => col("value") / lit(s)
          case ("/", true) => lit(s) / nullif(col("value"), lit(0.0))
          case ("%", false) => col("value") % lit(s)
          case ("%", true) => lit(s) % nullif(col("value"), lit(0.0))
          case ("^", false) => pow(col("value"), lit(s))
          case ("^", true) => pow(lit(s), col("value"))
          case ("atan2", false) => atan2(col("value"), lit(s))
          case ("atan2", true) => atan2(lit(s), col("value"))
          case (o, _) => throw new IllegalArgumentException(s"unknown operator '$o'")
        }
        val res = d.withColumn("value", value)
        Vec(if (scalarLeft && (op == "/" || op == "%")) res.filter(col("value").isNotNull)
          else res, v.labels, Dbl)
    }
  }
}
