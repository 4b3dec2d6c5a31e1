package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * PromQL-style label selectors over a labeled chunk store — the
 * key-search-first query model of the Gorilla paper's §4 (the
 * reference README's aspiration): a series is identified by a SET OF
 * LABELS, and every query starts from a label matcher expression like
 * `{type="click", host=~"h1.*", region!="r3"}`.
 *
 * Spark-first data model: each label the store is keyed by is a
 * TOP-LEVEL string column of the chunk store (an "indexed" label), and
 * a derived `labels` map<string,string> column presents the PromQL
 * view. Matchers against indexed labels compile to plain column
 * predicates — equality reaches the parquet scan as a pushed filter
 * (row-group stat + dictionary pruning), regexes with a literal prefix
 * compile to `startsWith` (pushed as StringStartsWith), and only the
 * general-regex tail stays a post-scan `rlike`. Matchers against
 * labels that exist only inside the map fall back to `element_at`
 * with PromQL's absent≡"" rule: an absent label behaves exactly like
 * the empty string, so `{env!=""}` means "env present and non-empty",
 * `env=""` and `env=~".*"` match absent-env series, and non-empty
 * positive matchers never match them.
 *
 * Regex matchers are fully anchored (`=~ "api.*"` means the WHOLE
 * value matches), like PromQL.
 */
object Labels {
  sealed trait Matcher { def label: String }
  /** `label="v"`  */ final case class Eq(label: String, value: String) extends Matcher
  /** `label!="v"` */ final case class Ne(label: String, value: String) extends Matcher
  /** `label=~"re"`  */ final case class Re(label: String, pattern: String) extends Matcher
  /** `label!~"re"`  */ final case class NotRe(label: String, pattern: String) extends Matcher

  /** Parse a PromQL-style selector body: comma-separated
    * `name op "value"` with op in {=, !=, =~, !~}; surrounding braces
    * optional. Quotes are required around values; `\"` and `\\`
    * escapes are honored. */
  def parse(selector: String): Seq[Matcher] = {
    val s0 = selector.trim
    val s = if (s0.startsWith("{") && s0.endsWith("}")) s0.substring(1, s0.length - 1) else s0
    if (s.trim.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Matcher]
    var i = 0
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"bad selector at offset $i: $msg in <$selector>")
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    while ({ skipWs(); i < s.length }) {
      val ns = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
      if (i == ns) fail("expected label name")
      val name = s.substring(ns, i)
      skipWs()
      val op =
        if (s.startsWith("=~", i)) { i += 2; "=~" }
        else if (s.startsWith("!~", i)) { i += 2; "!~" }
        else if (s.startsWith("!=", i)) { i += 2; "!=" }
        else if (s.startsWith("=", i)) { i += 1; "=" }
        else fail("expected one of = != =~ !~")
      skipWs()
      if (i >= s.length || s.charAt(i) != '"') fail("expected opening quote")
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          sb.append(s.charAt(i + 1)); i += 2
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      if (i >= s.length) fail("unterminated quoted value")
      i += 1 // closing quote
      out += (op match {
        case "="  => Eq(name, sb.toString)
        case "!=" => Ne(name, sb.toString)
        case "=~" => Re(name, sb.toString)
        case "!~" => NotRe(name, sb.toString)
      })
      skipWs()
      if (i < s.length) {
        if (s.charAt(i) != ',') fail("expected comma between matchers")
        i += 1
      }
    }
    out.toSeq
  }

  /** A regex consisting of a literal prefix followed by `.*` (e.g.
    * `h1.*`) — the shape PromQL index lookups special-case. Returns
    * the prefix when the pattern has no other metacharacters. */
  private[tsdb] def literalPrefix(pattern: String): Option[String] =
    if (pattern.endsWith(".*") &&
        !pattern.dropRight(2).exists("\\^$.|?*+()[]{}".contains(_)))
      Some(pattern.dropRight(2))
    else None

  /** Compile one matcher to a Column predicate over `df`.
    *
    * Labels in `indexedLabels` (∩ the frame's columns) get direct
    * column predicates — they are series-key columns, non-null by
    * construction, so equality/prefix stay parquet-pushable. Every
    * other label reads through `element_at(labels, name)` with
    * PromQL's absent≡"" rule applied via coalesce: `{env!=""}` is the
    * idiomatic "label is present (and non-empty)" selector and must
    * NOT match series lacking env; `env=""` and `env=~".*"` must.
    * Passing `indexedLabels` explicitly (as [[select]]'s 3-arg form
    * does) also stops a label name from silently binding to a
    * same-named NON-label column of the frame — on a chunk store a
    * map label called `n` must never filter on the per-chunk
    * point-count stat. */
  def predicate(df: DataFrame, m: Matcher, indexedLabels: Set[String]): Column = {
    val indexed = indexedLabels.contains(m.label) &&
      df.schema.fieldNames.contains(m.label)
    val v: Column =
      if (indexed) col(m.label).cast("string")
      else coalesce(element_at(col("labels"), m.label), lit(""))
    m match {
      case Eq(_, value) => v === value
      case Ne(_, value) => v =!= value
      case Re(_, p) => literalPrefix(p) match {
        case Some(pre) => v.startsWith(pre) // pushed as StringStartsWith
        case None      => v.rlike("^(?:" + p + ")$") // anchored, like PromQL
      }
      case NotRe(_, p) => !v.rlike("^(?:" + p + ")$")
    }
  }

  /** [[predicate]] with every frame column treated as indexed — the
    * convenience form for frames whose columns ARE the labels. */
  def predicate(df: DataFrame, m: Matcher): Column =
    predicate(df, m, df.schema.fieldNames.toSet)

  /** Filter a labeled frame by a selector string, treating exactly
    * `labelCols` as the indexed labels (other matchers go through the
    * `labels` map — a label may not shadow a stat column). */
  def select(df: DataFrame, labelCols: Seq[String], selector: String): DataFrame =
    filterAll(df, parse(selector).map(predicate(df, _, labelCols.toSet)))

  /** Filter any frame whose COLUMNS are the labels (chunk store,
    * decoded points, rollup partials) by a selector string. Use the
    * 3-arg form when the frame also carries non-label columns a
    * matcher name could collide with. */
  def select(df: DataFrame, selector: String): DataFrame =
    filterAll(df, parse(selector).map(predicate(df, _)))

  /** The matchers' predicates ANDed into ONE filter: one analysis of
    * the frame instead of one per matcher (Catalyst combines adjacent
    * filters anyway, so the optimized plan is the same). */
  private def filterAll(df: DataFrame, preds: Seq[Column]): DataFrame =
    if (preds.isEmpty) df else df.filter(preds.reduce(_ && _))

  /** PromQL label_values()/series-count meta-query (the first thing a
    * metrics UI's autocomplete fires): per label, every value with its
    * series and point counts — answered from chunk METADATA alone
    * (indexed label columns + the `n` stat; zero chunk bytes). The
    * series key joins label values with a \u0001 separator so values
    * that are prefix-extensions of each other can never collide. */
  def labelValues(chunks: DataFrame, labelCols: Seq[String]): DataFrame = {
    val seriesKey = concat_ws("\u0001", labelCols.map(col): _*)
    labelCols.map { lc =>
      chunks.groupBy(col(lc).as("value"))
        .agg(countDistinct(seriesKey).as("n_series"), sum("n").as("n_points"))
        .select(lit(lc).as("label"), col("value"), col("n_series"),
          col("n_points"))
    }.reduce(_ unionByName _)
  }

  /** The PromQL view of an indexed store: a `labels` map assembled
    * from the given label columns (kept alongside them; matchers still
    * compile to the indexed form via [[predicate]]). */
  def withLabels(df: DataFrame, labelCols: Seq[String]): DataFrame =
    df.withColumn("labels",
      map(labelCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))

  /** Selector + time range → per-series aggregates off a labeled chunk
    * store: label predicates prune FIRST (pushed scans over chunk
    * METADATA — no chunk byte is read for a filtered-out series), then
    * the surviving chunks answer via the compressed-domain range
    * kernel in one scan ([[Ts.rangeAgg]]: covered chunks from header
    * stats and never decoded, only boundary chunks decode). */
  def selectRangeAgg(chunks: DataFrame, labelCols: Seq[String], selector: String,
                     fromSec: Long, toSec: Long): DataFrame =
    Ts.rangeAgg(select(chunks, labelCols, selector), labelCols, fromSec, toSec)

  /** Selector + time range → decoded points (the PromQL range-vector
    * materialization): prune by labels and window stats before any
    * decode, then unpack only the survivors. */
  def selectRange(chunks: DataFrame, labelCols: Seq[String], selector: String,
                  fromSec: Long, toSec: Long): DataFrame =
    Ts.rangeQuery(select(chunks, labelCols, selector), labelCols, fromSec, toSec)

  /** Selector + time range → sample SECONDS only — the presence/
    * freshness materialization (`absent`, `timestamp()`): identical
    * label + window-stat pruning, but only the timestamp stream of a
    * surviving chunk decodes (`gorilla_decode_ts`); the value bits
    * are never touched. */
  def selectRangeTs(chunks: DataFrame, labelCols: Seq[String], selector: String,
                    fromSec: Long, toSec: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    select(chunks, labelCols, selector)
      .filter(col("max_ts") >= fromSec && col("min_ts") <= toSec)
      .select(labelCols.map(col) :+
        explode(graft.functions.gorilla_decode_ts(col("chunk"))).as("ts"): _*)
      .filter(col("ts") >= fromSec && col("ts") <= toSec)
  }
}
