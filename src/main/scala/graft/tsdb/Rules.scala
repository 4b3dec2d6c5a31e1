package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Prometheus RULE evaluation on the labeled chunk store — the
 * operational layer that turns the PromQL front-end ([[Promql]]) into
 * a recording/alerting engine:
 *
 *  - a RECORDING rule evaluates a PromQL expression on a step grid
 *    (the same compressed-domain stepped machinery `query_range`
 *    uses) and materializes the result back into Gorilla chunks, so
 *    ingest-once/query-many extends to DERIVED series: the recorded
 *    store is a first-class query substrate — selectors prune on the
 *    rule name at the chunk-metadata scan and `_over_time` functions
 *    answer from its header stats with zero decode, exactly like raw
 *    series. At 100 TB this is THE dashboard pattern: a 300-step
 *    panel over a recorded series reads |series|·|window buckets|
 *    chunk headers, never the raw corpus the rule folded.
 *
 *  - an ALERTING rule evaluates a filter expression (comparison =
 *    PromQL filter semantics) on the grid and applies the `for`
 *    clause's continuity requirement as one range window per series:
 *    a series is `firing` at step t iff the condition held at EVERY
 *    step in [t − for, t], `pending` otherwise. No driver-side loop —
 *    state assembly is a single window aggregate over the (sparse)
 *    condition-true rows, grid-uniform so presence-count == coverage.
 *
 * Semantics follow the public Prometheus rule model; like Prometheus,
 * continuity is judged from the evaluation range's own start (a
 * condition already true before `startTs` counts from `startTs`).
 */
object Rules {

  /** `record: <name>  expr: <promql>` evaluated at every `stepSec`
    * instant of [startTs, endTs]. The result series carry the rule
    * name as their metric (the store's FIRST label column); grouped-
    * away label columns are recorded as "" (the fixed-column store's
    * spelling of an absent Prometheus label). */
  final case class Recording(record: String, expr: String,
                             startTs: Long, endTs: Long, stepSec: Long)

  /** `alert: <name>  expr: <filter expr>  for: <forSec>
    * keep_firing_for: <keepFiringForSec>` on the same grid. `expr`
    * must FILTER (a PromQL comparison), so each emitted step row means
    * "condition true at this instant". `keepFiringForSec` (Prometheus
    * ≥ 2.42) is the un-fire hysteresis: a FIRING alert whose condition
    * stops holding keeps firing until `keep_firing_for` has elapsed
    * since the last condition-true evaluation; if the condition
    * returns within the window the alert stays firing (it never
    * resolves, so it does NOT re-enter pending even when the `for`
    * continuity is locally broken). */
  final case class Alert(alert: String, expr: String, forSec: Long,
                         startTs: Long, endTs: Long, stepSec: Long,
                         keepFiringForSec: Long = 0L)

  /** Evaluate a recording rule → rows in the labeled-ingest shape:
    * every store label column present, plus (ts, value) with ts in the
    * raw-ingest convention (nanos-as-long, what [[Ts.epochSec]] expects
    * of a LONG column). Feed straight into [[Ts.chunkify]] (see
    * [[materialize]]). */
  def record(chunks: DataFrame, labelCols: Seq[String],
             rule: Recording): DataFrame = {
    require(labelCols.nonEmpty, "need at least the metric label column")
    val out = Promql.evalRange(chunks, labelCols, rule.expr,
      rule.startTs, rule.endTs, rule.stepSec)
    val present = out.columns.toSet
    val cols = labelCols.map { l =>
      if (l == labelCols.head) lit(rule.record).as(l) // metric name
      else if (present(l)) col(l) else lit("").as(l)
    }
    out.select(cols :+ (col("ts") * lit(1000000000L)).as("ts") :+ col("value"): _*)
  }

  /** Evaluate recording rules and encode the derived series into
    * Gorilla chunks (same windowing as raw ingest) — union-ready with
    * a base store or writable via [[Ts.writeStore]]. */
  def materialize(chunks: DataFrame, labelCols: Seq[String],
                  rules: Seq[Recording]): DataFrame = {
    require(rules.nonEmpty, "no recording rules")
    rules.map(r => Ts.chunkify(record(chunks, labelCols, r), labelCols, "ts", "value"))
      .reduce(_ unionByName _)
  }

  /** Alert states over the grid: (labels…, ts, state) with state ∈
    * {"pending", "firing"}; rows exist only where the condition is
    * true (Prometheus emits no sample for an inactive alert) — EXCEPT
    * under `keep_firing_for`, where a kept-alive alert also emits
    * `firing` rows at condition-false steps (value carried forward
    * from the last true step, `cond = false` marking the hysteresis
    * rows; with keepFiringForSec = 0 the schema is unchanged).
    *
    * keep_firing_for semantics as one windowed pass, no driver loop:
    *  - condition-true steps chain into an ISLAND while consecutive
    *    gaps stay ≤ keep (a firing alert is still firing when the
    *    condition returns within the window, so the chain re-arms);
    *  - a step is FIRING iff its island has seen `for`-continuity at
    *    or before it (running max of the for-window count gate) —
    *    island steps before that are pending, and after a > keep gap
    *    the chain dies and continuity must be re-earned;
    *  - every firing true step emits hysteresis tails for the false
    *    steps after it, up to min(next true step − step, ts + keep,
    *    endTs).
    *
    * `firingSeed` (streaming recovery): (labels…, ts) rows known
    * FIRING from the persisted state log — chains alive across a
    * batch boundary whose `for`-continuity predates the re-evaluated
    * window; the matching re-derived condition rows are force-marked
    * as continuity-satisfied. Bounded by the keep window. */
  def alert(chunks: DataFrame, labelCols: Seq[String], rule: Alert,
            firingSeed: Option[DataFrame] = None): DataFrame = {
    require(rule.forSec >= 0 && rule.forSec % rule.stepSec == 0,
      s"for ${rule.forSec}s must be a multiple of the ${rule.stepSec}s step")
    require(rule.keepFiringForSec >= 0 &&
        rule.keepFiringForSec % rule.stepSec == 0,
      s"keep_firing_for ${rule.keepFiringForSec}s must be a multiple of " +
        s"the ${rule.stepSec}s step")
    val need = rule.forSec / rule.stepSec + 1 // steps of continuous truth
    val v = Promql.evalRange(chunks, labelCols, rule.expr,
      rule.startTs, rule.endTs, rule.stepSec)
    val labels = v.columns.filterNot(c => c == "ts" || c == "value").toSeq
    val w = Window.partitionBy(labels.map(col): _*).orderBy(col("ts"))
      .rangeBetween(-rule.forSec, 0)
    val base = v.withColumn("__n", count(lit(1)).over(w))
      .withColumn("__fr", col("__n") >= need)
    if (rule.keepFiringForSec == 0)
      return base
        .withColumn("state", when(col("__fr"), lit("firing"))
          .otherwise(lit("pending")))
        .drop("__n", "__fr")
    val k = rule.keepFiringForSec
    val seeded = firingSeed match {
      case Some(sd) =>
        val sdd = sd.select((labels.map(col) :+ col("ts")): _*)
          .withColumn("__hist", lit(true))
        base.join(broadcast(sdd), labels :+ "ts", "left")
          .withColumn("__fr", col("__fr") || coalesce(col("__hist"), lit(false)))
          .drop("__hist")
      case None => base
    }
    // islands of condition-true steps chained by gap ≤ keep; windows
    // are series-sized (≤ |grid steps| rows per series), never
    // data-sized
    val ordW = Window.partitionBy(labels.map(col): _*).orderBy(col("ts"))
    val run = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = seeded
      .withColumn("__gap", col("ts") - lag(col("ts"), 1).over(ordW))
      .withColumn("__brk", when(col("__gap").isNull || col("__gap") > k, 1)
        .otherwise(0))
      .withColumn("__isl", sum(col("__brk")).over(run))
      .withColumn("__fire",
        max(when(col("__fr"), 1).otherwise(0)).over(
          Window.partitionBy((labels :+ "__isl").map(col): _*)
            .orderBy(col("ts"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) === 1)
      .withColumn("__next", lead(col("ts"), 1).over(ordW))
    // one explode per condition row: j = 0 is the row itself, j = 1..__m
    // (firing rows only) are its hysteresis tails, so the condition
    // subtree is planned once
    marked
      .withColumn("__lt", least(col("ts") + k,
        coalesce(col("__next") - rule.stepSec, col("ts") + k),
        lit(rule.endTs)))
      .withColumn("__m", when(col("__fire"), greatest(lit(0L),
        ((col("__lt") - col("ts")) / lit(rule.stepSec)).cast("long"))).otherwise(0L))
      .withColumn("__j", explode(sequence(lit(0L), col("__m"))))
      .withColumn("state", when(col("__fire"), lit("firing")).otherwise(lit("pending")))
      .withColumn("cond", col("__j") === 0)
      .withColumn("ts", col("ts") + col("__j") * rule.stepSec)
      .select(labels.map(col) ++
        Seq(col("ts"), col("value"), col("state"), col("cond")): _*)
  }
}
