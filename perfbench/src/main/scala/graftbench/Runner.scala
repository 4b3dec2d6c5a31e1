package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One executed operation. `items` counts the workload's unit of work
  * (points, covered points, documents); `seconds` is its wall time. */
final case class OpRec(id: Int, cycle: Int, name: String, kind: String, seconds: Double,
                       ok: Boolean, items: Long, measured: Boolean, traced: Boolean)

/** A workload: set-up, then a fixed sequence of operations per cycle. */
trait Workload {
  /** Build the inputs (and store) from the seed; rep numbers set-up repeats. */
  def setup(rep: Int): Unit
  /** One fixed sequence of operations, each run through `r.op`; `k`
    * numbers the cycles from 0, the first warm-up cycle. */
  def cycle(r: Runner, k: Int): Unit
  /** Untimed full cycles before measuring, so timed cycles run warm. */
  def warmupCycles: Int = 1
  /** Kinds of operation whose time `items_per_s` divides the items by. */
  def itemKinds: Set[String]
  /** Chunk store the workload's reads go to, for store I/O counters. */
  def storeRoot: Option[String] = None
  /** Per-layer metrics of the workload's own (layer probe, counts). */
  def layerMetrics(r: Runner): Map[String, Double] = Map.empty
  /** Workload-specific figures under their own names, for the `#` lines. */
  def report(r: Runner): Seq[String] = Nil
  def cleanup(): Unit = ()
}

/** Ends the measured loop (time is up). */
final class StopLoop extends RuntimeException(null, null, false, false)
/** Abandons the rest of a cycle after a failed operation. */
final class CycleAbort extends RuntimeException(null, null, false, false)

/**
 * One closed-loop client: runs each operation to completion, times it,
 * then checks its result outside the timed interval. A failed operation
 * (exception or wrong result) is logged with its name and cause, counted,
 * left out of every latency, and ends its cycle.
 */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  val recs = ArrayBuffer[OpRec]()
  private var nextOp = 0
  private var cycleNo = -1
  private var opInCycle = 0
  private var measuring = false
  private var tracedRun = false
  private var hardStop = Long.MaxValue
  /** Extra checks outside operations (layer probe): (attempted, failed). */
  var extraAttempted = 0
  var extraFailed = 0

  def op[A](name: String, kind: String, items: Long = 0L)(body: => A)(
      check: A => Option[String] = (_: A) => None): A = {
    if (measuring && System.nanoTime() >= hardStop) throw new StopLoop
    // a traced run traces every other operation, flipping each cycle, so
    // each operation has traced and untraced samples from the same cycles
    tracer.setTracing(tracedRun && (opInCycle + cycleNo) % 2 == 1)
    opInCycle += 1
    val id = nextOp
    nextOp += 1
    tracer.beginOp(id)
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(name, "bench")(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    tracer.endOp()
    val traced = tracer.tracing
    tracer.setTracing(false)
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    recs += OpRec(id, cycleNo, name, kind, (t1 - t0) / 1e9, err.isEmpty, items, measuring, traced)
    err.foreach { msg =>
      System.err.println(s"FAILED op=$name cycle=$cycleNo: $msg")
      res.left.foreach(_.printStackTrace())
      throw new CycleAbort
    }
    res.toOption.get
  }

  /** Materialize every column of `df` through the no-op sink. */
  def noop(df: DataFrame): Unit =
    tracer.span("execute", "driver")(df.write.format("noop").mode("overwrite").save())

  def span[A](name: String, layer: String)(body: => A): A = tracer.span(name, layer)(body)

  /** Cycles completed without a failure. */
  val completed = ArrayBuffer[Int]()

  private def runCycle(w: Workload): Unit = {
    cycleNo += 1
    opInCycle = 0
    try { w.cycle(this, cycleNo); completed += cycleNo }
    catch { case _: CycleAbort => () }
  }

  def warmup(w: Workload): Unit = (1 to w.warmupCycles).foreach(_ => runCycle(w))

  /** Closed loop of whole cycles until `seconds` have passed, so every run
    * times the same mix of operations. A traced run runs at least two
    * cycles, so every operation has a traced and an untraced sample. Past
    * three times `seconds` the loop stops even mid-cycle. */
  def measure(w: Workload, seconds: Int, traced: Boolean): Double = {
    measuring = true
    tracedRun = traced
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    hardStop = t0 + 3L * seconds * 1000000000L
    val start = completed.length
    try {
      while (true) {
        runCycle(w)
        val now = System.nanoTime()
        if (now >= hardStop || (now >= deadline && !(traced && completed.length - start < 2)))
          throw new StopLoop
      }
    } catch { case _: StopLoop => () }
    measuring = false
    tracedRun = false
    (System.nanoTime() - t0) / 1e9
  }

  /** Ok measured operations that were traced. */
  def tracedOps: Seq[OpRec] = okMeasured.filter(_.traced)

  /** Mean over traced operations of a Spark counter. */
  def perOp(f: OpCounters => Double): Double = {
    val ops = tracedOps
    ops.map(o => tracer.counters.get(o.id).map(f).getOrElse(0.0)).sum / math.max(1, ops.length)
  }

  def measured: Seq[OpRec] = recs.filter(_.measured).toSeq
  def okMeasured: Seq[OpRec] = measured.filter(_.ok)
  def attempted: Int = recs.length + extraAttempted
  def failed: Int = recs.count(!_.ok) + extraFailed
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean; NaN when empty. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  /** Compare two keyed result sets: longs exactly, doubles to 1e-9
    * relative. None when they agree, else what differs. */
  def sameResults(what: String, got: Map[Seq[String], Seq[Any]],
                  want: Map[Seq[String], Seq[Any]]): Option[String] = {
    def close(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => a == b
    }
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    if (missing.nonEmpty || extra.nonEmpty)
      Some(s"$what: ${missing.size} result rows missing (e.g. ${missing.take(2).mkString(",")}), " +
        s"${extra.size} unexpected (e.g. ${extra.take(2).mkString(",")})")
    else want.collectFirst {
      case (k, w) if w.length != got(k).length || w.zip(got(k)).exists { case (a, b) => !close(a, b) } =>
        s"$what: row $k = ${got(k).mkString("[", ",", "]")}, expected ${w.mkString("[", ",", "]")}"
    }
  }

  /** Rows of `df` keyed by its first `nKeys` columns (rendered as strings);
    * integral values come back as Long, fractional as Double. */
  def keyed(df: DataFrame, nKeys: Int): Map[Seq[String], Seq[Any]] =
    df.collect().map { r =>
      val vals = (nKeys until r.length).map(i => r.get(i) match {
        case x: java.lang.Long => x.longValue(): Any
        case x: java.lang.Integer => x.longValue(): Any
        case x: java.lang.Double => x.doubleValue(): Any
        case x => x
      })
      (0 until nKeys).map(i => String.valueOf(r.get(i))) -> vals
    }.toMap
}
