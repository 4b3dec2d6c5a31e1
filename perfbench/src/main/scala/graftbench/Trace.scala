package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Spans of one operation share `op`;
  * `parent` is -1 for an operation's root span. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startNs: Long, endNs: Long)

/** Spark-side work credited to one operation. */
final class OpCounters {
  var jobs = 0
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var optimizeMs = 0L
  var physicalMs = 0L
  var graftRuleNs = 0L
  var graftRuleHits = 0L
  var rewrites = 0L
  var storeFiles = 0L
  var storeBytes = 0L
  var storeChunks = 0L
}

/**
 * In-memory tracer. Driver-side spans come from [[span]] calls placed
 * around each call into a graft layer; Spark jobs, stages and planning
 * phases come from a SparkListener and a QueryExecutionListener that are
 * registered only while tracing is on. Between operations the listener bus
 * is drained, so every event lands on the operation that caused it.
 */
final class Tracer(spark: SparkSession, storeRoot: () => Option[String]) {
  private var on = false
  private var curOp = -1
  private var nextSpan = 0
  private val stack = mutable.Stack[Int]()
  val spans = ArrayBuffer[Span]()
  /** Spans reported by Spark (jobs, stages, planning phases), placed under
    * the driver span that contains them when the run ends. Times in ms. */
  private val sparkSpans = ArrayBuffer[(Int, String, String, Long, Long, Int)]() // op, name, layer, startMs, endMs, jobId
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, (Int, Long)]()
  val counters = mutable.HashMap[Int, OpCounters]()

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  def tracing: Boolean = on

  def setTracing(enable: Boolean): Unit = if (enable != on) {
    drain()
    if (enable) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    on = enable
  }

  private def drain(): Unit = BenchBus.drain(spark.sparkContext)

  private def counter(op: Int): Option[OpCounters] =
    if (op < 0) None else Some(counters.getOrElseUpdate(op, new OpCounters))

  def beginOp(op: Int): Unit = if (on) { drain(); synchronized { curOp = op } }
  def endOp(): Unit = if (on) { drain(); synchronized { curOp = -1 } }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, synchronized(curOp), name, layer, t0, System.nanoTime())
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (curOp >= 0) {
        jobStart(e.jobId) = (curOp, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        counter(curOp).foreach(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        sparkSpans += ((op, s"job ${e.jobId}", "spark", t0, e.time, e.jobId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      for (job <- stageToJob.get(info.stageId); (op, _) <- jobStart.get(job);
           t0 <- info.submissionTime; t1 <- info.completionTime)
        sparkSpans += ((op, s"stage ${info.stageId}", "spark", t0, t1, job))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) counter(curOp).foreach { c =>
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        counter(curOp).foreach { c =>
          val op = curOp
          val phases = qe.tracker.phases
          Seq("optimization" -> "optimize", "planning" -> "physical").foreach { case (k, name) =>
            phases.get(k).foreach { p =>
              if (name == "optimize") c.optimizeMs += p.durationMs else c.physicalMs += p.durationMs
              sparkSpans += ((op, name, "plans", p.startTimeMs, p.endTimeMs, -1))
            }
          }
          qe.tracker.rules.foreach { case (rule, s) =>
            if (rule.startsWith("graft.")) {
              c.graftRuleNs += s.totalTimeNs
              c.graftRuleHits += s.numEffectiveInvocations
            }
          }
          c.rewrites += Tracer.rewrites(qe)
          storeRoot().foreach { root =>
            collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
              .filter(_.relation.location.rootPaths.exists(_.toString.contains(root)))
              .foreach { s =>
                def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
                c.storeFiles += metric("numFiles")
                c.storeBytes += metric("filesSize")
                c.storeChunks += metric("numOutputRows")
              }
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Spark-reported spans placed in the span tree: a job under the deepest
    * driver span of its operation that contains its start, a stage under
    * its job, a planning phase under the deepest driver span holding it. */
  def allSpans(): Seq[Span] = synchronized {
    val out = ArrayBuffer[Span]() ++ spans
    var next = nextSpan
    val byOp = spans.groupBy(_.op)
    val jobSpan = mutable.HashMap[Int, Int]()
    def deepest(op: Int, t: Long): Int = {
      val slack = 1000000L // Spark event times have ms resolution
      byOp.getOrElse(op, Nil)
        .filter(s => s.startNs - slack <= t && t <= s.endNs + slack)
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(-1)
    }
    // jobs and planning phases first, so stages find their job's span
    val (stages, rest) = sparkSpans.partition(_._2.startsWith("stage"))
    for ((op, name, layer, t0, t1, job) <- rest) {
      val s = Span(next, deepest(op, msToNs(t0)), op, name, layer, msToNs(t0), msToNs(t1))
      if (name.startsWith("job")) jobSpan(job) = next
      out += s
      next += 1
    }
    for ((op, name, layer, t0, t1, job) <- stages) {
      out += Span(next, jobSpan.getOrElse(job, deepest(op, msToNs(t0))), op, name, layer,
        msToNs(t0), msToNs(t1))
      next += 1
    }
    out.toSeq
  }
}

object Tracer {
  private val Kernels = Set("gorilla_chunk_agg", "gorilla_chunk_agg_range",
    "gorilla_chunk_bucket_agg")
  private val StatCols = Set("min_ts", "max_ts", "min_v", "max_v")

  /** Compressed-domain shapes in the optimized plan: chunk aggregate
    * kernels plus filters on chunk-header stat columns. */
  def rewrites(qe: QueryExecution): Long = {
    var n = 0L
    qe.optimizedPlan.foreach { p =>
      p.expressions.foreach(_.foreach {
        case e: Expression if Kernels.contains(e.prettyName) => n += 1
        case _ =>
      })
      p match {
        case f: Filter if f.condition.references.exists((a: Attribute) => StatCols.contains(a.name)) =>
          n += 1
        case _ =>
      }
    }
    n
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (a, b) = (Long.MinValue, Long.MinValue)
      cs.foreach { case (x, y) =>
        if (x > b) { if (b > a) covered += b - a; a = x; b = y } else b = math.max(b, y)
      }
      if (b > a) covered += b - a
      out(s.layer) += math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }
    out.toMap
  }

  /** Wall time of the interval [t0, t1] covered by none of `busy`. */
  def uncovered(t0: Long, t1: Long, busy: Seq[(Long, Long)]): Long = {
    var free = 0L
    var cursor = t0
    busy.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > cursor) free += a - cursor
        cursor = math.max(cursor, b)
      }
    free + math.max(0L, t1 - cursor)
  }
}
