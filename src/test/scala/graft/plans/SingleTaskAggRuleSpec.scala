package graft.plans

import graft.SparkTestSession
import graft.tsdb.{Promql, Ts}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SingleTaskAggRule]]: a query whose aggregate input is one file
  * partition runs as one job with no shuffle, and returns what the same
  * query returns over a multi-partition read; plans where a de-shuffled
  * child would meet a sibling (union, sort-merge join) and exchanges
  * the user asked for keep their shuffles. */
class SingleTaskAggRuleSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  private val labels = Seq("type", "host", "region")
  private val T0 = 1709251200L // 2024-03-01T00:00Z: every chunk on one date

  /** 12 series (cpu/req × 6 hosts, 3 regions) × 8 h at 60 s, written as
    * one store file. */
  private lazy val storePath = {
    val pts = spark.range(0, 12 * 480).select(
        (col("id") % 12).as("i"), (col("id") / 12).cast("long").as("k"))
      .select(
        when(col("i") % 2 === 0, "cpu").otherwise("req").as("type"),
        concat(lit("h"), (col("i") / 2).cast("int").cast("string")).as("host"),
        concat(lit("r"), (col("i") % 3).cast("string")).as("region"),
        timestamp_seconds(lit(T0) + col("k") * 60).as("ts"),
        ((col("i") * 7 + col("k") % 13) / 4.0).as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft-single-task").toString
    Ts.writeStore(Ts.chunkify(pts, labels, "ts", "v"), path)
    path
  }
  private def chunks = Ts.readStore(spark, storePath)

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }

  /** (sorted rows, Spark jobs) of one collect. */
  private def run(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      org.apache.spark.SpecBus.drain(sc)
      (rows.sortBy(_.toString), jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("the fixture store is one file") {
    assert(chunks.inputFiles.length == 1)
  }

  private val EvalTs = T0 + 6 * 3600 - 1
  private val oneFileQueries: Seq[(String, () => DataFrame)] = Seq(
    "Ts.rangeAgg" -> (() => Ts.rangeAgg(chunks, labels, T0 + 1000, T0 + 5 * 3600 + 17)),
    "instant sum by (region)" -> (() => Promql.eval(chunks, labels,
      "sum by (region) (sum_over_time(req[2h]))", EvalTs)),
    "stepped evalRange" -> (() => Promql.evalRange(chunks, labels,
      "max_over_time(cpu[10m])", T0 + 3600, T0 + 3 * 3600, 600)),
    "keyless global aggregate" -> (() => chunks.filter(col("type") === "cpu")
      .agg(sum("n").as("n"), max("max_v").as("mx"))))

  for ((name, q) <- oneFileQueries) test(s"$name over one file: no shuffle, one job, same rows") {
    val df = q()
    val (rows, jobs) = run(df)
    assert(shuffles(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(jobs == 1, s"jobs: $jobs")
    assert(rows.nonEmpty)
    val split = withConf("spark.sql.files.maxPartitionBytes" -> "1k") {
      val m = q()
      val got = run(m)._1
      assert(shuffles(m).nonEmpty, "a multi-partition read keeps its exchanges")
      got
    }
    assert(rows == split)
  }

  test("a union of one-file aggregates under an aggregate keeps its exchanges") {
    def bySum(t: String) = chunks.filter(col("type") === t)
      .groupBy("region").agg(sum("n").as("n"))
    val df = bySum("cpu").union(bySum("req")).groupBy("region").agg(sum("n").as("n"))
    val (rows, _) = run(df)
    assert(rows == Seq(Row("r0", 1920L), Row("r1", 1920L), Row("r2", 1920L)))
    assert(shuffles(df).count(_.shuffleOrigin == ENSURE_REQUIREMENTS) >= 2,
      df.queryExecution.executedPlan.toString)
  }

  test("a sort-merge join of a one-file aggregate with a multi-file side keeps its exchanges") {
    val other = java.nio.file.Files.createTempDirectory("graft-single-task-smj").toString
    spark.range(0, 30, 1, 3).select(
        concat(lit("r"), (col("id") % 3).cast("string")).as("region"), col("id"))
      .write.mode("overwrite").parquet(other)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val agg = chunks.groupBy("region").agg(sum("n").as("n"))
      val multi = spark.read.parquet(other)
      assert(multi.inputFiles.length == 3)
      val df = agg.join(multi, "region").groupBy("region", "n").agg(count(lit(1)).as("c"))
      val (rows, _) = run(df)
      assert(rows == Seq(Row("r0", 1920L, 10L), Row("r1", 1920L, 10L), Row("r2", 1920L, 10L)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(shuffles(df).count(_.shuffleOrigin == ENSURE_REQUIREMENTS) >= 2, plan)
    }
  }

  test("a user repartition and writeStore's rebalance stay untouched") {
    val df = chunks.repartition(4, col("region")).groupBy("region").agg(sum("n").as("n"))
    run(df)
    assert(shuffles(df).map(_.shuffleOrigin.toString) == Seq("REPARTITION_BY_NUM"),
      df.queryExecution.executedPlan.toString)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-single-task-w").toString
      Ts.writeStore(chunks, out)
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val origins = plans.asScala.toSeq.flatMap(p =>
      collectWithSubqueries(p) { case e: ShuffleExchangeLike => e.shuffleOrigin.toString })
    assert(origins.contains("REBALANCE_PARTITIONS_BY_COL"), plans.asScala.mkString("\n"))
  }
}
