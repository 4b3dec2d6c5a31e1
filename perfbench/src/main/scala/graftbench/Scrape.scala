package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A seeded set of Prometheus-like scrape series, held twice: as Spark
  * rows (the program's input) and as driver-side arrays (ground truth). */
final class Scrape(spark: SparkSession, seed: Long, hosts: Int, t0: Long, steps: Int,
                   parts: Int) {
  val series: Array[Gen.Series] = Gen.series(seed, hosts)
  /** (epoch seconds, cents) per series, index-aligned with `series`. */
  val points: Array[(Array[Long], Array[Long])] =
    series.map(s => Gen.points(seed, s, t0, steps))
  val nPoints: Long = points.map(_._1.length.toLong).sum

  /** All raw points, generated in Spark tasks (see [[Scrape.points]]). */
  def frame(): DataFrame = {
    val (sd, h, t, n) = (seed, hosts, t0, steps)
    val rows = spark.sparkContext.parallelize(series.indices, parts).flatMap { i =>
      val s = Gen.series(sd, h)(i)
      val (ts, cs) = Gen.points(sd, s, t, n)
      ts.indices.iterator.map(j => Row(s.typ, s.host, s.region, ts(j), cs(j)))
    }
    Scrape.points(spark, rows)
  }

  /** Points as (type, host, region, sec, cents) rows, typed like `frame`. */
  def rowsOf(pts: Seq[(Int, Long, Long)]): Seq[Row] = pts.map { case (i, sec, c) =>
    Row(series(i).typ, series(i).host, series(i).region, sec, c)
  }

  /** Per-series (n, Σcents, min v, max v) over the points `keep` accepts
    * plus the `extra` points: the ground truth for chunk-header checks. */
  def truth(keep: Long => Boolean,
            extra: Seq[(Int, Long, Long)] = Nil): Map[Seq[String], Seq[Any]] = {
    val acc = Array.fill(series.length)(Array(0L, 0L, Long.MaxValue, Long.MinValue))
    def add(i: Int, c: Long): Unit = {
      val a = acc(i)
      a(0) += 1; a(1) += c; a(2) = math.min(a(2), c); a(3) = math.max(a(3), c)
    }
    points.indices.foreach { i =>
      val (ts, cs) = points(i)
      var j = 0
      while (j < ts.length) { if (keep(ts(j))) add(i, cs(j)); j += 1 }
    }
    extra.foreach { case (i, _, c) => add(i, c) }
    series.indices.filter(acc(_)(0) > 0).map { i =>
      val s = series(i)
      val a = acc(i)
      Seq(s.typ, s.host, s.region) -> Seq[Any](a(0), a(1), a(2) / 100.0, a(3) / 100.0)
    }.toMap
  }
}

object Scrape {
  val Labels: Seq[String] = Seq("type", "host", "region")

  private val RawSchema = StructType(Seq(
    StructField("type", StringType), StructField("host", StringType),
    StructField("region", StringType), StructField("sec", LongType),
    StructField("cents", LongType)))

  /** Raw points as the program's input: type, host, region, ts
    * (timestamp), v (double), plus the exact `sec` and `cents` the ground
    * truth works in. */
  def points(spark: SparkSession, rows: RDD[Row]): DataFrame =
    spark.createDataFrame(rows, RawSchema)
      .select(col("type"), col("host"), col("region"),
        timestamp_seconds(col("sec")).as("ts"), (col("cents") / 100.0).as("v"),
        col("sec"), col("cents"))

  /** The same four numbers read from a store's chunk headers. */
  def headerStats(spark: SparkSession, path: String): Map[Seq[String], Seq[Any]] =
    Stats.keyed(spark.read.parquet(path).groupBy(Labels.map(col): _*)
      .agg(sum("n"), sum("sum_cents"), min("min_v"), max("max_v")), Labels.length)

  /** Order-free fingerprint of a point multiset (labels, sec, cents):
    * per series count, Σcents, Σsec and Σ of a 32-bit point hash. */
  def fingerprint(points: DataFrame): Map[Seq[String], Seq[Any]] =
    Stats.keyed(points.groupBy(Labels.map(col): _*)
      .agg(count(lit(1)), sum("cents"), sum("sec"),
        sum(xxhash64(col("sec"), col("cents")).bitwiseAND(0xFFFFFFFFL))), Labels.length)
}
