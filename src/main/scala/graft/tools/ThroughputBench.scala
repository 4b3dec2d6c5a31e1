package graft.tools

import graft.tsdb.Ts
import org.apache.spark.sql.functions._

/**
 * Dense-series throughput benchmark: the reference's workload shape
 * (regular 1 Hz points, slowly-moving values) at millions of points,
 * measuring encode (chunkify), compressed-domain aggregate, and
 * range-query decode rates. Usage:
 *   runMain graft.tools.ThroughputBench [nSeries] [pointsPerSeries]
 */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val nSeries = args.headOption.map(_.toInt).getOrElse(64)
    val perSeries = args.drop(1).headOption.map(_.toInt).getOrElse(86400) // 1 day @ 1Hz
    val spark = graft.LocalSession.start("graft-throughput-bench")

    val base = 1700000000L / 7200 * 7200
    val n = nSeries.toLong * perSeries
    // deterministic synthetic: sine-ish walk on a cent grid
    val points = spark.range(n)
      .select(
        concat(lit("s"), (col("id") % nSeries)).as("series"),
        to_timestamp(lit(base) + (col("id") / nSeries)).as("ts"),
        (round(sin(col("id") / lit(300.0)) * 500) / 100.0 + 20.0).as("v"))

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"THROUGHPUT $label%-16s ${dt}%8.2f s  ${n / dt / 1e6}%8.2f Mpts/s")
      r
    }

    // warm up codegen/JIT on a small slice so the timed runs measure
    // steady-state throughput (what a long-running cluster job sees),
    // not one-time compiler costs
    Ts.writeStore(Ts.chunkify(points.limit(100000), Seq("series"), "ts", "v"),
      java.nio.file.Files.createTempDirectory("graft-tp-warm").toString)

    val chunkPath = java.nio.file.Files.createTempDirectory("graft-tp").toString
    timed("encode+write") {
      Ts.writeStore(Ts.chunkify(points, Seq("series"), "ts", "v"), chunkPath)
    }
    val chunks = spark.read.parquet(chunkPath)
    val stats = Ts.compressionStats(chunks, Seq("series"))
      .agg(sum("chunk_bytes").as("cb"), sum("raw_bytes").as("rb"),
        sum("n_points").as("np")).first()
    println(s"THROUGHPUT points=${stats.getAs[Long]("np")} " +
      f"ratio=${stats.getAs[Long]("cb") * 100.0 / stats.getAs[Long]("rb")}%.2f%%")
    timed("compressed-agg") {
      chunks.select(graft.functions.gorilla_chunk_agg(col("chunk")).as("a"))
        .agg(sum("a.n"), min("a.min_v"), max("a.max_v"), sum("a.sum_v")).collect()
    }
    timed("decode-scan") {
      Ts.unpack(chunks, Seq("series")).agg(count(lit(1)), sum("v")).collect()
    }
    timed("range-query") {
      Ts.rangeQuery(chunks, Seq("series"), base + 3600, base + 7200)
        .agg(count(lit(1))).collect()
    }
    spark.stop()
  }
}
