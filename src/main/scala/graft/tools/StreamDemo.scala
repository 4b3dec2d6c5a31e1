package graft.tools

import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._

/**
 * End-to-end streaming ingest demo: rate source → synthetic series →
 * watermarked gorilla chunking → partitioned parquet sink → read back
 * and decode. Usage: runMain graft.tools.StreamDemo /tmp/out
 */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_stream_demo")
    val spark = graft.LocalSession.start("graft-stream-demo")

    // 200 events/sec, 4 series, event time compressed so windows close fast
    val events = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "500")
      .option("startTimestamp", "1700000000000")
      .option("advanceMillisPerBatch", "600000") // 10 min of event time per batch
      .load()
      .select(
        concat(lit("host"), pmod(col("value"), lit(4))).as("series"),
        col("timestamp").as("ts"),
        (pmod(col("value"), lit(100)) / 10.0).as("v"))

    val q = StreamIngest.writeChunks(
      StreamIngest.chunkStream(events, Seq("series"), "ts", "v",
        windowDuration = "30 minutes", watermark = "1 minute"),
      s"$out/chunks", s"$out/ckpt").start()
    // run enough batches for several windows to close, then stop —
    // processAllAvailable() would never drain an unbounded rate source
    Thread.sleep(15000)
    q.stop()
    q.awaitTermination()

    val chunks = spark.read.parquet(s"$out/chunks")
    val n = chunks.count()
    val points = chunks.select(col("series"), col("window_date"),
        explode(graft.functions.gorilla_decode(col("chunk"))).as("p"))
      .select("series", "p.ts", "p.v")
    println(s"STREAMDEMO chunks=$n points=${points.count()} " +
      s"series=${chunks.select("series").distinct().count()} " +
      s"partitions=${chunks.select("window_date").distinct().count()}")
    val ok = chunks.select(sum("n")).first().getLong(0) == points.count()
    println(s"STREAMDEMO decode_consistent=$ok")
    spark.stop()
  }
}
