package graft.tools

import graft.tsdb.Ts
import org.apache.spark.sql.functions._

/**
 * Spark re-expression of the reference's end-to-end example
 * (reference: examples/csv_to_packed.rs): read a (timestamp, value)
 * CSV, compress into gorilla chunks, run the example's queries both
 * over the compressed stream and the raw rows, and report the
 * compression ratio.
 *
 * Usage: runMain graft.tools.CsvToPacked [csvPath]
 */
object CsvToPacked {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/reference/examples/test_data.csv")
    val spark = graft.LocalSession.start("graft-csv-to-packed")

    val raw = spark.read
      .schema("timestamp LONG, value DOUBLE")
      .csv(path)
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("series", lit("csv"))

    val chunks = Ts.chunkify(raw, Seq("series"), "ts", "value")

    // the example's queries, over the compressed chunks only
    val agg = chunks
      .select(graft.functions.gorilla_chunk_agg(col("chunk")).as("a"),
        length(col("chunk")).as("bytes"), col("n"))
      .agg(sum("a.n").as("samples"), min("a.min_v").as("min"),
        max("a.max_v").as("max"), sum("a.sum_v").as("sum"),
        max("a.max_ts").as("max_ts"), sum("bytes").as("bytes_compressed"))
      .first()

    val samples = agg.getAs[Long]("samples")
    val bytesRaw = samples * 16
    val bytesCompressed = agg.getAs[Long]("bytes_compressed")
    println(f"Max: ${agg.getAs[Double]("max")}")
    println(f"Min: ${agg.getAs[Double]("min")}")
    println(s"Samples: $samples")
    println(s"Average: ${agg.getAs[Double]("sum") / samples}")
    println(s"Max timestamp: ${agg.getAs[Long]("max_ts")}")
    println(s"Bytes consumed             $bytesCompressed")
    println(s"Bytes consumed uncompressed $bytesRaw")
    println(f"Compression ratio          ${100.0 * bytesCompressed / bytesRaw}%.2f%%")
    spark.stop()
  }
}
