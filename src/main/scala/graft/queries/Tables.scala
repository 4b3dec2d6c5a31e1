package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver-generated TPC-H-ish test data. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Bucket count sized to the table: one bucket per ~64 MB of input,
    * clamped to [8, 1024]. Join partners must agree on the count, so
    * derive it from the LARGER table of a join pair (or pass an
    * explicit count to both) — at 100 TB a fixed tiny count would make
    * each bucket file unmanageably large, a fixed huge count would
    * drown small tables in empty files. */
  def defaultBuckets(dir: String, name: String): Int = {
    val src = new java.io.File(s"$dir/$name.parquet")
    val files = if (src.isDirectory) src.listFiles().toSeq else Seq(src)
    val bytes = files.filter(_.isFile).map(_.length()).sum
    math.min(1024, math.max(8, (bytes / (64L << 20) + 1).toInt))
  }

  /**
   * The table written bucketed (+ sorted) by `key` into `buckets`
   * buckets (0 = size-derived via [[defaultBuckets]]) — the
   * co-located-join layout: two tables bucketed the same way join
   * WITHOUT a shuffle (and, sorted, without a sort), which at 100 TB
   * removes the single largest exchange in the relational layer.
   * Written once per (dir, table, bucket count) per JVM — the catalog
   * name carries a dir hash and the count, so the same session can
   * hold the same table bucketed from two data dirs or at two widths
   * without silently aliasing them. The catalog entry is
   * session-scoped (in-memory catalog) and the write runs under this
   * object's lock, so concurrent sessions of one JVM keep the
   * one-file-per-bucket invariant (each (dir, count) pair writes its
   * own path exactly once).
   */
  def bucketed(spark: SparkSession, dir: String, name: String,
               key: String, buckets: Int = 0): DataFrame = synchronized {
    val nb = if (buckets > 0) buckets else defaultBuckets(dir, name)
    val dirTag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
    val table = s"graft_${name}_${dirTag}_${nb}b"
    if (!spark.catalog.tableExists(table)) {
      val path = s"/tmp/graft_bucketed/$dirTag/${name}_$nb"
      // pre-partition on the bucket hash (same Murmur3 family) so each
      // task holds exactly one bucket => ONE file per bucket, which is
      // what lets the scan also honor sortBy (multi-file buckets force
      // a sort back in)
      apply(spark, dir, name)
        .repartition(nb, org.apache.spark.sql.functions.col(key))
        .write
        .mode("overwrite")
        .bucketBy(nb, key).sortBy(key)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    }
    spark.table(table)
  }
}
