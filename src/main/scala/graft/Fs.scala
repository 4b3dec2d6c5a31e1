package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Directory-tree operations through the Hadoop FileSystem API, so a
  * path works on any filesystem Spark reads, not only local disk. */
object Fs {
  /** Delete `path` and everything under it; a missing path is a no-op. */
  def rm(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Move `from` to `to`, replacing whatever `to` held; raises when the
    * filesystem refuses the rename. */
  def replace(spark: SparkSession, from: String, to: String): Unit = {
    val dst = new Path(to)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dst, true)
    if (!fs.rename(new Path(from), dst))
      throw new java.io.IOException(s"could not rename $from to $to")
  }
}
