package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains and specs build a local Spark session. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS` when set, else every core of this host. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with as many shuffle partitions as cores,
    * no UI, graft's SQL extensions, Parquet nanosecond timestamps read
    * as longs, UTC session time and WARN logging. `conf` adds or
    * overrides settings for the callers that need more. */
  def start(appName: String, cpus: Int = defaultCpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC")
    val spark = (base ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]").appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
