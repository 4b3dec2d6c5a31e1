package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, warm across suites). */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.start("graft-test", cpus = 4)
}
