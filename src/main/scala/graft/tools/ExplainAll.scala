package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/**
 * Dump the formatted physical plan of every registered query to a
 * markdown file — the artifact for reviewing shuffle counts, pushdown,
 * and codegen coverage across the whole surface. Masking expression
 * ids (`#123`), `plan_id=` values and JVM identity hashes (`@1a2b3c`,
 * `Lambda$12/0x…`) is enough to diff two dumps.
 * Usage: runMain graft.tools.ExplainAll [sfDir] [outFile]
 */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_plans.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // print DataFilters/PushedFilters whole: a cut string moves with
      // the digits of the expression ids, so two dumps would differ
      // beyond their ids
      .config("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder("# graft query plans\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange") ) +
        plan.linesIterator.count(_.trim.startsWith("Exchange"))
      sb.append(s"\n## $name  (exchanges: $exchanges)\n```\n$plan```\n")
      println(f"$name%-24s exchanges=$exchanges")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}
