package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated key filter for fast local
    // iteration on a few queries (the driver always runs all)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, c) => (a, b, c.split(",").toSet)
    }
    val spark = LocalSession.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query boundary: drop query-scoped persisted intermediates
      // (LSH candidate caches etc.) so a 162-query session doesn't
      // accumulate blocks — see graft.ops.CacheScope
      graft.ops.CacheScope.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a filtered run writes only its own keys' SQL, so the DuckDB check
    // compares exactly the keys that ran
    val oracle =
      if (only.isEmpty) SparkEntry.oracleSql else SparkEntry.oracleSql.filter(kv => only(kv._1))
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // publish the measured recall numbers (quality_recall's rows) as a
    // per-round repo artifact next to the CORRECTNESS/BENCH files —
    // the gate query pins thresholds, this file carries the values
    try {
      val rows = spark.read.parquet(s"$outDir/quality_recall")
        .orderBy("op").collect()
      val recallJson = rows.map { r =>
        s"${q(r.getString(0))}: {\"n_true\": ${r.getLong(1)}, \"n_found\": ${r.getLong(2)}, " +
          s"\"n_matched\": ${r.getLong(3)}, \"recall_bp\": ${r.getLong(4)}}"
      }.mkString("{\n", ",\n", "\n}")
      Files.writeString(Paths.get(s"$outDir/recall.json"), recallJson)
      Files.writeString(Paths.get("RECALL.json"), recallJson)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] recall artifact failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
