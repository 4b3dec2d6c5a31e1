package graft.tools

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/**
 * Probe-budget sweep for the stored-LSH ANN paths (r8 verdict "Next
 * round" #3; r9 #2 asked for the committed curve): for each
 * (probes, probes2Tables) config, measure wall latency and recall@5
 * vs brute force on the 10-query benchmark for BOTH query shapes —
 * the per-query SERVING path (`annTopKStoredFor`, sim_ann_lsh) and
 * the all-corpus self-JOIN (`annTopKStored`, sim_ann_lsh_join).
 * Writes the curve to LSH_TUNE.json — the data behind the tuned
 * defaults in OpsQueries.
 *
 * Usage: LshTune [sfDir [outJson]]
 */
object LshTune {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "LSH_TUNE.json"
    val spark = graft.LocalSession.start("graft-lsh-tune")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 10)
    val idx = graft.queries.OpsQueries.storeModels(spark, dir)
    val truth = Similarity.bruteTopK(qs, emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val configs = Seq((1, 0), (2, 2), (2, 4), (2, 5), (2, 6), (2, Int.MaxValue))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((probes, t2) <- configs) {
      def run(shape: String): (Double, Set[(Long, Long)]) = {
        val df = shape match {
          case "join" => Similarity.annTopKStored(idx, emb, "vec_id", "embedding",
            k = 5, probes = probes, probes2Tables = t2)
          case _ => Similarity.annTopKStoredFor(idx, emb, qs, "vec_id", "embedding",
            k = 5, probes = probes, probes2Tables = t2)
        }
        val t0 = System.nanoTime()
        val rows = df.orderBy("q_id", "rank").select("q_id", "n_id").collect()
        ((System.nanoTime() - t0) / 1e9,
          rows.filter(_.getLong(0) < 10).map(r => (r.getLong(0), r.getLong(1))).toSet)
      }
      for (shape <- Seq("serve", "join")) {
        run(shape) // warm
        val (sec, got) = run(shape)
        val (sec2, _) = run(shape)
        val recallBp = 10000L * truth.intersect(got).size / truth.size
        val t2s = if (t2 == Int.MaxValue) "all" else t2.toString
        println(f"[lshtune] shape=$shape probes=$probes t2=$t2s%-3s " +
          f"sec=${math.min(sec, sec2)}%.2f recall_bp=$recallBp")
        lines += s"""{"shape": "$shape", "probes": $probes, "t2": "$t2s", """ +
          f"""\"sec\": ${math.min(sec, sec2)}%.3f, \"recall_bp\": $recallBp}"""
      }
    }
    val json = s"""{"sf": "$dir", "k": 5, "n_queries": 10,\n "curve": [\n  """ +
      lines.mkString(",\n  ") + "\n ]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[lshtune] wrote $out")
    spark.stop()
  }
}
