package graft.tools

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/**
 * Recall gate at SCALE GEOMETRY (r9 verdict "Next round" #5): the
 * per-round RECALL.json pins sf0.01, where the stored LSH geometry is
 * near the 10-bit default — but the store is corpus-ADAPTIVE (bits
 * grow with log2 n so bucket occupancy stays bounded), so a recall
 * regression that only manifests at adaptive geometry (e.g. a probe
 * budget that stops covering the wider signatures) would be invisible
 * to the sf0.01 gate. This tool measures recall@5 of every stored-ANN
 * path against brute force ON THE 2M-VECTOR ScaleGen corpus, through
 * the SAME persisted-store path the queries use
 * (`OpsQueries.storeModels` — train/encode once per corpus
 * fingerprint), gates each row against a pinned floor, and writes
 * RECALL_SCALE.json. A recall below floor prints pass=false (red) and
 * exits 1, so any harness running the tool fails loudly.
 *
 * The gate already earned its keep twice in round 10:
 *
 *  1. Its first run (fixed rerank depth k·24) measured PQ 220 bp,
 *     IVF-PQ 260, residual 100, SQ8 760 at 2M vectors — quantized
 *     scores cannot rank within an ~8k-member planted cluster and
 *     the fixed depth captured almost none of the exact top-k.
 *     Fixed by corpus-adaptive rerank depth
 *     (`Similarity.rerankDepth`; the index records its corpus size).
 *  2. The same run exposed IVF latency (70-165 s per 100 queries):
 *     the fixed nlist=16 left 125k-vector lists, so nprobe=8 scanned
 *     HALF the corpus. Fixed by corpus-adaptive nlist (lists held at
 *     ~8k vectors) plus the packed-codes `adc_score` kernel scan.
 *
 * Final measured 2026-08-14 at 2M vectors (floors in the map sit
 * under these with deliberate margin; corpus and models are
 * deterministic per config): lsh full-budget 8340 (3.7 s), lsh t2=6
 * 8160 (the join default's budget at adaptive 16-bit geometry), ivf
 * 10000 (7.7 s, was 70-165), pq 8860 (42.7 s full ADC scan, was
 * 280), ivfpq 8860 (4.2 s, was 98), ivfpq_res 9060 (4.7 s), sq8 9520
 * (35.5 s full scan), ivfsq8 9520 (4.2 s, was 23).
 *
 * Usage: RecallScale [scaleDir [outJson]]
 */
object RecallScale {
  val floors: Map[String, Long] = Map(
    "sim_ann_lsh" -> 8000L,
    "sim_ann_lsh_t2_6" -> 7500L,
    "sim_ann_ivf" -> 8500L,
    "sim_ann_pq" -> 7000L,
    "sim_ann_ivfpq" -> 6500L,
    "sim_ann_ivfpq_res" -> 6500L,
    "sim_ann_sq8" -> 9000L,
    "sim_ann_ivfsq8" -> 8500L)

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_scale"
    val out = if (args.length > 1) args(1) else "RECALL_SCALE.json"
    val spark = graft.LocalSession.start("graft-recall-scale",
      conf = Map("spark.driver.maxResultSize" -> "4g"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nVec = emb.count()
    val idx = graft.queries.OpsQueries.storeModels(spark, dir)
    val q = emb.filter(col("vec_id") < 100)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteTopK(q, emb, "vec_id", "embedding", 5))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "sim_ann_lsh" -> (() =>
        Similarity.annTopKStoredFor(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_lsh_t2_6" -> (() =>
        Similarity.annTopKStoredFor(idx, emb, q, "vec_id", "embedding", 5,
          probes2Tables = 6)),
      "sim_ann_ivf" -> (() =>
        Similarity.ivfTopKStored(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_pq" -> (() =>
        Similarity.pqTopKStored(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_ivfpq" -> (() =>
        Similarity.ivfPqTopKStored(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_ivfpq_res" -> (() =>
        Similarity.ivfPqResidualTopKStored(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_sq8" -> (() =>
        Similarity.sq8TopKStored(idx, emb, q, "vec_id", "embedding", 5)),
      "sim_ann_ivfsq8" -> (() =>
        Similarity.ivfSq8TopKStored(idx, emb, q, "vec_id", "embedding", 5)))
    var anyRed = false
    val rows = ops.map { case (op, f) =>
      val t0 = System.nanoTime()
      val got = pairs(f())
      val sec = (System.nanoTime() - t0) / 1e9
      val recallBp = 10000L * truth.intersect(got).size / truth.size
      val floor = floors(op)
      val pass = recallBp >= floor
      if (!pass) anyRed = true
      println(f"[recallscale] $op%-18s recall_bp=$recallBp floor=$floor " +
        f"pass=$pass sec=$sec%.1f")
      s"""  "$op": {"recall_bp": $recallBp, "floor_bp": $floor, """ +
        f""""pass": $pass, "sec": $sec%.2f}"""
    }
    val json = s"""{"corpus": "$dir", "n_vectors": $nVec, "n_queries": 100,""" +
      s""" "k": 5, "lsh_bits": ${idx.lshBits},\n "gate": {\n""" +
      rows.mkString(",\n") + "\n }}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[recallscale] wrote $out" + (if (anyRed) " (RED)" else ""))
    spark.stop()
    if (anyRed) sys.exit(1)
  }
}
