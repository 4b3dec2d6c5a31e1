package graft.tools

import graft.tsdb.Ts
import org.apache.spark.sql.functions._

/**
 * Writes the COMMITTED store-format fixture (r8 verdict "Next round"
 * #7): a small chunk store encoded by the current codec from the
 * sf0.001 events table, plus a manifest of per-chunk md5s and pinned
 * global decode truths. StoreFormatCompatSpec then requires every
 * future revision to (a) read these exact bytes back into the exact
 * point multiset and (b) still re-encode that multiset to the same
 * bytes — so a format change can never land silently: it either
 * breaks the spec or arrives with a version-byte bump and a new
 * fixture generation recorded in git.
 *
 * Usage: FixtureGen [fixtureDir]   (default src/test/resources/fixtures/store_v1)
 */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0)
      else "src/test/resources/fixtures/store_v1"
    val spark = graft.LocalSession.start("graft-fixture-gen")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    Ts.writeStore(Ts.chunkify(ev, Seq("user_id", "event_type"), "ts", "value")
      .coalesce(1), s"$out/store")
    val chunks = Ts.readStore(spark, s"$out/store")
    val manifest = chunks
      .select(col("user_id"), col("event_type"), col("window_start"),
        col("n"), md5(col("chunk")).as("sig"))
      .orderBy("user_id", "event_type", "window_start")
      .collect()
      .map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)},${r.getLong(3)},${r.getString(4)}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/manifest.csv"),
      manifest.mkString("", "\n", "\n"))
    // global decode truths, pinned: the exact point multiset digest
    val pts = Ts.unpack(chunks.drop("window_date"), Seq("user_id", "event_type"))
    val digest = pts
      .select(md5(concat_ws("|", col("user_id"), col("event_type"), col("ts"),
        format_number(col("v"), 2))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 12), 16, 10).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()(0)
    val agg = pts.agg(
      count(lit(1)).as("n"),
      sum(round(col("v") * 100).cast("long")).as("sum_cents"),
      min("ts").as("min_ts"), max("ts").as("max_ts")).collect()(0)
    val expected =
      s"""{"n_points": ${agg.getLong(0)}, "sum_cents": ${agg.getLong(1)},
         | "min_ts": ${agg.getLong(2)}, "max_ts": ${agg.getLong(3)},
         | "point_digest_sum": ${digest.getLong(0)}, "digest_n": ${digest.getLong(1)}}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/expected.json"), expected + "\n")
    println(s"[fixture] ${manifest.length} chunks, ${agg.getLong(0)} points -> $out")
    spark.stop()
  }
}
