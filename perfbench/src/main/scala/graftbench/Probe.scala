package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GorillaCodec
import graft.functions.{gorilla_chunk_agg, gorilla_chunk_bucket_agg, gorilla_decode,
  minhash_hashes, shingle_hashes}
import graft.tsdb.Ts

/**
 * Layer probe, run once after a traced run's loop: codec throughput on one
 * thread over chunks sampled from the run's own store (`graft.core`), and
 * each Catalyst kernel selected over the store's chunk column or the
 * corpus text into the no-op sink (`graft.functions`). A probe whose
 * round trip disagrees counts as a failed check.
 */
object Probe {
  private val Reps = 5

  /** Median over `Reps` timed passes (after one warm pass) of work/s. */
  private def rate(work: Double)(body: => Unit): Double = {
    body
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      work / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def fail(r: Runner, msg: String): Unit = {
    System.err.println(s"FAILED probe: $msg")
    r.extraFailed += 1
  }

  def timeSeries(r: Runner, storePath: String): Map[String, Double] = {
    val store = Ts.readStore(r.spark, storePath)
    val tot = store.agg(sum(length(col("chunk"))), sum("n")).head()
    val (bytes, points) = (tot.getLong(0), tot.getLong(1))

    // graft.core: a deterministic sample of real chunks, one thread
    val sample = store.select("chunk").orderBy(xxhash64(col("chunk"))).limit(256)
      .collect().map(_.getAs[Array[Byte]](0))
    val headers = sample.map(GorillaCodec.readHeader)
    val decoded = sample.map(GorillaCodec.decode)
    val samplePts = headers.map(_.n.toLong).sum.toDouble
    r.extraAttempted += 1
    val roundTrip = sample.indices.forall { i =>
      val (ts, vs) = decoded(i)
      val h = headers(i)
      val again = GorillaCodec.encode(ts, vs, h.headerTime,
        leadTrail = h.variant == GorillaCodec.VariantLeadTrail)
      val agg = GorillaCodec.aggregate(sample(i))
      java.util.Arrays.equals(again, sample(i)) && agg.n == ts.length &&
        (ts.isEmpty || (agg.minTs == ts.min && agg.maxTs == ts.max &&
          agg.minV == vs.min && agg.maxV == vs.max))
    }
    if (!roundTrip) fail(r, "codec round trip or aggregate disagrees on a store chunk")
    val core = Map(
      "core.decode_mpts_per_s" -> rate(samplePts / 1e6)(sample.foreach(GorillaCodec.decode)),
      "core.encode_mpts_per_s" -> rate(samplePts / 1e6)(sample.indices.foreach { i =>
        val h = headers(i)
        GorillaCodec.encode(decoded(i)._1, decoded(i)._2, h.headerTime,
          leadTrail = h.variant == GorillaCodec.VariantLeadTrail)
      }),
      "core.aggregate_mpts_per_s" -> rate(samplePts / 1e6)(sample.foreach(GorillaCodec.aggregate(_))),
      "core.bytes_per_point" -> bytes.toDouble / points)

    // graft.functions: each kernel over the whole chunk column
    def kernel(c: org.apache.spark.sql.Column) =
      rate(points.toDouble)(r.noop(store.select(c.as("k"))))
    core ++ Map(
      "functions.decode_pts_per_s" -> kernel(gorilla_decode(col("chunk"))),
      "functions.chunk_agg_pts_per_s" -> kernel(gorilla_chunk_agg(col("chunk"))),
      "functions.bucket_agg_pts_per_s" -> kernel(gorilla_chunk_bucket_agg(col("chunk"), 300L, 100.0)))
  }

  def text(r: Runner, docs: DataFrame, nDocs: Long): Map[String, Double] =
    Map("functions.minhash_docs_per_s" -> rate(nDocs.toDouble)(
      r.noop(docs.select(minhash_hashes(shingle_hashes(col("text"), 3), 64).as("k")))))
}
