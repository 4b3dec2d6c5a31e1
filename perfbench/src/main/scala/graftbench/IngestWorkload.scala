package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tsdb.Ts

/**
 * `ingest`: the write path. Dense scrape series arrive in four time-ordered
 * batches of one 2-hour chunk window each; every batch is chunkified and
 * written to a fresh store. Then the fixed mutation set runs: an upsert of
 * late points, a range delete, a compaction into a new store and a
 * retention expiry. Each step is checked against the generator's ground
 * truth.
 */
final class IngestWorkload(spark: SparkSession, work: String, seed: Long, threads: Int)
    extends Workload {
  val itemKinds = Set("write")
  private val Batches = 4
  private val T0 = 1709323200L // 2024-03-01T20:00Z: the batches cross midnight
  private val Day2 = T0 + 4 * 3600L
  private val scrape = new Scrape(spark, seed, hosts = 25, T0, steps = Batches * 720, threads)
  private val labels = Scrape.Labels

  private val rnd = new java.util.SplittableRandom(Gen.mix(seed, 77))
  /** Late points for every tenth series: (series, sec, cents), landing
    * inside already-written windows 1 and 2. */
  private val late: Seq[(Int, Long, Long)] =
    scrape.series.indices.filter(_ % 10 == 3).flatMap { i =>
      Seq.fill(12)((i, T0 + 7200L + 3 + 10L * rnd.nextInt(1440), 100L * rnd.nextInt(5000)))
    }
  /** The delete covers window 1 whole and the ends of windows 0 and 2. */
  private val delFrom = T0 + 3600L + 60L * rnd.nextInt(50)
  private val delTo = T0 + 4 * 3600L + 60L * rnd.nextInt(100)
  private def deleted(sec: Long) = sec >= delFrom && sec <= delTo

  private def batchOf(sec: Long) = Math.floorDiv(sec - T0, 7200L)
  private val batchPoints: Array[Long] = Array.tabulate(Batches) { b =>
    scrape.points.map(_._1.count(batchOf(_) == b).toLong).sum
  }

  private var input = ""
  private var lateDir = ""
  private var lastStore: Option[String] = None
  private var storeBytes = 0L

  def setup(rep: Int): Unit = {
    input = s"$work/input-$rep"
    lateDir = s"$work/late-$rep"
    scrape.frame().withColumn("batch", floor((col("sec") - T0) / 7200L))
      .write.mode("overwrite").partitionBy("batch").parquet(input)
    Scrape.points(spark, spark.sparkContext.parallelize(scrape.rowsOf(late), 1))
      .write.mode("overwrite").parquet(lateDir)
  }

  override def storeRoot: Option[String] = Some(s"$work/cycles")

  def cycle(r: Runner, k: Int): Unit = {
    Files.rm(s"$work/cycles/c${k - 2}")
    val store = s"$work/cycles/c$k/store"
    val compacted = s"$work/cycles/c$k/compact"
    def header(path: String, what: String, keep: Long => Boolean, withLate: Boolean) =
      Stats.sameResults(what, Scrape.headerStats(spark, path),
        scrape.truth(keep, if (withLate) late.filter(p => keep(p._2)) else Nil))

    for (b <- 0 until Batches)
      r.op(s"write_batch$b", "write", batchPoints(b)) {
        val raw = spark.read.parquet(s"$input/batch=$b")
        val chunks = r.span("Ts.chunkify", "tsdb")(Ts.chunkify(raw, labels, "ts", "v"))
        r.span("Ts.writeStore", "tsdb")(
          Ts.writeStore(chunks, store, if (b == 0) "overwrite" else "append"))
      } { _ =>
        if (b == Batches - 1) storeBytes = Files.size(store)
        header(store, s"store after batch $b", batchOf(_) <= b, withLate = false)
      }
    lastStore = Some(store)
    val lateDf = spark.read.parquet(lateDir)

    r.op("upsert", "mutation") {
      r.span("Ts.upsertIntoStore", "tsdb")(
        Ts.upsertIntoStore(spark, store, lateDf.select("type", "host", "region", "ts", "v"),
          labels, "ts", "v"))
    }(_ => header(store, "store after upsert", _ => true, withLate = true))

    r.op("delete", "mutation") {
      r.span("Ts.deleteFromStore", "tsdb")(Ts.deleteFromStore(spark, store, delFrom, delTo))
    } { _ =>
      header(store, "store after delete", !deleted(_), withLate = true).orElse {
        val left = Ts.rangeAgg(Ts.readStore(spark, store), labels, delFrom, delTo).count()
        if (left == 0) None else Some(s"$left series still hold points in the deleted range")
      }
    }

    r.op("compact", "mutation") {
      r.span("Ts.compactStore", "tsdb")(Ts.compactStore(spark, store, compacted))
    } { _ =>
      val got = Ts.unpack(Ts.readStore(spark, compacted), labels)
        .select(labels.map(col) :+ col("ts").as("sec") :+
          round(col("v") * 100).cast("long").as("cents"): _*)
      val cols = (labels :+ "sec" :+ "cents").map(col)
      val want = spark.read.parquet(input).select(cols: _*)
        .unionByName(lateDf.select(cols: _*))
        .filter(!(col("sec") >= delFrom && col("sec") <= delTo))
      Stats.sameResults("compacted point multiset", Scrape.fingerprint(got), Scrape.fingerprint(want))
    }

    r.op("expire", "mutation") {
      r.span("Ts.expireStore", "tsdb")(Ts.expireStore(spark, compacted, 0, Day2))
    }(_ => header(compacted, "store after expire", s => s >= Day2 && !deleted(s), withLate = true))
  }

  override def layerMetrics(r: Runner): Map[String, Double] = {
    def med(n: String) = Stats.median(r.tracedOps.filter(_.name.startsWith(n)).map(_.seconds))
    Map("tsdb.chunkify_write_s" -> med("write_batch"), "tsdb.upsert_s" -> med("upsert"),
      "tsdb.delete_s" -> med("delete"), "tsdb.compact_s" -> med("compact"),
      "tsdb.expire_s" -> med("expire"),
      "store.bytes_per_point" -> storeBytes.toDouble / scrape.nPoints) ++
      lastStore.map(s => Probe.timeSeries(r, s)).getOrElse(Map.empty)
  }

  override def report(r: Runner): Seq[String] = {
    val ok = r.okMeasured.filter(!_.traced)
    val w = ok.filter(_.kind == "write")
    val m = ok.filter(_.kind == "mutation").map(_.seconds)
    Seq(f"ingest_points_per_s=${w.map(_.items).sum / w.map(_.seconds).sum}%.1f (n=${w.length} batches)",
      f"mutation_p50_s=${Stats.median(m)}%.4f mutation_p90_s=${Stats.quantile(m, 0.9)}%.4f (n=${m.length})",
      f"store_bytes_per_point=${storeBytes.toDouble / scrape.nPoints}%.3f")
  }

  override def cleanup(): Unit = Files.rm(s"$work/cycles")
}
