package graft.tsdb

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TsStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("chunk store round-trips through partitioned parquet with pruning") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val chunks = Ts.chunkify(ev, Seq("user_id", "event_type"), "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-store").toString
    Ts.writeStore(chunks, path)

    val all = Ts.readStore(spark, path)
    assert(all.agg(sum("n")).first().getLong(0) == ev.count())

    // day-bounded read: partition pruning must reach the file scan
    val from = 1704844800L // 2024-01-10
    val to = 1705017600L   // 2024-01-12
    val pruned = Ts.readStore(spark, path, from, to)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(window_date"), plan.take(1500))
    // decoded points from the pruned store match a direct range query
    val viaStore = Ts.rangeQuery(pruned, Seq("user_id", "event_type"), from, to)
    val direct = Ts.rangeQuery(chunks, Seq("user_id", "event_type"), from, to)
    assert(viaStore.orderBy("user_id", "event_type", "ts", "v").collect().toSeq ==
      direct.orderBy("user_id", "event_type", "ts", "v").collect().toSeq)
  }

  test("compaction merges partial chunks into byte-identical sealed chunks") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    // fragment the ingest: two arbitrary halves appended separately,
    // like two micro-batches of writeChunksPerBatch
    val path = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val half = pmod(xxhash64(col("event_id")), lit(2L))
    Ts.writeStore(Ts.chunkify(ev.filter(half === 0), series, "ts", "value"), path)
    Ts.writeStore(Ts.chunkify(ev.filter(half === 1), series, "ts", "value"),
      path, mode = "append")
    val fragged = Ts.readStore(spark, path)
    val direct = Ts.chunkify(ev, series, "ts", "value")
    assert(fragged.count() > direct.count(), "ingest should be fragmented")

    val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
    Ts.compactStore(spark, path, out)
    val compacted = Ts.readStore(spark, out)
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"), col("window_start"),
          col("n"), md5(col("chunk")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
    // one sealed chunk per window, byte-identical to never-fragmented encode
    assert(sig(compacted) == sig(direct))
  }

  test("deleteRange: point-exact, untouched chunks byte-identical, covered chunks dropped") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val chunks = Ts.chunkify(ev, series, "ts", "value").persist()
    // interior range: partial first/last windows around whole 2h windows
    val from = 1704844800L + 3600L
    val to = from + 4 * 7200L
    val out = Ts.deleteRange(chunks, series, from, to).persist()

    // the surviving points are exactly the decoded points outside the range
    val got = Ts.unpack(out, series)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    val expect = Ts.unpack(chunks, series)
      .filter(col("ts") < from || col("ts") > to)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    assert(got == expect)

    // untouched chunks (no time overlap) pass through byte-identical
    val keyCols = series :+ "window_start"
    val origUntouched = chunks.filter(col("max_ts") < from || col("min_ts") > to)
    val paired = origUntouched
      .select((keyCols.map(col) :+ col("chunk").as("c0")): _*)
      .join(out.select((keyCols.map(col) :+ col("chunk").as("c1")): _*), keyCols)
    assert(paired.count() == origUntouched.count())
    assert(paired.filter(col("c0") =!= col("c1")).count() == 0)

    // fully covered chunks existed and are gone — dropped by header
    // comparison alone, never decoded
    assert(chunks.filter(col("min_ts") >= from && col("max_ts") <= to).count() > 0)
    assert(out.filter(col("min_ts") >= from && col("max_ts") <= to).count() == 0)
    chunks.unpersist(); out.unpersist()
  }

  test("deleteRange: point-exact across degenerate and extreme ranges") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val chunks = Ts.chunkify(ev, series, "ts", "value").persist()
    val lo = 1704067200L // 2024-01-01
    val hi = 1706659200L // 2024-01-31
    val ranges = Seq(
      (hi + 1000L, hi + 2000L),      // entirely after the data: no-op
      (lo - 2000L, lo - 1000L),      // entirely before: no-op
      (lo - 1000L, hi + 1000L),      // covers everything: empty store
      (1704844800L, 1704844800L),    // single second
      (1704844800L, 1704844800L + 7199L), // exactly one window
      (1704844801L, 1704844800L + 7200L)) // off-by-one straddle
    for ((f, t) <- ranges) {
      val got = Ts.unpack(Ts.deleteRange(chunks, series, f, t), series)
        .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
      val expect = Ts.unpack(chunks, series)
        .filter(col("ts") < f || col("ts") > t)
        .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
      assert(got == expect, s"range [$f, $t]")
    }
    chunks.unpersist()
  }

  test("upsertPoints: merge equals on-time ingest bit-exactly, untouched chunks unread") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val sec = Ts.epochSec(ev, "ts")
    // late batch: a day's points shifted +30 min — mostly into sealed
    // windows, the tail into fresh ones
    val from = 1704844800L
    val to = from + 86400L
    val late = ev.filter(sec >= from && sec <= to)
      .select(col("user_id"), col("event_type"),
        to_timestamp(sec + 1800L).as("ts"), col("value").as("v"))
    val base = Ts.chunkify(ev.filter(sec < from || sec > to), series, "ts", "value")
      .persist()
    val out = Ts.upsertPoints(base, late, series, "ts", "v").persist()

    // the merged store is BYTE-identical to having ingested everything
    // at once: same chunks, same encoded bytes (deterministic encode)
    val onTime = Ts.chunkify(
      ev.filter(sec < from || sec > to)
        .select(col("user_id"), col("event_type"), col("ts").as("t"),
          col("value").cast("double").as("v"))
        .withColumnRenamed("t", "ts")
        .unionByName(late), series, "ts", "v")
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"), col("window_start"),
          col("n"), md5(col("chunk")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
    assert(sig(out) == sig(onTime))

    // chunks in windows the batch never touched pass through
    // byte-identical (their payload is never decoded)
    val lateKeys = late
      .select(col("user_id"), col("event_type"),
        (floor(Ts.epochSec(late, "ts") / 7200L) * 7200L).cast("long")
          .as("window_start"))
      .distinct()
    val keyCols = series :+ "window_start"
    val origUntouched = base.join(lateKeys, keyCols, "left_anti")
    val paired = origUntouched
      .select((keyCols.map(col) :+ col("chunk").as("c0")): _*)
      .join(out.select((keyCols.map(col) :+ col("chunk").as("c1")): _*), keyCols)
    assert(paired.count() == origUntouched.count())
    assert(paired.filter(col("c0") =!= col("c1")).count() == 0)
    base.unpersist(); out.unpersist()
  }

  test("upsertIntoStore: only the late batch's dates are rewritten, new dates appear") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val path = java.nio.file.Files.createTempDirectory("graft-ups").toString
    Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), path)
    val before = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("window_date="))
      .map(d => d.getName -> d.listFiles().map(f =>
        (f.getName, f.length(), f.lastModified())).toSet).toMap

    // late: one in-range day shifted +30 min, plus points 90 days out
    // (a window_date the store has never seen)
    val sec = Ts.epochSec(ev, "ts")
    val from = 1704844800L
    val dayLate = ev.filter(sec >= from && sec <= from + 86400L)
      .select(col("user_id"), col("event_type"),
        to_timestamp(sec + 1800L).as("ts"), col("value").as("v"))
    val farLate = ev.filter(sec >= from && sec <= from + 86400L)
      .select(col("user_id"), col("event_type"),
        to_timestamp(sec + 7776000L).as("ts"), col("value").as("v"))
    val late = dayLate.unionByName(farLate)
    Ts.upsertIntoStore(spark, path, late, series, "ts", "v")

    val after = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("window_date="))
      .map(d => d.getName -> d.listFiles().map(f =>
        (f.getName, f.length(), f.lastModified())).toSet).toMap
    val touched = after.keySet.filter(d => before.get(d) != after.get(d))
    // the untouched dates' files are bit-for-bit untouched on disk
    val lateDates = Seq("window_date=2024-01-10", "window_date=2024-01-11")
    assert(touched.subsetOf((lateDates ++ (after.keySet -- before.keySet)).toSet),
      s"unexpected rewrites: ${touched -- lateDates.toSet}")
    assert((after.keySet -- before.keySet).nonEmpty, "new date partition missing")

    // read-back equals chunkifying raw ∪ late directly
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"), col("window_start"),
          col("n"), md5(col("chunk")).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
    val onTime = Ts.chunkify(
      ev.select(col("user_id"), col("event_type"), col("ts"),
          col("value").cast("double").as("v"))
        .withColumn("ts", to_timestamp(Ts.epochSec(ev, "ts")))
        .unionByName(late), series, "ts", "v")
    assert(sig(Ts.readStore(spark, path).drop("window_date")) == sig(onTime))
  }

  test("deleteFromStore: interior dates drop as directories, only boundary dates rewrite") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val chunks = Ts.chunkify(ev, series, "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-del").toString
    Ts.writeStore(chunks, path)
    def dirNames = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    // capture untouched-partition file states before the delete
    val before = dirNames
    val probe = "window_date=2024-01-05"
    val probeFiles = new java.io.File(path, probe).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap

    // 2024-01-10T12:00 .. 2024-01-13T06:00 — fully covers 01-11, 01-12
    val from = 1704844800L + 43200L
    val to = 1705104000L + 21600L
    Ts.deleteFromStore(spark, path, from, to)

    // interior dates dropped as directories; all other dates remain
    assert(before.contains("window_date=2024-01-11"))
    assert(!dirNames.contains("window_date=2024-01-11"))
    assert(!dirNames.contains("window_date=2024-01-12"))
    assert(dirNames.contains("window_date=2024-01-10")) // boundary, partial
    // untouched partitions keep their exact files (never rewritten)
    val probeAfter = new java.io.File(path, probe).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(probeAfter == probeFiles)

    // the store is point-exact vs filtering the raw events
    val got = Ts.unpack(Ts.readStore(spark, path).drop("window_date"), series)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    val expect = Ts.unpack(chunks, series)
      .filter(col("ts") < from || col("ts") > to)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    assert(got == expect)
  }

  test("deleteFromStore: metadata-verified coverage survives a mismatched windowSec") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    // week-long windows: the partition for the window-start day holds
    // chunks whose points run SEVEN days past it — the layout
    // chunkifyAdaptive produces and the old day-arithmetic coverage
    // test (dayStart + 86400 + windowSec) never anticipated
    val week = 7 * 86400L
    val chunks = Ts.chunkify(ev, series, "ts", "value", windowSec = week)
    val path = java.nio.file.Files.createTempDirectory("graft-del-mm").toString
    Ts.writeStore(chunks, path)
    // delete exactly the first day of a week-long partition, passing
    // the DEFAULT (small) windowSec: day arithmetic would classify the
    // whole partition as covered and directory-delete six days of
    // surviving points; the metadata check must route it as boundary
    val w = (1704844800L / week) * week
    val from = w
    val to = w + 86399L
    Ts.deleteFromStore(spark, path, from, to)
    val got = Ts.unpack(Ts.readStore(spark, path).drop("window_date"), series)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    val expect = Ts.unpack(chunks, series)
      .filter(col("ts") < from || col("ts") > to)
      .orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    assert(got.nonEmpty && got == expect,
      s"mismatched-windowSec delete lost ${expect.size - got.size} points")
  }

  test("deleteFromStore keeps other series' dates when it cuts a multi-day adaptive chunk") {
    import spark.implicits._
    // a dense 10 s series over 3 days (2-h adaptive windows) and a
    // sparse 30-point series that chunkifyAdaptive packs into ONE chunk
    // spanning all 3 days: deleting an hour on day 1 makes that chunk a
    // straddler whose survivors reach days 2 and 3, where only the
    // dense series' chunks live
    val d0 = 1704067200L // 2024-01-01T00:00Z
    val raw = (0 until 25920).map(i => ("dense", d0 + 10L * i, (i % 97).toDouble)) ++
      (0 until 30).map(i => ("sparse", d0 + 8640L * i, i.toDouble))
    val pts = raw.map { case (k, t, v) => (k, new java.sql.Timestamp(t * 1000L), v) }
      .toDF("series", "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-del-adaptive").toString
    Ts.writeStore(Ts.chunkifyAdaptive(pts, Seq("series"), "ts", "value"), path)
    assert(Ts.readStore(spark, path).filter(col("series") === "sparse").count() == 1L)
    val from = d0 + 7 * 3600L
    val to = from + 3600L
    Ts.deleteFromStore(spark, path, from, to)
    val kept = raw.filter { case (_, t, _) => t < from || t > to }
    val got = Ts.unpack(Ts.readStore(spark, path), Seq("series"))
    val counts = got.groupBy("series").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == kept.groupBy(_._1).map { case (k, v) => k -> v.size.toLong },
      s"per-series point counts after the delete: $counts")
    assert(got.orderBy("series", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq == kept.sorted)
  }

  test("deleteFromStore raises, before touching a chunk, when the horizon swap fails") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.norename.impl", classOf[NoHorizonRenameFs].getName)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val local = java.nio.file.Files.createTempDirectory("graft-norename").toString
    val path = "norename:" + local
    Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), path)
    def chunkHashes = Ts.readStore(spark, local)
      .select(md5(col("chunk"))).collect().map(_.getString(0)).sorted.toSeq
    val before = chunkHashes
    val err = intercept[java.io.IOException](
      Ts.deleteFromStore(spark, path, 1704844800L + 43200L, 1705104000L + 21600L))
    assert(err.getMessage.contains("_graft_horizon"), err.getMessage)
    assert(chunkHashes == before)
  }

  test("store mutations stay within their Spark job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val path = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), path)
    val sec = Ts.epochSec(ev, "ts")
    val late = ev.filter(sec >= 1704844800L && sec <= 1704844800L + 86400L)
      .select(col("user_id"), col("event_type"),
        to_timestamp(sec + 1800L).as("ts"), col("value").as("v"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.SpecBus.drain(sc)
      jobs.set(0)
      body
      org.apache.spark.SpecBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      val upsert = jobsOf(Ts.upsertIntoStore(spark, path, late, series, "ts", "v"))
      // 2024-01-10T12:00 .. 2024-01-13T06:00: two covered dates, two boundary dates
      val delete = jobsOf(Ts.deleteFromStore(spark, path, 1704844800L + 43200L,
        1705104000L + 21600L))
      val expire = jobsOf(Ts.expireStore(spark, path, olderThanDays = 1,
        asOfSec = 1705017600L))
      assert((upsert, delete, expire) == ((6, 7, 2)),
        s"jobs per (upsert, delete, expire)")
    } finally sc.removeSparkListener(listener)
  }

  test("latest() is exact on a fragmented store (several chunks per window)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    // two halves appended as separate batches: every hot window owns
    // several chunks, and the chunk holding the true latest point is
    // not distinguishable by window_start alone
    val path = java.nio.file.Files.createTempDirectory("graft-latest").toString
    val half = pmod(xxhash64(col("event_id")), lit(2L))
    Ts.writeStore(Ts.chunkify(ev.filter(half === 0), series, "ts", "value"), path)
    Ts.writeStore(Ts.chunkify(ev.filter(half === 1), series, "ts", "value"),
      path, mode = "append")
    val fragged = Ts.readStore(spark, path).drop("window_date")
    val direct = Ts.chunkify(ev, series, "ts", "value")
    assert(fragged.count() > direct.count(), "ingest should be fragmented")
    assert(Ts.latest(fragged, series).orderBy("user_id", "event_type")
        .collect().toSeq ==
      Ts.latest(direct, series).orderBy("user_id", "event_type").collect().toSeq)
  }

  test("compressed-domain downsample equals the decode-everything resample") {
    import spark.implicits._
    val series = Seq("user_id", "event_type")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val chunks = Ts.chunkify(ev, series, "ts", "value")
    val fast = Ts.downsampleCompressed(chunks, series, 900)
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    val slow = Ts.unpack(chunks, series)
      .withColumn("cents", round(col("v") * 100).cast("long"))
      .groupBy(col("user_id"), col("event_type"),
        ((col("ts") / 900).cast("long") * 900).as("bucket"))
      .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"),
        sum("cents").as("sum_cents"))
      .withColumn("avg_v", col("sum_cents") / (col("n") * 100.0))
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    assert(fast == slow)
    // NaN / negative-tie chunk: documented operator semantics — HALF_UP
    // ties, NaN contributes 0 to the fixed sum, nan-safe min/max (max
    // NaN when any value was NaN, min only when all were). The explode
    // baseline cannot express this under ANSI (cast(NaN as long)
    // throws), so the expectations are pinned directly.
    // raw long ts are nanos under the epochSec contract
    val ns = 1000000000L
    val raw = Seq(("a", 7200L * ns, -0.025), ("a", 7300L * ns, Double.NaN),
      ("a", 8200L * ns, 3.5), ("b", 7200L * ns, Double.NaN))
      .toDF("k", "ts", "value")
    val ch = Ts.chunkify(raw, Seq("k"), "ts", "value")
    val f2 = Ts.downsampleCompressed(ch, Seq("k"), 900)
      .orderBy("k", "bucket").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getDouble(6)))
    val want = Seq(
      ("a", 7200L, 2L, -0.025, Double.NaN, -3L, -0.015),
      ("a", 8100L, 1L, 3.5, 3.5, 350L, 3.5),
      ("b", 7200L, 1L, Double.NaN, Double.NaN, 0L, 0.0))
    assert(f2.mkString("|") == want.mkString("|"))
  }

  test("materialized rollup: serve equals recompute at base and coarser buckets, decode-free") {
    val series = Seq("user_id", "event_type")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val chunks = Ts.chunkify(ev, series, "ts", "value")
    val path = s"/tmp/graft_rollup_spec_${System.currentTimeMillis()}"
    Ts.writeRollup(chunks, series, path, bucketSec = 900)
    val rollup = Ts.readRollup(spark, path)
    // base granularity: partial scan == the compressed-domain resample
    val served = Ts.serveRollup(rollup, series, 900)
      .select("user_id", "event_type", "bucket", "n", "min_v", "max_v",
        "sum_cents", "avg_v")
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    val direct = Ts.downsampleCompressed(chunks, series, 900)
      .select("user_id", "event_type", "bucket", "n", "min_v", "max_v",
        "sum_cents", "avg_v")
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    assert(served == direct)
    // coarser granularity: the SAME 15-min partials serve 1-h exactly
    val served1h = Ts.serveRollup(rollup, series, 3600)
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    val direct1h = Ts.downsampleCompressed(chunks, series, 3600)
      .select("user_id", "event_type", "bucket", "n", "min_v", "max_v",
        "sum_cents", "avg_v")
      .orderBy("user_id", "event_type", "bucket").collect().toSeq
    assert(served1h == direct1h)
    // the serve plan reads the rollup parquet only: no chunk column,
    // no gorilla call of any kind — the standing aggregate never
    // touches the raw store again
    val plan = Ts.serveRollup(rollup, series, 3600)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("gorilla"), s"rollup serve decodes chunks:\n$plan")
    assert(!plan.contains("chunk"), s"rollup serve reads chunk bytes:\n$plan")
  }

  test("incremental rollup upsert equals the full rebuild, and re-runs are idempotent") {
    import spark.implicits._
    val ns = 1000000000L
    def day(d: Long, k: String, n: Int): Seq[(String, Long, Double)] =
      (0 until n).map(i => (k, (d * 86400 + i * 600) * ns, d * 10.0 + i))
    val hist = (day(19000, "a", 20) ++ day(19000, "b", 10) ++ day(19001, "a", 15)).toDF("k", "ts", "value")
    val today = day(19002, "a", 12).toDF("k", "ts", "value")
    val path = s"/tmp/graft_rollup_upsert_${System.currentTimeMillis()}"
    // seed with history, then fold ONLY today's chunks in
    Ts.writeRollup(Ts.chunkify(hist, Seq("k"), "ts", "value"), Seq("k"), path)
    val todayChunks = Ts.chunkify(today, Seq("k"), "ts", "value")
    Ts.upsertRollup(todayChunks, Seq("k"), path)
    Ts.upsertRollup(todayChunks, Seq("k"), path) // at-least-once retry
    val got = Ts.readRollup(spark, path)
      .select("k", "bucket", "n", "min_v", "max_v", "sum_cents", "sumsq_cents")
      .orderBy("k", "bucket").collect().toSeq
    // ground truth: one rebuild over the union
    val full = s"/tmp/graft_rollup_full_${System.currentTimeMillis()}"
    Ts.writeRollup(Ts.chunkify(hist.union(today), Seq("k"), "ts", "value"), Seq("k"), full)
    val want = Ts.readRollup(spark, full)
      .select("k", "bucket", "n", "min_v", "max_v", "sum_cents", "sumsq_cents")
      .orderBy("k", "bucket").collect().toSeq
    assert(got == want)
    // exactly the three day partitions exist: two untouched history
    // days plus the upserted one (dynamic overwrite replaced only its
    // own bucket_date)
    val parts = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("bucket_date=")).sorted.toSeq
    assert(parts == Seq("bucket_date=2022-01-08", "bucket_date=2022-01-09",
      "bucket_date=2022-01-10"), parts.toString)
  }

  test("mergeRollup folds PARTIAL chunks of one window across increments losslessly") {
    import spark.implicits._
    val ns = 1000000000L
    val w0 = 19005L * 86400 // day-aligned => 2h-window- and bucket-aligned
    // one 2h window's points split across two folds mid-bucket: the
    // per-batch streaming sink's shape (several partial chunks per
    // window), which partition-replacing upsertRollup cannot absorb
    val first = (0 until 8).map(i => ("a", (w0 + i * 200) * ns, 1.0 * i))
    val second = (8 until 14).map(i => ("a", (w0 + i * 200) * ns, 1.0 * i))
    val path = s"/tmp/graft_rollup_merge_${System.currentTimeMillis()}"
    Ts.mergeRollup(Ts.chunkify(first.toDF("k", "ts", "value"), Seq("k"), "ts", "value"),
      Seq("k"), path)
    Ts.mergeRollup(Ts.chunkify(second.toDF("k", "ts", "value"), Seq("k"), "ts", "value"),
      Seq("k"), path)
    def rows(p: String) = Ts.readRollup(spark, p)
      .select("k", "bucket", "n", "min_v", "max_v", "sum_cents", "sumsq_cents")
      .orderBy("k", "bucket").collect().toSeq
    val full = s"/tmp/graft_rollup_merge_full_${System.currentTimeMillis()}"
    Ts.writeRollup(Ts.chunkify((first ++ second).toDF("k", "ts", "value"),
      Seq("k"), "ts", "value"), Seq("k"), full)
    assert(rows(path) == rows(full))
    // the shared bucket really merged across folds: bucket [900, 1800)
    // holds offsets 1000/1200/1400 (first fold) + 1600 (second fold)
    val merged = Ts.readRollup(spark, path)
      .filter(col("bucket") === w0 + 900).select("n").collect()
    assert(merged.map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("mergeRollup folds into a store named by a file:// URI") {
    import spark.implicits._
    // the _SUCCESS check and write go through the Hadoop FileSystem, so
    // a scheme-qualified path (as on HDFS or an object store) sees the
    // first fold and merges the second into it
    val d0 = 1704067200L // 2024-01-01T00:00Z: 20 h of 1-min points, one date
    val pts = (0 until 1200).map(i => ("a", (d0 + 60L * i) * 1000000000L, i.toDouble))
    val path = java.nio.file.Files.createTempDirectory("graft-rollup-uri")
      .resolve("rollup").toUri.toString
    assert(path.startsWith("file:"))
    for (fold <- pts.grouped(600))
      Ts.mergeRollup(Ts.chunkify(fold.toDF("k", "ts", "value"), Seq("k"), "ts", "value"),
        Seq("k"), path)
    val rollup = Ts.readRollup(spark, path)
    assert(rollup.agg(sum("n")).first().getLong(0) == 1200L)
    assert(rollup.count() == 80L) // 1200 min / 15-min buckets, each merged once
  }

  test("compressed-domain range aggregate matches the decode-everything baseline") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val chunks = Ts.chunkify(ev, series, "ts", "value")
    val from = 1704844800L
    val to = 1705017600L
    val agg = Ts.rangeAgg(chunks, series, from, to)
      .orderBy("user_id", "event_type").collect().toSeq
    val cents = round(col("v") * 100).cast("long")
    val baseline = Ts.rangeQuery(chunks, series, from, to)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"), min("ts").as("min_ts"), max("ts").as("max_ts"),
        min("v").as("min_v"), max("v").as("max_v"),
        sum(cents).as("sum_cents"), sum(cents * cents).as("sumsq_cents"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(agg.nonEmpty && agg == baseline)
  }

  test("store-backed rangeAgg never decodes covered chunks, in one scan") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    // off the 2-h chunk grid; the corpus's chunks hold about one point
    // each, so one dense 10-min series adds chunks that straddle it
    val from = 1704844800L + 3600L
    val to = 1705017600L - 3600L
    val tsType = ev.schema("ts").dataType
    val dense = spark.range(from - 86400L, to + 86400L, 600L).select(
      lit(-1L).cast(ev.schema("user_id").dataType).as("user_id"),
      lit("dense").as("event_type"),
      (if (tsType == org.apache.spark.sql.types.LongType) col("id") * 1000000000L
       else timestamp_seconds(col("id")).cast(tsType)).as("ts"),
      (pmod(col("id"), lit(997L)) / 10.0).as("value"))
    val chunks = Ts.chunkify(ev.select("user_id", "event_type", "ts", "value")
      .unionByName(dense), series, "ts", "value")
    val root = java.nio.file.Files.createTempDirectory("graft-store-agg").toString
    val covered = col("min_ts") >= from && col("max_ts") <= to
    val straddles = col("max_ts") >= from && col("min_ts") <= to && !covered
    // the same store with every covered chunk's bytes nulled: the
    // range kernel is null-intolerant, so decoding any covered chunk
    // would drop its points from the answer
    Ts.writeStore(chunks, s"$root/intact")
    Ts.writeStore(chunks.withColumn("chunk",
      when(covered, lit(null).cast("binary")).otherwise(col("chunk"))), s"$root/nulled")
    val nulled = Ts.readStore(spark, s"$root/nulled", from, to)
    assert(nulled.filter(col("chunk").isNull).count() > 0)
    assert(nulled.filter(straddles).count() > 0)
    def agg(path: String) =
      Ts.rangeAgg(Ts.readStore(spark, path, from, to), series, from, to)
    val want = agg(s"$root/intact").orderBy(series.map(col): _*).collect().toSeq
    assert(want.nonEmpty)
    assert(agg(s"$root/nulled").orderBy(series.map(col): _*).collect().toSeq == want)
    val plan = agg(s"$root/intact").queryExecution.executedPlan.toString
    // Spark does not share parquet scans: covered and boundary chunks
    // come out of ONE scan
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(2000))
    // and the stat-range guards + partition pruning are pushed to the scan
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(max_ts"),
      plan.take(2000))
    assert(plan.contains("PartitionFilters: [isnotnull(window_date"), plan.take(2000))
  }

  test("store latest(): the newest-chunk pass scans stats only, no chunk bytes") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val path = java.nio.file.Files.createTempDirectory("graft-latest").toString
    Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), path)
    val df = Ts.latest(Ts.readStore(spark, path), series)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(plan).toList
    // pass 1 (max_ts per series) must be a stats-column scan: column
    // pruning keeps the compressed bytes out of it entirely — two
    // cheap metadata passes is the design, not two full decodes
    assert(scans.exists(s => s.contains("max_ts") && !s.contains("chunk")),
      s"no stats-only scan in:\n${scans.mkString("\n")}")
    // and the result matches the non-store path
    val direct = Ts.latest(Ts.chunkify(ev, series, "ts", "value"), series)
    assert(df.orderBy("user_id", "event_type").collect().toSeq ==
      direct.orderBy("user_id", "event_type").collect().toSeq)
  }

  test("upsertStore: re-ingesting a day replaces it, never double-writes") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val chunks = Ts.chunkify(ev, series, "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    Ts.writeStore(chunks, path)
    def sig() = Ts.readStore(spark, path)
      .select(col("user_id"), col("event_type"), col("window_start"),
        col("n"), md5(col("chunk")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val before = sig()
    // pick one stored day and re-ingest exactly its chunks (the
    // backfill/retry shape) — an append would double it; dynamic
    // partition overwrite must leave the store byte-identical
    val day = Ts.readStore(spark, path).select(min("window_start")).first().getLong(0)
    val dayChunks = chunks.filter(
      floor(col("window_start") / 86400) === Math.floorDiv(day, 86400L))
    assert(dayChunks.count() > 0)
    Ts.upsertStore(dayChunks, path)
    assert(sig() == before, "double-ingest of one day must be a no-op")
    // and upserting a modified day really replaces it (not appends)
    Ts.upsertStore(dayChunks.limit(1), path)
    val after = sig()
    assert(after.size < before.size && after.subsetOf(before))
  }

  test("expireStore drops only partitions older than retention") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val path = java.nio.file.Files.createTempDirectory("graft-expire").toString
    Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), path)
    val dates = Ts.readStore(spark, path)
      .select(to_date(to_timestamp(col("window_start"))).cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(dates.length > 2, s"need several days, got ${dates.toSeq}")
    // retain the newest 2 days as-of the newest point
    val asOf = Ts.readStore(spark, path).select(max("window_start")).first().getLong(0)
    Ts.expireStore(spark, path, olderThanDays = 1, asOfSec = asOf)
    val kept = Ts.readStore(spark, path)
      .select(to_date(to_timestamp(col("window_start"))).cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    val cutoff = java.time.LocalDate.ofEpochDay(Math.floorDiv(asOf, 86400L) - 1).toString
    assert(kept.toSet == dates.filter(_ >= cutoff).toSet,
      s"kept ${kept.toSeq}, expected >= $cutoff of ${dates.toSeq}")
    assert(kept.nonEmpty && kept.length < dates.length)
  }

  test("expireStore keeps an adaptive partition whose chunks span past the cutoff") {
    import spark.implicits._
    // one sparse series: 100 points at 1-h cadence starting day D —
    // chunkifyAdaptive (target 512 pts/chunk) packs them into ONE
    // multi-day chunk whose window_date is D while its max_ts lands
    // ~4 days later; plus one genuinely old point 30 days earlier
    // that forms its own prunable chunk
    val d0 = 1704067200L // 2024-01-01T00:00Z
    val pts = ((0 until 100).map(i =>
        ("live", new java.sql.Timestamp((d0 + i * 3600L) * 1000L), i.toDouble)) :+
        ("old", new java.sql.Timestamp((d0 - 30L * 86400) * 1000L), 1.0))
      .toDF("series", "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft-expire-adaptive").toString
    Ts.writeStore(Ts.chunkifyAdaptive(pts, Seq("series"), "ts", "value"), path)
    val before = Ts.unpack(Ts.readStore(spark, path), Seq("series"))
      .filter(col("series") === "live").count()
    assert(before == 100L)
    // cutoff lands 2 days INTO the live chunk's span: the old date
    // drops, but the live chunk's partition (START date d0, strictly
    // before the cutoff) holds points at and past the cutoff and must
    // survive the retention pass intact
    Ts.expireStore(spark, path, olderThanDays = 1, asOfSec = d0 + 3 * 86400)
    val after = Ts.unpack(Ts.readStore(spark, path), Seq("series"))
    assert(after.filter(col("series") === "live").count() == 100L,
      "retention deleted live points out of a multi-day adaptive chunk")
    assert(after.filter(col("series") === "old").count() == 0L,
      "the genuinely expired partition must still drop")
  }

  test("dense 1Hz series compress far below raw 16B/point through the pipeline") {
    import spark.implicits._
    // the shape gorilla is built for: regular cadence, slowly-moving values
    val base = 1700000000L
    val dense = (0 until 4).flatMap(s =>
      (0 until 14400).map(i =>
        ("m" + s, new java.sql.Timestamp((base + i) * 1000L), 20.0 + (i % 7))))
      .toDF("series", "ts", "value")
    val chunks = Ts.chunkify(dense, Seq("series"), "ts", "value")
    val stats = Ts.compressionStats(chunks, Seq("series"))
    val overall = stats.agg((sum("chunk_bytes") * 100.0 / sum("raw_bytes")).as("pct"))
      .first().getDouble(0)
    assert(overall < 25.0, s"compression ratio $overall%")
  }

  test("typed facade round-trips Points through Chunks") {
    import spark.implicits._
    val pts = Seq(Point("cpu", 7200, 1.5), Point("cpu", 7260, 2.5),
      Point("mem", 7201, 10.0)).toDS()
    val chunks = TsTyped.chunkify(pts)
    val back = TsTyped.unpack(chunks).orderBy("series", "ts").collect().toSeq
    assert(back == Seq(Point("cpu", 7200, 1.5), Point("cpu", 7260, 2.5),
      Point("mem", 7201, 10.0)))
    assert(TsTyped.latest(chunks).collect().toSet ==
      Set(Point("cpu", 7260, 2.5), Point("mem", 7201, 10.0)))
  }

  test("adaptive windows fix sparse-series compression and round-trip exactly") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val series = Seq("user_id", "event_type")
    val fixed = Ts.chunkify(ev, series, "ts", "value")
    val adaptive = Ts.chunkifyAdaptive(ev, series, "ts", "value", targetPoints = 64)
    def ratio(c: org.apache.spark.sql.DataFrame): Double =
      Ts.compressionStats(c, series)
        .agg((sum("chunk_bytes") * 100.0 / sum("raw_bytes")).as("pct"))
        .first().getDouble(0)
    val (rf, ra) = (ratio(fixed), ratio(adaptive))
    assert(ra < rf / 2, s"adaptive $ra% should halve fixed $rf%")
    assert(ra < 100.0, s"adaptive must beat raw, got $ra%")
    // identical decoded point sets
    val a = Ts.unpack(fixed, series).orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    val b = Ts.unpack(adaptive, series).orderBy("user_id", "event_type", "ts", "v").collect().toSeq
    assert(a == b)
    assert(adaptive.count() < fixed.count()) // fewer, fuller chunks
  }

  test("sparse event series report honest (poor) ratios — stats stay consistent") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val chunks = Ts.chunkify(ev, Seq("user_id", "event_type"), "ts", "value")
    val stats = Ts.compressionStats(chunks, Seq("user_id", "event_type")).collect()
    assert(stats.forall(r => r.getAs[Long]("chunk_bytes") > 0))
    assert(stats.forall(r => r.getAs[Long]("raw_bytes") == 16 * r.getAs[Long]("n_points")))
  }
}

/** The local filesystem under the `norename` scheme, refusing every
  * rename onto a path named `_graft_horizon`: a store's horizon swap
  * fails while Spark's own commit renames still succeed. */
class NoHorizonRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    dst.getName != "_graft_horizon" && super.rename(src, dst)
}
