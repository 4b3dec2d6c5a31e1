package graft.streaming

import graft.SparkTestSession
import graft.core.GorillaCodec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("watermarked stream closes 2h windows into exact gorilla chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("series", "ts", "v")

    val chunks = StreamIngest.chunkStream(events, Seq("series"), "ts", "v",
      windowDuration = "2 hours", watermark = "1 minute")
    val q = chunks.writeStream.outputMode("append")
      .format("memory").queryName("chunks_sink").start()
    try {
      val w0 = 1700006400L // 2h-aligned
      // window 1 points for two series
      input.addData(
        ("cpu", ts(w0 + 10), 1.5), ("cpu", ts(w0 + 70), 1.5), ("cpu", ts(w0 + 130), 2.25),
        ("mem", ts(w0 + 5), 10.0), ("mem", ts(w0 + 65), 11.0))
      q.processAllAvailable()
      // advance event time past window end + watermark => window closes
      input.addData(("cpu", ts(w0 + 7200 + 120), 9.0))
      q.processAllAvailable()

      val out = spark.table("chunks_sink")
        .select("series", "window_start", "n", "chunk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getAs[Array[Byte]](3)))
      assert(out.map(o => (o._1, o._2, o._3)).toSet ==
        Set(("cpu", w0, 3L), ("mem", w0, 2L)))

      val cpu = out.find(_._1 == "cpu").get
      val (tsArr, vsArr) = GorillaCodec.decode(cpu._4)
      assert(tsArr.toSeq == Seq(w0 + 10, w0 + 70, w0 + 130))
      assert(vsArr.toSeq == Seq(1.5, 1.5, 2.25))
      val mem = out.find(_._1 == "mem").get
      assert(GorillaCodec.decode(mem._4)._2.toSeq == Seq(10.0, 11.0))
    } finally q.stop()
  }

  test("late-but-within-watermark data lands in its chunk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("series", "ts", "v")
    val chunks = StreamIngest.chunkStream(events, Seq("series"), "ts", "v",
      windowDuration = "1 hour", watermark = "30 minutes")
    val q = chunks.writeStream.outputMode("append")
      .format("memory").queryName("late_sink").start()
    try {
      val w0 = 1700000000L / 3600 * 3600
      input.addData(("cpu", ts(w0 + 100), 1.0))
      q.processAllAvailable()
      // out-of-order point, still within watermark
      input.addData(("cpu", ts(w0 + 50), 0.5))
      q.processAllAvailable()
      // push watermark past w0 + 1h + 30min
      input.addData(("cpu", ts(w0 + 3600 + 1900), 7.0))
      q.processAllAvailable()
      val rows = spark.table("late_sink").select("series", "n", "chunk").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(1) == 2L)
      val (t2, v2) = GorillaCodec.decode(rows(0).getAs[Array[Byte]](2))
      assert(t2.toSeq == Seq(w0 + 50, w0 + 100)) // sorted within chunk
      assert(v2.toSeq == Seq(0.5, 1.0))
    } finally q.stop()
  }

  test("batch and stream chunkers produce byte-identical chunks for the same window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w0 = 1700006400L // 2h-aligned
    // out-of-order arrivals, a duplicate timestamp, two series
    val pts = Seq(
      ("cpu", w0 + 130, 2.25), ("cpu", w0 + 10, 1.5), ("cpu", w0 + 10, 0.5),
      ("cpu", w0 + 70, 1.5), ("mem", w0 + 65, 11.0), ("mem", w0 + 5, 10.25))

    val batch = graft.tsdb.Ts.chunkify(
      pts.map { case (s, t, v) => (s, ts(t), v) }.toDF("series", "ts", "v"),
      Seq("series"), "ts", "v")

    val input = MemoryStream[(String, Timestamp, Double)]
    val stream = StreamIngest.chunkStream(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      windowDuration = "2 hours", watermark = "1 minute")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("parity_sink").start()
    try {
      input.addData(pts.map { case (s, t, v) => (s, ts(t), v) }: _*)
      q.processAllAvailable()
      input.addData(("cpu", ts(w0 + 7200 + 120), 9.0)) // close window w0
      q.processAllAvailable()

      def rows(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("window_start") === w0)
        .select("series", "window_start", "n", "min_ts", "max_ts",
          "min_v", "max_v", "sum_cents", "chunk")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6), r.getLong(7),
          r.getAs[Array[Byte]](8).toSeq))
        .sortBy(_._1).toSeq
      val b = rows(batch)
      val s = rows(spark.table("parity_sink"))
      assert(b.size == 2)
      assert(b == s, s"batch:\n$b\nstream:\n$s")
    } finally q.stop()
  }

  test("labeled ingest streams unchanged: label derivation + chunkStream == batch labeled chunkify") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the label model composes with streaming ingest with zero new
    // code: the stream maps through the SAME labeledEventsFrom the
    // batch store uses, chunkStream seals on the label columns, and
    // the sealed chunks are byte-identical to a batch labeled chunkify
    val labelCols = Seq("type", "host", "region")
    val w0 = 1700006400L // 2h-aligned
    val raw = Seq( // events-table shape: (event_id, ts, user_id, event_type, value)
      (1L, w0 + 130, 5L, "click", 2.25), (2L, w0 + 10, 5L, "click", 1.5),
      (3L, w0 + 70, 105L, "click", 1.5), // user 105: same host h5/r1 as user 5
      (4L, w0 + 65, 7L, "error", 11.0), (5L, w0 + 5, 7L, "error", 10.25))
    def toDf(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.map { case (id, t, u, e, v) => (id, ts(t), u, e, v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")

    val batch = graft.tsdb.Ts.chunkify(
      graft.queries.TsQueries.labeledEventsFrom(toDf(raw)),
      labelCols, "ts", "value")

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val labeled = graft.queries.TsQueries.labeledEventsFrom(
      input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val stream = StreamIngest.chunkStream(labeled, labelCols, "ts", "value",
      windowDuration = "2 hours", watermark = "1 minute")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("labeled_parity_sink").start()
    try {
      input.addData(raw.map { case (id, t, u, e, v) => (id, ts(t), u, e, v) }: _*)
      q.processAllAvailable()
      input.addData((9L, ts(w0 + 7200 + 120), 5L, "click", 9.0)) // close w0
      q.processAllAvailable()

      def rows(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("window_start") === w0)
        .select("type", "host", "region", "window_start", "n", "chunk")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getAs[Array[Byte]](5).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq
      val b = rows(batch)
      val s = rows(spark.table("labeled_parity_sink"))
      // (click, h5, r1) holds users 5 AND 105 merged into one series
      assert(b.map(t => (t._1, t._2, t._3, t._5)) ==
        Seq(("click", "h5", "r1", 3L), ("error", "h7", "r3", 2L)))
      assert(b == s, s"batch:\n$b\nstream:\n$s")
      // and a selector works directly on the stream's sink table
      val sel = graft.tsdb.Labels.select(
        spark.table("labeled_parity_sink"), labelCols, """{host=~"h5.*"}""")
      assert(sel.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0) == 3L)
    } finally q.stop()
  }

  test("per-batch sort-encode sink appends partial chunks, point set intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val path = java.nio.file.Files.createTempDirectory("graft-perbatch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-perbatch-ck").toString
    val q = StreamIngest.writeChunksPerBatch(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      s"$path/store", ckpt).start()
    try {
      val w0 = 1700006400L
      input.addData(("cpu", ts(w0 + 10), 1.0), ("cpu", ts(w0 + 30), 2.0))
      q.processAllAvailable()
      input.addData(("cpu", ts(w0 + 20), 1.5)) // same window, next batch
      q.processAllAvailable()
      val store = graft.tsdb.Ts.readStore(spark, s"$path/store")
      // two PARTIAL chunks for the same (series, window) — the store
      // contract allows several per window — with exact stats each
      assert(store.count() == 2)
      assert(store.select("window_start").distinct().collect().map(_.getLong(0)).toSeq
        == Seq(w0))
      assert(store.agg(sum("n")).first().getLong(0) == 3L)
      val pts = graft.tsdb.Ts.unpack(store, Seq("series"))
        .orderBy("ts").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(pts == Seq((w0 + 10, 1.0), (w0 + 20, 1.5), (w0 + 30, 2.0)))
    } finally q.stop()
  }

  test("streaming rollup maintenance equals batch materialization; replays skip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val path = java.nio.file.Files.createTempDirectory("graft-rollstream").toString + "/roll"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rollstream-ck").toString
    val chunks = StreamIngest.chunkStream(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      windowDuration = "2 hours", watermark = "1 minute")
    val q = StreamIngest.rollupStream(chunks, Seq("series"), path, ckpt,
      bucketSec = 900).start()
    try {
      val w0 = 1700006400L // 2h-aligned
      // batch 1: window w0 fills for two series
      input.addData(
        ("cpu", ts(w0 + 10), 1.5), ("cpu", ts(w0 + 70), 2.5),
        ("cpu", ts(w0 + 1000), 4.0), ("mem", ts(w0 + 5), 10.0))
      q.processAllAvailable()
      // batch 2: event time passes w0's end + watermark => w0 seals and
      // merge-folds; the new window stays open
      input.addData(("cpu", ts(w0 + 7200 + 120), 9.0))
      q.processAllAvailable()
      // batch 3: seal the second window too — its fold MERGES into a
      // store that already exists (the existing+fresh path)
      input.addData(("cpu", ts(w0 + 14400 + 120), 1.0))
      q.processAllAvailable()

      val streamed = graft.tsdb.Ts.readRollup(spark, path)
      // the stream folded two sealed windows; the batch path
      // materializes the same chunks in one shot — must be identical
      val sealedPts = Seq(
        ("cpu", w0 + 10, 1.5), ("cpu", w0 + 70, 2.5),
        ("cpu", w0 + 1000L, 4.0), ("mem", w0 + 5, 10.0),
        ("cpu", w0 + 7200 + 120L, 9.0))
        .toDF("series", "sec", "v")
        .withColumn("ts", col("sec").cast("timestamp"))
      val batchChunks = graft.tsdb.Ts.chunkify(sealedPts, Seq("series"), "ts", "v")
      val batchPath = java.nio.file.Files.createTempDirectory("graft-rollbatch").toString + "/roll"
      graft.tsdb.Ts.writeRollup(batchChunks, Seq("series"), batchPath, bucketSec = 900)
      val batch = graft.tsdb.Ts.readRollup(spark, batchPath)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("series", "bucket", "n", "min_v", "max_v", "sum_cents", "sumsq_cents")
        .collect().map(_.toSeq).toSet
      assert(rows(streamed) == rows(batch))

      // replay protection: re-folding an already-folded batchId is a
      // no-op (at-least-once restarts must not double-count)
      val before = rows(graft.tsdb.Ts.readRollup(spark, path))
      StreamIngest.foldRollupBatch(batchChunks, batchId = 0L, Seq("series"), path)
      assert(rows(graft.tsdb.Ts.readRollup(spark, path)) == before)
      // a NEW batchId with fresh chunks does fold (and merges exactly)
      val extra = Seq(("cpu", w0 + 20, 100.0)).toDF("series", "sec", "v")
        .withColumn("ts", col("sec").cast("timestamp"))
      val lastId = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path + "_batch")).get(0).trim.toLong
      StreamIngest.foldRollupBatch(
        graft.tsdb.Ts.chunkify(extra, Seq("series"), "ts", "v"),
        lastId + 1, Seq("series"), path)
      val after = graft.tsdb.Ts.readRollup(spark, path)
        .filter(col("series") === "cpu" && col("bucket") === (w0 / 900) * 900)
        .select("n", "sum_cents").collect().head
      assert(after.getLong(0) == 3L) // 2 original + 1 merged-in point
      assert(after.getLong(1) == 150 + 250 + 10000)
    } finally q.stop()
  }

  test("streaming late-data upsert equals one batch upsert; replays skip") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w0 = 1700006400L // 2h-aligned
    // a sealed store with two windows of on-time data
    val onTime = Seq(
      ("cpu", w0 + 10, 1.0), ("cpu", w0 + 100, 2.0),
      ("cpu", w0 + 7200 + 10, 3.0), ("mem", w0 + 50, 5.0))
      .toDF("series", "sec", "v").withColumn("ts", col("sec").cast("timestamp"))
    val path = java.nio.file.Files.createTempDirectory("graft-upstream").toString + "/store"
    graft.tsdb.Ts.writeStore(
      graft.tsdb.Ts.chunkify(onTime, Seq("series"), "ts", "v"), path)

    val input = MemoryStream[(String, Timestamp, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upstream-ck").toString
    val q = StreamIngest.upsertStream(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      path, ckpt).start()
    try {
      // batch 1: late points into the FIRST (sealed) window
      input.addData(("cpu", ts(w0 + 55), 1.5), ("mem", ts(w0 + 60), 6.0))
      q.processAllAvailable()
      // batch 2: one more late point + a window the store has never seen
      input.addData(("cpu", ts(w0 + 101), 2.5), ("cpu", ts(w0 + 14400 + 5), 7.0))
      q.processAllAvailable()

      // stream-maintained store == one batch upsert of all late points
      val late = Seq(
        ("cpu", w0 + 55, 1.5), ("mem", w0 + 60, 6.0),
        ("cpu", w0 + 101, 2.5), ("cpu", w0 + 14400 + 5, 7.0))
        .toDF("series", "sec", "v").withColumn("ts", col("sec").cast("timestamp"))
      val batchPath = java.nio.file.Files.createTempDirectory("graft-upbatch").toString + "/store"
      graft.tsdb.Ts.writeStore(
        graft.tsdb.Ts.chunkify(onTime, Seq("series"), "ts", "v"), batchPath)
      graft.tsdb.Ts.upsertIntoStore(spark, batchPath, late, Seq("series"), "ts", "v")
      def sig(p: String) = graft.tsdb.Ts.readStore(spark, p)
        .select(col("series"), col("window_start"), col("n"), md5(col("chunk")).as("h"))
        .collect().map(_.toSeq).toSet
      assert(sig(path) == sig(batchPath))

      // replay protection: re-merging an already-applied batchId is a
      // no-op (at-least-once redelivery must not double-append)
      val before = sig(path)
      val replay = Seq(("cpu", w0 + 55, 1.5)).toDF("series", "sec", "v")
        .withColumn("ts", col("sec").cast("timestamp"))
      StreamIngest.upsertBatch(replay, batchId = 0L, Seq("series"), "ts", "v", path)
      assert(sig(path) == before)
      // a NEW batchId does merge
      val lastId = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path + "_upsert_batch")).get(0).trim.toLong
      StreamIngest.upsertBatch(replay, lastId + 1, Seq("series"), "ts", "v", path)
      val n = graft.tsdb.Ts.readStore(spark, path)
        .filter(col("series") === "cpu" && col("window_start") === w0)
        .agg(sum("n")).first().getLong(0)
      assert(n == 5L) // 2 on-time + 2 late + 1 fresh-batch replay copy
    } finally q.stop()
  }

  test("misra_gries runs as streaming state: guarantees hold across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the sketch's merge IS the streaming state update, so a global
    // heavy-hitters aggregate needs only k-1 counters of state no
    // matter how long the stream runs — the guarantees must hold on
    // the running result exactly as in batch
    val input = MemoryStream[String]
    val agg = input.toDF().toDF("w")
      .agg(graft.functions.misra_gries(col("w"), 8).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.lower_count"))
    val q = agg.writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      val batch1 = Seq.fill(30)("the") ++ Seq.fill(20)("of") ++
        (1 to 25).map(i => s"rare$i")
      val batch2 = Seq.fill(25)("the") ++ Seq.fill(15)("and") ++
        (26 to 45).map(i => s"rare$i")
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("mg_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val all = batch1 ++ batch2
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = all.size
      assert(got.size <= 7, s"state exceeded k-1: $got")
      // every item above N/k present; counts are in-band lower bounds
      exact.filter(_._2 > n / 8).keySet.foreach { w =>
        assert(got.contains(w), s"heavy hitter '$w' missing: $got") }
      got.foreach { case (w, c) =>
        val t = exact.getOrElse(w, 0L)
        assert(c <= t && t - c <= n / 8, s"'$w': $c vs true $t, N/k=${n / 8}")
      }
    } finally q.stop()
  }

  test("live range = sealed store + open tail, exactly-once under replay overlap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val path = java.nio.file.Files.createTempDirectory("graft-live").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-live-ck").toString
    val q = StreamIngest.writeChunksPerBatch(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      s"$path/store", ckpt).start()
    try {
      val w0 = 1700006400L
      // sealed: what the sink has flushed so far
      val sealedPts = Seq(("cpu", w0 + 10, 1.0), ("cpu", w0 + 30, 2.0),
        ("mem", w0 + 20, 5.0))
      input.addData(sealedPts.map { case (s0, t, v) => (s0, ts(t), v) }: _*)
      q.processAllAvailable()
      val store = graft.tsdb.Ts.readStore(spark, s"$path/store")
      // open: the unsealed tail PLUS a replay of already-sealed points
      // (the horizon guard must drop those) and a brand-new series
      val openPts = Seq(("cpu", w0 + 30, 2.0), ("cpu", w0 + 40, 3.0),
        ("mem", w0 + 10, 4.0), ("gpu", w0 + 50, 9.0))
      val open = openPts.toDF("series", "ts", "v")
      val live = graft.tsdb.Ts.liveRange(store, open, Seq("series"),
          w0, w0 + 7200)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // ground truth: a plain range scan over sealed ∪ genuinely-new
      // (the mem replay at w0+10 is BEFORE mem's horizon => dropped)
      val want = (sealedPts ++ Seq(("cpu", w0 + 40, 3.0), ("gpu", w0 + 50, 9.0)))
        .toSet
      assert(live == want.map(t => (t._1, t._2, t._3)))
    } finally q.stop()
  }

  test("delete stays deleted under replay: persisted horizon guards the live view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val path = java.nio.file.Files.createTempDirectory("graft-deldur").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-deldur-ck").toString
    val q = StreamIngest.writeChunksPerBatch(
      input.toDF().toDF("series", "ts", "v"), Seq("series"), "ts", "v",
      s"$path/store", ckpt).start()
    try {
      val w0 = 1700006400L
      // two sealed windows for cpu; mem untouched by the delete
      input.addData(("cpu", ts(w0 + 10), 1.0), ("cpu", ts(w0 + 30), 2.0),
        ("cpu", ts(w0 + 7210), 3.0), ("mem", ts(w0 + 20), 5.0))
      q.processAllAvailable()
      // surgically delete cpu's NEWEST window: the chunk-derived
      // horizon for cpu drops back to w0+30, so only the persisted
      // marker knows w0+7210 was ever ingested
      graft.tsdb.Ts.deleteFromStore(spark, s"$path/store", w0 + 7200, w0 + 14400)
      // open tail: an at-least-once REPLAY of the deleted point (must
      // stay deleted), a replay of a surviving point (must not double),
      // and one genuinely-new point past the old horizon (must appear)
      val open = Seq(("cpu", w0 + 7210, 3.0), ("cpu", w0 + 30, 2.0),
        ("cpu", w0 + 7300, 7.0)).toDF("series", "ts", "v")
      val live = graft.tsdb.Ts.liveRangeStore(spark, s"$path/store", open,
          Seq("series"), w0, w0 + 14400)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(live == Set(("cpu", w0 + 10, 1.0), ("cpu", w0 + 30, 2.0),
        ("cpu", w0 + 7300, 7.0), ("mem", w0 + 20, 5.0)))
      // and WITHOUT the marker the replay would resurrect — pin that
      // the guard is the persisted horizon, not an accident of layout
      val unguarded = graft.tsdb.Ts.liveRange(
          graft.tsdb.Ts.readStore(spark, s"$path/store"), open, Seq("series"),
          w0, w0 + 14400)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(unguarded.contains(("cpu", w0 + 7210, 3.0)))
    } finally q.stop()
  }

  test("streaming signature maintenance equals the batch signature table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamIngest.signatureStream(docs, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("sig_sink").start()
    try {
      val batch1 = Seq((1L, "alpha beta gamma delta"), (2L, "the quick brown fox"))
      val batch2 = Seq((3L, "alpha beta gamma delta epsilon"), (4L, ""))
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("sig_sink")
        .orderBy("id").collect().toSeq
      val batch = graft.ops.Dedup.signatures(
          (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
        .select(spark.table("sig_sink").schema.fieldNames.map(col): _*)
        .orderBy("id").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming winnow-fingerprint maintenance equals the batch table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamIngest.winnowStream(docs, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("winnow_sink").start()
    try {
      val batch1 = Seq(
        (1L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
        (2L, (1 to 30).map(i => s"beta$i").mkString(" ")))
      val batch2 = Seq(
        (3L, (1 to 30).map(i => s"alpha$i").mkString(" ")), // dup of 1
        (4L, "too short"))                                  // < k words: no grams
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("winnow_sink")
        .orderBy("doc_id", "pos", "fp").collect().toSeq
      val batch = graft.ops.TextOps.winnowing(
          (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id", "pos", "fp").collect().toSeq
      assert(streamed == batch)
      // the dup doc's fingerprints land identical to the original's —
      // the streamed table feeds dedup_winnow without re-derivation
      val byDoc = streamed.groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet)
      assert(byDoc(1L) == byDoc(3L))
      assert(!byDoc.contains(4L))
    } finally q.stop()
  }

  test("streaming first-arrival dedup matches the batch stream_dedup survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = StreamIngest.dedupStream(docs, "ts", "text", watermark = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_sink").start()
    try {
      val t0 = 1700006400L
      // arrival order = doc_id order; "aa" and "bb" repeat across batches
      input.addData((0L, ts(t0), "aa"), (1L, ts(t0 + 1), "bb"), (2L, ts(t0 + 2), "aa"))
      q.processAllAvailable()
      input.addData((3L, ts(t0 + 3), "bb"), (4L, ts(t0 + 4), "cc"))
      q.processAllAvailable()
      val kept = spark.table("dedup_sink").select("doc_id").as[Long].collect().toSet
      // batch equivalent: min doc_id per content hash
      assert(kept == Set(0L, 1L, 4L))
    } finally q.stop()
  }

  test("streaming anomaly flags equal the batch prefix computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 40 calm-ish points (cents cycle 100/101/102 => nonzero variance)
    // with a spike at i=37, split across two micro-batches
    val pts = (0 until 40).map(i =>
      ("cpu", 1000L + i, if (i == 37) 5000L else 100L + (i % 3)))
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamIngest.anomalyStream(input.toDS(), minPrior = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_sink").start()
    try {
      input.addData(pts.take(20): _*)
      q.processAllAvailable()
      input.addData(pts.drop(20): _*)
      q.processAllAvailable()
      val streamed = spark.table("anom_sink")
        .select("series", "ts", "cents", "n_prior")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

      // batch prefix computation over the same rows
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("series").orderBy("ts", "cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val batch = pts.toDF("series", "ts", "cents")
        .withColumn("np", count(lit(1)).over(w))
        .withColumn("sp", coalesce(sum("cents").over(w), lit(0L)))
        .withColumn("qp", coalesce(sum(col("cents") * col("cents")).over(w), lit(0L)))
        .filter(col("np") >= 30 &&
          (col("np") * col("cents") - col("sp")) *
            (col("np") * col("cents") - col("sp")) >
          lit(9L) * (col("np") * col("qp") - col("sp") * col("sp")))
        .select("series", "ts", "cents", "np")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

      assert(streamed == batch)
      assert(streamed.exists(_._2 == 1037L), "the spike must be flagged")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running latest per series") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val q = StreamIngest.latestPerSeries(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_sink").start()
    try {
      input.addData(("cpu", 100L, 1.0), ("cpu", 200L, 2.0), ("mem", 50L, 9.0))
      q.processAllAvailable()
      input.addData(("cpu", 150L, 5.0)) // older than current latest
      q.processAllAvailable()
      val last = spark.table("latest_sink")
        .groupBy("series").agg(max(struct(col("n"), col("ts"), col("v"))).as("m"))
        .select("series", "m.ts", "m.v", "m.n").as[(String, Long, Double, Long)]
        .collect().toSet
      assert(last == Set(("cpu", 200L, 2.0, 3L), ("mem", 50L, 9.0, 1L)))
    } finally q.stop()
  }

  test("streaming sessionize equals batch sessionize on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700006400L
    // u1: two sessions (gap > 10 min between 3rd and 4th event; an
    // event at EXACTLY gap extends); u2: one session
    val events = Seq(
      ("u1", t0), ("u1", t0 + 300), ("u1", t0 + 900), // 900 = prev+600 => merges
      ("u1", t0 + 2000),                              // > 600 after => new session
      ("u2", t0 + 100), ("u2", t0 + 400))
    val input = MemoryStream[(String, Timestamp)]
    val stream = StreamIngest.sessionize(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gap = "10 minutes", watermark = Some("1 minute"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("sess_sink").start()
    try {
      // batch split keeps later batches AHEAD of the watermark (events
      // behind it are dropped as late, by design)
      input.addData((events.take(3) ++ events.drop(4)).map { case (u, t) => (u, ts(t)) }: _*)
      q.processAllAvailable()
      input.addData(events.slice(3, 4).map { case (u, t) => (u, ts(t)) }: _*)
      q.processAllAvailable()
      // push watermark far past every open session so all emit
      input.addData(("u3", ts(t0 + 10000)))
      q.processAllAvailable()
      val streamed = spark.table("sess_sink")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = StreamIngest.sessionize(
          events.map { case (u, t) => (u, ts(t)) }.toDF("user", "ts"),
          "user", "ts", gap = "10 minutes")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch == Set(
        ("u1", t0, t0 + 900, 3L), ("u1", t0 + 2000, t0 + 2000, 1L),
        ("u2", t0 + 100, t0 + 400, 2L)))
      assert(streamed == batch, "stream==batch sessionize parity")
    } finally q.stop()
  }

  // ===== round-17: continuous cumulative-counter (native-hist) ingest =====

  test("cumulativeGridStream: dense grid, gaps, late-in/late-out, exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    val w0 = 1700006400L; val step = 7200L
    val gridTo = w0 + 4 * step
    val samples = StreamIngest.cumulativeGridStream(
      input.toDS(), w0, gridTo, step, watermark = "10 seconds")
    val q = samples.writeStream.outputMode("append").format("memory")
      .queryName("grid_sink").start()
    try {
      // cell convention: (g − step, g], ceiling-aligned, floored at w0
      // — so w0+10 lands in cell w0+step and w0−100 in cell w0
      input.addData(("a", ts(w0 + 10), 2L), ("b", ts(w0 - 100), 5L))
      q.processAllAvailable()
      // out-of-order WITHIN lateness (w0+5 arrives after w0+10 but the
      // watermark is only w0) + a far cell for a
      input.addData(("a", ts(w0 + 3 * step + 1), 7L), ("a", ts(w0 + 5), 1L))
      q.processAllAvailable()
      // beyond-lateness: cell w0+step already emitted by now — dropped
      input.addData(("b", ts(w0 + 100), 9L))
      q.processAllAvailable()
      // sentinel advances the watermark past gridTo: every group
      // flushes its tail (gap cells emit FLAT samples) and drops state
      input.addData(("__wm", ts(gridTo + step + 100), 1L))
      q.processAllAvailable()
      val out = spark.table("grid_sink").as[StreamIngest.GridSample]
        .collect().filter(_.series != "__wm")
        .map(s => (s.series, s.ts, s.cum)).toSet
      val expect = Set(
        ("a", w0, 0L), ("a", w0 + step, 3L), ("a", w0 + 2 * step, 3L),
        ("a", w0 + 3 * step, 3L), ("a", w0 + 4 * step, 10L),
        ("b", w0, 5L), ("b", w0 + step, 5L), ("b", w0 + 2 * step, 5L),
        ("b", w0 + 3 * step, 5L), ("b", w0 + 4 * step, 5L))
      assert(out == expect, s"got $out")
    } finally q.stop()
  }

  test("cumulativeGridStream: post-gridTo traffic never re-emits a completed series") {
    // the continuous-scrape shape (round-17 ADVICE): the grid ends at
    // gridTo but the stream does not — later events for a COMPLETED
    // series must not re-initialize state at (gridFrom − step, cum 0)
    // and re-emit the grid. The tombstone state makes completed mean
    // completed: post-gridTo traffic AND in-grid stragglers both drop.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    val w0 = 1700006400L; val step = 7200L
    val gridTo = w0 + 2 * step
    val q = StreamIngest.cumulativeGridStream(
        input.toDS(), w0, gridTo, step, watermark = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("grid_tomb_sink").start()
    try {
      input.addData(("a", ts(w0 + 10), 2L))
      q.processAllAvailable()
      // watermark sails past gridTo: series a completes its grid
      input.addData(("a", ts(gridTo + 5 * step), 1L))
      q.processAllAvailable()
      val afterComplete = spark.table("grid_tomb_sink").count()
      assert(afterComplete == 3L, "a must have emitted its full 3-cell grid")
      // ongoing scrape traffic after completion + an in-grid straggler
      input.addData(("a", ts(gridTo + 6 * step), 3L), ("a", ts(w0 + 20), 9L))
      q.processAllAvailable()
      input.addData(("a", ts(gridTo + 8 * step), 3L))
      q.processAllAvailable()
      assert(spark.table("grid_tomb_sink").count() == afterComplete,
        "a completed series re-emitted under post-gridTo traffic")
      val out = spark.table("grid_tomb_sink").as[StreamIngest.GridSample]
        .collect().map(s => (s.series, s.ts, s.cum)).toSet
      assert(out == Set(("a", w0, 0L), ("a", w0 + step, 2L), ("a", gridTo, 2L)))
    } finally q.stop()
  }

  // ===== round-18: the full histogram-store family through the stream =====

  /** Drive THE batch builder body and the streaming twin (HistArms →
    * cumulativeGridStream) over the same synthetic raw events and
    * assert sample-for-sample equality — per store shape. */
  private def histStreamParity(
      tag: String,
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      arms: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[(String, Timestamp, Long)],
      labels: Seq[String], valueScale: Double): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val from = graft.queries.TsQueries.HistGridFrom
    val to = graft.queries.TsQueries.HistGridTo
    val step = graft.queries.TsQueries.HistGridStep
    val rnd = new scala.util.Random(1800L + tag.hashCode)
    val events = Seq.tabulate(180) { _ =>
      (Seq("click", "view")(rnd.nextInt(2)), rnd.nextInt(3).toLong,
        rnd.nextDouble() * valueScale,
        from - 3600 + (rnd.nextDouble() * (to - from + 3600)).toLong)
    }.sortBy(_._4)
    def evDf(rows: Seq[(String, Long, Double, Long)]) =
      rows.toDF("event_type", "user_id", "value", "__sec")
        .withColumn("ts", to_timestamp(col("__sec"))).drop("__sec")
    // batch: the REAL builder body over the synthetic events
    val base = java.nio.file.Files.createTempDirectory(s"graft_hsp_$tag")
    val path = base.resolve("store").toString
    build(evDf(events), path)
    val want = graft.tsdb.Ts.unpack(
        graft.tsdb.Ts.readStore(spark, path), labels)
      .collect().map { r =>
        val key = labels.map(r.getAs[String](_)).mkString("|")
        val cents = math.round(r.getAs[Double]("v") *
          (if (key.endsWith("|sum")) 100.0 else 1.0))
        (key, r.getAs[Long]("ts"), cents)
      }.toSet
    // stream: the same raw events through the real streaming engine,
    // event-time-ordered micro-batches
    val input = MemoryStream[(String, Long, Double, Timestamp)]
    val src = input.toDF().toDF("event_type", "user_id", "value", "ts")
    val q = StreamIngest.cumulativeGridStream(arms(src), from, to, step,
        watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName(s"hsp_${tag}_sink").start()
    try {
      events.grouped(60).foreach { batch =>
        input.addData(batch.map { case (t, u, v, sec) => (t, u, v, ts(sec)) }: _*)
        q.processAllAvailable()
      }
      // a sentinel event past grid end + watermark flushes every tail
      input.addData(("wmsent", 0L, 1.0, ts(to + 100000)))
      q.processAllAvailable()
      val got = spark.table(s"hsp_${tag}_sink").as[StreamIngest.GridSample]
        .collect().filterNot(_.series.startsWith("wmsent"))
        .map(s => (s.series, s.ts, s.cum)).toSet
      assert(got == want, s"$tag: stream/batch sample sets differ; " +
        s"stream-only=${(got -- want).take(5)} batch-only=${(want -- got).take(5)}")
    } finally q.stop()
  }

  test("stream == batch: plain exponential native-histogram store") {
    histStreamParity("nhist",
      (ev, p) => graft.queries.TsQueries.buildNativeHistStoreFrom(spark, ev, p,
        graft.queries.TsQueries.nativeHistLabelCols, None,
        Seq(graft.tsdb.NativeHist.Schema), 0L),
      src => HistArms.nativeArms(src, None,
        Seq(graft.tsdb.NativeHist.Schema), 0L),
      graft.queries.TsQueries.nativeHistLabelCols, 10.0)
  }

  test("stream == batch: NHCB bound-list store (full layout per scrape)") {
    histStreamParity("nhcb",
      (ev, p) => graft.queries.TsQueries.buildNhcbStoreFrom(spark, ev, p),
      src => HistArms.nhcbArms(src, graft.queries.TsQueries.histBuckets),
      graft.queries.TsQueries.nhcbLabelCols, 300.0)
  }

  test("stream == batch: mixed-schema store (per-series schema arms)") {
    val schemaOf = when(pmod(col("user_id"), lit(2L)) === 0, lit("3"))
      .otherwise(lit("2"))
    histStreamParity("nhistm",
      (ev, p) => graft.queries.TsQueries.buildNativeHistStoreFrom(spark, ev, p,
        graft.queries.TsQueries.mixedNativeHistLabelCols, Some(schemaOf),
        Seq(2, 3), 0L),
      src => HistArms.nativeArms(src, Some(schemaOf), Seq(2, 3), 0L),
      graft.queries.TsQueries.mixedNativeHistLabelCols, 10.0)
  }

  test("stream == batch: WIDE mixed-schema store (full schema range)") {
    val m4 = pmod(col("user_id"), lit(4L))
    val schemaOf = when(m4 === 0, lit("3")).when(m4 === 1, lit("-2"))
      .when(m4 === 2, lit("5")).otherwise(lit("0"))
    histStreamParity("nhistw",
      (ev, p) => graft.queries.TsQueries.buildNativeHistStoreFrom(spark, ev, p,
        graft.queries.TsQueries.mixedNativeHistLabelCols, Some(schemaOf),
        Seq(3, -2, 5, 0), 0L),
      src => HistArms.nativeArms(src, Some(schemaOf), Seq(3, -2, 5, 0), 0L),
      graft.queries.TsQueries.mixedNativeHistLabelCols, 10.0)
  }

  test("stream == batch: SIGNED store (mirrored spans, signed sum arm)") {
    histStreamParity("nhistg",
      (ev, p) => graft.queries.TsQueries.buildNativeHistStoreFrom(spark, ev, p,
        graft.queries.TsQueries.nativeHistLabelCols, None,
        Seq(graft.tsdb.NativeHist.Schema), 2500L),
      src => HistArms.nativeArms(src, None,
        Seq(graft.tsdb.NativeHist.Schema), 2500L),
      graft.queries.TsQueries.nativeHistLabelCols, 50.0)
  }

  test("cumulativeGridStream == the batch cumulative-grid derivation (randomized)") {
    // the native-hist store contract: the streamed samples must equal
    // the batch builder's crossJoin(grid) + na.fill(0) + cumulative
    // window derivation for the SAME weighted increments — computed
    // here directly from the raw events (the algebra the builder runs)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(20260819L)
    val w0 = 1700006400L; val step = 7200L
    val nCells = 6
    val gridTo = w0 + nCells * step
    val series = Seq("m|h1|8", "m|h1|count", "m|h2|n3", "m|h2|sum")
    val events = Seq.fill(200)((series(rnd.nextInt(series.size)),
      w0 - step + rnd.nextLong(5 * step + 2 * step),
      1L + rnd.nextInt(9))).sortBy(_._2) // in-order arrival: no drops
    val input = MemoryStream[(String, Timestamp, Long)]
    val q = StreamIngest.cumulativeGridStream(
        input.toDS(), w0, gridTo, step, watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("grid_twin_sink").start()
    try {
      events.grouped(70).foreach { b =>
        input.addData(b.map { case (s, sec, w) => (s, ts(sec), w) }: _*)
        q.processAllAvailable()
      }
      input.addData(("__wm", ts(gridTo + step + 100), 1L))
      q.processAllAvailable()
      val got = spark.table("grid_twin_sink").as[StreamIngest.GridSample]
        .collect().filter(_.series != "__wm")
        .map(s => (s.series, s.ts, s.cum)).toSet
      // the batch twin, straight from the builder's algebra
      val expect = series.flatMap { s =>
        val byCell = events.filter(_._1 == s).groupBy { case (_, sec, _) =>
          math.max(w0, ((sec + step - 1) / step) * step)
        }.map { case (g, es) => g -> es.map(_._3).sum }
        var cum = 0L
        (w0 to gridTo by step).map { g =>
          cum += byCell.getOrElse(g, 0L); (s, g, cum)
        }
      }.toSet
      assert(got == expect)
    } finally q.stop()
  }
}
