package graft.streaming

import graft.functions.gorilla_encode
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming ingestion — the Gorilla write path re-expressed
 * on Spark's streaming model.
 *
 * Gorilla closes a series' in-memory block when its 2-hour window ends
 * (reference: src/timestamp_stream.rs:1-9 header-time windows); here
 * the event-time watermark plays that role: a (series, window) group's
 * chunk is emitted in append mode exactly once, when the watermark
 * passes window end. Late data inside the watermark still lands in its
 * chunk; later than that is dropped — the same trade Gorilla makes by
 * closing blocks.
 *
 * At scale: state is one open group per (series, active window) —
 * bounded by series cardinality, not event volume; shuffle is the
 * groupBy's hash partitioning on (series, window).
 */
object StreamIngest {

  /**
   * Watermarked windowed chunking of a streaming point source.
   * `events` must have `tsCol: timestamp` and `valCol: double`.
   * Output (append-mode): seriesCols*, window_start, n, min/max stats,
   * gorilla chunk — the same layout as the batch `Ts.chunkify`.
   */
  def chunkStream(events: DataFrame, seriesCols: Seq[String], tsCol: String,
                  valCol: String, windowDuration: String = "2 hours",
                  watermark: String = "10 minutes"): DataFrame = {
    val sec = col(tsCol).cast("long")
    events
      .withWatermark(tsCol, watermark)
      .groupBy(seriesCols.map(col) :+ window(col(tsCol), windowDuration): _*)
      .agg(
        count(lit(1)).as("n"),
        min(sec).as("min_ts"), max(sec).as("max_ts"),
        min(valCol).as("min_v"), max(valCol).as("max_v"),
        sum(round(col(valCol).cast("double") * graft.tsdb.Ts.FixedScale).cast("long"))
          .as("sum_cents"),
        sum(round(col(valCol).cast("double") * graft.tsdb.Ts.FixedScale).cast("long") *
            round(col(valCol).cast("double") * graft.tsdb.Ts.FixedScale).cast("long"))
          .as("sumsq_cents"),
        gorilla_encode(
          sort_array(collect_list(struct(sec.as("ts"), col(valCol).cast("double").as("v")))),
          col("window").getField("start").cast("long")).as("chunk"))
      .select(seriesCols.map(col) :+
        col("window.start").cast("long").as("window_start") :+
        col("n") :+ col("min_ts") :+ col("max_ts") :+
        col("min_v") :+ col("max_v") :+ col("sum_cents") :+ col("sumsq_cents") :+
        col("chunk"): _*)
  }

  /**
   * Gap-based sessionization — batch and streaming share this ONE
   * aggregation (`session_window` merges touching windows identically
   * in both execution modes, so stream==batch parity is structural,
   * not re-implemented). On a stream, pass a watermark: a session
   * emits (append mode) once the watermark passes `gap` beyond its
   * last event. `tsCol` must already be a timestamp column.
   */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gap: String = "30 minutes",
                 watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark(tsCol, w))
    src
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n"),
        min(col(tsCol).cast("long")).as("session_start"),
        max(col(tsCol).cast("long")).as("session_end"))
      .select(col(keyCol), col("session_start"), col("session_end"), col("n"))
  }

  final case class SeriesLatest(series: String, ts: Long, v: Double, n: Long)

  /**
   * Stateful latest-point-per-series via mapGroupsWithState (the
   * custom-state path for operators the windowed model can't express).
   * Emits the running (latest ts, latest v, points seen) per series on
   * every trigger (update mode).
   */
  def latestPerSeries(points: Dataset[(String, Long, Double)]): Dataset[SeriesLatest] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_._1)
      .mapGroupsWithState[SeriesLatest, SeriesLatest](GroupStateTimeout.NoTimeout()) {
        case (series, rows, state: GroupState[SeriesLatest]) =>
          val prev = state.getOption.getOrElse(SeriesLatest(series, Long.MinValue, 0.0, 0L))
          var latestTs = prev.ts
          var latestV = prev.v
          var n = prev.n
          rows.foreach { case (_, ts, v) =>
            n += 1
            if (ts >= latestTs) { latestTs = ts; latestV = v }
          }
          val next = SeriesLatest(series, latestTs, latestV, n)
          state.update(next)
          next
      }
  }

  /**
   * High-rate alternative sealer: every micro-batch is sort-encoded
   * immediately via the batch `Ts.chunkify` path (external sort, no
   * collect_list, no per-group streaming state), so a 1 kHz series
   * never accumulates rows in state — at the cost of several PARTIAL
   * chunks per (series, window) when a window spans micro-batches.
   * Readers are agnostic: the store contract allows multiple chunks
   * per window (an appended `writeStore` batch produces the same
   * shape), and every chunk still carries exact stats for pruning. Use
   * [[chunkStream]] when you want exactly one sealed chunk per window
   * and your rate fits watermark state; use this when ingest rate
   * dominates.
   */
  def writeChunksPerBatch(events: DataFrame, seriesCols: Seq[String], tsCol: String,
                          valCol: String, path: String, checkpoint: String,
                          windowSec: Long = graft.tsdb.Ts.WindowSec) =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.tsdb.Ts.writeStore(
            graft.tsdb.Ts.chunkify(batch, seriesCols, tsCol, valCol, windowSec),
            path, mode = "append")
      }

  /**
   * Continuous-aggregate maintenance off the streaming chunk feed:
   * every micro-batch of chunks merge-folds into the standing rollup
   * ([[graft.tsdb.Ts.mergeRollup]] — O(batch + touched partitions)
   * per fold, history partitions untouched), so the materialized
   * 15-min partial table that serves standing dashboards stays
   * current as the stream runs, without ever rebuilding.
   *
   * A merge applied twice counts twice, so exactly-once under
   * foreachBatch's at-least-once replay comes from the standard
   * transactional-sink pattern: the last folded batchId persists next
   * to the rollup and a replayed batch is skipped. Restart-safe: the
   * marker survives with the rollup it describes.
   */
  def rollupStream(chunks: DataFrame, seriesCols: Seq[String], path: String,
                   checkpoint: String, bucketSec: Long = 900) =
    chunks.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldRollupBatch(batch, batchId, seriesCols, path, bucketSec)
      }

  /** The per-batch fold behind [[rollupStream]], exposed so the
    * replay-skip contract is testable without a second stream run. */
  def foldRollupBatch(batch: DataFrame, batchId: Long, seriesCols: Seq[String],
                      path: String, bucketSec: Long = 900): Unit = {
    val marker = java.nio.file.Paths.get(path + "_batch")
    val last =
      if (java.nio.file.Files.exists(marker))
        new String(java.nio.file.Files.readAllBytes(marker)).trim.toLong
      else -1L
    if (batchId > last) {
      if (!batch.isEmpty)
        graft.tsdb.Ts.mergeRollup(batch, seriesCols, path, bucketSec)
      java.nio.file.Files.write(marker, batchId.toString.getBytes)
    }
  }

  /**
   * LATE-DATA ingest as a stream: each micro-batch of raw points
   * merge-upserts into the persisted chunk store
   * ([[graft.tsdb.Ts.upsertIntoStore]] — only the `window_date`
   * partitions the batch lands in are read and rewritten), so a
   * delayed producer's points land in their correct, already-sealed
   * windows instead of a side file. The complement of
   * [[chunkStream]]'s watermarked path: the watermark seals windows
   * for the on-time flow; this sink repairs the windows the
   * watermark already closed.
   *
   * Merge-append applied twice counts twice, so replays are guarded
   * by the same transactional batchId marker as [[rollupStream]]:
   * a re-delivered completed batch is skipped.
   */
  def upsertStream(events: DataFrame, seriesCols: Seq[String], tsCol: String,
                   valCol: String, path: String, checkpoint: String,
                   windowSec: Long = graft.tsdb.Ts.WindowSec) =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, seriesCols, tsCol, valCol, path, windowSec)
      }

  /** The per-batch merge behind [[upsertStream]], exposed so the
    * replay-skip contract is testable without a second stream run. */
  def upsertBatch(batch: DataFrame, batchId: Long, seriesCols: Seq[String],
                  tsCol: String, valCol: String, path: String,
                  windowSec: Long = graft.tsdb.Ts.WindowSec): Unit = {
    val marker = java.nio.file.Paths.get(path + "_upsert_batch")
    val last =
      if (java.nio.file.Files.exists(marker))
        new String(java.nio.file.Files.readAllBytes(marker)).trim.toLong
      else -1L
    if (batchId > last) {
      if (!batch.isEmpty)
        graft.tsdb.Ts.upsertIntoStore(batch.sparkSession, path, batch,
          seriesCols, tsCol, valCol, windowSec)
      java.nio.file.Files.write(marker, batchId.toString.getBytes)
    }
  }

  final case class AnomalyPoint(series: String, ts: Long, cents: Long, n_prior: Long)
  final case class MomentState(n: Long, s: Long, q: Long)

  final case class GridState(emittedThrough: Long, cum: Long,
                             pending: Map[Long, Long])
  final case class GridSample(series: String, ts: Long, cum: Long)

  /**
   * CONTINUOUS cumulative-counter ingest on a fixed scrape grid — the
   * streaming twin of the native-histogram store derivation
   * ([[graft.queries.TsQueries.nativeHistStoreChunks]] and its
   * mixed/wide/signed siblings): weighted increments per series fold
   * into a RUNNING cumulative, emitted as one dense sample per grid
   * instant in [gridFrom, gridTo] — exactly the per-arm counter
   * series a Prometheus scrape exposes, and exactly the batch
   * builder's crossJoin(grid) + cumulative-window derivation, so the
   * emitted samples chunkify into the same store.
   *
   * One `flatMapGroupsWithState` with EVENT-TIME TIMEOUT per series:
   * increments gather in a pending per-cell map until the watermark
   * passes the cell (cell g covers event seconds in (g − step, g],
   * ceiling-aligned and floored at gridFrom like the batch builder;
   * a cell finalizes only when watermark > g, since an in-contract
   * event may still carry second == g while watermark == g), then
   * every closed cell emits cum += pending(g) — including GAP cells,
   * whose flat samples the timeout produces with no data at all (the
   * batch grid's na.fill(0) rows). State per series is the running
   * cum + the pending map, bounded by the out-of-orderness horizon in
   * cells — never event volume; a series past gridTo keeps a TOMBSTONE
   * (emittedThrough = gridTo, empty pending — two longs, bounded by
   * series cardinality, never event volume). Increments for
   * already-emitted cells (later than the watermark allows) and for
   * cells beyond gridTo are dropped, the same trade the chunk sealer
   * makes. Emission is exactly-once per (series, instant) by
   * construction: `emittedThrough` only moves forward, and the
   * tombstone means a completed series can NEVER re-initialize at
   * (gridFrom − step, cum = 0) and re-emit the grid when post-gridTo
   * traffic (which the watermark does not filter) keeps arriving —
   * the continuous-scrape case, spec-pinned in StreamIngestSpec.
   */
  def cumulativeGridStream(points: Dataset[(String, java.sql.Timestamp, Long)],
                           gridFrom: Long, gridTo: Long, stepSec: Long,
                           watermark: String = "1 minute"): Dataset[GridSample] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.toDF("series", "ts", "w").withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GridState, GridSample](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (series, rows, state: GroupState[GridState]) =>
          val st = state.getOption
            .getOrElse(GridState(gridFrom - stepSec, 0L, Map.empty))
          var pending = st.pending
          rows.foreach { case (_, t, w) =>
            val sec = t.getTime / 1000L
            val g = math.max(gridFrom, ((sec + stepSec - 1) / stepSec) * stepSec)
            // beyond-lateness and off-grid (post-gridTo) increments drop:
            // the cap keeps pending from growing past the grid horizon
            // under continuous post-gridTo traffic
            if (g > st.emittedThrough && g <= gridTo)
              pending = pending.updated(g, pending.getOrElse(g, 0L) + w)
          }
          val wm = state.getCurrentWatermarkMs() / 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[GridSample]
          var thr = st.emittedThrough
          var cum = st.cum
          while (thr < gridTo && thr + stepSec < wm) {
            thr += stepSec
            cum += pending.getOrElse(thr, 0L)
            pending -= thr
            out += GridSample(series, thr, cum)
          }
          if (thr >= gridTo) {
            // tombstone, not remove(): getOption must stay non-empty so a
            // later event for this series (post-gridTo scrape traffic, or
            // an in-grid straggler beyond the watermark) cannot re-create
            // fresh state at (gridFrom − step, cum = 0) and re-emit the
            // entire grid — the accept guard above then drops everything,
            // so completed means completed. No timeout set: the tombstone
            // is only touched again if data arrives, and then no-ops.
            state.update(GridState(thr, cum, Map.empty))
          } else {
            state.update(GridState(thr, cum, pending))
            // fire once the watermark passes the next cell's close
            state.setTimeoutTimestamp((thr + stepSec) * 1000L + 1000L)
          }
          out.iterator
      }
  }

  /**
   * Streaming anomaly detection with PREFIX-EXACT semantics: each
   * point is judged against the integer moments (n, S=Σx, Q=Σx²) of
   * the points that arrived BEFORE it in event-time order — the same
   * all-integer 3-sigma test as the batch `ts_anomaly_prefix` query
   * ((n·x−S)² > 9(nQ−S²), n ≥ minPrior), so stream output equals the
   * batch window computation row-for-row (parity in StreamIngestSpec).
   *
   * State per series is THREE longs — fixed-size regardless of volume,
   * the mapGroupsWithState shape that survives unbounded streams.
   * Within a micro-batch, rows are sorted by (ts, cents) before the
   * fold (the iterator has no order guarantee); across batches,
   * arrival order must respect event time for prefix semantics (pair
   * with a watermark-sorted upstream or accept per-batch ordering).
   *
   * Numeric bound (same as the batch queries' documented limit): the
   * moments are longs, so n·Q − S² stays exact only up to ~1e9
   * cents-points per series; beyond that the test can overflow and
   * silently flip while a hugeint-summing oracle would not — swap
   * MomentState to BigInt fields above that volume (same plan shape,
   * state still fixed-size).
   */
  def anomalyStream(points: Dataset[(String, Long, Long)],
                    minPrior: Long = 30): Dataset[AnomalyPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.groupByKey(_._1)
      .flatMapGroupsWithState[MomentState, AnomalyPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (series, rows, state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyPoint]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, ts, x) =>
            val d = st.n * x - st.s
            if (st.n >= minPrior && d * d > 9L * (st.n * st.q - st.s * st.s))
              out += AnomalyPoint(series, ts, x, st.n)
            st = MomentState(st.n + 1, st.s + x, st.q + x * x)
          }
          state.update(st)
          out.iterator
      }
  }

  /**
   * Streaming exact dedup: the first arrival of each content hash
   * passes, replicas are dropped. State is one entry per DISTINCT
   * hash inside the watermark horizon — bounded by content variety and
   * time, not event volume — and `dropDuplicatesWithinWatermark` lets
   * Spark expire entries once the watermark passes them (plain
   * `dropDuplicates` on a non-event-time key would keep state
   * forever). The batch-equivalent semantics (first occurrence per
   * hash in arrival order) are what the `stream_dedup` query oracles.
   */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /**
   * Streaming maintenance of the corpus SIGNATURE TABLE: each
   * arriving document maps statelessly to its (id, shingle hashes,
   * minhash signature, simhash) row — the same kernels and row shape
   * as the batch `Dedup.signatures`, so the appended table IS the
   * published signature artifact the dedup stages probe, kept current
   * as the corpus grows instead of rebuilt per run. Stateless map →
   * append sink: no watermark, no state store, pure per-row compute —
   * the cheapest possible streaming operator, which is exactly why
   * signatures belong at ingest time.
   */
  def signatureStream(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 64): DataFrame =
    graft.ops.Dedup.signatures(docs, idCol, textCol, k)

  /**
   * Maintain the winnow-fingerprint table at ingest, the same way
   * [[signatureStream]] maintains shingle signatures: fingerprints are
   * a pure per-doc function (one `winnow_fps` kernel call), so the
   * stream is a stateless map + explode into an append sink — the
   * published span-fingerprint artifact (`text_winnowing` /
   * `dedup_winnow`'s input) stays current as the corpus grows instead
   * of re-scanning text per run.
   */
  def winnowStream(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 4, w: Int = 8): DataFrame =
    graft.ops.TextOps.winnowing(docs, idCol, textCol, k, w)

  /** Append-mode parquet sink for the chunk stream, partitioned by
    * window date for partition pruning on the read side. */
  def writeChunks(chunks: DataFrame, path: String, checkpoint: String) =
    chunks
      .withColumn("window_date", to_date(to_timestamp(col("window_start"))))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .partitionBy("window_date")
      .format("parquet")
      .option("path", path)
  }
