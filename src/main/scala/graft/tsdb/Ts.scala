package graft.tsdb

import graft.functions.gorilla_decode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The TSDB layer: Gorilla-compressed 2-hour chunks over DataFrames.
 *
 * Mirrors the reference's storage model — a stream per (series, 2-hour
 * block) (reference: src/timestamp_stream.rs:1-9, examples/
 * csv_to_packed.rs:20-23) — but re-expressed as a declarative Spark
 * pipeline: chunking is a groupBy over (series, window), queries prune
 * chunks by window/stat columns *before* any decode work, and all
 * post-decode shaping stays in Catalyst-optimized DataFrame ops.
 *
 * Scale notes: a chunk is bounded (≤ windowSec points at 1 Hz), so the
 * per-group collect_list is bounded memory; chunk tables partitioned by
 * `window_date` give partition pruning at 100 TB; per-chunk min/max
 * stats columns give parquet row-group pruning without decoding.
 */
object Ts {
  val WindowSec = 7200L

  /** Fixed-point scale for per-chunk value sums (`sum_cents` =
    * Σ round(v * FixedScale) as long). Long sums are order-independent,
    * so re-aggregating chunk partials across a shuffle stays exact at
    * any cluster size — a double `sum_v` would drift with partitioning. */
  val FixedScale = 100.0

  /** Truncate a timestamp column to epoch seconds (floor).
    * Handles parquet TIMESTAMP(MICROS) read as TIMESTAMP/TIMESTAMP_NTZ
    * (naive values bind to the session timezone, pinned UTC — matching
    * the oracle's `epoch_ns(ts) // 1e9`, which treats naive as UTC),
    * raw epoch-nano longs (parquet TIMESTAMP(NANOS) under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), and plain numeric
    * epoch seconds. Integer division throughout — nano/micro epochs
    * exceed 2^53, so double math would drift; ANSI mode also forbids a
    * direct timestamp→long cast. */
  def epochSec(df: DataFrame, tsCol: String): Column = df.schema(tsCol).dataType match {
    case org.apache.spark.sql.types.LongType => expr(s"$tsCol div 1000000000")
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      expr(s"unix_micros(cast($tsCol as timestamp)) div 1000000")
    case _: org.apache.spark.sql.types.TimestampType =>
      expr(s"unix_micros($tsCol) div 1000000")
    case _ => col(tsCol).cast("long")
  }

  /**
   * Compress raw points into one row per (series, window): columns
   * `seriesCols*, window_start, n, min_ts, max_ts, min_v, max_v,
   * sum_cents, sumsq_cents, chunk`. The two fixed-point stats are the
   * exact integer first and second moments (Σc, Σc² with
   * c = round(v·FixedScale)): mean/variance/3-sigma queries derive
   * per-series moments from headers alone — zero chunk decode.
   *
   * Sort-based: hash-repartition on (series, window), sort within
   * partitions by (series, window, ts, v), then stream consecutive
   * runs straight into the encoder — no per-group array collection,
   * no sort_array copies, spill-friendly (Spark's external sorter owns
   * the memory). ~6x the throughput of a collect_list aggregation at
   * dense-series shapes.
   */
  def chunkify(events: DataFrame, seriesCols: Seq[String], tsCol: String, valCol: String,
               windowSec: Long = WindowSec, leadTrail: Boolean = false): DataFrame = {
    val base = events
      .select(seriesCols.map(col) :+ epochSec(events, tsCol).as("__sec") :+
        col(valCol).cast("double").as("__v"): _*)
    // the window is a pure function of __sec, so it rides the shuffle as
    // a repartition EXPRESSION and no window column crosses it: 8 fewer
    // bytes per shuffled row on the encode-dominant path
    encodeSorted(base, seriesCols,
      (floor(col("__sec") / windowSec) * windowSec).cast("long"), leadTrail)
  }

  /** Sort-based encode of a (seriesCols*, __sec, __v) frame into one
    * chunk per (series, `window`): hash-repartition on the series and
    * `window`, evaluate `window` as `window_start` after the exchange,
    * external-sort within partitions by (series, window_start, __sec,
    * __v), and stream each consecutive run straight into the gorilla
    * encoder. */
  private def encodeSorted(base: DataFrame, seriesCols: Seq[String], window: Column,
                           leadTrail: Boolean): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val sorted = base
      .repartition(seriesCols.map(col) :+ window: _*)
      .select(seriesCols.map(col) :+ window.as("window_start") :+ col("__sec") :+ col("__v"): _*)
      .sortWithinPartitions((seriesCols :+ "window_start" :+ "__sec" :+ "__v").map(col): _*)
    val outSchema = StructType(
      seriesCols.map(k => sorted.schema(k)).toArray ++ Array(
        StructField("window_start", LongType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("min_ts", LongType, nullable = false),
        StructField("max_ts", LongType, nullable = false),
        StructField("min_v", DoubleType, nullable = false),
        StructField("max_v", DoubleType, nullable = false),
        StructField("sum_cents", LongType, nullable = false),
        StructField("sumsq_cents", LongType, nullable = false),
        StructField("chunk", BinaryType, nullable = false)))
    val winIdx = sorted.schema.fieldIndex("window_start")
    val secIdx = sorted.schema.fieldIndex("__sec")
    val vIdx = sorted.schema.fieldIndex("__v")
    val keyIdx = seriesCols.map(sorted.schema.fieldIndex).toArray
    sorted.mapPartitions { rows =>
      new Iterator[Row] {
        private val it = rows.buffered
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          val head = it.head
          val key = keyIdx.map(head.get)
          val window = head.getLong(winIdx)
          var ts = new Array[Long](64)
          var vs = new Array[Double](64)
          var n = 0
          var minV = Double.PositiveInfinity
          var maxV = Double.NegativeInfinity
          var sumC = 0L
          var sumQ = 0L
          while (it.hasNext && it.head.getLong(winIdx) == window &&
              java.util.Arrays.equals(
                keyIdx.map(it.head.get).asInstanceOf[Array[AnyRef]],
                key.asInstanceOf[Array[AnyRef]])) {
            val r = it.next()
            if (n == ts.length) {
              ts = java.util.Arrays.copyOf(ts, n * 2)
              vs = java.util.Arrays.copyOf(vs, n * 2)
            }
            val v = r.getDouble(vIdx)
            ts(n) = r.getLong(secIdx)
            vs(n) = v
            if (v < minV) minV = v
            if (v > maxV) maxV = v
            val c = graft.core.GorillaCodec.halfUpFixed(v * FixedScale)
            sumC += c
            sumQ += c * c
            n += 1
          }
          // header time aligns to the first point's 2h block, not the
          // (possibly much larger) window: keeps the 14-bit first
          // delta valid for any windowSec; chunks are self-describing
          val bytes = graft.core.GorillaCodec.encode(
            java.util.Arrays.copyOf(ts, n), java.util.Arrays.copyOf(vs, n),
            graft.core.GorillaCodec.alignWindow(ts(0), WindowSec), leadTrail)
          Row.fromSeq(key.toSeq ++
            Seq(window, n.toLong, ts(0), ts(n - 1), minV, maxV, sumC, sumQ, bytes))
        }
      }
    }(Encoders.row(outSchema))
  }

  /**
   * Density-adaptive chunking for mixed dense/sparse workloads: each
   * series gets a window sized so chunks average ~`targetPoints`
   * points (clamped to [windowSec, maxWindowSec], multiples of
   * windowSec). Sparse series stop paying one chunk header per
   * near-empty 2-h block — the fix for header-dominated ratios —
   * while dense series keep small windows. Two passes: a per-series
   * stats aggregation (tiny — one row per series), then the normal
   * sort-based encode keyed by the per-series window.
   */
  def chunkifyAdaptive(events: DataFrame, seriesCols: Seq[String], tsCol: String,
                       valCol: String, targetPoints: Long = 512,
                       windowSec: Long = WindowSec,
                       maxWindowSec: Long = 365L * 86400): DataFrame = {
    val base = events
      .select(seriesCols.map(col) :+ epochSec(events, tsCol).as("__sec") :+
        col(valCol).cast("double").as("__v"): _*)
    val stats = base.groupBy(seriesCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), min("__sec").as("__t0"), max("__sec").as("__t1"))
      .select(seriesCols.map(col) :+
        least(lit(maxWindowSec), greatest(lit(windowSec),
          (ceil((col("__t1") - col("__t0") + 1) * targetPoints /
            (col("__n") * windowSec.toDouble)) * windowSec).cast("long"))).as("__wsec"): _*)
    encodeSorted(base.join(broadcast(stats), seriesCols), seriesCols,
      (floor(col("__sec") / col("__wsec")) * col("__wsec")).cast("long"), leadTrail = false)
  }

  /** Decode chunks back to one row per point: `seriesCols*, ts, v`. */
  def unpack(chunks: DataFrame, seriesCols: Seq[String]): DataFrame =
    chunks
      .select(seriesCols.map(col) :+ explode(gorilla_decode(col("chunk"))).as("__p"): _*)
      .select(seriesCols.map(col) :+ col("__p.ts").as("ts") :+ col("__p.v").as("v"): _*)

  /**
   * Time-range scan. Chunk pruning happens on (window_start, min_ts,
   * max_ts) — plain comparisons Catalyst pushes to the parquet scan —
   * so only overlapping chunks are decoded; the residual per-point
   * filter runs after decode.
   */
  def rangeQuery(chunks: DataFrame, seriesCols: Seq[String],
                 fromSec: Long, toSec: Long): DataFrame = {
    val pruned = chunks.filter(col("max_ts") >= fromSec && col("min_ts") <= toSec)
    unpack(pruned, seriesCols).filter(col("ts") >= fromSec && col("ts") <= toSec)
  }

  /**
   * Read-your-writes range query: sealed store chunks UNION the open
   * (not yet sealed) tail of raw points — the reference README's
   * "serve queries mid-stream" further-work item (a dashboard's
   * last-2h panel must see points the sealer still holds).
   *
   * `open` is a point frame (`seriesCols*, ts: long, v: double`), e.g.
   * the streaming source's unflushed tail. Exactly-once is structural,
   * not caller-enforced: each series' SEALED HORIZON (max stored
   * point-level `max_ts` — a stat-column aggregate, zero chunk bytes
   * read) gates the open side, so re-presenting already-sealed points
   * in `open` can never double-count. This is the Gorilla seal
   * contract (blocks close in time order per series) expressed as a
   * filter: open contributes strictly AFTER the horizon.
   *
   * Scale shape: the sealed side is the normal pruned store scan; the
   * horizon is one row per series (AQE broadcasts it onto the open
   * tail); the open side is micro-batch-sized, never history-sized.
   */
  def liveRange(chunks: DataFrame, open: DataFrame, seriesCols: Seq[String],
                fromSec: Long, toSec: Long,
                extraHorizon: Option[DataFrame] = None): DataFrame = {
    val sealedRows = rangeQuery(chunks, seriesCols, fromSec, toSec)
    val chunkHorizon = chunks.groupBy(seriesCols.map(col): _*)
      .agg(max("max_ts").as("__horizon"))
    // a persisted horizon marker (deleteFromStore) outlives the chunks
    // it was derived from: after a delete of a series' newest chunks
    // the chunk-derived horizon DROPS, and a replay of the deleted
    // (already-ingested-once) points would resurrect through the
    // guard — exactly-once requires max(chunk horizon, marker)
    val horizon = extraHorizon match {
      case None => chunkHorizon
      case Some(m) => chunkHorizon
        .unionByName(m.select(seriesCols.map(col) :+
          col("horizon_ts").as("__horizon"): _*))
        .groupBy(seriesCols.map(col): _*)
        .agg(max("__horizon").as("__horizon"))
    }
    val tail = open
      .select(seriesCols.map(col) :+ col("ts").cast("long").as("ts") :+
        col("v").cast("double").as("v"): _*)
      .join(horizon, seriesCols, "left")
      .filter(col("__horizon").isNull || col("ts") > col("__horizon"))
      .filter(col("ts") >= fromSec && col("ts") <= toSec)
      .drop("__horizon")
    sealedRows.unionByName(tail)
  }

  /**
   * Compressed-domain range aggregate: count/min/max/fixed-point-sum
   * over `[fromSec, toSec]` per series, WITHOUT materializing points.
   *
   * One scan, three tiers of work, each strictly cheaper than
   * decoding:
   *  - chunks outside the range: eliminated by the (min_ts, max_ts)
   *    stat columns — pushed to the parquet scan, never read;
   *  - chunks fully inside the range: answered from the stored header
   *    stats (n, min/max, sum_cents, sumsq_cents) — covered chunks are
   *    never decoded (their `chunk` column is read by the one scan, but
   *    the `when` never reaches the kernel for them);
   *  - boundary chunks (straddling an endpoint): a streaming
   *    `gorilla_chunk_agg_range` pass — decode-and-fold, no point
   *    arrays, only for the at-most-two boundary windows per series.
   *
   * A covered/boundary union would read the store twice (Spark does
   * not share parquet scans); one conditional projection reads it once.
   *
   * Generalizes the reference's compressed-read aggregation
   * (examples/csv_to_packed.rs:40-78) from whole-file to time ranges.
   */
  def rangeAgg(chunks: DataFrame, seriesCols: Seq[String],
               fromSec: Long, toSec: Long): DataFrame = {
    val statCols = Seq("n", "min_ts", "max_ts", "min_v", "max_v",
      "sum_cents", "sumsq_cents")
    // empty-in-range boundary chunks yield a NULL agg struct (not a
    // row filter: Catalyst would push `a.n > 0` below the Project and
    // evaluate the decode twice); null fields then vanish inside the
    // aggregates, and all-null groups are dropped afterwards
    val a = when(col("min_ts") >= fromSec && col("max_ts") <= toSec,
        struct(statCols.map(col): _*))
      .otherwise(graft.functions.gorilla_chunk_agg_range(col("chunk"), fromSec, toSec))
    chunks.filter(col("max_ts") >= fromSec && col("min_ts") <= toSec)
      .select(seriesCols.map(col) :+ a.as("a"): _*)
      .groupBy(seriesCols.map(col): _*)
      .agg(sum("a.n").as("n"),
        min("a.min_ts").as("min_ts"), max("a.max_ts").as("max_ts"),
        min("a.min_v").as("min_v"), max("a.max_v").as("max_v"),
        sum("a.sum_cents").as("sum_cents"), sum("a.sumsq_cents").as("sumsq_cents"))
      .filter(col("n").isNotNull)
  }

  /**
   * Compressed-domain DOWNSAMPLE: per-series `bucketSec` resample
   * computed from per-chunk bucket partials — one streaming decode
   * folds each chunk into ≤ windowSec/bucketSec partial rows (a 2-h
   * 1 Hz chunk becomes ≤ 8 rows for 15-min buckets instead of 7200
   * exploded points), and the partials merge exactly across
   * chunks/shuffles (counts, nan-safe min/max, HALF_UP
   * fixed-point sums — all order-independent). The TSDB's highest
   * frequency query shape with a ~bucket-width× cut in rows through
   * the aggregate, and never a point struct materialized.
   * NaN contract (pinned in TsStoreSpec): NaN values contribute 0 to
   * the fixed sum; max is NaN when any value in the bucket was NaN,
   * min only when all were.
   */
  def downsampleCompressed(chunks: DataFrame, seriesCols: Seq[String],
                           bucketSec: Long = 900,
                           fixedScale: Double = FixedScale): DataFrame =
    chunks
      .select(seriesCols.map(col) :+
        explode(graft.functions.gorilla_chunk_bucket_agg(
          col("chunk"), bucketSec, fixedScale)).as("__b"): _*)
      .groupBy(seriesCols.map(col) :+ col("__b.bucket").as("bucket"): _*)
      .agg(sum("__b.n").as("n"),
        min("__b.min_v").as("min_v"), max("__b.max_v").as("max_v"),
        sum("__b.sum_fixed").as("sum_cents"))
      .withColumn("avg_v", col("sum_cents") / (col("n") * fixedScale))

  /**
   * Compressed-domain downsample WITH dispersion: same single
   * streaming decode per chunk as [[downsampleCompressed]], but the
   * per-bucket partials carry the exact integer second moment too, so
   * each bucket reports variance — Prometheus's `stddev_over_time`
   * shape — as (nQ − S²)/n² with an exact long numerator and one
   * float division. Partials re-aggregate exactly across chunks (all
   * longs), so bucket variance is deterministic under any
   * partitioning.
   */
  def downsampleStatsCompressed(chunks: DataFrame, seriesCols: Seq[String],
                                bucketSec: Long = 900,
                                fixedScale: Double = FixedScale): DataFrame =
    chunks
      .select(seriesCols.map(col) :+
        explode(graft.functions.gorilla_chunk_bucket_agg(
          col("chunk"), bucketSec, fixedScale)).as("__b"): _*)
      .groupBy(seriesCols.map(col) :+ col("__b.bucket").as("bucket"): _*)
      .agg(sum("__b.n").as("n"),
        min("__b.min_v").as("min_v"), max("__b.max_v").as("max_v"),
        sum("__b.sum_fixed").as("sum_cents"),
        sum("__b.sumsq_fixed").as("sumsq_cents"))
      .withColumn("avg_v", col("sum_cents") / (col("n") * fixedScale))
      .withColumn("var_cents",
        (col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
          .cast("double") / (col("n") * col("n")))

  /**
   * Materialized rollup (continuous aggregate): fold the chunk
   * store's per-chunk bucket partials ONCE into a persisted
   * per-(series, bucket) partial table, partitioned by bucket date.
   * Serving a downsample then never touches chunk bytes — a pruned
   * scan of tiny partial rows plus an exact merge — which is how
   * dashboards survive 100 TB: the raw store answers ad-hoc ranges,
   * the rollup answers the standing aggregation cheaply, forever.
   *
   * The partials are all exact integers / nan-safe min-max (the same
   * algebra as [[downsampleCompressed]]), so they re-aggregate
   * losslessly to ANY multiple of the base bucket: one 15-min rollup
   * serves 15-min, 1-h, and 1-d queries bit-identically to computing
   * from raw (oracle-shared with the raw-path query).
   */
  def writeRollup(chunks: DataFrame, seriesCols: Seq[String], path: String,
                  bucketSec: Long = 900, fixedScale: Double = FixedScale): Unit =
    rollupPartials(chunks, seriesCols, bucketSec, fixedScale)
      .hint("rebalance", col("bucket_date")) // file sizing, see writeStore
      .write.mode("overwrite")
      .partitionBy("bucket_date")
      .parquet(path)

  /** One exact partial row per (series, bucket), dated for partition
    * pruning — the stored form behind write/upsertRollup. */
  private def rollupPartials(chunks: DataFrame, seriesCols: Seq[String],
                             bucketSec: Long, fixedScale: Double): DataFrame =
    chunks
      .select(seriesCols.map(col) :+
        explode(graft.functions.gorilla_chunk_bucket_agg(
          col("chunk"), bucketSec, fixedScale)).as("__b"): _*)
      .groupBy(seriesCols.map(col) :+ col("__b.bucket").as("bucket"): _*)
      .agg(sum("__b.n").as("n"),
        min("__b.min_v").as("min_v"), max("__b.max_v").as("max_v"),
        sum("__b.sum_fixed").as("sum_cents"),
        sum("__b.sumsq_fixed").as("sumsq_cents"))
      .withColumn("bucket_date", to_date(to_timestamp(col("bucket"))))

  /**
   * Incremental rollup maintenance: fold ONLY the given chunks (e.g.
   * today's sealed ingest) into partials and swap exactly their
   * `bucket_date` partitions into the standing rollup — the
   * "continuous" in continuous aggregate. Chunks must cover their
   * buckets' full day (partition replace, not merge); re-running a
   * day is idempotent under at-least-once upstream delivery, same
   * contract as [[upsertStore]]. Equals a full rebuild over the union
   * (spec-pinned) at O(day) instead of O(history) cost.
   */
  def upsertRollup(chunks: DataFrame, seriesCols: Seq[String], path: String,
                   bucketSec: Long = 900, fixedScale: Double = FixedScale): Unit =
    rollupPartials(chunks, seriesCols, bucketSec, fixedScale)
      .hint("rebalance", col("bucket_date")) // file sizing, see writeStore
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket_date")
      .parquet(path)

  /**
   * MERGE-fold an arbitrary chunk increment into a standing rollup —
   * the streaming-maintenance shape. A micro-batch carries no
   * full-day contract (it may even hold partial chunks of a window
   * the next batch continues), so its partials must MERGE with the
   * stored partials of the `bucket_date` partitions they touch —
   * sums add, min/max compose, exactly the mergeable-partial algebra
   * the rollup stores — and only those partitions rewrite (existing
   * rows are semi-joined on the touched dates; history partitions are
   * never read or written). Cost per fold: O(increment + touched
   * partitions), independent of history size.
   *
   * Unlike [[upsertRollup]]'s partition replace, a REPLAYED increment
   * is not idempotent (a merge applied twice counts twice) — callers
   * own replay protection; [[graft.streaming.StreamIngest.rollupStream]]
   * does it with the sink's transactional batchId.
   */
  def mergeRollup(chunks: DataFrame, seriesCols: Seq[String], path: String,
                  bucketSec: Long = 900, fixedScale: Double = FixedScale): Unit = {
    val spark = chunks.sparkSession
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = rollupPartials(chunks, seriesCols, bucketSec, fixedScale)
    val merged =
      if (!fs.exists(marker)) fresh
      else {
        val cols = fresh.columns
        val touched = fresh.select("bucket_date").distinct()
        val existing = readRollup(spark, path)
          .join(broadcast(touched), Seq("bucket_date"), "left_semi")
          .select(cols.map(col): _*)
        existing.union(fresh.select(cols.map(col): _*))
          .groupBy((seriesCols :+ "bucket").map(col): _*)
          .agg(sum("n").as("n"),
            min("min_v").as("min_v"), max("max_v").as("max_v"),
            sum("sum_cents").as("sum_cents"),
            sum("sumsq_cents").as("sumsq_cents"))
          .withColumn("bucket_date", to_date(to_timestamp(col("bucket"))))
      }
    // the merged plan READS the partitions it is about to overwrite —
    // localCheckpoint materializes the merge (truncating the lineage
    // back to an in-memory scan) before the write touches the path
    merged.localCheckpoint(true)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket_date")
      .parquet(path)
    // dynamic-overwrite commits do NOT write a root _SUCCESS (they
    // stage and swap partition dirs only) — write the marker
    // ourselves, AFTER the commit, so the next fold sees a store to
    // merge into and readers keep the _SUCCESS-gated contract. The
    // remaining gap is a crash BETWEEN partition swaps of one fold:
    // replaying that fold would re-merge the partitions that did
    // commit — closing it needs an atomic multi-partition commit (a
    // transactional table format), so a mid-commit crash should
    // rebuild the touched dates from chunks (upsertRollup) instead
    fs.create(marker, true).close()
  }

  /** Open a rollup; `fromSec`/`toSec` prune partitions at plan time. */
  def readRollup(spark: org.apache.spark.sql.SparkSession, path: String,
                 fromSec: Long = Long.MinValue, toSec: Long = Long.MaxValue): DataFrame = {
    val df = spark.read.parquet(path)
    if (fromSec == Long.MinValue && toSec == Long.MaxValue) df
    else df.filter(
      col("bucket_date") >= to_date(to_timestamp(lit(fromSec))) &&
      col("bucket_date") <= to_date(to_timestamp(lit(toSec))))
  }

  /**
   * Serve a downsample off a materialized rollup at `servedBucketSec`
   * — any multiple of the rollup's base bucket (the caller owns that
   * contract; partials merged across a misaligned boundary would
   * split points into the wrong bucket, not error). Pure partial
   * merge: longs sum, min/max compose, avg derives at the end.
   */
  def serveRollup(rollup: DataFrame, seriesCols: Seq[String],
                  servedBucketSec: Long,
                  fixedScale: Double = FixedScale): DataFrame =
    rollup
      .groupBy(seriesCols.map(col) :+
        (floor(col("bucket") / servedBucketSec) * servedBucketSec)
          .cast("long").as("bucket"): _*)
      .agg(sum("n").as("n"),
        min("min_v").as("min_v"), max("max_v").as("max_v"),
        sum("sum_cents").as("sum_cents"))
      .withColumn("avg_v", col("sum_cents") / (col("n") * fixedScale))

  /** Latest point per series: stat-prune to each series' max-ts
    * chunk(s), decode only those. Keyed on the point-level `max_ts`
    * stat (tighter than window_start, and fragmentation-safe: per-batch
    * ingest legally stores several chunks per window, and an
    * exact max_ts tie keeps ALL tied chunks so the final (ts, v)
    * arg-max still sees every candidate point). The join's build side
    * is one row per series — AQE broadcasts it. */
  def latest(chunks: DataFrame, seriesCols: Seq[String]): DataFrame = {
    val newest = chunks.groupBy(seriesCols.map(col): _*)
      .agg(max("max_ts").as("max_ts"))
    val lastChunks = chunks.join(newest, seriesCols :+ "max_ts", "left_semi")
    unpack(lastChunks, seriesCols)
      .groupBy(seriesCols.map(col): _*)
      .agg(max(struct(col("ts"), col("v"))).as("__m"))
      .select(seriesCols.map(col) :+ col("__m.ts").as("ts") :+ col("__m.v").as("v"): _*)
  }

  /**
   * Persist a chunk table partitioned by window date: partition pruning
   * handles coarse time ranges, per-chunk stat columns handle the rest,
   * and only surviving chunks are ever decoded.
   *
   * File sizing (optimization guide §6): chunk rows arrive in
   * shuffle-partition-count tasks, so a naive write emits
   * (#shuffle partitions)×(#dates) near-empty files — measured 992
   * files / 82 MB on the sf0.1 native store, and every read pays the
   * per-file open+footer cost 992×. The AQE REBALANCE hint clusters
   * rows by `window_date` and then splits/coalesces to the advisory
   * partition size, so small stores collapse to ~one file per date
   * while at 100 TB a hot date still fans out into many
   * advisory-sized files — scale-adaptive, not tuned to local mode.
   * `rebalance = false` exists for the bench's pinned write-control
   * op, whose cross-round pin predates this change (Bench.scala).
   */
  def writeStore(chunks: DataFrame, path: String, mode: String = "overwrite",
                 rebalance: Boolean = true): Unit = {
    val dated = chunks
      .withColumn("window_date", to_date(to_timestamp(col("window_start"))))
    (if (rebalance) dated.hint("rebalance", col("window_date")) else dated)
      .write.mode(mode)
      .partitionBy("window_date")
      .parquet(path)
  }

  /**
   * Idempotent per-window-date (re-)ingest: dynamic partition overwrite
   * replaces EXACTLY the `window_date` partitions present in `chunks`
   * and leaves every other partition untouched. Re-running a day's
   * ingest (backfill, late pipeline retry) swaps that day's chunks in
   * place — a plain append would double-write them, and a full
   * overwrite would drop the rest of the store. This is the
   * operational contract that makes the store trustworthy under
   * at-least-once upstream delivery.
   */
  def upsertStore(chunks: DataFrame, path: String): Unit =
    chunks
      .withColumn("window_date", to_date(to_timestamp(col("window_start"))))
      .hint("rebalance", col("window_date")) // file sizing, see writeStore
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("window_date")
      .parquet(path)

  /**
   * Retention: drop `window_date` partitions strictly older than
   * `olderThanDays` days before `asOfSec` — Gorilla's block aging
   * (§4.1's out-of-memory aging) as a metadata-only batch operation:
   * partition-directory deletes, zero chunk bytes read or rewritten.
   * Uses the Hadoop FileSystem API so the same call works on HDFS/
   * object stores, not just local disk.
   */
  def expireStore(spark: org.apache.spark.sql.SparkSession, path: String,
                  olderThanDays: Int, asOfSec: Long): Unit = {
    val cutoffDay = Math.floorDiv(asOfSec, 86400L) - olderThanDays
    val cutoff = java.time.LocalDate.ofEpochDay(cutoffDay)
    val cutoffSec = cutoffDay * 86400L
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val candidates = fs.listStatus(root).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("window_date=") &&
        java.time.LocalDate.parse(
          st.getPath.getName.stripPrefix("window_date=")).isBefore(cutoff)
    }
    if (candidates.isEmpty) return
    // Retention guard (r19, ADVICE follow-up): `window_date` is the
    // chunk's START date, and a [[chunkifyAdaptive]] store's windows
    // stretch to days — a candidate partition can hold chunks whose
    // max_ts reaches AT OR PAST the cutoff midnight, i.e. live points.
    // One stat-column pass over just the candidate partitions (chunk
    // payload bytes never read) finds those; they survive the drop.
    // On fixed-2-h stores (windows never straddle midnight) the guard
    // never fires and behavior is identical to the plain date drop.
    val live = dateSpans(spark.read.option("basePath", path)
        .parquet(candidates.map(_.getPath.toString).toSeq: _*))
      .collect { case (d, (_, hi)) if hi >= cutoffSec => d }.toSet
    candidates.foreach { st =>
      val d = st.getPath.getName.stripPrefix("window_date=")
      if (!live.contains(d)) fs.delete(st.getPath, true)
    }
  }

  /** [[expireStore]] generalized to any top-level DATE partition
    * column — the alert state log ages on `state_date`, the chunk
    * stores on `window_date`; same metadata-only directory deletes. */
  def expirePartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                       column: String, olderThanDays: Int, asOfSec: Long): Unit = {
    val cutoff = java.time.LocalDate.ofEpochDay(
      Math.floorDiv(asOfSec, 86400L) - olderThanDays)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(s"$column=")) {
        val d = java.time.LocalDate.parse(name.stripPrefix(s"$column="))
        if (d.isBefore(cutoff)) fs.delete(st.getPath, true)
      }
    }
  }

  /**
   * Surgical point DELETE from a chunk frame: remove every point with
   * `fromSec <= ts <= toSec`, touching the minimum set of chunks.
   * The chunk headers' (min_ts, max_ts) split the frame three ways
   * with plain metadata comparisons — no decode decides membership:
   *   - untouched (max_ts < from || min_ts > to): encoded bytes pass
   *     through UNREAD — with `window_date` pruning on a store scan
   *     this is ~every chunk at 100 TB;
   *   - fully covered (min_ts >= from && max_ts <= to): dropped
   *     without ever reading the payload;
   *   - straddling (at most the two boundary windows per series):
   *     decoded, point-filtered, and re-encoded in their OWN
   *     (series, window_start) by the same sort-based deterministic
   *     encode — so a straddler never moves to another window or
   *     date, whatever window size the store was built with
   *     ([[chunkifyAdaptive]]'s multi-day windows included), and on a
   *     fixed 2-h store the surviving chunk is byte-identical to
   *     chunkifying the surviving points directly.
   * This is retention finer than [[expireStore]]'s partition drops
   * (GDPR-style erasure, bad-ingest rollback) as one linear pass.
   */
  def deleteRange(chunks: DataFrame, seriesCols: Seq[String],
                  fromSec: Long, toSec: Long): DataFrame = {
    val untouched = chunks.filter(
      col("max_ts") < fromSec || col("min_ts") > toSec)
    val straddling = chunks.filter(
      !(col("max_ts") < fromSec || col("min_ts") > toSec) &&
      !(col("min_ts") >= fromSec && col("max_ts") <= toSec))
    val keyCols = seriesCols :+ "window_start"
    val survivors = straddling
      .select(keyCols.map(col) :+ explode(gorilla_decode(col("chunk"))).as("__p"): _*)
      .select(keyCols.map(col) :+ col("__p.ts").as("__sec") :+ col("__p.v").as("__v"): _*)
      .filter(col("__sec") < fromSec || col("__sec") > toSec)
    untouched.unionByName(
      encodeSorted(survivors, seriesCols, col("window_start"), leadTrail = false))
  }

  /**
   * Late-data UPSERT into a chunk frame: merge a batch of
   * late-arriving points into the minimum set of chunks — Gorilla's
   * append path for data that missed its ingest window (backfill,
   * delayed producers, correction replays). The batch's distinct
   * (series, window) keys — bounded by the batch, broadcastable —
   * route chunks with a metadata-only join:
   *   - untouched chunks (no late point in their window) pass through
   *     with their encoded bytes UNREAD — at 100 TB that is ~every
   *     chunk, since a late batch clusters in a few recent windows;
   *   - touched windows decode, union the late points, and re-encode
   *     via the same sort-based deterministic chunkify, so the result
   *     is byte-identical to having ingested the late points on time;
   *   - late windows with no existing chunk encode fresh.
   * Merge-append semantics (multiset, like the codec): a late point
   * that duplicates an existing (ts, v) is stored again, exactly as
   * an on-time duplicate would have been. For corpus-scale backfills
   * (late ≈ corpus) skip the routing and re-chunkify directly — the
   * broadcast assumption is a BATCH, not a second corpus.
   */
  def upsertPoints(chunks: DataFrame, late: DataFrame, seriesCols: Seq[String],
                   tsCol: String, valCol: String,
                   windowSec: Long = WindowSec): DataFrame = {
    val pts = latePoints(late, seriesCols, tsCol, valCol)
    mergeLate(chunks, pts, windowKeys(pts, seriesCols, windowSec).distinct(),
      seriesCols, windowSec)
  }

  /** A late batch as (seriesCols*, ts epoch seconds, v double). */
  private def latePoints(late: DataFrame, seriesCols: Seq[String],
                         tsCol: String, valCol: String): DataFrame =
    late.select(seriesCols.map(col) :+
      epochSec(late, tsCol).as("ts") :+
      col(valCol).cast("double").as("v"): _*)

  /** Each late point's (seriesCols*, window_start) routing key. */
  private def windowKeys(pts: DataFrame, seriesCols: Seq[String],
                         windowSec: Long): DataFrame =
    pts.select(seriesCols.map(col) :+
      (floor(col("ts") / windowSec) * windowSec).cast("long").as("window_start"): _*)

  /** The [[upsertPoints]] merge, routed by the batch's distinct
    * (seriesCols*, window_start) `keys`. */
  private def mergeLate(chunks: DataFrame, pts: DataFrame, keys: DataFrame,
                        seriesCols: Seq[String], windowSec: Long): DataFrame = {
    val joinCols = seriesCols :+ "window_start"
    val untouched = chunks.join(broadcast(keys), joinCols, "left_anti")
    val touched = chunks.join(broadcast(keys), joinCols, "left_semi")
    val merged = unpack(touched, seriesCols)
      .unionByName(pts)
      // ts is epoch seconds here; through timestamp so chunkify's
      // epochSec reads it as seconds (same as compactStore)
      .withColumn("ts", to_timestamp(col("ts")))
    untouched.unionByName(chunkify(merged, seriesCols, "ts", "v", windowSec))
  }

  /**
   * In-place late-data upsert on a PERSISTED store — [[upsertPoints]]
   * routed by the partition layout: only the `window_date` partitions
   * the late batch lands in are read, merged, and written back via
   * dynamic partition overwrite; every other date is never read or
   * rewritten. New dates the store has never seen appear as fresh
   * partitions. The batch's distinct (series, window_start) keys are
   * collected once, in one shuffle-free job (each task dedupes its
   * own rows), and come back as a local relation: the touched dates
   * derive from it with the partition column's own expression, and
   * the merge broadcasts it, neither running a job of its own. No
   * horizon marker is needed (unlike [[deleteFromStore]]): an upsert
   * only ADDS chunks, so the chunk-derived ingest horizon can only
   * rise.
   */
  def upsertIntoStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      late: DataFrame, seriesCols: Seq[String],
                      tsCol: String, valCol: String,
                      windowSec: Long = WindowSec): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      writeStore(chunkify(late, seriesCols, tsCol, valCol, windowSec), path)
      return
    }
    val pts = latePoints(late, seriesCols, tsCol, valCol)
    val keyed = windowKeys(pts, seriesCols, windowSec)
    val keyRows = keyed
      .mapPartitions(_.toSet.iterator)(org.apache.spark.sql.Encoders.row(keyed.schema))
      .collect().distinct
    val keys = spark.createDataFrame(java.util.Arrays.asList(keyRows: _*), keyed.schema)
    val touchedDates = keys
      .select(to_date(to_timestamp(col("window_start"))).cast("string"))
      .collect().map(_.getString(0)).distinct.toSeq
    if (touchedDates.isEmpty) return
    val existing = spark.read.parquet(path)
      .filter(col("window_date").cast("string").isin(touchedDates: _*))
      .drop("window_date")
    upsertStore(mergeLate(existing, pts, keys, seriesCols, windowSec), path)
  }

  /**
   * In-place surgical delete on a PERSISTED store — [[deleteRange]]
   * routed by the partition layout, so pruning stacks three-deep:
   *   1. whole `window_date` partitions strictly inside the range
   *      drop as directory deletes (zero bytes read — expireStore's
   *      aging move applied to an interior range);
   *   2. only the boundary dates are read, where chunk headers route
   *      untouched chunks through unread and decode only straddlers;
   *   3. the surviving boundary chunks write back via dynamic
   *      partition overwrite — dates outside the range are never
   *      read or rewritten.
   * Every boundary date keeps at least one chunk, so the overwrite
   * replaces each one: the chunk holding its earliest or latest point
   * lies outside the range, and it survives either untouched or as a
   * straddler, which keeps that point and is re-encoded in its own
   * window, hence in its own date.
   *
   * Partition classification is METADATA-VERIFIED, not inferred from
   * day arithmetic: a partition is directory-deleted only when its
   * actual per-partition (min(min_ts), max(max_ts)) lies inside
   * [fromSec, toSec]. Day arithmetic would silently lose data on a
   * store whose chunks outlive an assumed window — chunkifyAdaptive
   * windows run up to 365 days. The stats pass reads two long columns
   * of the candidate partitions (header-sized vs the payload bytes it
   * saves from a wrong delete); `window_date > date(toSec)` partitions
   * are pruned from it for free because min_ts >= window_start >= its
   * partition's day start holds in every layout.
   *
   * The store is opened ONCE: the stats pass, the series columns, the
   * horizon marker and the boundary rewrite all share one frame. Its
   * file listing is a snapshot, which is safe here — the covered
   * partitions deleted before the rewrite are pruned out of it by the
   * boundary-date filter, and the `_graft_horizon` marker is hidden.
   */
  def deleteFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                      fromSec: Long, toSec: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val dates = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("window_date="))
      .map(_.getPath.getName.stripPrefix("window_date="))
    def dayStart(d: String) = java.time.LocalDate.parse(d).toEpochDay * 86400L
    val candidates = dates.filter(d => dayStart(d) <= toSec)
    if (candidates.isEmpty) return
    val store = spark.read.parquet(path)
    def onDates(ds: Seq[String]) =
      store.filter(col("window_date").cast("string").isin(ds: _*))
    val overlapping = dateSpans(onDates(candidates))
      .filter { case (_, (lo, hi)) => lo <= toSec && hi >= fromSec }
    if (overlapping.isEmpty) return
    val covered = overlapping
      .collect { case (d, (lo, hi)) if lo >= fromSec && hi <= toSec => d }.toSeq
    val boundary = overlapping.keys.toSeq.diff(covered)
    val seriesCols = storeSeriesCols(store)
    // BEFORE any bytes are deleted: persist each touched series'
    // pre-delete ingest horizon, merged with any prior marker. The
    // chunk-derived horizon drops when a series' newest chunks die
    // here, and liveRange's exactly-once replay guard needs the
    // high-water mark to survive the delete (a point at a deleted
    // timestamp was still INGESTED once — a replay of it must drop,
    // not resurrect). Stats-only scan of just the touched partitions;
    // untouched series keep their horizon via the surviving chunks.
    persistHorizon(spark, path, onDates(overlapping.keys.toSeq), seriesCols)
    covered.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"window_date=$d"), true))
    if (boundary.nonEmpty)
      upsertStore(deleteRange(onDates(boundary).drop("window_date"), seriesCols,
        fromSec, toSec), path)
  }

  /** Per-date (min(min_ts), max(max_ts)) of a store frame, from the
    * chunk headers alone and in one shuffle-free job: each task folds
    * its rows by `window_date`, and the driver merges the partials —
    * at most dates × tasks rows ever leave the executors. */
  private def dateSpans(store: DataFrame): Map[String, (Long, Long)] = {
    import org.apache.spark.sql.Encoders
    store.select(col("window_date").cast("string"), col("min_ts"), col("max_ts"))
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        rows.foreach { r =>
          val (lo, hi) = (r.getLong(1), r.getLong(2))
          acc(r.getString(0)) = acc.get(r.getString(0)) match {
            case Some((a, b)) => (math.min(a, lo), math.max(b, hi))
            case None => (lo, hi)
          }
        }
        acc.iterator.map { case (d, (lo, hi)) => (d, lo, hi) }
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .collect()
      .groupMapReduce(_._1)(t => (t._2, t._3))((a, b) =>
        (math.min(a._1, b._1), math.max(a._2, b._2)))
  }

  /** A store's series label columns: everything but the chunk header,
    * payload and partition columns. */
  private def storeSeriesCols(store: DataFrame): Seq[String] = {
    val fixed = Set("window_start", "n", "min_ts", "max_ts", "min_v", "max_v",
      "sum_cents", "sumsq_cents", "chunk", "window_date",
      "batch_id") // write provenance (streamed idempotent appends), never a series label
    store.columns.filterNot(fixed.contains).toSeq
  }

  /** `_`-prefixed so parquet readers of the store skip it as hidden. */
  private val HorizonDir = "_graft_horizon"

  /** Merge the touched partitions' per-series max(max_ts) into the
    * store's persisted horizon marker. Tmp-write + swap because the
    * merge READS the current marker; the frame is one row per touched
    * series (distributed write — never collected). The swap raises
    * when the filesystem refuses the rename, so the delete stops
    * before any chunk is touched. */
  private def persistHorizon(spark: org.apache.spark.sql.SparkSession,
                             path: String, touched: DataFrame,
                             seriesCols: Seq[String]): Unit = {
    val fresh = touched
      .groupBy(seriesCols.map(col): _*)
      .agg(max("max_ts").as("horizon_ts"))
    val merged = storeHorizon(spark, path) match {
      case None => fresh
      case Some(old) => fresh.unionByName(old)
        .groupBy(seriesCols.map(col): _*)
        .agg(max("horizon_ts").as("horizon_ts"))
    }
    val marker = new org.apache.hadoop.fs.Path(path, HorizonDir).toString
    merged.write.mode("overwrite").parquet(marker + ".tmp")
    graft.Fs.replace(spark, marker + ".tmp", marker)
  }

  /** The persisted ingest high-water marks of a store, if any delete
    * has ever recorded one: (seriesCols..., horizon_ts). */
  def storeHorizon(spark: org.apache.spark.sql.SparkSession,
                   path: String): Option[DataFrame] = {
    val marker = new org.apache.hadoop.fs.Path(path, HorizonDir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) Some(spark.read.parquet(marker.toString)) else None
  }

  /** [[liveRange]] over a PERSISTED store: sealed chunks plus the open
    * tail, with the replay guard honoring the store's persisted
    * horizon marker — so a delete stays deleted under replay. */
  def liveRangeStore(spark: org.apache.spark.sql.SparkSession, path: String,
                     open: DataFrame, seriesCols: Seq[String],
                     fromSec: Long, toSec: Long): DataFrame =
    liveRange(readStore(spark, path), open, seriesCols, fromSec, toSec,
      storeHorizon(spark, path))

  /**
   * Compact a chunk store into a new store at `outPath`: decode every
   * point and re-encode exactly one sealed chunk per (series, window).
   * Streaming per-batch ingest (`StreamIngest.writeChunksPerBatch`)
   * and appended `writeStore` batches legitimately leave several
   * PARTIAL chunks per window; compaction restores the
   * one-chunk-per-window shape —
   * Gorilla's background block finalization as a batch job. Because
   * encode is sort-based and deterministic, the compacted chunks are
   * byte-identical to a direct batch chunkify of the same points
   * (asserted in TsStoreSpec), so readers can't tell compacted and
   * never-fragmented stores apart.
   *
   * CONCURRENCY CONTRACT (pinned in StoreInterleaveSpec): compact
   * SNAPSHOTS `path` (its one full read) and writes to `outPath`; the
   * cutover is the caller's atomic swap. Upserts landing on the live
   * store after the snapshot are NOT in the compacted output — before
   * serving from `outPath`, replay every batch whose marker postdates
   * the snapshot (the stream layer's batchId markers identify exactly
   * that set). Replay converges byte-identically to a serial
   * never-fragmented ingest, because every write path is the same
   * deterministic sort-encode of the same per-window point multiset.
   */
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String,
                   outPath: String, windowSec: Long = WindowSec): Unit = {
    val chunks = readStore(spark, path)
    val seriesCols = storeSeriesCols(chunks)
    // ts comes back as epoch seconds (long); go through timestamp so
    // chunkify's epochSec treats it as seconds, not parquet nanos
    val pts = unpack(chunks, seriesCols).withColumn("ts", to_timestamp(col("ts")))
    writeStore(chunkify(pts, seriesCols, "ts", "v", windowSec), outPath)
  }

  /**
   * SQL-surface route into the store (the pure-SQL recipe, pinned in
   * SqlSurfaceSpec): register a chunk store as a temp view and a
   * SQL-only client gets the same pruned plans the Scala API builds —
   * the `gorilla_*` functions are session-registered (GraftExtensions)
   * and the injected optimizer rules rewrite naive SQL:
   *
   * {{{
   *   Ts.registerStoreView(spark, "/data/store", "metrics")
   *   spark.sql("""
   *     SELECT user_id, event_type, p.ts, p.v
   *     FROM metrics
   *     LATERAL VIEW explode(gorilla_decode(chunk)) g AS p
   *     WHERE p.ts BETWEEN 1704844800 AND 1705017600""")
   * }}}
   *
   * ChunkPruneRule adds chunk-stat guards for the decoded-ts WHERE
   * (pushed to the parquet scan), DecodeNarrowRule narrows the decode
   * to the consumed side, and ChunkAggRule fuses decode-explode-
   * aggregate plans into per-chunk partials — ts_range_query /
   * ts_points_agg plans, from SQL strings. `fromSec`/`toSec` bake
   * `window_date` partition pruning into the view itself.
   */
  def registerStoreView(spark: org.apache.spark.sql.SparkSession, path: String,
                        name: String, fromSec: Long = Long.MinValue,
                        toSec: Long = Long.MaxValue): Unit = {
    graft.functions.registerAll(spark)
    readStore(spark, path, fromSec, toSec).createOrReplaceTempView(name)
  }

  /** Open a chunk store; `fromSec`/`toSec` prune partitions at plan time. */
  def readStore(spark: org.apache.spark.sql.SparkSession, path: String,
                fromSec: Long = Long.MinValue, toSec: Long = Long.MaxValue): DataFrame = {
    val df = spark.read.parquet(path)
    if (fromSec == Long.MinValue && toSec == Long.MaxValue) df
    else df.filter(
      col("window_date") >= to_date(to_timestamp(lit(fromSec))) &&
      col("window_date") <= to_date(to_timestamp(lit(toSec))))
  }

  /** Per-series compression accounting (the csv_to_packed report,
    * reference: examples/csv_to_packed.rs:112-118): compressed chunk
    * bytes vs 16 B/point raw. */
  def compressionStats(chunks: DataFrame, seriesCols: Seq[String]): DataFrame =
    chunks.groupBy(seriesCols.map(col): _*)
      .agg(sum("n").as("n_points"),
        sum(length(col("chunk"))).as("chunk_bytes"),
        (sum("n") * 16).as("raw_bytes"))
      .withColumn("ratio_pct",
        round(col("chunk_bytes") * 100.0 / col("raw_bytes"), 2))

  /**
   * Generic backward as-of join: for every left row, attach the
   * latest right row with `right.tsCol <= left.tsCol` on the same
   * keys. Single shuffle: union both sides tagged, one window pass
   * carrying the right row's payload in a running (ts, payload)
   * struct max — no per-row subqueries, no range join explosion.
   * Right columns come back prefixed `right_` (null when no match).
   */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rightPayload = right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val payloadType = right.select(rightPayload.map(col): _*).schema
    val l = left
      .withColumn("__ts", col(leftTs).cast("long"))
      .withColumn("__kind", lit(1))
      .withColumn("__rs", lit(null).cast(payloadType))
    val r = right.select(keys.map(col) :+ col(rightTs).cast("long").as("__ts") :+
        struct(rightPayload.map(col): _*).as("__rs"): _*)
      .withColumn("__kind", lit(0))
    val together = l.unionByName(r, allowMissingColumns = true)
    // kind orders right rows before left at equal ts => '<=' semantics
    val w = Window.partitionBy(keys.map(col): _*).orderBy("__ts", "__kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = together
      .withColumn("__m", max(when(col("__kind") === 0,
        struct(col("__ts").as("ts"), col("__rs").as("rs")))).over(w))
      .filter(col("__kind") === 1)
    matched.select(left.columns.toSeq.map(col) ++
      Seq(col("__m.ts").as(s"right_$rightTs")) ++
      rightPayload.map(c => col(s"__m.rs.$c").as(s"right_$c")): _*)
  }

  /** Downsample decoded points into `bucketSec` buckets per series. */
  def downsample(points: DataFrame, seriesCols: Seq[String], bucketSec: Long): DataFrame =
    points
      .withColumn("bucket", (floor(col("ts") / bucketSec) * bucketSec).cast("long"))
      .groupBy(seriesCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"),
        sum("v").as("sum_v"), avg("v").as("avg_v"))

  /**
   * M4 visualization downsampling (Jugel et al., "M4: A
   * Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
   * per series-bucket, the four points a pixel-perfect line render
   * needs — first, last, min, max. A dashboard query over a year of
   * 1 Hz data returns 4·#pixels rows instead of 31M, with the
   * guarantee that the rendered polyline is identical. One hash
   * aggregate with map-side partials; first/last ride lexicographic
   * (ts, v) struct min/max so ties are deterministic, min/max over v
   * likewise carry their timestamp via (v, ts) structs.
   */
  def m4(points: DataFrame, seriesCols: Seq[String], bucketSec: Long): DataFrame =
    points
      .withColumn("bucket", (floor(col("ts") / bucketSec) * bucketSec).cast("long"))
      .groupBy(seriesCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        min(struct(col("ts"), col("v"))).as("__f"),
        max(struct(col("ts"), col("v"))).as("__l"),
        min(struct(col("v"), col("ts"))).as("__lo"),
        max(struct(col("v"), col("ts"))).as("__hi"))
      .select(seriesCols.map(col) ++ Seq(col("bucket"), col("n"),
        col("__f.ts").as("ts_first"), col("__f.v").as("v_first"),
        col("__l.ts").as("ts_last"), col("__l.v").as("v_last"),
        col("__lo.v").as("min_v"), col("__lo.ts").as("ts_min"),
        col("__hi.v").as("max_v"), col("__hi.ts").as("ts_max")): _*)
}
