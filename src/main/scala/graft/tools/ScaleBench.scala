package graft.tools

import graft.ops.{Dedup, Similarity, TextOps}
import graft.tsdb.Ts
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Measured scale run of the heaviest operator families (VERDICT r8
 * "Next round" #1): the SAME library code paths the oracled queries
 * use, executed end-to-end against the multi-GB ScaleGen corpus AND
 * against sf0.1, with per-input-row throughput ratios — the evidence
 * that the 100 TB design claims (blocked candidate generation,
 * compressed-domain serving, artifact reuse) hold when the input is
 * 400-2000x the correctness corpus, not just in the plan.
 *
 * Emits ONE JSON line (plus a pretty file): per-step wall seconds,
 * input/output rows, shuffle spill bytes (from a stage listener), and
 * `per_row_vs_sf01` = (sec/row at scale) / (sec/row at sf0.1) — < ~1
 * means fixed overheads amortized (sub-linear), >> 1 means the step
 * grew super-linearly and needs a look.
 *
 * Usage: ScaleBench [scaleDir] [sf01Dir] [outJson]
 */
object ScaleBench {
  final case class Res(sec: Double, rowsIn: Long, rowsOut: Long,
                       spillBytes: Long, note: String = "")

  def main(args: Array[String]): Unit = {
    val scaleDir = if (args.length > 0) args(0) else "/tmp/graft_scale"
    val sf01Dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 2) args(2) else "BENCH_SCALE.json"
    val work = "/tmp/graft_scale_work"
    val spark = graft.LocalSession.start("graft-scale-bench", conf = Map(
      "spark.sql.shuffle.partitions" -> "256", "spark.driver.maxResultSize" -> "4g",
      "spark.local.dir" -> "/tmp/graft_scale_tmp"))

    // stage-level spill accounting: deltas bracket each step
    @volatile var spill = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        spill += sc.stageInfo.taskMetrics.memoryBytesSpilled +
          sc.stageInfo.taskMetrics.diskBytesSpilled
      }
    })

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Res]
    def timed(name: String, rowsIn: Long, note: String = "")(f: => Long): Unit = {
      val s0 = spill
      val t0 = System.nanoTime()
      val rowsOut = f
      val sec = (System.nanoTime() - t0) / 1e9
      results(name) = Res(sec, rowsIn, rowsOut, spill - s0, note)
      println(f"[scalebench] $name%-28s ${sec}%8.1f s  in=$rowsIn out=$rowsOut")
    }
    def noop(df: DataFrame): Long = {
      val n = spark.sparkContext.longAccumulator
      df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        var c = 0L; while (it.hasNext) { it.next(); c += 1 }; n.add(c)
      }
      n.value
    }

    /** The LLM-pipeline family against one corpus dir. */
    def docsFamily(tag: String, dir: String): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val nDocs = docs.count()
      val sigPath = s"$work/$tag/sigs"
      timed(s"${tag}_sig_build", nDocs,
        "one corpus text scan -> persisted signature artifact") {
        Dedup.signatures(docs, "doc_id", "text")
          .write.mode("overwrite").parquet(sigPath)
        nDocs
      }
      val sigs = spark.read.parquet(sigPath)
      val pairsPath = s"$work/$tag/pairs"
      timed(s"${tag}_lsh_pairs", nDocs, "banded minhash bucket join") {
        Dedup.minhashLshSigs(sigs).write.mode("overwrite").parquet(pairsPath)
        spark.read.parquet(pairsPath).count()
      }
      val pairs = spark.read.parquet(pairsPath)
      val nPairs = pairs.count()
      val verPath = s"$work/$tag/verified"
      timed(s"${tag}_jaccard_verify", nPairs, "exact-merge verify of LSH candidates") {
        Dedup.jaccardVerifySigs(pairs, sigs, 0.5).select("a_id", "b_id")
          .write.mode("overwrite").parquet(verPath)
        spark.read.parquet(verPath).count()
      }
      val verified = spark.read.parquet(verPath)
      val compPath = s"$work/$tag/components"
      timed(s"${tag}_components", verified.count(), "fixpoint min-label + pointer jump") {
        Dedup.components(verified, sigs, "id")
          .write.mode("overwrite").parquet(compPath)
        spark.read.parquet(compPath).count()
      }
      timed(s"${tag}_dedup_apply", nDocs, "drop non-representatives, emit corpus") {
        val comp = spark.read.parquet(compPath)
        val drop = comp.filter(col("comp") =!= col("id"))
          .select(col("id").as("doc_id"))
        noop(docs.join(drop, Seq("doc_id"), "left_anti"))
      }
      // postings build is the ingest-time half of the containment
      // contract (df groupBy + per-doc rank window, once per corpus);
      // the per-query half probes the published table
      val postPath = s"$work/$tag/postings"
      timed(s"${tag}_postings_build", nDocs,
        "df-ranked posting artifact: vocab groupBy + rank window, once per corpus") {
        Dedup.postings(sigs).write.mode("overwrite").parquet(postPath)
        nDocs
      }
      timed(s"${tag}_containment_join", nDocs,
        "PPJoin prefix+positional filtered containment off published postings") {
        noop(Dedup.containmentJoinPostings(
          spark.read.parquet(postPath), sigs, 0.5))
      }
      // round-14: maximal shared-run extents over the dedup chain's
      // verified candidate pairs — the scale path (the flat corpus-wide
      // form is the small-SF oracle baseline: its fp self-join is
      // Σdf² and a 2M-doc dedup corpus's near-dup clusters filled the
      // disk through it, the same reason ngram-jaccard's brute form
      // is bounded)
      // round-15: the span gram index is a once-per-corpus PUBLISHED
      // artifact (the signature/postings/winnow discipline) — the
      // text scan + gram hashing prices once, the per-batch probe
      // never re-reads text. (spill verdict r14: postings_build spill
      // is the vocab df join + rank sort by design — the hot-df
      // no-join variant built 32% faster (77s vs 114s, identical
      // verified pairs) but its probe exploded the candidate join at
      // 2M docs (disk-full vs 72s/0-spill rarest-first): df order is
      // load-bearing for candidate volume, vocab join inherent)
      val spanIdxPath = s"$work/$tag/span_gram_index"
      timed(s"${tag}_span_index_build", nDocs,
        "span gram-index artifact: one text scan, (fp, id, pos) rows, " +
          "once per corpus") {
        TextOps.spanGramIndex(docs, "doc_id", "text")
          .write.mode("overwrite").parquet(spanIdxPath)
        nDocs
      }
      val extentsPath = s"$work/$tag/span_extents"
      timed(s"${tag}_span_extents_probe", nDocs,
        "pair-restricted maximal shared runs off the published index: " +
          "two linear joins + islands per (pair, diagonal), zero text read") {
        TextOps.spanExtentsPairsIndexed(spark.read.parquet(spanIdxPath),
          spark.read.parquet(verPath)).write.mode("overwrite").parquet(extentsPath)
        spark.read.parquet(extentsPath).count()
      }
      timed(s"${tag}_span_scrub", nDocs,
        "apply the extents: token anti join (equi id + range residual) " +
          "+ per-doc rebuild") {
        noop(TextOps.spanScrub(docs,
          spark.read.parquet(extentsPath), "doc_id", "text"))
      }
      // winnow build is the ingest-time half of the fingerprint
      // contract (ONE text scan through the winnow kernel, once per
      // corpus); the per-query half probes the published fp table
      val winnowPath = s"$work/$tag/winnow_fps"
      timed(s"${tag}_winnow_build", nDocs,
        "winnow fp artifact: one text scan through the kernel, once per corpus") {
        TextOps.winnowing(docs, "doc_id", "text")
          .write.mode("overwrite").parquet(winnowPath)
        nDocs
      }
      timed(s"${tag}_winnow_pairs", nDocs,
        "winnow fp inversion off the published fp table, df-capped") {
        noop(TextOps.winnowPairsFps(
          spark.read.parquet(winnowPath), "doc_id", minShared = 3L))
      }
      timed(s"${tag}_chunk_dedup", nDocs, "RAG chunk fp duplication profile") {
        noop(TextOps.chunkDedup(docs, "doc_id", "text"))
      }
      timed(s"${tag}_pack_sequences", nDocs, "concat-and-chunk packing") {
        noop(TextOps.packSequences(docs, "doc_id", "text", "source", 1024L))
      }
      timed(s"${tag}_mix_allocate", nDocs, "largest-remainder budget split") {
        noop(TextOps.mixAllocate(docs, "lang", "text", 1000000000L))
      }
      // round-11: snapshot drift — ONE vocab-sized shuffle + a 1-row
      // totals broadcast + TakeOrdered; exact BIGINT end-to-end
      timed(s"${tag}_text_drift", nDocs, "snapshot drift: vocab shuffle + totals broadcast + top-k") {
        noop(TextOps.snapshotDrift(docs, "doc_id", "text", 10))
      }
      timed(s"${tag}_text_lm_score", nDocs,
        "reference-LM bigram attestation: two vocab shuffle joins, exact counts") {
        noop(TextOps.lmScore(docs, "doc_id", "text"))
      }
    }

    /** The TSDB store family against one corpus dir. */
    def tsFamily(tag: String, dir: String): Unit = {
      val series = Seq("user_id", "event_type")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val nEv = ev.count()
      val storePath = s"$work/$tag/store"
      timed(s"${tag}_store_ingest", nEv, "chunkify + date-partitioned write") {
        Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), storePath)
        spark.read.parquet(storePath).count()
      }
      // fixed 2-day query window, same as the oracled queries
      val from = 1704844800L; val to = 1705017600L
      timed(s"${tag}_store_range_agg", nEv, "label+date pruned, compressed-domain") {
        noop(Ts.rangeAgg(Ts.readStore(spark, storePath, from, to), series, from, to))
      }
      timed(s"${tag}_store_latest", nEv, "newest-chunk pruning per series") {
        noop(Ts.latest(Ts.readStore(spark, storePath), series))
      }
      timed(s"${tag}_store_downsample", nEv, "15-min compressed-domain partials, 2-day window") {
        noop(Ts.downsampleCompressed(
          Ts.readStore(spark, storePath, from, to), series)
          .filter(col("bucket") >= from && col("bucket") < to))
      }
      val late = ev.filter(pmod(col("event_id"), lit(100L)) === 0L)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES"))
      val nLate = late.count()
      timed(s"${tag}_store_upsert", nLate, "1% late batch, touched dates only") {
        Ts.upsertIntoStore(spark, storePath, late, series, "ts", "value")
        nLate
      }
      timed(s"${tag}_store_compact", nEv, "decode + re-seal the whole store") {
        Ts.compactStore(spark, storePath, s"$work/$tag/store_compact")
        spark.read.parquet(s"$work/$tag/store_compact").count()
      }
      timed(s"${tag}_store_expire", nEv, "metadata-only partition drops (7d retention)") {
        Ts.expireStore(spark, storePath, olderThanDays = 7,
          asOfSec = 1706659200L) // 2024-01-31
        spark.read.parquet(storePath).count()
      }
    }

    /** Round-18: the NEXT DATA DECADE — a 1B-event single-family run
      * (VERDICT r17 ask #5): store ingest, the pruned compressed-domain
      * range aggregate, the labeled ingest + stepped PromQL panel, and
      * one native-histogram ingest, at 5× the r17 scale corpus. Its
      * own family flag ("billion") and its own `b1_` tag: rows merge
      * into BENCH_SCALE.json next to the 200M rows, and per-row
      * flatness vs the committed 200M run is the claim (recorded in
      * BASELINE.md — the ratio is computed at merge time against the
      * committed scale_ rows, since a billion run never re-prices the
      * 200M family). Corpus via ScaleGen (events only). */
    def billionFamily(tag: String, dir: String): Unit = {
      val series = Seq("user_id", "event_type")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val nEv = ev.count()
      val storePath = s"$work/$tag/store"
      timed(s"${tag}_store_ingest", nEv, "chunkify + date-partitioned write (1B events)") {
        Ts.writeStore(Ts.chunkify(ev, series, "ts", "value"), storePath)
        spark.read.parquet(storePath).count()
      }
      val from = 1704844800L; val to = 1705017600L
      timed(s"${tag}_store_range_agg", nEv, "label+date pruned, compressed-domain") {
        noop(Ts.rangeAgg(Ts.readStore(spark, storePath, from, to), series, from, to))
      }
      val labelCols = Seq("type", "host", "region")
      val lev = graft.queries.TsQueries.labeledEventsFrom(ev)
      val lblPath = s"$work/$tag/store_lbl"
      timed(s"${tag}_label_ingest", nEv, "labeled chunkify, ~5500-pt dense chunks") {
        Ts.writeStore(Ts.chunkify(lev, labelCols, "ts", "value"), lblPath)
        spark.read.parquet(lblPath).count()
      }
      timed(s"${tag}_promql_range", nEv, "query_range: 25 steps, one bucket fold, no decode") {
        noop(graft.tsdb.Promql.evalRange(Ts.readStore(spark, lblPath, from - 21600, to),
          labelCols, """sum by (region) (sum_over_time({type="click"}[6h]))""",
          from, to, 7200L))
      }
      timed(s"${tag}_nhist_ingest", nEv, "integer-exact exponential arms -> _nhist chunk store") {
        graft.queries.TsQueries.nativeHistStoreChunks(spark, dir).count()
      }
    }

    /** The labeled-store family: the r9 label-selector surface at
      * scale, and with it the DENSE-chunk regime the sparse per-user
      * store doesn't exercise — 3-label series key collapses 200M
      * events onto ~500 series, so chunks run ~1100 points each. */
    def labelFamily(tag: String, dir: String): Unit = {
      val labelCols = Seq("type", "host", "region")
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val nEv = ev.count()
      // the query surface's own derivation — the bench must measure
      // the same scheme ts_label_* runs, not a copy that can drift
      val lev = graft.queries.TsQueries.labeledEventsFrom(ev)
      val lblPath = s"$work/$tag/store_lbl"
      timed(s"${tag}_label_ingest", nEv, "labeled chunkify, dense ~1100-pt chunks") {
        Ts.writeStore(Ts.chunkify(lev, labelCols, "ts", "value"), lblPath)
        spark.read.parquet(lblPath).count()
      }
      val from = 1704844800L; val to = 1705017600L
      timed(s"${tag}_label_select", nEv, "pushed matchers + compressed-domain agg") {
        noop(graft.tsdb.Labels.selectRangeAgg(
          Ts.readStore(spark, lblPath, from, to), labelCols,
          """{type="click", host=~"h1.*", region!="r3"}""", from, to))
      }
      timed(s"${tag}_label_values", nEv, "metadata-only label/value/series counts") {
        noop(graft.tsdb.Labels.labelValues(
          Ts.readStore(spark, lblPath), labelCols))
      }
      // the PromQL STRING front-end at volume: compiled plans must
      // price like the hand-built bodies they lower to
      timed(s"${tag}_promql_sum", nEv, "string-compiled compressed-domain sum_over_time") {
        noop(graft.tsdb.Promql.eval(Ts.readStore(spark, lblPath, from, to),
          labelCols, """sum by (region) (sum_over_time({type="click"}[2d]))""", to))
      }
      timed(s"${tag}_promql_rate", nEv, "string-compiled rate: selector-pruned decode") {
        noop(graft.tsdb.Promql.eval(Ts.readStore(spark, lblPath, from, to),
          labelCols, """sum by (region) (rate({type="click", host=~"h1.*"}[2d]))""", to))
      }
      timed(s"${tag}_promql_range", nEv, "query_range: 25 steps, one bucket fold, no decode") {
        noop(graft.tsdb.Promql.evalRange(Ts.readStore(spark, lblPath, from - 21600, to),
          labelCols, """sum by (region) (sum_over_time({type="click"}[6h]))""",
          from, to, 7200L))
      }
      // round-11: the stepped function with real scale exposure —
      // quantiles can't compose from partials, so each decoded point
      // explodes onto <= k covering windows; this row prices that
      // decode-and-explode against the dense 200M-point store
      timed(s"${tag}_promql_rangeq", nEv, "stepped quantile: decode x k explosion, exact percentile per (series, step)") {
        noop(graft.tsdb.Promql.evalRange(Ts.readStore(spark, lblPath, from - 21600, to),
          labelCols, """quantile_over_time(0.9, {type="click"}[6h])""",
          from, to, 7200L))
      }
      // round-11 additions: subquery + histogram_quantile at volume
      timed(s"${tag}_promql_subq", nEv, "subquery: 8-instant inner stepped rate, exact outer max") {
        noop(graft.tsdb.Promql.eval(Ts.readStore(spark, lblPath, to - 260000, to),
          labelCols,
          """max_over_time(sum by (region) (rate({type="click"}[1d]))[2d:6h])""", to))
      }
      // round-11 additions: the RULES layer at volume — a recording
      // rule costs ONE stepped fold (output structurally capped at
      // series x steps at ANY corpus size) + a tiny chunkify; alert
      // state assembly is one range window over the stepped filter
      timed(s"${tag}_promql_record", nEv, "recording rule: stepped fold -> derived Gorilla chunks") {
        val recPath = s"$work/$tag/store_rec"
        Ts.writeStore(graft.tsdb.Rules.materialize(
          Ts.readStore(spark, lblPath, from - 21600, to), labelCols,
          Seq(graft.tsdb.Rules.Recording("region:click:sum6h",
            """sum by (region) (sum_over_time({type="click"}[6h]))""",
            from, to, 7200L))), recPath)
        spark.read.parquet(recPath).count()
      }
      timed(s"${tag}_promql_alert", nEv, "alert rule: stepped filter + for-window states") {
        noop(graft.tsdb.Rules.alert(Ts.readStore(spark, lblPath, from - 21600, to),
          labelCols, graft.tsdb.Rules.Alert("HighClickVolume",
            """sum by (region) (sum_over_time({type="click"}[6h])) > 100""",
            14400L, from, to, 7200L)))
      }
      timed(s"${tag}_hist_ingest", nEv, "bucket-fanout cumulative counters -> chunk store") {
        graft.queries.TsQueries.histStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_histq", nEv, "histogram_quantile over the _bucket store") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.histStoreChunks(spark, dir),
          graft.queries.TsQueries.histLabelCols,
          """histogram_quantile(0.9, sum by (le) (rate({type="click"}[2d])))""", to))
      }
      // round-16: the NATIVE-histogram family at volume — ingest is
      // one broadcast bucket join + three arm unions + one cumulative
      // window per present series (structural cap: series x kept
      // buckets x grid instants, independent of event count past the
      // groupBy); the quantile is the same one-fold shape as the
      // classic row with the exponential bound join on top
      timed(s"${tag}_nhist_ingest", nEv, "integer-exact exponential arms -> _nhist chunk store") {
        graft.queries.TsQueries.nativeHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_native_histq", nEv, "native histogram_quantile over the _nhist store") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.nativeHistStoreChunks(spark, dir),
          graft.queries.TsQueries.nativeHistLabelCols,
          """histogram_quantile(0.9, sum by (nb) (rate({type="click"}[2d])))""", to))
      }
    }

    /** Round-17: NHCB + mixed-schema native histograms priced at
      * volume (VERDICT r16 missing #3) — its OWN family flag so a
      * targeted re-measure merges into BENCH_SCALE.json without
      * re-running (and re-writing) the whole ts family. Ingest rows
      * delete any cached store first so a partial re-run still
      * measures the build, not a cache read; both ingests share
      * nhist's structural cap (series × layout × grid instants past
      * the groupBy), and the mixed quantile's downscale window runs
      * over the FOLDED series-grain vector — series-bounded, never
      * per-point. */
    def nhcbFamily(tag: String, dir: String): Unit = {
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      val to = 1705017600L
      def dropStore(suffix: String): Unit =
        graft.Fs.rm(spark, graft.queries.TsQueries.storePathFor(dir) + suffix)
      dropStore("_nhcb")
      timed(s"${tag}_nhcb_ingest", nEv, "custom-bound buckets (schema -53) -> _nhcb chunk store") {
        graft.queries.TsQueries.nhcbStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_nhcb_quantile", nEv, "NHCB quantile: bound-lag interpolation over the _nhcb store") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.nhcbStoreChunks(spark, dir),
          graft.queries.TsQueries.nhcbLabelCols,
          """histogram_quantile(0.9, sum by (nbc) (rate({type="click"}[2d])))""", to))
      }
      dropStore("_nhistm")
      timed(s"${tag}_nhistm_ingest", nEv, "per-series-schema mixed fleet -> _nhistm chunk store") {
        graft.queries.TsQueries.mixedNativeHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_native_histq_mixed", nEv, "mixed-schema quantile: downscale-to-coarsest + schema-keyed bounds") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.mixedNativeHistStoreChunks(spark, dir),
          graft.queries.TsQueries.mixedNativeHistLabelCols,
          """histogram_quantile(0.9, sum by (nb) (rate({type="click"}[2d])))""", to))
      }
      // round-17 flagships at volume: the WIDE fleet (schemas 3/−2/5/0,
      // negative coarsest — the schema-5 layout alone carries 513
      // buckets, so this is the densest store of the family) and the
      // SIGNED store (mirrored negative spans)
      dropStore("_nhistw")
      timed(s"${tag}_nhistw_ingest", nEv, "full-range mixed fleet (3/-2/5/0) -> _nhistw chunk store") {
        graft.queries.TsQueries.wideNativeHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_native_histq_wide", nEv, "wide quantile: cross-sign downscale onto schema -2") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.wideNativeHistStoreChunks(spark, dir),
          graft.queries.TsQueries.mixedNativeHistLabelCols,
          """histogram_quantile(0.9, sum by (nb) (rate({type="click"}[2d])))""", to))
      }
      dropStore("_nhistg")
      timed(s"${tag}_nhistg_ingest", nEv, "signed observations -> mirrored-span _nhistg chunk store") {
        graft.queries.TsQueries.signedNativeHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_native_histq_signed", nEv, "signed quantile: mirror-span cumulation, phi=0.25 in a negative bucket") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.signedNativeHistStoreChunks(spark, dir),
          graft.queries.TsQueries.nativeHistLabelCols,
          """histogram_quantile(0.25, sum by (nb) (rate({type="click"}[2d])))""", to))
      }
    }

    /** Round-19: the r18 build-round's migration-union and
      * histogram-grain-reset stores priced at volume (VERDICT r18 #8,
      * the same evidence the r17 NHCB/wide family got) — own family
      * flag so a targeted run merges into BENCH_SCALE.json without
      * re-measuring anything else. Both ingests share the native
      * family's structural cap (series × layout × grid instants past
      * the groupBy); the reset quantile additionally carries the
      * histogram-grain reset windows (arm-major lag + same-ts frame)
      * over the folded series-grain vector. */
    def migFamily(tag: String, dir: String): Unit = {
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      val to = 1705017600L
      def dropStore(suffix: String): Unit =
        graft.Fs.rm(spark, graft.queries.TsQueries.storePathFor(dir) + suffix)
      dropStore("_histmig")
      timed(s"${tag}_histmig_ingest", nEv, "classic(even hosts) U NHCB(odd hosts) -> _histmig chunk store") {
        graft.queries.TsQueries.migrationHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_histq_migration", nEv, "mid-migration quantile: NHCB bridge onto the classic bound table") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.migrationHistStoreChunks(spark, dir),
          graft.queries.TsQueries.migrationHistLabelCols,
          """histogram_quantile(0.75, sum by (le, nbc) (rate({type="click"}[2d])))""", to))
      }
      dropStore("_nhistr")
      timed(s"${tag}_nhistr_ingest", nEv, "mid-window all-arm fleet restart -> _nhistr chunk store") {
        graft.queries.TsQueries.resetNativeHistStoreChunks(spark, dir).count()
      }
      timed(s"${tag}_promql_native_histq_reset", nEv, "histogram-grain reset detection inside rate over the _nhistr store") {
        noop(graft.tsdb.Promql.eval(
          graft.queries.TsQueries.resetNativeHistStoreChunks(spark, dir),
          graft.queries.TsQueries.nativeHistLabelCols,
          """histogram_quantile(0.9, sum by (nb) (rate({type="click"}[2d])))""", to))
      }
    }

    /** Round-17: the CONTINUOUS cumulative-counter ingest
      * (`StreamIngest.cumulativeGridStream`) at volume — the raw
      * corpus replayed through the real streaming engine as
      * event-time-SLICED files (60-h slices arriving in order, the
      * scrape-arrival contract; a 62-h watermark covers the
      * intra-slice disorder so nothing drops), the per-event arm
      * derivation running stateless against the broadcast bucket
      * table (one explode, no self-union), and the per-series
      * cumulative grid emitted exactly once per instant into a
      * parquet sink. State per series = the running cum + a pending
      * map bounded by watermark/step (~31 cells), never event
      * volume. */
    def nstreamFamily(tag: String, dir: String): Unit = {
      val evPath = s"$dir/events.parquet"
      val nEv = spark.read.parquet(evPath).count()
      val from = graft.queries.TsQueries.HistGridFrom
      val to = graft.queries.TsQueries.HistGridTo
      val step = graft.queries.TsQueries.HistGridStep
      val ev = spark.read.parquet(evPath)
      val schema = ev.schema
      val esec = Ts.epochSec(ev, "ts")
      // one rung per store shape: the arm derivation is the shared
      // HistArms body (the same code the batch-twin parity specs and
      // the streamed store builders run), everything else identical
      def streamRung(shape: String,
                     arms: DataFrame => org.apache.spark.sql.Dataset[
                       (String, java.sql.Timestamp, Long)],
                     note: String): Unit = {
        val srcDir = s"$work/$tag/nstream_${shape}_src"
        val outPath = s"$work/$tag/nstream_${shape}_out"
        val ck = s"$work/$tag/nstream_${shape}_ck"
        val hfs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        Seq(srcDir, outPath, ck).foreach(p =>
          hfs.delete(new org.apache.hadoop.fs.Path(p), true))
        new java.io.File(srcDir).mkdirs()
        // stage 60-h event-time slices as ordered file groups (file
        // source processes by modification time, so arrival == event
        // time at slice granularity)
        val sliceSec = 216000L
        val nSlices = ((to - from) / sliceSec + 1).toInt
        (0 until nSlices).foreach { i =>
          val lo = from + i * sliceSec
          val slice = ev.filter(
            (if (i == 0) lit(true) else esec >= lo) &&
            (if (i == nSlices - 1) lit(true) else esec < lo + sliceSec))
          val tmp = s"$work/$tag/nstream_${shape}_tmp"
          slice.coalesce(4).write.mode("overwrite").parquet(tmp)
          new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .zipWithIndex.foreach { case (f, j) =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(srcDir, f"ev-$i%03d-$j.parquet").toPath)
            }
        }
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 4).parquet(srcDir)
        val samples = graft.streaming.StreamIngest
          .cumulativeGridStream(arms(src), from, to, step, watermark = "62 hours")
        val q = samples.writeStream.outputMode("append")
          .option("checkpointLocation", ck).format("parquet").start(outPath)
        timed(s"${tag}_${shape}_stream_ingest", nEv, note) {
          q.processAllAvailable()
          // sentinel advances the watermark past the grid end so every
          // series flushes its tail (its own zero-grid series noted);
          // built in the ts column's NATIVE representation (long = nanos)
          val sentTs = schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType =>
              lit((to + 226800L) * 1000000000L)
            case dt => to_timestamp(lit(to + 226800L)).cast(dt)
          }
          ev.limit(1).withColumn("ts", sentTs)
            .withColumn("event_type", lit("wmsentinel"))
            .coalesce(1).write.mode("append").parquet(srcDir)
          q.processAllAvailable()
          q.stop()
          spark.read.parquet(outPath)
            .filter(!col("series").startsWith("wmsentinel")).count()
        }
      }
      streamRung("nhist",
        s => graft.streaming.HistArms.nativeArms(s, None,
          Seq(graft.tsdb.NativeHist.Schema), 0L),
        "cumulativeGridStream: sliced replay -> dense cumulative grid")
      streamRung("nhcb",
        s => graft.streaming.HistArms.nhcbArms(s,
          graft.queries.TsQueries.histBuckets),
        "cumulativeGridStream: NHCB full-layout arms -> dense cumulative grid")
    }

    /** Streaming ingest throughput at volume (r9 verdict #8): the
      * 200M-event corpus replayed as a FILE STREAM through
      * `StreamIngest.writeChunksPerBatch` — the high-rate sealer
      * (per-batch sort-encode via the batch chunkify, foreachBatch
      * sink). That path is the replay-appropriate one: it is
      * STATELESS, so "state growth across batches" is structurally
      * zero (recorded from StreamingQueryProgress.stateOperators),
      * and historical files in arbitrary event-time order are fine —
      * the watermarked `chunkStream` sealer would spuriously drop
      * out-of-order history on replay (its parity is proven over
      * MemoryStream in StreamIngestSpec; its state bound is series ×
      * open windows by construction). The note carries pts/s,
      * batch count, median/max batch latency, and total state rows. */
    def streamFamily(tag: String, dir: String): Unit = {
      val series = Seq("user_id", "event_type")
      val evPath = s"$dir/events.parquet"
      val schema = spark.read.parquet(evPath).schema
      val nEv = spark.read.parquet(evPath).count()
      // the file-stream source needs a DIRECTORY of files; the driver
      // testdata ships single-file tables — stage those into one
      val evFile = new java.io.File(evPath)
      val (srcDir, nFiles) =
        if (evFile.isDirectory)
          (evPath, evFile.listFiles().count(_.getName.endsWith(".parquet")))
        else {
          val staged = new java.io.File(s"$work/$tag/stream_src")
          staged.mkdirs()
          java.nio.file.Files.copy(evFile.toPath,
            new java.io.File(staged, "part-0.parquet").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          (staged.getPath, 1)
        }
      // ~16 micro-batches over the corpus regardless of file count
      val perTrigger = math.max(1, nFiles / 16)
      val outPath = s"$work/$tag/stream_store"
      val ck = s"$work/$tag/stream_ck"
      val hfs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(outPath), true)
      hfs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger).parquet(srcDir)
      val q = graft.streaming.StreamIngest
        .writeChunksPerBatch(src, series, "ts", "value", outPath, ck).start()
      timed(s"${tag}_stream_ingest", nEv, "per-batch sealer over a file stream") {
        q.processAllAvailable()
        q.stop()
        spark.read.parquet(outPath).count()
      }
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val durs = progs.map(_.durationMs.get("triggerExecution").toLong).sorted
      val stateRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
      val r = results(s"${tag}_stream_ingest")
      val ptsPerSec = if (r.sec > 0) (nEv / r.sec).toLong else 0L
      results(s"${tag}_stream_ingest") = r.copy(note =
        s"pts/s=$ptsPerSec batches=${progs.length} " +
        s"batch_ms_p50=${if (durs.nonEmpty) durs(durs.length / 2) else 0} " +
        s"batch_ms_max=${if (durs.nonEmpty) durs.last else 0} " +
        s"state_rows_total=${stateRows.sum} (stateless sealer)")

      // round-11: the CONTINUOUS rules loop (StreamRules) at volume.
      // Event-time-sliced micro-batches (the arrival order the
      // engine's watermark contract describes); per fold the engine
      // pays the slice's own encode + ONE horizon-pruned stepped
      // fold per rule, so a standing group's cost tracks the batch
      // and the trailing horizon — never the accreted store.
      val labelCols = Seq("type", "host", "region")
      val lev = graft.queries.TsQueries.labeledEventsFrom(
        spark.read.parquet(evPath))
      val esec = graft.tsdb.Ts.epochSec(lev, "ts")
      val rulesBase = s"$work/$tag/rules"
      hfs.delete(new org.apache.hadoop.fs.Path(rulesBase), true)
      val grp = graft.streaming.StreamRules.RuleGroup(7200L,
        recordings = Seq(graft.streaming.StreamRules.Recording(
          "region:click:sum6h",
          """sum by (region) (sum_over_time({type="click"}[6h]))""")),
        alerts = Seq(graft.streaming.StreamRules.Alert("HighClickVolume",
          """sum by (region) (sum_over_time({type="click"}[6h])) > 100""",
          14400L)),
        latenessSec = 0L, horizonSec = 28800L)
      // 8 event-time slices across the corpus's Jan-2024 span
      val cuts = (1 to 7).map(i => 1704067200L + i * 4L * 86400L)
      val bounds = (Long.MinValue +: cuts) zip (cuts :+ Long.MaxValue)
      timed(s"${tag}_stream_rules", nEv,
          "continuous rule group: 8 event-time folds, horizon-pruned") {
        bounds.zipWithIndex.foreach { case ((lo, hi), i) =>
          graft.streaming.StreamRules.foldGroupBatch(
            lev.filter(esec >= lo && esec < hi), i.toLong, labelCols,
            "ts", "value", grp,
            s"$rulesBase/raw", s"$rulesBase/rec", s"$rulesBase/alerts")
        }
        spark.read.parquet(s"$rulesBase/rec").count()
      }
      val cur = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$rulesBase/rec_rules_batch"))).trim.split("\\s+")
      val rr = results(s"${tag}_stream_rules")
      results(s"${tag}_stream_rules") = rr.copy(note = rr.note +
        s" steps=${(cur(1).toLong - cur(3).toLong) / 7200L + 1} " +
        s"alert_states=${spark.read.parquet(s"$rulesBase/alerts").count()}")
    }

    /** The relational join family at scale (r9 verdict #4): the THREE
      * explicit 100 TB join stories — salted skew join, co-located
      * bucketed join, binned range join — run through the exact
      * oracled query bodies (`RelQueries.queries`), so the measured
      * plan IS the graded plan. The scale lineitem plants a power-law
      * key distribution (20% of rows on 100 hot keys); the bucketed
      * layout build is timed separately as the ingest-once cost. */
    def relFamily(tag: String, dir: String): Unit = {
      val nLine = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val rel = graft.queries.RelQueries.queries
      timed(s"${tag}_skew_join", nLine, "salted shuffle join over power-law keys") {
        noop(rel("q_skew_join")(spark, dir))
      }
      val nb = math.max(graft.queries.Tables.defaultBuckets(dir, "lineitem"),
        graft.queries.Tables.defaultBuckets(dir, "orders"))
      timed(s"${tag}_bucket_build", nLine, s"bucketBy($nb)+sortBy layout, once per corpus") {
        graft.queries.Tables.bucketed(spark, dir, "orders", "o_orderkey", nb).count()
        graft.queries.Tables.bucketed(spark, dir, "lineitem", "l_orderkey", nb).count()
      }
      timed(s"${tag}_bucket_join", nLine, "shuffle-free co-located join off the layout") {
        noop(rel("q_bucket_join")(spark, dir))
      }
      timed(s"${tag}_range_join", nLine, "binned interval join, facts x audit windows") {
        noop(rel("q_range_join")(spark, dir))
      }
      // the oracled q_range_join derives its audit set as a FIXED
      // FRACTION of orders, so at a 10x corpus jump BOTH join sides
      // grow and candidate-pair volume grows ~100x (the 1.92
      // per-input-row linearity reading). Production auditors do not
      // multiply with the corpus: this variant holds the interval
      // count at ~2.5k regardless of scale, which is the per-row-flat
      // claim the 100 TB story actually makes
      timed(s"${tag}_range_join_fixed", nLine,
        "same binned join, auditor count held at ~2.5k (production shape)") {
        val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
        val mod = math.max(1L, nOrders / 2500L)
        val l = spark.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_quantity"),
            col("l_shipdate").cast("timestamp").cast("long").as("ship_sec"))
        val iv = spark.read.parquet(s"$dir/orders.parquet")
          .filter(pmod(col("o_orderkey"), lit(mod)) === 0)
          .select(col("o_orderkey").as("audit_key"),
            col("o_orderdate").cast("timestamp").cast("long").as("lo"),
            (col("o_orderdate").cast("timestamp").cast("long") + lit(7L * 86400))
              .as("hi"))
        noop(graft.ops.RangeJoin.bucketed(l, "ship_sec", iv, "lo", "hi", 7L * 86400)
          .groupBy("audit_key")
          .agg(count(lit(1)).as("n_ship"), sum("l_quantity").as("sum_qty")))
      }
    }

    /** ANN index build + query against one corpus dir. */
    def annFamily(tag: String, dir: String, nlist: Int): Unit = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nVec = emb.count()
      val annPath = s"$work/$tag/ann"
      timed(s"${tag}_ann_build", nVec, s"IVF-PQ train+encode once, nlist=$nlist") {
        Similarity.writeModels(emb, "vec_id", "embedding", annPath,
          nlist = nlist, m = 8, ksub = 32, iters = 4)
        nVec
      }
      timed(s"${tag}_ann_ivfpq_query", nVec, "100 queries, probe-restricted ADC") {
        val idx = Similarity.readIndex(spark, annPath)
        val q = emb.filter(col("vec_id") < 100)
        noop(Similarity.ivfPqTopKStored(idx, emb, q, "vec_id", "embedding",
          k = 5, nprobe = 16))
      }
    }

    // sf0.1 baselines first (cheap), then the scale corpus; 4th arg
    // optionally restricts to a family subset ("docs,ts,label,ann") for
    // re-measuring one family after a targeted change
    val fams = (if (args.length > 3) args(3)
      else "docs,ts,label,ann,rel,stream,nhcb,nstream,mig").split(",").toSet
    if (fams("docs")) docsFamily("sf01", sf01Dir)
    if (fams("ts")) tsFamily("sf01", sf01Dir)
    if (fams("label")) labelFamily("sf01", sf01Dir)
    if (fams("ann")) annFamily("sf01", sf01Dir, nlist = 16)
    if (fams("rel")) relFamily("sf01", sf01Dir)
    if (fams("stream")) streamFamily("sf01", sf01Dir)
    if (fams("nhcb")) nhcbFamily("sf01", sf01Dir)
    if (fams("nstream")) nstreamFamily("sf01", sf01Dir)
    if (fams("mig")) migFamily("sf01", sf01Dir)
    if (fams("docs")) docsFamily("scale", scaleDir)
    if (fams("ts")) tsFamily("scale", scaleDir)
    if (fams("label")) labelFamily("scale", scaleDir)
    if (fams("ann")) annFamily("scale", scaleDir, nlist = 256)
    if (fams("rel")) relFamily("scale", scaleDir)
    if (fams("stream")) streamFamily("scale", scaleDir)
    if (fams("nhcb")) nhcbFamily("scale", scaleDir)
    if (fams("nstream")) nstreamFamily("scale", scaleDir)
    if (fams("mig")) migFamily("scale", scaleDir)
    // the 1B decade family is OPT-IN only ("billion" in the 4th arg):
    // it reads its corpus from SPARK_GRAFT_B1_DIR (default
    // /tmp/graft_scale_1b, ScaleGen events-only)
    if (fams("billion")) billionFamily("b1",
      sys.env.getOrElse("SPARK_GRAFT_B1_DIR", "/tmp/graft_scale_1b"))

    // assemble JSON: scale rows get their sf01 sibling + per-row ratio
    def fm(d: Double): String = f"$d%.4f"
    val entries = results.toSeq.collect { case (name, r) if name.startsWith("scale_") =>
      val base = results.get("sf01_" + name.stripPrefix("scale_"))
      val ratio = base match {
        case Some(b) if b.sec > 0 && b.rowsIn > 0 && r.rowsIn > 0 =>
          fm((r.sec / r.rowsIn) / (b.sec / b.rowsIn))
        case _ => "null"
      }
      val b = base.map(b => s""","sf01_sec":${fm(b.sec)},"sf01_rows_in":${b.rowsIn}""").getOrElse("")
      s""""${name.stripPrefix("scale_")}":{"sec":${fm(r.sec)},"rows_in":${r.rowsIn},""" +
        s""""rows_out":${r.rowsOut},"spill_bytes":${r.spillBytes}$b,""" +
        s""""per_row_vs_sf01":$ratio,"note":"${r.note}"}"""
    }
    // 1B-decade rows keep their b1_ prefix (the merge script computes
    // per-row ratios against the COMMITTED 200M scale_ rows)
    val entriesB1 = results.toSeq.collect { case (name, r) if name.startsWith("b1_") =>
      s""""$name":{"sec":${fm(r.sec)},"rows_in":${r.rowsIn},""" +
        s""""rows_out":${r.rowsOut},"spill_bytes":${r.spillBytes},""" +
        s""""note":"${r.note}"}"""
    }
    def rowsIn(k: String): Long = results.get(k).map(_.rowsIn).getOrElse(0L)
    val corpus =
      s""""corpus":{"events":${rowsIn("scale_store_ingest")},""" +
      s""""documents":${rowsIn("scale_sig_build")},""" +
      s""""embeddings":${rowsIn("scale_ann_build")},""" +
      s""""lineitem":${rowsIn("scale_skew_join")}}"""
    val json = s"""{"metric":"scale_bench","scale_dir":"$scaleDir",$corpus,""" +
      s""""queries":{${(entries ++ entriesB1).mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
