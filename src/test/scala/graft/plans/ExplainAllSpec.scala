package graft.plans

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape snapshots for the most expensive queries in the suite,
 * so a physical-plan regression (a lost broadcast, a regained shuffle,
 * a dropped pushdown, a re-doubled store decode) is caught by
 * `sbt test` — not discovered two rounds later in the bench numbers.
 *
 * The pinned numbers are the INTENDED plan, not an accident of the
 * snapshot: every entry documents why its count is what it is. A
 * failing entry means either a real regression or an intentional
 * plan change — update the expectation ONLY with a reason.
 */
class ExplainAllSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** (shuffle exchanges, broadcast exchanges, gorilla_decode calls) of
    * the pre-execution physical plan. AQE may coalesce at runtime, but
    * the initial plan is what the optimizer committed to.
    *
    * Every sf0.001 table is one file, which [[SingleTaskAggRule]] reads
    * as one partition and so plans without its partial→final aggregate
    * shuffles. By default `shape` reads files in 1 KB splits, so the
    * pins below hold the multi-partition plan that larger inputs get;
    * `split = false` shapes the plan of the default read. */
  private def shape(name: String, split: Boolean = true): (Int, Int, Int) = {
    if (split) spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try {
      graft.tools.Probe.shape(
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString)
    } finally if (split) spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  private def mismatches(expected: Map[String, (Int, Int, Int)], split: Boolean) =
    expected.flatMap { case (name, want) =>
      val got = shape(name, split)
      if (got != want)
        Some(s"$name: expected (shuffles, bcasts, decodes)=$want, got $got")
      else None
    }

  test("plan-shape snapshots of the expensive queries hold") {
    // name -> (shuffles, broadcasts, decode-call sites), with the why
    val expected = Map(
      // moments off the stored header stats (groupBy shuffle over
      // header rows + broadcast onto the points), final orderBy; ONE
      // decode of the persisted store — the moments branch reads stat
      // columns only (no chunk bytes), and the round-4 double-decode
      // (two full store scans) must never come back. No window: the
      // round-5 whole-partition window buffered each series in one
      // task — a hot-series straggler at scale (asserted below)
      "ts_store_anomaly" -> (2, 1, 1),
      // same join shape off the PERSISTED store (r18: points() reads
      // the ingest-once store instead of re-encoding events inline —
      // the chunkify repartition left the plan); moments agg + final
      // orderBy shuffles
      "ts_anomaly" -> (2, 1, 1),
      // decode-free: ChunkAggRule answers count/min/max/sum_cents from
      // per-chunk partials (encode repartition + agg + orderBy; ZERO
      // decode call sites in the plan)
      "ts_points_agg" -> (3, 0, 0),
      // dims broadcast, fact scan never shuffles pre-agg: 2 shuffles
      // (agg + orderBy), 5 broadcasts (region/nation/customer/supplier
      // dim chain) — the round-4 "2x drift" suspect; the pinned plan
      // proves it never changed
      "q5_join" -> (2, 5, 0),
      // TakeOrdered top-k: agg shuffle only, no global sort exchange
      "q3_topk" -> (1, 2, 0),
      // scan -> partial agg -> final agg -> single-row result: 1
      // shuffle, no joins at all, filters pushed (asserted separately)
      "q6_filter" -> (1, 0, 0),
      // the salt's POINT is a shuffle join: both table sides shuffle on
      // (key, salt), then agg + orderBy; NO broadcast (the salt only
      // de-skews an exchange that exists)
      "q_skew_join" -> (5, 0, 0),
      // IVF probe/scan/rerank off the persisted model store: corpus
      // assignment is a kernel scan (no crossJoin — plan-asserted in
      // OpsSpec), candidate + rerank joins drive the shuffles, small
      // sides broadcast. Round 6 dropped the candidate distinct() (IVF
      // pairs are unique by construction — one list per vector), so
      // one fewer shuffle than r5
      "sim_ann_ivf" -> (2, 3, 0),
      // list-restricted ADC scan + rerank: LUT/centroid/query sides
      // broadcast (6); with lists AND codes read from the persisted
      // index (round 5) the per-query corpus encode is gone — only the
      // candidate/ADC-agg/rerank joins shuffle (was 5 when codes were
      // recomputed per query)
      "sim_ann_ivfpq" -> (3, 6, 0),
      // survivor join over the component labels. Round 11: the
      // broadcast-sized dup subgraph routes to the driver union-find
      // arm, so the head plan is the corpus scan joined with two
      // BROADCAST cluster-grain frames (labels, sizes) + the orderBy
      // exchange — 7 shuffles -> 1, and the only remaining exchange
      // is the final sort (was: per-round fixpoint barriers)
      "dedup_apply" -> (1, 3, 0),
      // read-your-writes union: encode repartition + horizon agg +
      // final orderBy drive the shuffles, the one-row-per-series
      // horizon broadcasts, and the sealed side decodes exactly ONCE
      "ts_live_range" -> (4, 1, 1),
      // 3-stage composition (batch banding + history buckets + in-batch
      // LSH + jaccard verify): many small exchanges by construction —
      // the pinned point is that NOTHING corpus-sized broadcasts (the
      // 9 broadcasts are candidate-bounded verify sides) and no decode
      "dedup_incremental" -> (23, 9, 0),
      // prefix-filtered containment off the PUBLISHED posting table:
      // the df groupBy + rank window moved into the once-per-corpus
      // artifact, so per-query shuffles are only the candidate
      // distinct + final orderBy (was 4 when postings rebuilt per
      // run); broadcasts are the prefix/shingle verify sides (none
      // corpus-text-sized), and nothing decodes
      "text_containment_join" -> (2, 3, 0),
      // reference-LM score: bigram/unigram count aggs + per-doc agg +
      // final orderBy; the tiny gate-corpus reference tables broadcast
      // (size-driven — at 2M docs they exceed the threshold and the
      // same plan shuffles, measured spill-free); nothing decodes
      "text_lm_score" -> (4, 2, 0),
      // maximal shared-run extents (flat small-SF baseline): gram
      // index agg, df-cap agg, fp self-join, island window, final
      // orderBy; the 3 broadcasts are SIZE-DRIVEN small-SF joins (the
      // df-cap keep side and fp-blocked sides shuffle at corpus scale
      // — the 2M-doc run is shuffle-shaped, 0 spill); never a decode
      "text_span_extents" -> (6, 3, 0),
      // scrub = extents + token anti join (equi id + range residual)
      // + per-doc rebuild agg + pass-through left join + orderBy; the
      // extra broadcast is the extent-count-sized span side, which is
      // the INTENDED shape at every scale (spans ≪ tokens)
      // +1 shuffle +1 bcast r15: the destructive path CONFIRMS each
      // extent against raw token text first — both extent sides
      // explode into ONE slice-request join (a single extra text
      // shuffle; the naive two-join spelling measured 3× the scrub
      // at 2M docs) — fp-collision extents must never delete text
      "text_span_scrub" -> (9, 5, 0),
      // delete-durable live view: ONE decode of the deleted store's
      // sealed side; shuffles are the chunk-horizon groupBy, the
      // persisted-marker merge groupBy, and the final orderBy; the
      // one-row-per-series merged horizon broadcasts onto the open
      // tail — nothing store-sized shuffles twice
      "ts_store_live_delete" -> (3, 1, 1),
      // late-batch routing: the batch's (series, window) keys BROADCAST
      // twice (anti + semi) — the store side must never shuffle to meet
      // a small batch; ONE decode (the touched windows), the outer
      // aggExact readback is ChunkAggRule-rewritten decode-free. The 7
      // shuffles: source chunkify, key distinct, merged re-chunkify,
      // unions' partial/final agg, orderBy
      "ts_upsert" -> (7, 2, 1),
      // reading the persisted upserted store back: ZERO decodes —
      // ChunkAggRule answers aggExact from per-chunk partials (agg +
      // orderBy shuffles only). The merge cost lives at write time,
      // queries pay the normal compressed-store path
      "ts_store_upsert" -> (2, 0, 0),
      // M4: one hash aggregate over store-decoded points (agg +
      // orderBy; the r18 store-backed points() dropped the encode
      // repartition), no Window operator, no joins — the 4-points-
      // per-pixel reduction must stay a single-pass partial agg
      "ts_m4" -> (2, 0, 1),
      // MAD: two aggregation passes over the decoded points with the
      // one-row-per-series median BROADCAST back between them (never a
      // shuffle join against the point stream, never a Window). 3
      // shuffles = med agg + final agg + orderBy (the two inline
      // encode repartitions left the plan when r18 moved points() to
      // the persisted store); still 2 decode sites, one per pass
      "ts_mad" -> (3, 1, 2),
      // native histogram_quantile: ONE decode of the selector's
      // chunks (the count-arm total rides a group-sized window over
      // the same frame — the r15 first cut filter+joined the count
      // arm and decoded twice); 3 shuffles = chunk scan agg + the two
      // window exchanges, 1 broadcast = the ~140-row bound table
      "promql_native_histq" -> (3, 1, 1),
      // stepped adds the grid-assembly exchange; still one decode
      "promql_range_native_histq" -> (4, 1, 1),
      // mixed-schema quantile: ONE decode of the selector's chunks —
      // the downscale's coarsest-schema lookup is a window over the
      // FOLDED (series-sized) vector, never an agg+crossJoin that
      // would reference the rate subtree twice and re-decode (the r16
      // first cut did exactly that: (5,2,2)); 1 broadcast = the
      // schema-keyed bound table, 2 shuffles = fold + window exchange
      "promql_native_histq_mixed" -> (2, 1, 1),
      // WIDE mixed (negative coarsest): identical shape — the wider
      // schema table changes only broadcast CONTENT, never the plan
      "promql_native_histq_mixed_wide" -> (2, 1, 1),
      // stepped wide: the grid-assembly exchange on top, still ONE
      // decode (the cross-sign downscale stays a window over the
      // folded per-step vector)
      "promql_range_native_histq_wide" -> (3, 1, 1),
      // signed store quantile: same shape as the unsigned native form
      // (mirror spans ride the same bound broadcast + windows)
      "promql_native_histq_signed" -> (3, 1, 1),
      // avg by (nb) over the mixed fleet: ONE decode and only TWO
      // exchanges — the per-series pre-merge partial-aggregates
      // map-side on the downscale fold's output, so restoring the
      // per-histogram layout costs no extra decode and no third
      // shuffle (fold + merged-agg exchanges only)
      "promql_native_hist_avg_mixed" -> (2, 0, 1),
      // NHCB quantile: bounds are DATA-CARRIED (the nbc label), so
      // zero broadcasts — one decode, fold + two window exchanges
      "promql_nhcb_quantile" -> (3, 0, 1),
      // stepped NHCB adds the grid-assembly exchange; still one decode
      "promql_range_nhcb_quantile" -> (4, 0, 1),
      // migration union (classic le + NHCB nbc in ONE store): the
      // bridge rewrite + telescope gate + bound merge are windows and
      // one tiny groupBy over the FOLDED vector, so the shape stays
      // the NHCB quantile's — ONE decode (the union never references
      // the rate subtree twice), zero broadcasts (bounds are
      // data-carried), fold + union-window/merge + quantile-window
      // exchanges
      "promql_histq_migration" -> (3, 0, 1),
      // stepped migration adds the grid-assembly exchange; still one
      // decode
      "promql_range_histq_migration" -> (4, 0, 1),
      // keep_firing_for: fully compressed-domain (ZERO decode — the
      // stepped sum_over_time filter answers from bucket partials);
      // the 4 exchanges are the stepped window assembly + sum by
      // (region) + for-window, + the orderBy — all over grid-sized
      // state rows, never point data. The condition rows and their
      // hysteresis tails come from ONE explode over the marked rows, so
      // the condition subtree is planned once (a union of a true-row
      // arm and a tail arm planned it twice: 7 exchanges, two scans).
      // Stepped `_over_time` aggregates its chunk-bucket partials once
      // per (series, window): no per-(series, bucket) exchange
      "promql_alert_keep" -> (4, 0, 0))
    val failures = mismatches(expected, split = true)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("one-file reads drop the partial→final aggregate shuffles (default read)") {
    // the same keys read at the default split size: each table is one
    // file, so SingleTaskAggRule removes every partial→final exchange
    // whose segment is unary up to the next kept exchange
    val expected = Map(
      // the moments agg runs in the scan's task; the final orderBy's
      // range exchange stays
      "ts_anomaly" -> (1, 1, 1),
      // the fact scan streams through the broadcast dim chain in one
      // task, so the n_name agg needs no shuffle; orderBy stays
      "q5_join" -> (1, 5, 0),
      // the top-k agg runs in the scan's task; TakeOrdered never shuffles
      "q3_topk" -> (0, 2, 0),
      // keyless agg: partial and final in one task, no SinglePartition
      // exchange
      "q6_filter" -> (0, 0, 0),
      // the per-query ObjectHashAggregate (q_id) over the one-file query
      // side loses its exchange; candidate and rerank joins keep theirs
      "sim_ann_ivfpq" -> (2, 6, 0),
      // the batch-key distinct under each broadcast (anti + semi) runs
      // in the batch scan's task; the three chunkify repartitions (user
      // exchanges), the agg over the union and the orderBy keep theirs
      "ts_upsert" -> (5, 2, 1),
      // the gram-index (fp) and df-cap (doc_id, fp) aggs, in both arms
      // of the self-join, run in the scan's task; island window and
      // orderBy keep theirs
      "text_span_extents" -> (2, 3, 0),
      // the same four extent aggs as text_span_extents; the slice join,
      // rebuild agg, anti join and orderBy exchanges stay
      "text_span_scrub" -> (5, 5, 0),
      // bigram (w1, w2), unigram (w1) and per-doc (id) aggs run in the
      // scan's task; only the final orderBy shuffles
      "text_lm_score" -> (1, 2, 0))
    val failures = mismatches(expected, split = false)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("anomaly queries are window-free (skew guard: no whole-partition buffering)") {
    // the 3-sigma moments must come from a partial-aggregating groupBy
    // + broadcast join, never a whole-partition window (which lands
    // each series' full point set on one task with no map-side combine)
    for (name <- Seq("ts_anomaly", "ts_store_anomaly", "ts_mad")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution
        .executedPlan.toString
      assert(!plan.contains("Window"), s"$name plan contains a Window operator")
      assert(plan.contains("BroadcastExchange"), s"$name moments side not broadcast")
    }
  }

  test("keyterms df is a partial-aggregating groupBy, not a term window (skew guard)") {
    // document frequency over a hot stopword must partial-aggregate
    // (one partial per input partition, map-side combine), never
    // buffer every containing doc in one window task
    val plan = SparkEntry.queries("text_keyterms")(spark, dir).queryExecution
      .executedPlan.toString
    val windows = "(?m)^[^\\n]*\\bWindow\\b".r.findAllIn(plan).size
    assert(windows == 1, s"expected only the per-doc rank window, got $windows:\n$plan")
    assert(plan.contains("partial_count"), s"df side lost its map-side combine:\n$plan")
  }

  test("stored ANN queries scan the cached index, not parquet (hot-index gate)") {
    // storeModels persists the encoded-corpus tables once per session;
    // every sim_ann_* execution after that must read them from the
    // block-manager cache (InMemoryTableScan), not re-scan the model
    // parquet — losing the persist silently re-adds a per-query
    // corpus-codes read that the bench would only catch rounds later
    graft.queries.OpsQueries.storeModels(spark, dir)
    for (name <- Seq("sim_ann_sq8", "sim_ann_pq", "sim_ann_lsh")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution
        .executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"$name does not read the cached index:\n$plan")
    }
  }

  test("PQ ADC scan is the packed kernel, not an exploded code join (scale-shape gate)") {
    // the r10 scale-recall run measured the exploded (id, j, code) ×
    // LUT join + re-grouping aggregate as the entire 280-340 s ADC
    // cost at 2M vectors; the packed adc_score kernel scan must not
    // silently regress back to it
    graft.queries.OpsQueries.storeModels(spark, dir)
    for (name <- Seq("sim_ann_pq", "sim_ann_ivfpq", "sim_ann_ivfpq_res")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution
        .optimizedPlan.toString
      assert(plan.contains("adc_score"),
        s"$name lost the packed ADC kernel:\n${plan.take(3000)}")
      assert(!plan.toLowerCase.contains("approx_dot) as approx_dot#"),
        s"$name re-grew an ADC re-grouping aggregate")
      assert(!plan.contains("sum(pdot"),
        s"$name re-grew the exploded LUT-join aggregate:\n${plan.take(3000)}")
    }
  }

  test("q6 scan keeps its pushed filters (regression gate on pushdown)") {
    val plan = SparkEntry.queries("q6_filter")(spark, dir).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual".r.findFirstIn(plan).isDefined,
      s"range predicate not pushed:\n$plan")
  }
}
