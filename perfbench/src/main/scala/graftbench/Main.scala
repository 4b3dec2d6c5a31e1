package graftbench

import org.apache.spark.sql.SparkSession

/**
 * Benchmark driver for graft's public library API.
 *
 *   Main --workload ingest|dashboard|dedup --seed N --seconds S --trace 0|1
 *        --work DIR --threads T
 *
 * Sets the workload up `SetupReps` times (the median is `setup_s`), runs
 * the workload's untimed warm-up cycles, then measures a closed loop for S seconds.
 * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` the
 * per-layer metrics, from a run whose cycles alternate untraced and traced
 * so the tracing overhead is measured in the same run. The last stdout
 * line is one JSON object; the process exits 1 when any operation failed
 * or returned a wrong result.
 */
object Main {
  private val SetupReps = 3

  /** End-to-end metrics (tracing off), with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_gmean_s" -> "s", "ops_per_s" -> "1/s", "items_per_s" -> "items/s")

  /** Per-layer metrics (traced run), with units. A metric of a layer the
    * workload never calls reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.encode_mpts_per_s" -> "Mpts/s", "core.decode_mpts_per_s" -> "Mpts/s",
    "core.aggregate_mpts_per_s" -> "Mpts/s", "core.bytes_per_point" -> "B/point",
    "functions.decode_pts_per_s" -> "pts/s", "functions.chunk_agg_pts_per_s" -> "pts/s",
    "functions.bucket_agg_pts_per_s" -> "pts/s", "functions.minhash_docs_per_s" -> "docs/s",
    "tsdb.chunkify_write_s" -> "s", "tsdb.upsert_s" -> "s", "tsdb.delete_s" -> "s",
    "tsdb.compact_s" -> "s", "tsdb.expire_s" -> "s",
    "promql.parse_ms" -> "ms", "promql.build_ms" -> "ms",
    "plans.optimize_ms" -> "ms", "plans.physical_ms" -> "ms", "plans.rewrites" -> "count",
    "plans.graft_rules_ms" -> "ms", "plans.graft_rule_hits" -> "count",
    "store.files_read" -> "count", "store.bytes_read" -> "B", "store.chunks_read" -> "count",
    "store.chunks_read_frac" -> "1", "store.bytes_per_point" -> "B/point",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_frac" -> "1",
    "spark.gc_s" -> "s", "driver.gap_s" -> "s", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.peak_exec_mem_mb" -> "MB",
    "ops.signatures_s" -> "s", "ops.lsh_pairs_s" -> "s", "ops.verify_s" -> "s",
    "ops.components_s" -> "s", "ops.candidates" -> "count", "ops.verify_yield" -> "1",
    "self.bench_s" -> "s", "self.tsdb_s" -> "s", "self.promql_s" -> "s", "self.ops_s" -> "s",
    "self.plans_s" -> "s", "self.driver_s" -> "s", "self.spark_s" -> "s",
    "trace.overhead_frac" -> "1")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val threads = opt("threads").toInt
    require(Set("ingest", "dashboard", "dedup").contains(workload), s"unknown workload $workload")

    log("main")
    Files.rm(work) // every run starts from empty store, checkpoint and scratch dirs
    new java.io.File(work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    log("spark session up")

    val (correct, json) = run(spark, workload, seed, seconds, traced, threads, work)
    spark.stop()
    Seq("spark-local", "checkpoints", "warehouse").foreach(d => Files.rm(s"$work/$d"))
    println(json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** One workload: set-up, warm-up, measured loop, metrics. Returns whether
    * every check passed, and the JSON result line. */
  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
                  traced: Boolean, threads: Int, work: String): (Boolean, String) = {
    val data = s"$work/data"
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, data, seed, threads)
      case "dashboard" => new DashboardWorkload(spark, data, seed, threads)
      case "dedup" => new DedupWorkload(spark, data, seed, threads)
    }
    val tracer = new Tracer(spark, () => w.storeRoot)
    val r = new Runner(spark, tracer)

    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"$workload set-up done: ${setups.map(s => f"$s%.2f").mkString(", ")} s")
    r.warmup(w)
    log(s"$workload warm-up done")
    val wall = r.measure(w, seconds, traced)
    log(f"$workload measured $wall%.1f s")

    val ok = r.okMeasured.filter(!_.traced)
    val lat = ok.map(_.seconds)
    // each operation of the cycle weighs the same, however many samples it has
    val opMedians = ok.groupBy(_.name).values.map(os => Stats.median(os.map(_.seconds))).toSeq
    val complete = r.completed.toSet
    val itemOps = ok.filter(o => w.itemKinds.contains(o.kind) && complete.contains(o.cycle))
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val v = Map(
          "setup_s" -> Stats.median(setups),
          "op_gmean_s" -> Stats.gmean(opMedians),
          "ops_per_s" -> lat.length / lat.sum,
          "items_per_s" -> itemOps.map(_.items).sum / itemOps.map(_.seconds).sum)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val v = layer(r, w, threads)
        PerLayer.map { case (n, u) => (n, u, v.get(n).filterNot(_.isNaN).getOrElse(0.0)) }
      }

    val summary = Seq(
      s"# workload=$workload seed=$seed trace=${if (traced) 1 else 0} threads=$threads " +
        f"measured=${wall}%.1fs cycles=${r.completed.length} ops=${r.measured.length} " +
        f"ok=${r.okMeasured.length} setup_reps=${setups.map(s => f"$s%.2f").mkString(",")}") ++
      (if (traced) Nil else w.report(r).map("# " + _)) ++
      r.okMeasured.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (n, os) =>
        f"# op $n%-24s n=${os.length}%3d median=${Stats.median(os.map(_.seconds))}%.4f s " +
          os.map(o => f"${o.seconds}%.3f").mkString("[", " ", "]") } ++
      metrics.map { case (n, u, x) => f"# $n%-32s $x%16.6f $u" }
    summary.foreach(println)

    val correct = r.failed == 0 && metrics.forall(m => !m._3.isNaN && !m._3.isInfinite)
    if (!correct) System.err.println(s"benchmark result is NOT correct: ${r.failed} failed checks")
    val json = "{" + Seq(
      "\"correct\": " + correct,
      "\"attempted\": " + r.attempted,
      "\"failed\": " + r.failed,
      "\"metrics\": {" + metrics.map { case (n, u, x) =>
        s""""$n": {"value": ${num(x)}, "unit": "$u"}""" }.mkString(", ") + "}").mkString(", ") + "}"

    Files.write(s"$work/result.json", json + "\n")
    Files.write(s"$work/summary.txt", summary.mkString("\n") + "\n")
    if (traced) Files.write(s"$work/spans.jsonl", tracer.allSpans().map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""layer": "${s.layer}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString("\n") + "\n")
    w.cleanup()
    Files.rm(data)
    (correct, json)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit =
    System.err.println(f"[graftbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  /** Per-layer metrics of a traced run: Spark and planner counters per
    * traced operation, self time per layer per operation, the workload's
    * own layer metrics and probe, and the tracing overhead. */
  private def layer(r: Runner, w: Workload, threads: Int): Map[String, Double] = {
    val ops = r.tracedOps
    val ids = ops.map(_.id).toSet
    val spans = r.tracer.allSpans().filter(s => ids.contains(s.op))
    val n = math.max(1, ops.length).toDouble
    val cs = ops.flatMap(o => r.tracer.counters.get(o.id))
    val gapNs = ops.map { o =>
      val root = spans.find(s => s.op == o.id && s.parent == -1)
      val jobs = spans.filter(s => s.op == o.id && s.name.startsWith("job")).map(s => (s.startNs, s.endNs))
      root.map(s => Tracer.uncovered(s.startNs, s.endNs, jobs)).getOrElse(0L)
    }.sum
    val self = Tracer.selfTime(spans)
    // tracing overhead: same operations, traced cycles against untraced ones
    val byName = r.okMeasured.groupBy(_.name)
    val paired = byName.values.flatMap { recs =>
      val (t, u) = recs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.seconds)), Stats.median(u.map(_.seconds))))
    }
    Map(
      "plans.optimize_ms" -> r.perOp(_.optimizeMs.toDouble),
      "plans.physical_ms" -> r.perOp(_.physicalMs.toDouble),
      "plans.graft_rules_ms" -> r.perOp(_.graftRuleNs / 1e6),
      "plans.graft_rule_hits" -> r.perOp(_.graftRuleHits.toDouble),
      // the first traced sample of each operation: a fixed set of plans
      "plans.rewrites" -> ops.groupBy(_.name).values.map(_.minBy(_.id))
        .flatMap(o => r.tracer.counters.get(o.id)).map(_.rewrites).sum.toDouble,
      "store.files_read" -> r.perOp(_.storeFiles.toDouble),
      "store.bytes_read" -> r.perOp(_.storeBytes.toDouble),
      "store.chunks_read" -> r.perOp(_.storeChunks.toDouble),
      "spark.jobs" -> r.perOp(_.jobs.toDouble),
      "spark.tasks" -> r.perOp(_.tasks.toDouble),
      "spark.task_busy_frac" -> cs.map(_.taskRunMs).sum / 1e3 / (ops.map(_.seconds).sum * threads),
      "spark.gc_s" -> r.perOp(_.gcMs / 1e3),
      "driver.gap_s" -> gapNs / 1e9 / n,
      "spark.shuffle_write_bytes" -> r.perOp(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> r.perOp(_.spillBytes.toDouble),
      "spark.peak_exec_mem_mb" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakExecMem).max / 1048576.0),
      "trace.overhead_frac" -> (if (paired.isEmpty) 0.0
        else paired.map(_._1).sum / paired.map(_._2).sum - 1.0)
    ) ++ Seq("bench", "tsdb", "promql", "ops", "plans", "driver", "spark")
      .map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / n) ++
      w.layerMetrics(r)
  }
}
