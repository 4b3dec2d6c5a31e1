package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{CacheScope, Dedup}

/**
 * `dedup`: the training-data path, and the control for time-series
 * changes (no codec, store or PromQL code runs). A seeded corpus with
 * planted exact and near duplicates goes through signatures, MinHash LSH
 * candidate pairs, Jaccard verification, connected components and the
 * dedup-apply join; each stage is one timed operation whose output is
 * persisted for the next. The components must recover every planted
 * duplicate and nothing else.
 */
final class DedupWorkload(spark: SparkSession, work: String, seed: Long, threads: Int)
    extends Workload {
  val itemKinds = Set("stage")
  private val NDocs = 10000L
  private val planted = Gen.plantedDups(NDocs)
  /** Every within-block pair of a planted duplicate group. */
  private val plantedPairs: Set[(Long, Long)] = planted.toSeq.groupBy(_._2).flatMap {
    case (base, dups) =>
      val ids = (base +: dups.map(_._1)).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
  }.toSet
  private var docsDir = ""
  private var candidates = 0L
  private var verified = 0L

  def setup(rep: Int): Unit = {
    docsDir = s"$work/docs-$rep"
    val sd = seed
    val rows = spark.sparkContext.range(0L, NDocs, 1, threads).map(id => Row(id, Gen.docText(sd, id)))
    spark.createDataFrame(rows, StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
      .write.mode("overwrite").parquet(docsDir)
  }

  def cycle(r: Runner, k: Int): Unit = {
    val docs = spark.read.parquet(docsDir)
    val held = ArrayBuffer[DataFrame]()
    /** Run a stage: build its frame through `graft.ops`, persist it and
      * materialize it once through the no-op sink. */
    def stage(name: String, items: Long = 0L)(build: => DataFrame)(
        check: DataFrame => Option[String]): DataFrame =
      r.op(name, "stage", items) {
        val df = r.span(s"Dedup.$name", "ops")(build).persist(StorageLevel.MEMORY_AND_DISK)
        held += df
        r.noop(df)
        df
      }(check)
    try {
      val sigs = stage("signatures")(Dedup.signatures(docs, "id", "text", 64))(_ => None)
      val pairs = stage("lsh_pairs")(Dedup.minhashLshSigs(sigs, 16, 4)) { p =>
        candidates = p.count(); None
      }
      val ver = stage("verify")(Dedup.jaccardVerifySigs(pairs, sigs, 0.7)) { v =>
        val got = v.select("a_id", "b_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        verified = got.size
        val lost = plantedPairs -- got
        if (lost.isEmpty) None
        else Some(s"verify lost ${lost.size} planted duplicate pairs, e.g. ${lost.take(3).mkString(",")}")
      }
      val comps = stage("components")(Dedup.components(ver, docs.select("id"), "id")) { c =>
        val got = c.filter(col("is_dup")).select("id", "comp").collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
        if (got == planted) None
        else Some(s"components: ${(planted.keySet -- got.keySet).size} planted duplicates missed, " +
          s"${(got.keySet -- planted.keySet).size} false duplicates, " +
          s"${planted.count { case (d, b) => got.get(d).exists(_ != b) }} wrong canonical ids")
      }
      stage("apply", NDocs)(docs.join(comps.filter(!col("is_dup")).select("id"), "id")) { kept =>
        val left = kept.count()
        if (left == NDocs - planted.size) None
        else Some(s"apply kept $left docs, expected ${NDocs - planted.size}")
      }
    } finally {
      held.foreach(_.unpersist(true))
      CacheScope.releaseAll()
    }
  }

  /** The first warm-up pass runs the stages cold; a second one lets the
    * JIT compile Spark's and graft's hot paths before timing starts. */
  override def warmupCycles: Int = 2

  override def layerMetrics(r: Runner): Map[String, Double] = {
    def med(n: String) = Stats.median(r.tracedOps.filter(_.name == n).map(_.seconds))
    Map("ops.signatures_s" -> med("signatures"), "ops.lsh_pairs_s" -> med("lsh_pairs"),
      "ops.verify_s" -> med("verify"), "ops.components_s" -> med("components"),
      "ops.candidates" -> candidates.toDouble,
      "ops.verify_yield" -> verified.toDouble / math.max(1L, candidates)) ++
      Probe.text(r, spark.read.parquet(docsDir), NDocs)
  }

  override def report(r: Runner): Seq[String] = {
    val ok = r.okMeasured.filter(o => !o.traced && r.completed.contains(o.cycle))
    Seq(f"dedup_docs_per_s=${ok.map(_.items).sum / ok.map(_.seconds).sum}%.1f " +
      f"(n=${ok.count(_.name == "apply")} pipelines over $NDocs docs)")
  }
}
