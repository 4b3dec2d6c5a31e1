package graft.tools

import graft.{Bench, LocalSession, SparkEntry}
import graft.Bench.Split
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SimpleMode

/**
 * Times and explains query keys.
 *
 *   runMain graft.tools.Probe time <sfDir> [-rN] [key…]
 *
 * One cold pass over the keys, then N warm reps of each (default 1),
 * with the per-key body and rep loop of [[graft.Bench]]: every run is
 * split into build (the DataFrame), plan (the physical plan `count()`
 * runs) and exec. `store_write` is the bench's write control. Prints
 * one line per key; with no keys, every query key and `store_write`.
 *
 *   runMain graft.tools.Probe explain <sfDir> <out.md> [key…]
 *
 * Writes each key's physical plan, filters in full, under a header
 * with its shuffle exchange count; with no keys, every query key. To
 * diff two dumps, mask expression ids (`#123`), `plan_id=` values and
 * JVM identity hashes (`@1a2b3c`, `Lambda$12/0x…`).
 */
object Probe {
  /** (shuffle exchanges, broadcast exchanges, `gorilla_decode` calls)
    * of a physical plan's text. */
  def shape(plan: String): (Int, Int, Int) = (
    "(?m)^[^\\n]*\\bExchange (hash|range|Single)".r.findAllIn(plan).size,
    "BroadcastExchange".r.findAllIn(plan).size,
    "gorilla_decode".r.findAllIn(plan).size)

  /** A key's cold run and its warm runs; a failed run is left out. */
  final case class Timing(key: String, cold: Option[Split], warm: Seq[Split])

  def time(spark: SparkSession, sfDir: String, keys: Seq[String], reps: Int): Seq[Timing] = {
    val bodies = keys.map(k => k -> Bench.keyBody(spark, sfDir, k))
    val cold = bodies.map { case (k, body) => Bench.reps(1, s"$k cold")(body).headOption }
    bodies.zip(cold).map { case ((k, body), c) =>
      Timing(k, c, Bench.reps(reps, s"$k rep")(body))
    }
  }

  /** The markdown plan dump of `keys`, in their order. */
  def explain(spark: SparkSession, sfDir: String, keys: Seq[String]): String = {
    val sb = new StringBuilder("# graft query plans\n")
    keys.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(SimpleMode)
      val shuffles = shape(plan)._1
      sb.append(s"\n## $name  (exchanges: $shuffles)\n```\n$plan```\n")
      println(f"$name%-24s exchanges=$shuffles")
    }
    sb.toString
  }

  private def allKeys: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  private def report(t: Timing): String = {
    import Bench.{median => med}
    val cold = t.cold.fold("failed")(c => f"${c.total}%.3f")
    if (t.warm.isEmpty) f"${t.key}%-40s cold=$cold warm=failed"
    else {
      val total = t.warm.map(_.total).sorted
      f"${t.key}%-40s cold=$cold build=${med(t.warm.map(_.build))}%.3f " +
        f"plan=${med(t.warm.map(_.plan))}%.3f exec=${med(t.warm.map(_.exec))}%.3f " +
        f"min=${total.head}%.3f med=${med(total)}%.3f max=${total.last}%.3f reps=${t.warm.size}"
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: rest =>
      val (reps, keys) = rest match {
        case r :: ks if r.startsWith("-r") =>
          (r.drop(2).toIntOption.filter(_ >= 1)
            .getOrElse(sys.error(s"-rN needs an integer N >= 1, got '$r'")), ks)
        case ks => (1, ks)
      }
      val spark = LocalSession.start("graft-probe")
      try time(spark, sfDir, if (keys.nonEmpty) keys else allKeys :+ "store_write", reps)
        .foreach(t => println(report(t)))
      finally { graft.ops.CacheScope.releaseAll(); spark.stop() }
    case "explain" :: sfDir :: out :: keys =>
      // filters print whole: a cut string moves with the digits of the
      // expression ids, so two dumps would differ beyond their ids
      val spark = LocalSession.start("graft-probe",
        conf = Map("spark.sql.maxMetadataStringLength" -> Int.MaxValue.toString))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        explain(spark, sfDir, if (keys.nonEmpty) keys else allKeys))
      finally spark.stop()
      println(s"plans written to $out")
    case _ =>
      System.err.println("usage: Probe time <sfDir> [-rN] [key...] | " +
        "Probe explain <sfDir> <out.md> [key...]")
      sys.exit(2)
  }
}
