package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val keys = Seq("q6_filter", "promql_and")

  test("time: one row per key, each warm run split into positive build, plan and exec") {
    val rows = Probe.time(spark, dir, keys, reps = 1)
    assert(rows.map(_.key) == keys)
    rows.foreach { r =>
      assert(r.cold.isDefined, s"${r.key} cold run failed")
      assert(r.warm.size == 1, s"${r.key}: ${r.warm}")
      val w = r.warm.head
      assert(w.build > 0 && w.plan > 0 && w.exec > 0, s"${r.key}: $w")
    }
  }

  test("explain: one section per key, headed by its shuffle exchange count") {
    val dump = Probe.explain(spark, dir, keys)
    assert("(?m)^## ".r.findAllIn(dump).size == keys.size)
    // an exchange under a join's first child prints as `:  +- Exchange`;
    // counting only lines that start with `Exchange` or `+- Exchange`
    // read 4 here
    assert(dump.contains("## promql_and  (exchanges: 5)"), dump)
  }
}
