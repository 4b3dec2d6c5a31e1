package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class TsQueriesSpec extends AnyFunSuite {
  test("store cache roots are not hidden: no leaf name starts with _ or .") {
    for (dir <- Seq("/data/sf0.01", "sf0.01", "./sf0.01", "_sf")) {
      val leaf = new org.apache.hadoop.fs.Path(TsQueries.storePathFor(dir)).getName
      assert(!leaf.startsWith("_") && !leaf.startsWith("."), s"$dir -> $leaf")
    }
  }
}
