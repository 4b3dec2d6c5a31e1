package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/**
 * Session extension installing all graft SQL functions, for use with
 * `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
 * (In-process callers can use `graft.functions.registerAll` instead.)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), functions.expressionInfo(name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.DecodeNarrowRule)
    ext.injectOptimizerRule(_ => graft.plans.ChunkPruneRule)
    ext.injectOptimizerRule(_ => graft.plans.ChunkAggRule)
    ext.injectOptimizerRule(_ => graft.plans.ChunkBucketAggRule)
    ext.injectQueryStagePrepRule(_ => graft.plans.SingleTaskAggRule)
  }
}
