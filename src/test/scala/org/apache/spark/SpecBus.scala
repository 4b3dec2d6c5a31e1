package org.apache.spark

/** Lets a spec wait until Spark's listener bus has delivered every event
  * posted so far, so a listener's counts cover exactly the work the spec
  * ran. `listenerBus` is package-private to Spark. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
