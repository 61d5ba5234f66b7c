package org.apache.spark.graft

/** `listenerBus` is spark-private, hence the package; see [[graft.Jobs.drain]]. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
