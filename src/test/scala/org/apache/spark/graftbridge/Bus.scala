package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * the status tracker has seen every job that already ran. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
