package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has reached its listeners,
    * so a traced op's jobs, query executions and stream progress are
    * all recorded before the next op starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
