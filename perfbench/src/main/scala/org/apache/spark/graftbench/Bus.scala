package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the tracer reads its counters only after every event was delivered. */
object Bus {
  def drain(s: SparkSession): Unit = s.sparkContext.listenerBus.waitUntilEmpty()
}
