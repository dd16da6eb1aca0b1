// The listener bus and its drain are private[spark]; this shim is the
// one place the harness reaches into Spark's namespace. Draining before a
// phase boundary makes every event of the phase that just ended land on
// that phase's counters.
package org.apache.spark

object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
