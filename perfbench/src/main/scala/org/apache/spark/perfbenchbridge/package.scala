package org.apache.spark

/** The listener bus delivers task events asynchronously. Reading a
  * listener's totals right after an action would miss the tail of that
  * action's tasks, so the benchmark waits for the bus to drain first.
  * `waitUntilEmpty` is `private[spark]`, hence this one-method shim in
  * Spark's package.
  */
package object perfbenchbridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
