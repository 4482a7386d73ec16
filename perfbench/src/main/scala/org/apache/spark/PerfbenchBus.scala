package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run drains it
  * before reading its ledger so the last op's jobs are counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
