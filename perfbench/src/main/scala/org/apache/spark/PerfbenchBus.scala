package org.apache.spark

/** The listener bus delivers events asynchronously. The harness reads
  * its listeners only after every event posted so far has been
  * delivered; waiting for that needs the bus itself, which is
  * package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
