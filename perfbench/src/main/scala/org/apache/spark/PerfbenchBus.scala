package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits
  * for it to empty before it reads an op's job and task counts. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
