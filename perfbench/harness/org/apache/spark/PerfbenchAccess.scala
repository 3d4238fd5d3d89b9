package org.apache.spark

/** The two `private[spark]` reads the benchmark harness needs: draining
  * the listener bus so every event of an operation has been delivered
  * before its spans are attributed, and the local dirs Spark really uses
  * (`SPARK_LOCAL_DIRS` overrides the configured `spark.local.dir`). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def effectiveLocalDirs(sc: SparkContext): String =
    util.Utils.getConfiguredLocalDirs(sc.getConf).mkString(",")
}
