package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until the
  * listener bus has delivered every posted event, so a traced phase's
  * jobs, tasks and block updates are all recorded before the next phase
  * starts. Lives in Spark's package because `listenerBus` is
  * `private[spark]`.
  */
object RepoBenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
