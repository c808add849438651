package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete job, stage and task records right after an
  * action returns. The bus is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
