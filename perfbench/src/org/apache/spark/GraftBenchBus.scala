package org.apache.spark

/** Drains the listener bus so span counters include every task of the
  * jobs that just finished. Lives in `org.apache.spark` because
  * `listenerBus` is `private[spark]`. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
