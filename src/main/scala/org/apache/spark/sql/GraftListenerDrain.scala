package org.apache.spark.sql

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`, so waiting for every
  * posted listener event to be delivered needs an accessor inside the
  * `org.apache.spark` tree. [[graft.BenchCore.timeQs]] drains before it
  * resets and before it reads its stage-listener counters. */
object GraftListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
