package org.apache.spark.graft

import scala.jdk.CollectionConverters._

/** Test access to the (private[spark]) listener bus: how many listeners
  * a SparkContext has registered, so a spec can check one was removed.
  * A session's `ExecutionListenerBus` is left out: Spark's ContextCleaner
  * removes it whenever that session is garbage-collected (streaming
  * queries clone one per run), so their number can drop at any moment. */
object Listeners {
  def count(sc: org.apache.spark.SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(
      _.getClass.getName != "org.apache.spark.sql.util.ExecutionListenerBus")
}
