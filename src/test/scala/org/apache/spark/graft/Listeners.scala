package org.apache.spark.graft

/** Test access to the (private[spark]) listener bus: how many listeners
  * a SparkContext has registered, so a spec can check one was removed. */
object Listeners {
  def count(sc: org.apache.spark.SparkContext): Int =
    sc.listenerBus.listeners.size
}
