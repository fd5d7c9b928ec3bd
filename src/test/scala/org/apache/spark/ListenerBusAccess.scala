package org.apache.spark

/** Specs' access to the listener bus, which is private to Spark. */
object ListenerBusAccess {
  /** Return once every event posted so far has reached its listeners
    * (the status store among them). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
