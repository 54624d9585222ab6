package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps
  * package-private: returns once every event posted so far has reached
  * the registered listeners, so a spec can count jobs without racing
  * the asynchronous bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
