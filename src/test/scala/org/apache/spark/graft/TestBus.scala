package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a
  * spec that counts task metrics drains it first, so every task-end
  * event of the finished action has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
