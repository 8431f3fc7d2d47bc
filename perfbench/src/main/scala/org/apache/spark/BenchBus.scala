package org.apache.spark

/** Access to the context's listener bus, which Spark keeps package-private:
  * the benchmark drains it after a traced step so that every job and stage
  * event of that step has reached the benchmark's listener. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
