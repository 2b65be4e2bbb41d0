package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far
  * has been delivered (`listenerBus` is `private[spark]`). Lives in the
  * spark package for visibility only; contains no logic. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
