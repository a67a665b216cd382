package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so a round's job, stage and query events are all counted before
  * the round is summarised. The wait happens between rounds, never inside a
  * timed round. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
