package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until every
  * listener event posted so far has been delivered, so counters read after a
  * call cover every job, stage and task that call ran. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
