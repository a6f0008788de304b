package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * every event posted so far has reached every listener, so counters
  * are read complete instead of after a guessed sleep. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
