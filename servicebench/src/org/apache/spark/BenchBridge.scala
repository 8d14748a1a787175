package org.apache.spark

import com.codahale.metrics.Histogram

/** The two Spark internals the traced run needs, reached from Spark's own
  * package: draining the listener bus (so every event of a finished call
  * has been delivered before the call's spans close) and the codegen
  * compile-time histogram. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompileTime: Histogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
}
