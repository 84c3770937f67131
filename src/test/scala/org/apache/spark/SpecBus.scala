package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Exact listener-event reads for the specs. Spark delivers listener
  * events asynchronously on a bus that is private to it; draining the bus
  * makes a counter read exact, with no sleep window to guess.
  */
object SpecBus {

  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `f` ran. Draining first keeps earlier jobs'
    * queued events away from the counting listener; draining after makes
    * sure `f`'s own events have all arrived.
    */
  def jobsDuring(sc: SparkContext)(f: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    drain(sc)
    sc.addSparkListener(l)
    try { f; drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }
}
