package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The program's one Spark-event counter: Bench's plan metrics, Explain's
  * per-rep lines and the specs' job, stage and byte pins all read it.
  * Spark delivers listener events asynchronously on a bus that is private
  * to it (hence this package); draining the bus makes every read exact,
  * with no sleep window to guess.
  */
object SparkEvents {

  /** The Spark work one block started. Stages, tasks and bytes count
    * COMPLETED stages (a skipped stage never completes), with the bytes
    * summed from each stage's task metrics. `jobStages` holds, per job in
    * start order, its stages as (name, task count), skipped ones included.
    */
  final case class Counts(
      jobs: Int, stages: Int, tasks: Int,
      shuffleRead: Long, shuffleWrite: Long, inputBytes: Long,
      jobStages: Seq[Seq[(String, Int)]])

  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Counts the Spark work `f` started. Draining first keeps earlier jobs'
    * queued events away from the counting listener; draining after makes
    * sure `f`'s own events have all arrived.
    */
  def during(sc: SparkContext)(f: => Unit): Counts = {
    val l = new Counter
    drain(sc)
    sc.addSparkListener(l)
    try { f; drain(sc); l.counts }
    finally sc.removeSparkListener(l)
  }

  private final class Counter extends SparkListener {
    private var stages, tasks = 0
    private var shuffleRead, shuffleWrite, inputBytes = 0L
    private val jobStages = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Int)]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStages += e.stageInfos.map(s => (s.name, s.numTasks))
      ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      val tm = e.stageInfo.taskMetrics
      if (tm != null) {
        shuffleRead += tm.shuffleReadMetrics.totalBytesRead
        shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        inputBytes += tm.inputMetrics.bytesRead
      }
    }

    def counts: Counts = synchronized {
      Counts(jobStages.size, stages, tasks, shuffleRead, shuffleWrite, inputBytes,
        jobStages.toSeq)
    }
  }
}
