package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters, summed over the process: jobs, tasks, shuffle and
  * spill from stage completions, and Catalyst phase times from every
  * finished query of every session.
  */
object Counters {
  val jobs, tasks, shuffleWrite, spill = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      tasks.addAndGet(e.stageInfo.numTasks.toLong)
      Option(e.stageInfo.taskMetrics).foreach { m =>
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      ()
    }
  }

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(Jobs)
}

/** Registered through `spark.sql.queryExecutionListeners`, so sessions the
  * engine clones (the streaming queries run in their own) report too.
  */
final class PhaseListener extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    Counters.analysisMs.addAndGet(ms("analysis"))
    Counters.optimizationMs.addAndGet(ms("optimization"))
    Counters.planningMs.addAndGet(ms("planning"))
    ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** One reading of every counter, taken after the listener bus drains. */
final case class Snap(
    jobs: Long, tasks: Long, shuffleWrite: Long, spill: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    gcMs: Long, codegenNs: Long) {
  def -(o: Snap): Snap = Snap(
    jobs - o.jobs, tasks - o.tasks, shuffleWrite - o.shuffleWrite,
    spill - o.spill, analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, gcMs - o.gcMs, codegenNs - o.codegenNs)
  def +(o: Snap): Snap = Snap(
    jobs + o.jobs, tasks + o.tasks, shuffleWrite + o.shuffleWrite,
    spill + o.spill, analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, gcMs + o.gcMs, codegenNs + o.codegenNs)
  def planMs: Long = analysisMs + optimizationMs + planningMs

  /** The metrics every workload's traced run reports over its timed region. */
  def sparkMetrics: Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "catalyst.analysis_ms" -> analysisMs.toDouble,
    "catalyst.optimization_ms" -> optimizationMs.toDouble,
    "catalyst.planning_ms" -> planningMs.toDouble,
    "jvm.gc_ms" -> gcMs.toDouble,
    "codegen.compile_ms" -> codegenNs / 1e6)
}

object Snap {
  def take(spark: SparkSession): Snap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    import Counters._
    Snap(jobs.get, tasks.get, shuffleWrite.get, spill.get,
      analysisMs.get, optimizationMs.get, planningMs.get, gc, CodeGenerator.compileTime)
  }
}

/** Wall-clock samples by name, taken around calls into the engine. */
final class Spans {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs `f`, records its wall in ms under `name`. */
  def ms[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e6)
  }

  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double = Stats.median(get(name))
  def sum(name: String): Double = get(name).sum
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
