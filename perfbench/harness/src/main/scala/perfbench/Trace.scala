package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of the traced mode, fed by a `SparkListener` and a
  * `QueryExecutionListener`. Read them through [[Trace.span]], which
  * drains the listener bus first, so every event of a finished call is
  * counted in that call.
  */
final class Trace(sc: SparkContext) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0d)
  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1); add("tasks", e.stageInfo.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    add("executor_cpu_s", m.executorCpuTime / 1e9)
    add("gc_s", m.jvmGCTime / 1e3)
    add("records_read", m.inputMetrics.recordsRead)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0d)
    add("analysis_s", ms("analysis")); add("optimization_s", ms("optimization"))
    add("planning_s", ms("planning")); add("exec_s", durationNs / 1e9)
    add("exchanges", collect(qe.executedPlan) { case e: Exchange => e }.size)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbenchbus.Bus.drain(sc)
    synchronized(c.toMap)
  }

  /** Runs `body`; returns its result, its wall seconds and the counters it moved. */
  def span[T](body: => T): (T, Double, Map[String, Double]) = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    val after = snapshot()
    (out, s, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0d)) })
  }
}

object Trace {
  /** The engine counters reported as the `spark.*` layer. */
  val EngineMetrics = Seq("analysis_s", "optimization_s", "planning_s", "exec_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "exchanges")

  def install(spark: org.apache.spark.sql.SparkSession): Trace = {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
