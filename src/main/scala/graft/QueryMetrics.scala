package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}

/** Cumulative Spark counters from the listener bus: completed stages,
  * finished tasks, and the tasks' executor CPU, run time, GC, input and
  * shuffle-write bytes. A [[QueryMetrics.Snapshot]] before and after a
  * query gives that query's work; task CPU against task run time shows
  * how much of the run the task threads actually got a core.
  */
final class QueryMetrics extends SparkListener {
  private val stages, tasks, cpuNs, runMs, gcMs, inputBytes, shuffleBytes = new AtomicLong

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    ()
  }

  /** The counters now, after the bus has delivered every event posted
    * so far (a bus still busy after its timeout gives a partial count).
    */
  def snapshot(spark: SparkSession): QueryMetrics.Snapshot = {
    try GraftShim.drainListenerBus(spark)
    catch { case _: java.util.concurrent.TimeoutException => () }
    QueryMetrics.Snapshot(stages.get, tasks.get, cpuNs.get, runMs.get, gcMs.get,
      inputBytes.get, shuffleBytes.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}

object QueryMetrics {

  /** A listener registered on `spark`'s context. */
  def attach(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** `codegen` counts whole-stage and expression compilations, JVM-wide. */
  final case class Snapshot(stages: Long, tasks: Long, cpuNs: Long, runMs: Long,
      gcMs: Long, inputBytes: Long, shuffleBytes: Long, codegen: Long) {
    def -(a: Snapshot): Snapshot = Snapshot(stages - a.stages, tasks - a.tasks,
      cpuNs - a.cpuNs, runMs - a.runMs, gcMs - a.gcMs, inputBytes - a.inputBytes,
      shuffleBytes - a.shuffleBytes, codegen - a.codegen)

    /** Task CPU over task run time: near 1 when every task thread held a
      * core, lower when the threads waited for one (or for IO). Run time
      * is whole milliseconds per task, so a run of sub-millisecond tasks
      * can read above 1.
      */
    def cpuShare: Double = if (runMs > 0) cpuNs / 1e6 / runMs else 0.0

    /** Sidecar fields, seconds to the millisecond. */
    def fields: Seq[(String, Any)] = Seq("stages" -> stages, "tasks" -> tasks,
      "cpu_s" -> math.round(cpuNs / 1e6) / 1000.0, "run_s" -> runMs / 1000.0,
      "gc_s" -> gcMs / 1000.0, "input_bytes" -> inputBytes,
      "shuffle_bytes" -> shuffleBytes, "codegen" -> codegen)
  }
}
