package etlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative counters read from outside the program: Spark's listener
  * bus, the CodegenMetrics source, `Staged.diskCacheStats`, JVM MXBeans
  * and /proc/stat. A [[Probes.Snapshot]] is taken before and after each
  * pass; the difference is that pass's telemetry.
  */
final class SparkCounters extends SparkListener {
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskGcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val xmlScans = new AtomicLong
  /** Jobs per job group: the traced run's span ids. */
  val jobsByGroup = new ConcurrentHashMap[String, AtomicLong]()

  /** Every SQL execution, batch or micro-batch, posts its initial plan. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      xmlScans.addAndGet(Probes.xmlScanNodes(s.sparkPlanInfo))
      ()
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => jobsByGroup.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      taskGcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One micro-batch's progress. */
final case class Trigger(rows: Long, triggerMs: Long, addBatchMs: Long)

/** Micro-batch progress per streaming query run, plus which runs have
  * terminated (their last progress event precedes the termination
  * event on the listener bus).
  */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = new ConcurrentHashMap[java.util.UUID, java.util.List[Trigger]]()
  private val done = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    progress.computeIfAbsent(p.runId, _ => java.util.Collections.synchronizedList(
      new java.util.ArrayList[Trigger]()))
      .add(Trigger(p.numInputRows, ms("triggerExecution"), ms("addBatch")))
    ()
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { done.add(e.runId); () }

  /** Triggers of one start of a query (its `runId`; a restart from the
    * same checkpoint keeps the query id), after waiting (bounded) for its
    * termination event to be delivered.
    */
  def triggers(runId: java.util.UUID, timeoutMs: Long = 10000): Seq[Trigger] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done.contains(runId) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    Option(progress.get(runId)).map(l => l.synchronized(l.asScala.toList)).getOrElse(Nil)
  }
}

object Probes {

  /** Nodes that read the XML input in a plan's node tree: file scans of
    * the XML source, and the RDD scans through which each write of a
    * `foreachBatch` micro-batch reads it again.
    */
  def xmlScanNodes(p: SparkPlanInfo): Long = {
    val name = p.nodeName.toLowerCase
    (if (name.startsWith("scan xml") || name.startsWith("scan existingrdd")) 1L else 0L) +
      p.children.map(xmlScanNodes).sum
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads = ManagementFactory.getThreadMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def processCpuNs: Long = os.getProcessCpuTime

  /** CPU time of the calling thread. */
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** (steal, total) jiffies of all CPUs, from the first line of /proc/stat. */
  def hostJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already counted in user and nice.
      val counted = f.take(8)
      (if (f.length > 7) f(7) else 0L, counted.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Start a new heap-peak window. */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  final case class Snapshot(
      wallNs: Long, cpuNs: Long, jitMs: Long, gcMs: Long,
      stealJ: Long, totalJ: Long,
      jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long, taskRunMs: Long,
      taskGcMs: Long, inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
      xmlScans: Long, codegenClasses: Long, stagedHits: Long, stagedMisses: Long)

  def snapshot(sc: SparkCounters): Snapshot = {
    val (steal, total) = hostJiffies
    val (hits, misses) = graft.pipeline.Staged.diskCacheStats
    Snapshot(System.nanoTime(), processCpuNs, jit.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).filter(_ >= 0).sum, steal, total,
      sc.jobsStarted.get, sc.stages.get, sc.tasks.get, sc.taskCpuNs.get,
      sc.taskRunMs.get, sc.taskGcMs.get, sc.inputBytes.get, sc.shuffleBytes.get,
      sc.spillBytes.get, sc.xmlScans.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, hits.toLong, misses.toLong)
  }

  /** Codegen compile seconds for `classes` compilations, estimated from
    * the CodegenMetrics histogram's mean (it keeps a sample, not a sum).
    */
  def codegenSeconds(classes: Long): Double =
    if (classes <= 0) 0.0
    else classes * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0

  @volatile private var calibrationSink = 0L

  /** Milliseconds for a fixed single-threaded integer loop, best of
    * three: the host's speed at the time of the run, which host steal
    * alone does not show.
    */
  def calibrationMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      calibrationSink = x
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }

  /** Block until the JIT compilers have been idle for `quietMs` (at most
    * `maxMs`), so a compile backlog does not cross a measurement edge.
    */
  def awaitJitQuiet(quietMs: Long = 300, maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = jit.getTotalCompilationTime
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() - since < quietMs && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      val now = jit.getTotalCompilationTime
      if (now != last) {
        last = now
        since = System.currentTimeMillis()
      }
    }
  }

  /** Block until the listener bus has delivered every job-end event for
    * the jobs started so far (bounded), so per-pass deltas are complete.
    */
  def drain(sc: SparkCounters, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val started = sc.jobsStarted.get
      val ended = sc.jobsEnded.get
      val seen = started + sc.tasks.get
      if (started == ended && seen == last) stable += 1 else stable = 0
      last = seen
      Thread.sleep(5)
    }
  }

  /** Which telemetry fields a pass reports, in seconds or counts. */
  def delta(a: Snapshot, b: Snapshot, cores: Int): Map[String, Double] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = (b.cpuNs - a.cpuNs) / 1e9
    val dTotal = b.totalJ - a.totalJ
    val classes = b.codegenClasses - a.codegenClasses
    Map(
      "probe_wall_s" -> wall,
      "cpu_s" -> cpu,
      "jit_s" -> (b.jitMs - a.jitMs) / 1000.0,
      "gc_s" -> (b.gcMs - a.gcMs) / 1000.0,
      "steal_share" -> (if (dTotal > 0) (b.stealJ - a.stealJ).toDouble / dTotal else 0.0),
      "cpu_share" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "jobs" -> (b.jobs - a.jobs).toDouble,
      "stages" -> (b.stages - a.stages).toDouble,
      "tasks" -> (b.tasks - a.tasks).toDouble,
      "task_cpu_s" -> (b.taskCpuNs - a.taskCpuNs) / 1e9,
      "task_run_s" -> (b.taskRunMs - a.taskRunMs) / 1000.0,
      "task_gc_s" -> (b.taskGcMs - a.taskGcMs) / 1000.0,
      "input_bytes" -> (b.inputBytes - a.inputBytes).toDouble,
      "shuffle_bytes" -> (b.shuffleBytes - a.shuffleBytes).toDouble,
      "spill_bytes" -> (b.spillBytes - a.spillBytes).toDouble,
      "xml_scans" -> (b.xmlScans - a.xmlScans).toDouble,
      "codegen_classes" -> classes.toDouble,
      "codegen_s" -> codegenSeconds(classes),
      "staged_hits" -> (b.stagedHits - a.stagedHits).toDouble,
      "staged_misses" -> (b.stagedMisses - a.stagedMisses).toDouble)
  }
}
