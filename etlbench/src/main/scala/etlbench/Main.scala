package etlbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run: a fresh JVM, one workload, one seed.
  *
  * Cold set-up (JVM start to session up and seeded inputs generated) is
  * followed by one cold pass, whose process CPU time is `cold_cpu_s`,
  * and settled passes in a closed loop for `--seconds`, at least
  * [[MinPasses]]. Every pass's output is checked outside its measured
  * window. An untraced run then repeats set-up [[SetupRounds]] times in
  * the warm JVM, each with a new session; the median of the CPU seconds
  * their own thread spends is `setup_s`. `pass_cpu_s` is the median
  * process CPU of the settled passes. The last stdout line is the JSON
  * result.
  *
  * The gated metrics are CPU seconds, not wall seconds, because the
  * host's steal comes in phases of minutes: in a ten-seed series, runs
  * that met 10-27% steal read up to 75% more settled-pass wall than the
  * others, and only 5-35% more CPU. A set-up round is short, and the
  * process CPU in it is mostly the background threads' (the stopped
  * session's and the garbage collector's), so `setup_s` counts the
  * set-up's own thread.
  */
object Main {

  val SetupRounds = 5
  val MinPasses = 1
  val TracedPasses = 4

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, records: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workloads.byName(need("workload")), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("records"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        println(run(parse(argv)))
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly.
    Runtime.getRuntime.halt(code)
  }

  private implicit val formats: DefaultFormats.type = DefaultFormats

  private final case class Measured(k: Int, pass: Pass, tel: Map[String, Double], traced: Boolean)

  def run(a: Args): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = a.workload
    val runId = s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    // Seconds from JVM start to the end of each phase, for the record.
    val marks = ArrayBuffer.empty[(String, Double)]
    def mark(phase: String): Double = {
      val t = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      marks += phase -> t
      t
    }
    var spark = Session.start(a.cores, a.work)
    mark("session")
    val ctx = new Ctx(spark, a.work, a.seed, runId)
    val staged0 = graft.pipeline.Staged.diskCacheStats
    val inputs = ctx.dir("inputs")
    ctx.tracer.enabled = a.trace
    ctx.tracer.span("setup")(w.generate(ctx, inputs))
    val coldSetupS = mark("setup")
    val calibMs = Probes.calibrationMs()
    val digest = Gen.digest(w.xmlDir(inputs))

    def measure(k: Int, traced: Boolean): Measured = {
      ctx.tracer.enabled = traced
      // A pass's CPU ends once the compiles it triggered are done, so the
      // next pass starts with none pending; the cold pass also starts
      // with no set-up compiles pending.
      if (k == 0) Probes.awaitJitQuiet()
      Probes.resetHeapPeak()
      val before = Probes.snapshot(ctx.sparkCounters)
      val p = ctx.tracer.span("pass")(w.pass(ctx, inputs, k))
      Probes.awaitJitQuiet()
      val after = Probes.snapshot(ctx.sparkCounters)
      val heapMb = Probes.heapPeakBytes / 1e6
      Probes.drain(ctx.sparkCounters)
      val drained = Probes.snapshot(ctx.sparkCounters)
      // Process-level numbers end with the pass; listener counts once
      // the bus has delivered them.
      val direct = Set("probe_wall_s", "cpu_s", "jit_s", "gc_s", "steal_share", "cpu_share")
      val tel = Probes.delta(before, drained, a.cores) ++
        Probes.delta(before, after, a.cores).filter(kv => direct(kv._1)) +
        ("heap_peak_mb" -> heapMb)
      ctx.tracer.enabled = false
      Measured(k, w.check(ctx, inputs, k, p), tel, traced)
    }

    val passes = ArrayBuffer(measure(0, a.trace))
    val coldCpu = passes.head.tel("cpu_s")
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // A traced run makes its settled passes untraced, traced, traced,
    // untraced, so that the tracing overhead is measured within one run
    // and the passes' JIT speed-up cancels out of it.
    val minPasses = if (a.trace) TracedPasses else MinPasses
    var k = 1
    while ((System.nanoTime() < deadline || k <= minPasses) && k <= w.maxPasses) {
      passes += measure(k, a.trace && (k % 4 == 2 || k % 4 == 3))
      k += 1
    }
    mark("passes")
    val (ref, finalOk) = w.verify(ctx, inputs, passes.last.pass)
    mark("verify")
    val failedPass = passes.map(m => !m.pass.ok || m.pass.out.exists(_ != ref)).toArray
    if (!finalOk) failedPass(failedPass.length - 1) = true
    val attempted = passes.map(m => math.max(1, m.pass.opsS.size)).sum
    val failed = passes.zip(failedPass).collect { case (m, true) => math.max(1, m.pass.opsS.size) }.sum
    val reported = passes.drop(1).toSeq

    val layerStats =
      if (!a.trace) Map.empty[String, Double]
      else {
        ctx.tracer.enabled = true
        try Workloads.layers(ctx, w.layerInput(inputs))
        finally ctx.tracer.enabled = false
      }
    val staged1 = graft.pipeline.Staged.diskCacheStats
    if (a.trace) mark("layers")

    // Warm set-up rounds: a new session and the same inputs again, whose
    // bytes must equal the cold round's. Each round's wall, process CPU
    // and own-thread CPU seconds are kept; the rounds start with no
    // compiles pending.
    val setups = ArrayBuffer.empty[(Double, Double, Double)]
    var deterministic = true
    if (!a.trace) {
      Probes.awaitJitQuiet()
      for (r <- 1 to SetupRounds) {
        Session.stop(spark)
        val t0 = System.nanoTime()
        val c0 = Probes.processCpuNs
        val m0 = Probes.threadCpuNs
        spark = Session.start(a.cores, a.work)
        val again = ctx.dir(s"inputs-$r")
        w.generate(spark, a.seed, again, ctx.tracer)
        setups += (((System.nanoTime() - t0) / 1e9, (Probes.processCpuNs - c0) / 1e9,
          (Probes.threadCpuNs - m0) / 1e9))
        deterministic &&= Gen.digest(w.xmlDir(again)) == digest
        Gen.deleteTree(new File(again))
      }
      mark("warm_setup")
    }

    val correct = failed == 0 && deterministic
    def med(key: String): Double = Stats.medianOr0(reported.map(_.tel(key)))
    def info(key: String): Double = Stats.medianOr0(reported.map(_.pass.info.getOrElse(key, 0.0)))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setups.map(_._3).toSeq), "s"),
        ("cold_cpu_s", coldCpu, "s"),
        ("pass_cpu_s", med("cpu_s"), "s"))
      else {
        val abba = reported.take(TracedPasses)
        def wall(traced: Boolean) = abba.filter(_.traced == traced).map(_.pass.wallS).sum
        val cold = passes.head.tel
        Seq(
          ("setup.cold_s", coldSetupS, "s"),
          ("xmldocs.read_ratio", Stats.medianOr0(reported.map(m =>
            m.tel("input_bytes") / m.pass.info("xml_bytes"))), "ratio"),
          ("xmldocs.scan_nodes", med("xml_scans"), "count"),
          ("xmldocs.parse_s", layerStats("xmldocs.parse_s"), "s"),
          ("classify.s", layerStats("classify.s"), "s"),
          ("classify.unknown_share", layerStats("classify.unknown_share"), "ratio"),
          ("enrich.s", layerStats("enrich.s"), "s"),
          ("graph.s", layerStats("graph.s"), "s"),
          ("sink.write_s", layerStats("sink.write_s"), "s"),
          ("sink.files", info("sink_files"), "count"),
          ("sink.bytes", info("sink_bytes"), "B"),
          ("stream.overhead_s", info("overhead_s"), "s"),
          ("stream.addbatch_s", info("addbatch_s"), "s"),
          ("stream.start_stop_s", info("start_stop_s"), "s"),
          ("spark.jobs", med("jobs"), "count"),
          ("spark.stages", med("stages"), "count"),
          ("spark.tasks", med("tasks"), "count"),
          ("spark.task_cpu_s", med("task_cpu_s"), "s"),
          ("spark.task_run_s", med("task_run_s"), "s"),
          ("spark.gc_s", med("task_gc_s"), "s"),
          ("spark.shuffle_bytes", med("shuffle_bytes"), "B"),
          ("spark.spill_bytes", med("spill_bytes"), "B"),
          ("plan.s", layerStats("plan.s"), "s"),
          ("staged.disk_hits", (staged1._1 - staged0._1).toDouble, "count"),
          ("staged.disk_misses", (staged1._2 - staged0._2).toDouble, "count"),
          ("codegen.compile_s", med("codegen_s"), "s"),
          ("codegen.classes", med("codegen_classes"), "count"),
          ("codegen.cold_compile_s", cold("codegen_s"), "s"),
          ("codegen.cold_classes", cold("codegen_classes"), "count"),
          ("jvm.jit_s", med("jit_s"), "s"),
          ("jvm.cold_jit_s", cold("jit_s"), "s"),
          ("jvm.gc_s", med("gc_s"), "s"),
          ("jvm.heap_peak_mb", passes.map(_.tel("heap_peak_mb")).max, "MB"),
          ("pass.cold_wall_s", passes.head.pass.wallS, "s"),
          ("pass.median_s", Stats.median(reported.map(_.pass.wallS)), "s"),
          ("host.steal_share", med("steal_share"), "ratio"),
          ("host.cpu_share", med("cpu_share"), "ratio"),
          ("host.calib_ms", calibMs, "ms"),
          ("trace.overhead_share",
            if (abba.size < TracedPasses) 0.0 else wall(true) / wall(false) - 1.0, "ratio"))
      }

    writeRecord(a, runId, marks.toSeq, setups.toSeq, calibMs, passes.toSeq, failedPass.toSeq,
      ref, digest, metrics, ctx.tracer.spans, ctx.sparkCounters)
    Serialization.write(ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)))
  }

  /** The run's own record: every pass's telemetry, and in a traced run
    * every span with its self time and attributed Spark jobs.
    */
  private def writeRecord(a: Args, runId: String, marks: Seq[(String, Double)],
      setups: Seq[(Double, Double, Double)],
      calibMs: Double, passes: Seq[Measured], failedPass: Seq[Boolean], ref: Checks.Counts,
      digest: String, metrics: Seq[(String, Double, String)], spans: Seq[Span],
      sc: SparkCounters): Unit = {
    def counts(c: Checks.Counts) = ListMap("docs" -> c.docs, "nodes" -> c.nodes, "edges" -> c.edges)
    val self = Spans.selfTimes(spans)
    val passRecords = passes.zip(failedPass).map { case (m, bad) =>
      ListMap[String, Any]("pass" -> m.k, "traced" -> m.traced, "failed" -> bad,
        "wall_s" -> m.pass.wallS, "ops_s" -> m.pass.opsS) ++
        m.pass.out.map(c => "output" -> counts(c)) ++
        (m.tel ++ m.pass.info).toSeq.sortBy(_._1)
    }
    val spanRecords = spans.map { s =>
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id),
        "jobs" -> Option(sc.jobsByGroup.get(s"${s.run}/${s.id}")).map(_.get).getOrElse(0L))
    }
    val record = ListMap(
      "run" -> runId,
      "workload" -> a.workload.name,
      "seed" -> a.seed,
      "cores" -> a.cores,
      "corpus_md5" -> digest,
      "reference" -> counts(ref),
      "phase_end_s" -> ListMap(marks: _*),
      "setup_warm_s" -> setups.map(_._1),
      "setup_warm_cpu_s" -> setups.map(_._2),
      "setup_warm_thread_cpu_s" -> setups.map(_._3),
      "host_calib_ms" -> calibMs,
      "jvm_wall_s" -> (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0,
      "metrics" -> ListMap(metrics.map { case (n, v, _) => n -> v }: _*),
      "passes" -> passRecords,
      "spans" -> spanRecords)
    val dir = Path.of(a.records)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"$runId.json"), Serialization.write(record) + "\n")
  }
}
