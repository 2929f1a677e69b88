package graft

import org.apache.spark.sql.SparkSession

/** Session construction and scoped conf overrides. Every session the
  * program builds (Bench, Verify, PlanDump, RunPipeline and the test
  * session) starts from [[builder]], so their planner settings cannot
  * drift apart.
  */
object SparkConfs {

  /** The repo's `target/` directory, anchored to the compiled classes'
    * location (target/scala-N/classes and a packaged
    * target/scala-N/x.jar both sit two levels under it), NOT the
    * process cwd: Verify and Bench may be launched from any directory,
    * and a cwd-relative root would recompute every staged build per
    * run (or fail outright on an unwritable cwd). Falls back to cwd
    * only when the code source is unresolvable (e.g. a jar-less custom
    * loader). The warehouse, stage cache, query scratch and the bench
    * sidecar all live under it.
    */
  lazy val targetDir: String = {
    val anchored =
      try {
        val loc = new java.io.File(getClass.getProtectionDomain
          .getCodeSource.getLocation.toURI)
        Option(loc.getParentFile).flatMap(p => Option(p.getParentFile))
          .filter(_.getName == "target")
          .map(_.getAbsolutePath)
      } catch { case _: Throwable => None }
    anchored.getOrElse(new java.io.File("target").getAbsolutePath)
  }

  /** Task threads for local sessions: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Settings every session carries. */
  def shared: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // Session-wide, not per-query: storage-partitioned-join planning
    // for the V2 connector (join_spj_colocated). Setting it inside a
    // query builder would leak planner config into every later query
    // in the session, making plans order-dependent.
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // Static conf (must be set before the first session): the
    // JVM-global generated-class cache holds 100 entries by default,
    // and the 369-query inventory compiles 1000+ distinct codegen
    // units per run, so every query paid janino compilation again even
    // when the identical plan had just executed. Keyed on generated
    // source, so the entry count follows query shapes, not data scale.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    // The default warehouse is cwd-relative, and the launch directory
    // is not guaranteed writable or stable across runs.
    "spark.sql.warehouse.dir" -> s"$targetDir/spark-warehouse",
    "spark.ui.enabled" -> "false")

  /** A builder with the [[shared]] settings and no master, so
    * spark-submit can still choose one.
    */
  def builder(app: String): SparkSession.Builder =
    SparkSession.builder().appName(app).config(shared)

  /** A local session with `cores` task threads and as many shuffle
    * partitions, logging at WARN.
    */
  def local(cores: Int, app: String): SparkSession = {
    val s = builder(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Scoped session-conf overrides: snapshot, set, run, restore —
    * unsetting keys that had no previous value. Used by the streaming
    * harness, the runtime-filter query, and the AQE specs. NOTE: a
    * lazily-planned DataFrame must force whatever reads the conf (e.g.
    * `df.queryExecution.optimizedPlan`, or `start()` for a stream)
    * BEFORE the body returns, or the restored values win.
    */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
