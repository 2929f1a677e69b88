package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Staged.GenerationStore

/** Harness for running a Structured Streaming query to completion inside
  * a batch-shaped `SparkEntry.queries` entry: file/Memory sources with
  * AvailableNow-style triggers, memory or parquet sinks, fresh
  * checkpoint per run. Batch stage functions are reused unchanged inside
  * the streams (run_pipeline.py per-file incremental processing ≙ file
  * source + foreachBatch; SURVEY.md §2.2 streaming rows).
  */
object StreamRuns {

  /** Scratch root for checkpoints/sinks/source copies: tmpfs when the
    * host offers one (every micro-batch fsyncs its checkpoint delta —
    * on ext4 those fsyncs ARE the streaming-family floor; on tmpfs they
    * are memory writes), else the repo's target dir. Overridable via
    * SPARK_GRAFT_STREAM_SCRATCH; a real deployment would point this at
    * the durable checkpoint store instead — scratch placement is a
    * harness concern, not a query-semantics one.
    */
  private val ScratchRoot: String =
    sys.env.get("SPARK_GRAFT_STREAM_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-stream-scratch"
      else s"${graft.SparkConfs.targetDir}/scratch/stream"
    }

  /** Exposed for the prune-grace spec (StreamRunsPruneSpec), which
    * plants fake staged generations directly under the root.
    */
  private[graft] def scratchRoot: String = ScratchRoot

  /** Fresh scratch sub-directory (checkpoints, sinks, source copies).
    * Also sweeps aged siblings: scratch is tmpfs-backed where
    * available, every run creates new dirs, and nothing else ever
    * deletes them — across enough rounds that fills the mount (RAM,
    * on /dev/shm). Anything older than 2 h is from a finished run
    * (these streams live for seconds); deletion is best-effort and
    * never fails the caller. Staged generations ([[stageAsFiles]],
    * `staged-` prefix, their `.tmp-` writes included) outlive runs and
    * get the generation store's 24 h idle grace instead
    * (`Staged.GenerationStore`); reuse touches their mtime, so a live
    * staged source never ages out while any JVM keeps using it.
    */
  def fresh(tag: String): String = {
    sweepAged()
    val p = s"$ScratchRoot/$tag-${UUID.randomUUID().toString.take(8)}"
    new java.io.File(p).mkdirs()
    p
  }

  private val AgedMs = 2L * 3600 * 1000
  private val StagedPrefix = "staged-"
  private val lastSweep = new java.util.concurrent.atomic.AtomicLong(0L)

  private def sweepAged(): Unit = {
    val now = System.currentTimeMillis()
    // At most one sweep per 10 min per JVM — fresh() is called per
    // stream run and the directory listing should not become a cost.
    val prev = lastSweep.get()
    if (now - prev < 600000L || !lastSweep.compareAndSet(prev, now)) return
    try Option(new java.io.File(ScratchRoot).listFiles()).foreach(_.foreach { d =>
      val limit = if (d.getName.startsWith(StagedPrefix)) GenerationStore.GraceMs else AgedMs
      if (d.isDirectory && now - d.lastModified() > limit) GenerationStore.deleteRecursively(d)
    })
    catch { case _: Throwable => () } // best-effort only
  }

  /** Stateful-op partition count for the test-scale streams. Each
    * shuffle partition materializes one state-store instance per
    * stateful operator per micro-batch, with a checkpoint delta write
    * (+ fsync) each — at bounded state cardinality the store count, not
    * the data, dominates micro-batch latency. On a real cluster this
    * value is sized to executor count; state partitioning is fixed at
    * first checkpoint, which is why it must be set before start().
    */
  val StreamShufflePartitions: Int = 8

  /** RocksDB state store + changelog checkpointing (transformWithState
    * supports no other provider). The HDFS-backed store serializes every
    * partition's full state map into a new delta file per micro-batch
    * (fsync each); RocksDB with changelog checkpointing appends only the
    * changed keys and defers
    * snapshot upload to a background maintenance pass — at bounded
    * per-partition state that turns checkpoint IO from the dominant
    * stream cost into noise, and on a real cluster it is also the
    * provider that keeps large state off the executor heap.
    */
  private val RocksDbConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // Short AvailableNow drains never restart mid-run: retaining the
    // minimum checkpoint history and deferring the store maintenance
    // pass past the run's lifetime removes snapshot-upload fsyncs from
    // the micro-batch path. On a long-lived production stream these
    // would be sized to the recovery SLA instead.
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s")

  /** Run `body` with the session's shuffle-partition count pinned to
    * [[StreamShufflePartitions]] and the RocksDB state store (restored
    * after). Streaming queries capture the conf at start(), so this
    * scopes the overrides to the stream without perturbing batch
    * queries.
    */
  def withStreamPartitions[T](spark: SparkSession)(body: => T): T =
    graft.SparkConfs.withConfs(spark,
      RocksDbConf + ("spark.sql.shuffle.partitions" -> StreamShufflePartitions.toString))(body)

  /** Run `build`'s streaming DataFrame into an in-memory sink until no
    * input remains; returns the final result table.
    */
  def runToMemory(
      spark: SparkSession,
      stream: DataFrame,
      mode: String,
      tag: String): DataFrame = withStreamPartitions(spark) {
    val qn = s"${tag}_${UUID.randomUUID().toString.take(8).replace("-", "")}"
    stream.writeStream
      .format("memory")
      .queryName(qn)
      .outputMode(mode)
      .option("checkpointLocation", fresh(s"$tag-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.table(qn)
  }

  /** Shared two-phase MemoryStream replay harness (watermark-semantics
    * queries): feed `p1`, drain (processAllAvailable includes the
    * no-data batch a watermark advance schedules), feed `p2`, drain,
    * stop; returns the append-mode memory sink.
    */
  def twoPhaseToMemory[T <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, tag: String, p1: Seq[T], p2: Seq[T],
      mode: String = "append")(
      build: DataFrame => DataFrame): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val qn = s"${tag}_${UUID.randomUUID().toString.take(8).replace("-", "")}"
    def run(): Unit = {
      val q = build(ms.toDF())
        .writeStream.format("memory").queryName(qn).outputMode(mode)
        .option("checkpointLocation", fresh(s"$tag-ckpt"))
        .start()
      ms.addData(p1)
      q.processAllAvailable()
      ms.addData(p2)
      q.processAllAvailable()
      q.stop()
    }
    withStreamPartitions(spark)(run())
    spark.table(qn)
  }

  /** Two-phase feed file counts. Phase 2 MUST be one part file: the
    * query runs under the default continuous-polling trigger, so a
    * multi-file handoff could have a micro-batch fire between two
    * publications and split phase 2 — a watermark advance mid-phase
    * would nondeterministically drop late-phase rows. One file + one
    * atomic link (the link exposes already-complete content in a
    * single directory operation) publishes the whole phase in one
    * step, preserving the MemoryStream-equivalent "batch 2 = phase 2"
    * contract.
    */
  private val Phase1Files = 2
  private val Phase2Files = 1

  /** Stage (or mtime-touch) a two-phase feed's immutable file sets and
    * return their paths — the one builder of both phases' generations,
    * called by [[twoPhaseFilesToMemory]] and, WITHOUT starting a
    * stream, from the bench's staging phase, so a cold scratch mount
    * pays the generation write jobs inside staging_sec, not inside
    * whichever timed query touches the tree first.
    */
  def prestageTwoPhase(tag: String, dir: String,
      p1: DataFrame, p2: DataFrame): (String, String) =
    (stageAsFiles(p1, s"2p-$tag-p1", Phase1Files, dir),
      stageAsFiles(p2, s"2p-$tag-p2", Phase2Files, dir))

  /** Two-phase FILE replay — [[twoPhaseToMemory]] with
    * corpus-independent harness memory: both phases are staged as
    * parquet file sets (executor-side writes — nothing is ever
    * collected to the driver), the stream reads a file source over a
    * scratch directory primed with phase 1's files, drains, then
    * receives phase 2's part files and drains again. Batch boundaries
    * (and so watermark semantics) are identical to the MemoryStream
    * spelling: batch 1 = phase 1, the no-data batch a watermark
    * advance schedules, batch 2 = phase 2. One contract difference:
    * file-scan row order within a batch is partition order, not a
    * Seq's insertion order — every stateful handler here is in-batch
    * order-insensitive (min/max/sum/count state, or an explicit
    * in-group sort), which is also what makes their closed-form
    * oracles expressible at all.
    */
  def twoPhaseFilesToMemory(
      spark: SparkSession, tag: String, dir: String,
      p1: DataFrame, p2: DataFrame,
      mode: String = "append")(
      build: DataFrame => DataFrame): DataFrame = {
    // Both phases are staged ONCE per (plan, input-data) generation in
    // the shared immutable tree ([[stageAsFiles]] — cross-JVM, so the
    // driver's fresh-JVM bench reuses the builder's copies) and
    // PUBLISHED per run by hardlink into a fresh source dir: the run
    // pays two filesystem links instead of two Spark write jobs. The
    // source dir must still be per-run — phase 2 is published into it
    // mid-stream, so it is consumed, never shared.
    val (p1Dir, p2Dir) = prestageTwoPhase(tag, dir, p1, p2)
    val srcDir = fresh(s"$tag-2psrc")
    publishParts(p1Dir, srcDir)
    val qn = s"${tag}_${UUID.randomUUID().toString.take(8).replace("-", "")}"
    def run(): Unit = {
      val q = build(spark.readStream.schema(p1.schema).parquet(srcDir))
        .writeStream.format("memory").queryName(qn).outputMode(mode)
        .option("checkpointLocation", fresh(s"$tag-ckpt"))
        .start()
      q.processAllAvailable()
      publishParts(p2Dir, srcDir)
      q.processAllAvailable()
      q.stop()
    }
    withStreamPartitions(spark)(run())
    spark.table(qn)
  }

  /** Expose a staged phase's part files inside `dstDir` without
    * touching the immutable staged copy: hardlink (atomic — the name
    * appears with its content complete; same tmpfs/fs as the scratch
    * root), falling back to copy-then-atomic-rename if the filesystem
    * refuses links. Names are prefixed with the source dir's hash so
    * two phases staged with identical part names cannot collide in
    * the destination.
    */
  private def publishParts(stagedDir: String, dstDir: String): Unit = {
    val pfx = Integer.toHexString(stagedDir.hashCode)
    Option(new java.io.File(stagedDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-"))
      .foreach { f =>
        val dst = new java.io.File(dstDir, s"$pfx-${f.getName}").toPath
        try java.nio.file.Files.createLink(dst, f.toPath)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            val tmp = new java.io.File(dstDir, s".tmp-$pfx-${f.getName}").toPath
            java.nio.file.Files.copy(f.toPath, tmp,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            java.nio.file.Files.move(tmp, dst,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
    ()
  }

  // Generation-level telemetry: a MISS means a Spark write job
  // generated a staged tree in this JVM. The bench reports these so a
  // record where stream staging was cold (generation paid inside
  // staging_sec) is distinguishable from a warm one — and so the
  // staging mode probe can refuse to classify a run whose staging time
  // includes stream-input recompute.
  private val genStore = new GenerationStore

  /** (hits, misses) over [[stagedGeneration]] lookups in this JVM. */
  def stagedGenStats: (Long, Long) = genStore.stats

  // Append-only log of every generation KEY requested, hit or miss —
  // telemetry only (never read by staging itself). Lets the prestage
  // coverage spec compare the key SETS two phases touch instead of
  // relying on miss counts, which go vacuous whenever a prior suite
  // in the same JVM (or a warm scratch mount) already built the trees
  // (round 18, per ADVICE).
  private val genTouches =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())

  /** Number of [[stagedGeneration]] touches so far — a slice marker. */
  def genTouchCount: Int = genTouches.size

  /** The distinct generation keys touched in slice [from, until). */
  def genTouchedKeys(from: Int, until: Int): Set[String] =
    genTouches.synchronized {
      (from until math.min(until, genTouches.size))
        .map(genTouches.get(_)).toSet
    }

  /** Materialize a stable single-schema copy of a table as a multi-file
    * parquet directory a file-source stream can discover incrementally.
    * Staged once per (tag, files, plan, input-data) generation — six
    * streaming queries over the same events table stage one copy, not
    * six — under a DETERMINISTIC generation name on the shared scratch
    * mount, so a FRESH JVM (a bench after a Verify or test run)
    * discovers the previous JVM's copy instead of re-running the
    * staging write job. The name is `Staged.generation`'s: `df`'s plan
    * fingerprint plus the fingerprint of `dir`, the query's input scale
    * directory. Every lookup re-checks the generation on disk, so a
    * swept tree is re-staged, never served dead.
    */
  def stageAsFiles(df: DataFrame, tag: String, files: Int,
      dir: String): String =
    stagedGeneration(df, tag, files.toString, dir) { tmp =>
      df.repartition(files).write.mode("overwrite").parquet(tmp)
    }

  /** [[stageAsFiles]] for a HIVE-PARTITIONED snapshot tree (the CDC
    * base): the directory layout IS the artifact, so the writer
    * partitions instead of repartitioning flat. Callers never mutate
    * the staged tree — they [[cloneTree]] it into a per-run dir first.
    */
  def stageAsPartitionedTree(df: DataFrame, tag: String,
      parts: Seq[String], dir: String): String =
    stagedGeneration(df, tag, s"by-${parts.mkString("_")}", dir) { tmp =>
      df.write.mode("overwrite").partitionBy(parts: _*).parquet(tmp)
    }

  /** Hardlink-clone a staged immutable tree into `dst`, which the
    * caller may then mutate freely: directories are recreated, files
    * hardlinked (a dynamic-partition overwrite REPLACES whole bucket
    * dirs, unlinking the clone's links while the staged originals
    * stay intact — hardlinked content is shared until one side is
    * replaced). Falls back to copy where the filesystem refuses links.
    */
  def cloneTree(src: String, dst: String): Unit = {
    val s = new java.io.File(src)
    val d = new java.io.File(dst)
    d.mkdirs()
    Option(s.listFiles()).getOrElse(Array.empty).foreach { f =>
      val t = new java.io.File(d, f.getName)
      if (f.isDirectory) cloneTree(f.getPath, t.getPath)
      else
        try java.nio.file.Files.createLink(t.toPath, f.toPath)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            java.nio.file.Files.copy(f.toPath, t.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            ()
        }
    }
    ()
  }

  /** Commit (or reuse) the `staged-<tag>-<kind>-<planFp>-<dataFp>`
    * generation of `df` under the scratch root, named by
    * `Staged.generation` like every other generation. The touch log
    * records the name without its data fingerprint: one scale dir's
    * touches share it.
    */
  private def stagedGeneration(df: DataFrame, tag: String, kind: String,
      dir: String)(write: String => Unit): String = {
    val prefix = s"$StagedPrefix$tag-$kind-"
    val planFp = graft.pipeline.Staged.planFingerprint(df.queryExecution.logical)
    genTouches.add(s"$prefix$planFp")
    graft.pipeline.Staged.generation(genStore, new java.io.File(ScratchRoot),
      prefix, planFp, dir)(write)
  }
}
