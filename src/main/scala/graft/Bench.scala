package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Staged

object Bench {
  // Millisecond precision keeps the one-line JSON short.
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0
  private def since(t0: Long): Double = r3((System.nanoTime() - t0) / 1e9)

  /** The seconds to build `q` and run it to a count; a failure is
    * printed as `[bench] <what> failed: …` and returned as None.
    */
  private def timed(what: String)(q: => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      q.count()
      Some(since(t0))
    } catch { case t: Throwable =>
      System.err.println(s"[bench] $what failed: ${t.getMessage}")
      None
    }
  }

  /** One warm-up run: whether it succeeded, and the staged tags it was
    * the first to request in its session.
    */
  final case class WarmRun(name: String, ok: Boolean, firstRequested: Set[String]) {
    def isStager: Boolean = firstRequested.nonEmpty
  }

  /** Runs `queries` in order in `s` over `dir`, recording for each the
    * [[Staged.requested]] tags no earlier query had requested. A query
    * that first requests a tag is a stager: running the stagers in this
    * order builds every staged artifact the queries use.
    */
  def warmUp(s: SparkSession, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[WarmRun] =
    queries.map { case (n, fn) =>
      val before = Staged.requested(s, dir)
      val ok = timed(s"warm-up '$n'")(fn(s, dir)).isDefined
      WarmRun(n, ok, Staged.requested(s, dir) -- before)
    }

  /** [[timed]], with the listener's counters over the same run. The bus
    * is drained outside the timer.
    */
  private def measured(spark: SparkSession, m: QueryMetrics, what: String)(
      q: => DataFrame): Option[(Double, QueryMetrics.Snapshot)] = {
    val before = m.snapshot(spark)
    timed(what)(q).map(sec => (sec, m.snapshot(spark) - before))
  }

  private def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${SparkConfs.dataRoot}/sf0.1")
    // The stagers come from the warm-up at the sf0.001 sibling, so a run
    // without it cannot attribute staging.
    val tiny = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    if (!tiny.isDirectory) {
      System.err.println(s"[bench] no sf0.001 sibling at $tiny: the warm-up " +
        "that derives the stagers needs it")
      sys.exit(2)
    }
    val spark = SparkConfs.local(SparkConfs.cpus, "graft-bench")
    val metrics = QueryMetrics.attach(spark)
    // Dev-only subset filter (comma-separated names); the driver's
    // invocation sets no filter and benches the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val inventory = SparkEntry.queries.toSeq.filter { case (n, _) => only.isEmpty || only(n) }
    // The timed set runs once at sf0.001 first: the same plan shapes
    // compile the same generated classes, so the timed pass measures
    // computation rather than first-touch codegen and JIT. The warm-up
    // also derives the stagers.
    val w0 = System.nanoTime()
    val warm = warmUp(spark, tiny.getPath, inventory)
    val warmupSec = since(w0)
    val stagers = warm.filter(_.isStager)
    System.err.println(s"[bench] codegen warm-up (${warm.size} queries, " +
      s"${warm.count(!_.ok)} failed): ${warmupSec}s")
    System.err.println(s"[bench] stagers (${stagers.size}): " + stagers
      .map(w => s"${w.name}[${w.firstRequested.toSeq.sorted.mkString(",")}]").mkString(" "))
    // Counted from here, so the warm-up's sf0.001 builds stay out of
    // staging_cache and stream_staging.
    val (baseHits, baseMisses) = Staged.diskCacheStats
    val (baseGenHits, baseGenMisses) = graft.streaming.StreamRuns.stagedGenStats
    // The stream queries' staged input trees are written here, as
    // prestage_sec, and not by whichever stream query touches each first.
    var prestageSec = 0.0
    if (only.isEmpty || only.exists(_.startsWith("stream_"))) {
      val w0 = System.nanoTime()
      try {
        graft.queries.Streaming.prestageInputs(spark, sfDir)
        prestageSec = since(w0)
        System.err.println(s"[bench] stream prestage: ${prestageSec}s")
      } catch { case t: Throwable =>
        System.err.println(s"[bench] stream prestage failed: ${t.getMessage}")
      }
    }
    // A stream-generation miss after this point was paid by a timed query.
    val (_, preGenMisses) = graft.streaming.StreamRuns.stagedGenStats
    // Build every staged artifact before timing, so its cost lands in
    // staging_sec and not in whichever query touches it first. A broken
    // stager must stay visible: its cost would migrate back into the
    // timed loop.
    val s0 = System.nanoTime()
    val stagerSecs = stagers.flatMap { w =>
      timed(s"stager '${w.name}'")(SparkEntry.queries(w.name)(spark, sfDir)).map { sec =>
        System.err.println(s"[bench] stager '${w.name}': ${sec}s")
        w.name -> sec
      }
    }
    val staging = since(s0)
    val stagedBefore = Staged.requested(spark, sfDir)
    // A throwing query is excluded from the timing map and listed under
    // `failed`: recorded as ~0 s, it would read as a win.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val loop0 = metrics.snapshot(spark)
    val results = inventory.flatMap { case (name, fn) =>
      val r = measured(spark, metrics, s"query '$name'")(fn(spark, sfDir))
      if (r.isEmpty) failed += name
      r.map(name -> _)
    }
    val cpuShare = r3((metrics.snapshot(spark) - loop0).cpuShare)
    // The drift check of the derived stagers: a tag first requested here
    // was built inside some query's timed number. Expected empty.
    val lateTags = (Staged.requested(spark, sfDir) -- stagedBefore).toSeq.sorted
    System.err.println(s"[bench] staged tags first requested during timing " +
      s"(${lateTags.size}): ${lateTags.mkString(",")}")
    val total = r3(results.map(_._2._1).sum)
    // On-disk generation flavors of the five tags whose keys embed a
    // persisted upstream's physical plan (its shuffle-partition count),
    // so a third flavor on unchanged config shows as key drift.
    val flavorTags = Seq("ivf_quant", "pq_subs", "emb_int8",
      "lm_bigrams", "decile_scored")
    val flavorCounts: Seq[(String, Int)] = try {
      val parent = new java.io.File(
        s"${Staged.cacheRoot}/${new java.io.File(sfDir).getName}")
      val names = Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName)
      flavorTags.map { t =>
        t -> names.count(_.matches(
          java.util.regex.Pattern.quote(t) + "-\\d+-[0-9a-f]{16}"))
      }
    } catch { case _: Throwable => flavorTags.map(_ -> -1) }
    // One schema for `failed` in both outputs: {"n":N,"names":[...]}.
    def failedObj(names: Seq[String]): String = {
      val extra = failed.size - names.size
      val items = names.map("\"" + _ + "\"") ++
        (if (extra > 0) Seq("\"+" + extra + " more\"") else Nil)
      s"""{"n":${failed.size},"names":${items.mkString("[", ",", "]")}}"""
    }
    val (scHits, scMisses) = Staged.diskCacheStats
    val (sgHits, sgMisses) = graft.streaming.StreamRuns.stagedGenStats
    val sorted = results.map { case (n, (sec, _)) => n -> sec }.sortBy { case (n, s) => (-s, n) }
    val wallSec = r3((System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    // The one report object of both outputs: `stagingMap` goes before
    // `nq`, `tail` between `failed` and `sf`.
    def report(stagingMap: Seq[(String, String)], failedNames: Seq[String],
        tail: Seq[(String, String)]): String = obj(Seq(
      "metric" -> "\"total\"", "value" -> total, "unit" -> "\"sec\"",
      "wall_sec" -> wallSec, "cpu_share" -> cpuShare,
      "staging_sec" -> staging, "warmup_sec" -> warmupSec,
      "prestage_sec" -> prestageSec,
      "staging_cache" -> obj(Seq("hits" -> (scHits - baseHits),
        "misses" -> (scMisses - baseMisses))),
      "stream_staging" -> obj(Seq("hits" -> (sgHits - baseGenHits),
        "misses" -> (sgMisses - preGenMisses),
        "prestaged" -> (preGenMisses - baseGenMisses))),
      "staged_flavors" -> obj(flavorCounts)) ++ stagingMap ++
      Seq("nq" -> results.size, "failed" -> failedObj(failedNames)) ++ tail ++
      Seq("sf" -> s"\"$sfDir\""))
    // Anchored path (the JVM's cwd is not guaranteed to be the repo),
    // and never let a sidecar IO failure suppress the report line.
    try {
      val sidecar = java.nio.file.Paths.get(s"${SparkConfs.targetDir}/bench_full.json")
      java.nio.file.Files.createDirectories(sidecar.getParent)
      java.nio.file.Files.write(sidecar,
        (report(Seq("staging" -> obj(stagerSecs)), failed.toSeq, Seq(
          "queries" -> obj(sorted),
          "metrics" -> obj(results.map { case (n, (_, m)) => n -> obj(m.fields) }))) + "\n")
          .getBytes("UTF-8"))
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] sidecar write failed: ${t.getMessage}")
    }
    // Report collectors keep only the tail of stdout, so the line is
    // capped at 1200 characters: the slowest queries individually, the
    // rest in one "others" rollup (the sidecar has them all).
    def line(shown: Int): String = report(Nil, failed.take(8).toSeq, Seq(
      "others" -> obj(Seq("n" -> (sorted.size - shown),
        "sec" -> r3(sorted.drop(shown).map(_._2).sum))),
      "queries" -> obj(sorted.take(shown))))
    val out = line((1 to sorted.size).takeWhile(n => line(n).length <= 1200).lastOption.getOrElse(0))
    // Printed again from a shutdown hook, which runs after Spark's
    // shutdown logging, so the line is the last one on stdout.
    println(out)
    System.out.flush()
    sys.addShutdownHook {
      println(out)
      System.out.flush()
    }
    spark.stop()
  }
}
