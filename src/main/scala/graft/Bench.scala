package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Staged

object Bench {
  // Millisecond precision keeps the one-line JSON compact enough to
  // survive log-tail truncation by downstream report collectors.
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0
  private def since(t0: Long): Double = r3((System.nanoTime() - t0) / 1e9)

  /** The seconds to build `q` and run it to a count, with the frame; a
    * failure is printed as `[bench] <what> failed: …` and returned as
    * None.
    */
  private def timed(what: String)(q: => DataFrame): Option[(Double, DataFrame)] = {
    val t0 = System.nanoTime()
    try {
      val df = q
      df.count()
      Some((since(t0), df))
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

  private def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The stagers come from the warm-up at the sf0.001 sibling, so a run
    // without it cannot attribute staging.
    val tiny = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    if (!tiny.isDirectory) {
      System.err.println(s"[bench] no sf0.001 sibling at $tiny: the warm-up " +
        "that derives the stagers needs it")
      sys.exit(2)
    }
    val spark = SparkConfs.local(SparkConfs.cpus, "graft-bench")
    // Warm the JVM/codegen/scan paths so the first timed query does not
    // absorb session startup.
    timed("warmup scan")(spark.read.parquet(s"$sfDir/region.parquet"))
    spark.range(1000).selectExpr("sum(id)").collect()
    // Dev-only subset filter (comma-separated names); the driver's
    // invocation sets no filter and benches the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val inventory = SparkEntry.queries.toSeq.filter { case (n, _) => only.isEmpty || only(n) }
    // Codegen warm-up: the timed query set runs once at sf0.001 before
    // timing. Same plan shapes with no data-derived literals, so the same
    // generated classes compile, at ~1/100 of the data; the timed pass
    // then measures computation, not first-touch whole-stage codegen and
    // JIT, which a CPU-starved box inflates 10-40x on a single query.
    // Reported in warmup_sec, outside every per-query time and outside
    // staging_sec, whose hit-only read-back is the mode probe.
    val w0 = System.nanoTime()
    val warm = warmUp(spark, tiny.getPath, inventory)
    val warmupSec = since(w0)
    val stagers = warm.filter(_.isStager)
    System.err.println(s"[bench] codegen warm-up (${warm.size} queries, " +
      s"${warm.count(!_.ok)} failed): ${warmupSec}s")
    System.err.println(s"[bench] stagers (${stagers.size}): " + stagers
      .map(w => s"${w.name}[${w.firstRequested.toSeq.sorted.mkString(",")}]").mkString(" "))
    // Snapshot the stage-cache and stream-generation counters AFTER the
    // warm-up: its sf0.001 staged builds are deliberate warm-up cost,
    // and counting their misses in staging_cache would flip the probe's
    // hit-only criterion on every box where the sf0.001 cache is cold.
    val (baseHits, baseMisses) = Staged.diskCacheStats
    val (baseGenHits, baseGenMisses) = graft.streaming.StreamRuns.stagedGenStats
    // Stream staged-input generation is STAGING by nature: on a cold
    // scratch mount the shared immutable trees (events/documents
    // copies, two-phase feeds, CDC base) are materialized by Spark
    // write jobs that would otherwise land inside whichever stream
    // query touches each tree first. Generate them here — reported as
    // prestage_sec, outside both staging_sec (the mode probe) and every
    // per-query time; on a warm mount each artifact costs a
    // fingerprint check + mtime touch.
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
    // Post-prestage snapshot: generation misses DURING prestage are
    // by-design (that is what prestage is for); a miss AFTER this point
    // means a staged tree was invalidated mid-run and some timed query
    // paid the write — the one case that still poisons a record.
    val (_, preGenMisses) = graft.streaming.StreamRuns.stagedGenStats
    // Build every staged artifact before timing, so its cost lands in
    // staging_sec and not in whichever query touches it first. A broken
    // stager must stay visible: its cost would migrate back into the
    // timed loop.
    val s0 = System.nanoTime()
    val stagerSecs = stagers.flatMap { w =>
      timed(s"stager '${w.name}'")(SparkEntry.queries(w.name)(spark, sfDir)).map { case (sec, _) =>
        System.err.println(s"[bench] stager '${w.name}': ${sec}s")
        w.name -> sec
      }
    }
    val staging = since(s0)
    val stagedBefore = Staged.requested(spark, sfDir)
    // Calibration canaries: the staging probe classifies the
    // ENVIRONMENT (same bytes re-read every run) but not QUERY-SIDE
    // throughput. Fixed work re-run at the BEGIN and END of the timed
    // loop makes every record self-classifying: one JIT/codegen-heavy
    // shape (win_kaplan_meier), one shuffle-heavy shape
    // (join_sort_merge — a two-sided shuffle SMJ), one stream
    // (stream_dsv2_ingest — micro-batch + state machinery). begin vs
    // the committed table's begin = query-side inflation of THIS run;
    // end vs begin = drift DURING the run. Untimed: canary seconds are
    // reported in their own field, and the begin pass doubles as
    // codegen warm-up for those three shapes (their in-loop times drop
    // accordingly — disclosed in BENCH_RATIO.md).
    val canaryNames = Seq("win_kaplan_meier", "join_sort_merge",
      "stream_dsv2_ingest")
    def runCanaries(when: String): Seq[(String, Double)] =
      if (only.nonEmpty) Nil
      else {
        val xs = canaryNames.filter(SparkEntry.queries.contains).flatMap { n =>
          timed(s"canary '$n'")(SparkEntry.queries(n)(spark, sfDir)).map(n -> _._1)
        }
        System.err.println(s"[bench] canaries $when: ${obj(xs)}")
        xs
      }
    val canaryBegin = runCanaries("begin")
    // A throwing query is excluded from the timing map and reported in a
    // `failed` list instead: recorded as ~0 s, broken queries would
    // "run" in milliseconds and the total would read as a win.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Per-query exchange counts (PlanDump.countExchanges) —
    // annotation-grade telemetry for ratio_table.py's floor arithmetic.
    // Counted OUTSIDE the timed window on the same DataFrame the query
    // returned; full runs only — a subset A/B should not pay the extra
    // planning pass.
    val exchanges = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val results = inventory.flatMap { case (name, fn) =>
      val r = timed(s"query '$name'")(fn(spark, sfDir))
      if (r.isEmpty) failed += name
      r.map { case (sec, df) =>
        if (only.isEmpty) PlanDump.countExchanges(df).foreach(exchanges(name) = _)
        name -> sec
      }
    }
    // The drift check of the derived stagers: a tag first requested here
    // was built inside some query's timed number. Expected empty.
    val lateTags = (Staged.requested(spark, sfDir) -- stagedBefore).toSeq.sorted
    System.err.println(s"[bench] staged tags first requested during timing " +
      s"(${lateTags.size}): ${lateTags.mkString(",")}")
    val total = r3(results.map(_._2).sum)
    val canaryEnd = runCanaries("end")
    // Distinct on-disk generation flavors per flavor-sensitive staged
    // tag (the five whose keys embed a persisted upstream's PHYSICAL
    // plan — an InMemoryRelation canonicalizes with its shuffle
    // partition count, so a 16-core Verify forks a second flavor of
    // each). The prune grace makes flavors coexist by design; this
    // counter makes silent key drift (a third flavor appearing on
    // unchanged config) VISIBLE in every record instead of only as
    // disk growth. StagedFlavorStabilitySpec pins same-session key
    // stability; this reports the cross-session state.
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
    // ONE schema for `failed` in both outputs — {"n":N,"names":[...]}.
    // The sidecar lists every name; stdout is budgeted like the queries
    // map, or many failures would push the headline metric off the
    // collector's 2000-char tail.
    def failedObj(names: Seq[String]): String = {
      val extra = failed.size - names.size
      val items = names.map("\"" + _ + "\"") ++
        (if (extra > 0) Seq("\"+" + extra + " more\"") else Nil)
      s"""{"n":${failed.size},"names":${items.mkString("[", ",", "]")}}"""
    }
    // Cross-JVM stage-cache telemetry, so a record tells a cold run (real
    // recompute) from a warm one (parquet read-back) or a regression;
    // counted from the post-warm-up snapshot, so only the benched sf dir.
    val (scHits, scMisses) = Staged.diskCacheStats
    // Stream staged-generation telemetry: `misses` counts only writes
    // after prestage, which some timed query absorbed (ratio_table.py
    // refuses to mode-classify such a record); `prestaged` the writes
    // prestage paid. Both count from the post-warm-up snapshot.
    val (sgHits, sgMisses) = graft.streaming.StreamRuns.stagedGenStats
    val sorted = results.sortBy { case (n, s) => (-s, n) }
    // The one report object of both outputs: `stagingMap` goes before
    // `nq`, `tail` between `failed` and `sf`.
    def report(stagingMap: Seq[(String, String)], failedNames: Seq[String],
        tail: Seq[(String, String)]): String = obj(Seq(
      "metric" -> "\"total\"", "value" -> total, "unit" -> "\"sec\"",
      "staging_sec" -> staging, "warmup_sec" -> warmupSec,
      "prestage_sec" -> prestageSec,
      "staging_cache" -> obj(Seq("hits" -> (scHits - baseHits),
        "misses" -> (scMisses - baseMisses))),
      "stream_staging" -> obj(Seq("hits" -> (sgHits - baseGenHits),
        "misses" -> (sgMisses - preGenMisses),
        "prestaged" -> (preGenMisses - baseGenMisses))),
      "canary_sec" -> obj(Seq("begin" -> obj(canaryBegin), "end" -> obj(canaryEnd))),
      "staged_flavors" -> obj(flavorCounts)) ++ stagingMap ++
      Seq("nq" -> results.size, "failed" -> failedObj(failedNames)) ++ tail ++
      Seq("sf" -> s"\"$sfDir\""))
    // Anchored path (the JVM's cwd is not guaranteed to be the repo),
    // and never let a sidecar IO failure suppress the report line.
    try {
      val sidecar = java.nio.file.Paths.get(s"${SparkConfs.targetDir}/bench_full.json")
      java.nio.file.Files.createDirectories(sidecar.getParent)
      java.nio.file.Files.write(sidecar,
        (report(Seq("staging" -> obj(stagerSecs)), failed.toSeq,
          Seq("queries" -> obj(sorted), "exchanges" -> obj(exchanges))) + "\n")
          .getBytes("UTF-8"))
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] sidecar write failed: ${t.getMessage}")
    }
    // The downstream report collector keeps only the LAST 2000 characters
    // of stdout, so a full per-query line arrives head-truncated and
    // unparseable. Budget the line to fit: emit the slowest queries
    // individually and fold the remainder into one "others" rollup; the
    // sidecar holds the complete per-query map.
    val budget = 950 // chars for the inline queries map (line total <=1200)
    // A strict prefix of the slowest-first ordering (the rollup relies
    // on that): stop at the first query that does not fit.
    val used = sorted.map { case (k, v) => s"\"$k\":$v,".length }.scanLeft(2)(_ + _).tail
    val shown = used.takeWhile(_ <= budget).size
    val line = report(Nil, failed.take(8).toSeq, Seq(
      "others" -> obj(Seq("n" -> (sorted.size - shown),
        "sec" -> r3(sorted.drop(shown).map(_._2).sum))),
      "queries" -> obj(sorted.take(shown))))
    // Print once now, and once more from a shutdown hook: after
    // spark.stop() completes, Spark's shutdown logging (stderr) is done,
    // so the hook's copy is the last stdout line of the forked JVM —
    // the most collector-friendly position available.
    println(line)
    System.out.flush()
    sys.addShutdownHook {
      println(line)
      System.out.flush()
    }
    spark.stop()
  }
}
