package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkConfs.local(SparkConfs.cpus, "graft-bench")
    // Warm the JVM/codegen/scan paths so the first timed query does not
    // absorb session startup. Guarded: an unreadable warmup table must
    // not kill the run before the report line — the per-query loop
    // records each failure individually.
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case t: Throwable =>
      System.err.println(s"[bench] warmup scan failed: ${t.getMessage}")
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    // Millisecond precision keeps the one-line JSON compact enough to
    // survive log-tail truncation by downstream report collectors.
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    // Dev-only subset filter (comma-separated names); the driver's
    // invocation sets no filter and benches the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val timed = SparkEntry.queries.filter { case (n, _) => only.isEmpty || only(n) }
    // Force the memoized staged chains (pipeline classify chain, shingle
    // index, embedding norms/buckets/IVF, bucketed-table CTAS) by running
    // each family's first-toucher once before timing. Without this,
    // whichever family member happens to run first absorbs the whole
    // staging cost and per-query numbers migrate between runs as map
    // order shifts; the one-time cost is reported as its own
    // staging_sec field instead.
    val stagers = Seq("pipeline_node_counts", "dedup_minhash_sig",
      "sim_cosine_topk", "sim_ann_lsh", "sim_ann_ivf", "join_bucketed",
      "dedup_cluster_cc", "scan_partition_pruned", "text_tfidf",
      "dedup_ngram_jaccard", "dedup_simhash", "graph_pagerank",
      "sim_ann_pq", "graph_triangle_count", "dedup_substring",
      // pipeline_nested_enrich is NOT staged: the nested-doc stage has
      // exactly one consumer (the timed query itself), so a stager run
      // would execute the whole query twice per bench for no
      // attribution benefit.
      "text_lm_score", "scan_dsv2_skipping", "agg_kmv_sketch",
      "sim_graph_route", "sample_importance_dsir",
      "dedup_span_exact", "sim_bitext_margin",
      // phash pairs BEFORE clusters: the CC labels are keyed on the
      // pair signatures.
      "dedup_chunk_exact", "text_line_dedup",
      "multimodal_phash_pairs", "multimodal_phash_clusters",
      "graph_label_propagation",
      // prefix_index (the AllPairs prefix-filter join's staged index)
      "dedup_prefix_filter",
      // emb_bin_sigs (the sign-bit signature table)
      "sim_ann_binary",
      // bm25_micro (the query-independent lexical score stage shared by
      // hybrid retrieval and RRF fusion), wmedian_perv (the collapsed
      // weighted-median value table), the assoc basket/freq caches,
      // the supplier-part bipartite edge set, and the RAKE word scores
      "sim_hybrid_retrieval", "agg_weighted_median", "agg_assoc_rules",
      "graph_bipartite_cf", "text_rake_keywords",
      // fuzzy_ents + fuzzy_variants (the SymSpell artifact pair): the
      // probe query should time the probe join, not the index
      // read-back, same attribution as every other staged family.
      "str_fuzzy_match")
      .filter(timed.contains)
    // Codegen warm-up: the timed query set runs once at sf0.001 (the
    // sibling of the bench's sf dir) before timing. Same plan shapes
    // with no data-derived literals, so the same generated classes
    // compile, at ~1/100 of the data; the timed pass then measures
    // computation, not first-touch whole-stage codegen and JIT, which
    // a CPU-starved box inflates 10-40x on a single query. Reported in
    // warmup_sec, outside every per-query time and outside staging_sec,
    // whose hit-only read-back is the mode probe.
    var warmupSec = 0.0
    val tiny = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    if (tiny.isDirectory) {
      val w0 = System.nanoTime()
      var failed = 0
      timed.foreach { case (n, fn) =>
        try fn(spark, tiny.getPath).count()
        catch { case t: Throwable =>
          failed += 1
          System.err.println(s"[bench] warm-up '$n' failed: ${t.getMessage}")
        }
      }
      warmupSec = r3((System.nanoTime() - w0) / 1e9)
      System.err.println(
        s"[bench] codegen warm-up (${timed.size} queries, $failed failed): ${warmupSec}s")
    }
    // Snapshot the stage-cache and stream-generation counters AFTER the
    // warm-up: its sf0.001 staged builds are deliberate warm-up cost,
    // and counting their misses in staging_cache would flip the probe's
    // hit-only criterion on every box where the sf0.001 cache is cold.
    val (baseHits, baseMisses) = graft.pipeline.Staged.diskCacheStats
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
        prestageSec = r3((System.nanoTime() - w0) / 1e9)
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
    val s0 = System.nanoTime()
    val stagerSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    stagers.foreach { n =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(n)(spark, sfDir).count()
        stagerSecs(n) = r3((System.nanoTime() - t0) / 1e9)
        System.err.println(s"[bench] stager '$n': ${stagerSecs(n)}s")
      } catch {
        // A broken stager must be visible, or its staging cost silently
        // migrates back into whichever timed query touches the stage
        // first — the drift staging_sec exists to prevent.
        case t: Throwable =>
          System.err.println(s"[bench] stager '$n' failed: ${t.getMessage}")
      }
    }
    val staging = r3((System.nanoTime() - s0) / 1e9)
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
    def runCanaries(): Seq[(String, Double)] =
      canaryNames.filter(SparkEntry.queries.contains).flatMap { n =>
        val t0 = System.nanoTime()
        try { SparkEntry.queries(n)(spark, sfDir).count()
          Some(n -> r3((System.nanoTime() - t0) / 1e9)) }
        catch { case t: Throwable =>
          System.err.println(s"[bench] canary '$n' failed: ${t.getMessage}")
          None
        }
      }
    def canaryJson(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val canaryBegin = if (only.isEmpty) runCanaries() else Nil
    if (canaryBegin.nonEmpty)
      System.err.println(s"[bench] canaries begin: ${canaryJson(canaryBegin)}")
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
    val results = timed.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.count()
        val sec = r3((System.nanoTime() - t0) / 1e9)
        if (only.isEmpty) PlanDump.countExchanges(df).foreach(exchanges(name) = _)
        Some(name -> sec)
      }
      catch { case t: Throwable =>
        System.err.println(s"[bench] '$name' failed: ${t.getMessage}")
        failed += name; None
      }
    }
    val total = if (results.nonEmpty) r3(results.values.sum) else 0.0
    val canaryEnd = if (only.isEmpty) runCanaries() else Nil
    if (canaryEnd.nonEmpty)
      System.err.println(s"[bench] canaries end: ${canaryJson(canaryEnd)}")
    val canarySec =
      s"""{"begin":${canaryJson(canaryBegin)},"end":${canaryJson(canaryEnd)}}"""
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
        s"${graft.pipeline.Staged.cacheRoot}/${new java.io.File(sfDir).getName}")
      val names = Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName)
      flavorTags.map { t =>
        t -> names.count(_.matches(
          java.util.regex.Pattern.quote(t) + "-\\d+-[0-9a-f]{16}"))
      }
    } catch { case _: Throwable => flavorTags.map(_ -> -1) }
    val flavorJson = flavorCounts
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // ONE schema for `failed` in both outputs — {"n":N,"names":[...]} —
    // so a collector parsing sidecar and stdout under one shape never
    // breaks. The sidecar carries the complete name list; the stdout
    // copy is BUDGETED like the queries map: the collector keeps only
    // the last 2000 chars, and an unbudgeted list (50 failures ≈ 1.2k
    // chars) would push the line head — the headline metric — off the
    // tail exactly when many queries fail.
    def failedObj(names: Seq[String], totalN: Int): String = {
      val extra = totalN - names.size
      val items = names.map("\"" + _ + "\"") ++
        (if (extra > 0) Seq("\"+" + extra + " more\"") else Nil)
      s"""{"n":$totalN,"names":${items.mkString("[", ",", "]")}}"""
    }
    val failedJson = failedObj(failed.toSeq, failed.size)
    val failedStdout = failedObj(failed.take(8).toSeq, failed.size)
    // Cross-JVM stage-cache telemetry: without hit/miss counts a record
    // cannot tell a cold run (real recompute) from a warm one (parquet
    // read-back) or a regression.
    // Delta from the post-warm-up snapshot: the probe's hit-only
    // criterion judges the sf-dir cache this run benched, not the
    // warm-up's sf0.001 artifacts.
    val (scHits0, scMisses0) = graft.pipeline.Staged.diskCacheStats
    val (scHits, scMisses) = (scHits0 - baseHits, scMisses0 - baseMisses)
    val stagingCache = s"""{"hits":$scHits,"misses":$scMisses}"""
    // Stream staged-GENERATION telemetry (StreamRuns.stagedGeneration):
    // `misses` counts only POST-prestage generation writes — a staged
    // tree invalidated mid-run whose write some timed query absorbed
    // (ratio_table.py refuses to mode-classify such a record);
    // `prestaged` counts the by-design cold-mount writes prestage paid
    // inside prestage_sec. Hits and prestaged count from the post-warm-up
    // snapshot, so the warm-up's sf0.001 lookups stay out.
    val (sgHits, sgMisses) = graft.streaming.StreamRuns.stagedGenStats
    val streamStaging = s"""{"hits":${sgHits - baseGenHits},"misses":${sgMisses - preGenMisses},"prestaged":${preGenMisses - baseGenMisses}}"""
    // The downstream report collector keeps only the LAST 2000 characters
    // of stdout, so a full per-query line arrives head-truncated and
    // unparseable. Budget the line to fit: emit
    // the slowest queries individually, fold the remainder into one
    // "others" rollup, and write the complete per-query map to a sidecar
    // file for humans.
    val sorted = results.toSeq.sortBy { case (n, s) => (-s, n) }
    val full = sorted.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Anchored path (the JVM's cwd is not guaranteed to be the repo),
    // and never let a sidecar IO failure suppress the report line.
    try {
      val sidecar = java.nio.file.Paths.get(s"${SparkConfs.targetDir}/bench_full.json")
      java.nio.file.Files.createDirectories(sidecar.getParent)
      val stagingMap = stagerSecs
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      val exchMap = exchanges
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      java.nio.file.Files.write(sidecar,
        s"""{"metric":"total","value":$total,"unit":"sec","staging_sec":$staging,"warmup_sec":$warmupSec,"prestage_sec":$prestageSec,"staging_cache":$stagingCache,"stream_staging":$streamStaging,"canary_sec":$canarySec,"staged_flavors":$flavorJson,"staging":$stagingMap,"nq":${results.size},"failed":$failedJson,"queries":$full,"exchanges":$exchMap,"sf":"$sfDir"}\n"""
          .getBytes("UTF-8"))
    } catch {
      case t: Throwable =>
        System.err.println(s"[bench] sidecar write failed: ${t.getMessage}")
    }
    val budget = 950 // chars for the inline queries map (line total <=1200)
    val shown = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 2
    var full_ = false
    sorted.foreach { case (k, v) =>
      val frag = s"\"" + k + "\":" + v
      // Stop at the first non-fit so `shown` stays a strict prefix of the
      // slowest-first ordering (the rollup below relies on that).
      if (!full_ && used + frag.length + 1 <= budget) {
        shown += frag; used += frag.length + 1
      } else full_ = true
    }
    val cut = sorted.size - shown.size
    val cutSec = r3(sorted.drop(shown.size).map(_._2).sum)
    val qs = shown.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","staging_sec":$staging,"warmup_sec":$warmupSec,"prestage_sec":$prestageSec,"staging_cache":$stagingCache,"stream_staging":$streamStaging,"canary_sec":$canarySec,"staged_flavors":$flavorJson,"nq":${results.size},"failed":$failedStdout,"others":{"n":$cut,"sec":$cutSec},"queries":$qs,"sf":"$sfDir"}"""
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
