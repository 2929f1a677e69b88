package graft

import org.scalatest.funsuite.AnyFunSuite

/** Key stability of the five flavor-sensitive staged artifacts
  * (round 18, directive #5). Their generation keys fingerprint a
  * build plan that embeds a PERSISTED upstream frame, and an
  * InMemoryRelation canonicalizes with its physical plan — including
  * the shuffle-partition count — so a different core/partition config
  * legitimately forks a second on-disk flavor (the prune grace lets
  * those coexist). The hazard left open is SILENT drift: if the key
  * were unstable across build reconstructions under one unchanged
  * config (an identity hash or other non-deterministic token leaking
  * into the canonicalized rendering), every run would fork a fresh
  * flavor — unbounded disk growth plus a cold recompute each time,
  * invisible until someone counts directories. This spec rebuilds
  * each artifact under a FRESH session (new session state, so the
  * session-level memo in Stages cannot short-circuit the key
  * computation; same config, cloned from the parent) and asserts no
  * new generation directory appears — the recomputed key must land on
  * the artifact the first session staged. graft.Bench reports the
  * cross-session view as `staged_flavors` counts in every record.
  */
class StagedFlavorStabilitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // artifact tag -> a query whose build stages it (the bench's
  // first-toucher for the family).
  private val touchers = Seq(
    "ivf_quant" -> "sim_ann_ivf",
    "pq_subs" -> "sim_ann_pq",
    "emb_int8" -> "sim_int8_quantized",
    "lm_bigrams" -> "text_lm_score",
    "decile_scored" -> "agg_decile_lift")

  private def flavors(tag: String): Set[String] = {
    val parent = new java.io.File(
      s"${graft.pipeline.Staged.cacheRoot}/${new java.io.File(sf).getName}")
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName)
      .filter(_.matches(
        java.util.regex.Pattern.quote(tag) + "-\\d+-[0-9a-f]{16}"))
      .toSet
  }

  test("lambda-bearing plans fingerprint identically at any counter offset") {
    import org.apache.spark.sql.functions._
    // The Scala Column API mints lambda arguments from a JVM-global
    // counter, so two constructions of the SAME expression render as
    // lambda 'x_N vs 'x_M. Root cause of the observed 4-5 on-disk
    // flavors per lambda-bearing artifact at one data fingerprint —
    // planFingerprint must hash them equal (stableLambdas renumber).
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    def build() = base.select(
      transform(col("embedding"), x => x.cast("double")).as("v"),
      aggregate(col("embedding"), lit(0d), (a, x) => a + x).as("s"))
    val fp1 = graft.pipeline.Staged.planFingerprint(
      build().queryExecution.logical)
    val fp2 = graft.pipeline.Staged.planFingerprint(
      build().queryExecution.logical)
    assert(fp1 == fp2,
      "the same lambda-bearing builder fingerprinted differently at " +
        "two counter positions — every fresh session would fork a new " +
        "staged-artifact flavor (cold rebuild + unbounded disk growth)")
    // Distinct lambda STRUCTURE must still fingerprint differently.
    val other = base.select(
      transform(col("embedding"), x => x.cast("double") * lit(2d)).as("v"),
      aggregate(col("embedding"), lit(0d), (a, x) => a + x).as("s"))
    assert(fp1 != graft.pipeline.Staged.planFingerprint(
      other.queryExecution.logical),
      "renumbering collapsed structurally different lambdas — stale " +
        "artifacts would be served as false hits")
  }

  test("rebuilding under a fresh session forks no new artifact flavor") {
    touchers.foreach { case (_, q) =>
      assert(SparkEntry.queries.contains(q), s"toucher query $q missing")
      SparkEntry.queries(q)(spark, sf).count()
      ()
    }
    val before = touchers.map { case (t, _) => t -> flavors(t) }.toMap
    before.foreach { case (t, f) =>
      assert(f.nonEmpty, s"artifact '$t' staged no generation — the " +
        "toucher mapping in this spec is stale")
    }
    // A fresh session resets the per-session memo in Stages, so each
    // build's fingerprint KEY is recomputed from a reconstructed plan
    // (re-persisted upstreams included) — the cross-run path, minus
    // the JVM restart. Cloned sessions share the SparkContext and the
    // parent's runtime conf (shuffle partitions included), so any new
    // directory here is key instability, not a config flavor.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
    GraftExtensions.ensureRegistered(s2)
    touchers.foreach { case (_, q) =>
      SparkEntry.queries(q)(s2, sf).count()
      ()
    }
    touchers.foreach { case (t, _) =>
      val after = flavors(t)
      val forked = after -- before(t)
      assert(forked.isEmpty,
        s"artifact '$t' forked new flavor(s) ${forked.mkString(", ")} " +
          "under a fresh session on an unchanged config — its " +
          "generation key is not stable across build reconstructions " +
          "(a non-deterministic token is leaking into the " +
          "canonicalized key plan), so every run pays a cold rebuild " +
          "and the stagecache grows without bound")
    }
  }

  // `Stages` is eight Staged.disk artifacts, not a second cache: its
  // frames are the very objects the staged memo serves under the pl_*
  // tags, and a repeated call rebuilds nothing.
  test("Stages frames are the Staged memo entries of their pl_* tags") {
    import graft.pipeline.{Staged, Stages}
    val st = Stages(spark, sf)
    assert(st.docs eq Staged(spark, sf, "pl_docs")(sys.error("must not rebuild")))
    assert(st.labeled eq Staged(spark, sf, "pl_labeled")(sys.error("must not rebuild")))
    assert(st.nodes eq Staged(spark, sf, "pl_nodes")(sys.error("must not rebuild")))
  }

  test("a second Stages call in the same session rebuilds nothing") {
    import graft.pipeline.{Staged, Stages}
    val a = Stages(spark, sf)
    val disk0 = Staged.diskCacheStats
    val b = Stages(spark, sf)
    a.productIterator.zip(b.productIterator).foreach { case (x, y) =>
      assert(x.asInstanceOf[AnyRef] eq y.asInstanceOf[AnyRef])
    }
    assert(Staged.diskCacheStats === disk0,
      "a memoized Stages call must not even probe the disk cache")
  }
}
