package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Staged

/** Bench's stager rule ([[Bench.warmUp]]): in timed order, a query whose
  * run requests a staged tag its session had not requested yet is a
  * stager. Each case runs in its own `newSession()`, since
  * [[Staged.requested]] is kept per session.
  */
class BenchStagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val subset =
    Seq("scan_manifest_incremental", "scan_manifest_time_travel", "scan_parquet")

  private def stagers(names: Seq[String]): Seq[String] = {
    val runs = Bench.warmUp(spark.newSession(), sf, names.map(n => n -> SparkEntry.queries(n)))
    assert(runs.forall(_.ok))
    runs.filter(_.isStager).map(_.name)
  }

  test("the first query to request a staged tag is the only stager") {
    assert(stagers(subset) == Seq("scan_manifest_incremental"))
  }

  test("a layout request makes a stager") {
    // manifest_tt, the tag the two manifest queries share, is a layout.
    assert(stagers(Seq(subset(1), subset(0), subset(2))) == Seq("scan_manifest_time_travel"))
  }

  test("after the stagers run, the queries request no new tag") {
    val s = spark.newSession()
    stagers(subset).foreach(n => SparkEntry.queries(n)(s, sf).count())
    val staged = Staged.requested(s, sf)
    assert(staged.contains("manifest_tt"))
    subset.foreach(n => SparkEntry.queries(n)(s, sf).count())
    assert(Staged.requested(s, sf) == staged)
    Staged.clear(s"${System.identityHashCode(s)}|")
    assert(Staged.requested(s, sf).isEmpty)
  }

  test("an empty and a warm stage cache derive the same stagers") {
    // A diskKeyed hit skips its build, so a build that requested a
    // staged tag its key does not would leave that tag to a later
    // query on a warm cache (the nested nsw_* adjacencies here).
    val names = Seq("sim_recall_graph_route", "sim_hnsw_layer_stats", "graph_kcore_mutual_knn")
    val root = java.nio.file.Files.createTempDirectory("stager-cache").toString
    val prev = sys.props.get("graft.stagecache.dir")
    sys.props("graft.stagecache.dir") = root
    try {
      val cold = stagers(names)
      assert(cold.nonEmpty)
      assert(stagers(names) == cold)
      // On the warm cache, once the stagers ran, no query looks a
      // generation up: every staged tag is already in the memo.
      val s = spark.newSession()
      cold.foreach(n => SparkEntry.queries(n)(s, sf).count())
      val looked = Staged.diskCacheStats
      names.foreach(n => SparkEntry.queries(n)(s, sf).count())
      assert(Staged.diskCacheStats == looked)
      Staged.clear(s"${System.identityHashCode(s)}|")
    } finally prev match {
      case Some(v) => sys.props("graft.stagecache.dir") = v
      case None => sys.props -= "graft.stagecache.dir"
    }
  }
}
