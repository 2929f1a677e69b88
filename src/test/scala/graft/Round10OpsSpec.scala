package graft

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force and invariant pins for the round-10 additions:
  * line-level boilerplate dedup, the token-budget table, URL-path
  * template trap detection, and phash connected components.
  */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("text_line_dedup matches a whole-corpus brute-force recompute") {
    // Independent recompute on the driver: normalize exactly as
    // Text.normTerm does, cut non-overlapping 3-token lines, count
    // distinct-doc frequency, threshold at 3.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val linesPerDoc = docs.map { case (id, text) =>
      val toks = text.trim.replaceAll("\\s+", " ").toLowerCase.split(" ")
      id -> toks.grouped(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
    }.toMap
    val df = linesPerDoc.toSeq
      .flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.size }
    val want = linesPerDoc.collect { case (id, ls) if ls.nonEmpty =>
      val nBoiler = ls.count(l => df(l) >= 3)
      id -> ((ls.size.toLong, nBoiler.toLong,
        (ls.size - nBoiler).toLong * 1000000L / ls.size))
    }.toMap

    val got = SparkEntry.queries("text_line_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, "line-dedup drift vs brute force")
    // Both arms live: some boilerplate exists, and not everything is.
    assert(got.values.exists(_._2 > 0), "no boilerplate line found — dead arm")
    assert(got.values.exists(_._2 == 0), "every doc boilerplate — dead arm")
  }

  test("profile_token_budget is internally consistent") {
    val rows = SparkEntry.queries("profile_token_budget")(spark, sf).collect()
    assert(rows.length >= 2, "expected multiple languages")
    val tokens = rows.map(_.getLong(2))
    val total = tokens.sum
    rows.foreach { r =>
      val (t, share, epochs) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(share == t * 1000000L / total, s"share_ppm drift for ${r.getString(0)}")
      assert(epochs == (total / 2) * 100L / t, s"epochs_x100 drift for ${r.getString(0)}")
    }
    // Floor-division shares under-count by at most one ppm per row.
    assert(tokens.indices.map(i => tokens(i) * 1000000L / total).sum
      > 1000000L - rows.length)
  }

  test("web_path_template: templates are digit-free and both trap arms live") {
    val rows = SparkEntry.queries("web_path_template")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tpl = r.getString(1)
      assert(!tpl.exists(_.isDigit), s"template retains digits: $tpl")
      assert(r.getLong(3) <= r.getLong(2), "n_pages must not exceed n_docs")
    }
    val traps = rows.filter(_.getBoolean(5))
    val clean = rows.filterNot(_.getBoolean(5))
    assert(traps.nonEmpty, "no trap template flagged — dead arm")
    assert(clean.nonEmpty, "every template flagged — dead arm")
    // The parameterized item family is the trap; static pages are not.
    assert(traps.forall(_.getString(1).contains("/item-N")))
    assert(clean.forall(r =>
      r.getString(1) == "/about" || r.getString(1) == "/contact"))
  }

  test("multimodal_phash_clusters equals union-find over the verified pairs") {
    val pairs = SparkEntry.queries("multimodal_phash_pairs")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(pairs.nonEmpty, "phash pair graph empty — nothing to cluster")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    val got = SparkEntry.queries("multimodal_phash_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "phash CC labels drift vs union-find")
    // Labels are component minima, so every cluster id labels itself.
    assert(got.filter { case (id, c) => id == c }.keySet == got.values.toSet)
  }

  test("sample_mixture_epochs realizes the budget rates exactly") {
    val rows = SparkEntry.queries("sample_mixture_epochs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // Replay the salted draw and check every copy count in closed form.
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, _, ep, copies) =>
      val hex = md.digest(s"ep:$id".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val draw = java.lang.Long.parseLong(hex, 16) % 100
      val want = ep / 100 + (if (draw < ep % 100) 1L else 0L)
      assert(copies == want, s"doc $id: n_copies $copies != $want")
      assert(ep <= 300L, s"doc $id escaped the 3-epoch cap")
    }
    // Both regimes live: a capped language (uniform 3 copies) and an
    // uncapped one whose fractional remainder splits its docs.
    val byLang = rows.groupBy(_._2)
    assert(byLang.values.exists(_.forall(_._4 == 3L)), "no language at the cap")
    assert(byLang.values.exists(rs => rs.map(_._4).distinct.size > 1),
      "no language realizes a fractional epoch")
  }

  test("sink_manifest_atomic: orphan invisible via manifest, visible to naive listing") {
    val committed = SparkEntry.queries("sink_manifest_atomic")(spark, sf)
    val viaManifest = committed.count()
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 2 = 0").count()
    assert(viaManifest == want, "manifest read must be exactly the committed snapshot")
    // The naive directory scan sees the planted orphan too — the
    // failure mode the manifest protocol exists to prevent.
    val dataDir = s"${graft.queries.Relational.manifestSink(spark, sf)}/data"
    val naive = spark.read.parquet(dataDir).count()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(naive == total, s"directory listing must include the orphan ($naive != $total)")
  }

  test("text_canary_scan: planted canaries stay clean, real needles replay") {
    val rows = SparkEntry.queries("text_canary_scan")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // Planted tracers exist nowhere — the audit's success arm.
    val planted = rows.filter(_._1 < 0)
    assert(planted.length == 2 && planted.forall(r => r._3 == 0 && r._4 == -1),
      s"planted canaries must be clean: ${planted.toSeq}")
    // Brute-force replay of the real needles against the train split.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.replaceAll("\\s+", " ").toLowerCase)
    val train = docs.filter(_._1 % 25 != 7)
    rows.filter(_._1 >= 0).foreach { case (src, needle, hits, first) =>
      val hit = train.filter(_._2.contains(needle)).map(_._1).sorted
      assert(hits == hit.length.toLong, s"needle '$needle': hits $hits != ${hit.length}")
      assert(first == hit.headOption.getOrElse(-1L), s"needle '$needle' first_hit drift")
    }
    // Both arms live among the REAL needles too.
    assert(rows.exists(r => r._1 >= 0 && r._3 > 0), "no real needle ever leaks")
    assert(rows.exists(r => r._1 >= 0 && r._3 == 0), "every real needle leaks")
  }

  test("sample_split_exact: per-stratum quotas are exact to the floor") {
    val rows = SparkEntry.queries("sample_split_exact")(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(4)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val n = rs.length
      val bySplit = rs.groupBy(_._2).map { case (k, v) => k -> v.size }
      assert(bySplit.getOrElse("train", 0) == n * 8 / 10,
        s"$lang train quota drift: $bySplit (n=$n)")
      assert(bySplit.getOrElse("valid", 0) == n * 9 / 10 - n * 8 / 10,
        s"$lang valid quota drift: $bySplit (n=$n)")
      assert(bySplit.getOrElse("test", 0) == n - n * 9 / 10,
        s"$lang test quota drift: $bySplit (n=$n)")
    }
  }

  test("win_collapse_runs: run lengths partition the stream, no adjacent same-state runs") {
    val runs = SparkEntry.queries("win_collapse_runs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(4)))
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(runs.map(_._4).sum == total, "run lengths must partition the event stream")
    assert(runs.exists(_._4 > 1), "no run ever collapsed — dead compression arm")
    // Adjacent runs of one user never share a state (else they'd be one run).
    runs.groupBy(_._1).foreach { case (_, rs) =>
      rs.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a._3 != b._3,
          s"user ${a._1}: adjacent runs ${a._2}/${b._2} share state ${a._3}")
        case _ =>
      }
    }
  }

  test("graph_label_propagation: labels are node ids, communities form") {
    val rows = SparkEntry.queries("graph_label_propagation")(spark, sf).collect()
    val nodes = rows.map(_.getLong(0)).toSet
    val communities = rows.map(_.getLong(1)).toSet
    // Every community label is itself a node (labels only ever take
    // node-id values), and propagation actually merged some nodes.
    assert(communities.subsetOf(nodes), "LPA label outside the node set")
    assert(communities.size < nodes.size, "no community ever merged")
    // community_size is consistent with the label column.
    val byLbl = rows.groupBy(_.getLong(1))
    rows.foreach { r =>
      assert(r.getLong(2) == byLbl(r.getLong(1)).length.toLong,
        s"community_size drift for label ${r.getLong(1)}")
    }
  }

  test("join_knn_classify matches a brute-force vote and hits both arms") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (r.getLong(0), v, r.getInt(2))
      }
    def rx6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / (math.sqrt(a.indices.map(i => a(i) * a(i)).sum) *
        math.sqrt(b.indices.map(i => b(i) * b(i)).sum))
    }
    val probes = e.filter(_._1 % 100 == 0)
    val base = e.filter(_._1 % 100 != 0)
    val want = probes.map { case (qid, qv, tl) =>
      val top = base.map { case (id, v, l) => (rx6(cos(qv, v)), id, l) }
        .sortBy { case (c, id, _) => (-c, id) }.take(5)
      val (label, votes) = top.groupBy(_._3).map { case (l, xs) => (l, xs.size) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      qid -> ((label.toLong, votes.toLong, tl.toLong, label == tl))
    }.toMap
    val got = SparkEntry.queries("join_knn_classify")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got == want, s"knn vote drift:\n got=$got\nwant=$want")
    assert(got.nonEmpty)
  }

  test("pipeline_snapshot_diff: all four statuses live, counts partition the union") {
    val rows = SparkEntry.queries("pipeline_snapshot_diff")(spark, sf).collect()
    val byStatus = rows.groupBy(_.getString(1))
      .map { case (st, rs) => st -> rs.map(_.getLong(2)).sum }
    assert(byStatus.keySet == Set("added", "removed", "changed", "unchanged"),
      s"missing diff arm: $byStatus")
    // The diff partitions v1 ∪ v2 exactly.
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("count(*) n", "sum(if(doc_id % 17 = 3 and doc_id % 19 = 7, 1, 0)) both_gone")
      .collect().head
    assert(byStatus.values.sum == n.getLong(0) - n.getLong(1))
  }

  test("web_robots_policy: group selection, longest prefix, section override") {
    val rows = SparkEntry.queries("web_robots_policy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, host, path, pfx, allowed) =>
      if (host == "src4.example.com") {
        // Own rule group: the '*' rules (incl. the /docs/3 allow) must
        // not apply — everything on this host is blocked at prefix '/'.
        assert(!allowed && pfx == "/", s"doc $id on src4 not blocked by its group")
      } else if (path.startsWith("/docs/3") && !path.startsWith("/docs/3/")) {
        assert(allowed && pfx == "/docs/3", s"doc $id section-3 override lost")
      } else if (path.startsWith("/docs")) {
        assert(!allowed && pfx == "/docs", s"doc $id /docs not disallowed")
      } else {
        assert(allowed, s"doc $id default-allow lost")
      }
    }
    assert(rows.exists(_._5) && rows.exists(!_._5), "one-armed policy")
  }
}
