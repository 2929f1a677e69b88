package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force pins for the third-wave round-11 operators:
  * cross-source near-dup contamination (vs an all-pairs ground truth —
  * the query is verify-on-LSH-candidates, so its report must be a
  * per-source LOWER bound of the truth with exact precision) and
  * embedding centroid drift (recomputed exactly in driver Scala,
  * including the in-order folds).
  */
class Round11s3OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def cents(v: Double): Long = math.floor(v * 100 + 0.5).toLong

  private def md5h32(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** ≙ Text.normTerm + tokens + 3-shingles + md5Hash32, set-ized. */
  private def shingleSet(text: String): Set[Long] = {
    val toks = text.trim.replaceAll("\\s+", " ").toLowerCase.split(" ")
    if (toks.length < 3) Set.empty
    else (0 to toks.length - 3)
      .map(i => md5h32(toks.slice(i, i + 3).mkString(" "))).toSet
  }

  test("dedup_cross_source_contamination: exact precision, lower-bounds " +
    "the all-pairs truth, both arms live") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), shingleSet(r.getString(1)), r.getString(2)))
    // All-pairs ground truth (500 docs -> 125k pairs; spec-only cost).
    val contamTruth = collection.mutable.Map.empty[String, Set[Long]]
      .withDefaultValue(Set.empty)
    for {
      i <- docs.indices
      j <- (i + 1) until docs.length
      (da, sa, ra) = docs(i)
      (db, sb, rb) = docs(j)
      if ra != rb && sa.nonEmpty && sb.nonEmpty
    } {
      val inter = (sa & sb).size
      val jac = math.floor(inter.toDouble /
        (sa.size + sb.size - inter) * 1e4 + 0.5) / 1e4
      if (jac >= 0.5) {
        contamTruth(ra) = contamTruth(ra) + da
        contamTruth(rb) = contamTruth(rb) + db
      }
    }
    val nPerSrc = docs.groupBy(_._3).map { case (s, rs) => s -> rs.length }
    val got = SparkEntry.queries("dedup_cross_source_contamination")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == nPerSrc.keys.toSeq.sorted,
      "one row per source, source-ordered")
    got.foreach { case (src, nDocs, nContam, ppm) =>
      assert(nDocs == nPerSrc(src).toLong)
      // Candidates come from LSH bands: never MORE than the truth
      // (precision is exact — every reported doc is verified), and in
      // this corpus the band index surfaces every >=0.5 pair, so the
      // counts are in fact equal; pin <= as the contract and equality
      // as the current-corpus regression guard.
      assert(nContam <= contamTruth(src).size.toLong,
        s"$src reports more contaminated docs than the all-pairs truth")
      assert(ppm == nContam * 1000000L / nDocs)
    }
    assert(got.exists(_._3 == 0L), "zero-contamination arm must be live")
    assert(got.count(_._3 > 0L) >= 10, "contaminated arm must be live")
    // Recall guard: across all sources the query should surface at
    // least 80% of the true contaminated docs (LSH recall at t=0.5
    // with b=4,r=4 is ~94%+; structural collapse would show here).
    val gotTotal = got.map(_._3).sum
    val truthTotal = contamTruth.values.map(_.size.toLong).sum
    assert(gotTotal * 5 >= truthTotal * 4,
      s"candidate recall collapsed: $gotTotal of $truthTotal")
  }

  test("sim_centroid_drift matches an exact driver recompute") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val bySnap = rows.groupBy { case (id, lab, _) =>
      (lab, md5h32(s"snap:$id") % 2)
    }
    def centroid(vs: Array[Array[Double]]): Array[Double] = {
      val sums = Array.fill(64)(0L)
      vs.foreach(v => (0 until 64).foreach(d =>
        sums(d) += math.floor(v(d) * 1e6 + 0.5).toLong))
      sums.map(_.toDouble / (vs.length.toDouble * 1e6))
    }
    def foldSum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
    def rx6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val want = bySnap.keys.map(_._1).toSeq.distinct.sorted.map { lab =>
      val a = bySnap((lab, 0L)).map(_._3)
      val b = bySnap((lab, 1L)).map(_._3)
      val (ca, cb) = (centroid(a), centroid(b))
      val dot = foldSum((0 until 64).map(i => ca(i) * cb(i)))
      val na = math.sqrt(foldSum(ca.toIndexedSeq.map(x => x * x)))
      val nb = math.sqrt(foldSum(cb.toIndexedSeq.map(x => x * x)))
      val l2 = math.sqrt(foldSum((0 until 64).map(i =>
        (ca(i) - cb(i)) * (ca(i) - cb(i)))))
      (lab.toLong, a.length.toLong, b.length.toLong,
        rx6(dot / (na * nb)), rx6(l2))
    }
    val got = SparkEntry.queries("sim_centroid_drift")(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == want, "centroid drift drift vs brute force")
    got.foreach { case (_, na, nb, cos, l2) =>
      assert(na > 0 && nb > 0 && cos <= 1.0 + 1e-9 && l2 >= 0.0)
    }
  }

  test("graph_hits matches an exact driver recompute") {
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_partkey as src", "l_suppkey + 1000000 as dst")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val auth1 = edges.groupBy(_._2).map { case (d, es) => d -> es.length.toLong }
    val hub1 = edges.groupBy(_._1).map { case (p, es) =>
      p -> es.map(e => auth1(e._2)).sum
    }
    val auth2 = edges.groupBy(_._2).map { case (d, es) =>
      d -> es.map(e => hub1(e._1)).sum
    }
    val mxH = hub1.values.max
    val mxA = auth2.values.max
    val want =
      auth2.toSeq.sortBy { case (n, s) => (-s, n) }.take(20).zipWithIndex
        .map { case ((n, s), i) =>
          ("authority", i + 1L, n, s, s * 1000000L / mxA) } ++
      hub1.toSeq.sortBy { case (n, s) => (-s, n) }.take(20).zipWithIndex
        .map { case ((n, s), i) =>
          ("hub", i + 1L, n, s, s * 1000000L / mxH) }
    val got = SparkEntry.queries("graph_hits")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == want, "HITS drift vs brute force")
    // Mutual-reinforcement sanity: the top authority's indegree alone
    // must not exceed its round-2 score (scores only grow with rounds).
    assert(got.filter(_._1 == "authority").forall(_._4 > 0))
  }

  test("sim_ann_multiprobe matches brute force and beats single-probe") {
    val planes = Array.tabulate(8, 64)((p, d) =>
      (md5h32(s"$p:$d") % 2001L - 1000L) / 1000.0)
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def foldDot(a: Array[Double], b: Array[Double]): Double =
      (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def bucket(v: Array[Double]): Long =
      (0 until 8).map(p => if (foldDot(planes(p), v) > 0) 1L << p else 0L).sum
    def rx6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val withB = rows.map { case (id, v) =>
      (id, v, bucket(v), math.sqrt(foldDot(v, v)))
    }
    val want = withB.filter(_._1 < 10).sortBy(_._1).flatMap {
      case (qid, qv, qb, qn) =>
        val probed = Set(qb) ++ (0 until 8).map(i => qb ^ (1L << i))
        withB
          .filter(c => c._1 != qid && probed.contains(c._3))
          .map { case (cid, cv, cb, cn) =>
            (cid, rx6(foldDot(qv, cv) / (qn * cn)),
              if (cb == qb) 0L else 1L)
          }
          .sortBy { case (cid, cos, _) => (-cos, cid) }
          .take(3).zipWithIndex
          .map { case ((cid, cos, pd), i) => (qid, i + 1L, cid, cos, pd) }
    }
    val got = SparkEntry.queries("sim_ann_multiprobe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.toSeq == want.toSeq, "multiprobe drift vs brute force")
    // The probe arm must be live: some winner came from a flipped
    // bucket (probe_dist = 1), i.e. single-probe would have missed it.
    assert(got.exists(_._5 == 1L), "no winner from a Hamming-1 bucket")
    assert(got.exists(_._5 == 0L), "own-bucket arm dead")
  }

  test("stream_minhash_dedup equals the batch closed form and dedups " +
    "across the phase boundary (state persistence)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // ≙ Dedup.minhashBands: 16 affine rehashes of one md5 per shingle,
    // banded 4x4 (min over the multiset = min over the set).
    def bands(text: String): Seq[String] = {
      val toks = text.trim.replaceAll("\\s+", " ").toLowerCase.split(" ")
      if (toks.length < 3) return Nil
      val h0 = (0 to toks.length - 3)
        .map(i => md5h32(toks.slice(i, i + 3).mkString(" ")))
      (0 until 4).map { b =>
        s"$b:" + (0 until 4).map { j =>
          val k = b * 4 + j
          h0.map(h => (h * (2L * k + 1) + k * 2654435761L) % 2147483647L).min
        }.mkString(",")
      }
    }
    val bmap = docs.flatMap { case (id, t) => bands(t).map(b => (b, id)) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
    val want = docs.map { case (id, t) =>
      val mates = bands(t).flatMap(b => bmap(b)).filter(_ < id)
      id -> (if (mates.isEmpty) -1L else mates.min)
    }
    val got = SparkEntry.queries("stream_minhash_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == want.toSeq, "streaming dedup drift vs batch truth")
    // State-persistence arm: a phase-2 doc (id >= the median cut) must
    // dedup against a phase-1 keeper — impossible without retained
    // state. Both within-phase arms must also be live.
    val cut = docs(docs.length / 2)._1
    assert(got.exists { case (d, k) => k >= 0 && d >= cut && k < cut },
      "no cross-phase dup: state retention not exercised")
    assert(got.exists { case (d, k) => k >= 0 && d < cut }, "p1 arm dead")
    assert(got.exists { case (_, k) => k >= cut }, "p2 arm dead")
  }

  test("agg_assoc_rules matches an exact driver recompute") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brand = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("p_partkey", "p_brand").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val baskets = li.map { case (o, p) => (o, brand(p)) }.distinct
    val nB = baskets.map(_._1).distinct.length.toLong
    val ni = baskets.groupBy(_._2).map { case (it, xs) => it -> xs.length.toLong }
    val (s1, k1) = (ni.values.sum, ni.size.toLong)
    val freq = ni.filter { case (_, n) => n * k1 > s1 }
    val fb = baskets.filter(b => freq.contains(b._2))
    val byO = fb.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2).sorted }
    val pairN = byO.values.flatMap(its =>
      for (i <- its.indices; j <- (i + 1) until its.length)
        yield (its(i), its(j)))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val want = pairN.toSeq.flatMap { case ((x, y), n) =>
      Seq((x, y, n), (y, x, n))
    }.map { case (a, c, n) =>
      (a, c, freq(a), freq(c), n,
        n * 1000000L / nB, n * 1000000L / freq(a),
        (BigInt(n) * nB * 1000000 / (BigInt(freq(a)) * freq(c))).toLong)
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("agg_assoc_rules")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(got.toSeq == want, "assoc rules drift vs brute force")
    // The a-priori prune must be a real prune: some items excluded.
    assert(freq.size < ni.size && freq.nonEmpty, "mean cut degenerate")
    // Lift symmetry: lift(x->y) == lift(y->x) by definition.
    val lifts = got.map(r => ((r._1, r._2), r._8)).toMap
    lifts.foreach { case ((x, y), l) => assert(lifts((y, x)) == l) }
  }

  test("agg_ttest_paired matches an exact driver recompute") {
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_type", "user_id", "cast(ts as timestamp) ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2).before(cut), cents(r.getDouble(3))))
    def rx(x: Double, d: Int): Double = {
      val p = math.pow(10, d.toDouble); math.floor(x * p + 0.5) / p
    }
    val want = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rows) =>
      val dd = rows.groupBy(_._2).values.toSeq
        .filter(u => u.exists(_._3) && u.exists(!_._3))
        .map(u => u.filter(!_._3).map(_._4).sum - u.filter(_._3).map(_._4).sum)
      val n = dd.length.toDouble
      val sd = dd.map(BigInt(_)).sum.toDouble
      val sd2 = dd.map(d => BigInt(d) * d).sum.toDouble
      val dbar = sd / n
      val svar = (n * sd2 - sd * sd) / (n * (n - 1.0))
      val t = dbar / math.sqrt(svar / n)
      (et, dd.length.toLong, rx(dbar / 100.0, 4), rx(t, 4), math.abs(t) > 2.0)
    }
    val got = SparkEntry.queries("agg_ttest_paired")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got.toSeq == want, "paired t drift vs brute force")
  }

  test("win_sprt_sequential matches an exact driver walk") {
    val lnA = math.log(19.0)
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("event_type", "unix_micros(cast(ts as timestamp)) tu",
        "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        cents(r.getDouble(3))))
    def rx6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    def walk(name: String, thr: Long, p0: Double, p1: Double) = {
      val c1 = math.log(p1 / p0)
      val c2 = math.log((1.0 - p1) / (1.0 - p0))
      evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rows) =>
        val ordered = rows.sortBy(r => (r._2, r._3))
        var s = 0L; var n = 0L
        var dec: Option[(Long, Double)] = None
        var llr = 0.0
        ordered.foreach { r =>
          n += 1; if (r._4 >= thr) s += 1
          llr = s.toDouble * c1 + (n - s).toDouble * c2
          if (dec.isEmpty && (llr >= lnA || llr <= -lnA)) dec = Some((n, llr))
        }
        val (nd, ld) = dec.getOrElse((n, llr))
        val d = if (dec.isEmpty) "continue"
          else if (ld >= lnA) "accept_h1" else "accept_h0"
        (et, name, d, nd, rx6(ld), n)
      }
    }
    val want = walk("high_rate", 4000L, 0.3, 0.5) ++
      walk("low_rate", 6000L, 0.45, 0.65)
    val got = SparkEntry.queries("win_sprt_sequential")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.toSeq == want.sortBy(r => (r._2, r._1)),
      "SPRT drift vs driver walk")
    assert(got.exists(_._3 == "accept_h1") && got.exists(_._3 == "accept_h0"),
      "both decision arms must be live")
  }

  test("sim_query_expansion matches an exact driver recompute") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def foldDot(a: Array[Double], b: Array[Double]): Double =
      (0 until 64).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def rx6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val norms = rows.map { case (id, v) => id -> math.sqrt(foldDot(v, v)) }.toMap
    val byId = rows.toMap
    def topk(qid: Long, qv: Array[Double], qn: Double, k: Int) = rows
      .filter(_._1 != qid)
      .map { case (id, v) => (id, rx6(foldDot(qv, v) / (qn * norms(id)))) }
      .sortBy { case (id, c) => (-c, id) }.take(k)
    val want = rows.filter(_._1 < 10).sortBy(_._1).flatMap { case (qid, qv) =>
      val r1 = topk(qid, qv, norms(qid), 3)
      val Seq(f1, f2, f3) = r1.map(x => byId(x._1)).toSeq
      val qv2 = Array.tabulate(64)(i => qv(i) + 0.75 * (((f1(i) + f2(i)) + f3(i)) / 3.0))
      val qn2 = math.sqrt(foldDot(qv2, qv2))
      val fbSet = r1.map(_._1).toSet
      topk(qid, qv2, qn2, 5).zipWithIndex.map { case ((id, c), i) =>
        (qid, i + 1L, id, c, fbSet.contains(id))
      }
    }
    val got = SparkEntry.queries("sim_query_expansion")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(got.toSeq == want.toSeq, "query expansion drift vs brute force")
    assert(got.exists(_._5) && got.exists(!_._5), "feedback flag arm dead")
  }

  test("agg_beta_shrinkage matches exact rationals and contracts spread") {
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "value").collect()
      .map(r => (r.getLong(0), cents(r.getDouble(1)) >= 6000L))
    val pu = evs.groupBy(_._1).map { case (u, xs) =>
      (u, xs.length.toLong, xs.count(_._2).toLong)
    }.toSeq.sortBy(_._1)
    val nn = pu.map(_._2).sum
    val ss = pu.map(_._3).sum
    val want = pu.map { case (u, n, s) =>
      val shr = ((BigInt(s) * nn + BigInt(20) * ss) * 1000000 /
        (BigInt(nn) * (n + 20))).toLong
      val dir = (BigInt(s) * nn).compare(BigInt(n) * ss) match {
        case c if c > 0 => "above"; case c if c < 0 => "below"; case _ => "at"
      }
      (u, n, s, s * 1000000L / n, shr, dir)
    }
    val got = SparkEntry.queries("agg_beta_shrinkage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(got.toSeq == want, "shrinkage drift vs exact rationals")
    // Shrinkage contracts: every shrunk rate sits strictly between the
    // MLE and the global rate (or equals both when already at it).
    val gPpm = ss * 1000000L / nn
    got.foreach { case (_, _, _, mle, shr, dir) =>
      if (dir == "above") assert(shr <= mle && shr + 1 >= gPpm)
      if (dir == "below") assert(shr >= mle && shr <= gPpm + 1)
    }
    assert(got.exists(_._6 == "above") && got.exists(_._6 == "below"))
  }

  test("pipeline_late_dim_reconcile: parked facts are exactly the late " +
    "customers' orders") {
    val lateKeys = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (k, _) => md5h32(s"latedim:$k") % 4 == 0 }
    val lateSet = lateKeys.map(_._1).toSet
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey").collect().map(_.getLong(0))
    val segOf = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val wantParked = orders.filter(lateSet.contains).groupBy(segOf)
      .map { case (seg, xs) => seg -> xs.length.toLong }
    val got = SparkEntry.queries("pipeline_late_dim_reconcile")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (seg, nFacts, nParked, ppm) =>
      assert(nParked == wantParked.getOrElse(seg, 0L),
        s"$seg parked count drift")
      assert(ppm == nParked * 1000000L / nFacts)
      assert(nParked < nFacts, "a whole segment parked: split degenerate")
    }
    assert(got.map(_._3).sum > 0, "no parked facts: late arm dead")
  }

  test("text_vocab_coverage_curve matches brute force, monotone, saturates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("text").collect().map(_.getString(0))
    val grams = docs.flatMap { t =>
      val tk = t.trim.replaceAll("\\s+", " ").toLowerCase.split(" ")
      if (tk.length < 3) Nil
      else (0 to tk.length - 3).map(i => tk.slice(i, i + 3).mkString(" "))
    }
    val freq = grams.groupBy(identity).map { case (g, xs) => (g, xs.length.toLong) }
    val ordered = freq.toSeq.sortBy { case (g, f) => (-f, g) }.map(_._2)
    val nTokens = ordered.sum
    val ks = Seq(10, 100, 1000, 5000, 20000)
    val want = ks.map(k =>
      (k.toLong, freq.size.toLong, nTokens, ordered.take(k).sum))
      .map { case (k, nt, tk, cov) =>
        (k, nt, tk, cov, cov * 1000000L / tk)
      }
    val got = SparkEntry.queries("text_vocab_coverage_curve")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == want, "coverage curve drift vs brute force")
    assert(got.map(_._4).toSeq == got.map(_._4).toSeq.sorted, "not monotone")
    assert(got.last._4 == got.last._3, "largest k must saturate")
    assert(got.head._5 > 0 && got.head._5 < 1000000, "head point degenerate")
  }

  test("win_match_pattern matches a driver sequence walk") {
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("user_id", "unix_micros(cast(ts as timestamp)) tu",
        "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        cents(r.getDouble(3))))
    val want = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val xs = ordered.map(_._4)
      val matches = (3 until xs.length).filter { i =>
        xs(i - 2) < xs(i - 3) && xs(i - 1) < xs(i - 2) && xs(i) > xs(i - 1)
      }
      val (fp, fe) = matches.headOption
        .map(i => (i + 1L, ordered(i)._3)).getOrElse((-1L, -1L))
      (u, xs.length.toLong, matches.length.toLong, fp, fe)
    }
    val got = SparkEntry.queries("win_match_pattern")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == want, "pattern match drift vs driver walk")
    assert(got.exists(_._3 > 0), "no V-shape found anywhere: arm dead")
  }

  test("agg_bitemporal_snapshot: late-excluded arm live, clocks consistent") {
    val got = SparkEntry.queries("agg_bitemporal_snapshot")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nEv = spark.read.parquet(s"$sf/events.parquet").count()
    // Partition identity: known + late_excluded + future = all events.
    assert(got.map(r => r._2 + r._4 + r._5).sum == nEv,
      "bitemporal buckets don't partition the table")
    assert(got.map(_._4).sum > 0, "late-excluded arm dead")
    assert(got.map(_._2).sum > 0 && got.map(_._5).sum > 0)
  }

  test("profile_freshness_check: exactly the broken producer is stale") {
    val got = SparkEntry.queries("profile_freshness_check")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(3), r.getBoolean(4)))
    assert(got.filter(_._3).map(_._1).toSeq == Seq("error"),
      "stale set must be exactly the stopped producer")
    assert(got.filter(!_._3).forall(_._2 < 24L))
    assert(got.find(_._1 == "error").get._2 >= 24L)
  }

  test("manifest time travel and incremental scan partition the table") {
    val tt = SparkEntry.queries("scan_manifest_time_travel")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inc = SparkEntry.queries("scan_manifest_incremental")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // v2 snapshot and the v2->v3 delta are disjoint and together are
    // exactly the v3 (full) table — the append-only snapshot algebra.
    assert((tt & inc).isEmpty, "v2 snapshot leaked v3 rows")
    assert(tt ++ inc == all, "v2 + delta != v3")
    assert(tt.nonEmpty && inc.nonEmpty)
    // Cumulative manifests: v1 c= v2 c= v3 as file lists.
    val out = graft.queries.Relational.manifestVersions(spark, sf)
    def files(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest_v$v.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
    assert(files(1).subsetOf(files(2)) && files(2).subsetOf(files(3)),
      "manifest chain not cumulative")
    assert(files(3).size > files(2).size && files(2).size > files(1).size)
  }
}
