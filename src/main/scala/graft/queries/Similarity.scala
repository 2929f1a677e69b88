package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star similarity search over the `embeddings` table
  * (BASELINE.json north_star; SURVEY.md §2.2 `sim_cosine_topk` /
  * `join_cross_topk_similarity`): brute-force cosine top-k as the
  * correctness baseline, a label-blocked KNN join, and a
  * random-hyperplane LSH bucketed ANN as the scale path. Dot products
  * are in-order double folds (`aggregate`/`zip_with`) so DuckDB's
  * in-order `list_sum` reproduces them; similarities are rounded to 6
  * places before ranking and every window tie-breaks on vec_id, so
  * top-k is fully deterministic.
  *
  * Scale shape: the query side is small and broadcast (nested-loop
  * against it is O(n·q), embarrassingly parallel over the big side);
  * the ANN variant shuffles on the LSH bucket instead, which is the
  * plan that survives when q itself is large.
  */
object Similarity {
  import QDef._

  private val Dims = 64
  private val Planes = 8
  private val QueryVecs = 10
  private val K = 5
  private val Cents = 8
  private val NProbe = 2
  private val LloydIters = 2

  /** Native codegen'd kernel; same in-order fold as the HOF chain
    * `aggregate(zip_with(...))` and DuckDB's list_sum(list_transform).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayDotExpr.dot(a, b)

  /** Vectors with their norm precomputed once — the pairwise stage then
    * does one dot per pair instead of three (the per-pair norm
    * recomputation would triple the flop count of every similarity
    * join at scale). sqrt(dot(v,v)) here and sqrt(dot) in the oracle
    * are the same IEEE operations, so parity is exact.
    *
    * Staged (memoized persist): a self-join evaluates its build plan
    * once per side, and four similarity/near-dup queries share it.
    */
  private[queries] def vecs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "emb_vecs") {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    }

  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  private val dotSql = (x: String, y: String) =>
    s"list_sum(list_transform(range($Dims), i -> CAST($x.embedding[i+1] AS DOUBLE) * CAST($y.embedding[i+1] AS DOUBLE)))"
  private val cosSql = (x: String, y: String) =>
    s"${dotSql(x, y)} / (sqrt(${dotSql(x, x)}) * sqrt(${dotSql(y, y)}))"

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * md5-derived 32-bit int mapped to [-1, 1] in steps of 1e-3 —
    * reproducible identically in SQL from the same md5 formula.
    */
  private def planeWeight(p: Int, d: Int): Double = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % 2001L - 1000L) / 1000.0
  }

  /** 8-bit LSH bucket of a double-vector column, from literal planes. */
  private[queries] def lshBucket(v: Column): Column =
    (0 until Planes).map { p =>
      val plane = typedLit((0 until Dims).map(planeWeight(p, _)))
      when(dot(v, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")

  private[queries] val lshBucketSql: String = (0 until Planes).map { p =>
    val planeDot =
      s"list_sum(list_transform(range($Dims), i -> CAST(embedding[i+1] AS DOUBLE) * ((${h32(s"'$p:' || i")}) % 2001 - 1000) / 1000.0))"
    s"(CASE WHEN $planeDot > 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  private def h32(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** The shared per-(doc, term) tf stage (tokenize → normalize →
    * explode → count), disk-staged; text_tfidf reads it too.
    */
  private[queries] def tfStage(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "tfidf_tf") {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(
          graft.functions.Text.tokens(
            graft.functions.Text.normTerm(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("cnt"))
    }

  /** The fixed lexical query panel's terms — the ≤100-doc eval set
    * (md5-free residue-7 pick, then orderBy + limit so the panel stays
    * FIXED as the corpus grows) joined back to its tf rows. Shared
    * verbatim by sim_hybrid_retrieval and the RRF lexical arm, so the
    * one disk-staged build (same tag + same plan = same artifact)
    * replaces two tfStage scans + a distinct + a join per consumer;
    * the artifact is panel-bounded (≤100 docs' terms), which is what
    * licenses the broadcast hints downstream.
    */
  private def lexQueryTerms(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "lex_qterms") {
      val lpanel = graft.pipeline.Panels.fixed(
        tfStage(s, dir)
          .filter(pmod(col("doc_id"), lit(100L)) === 7)
          .select("doc_id").distinct(), "doc_id", 100)
      tfStage(s, dir).join(broadcast(lpanel), "doc_id")
        .select(col("doc_id").as("q_id"), col("term"))
    }

  /** The lexical first-stage retrieval for the FIXED query panel:
    * BM25-micro scores summed per (panel query, doc), ranked, top-30
    * kept. Everything here is query-independent (the panel is fixed,
    * the scores are the staged bm25 partials), and BOTH hybrid
    * consumers need a prefix of this ranking — sim_hybrid_retrieval
    * keeps 20, the RRF lexical arm keeps 30 — so ONE disk-staged build
    * (panel·30 rows) replaces a posting join + per-query aggregate +
    * rank window in each consumer's run. The rank window partitions by
    * the ≤100-id panel; the posting join broadcasts the panel's terms
    * against the term-keyed score table — the same shapes the
    * consumers carried inline.
    */
  private def lexTop30(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "lex_top30") {
      broadcast(lexQueryTerms(s, dir))
        .join(bm25Micro(s, dir)
          .filter(pmod(col("doc_id"), lit(100L)) =!= 7), "term")
        .groupBy("q_id", "doc_id")
        .agg(sum("micro").as("lex_micro"))
        .withColumn("lrank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("lex_micro").desc, col("doc_id").asc)))
        .filter(col("lrank") <= 30)
    }

  /** QUERY-INDEPENDENT BM25 partial score per (doc, term), floor-
    * quantized to int64 micros — idf uses the RATIONAL variant
    * (N−df+.5)/(df+.5), ln() deliberately avoided (libm ulp drift).
    * Nothing here depends on the query side, so the whole enrichment
    * (df join, length join, avglen attach, the floor) is STAGED once
    * and every lexical retrieval (sim_hybrid_retrieval, the RRF
    * lexical arm) reduces to one term-keyed join + one (q, doc) sum of
    * int64s — order-free, shuffle count independent of how many
    * rankings consume it. Pre-staging this was recomputed per query:
    * three corpus aggregates + three joins per run (the 5.1×/4.5×
    * oracle ratios of round 11).
    */
  private def bm25Micro(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "bm25_micro") {
      val tf0 = tfStage(s, dir)
      val lens = tf0.groupBy("doc_id").agg(sum("cnt").as("len"))
      val stats = lens.agg(count(lit(1)).as("nd"), sum("len").as("toks"))
        .select(col("nd"),
          (col("toks").cast("double") / col("nd").cast("double")).as("avglen"))
      val dft = tf0.groupBy("term").agg(count(lit(1)).as("df"))
      // dft is vocabulary-sized and lens doc-count-sized — both grow
      // with the corpus, so neither gets a broadcast hint (AQE
      // broadcasts while small, shuffles on term/doc_id at 100 TB);
      // only the 1-row stats attach is hinted.
      tf0.join(dft, "term")
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"),
          floor(
            ((col("nd").cast("double") - col("df").cast("double") + 0.5) /
              (col("df").cast("double") + 0.5)) *
              ((col("cnt").cast("double") * 2.2) /
                (col("cnt").cast("double") +
                  lit(1.2) * (lit(0.25) + lit(0.75) *
                    (col("len").cast("double") / col("avglen"))))) *
              1e6).cast("long").as("micro"))
    }

  /** [[vecs]] with the LSH bucket attached — the shared candidate-
    * generation index: `sim_ann_lsh`, `join_knn_rescored`, and
    * `dedup_embedding_cosine` all join on this bucket instead of any
    * all-pairs block, so the one staged build amortizes across the
    * whole similarity/near-dup family.
    */
  private[queries] def bucketedVecs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged(s, dir, "emb_vecs_bucketed") {
      vecs(s, dir).withColumn("bucket", lshBucket(col("v")))
    }

  /** [[vecs]] plus `vq`: each element quantized to an exact int64
    * (`floor(x·1e6 + 0.5)`). Centroid means are then sums of LONGS —
    * order-independent and bit-identical in any engine — which is what
    * makes a multi-round Lloyd quantizer oracle-replayable at all:
    * summing raw doubles would make the centroids (and every
    * downstream assignment) depend on reduction order.
    */
  private def quantVecs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "ivf_quant") {
      vecs(s, dir).withColumn("vq",
        transform(col("v"), x => floor(x * lit(1e6) + lit(0.5)).cast("long")))
    }

  /** Trained IVF coarse quantizer: k-means with deterministic seeding
    * (centroids 0..Cents-1 = the quantized first vectors) and
    * [[LloydIters]] Lloyd rounds. Each round is one broadcast
    * cross-join (k rows broadcast against the corpus — the standard
    * distributed k-means step, linear per round) + one 64-column exact
    * aggregate; nothing is collected to the driver. Assignments rank
    * by cosine rounded to 6 (engine-exact `rx`) with c_id tie-break,
    * and centroid means divide an exact integer sum, so DuckDB replays
    * the identical training trajectory from the same CTE chain.
    * A centroid that loses all members drops out (consistently in
    * both engines). Staged: lists, probes, and the recall query all
    * reuse the one trained table.
    */
  private def ivfCents(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "ivf_cents") {
      val ve = quantVecs(s, dir)
      def withNorm(c: DataFrame): DataFrame =
        c.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
      def nearest(cents: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id")
          .orderBy(col("c_sim").desc, col("c_id").asc)
        ve.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("c_id"),
            rx(cosine(col("v"), col("cv"), col("nrm"), col("cnrm")), 6).as("c_sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select("vec_id", "c_id")
      }
      def recompute(assign: DataFrame): DataFrame = {
        val sums = (0 until Dims).map(d => sum(element_at(col("vq"), d + 1)).as(s"s$d"))
        withNorm(ve.join(assign, "vec_id")
          .groupBy("c_id")
          .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
          .select(col("c_id"),
            array((0 until Dims).map(d =>
              col(s"s$d").cast("double") / (lit(1e6) * col("n"))): _*).as("cv")))
      }
      var cents = withNorm(ve.filter(col("vec_id") < Cents)
        .select(col("vec_id").as("c_id"),
          transform(col("vq"), x => x.cast("double") / lit(1e6)).as("cv")))
      for (_ <- 1 to LloydIters) cents = recompute(nearest(cents))
      // Structural cap, not a selection: Lloyd can only SHRINK the
      // c_id set (each round groups by the previous round's ids), so
      // every row passes — but the GlobalLimit makes the ≤Cents bound
      // visible to plan auditors (BroadcastHintGuardSpec judges the
      // staged leaf by this build plan), replacing an allowlist claim.
      cents.limit(Cents)
    }

  /** Nearest-NProbe trained centroids per vector, STAGED: one broadcast
    * pass of the corpus against the k-row centroid table plus one
    * per-vector window, computed once per session+dir. The inverted
    * lists are the crk = 1 slice, probe sets are crk <= NProbe, and the
    * semantic-cluster query reuses the same frame — no consumer pays
    * the assignment pass twice.
    */
  private def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "ivf_assign") {
      val ve = quantVecs(s, dir)
      val cents = ivfCents(s, dir)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("c_sim").desc, col("c_id").asc)
      ve.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("nrm"), col("c_id"),
          rx(cosine(col("v"), col("cv"), col("nrm"), col("cnrm")), 6).as("c_sim"))
        .withColumn("crk", row_number().over(w))
        .filter(col("crk") <= NProbe)
    }

  /** Top-3 neighbours of each query vector among the members of its
    * NProbe nearest inverted lists (shared by `sim_ann_ivf` and
    * `sim_ann_ivf_recall`).
    */
  private def ivfTop3(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir)
    val lists = assigned.filter(col("crk") === 1)
      .select(col("c_id"), col("vec_id"), col("v"), col("nrm"))
    val probes = assigned.filter(col("vec_id") < QueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("c_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(lists, Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos"))
  }

  /** ADC shortlist width for the composed index's refine step. Sized
    * empirically: direct ADC top-3 over the probed lists recalls only
    * ~7% (32-bit codes are a shortlist signal, not a ranking signal);
    * refining the top-[[PqRefine]] ADC hits with exact cosines
    * recovers 87% of the 90% IVF probing ceiling at sf0.01 (measured
    * sweep: 32→60%, 64→77%, 96→87%; see sim_ann_ivfpq_recall).
    */
  private val PqRefine = 96

  /** The staged PQ code table (nearest codeword per vector subspace). */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "pq_codes") {
      pqNearest(pqSubs(s, dir), pqCents(s, dir))
    }

  /** IVF-probed candidates scored by PQ asymmetric distance, ADC
    * top-[[PqRefine]] shortlist refined by exact cosine, top-3 per
    * query — the composed index (see sim_ann_ivfpq); shared with its
    * recall audit.
    */
  private def ivfpqTop3(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir)
    val lists = assigned.filter(col("crk") === 1)
      .select(col("c_id"), col("vec_id"))
    val probes = assigned
      .filter(col("vec_id") < QueryVecs && col("crk") <= NProbe)
      .select(col("vec_id").as("q_id"), col("c_id"))
    val cand = probes.join(lists, Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id").distinct()
    val subs = pqSubs(s, dir)
    val cents = pqCents(s, dir)
    val codes = pqCodes(s, dir)
    val lut = subs.filter(col("vec_id") < QueryVecs)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("m"), col("c_id"),
        floor(dot(col("sv"), col("cv")) * lit(1e6) + lit(0.5)).cast("long")
          .as("qdot_q"),
        floor(dot(col("cv"), col("cv")) * lit(1e6) + lit(0.5)).cast("long")
          .as("cn2_q"))
    val qn = vecs(s, dir).filter(col("vec_id") < QueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val wAdc = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "m", "c_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("qdot_q")).as("sq"), sum(col("cn2_q")).as("sn"))
      .join(broadcast(qn.select(col("q_id"), col("qnrm"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        rx((col("sq").cast("double") / lit(1e6)) /
          (col("qnrm") * sqrt(col("sn").cast("double") / lit(1e6))), 6)
          .as("adc"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= PqRefine)
      .select("q_id", "vec_id")
    // Refine: exact cosines for the shortlist only (PqRefine dots per
    // query — the bounded step that buys back ADC's ranking loss).
    val wCos = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    short
      .join(vecs(s, dir).select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(qn), "q_id")
      .select(col("q_id"), col("vec_id"),
        rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
          .as("score"))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
  }

  /** Oracle-side CTE suffix for [[ivfpqTop3]] (appended after the IVF
    * and PQ chains): `lut`/`qn`/`adcq`/`scoredq`/`prkq`, exposing
    * `prkq` = (q_id, vec_id, score, rank).
    */
  private def ivfpqSqlCtes: String =
    s"""lut AS (
          SELECT s.vec_id AS q_id, s.m, c.c_id,
            CAST(floor(list_sum(list_transform(range($SubDims), i -> s.sv[i+1] * c.cv[i+1])) * 1e6 + 0.5) AS BIGINT) AS qdot_q,
            CAST(floor(list_sum(list_transform(range($SubDims), i -> c.cv[i+1] * c.cv[i+1])) * 1e6 + 0.5) AS BIGINT) AS cn2_q
          FROM psubs s CROSS JOIN pc$PqIters c WHERE s.vec_id < $QueryVecs),
        qn AS (
          SELECT vec_id AS q_id,
            sqrt(list_sum(list_transform(range($Dims),
              i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS qnrm
          FROM embeddings WHERE vec_id < $QueryVecs),
        adcq AS (
          SELECT cand.q_id, cand.vec_id, sum(l.qdot_q) AS sq, sum(l.cn2_q) AS sn
          FROM cand JOIN codes cd ON cd.vec_id = cand.vec_id
          JOIN lut l ON l.q_id = cand.q_id AND l.m = cd.m AND l.c_id = cd.c_id
          GROUP BY 1, 2),
        scoredq AS (
          SELECT a.q_id, a.vec_id,
            ${rxSql("(CAST(sq AS DOUBLE) / 1e6) / (qnrm * sqrt(CAST(sn AS DOUBLE) / 1e6))", 6)} AS adc
          FROM adcq a JOIN qn ON a.q_id = qn.q_id),
        ashort AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adc DESC, vec_id) AS arank
            FROM scoredq) WHERE arank <= $PqRefine),
        refined AS (
          SELECT sh.q_id, sh.vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS score
          FROM ashort sh JOIN embeddings q ON q.vec_id = sh.q_id
          JOIN embeddings e ON e.vec_id = sh.vec_id),
        prkq AS (
          SELECT q_id, vec_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, vec_id) AS rank
          FROM refined)"""

  /** Oracle replay of the Lloyd trajectory + assignment as one CTE
    * chain: `vn` (vectors + exact int64 quantization + norm), `cn0`
    * (seeded centroids), then per round t: `a{t}` (nearest centroid,
    * rx-rounded cosine, c_id tie-break) and `cn{t}` (exact integer
    * mean). Exposes `crk` = (vec_id, c_id, crk) — the full centroid
    * ranking every IVF consumer (probe sets, inverted lists, the RRF
    * dense arm) slices its own way.
    */
  private def ivfAssignSqlCtes: String = {
    def cosLC(n: String, c: String) =
      s"list_sum(list_transform(range($Dims), i -> $n.v[i+1] * $c.cv[i+1])) / ($n.nrm * $c.cnrm)"
    def cnorm(src: String) =
      s"""SELECT c_id, cv,
             sqrt(list_sum(list_transform(range($Dims), i -> cv[i+1] * cv[i+1]))) AS cnrm
          FROM $src"""
    val rounds = (1 to LloydIters).map { t =>
      s"""a$t AS (
          SELECT vec_id, c_id FROM (
            SELECT n.vec_id, c.c_id,
                   row_number() OVER (PARTITION BY n.vec_id
                                      ORDER BY ${rxSql(cosLC("n", "c"), 6)} DESC, c.c_id) AS rk
            FROM vn n CROSS JOIN cn${t - 1} c) WHERE rk = 1),
        cent$t AS (
          SELECT c_id, list(cd ORDER BY d) AS cv FROM (
            SELECT a.c_id, ds.d,
                   CAST(sum(n.vq[ds.d + 1]) AS DOUBLE) / (1e6 * count(*)) AS cd
            FROM a$t a JOIN vn n USING (vec_id),
                 (SELECT unnest(range($Dims)) AS d) ds
            GROUP BY a.c_id, ds.d)
          GROUP BY c_id),
        cn$t AS (${cnorm(s"cent$t")})"""
    }.mkString(",\n        ")
    s"""ve AS (
          SELECT vec_id,
                 list_transform(range($Dims), i -> CAST(embedding[i+1] AS DOUBLE)) AS v,
                 list_transform(range($Dims),
                   i -> CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS vq
          FROM embeddings),
        vn AS (
          SELECT vec_id, v, vq,
                 sqrt(list_sum(list_transform(range($Dims), i -> v[i+1] * v[i+1]))) AS nrm
          FROM ve),
        cent0 AS (
          SELECT vec_id AS c_id,
                 list_transform(vq, x -> CAST(x AS DOUBLE) / 1e6) AS cv
          FROM ve WHERE vec_id < $Cents),
        cn0 AS (${cnorm("cent0")}),
        $rounds,
        ca AS (
          SELECT n.vec_id, c.c_id,
                 ${rxSql(cosLC("n", "c"), 6)} AS c_sim
          FROM vn n CROSS JOIN cn$LloydIters c),
        crk AS (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY c_sim DESC, c_id) AS crk
          FROM ca)"""
  }

  /** [[ivfAssignSqlCtes]] plus the QueryVecs probe: exposes `lists`,
    * `probes`, `cand`, `scored`, and `rk` = (q_id, vec_id, cos, rank).
    */
  private def ivfTopSqlCtes: String = {
    s"""$ivfAssignSqlCtes,
        lists AS (SELECT c_id, vec_id FROM crk WHERE crk = 1),
        probes AS (SELECT vec_id AS q_id, c_id FROM crk
                   WHERE crk <= $NProbe AND vec_id < $QueryVecs),
        cand AS (
          SELECT DISTINCT p.q_id, l.vec_id
          FROM probes p JOIN lists l ON p.c_id = l.c_id
          WHERE p.q_id <> l.vec_id),
        scored AS (
          SELECT cand.q_id, cand.vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM cand
          JOIN embeddings q ON q.vec_id = cand.q_id
          JOIN embeddings e ON e.vec_id = cand.vec_id),
        rk AS (SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, vec_id) AS rank
               FROM scored)"""
  }

  private val SubDims = 16
  private val MSub = 4
  private val PqIters = 2
  private val MatryCand = 20
  // NSW router knobs, shared by the Spark walk and the oracle replay.
  // Tuned against sim_recall_graph_route: degree 3 / beam 4 / 3 hops
  // scored 33% recall@3; these settings score well above it.
  private val NswDeg = 4
  private val NswBeam = 12
  private val NswHops = 5
  // NN-descent index build: seed edges per node (deterministic
  // md5-derived "random" links) and refinement rounds. Tuned against
  // sim_recall_graph_route — the audit, not intuition, owns these.
  // BOTH the Spark build and the DuckDB oracle replay derive from these
  // constants, which keeps the two engines in lockstep.
  // Swept 2026-08: (seeds, rounds) ∈ {6,8,12}×{2,3,4} → (12, 3) routes
  // best (mean recall@3 0.867 at sf0.001, 0.533 at sf0.01 — ABOVE the
  // round-7 exact-KNN build's 0.70-0.80): more rounds of pure-KNN
  // convergence HURT navigability (tight clusters strand the beam), so
  // the diverse random seeds carry their weight and 4 rounds scored
  // worse than 3.
  private val NswSeeds = 12
  private val NswBuildRounds = 3
  // HNSW upper layers (Malkov & Yashunin): node v lives on layer l iff
  // md5("nswl:"+v) % NswLayerMods(l-1) == 0 — the deterministic stand-in
  // for HNSW's exponential level sampling, with 1/8 decay per layer so
  // membership NESTS (64 = 8², so the L2 test implies the L1 test).
  // Each layer gets its own NN-descent graph over members only; routing
  // greedy-descends L2 (beam 1) then L1 (beam 2), and the result seeds
  // the layer-0 beam — replacing the round-10 entry point's 1-in-4
  // id-hash SCAN (n/4 exact dots per query, the last linear-in-corpus
  // stage this operator had). Per-query routing cost is now
  // O(hops·beam·deg) at every level; hop counts should grow with
  // log(n) on a bigger corpus.
  private val NswLayerMods: Seq[Long] = Seq(8L, 64L)
  private val NswLayerSeeds = 4
  private val NswLayerRounds = 2
  private val NswDescentHops = 3
  // Descent width: E rank-spread entry members at the top layer (a
  // single entry strands queries whose true neighborhood sits across
  // the crude deg-4 member graph from it — the single-entry sweep
  // scored 43%), beam kept per hop at the top layer and at the lower
  // upper-layers. All O(beam·deg) per query per hop —
  // corpus-independent. Swept 2026-08 against sim_recall_graph_route
  // (the audit owns these): entries 4 / keepT 2 / keep 12 / descent
  // hops 3 with L0 beam 12 scores mean recall@3 0.800 at sf0.001 and
  // 0.833 at sf0.01 — ABOVE the round-10 scan-entry router's 0.533 at
  // sf0.01 while removing its n/4-dots-per-query entry stage. keep is
  // the strongest lever (it widths the L0 seed set); descent hops
  // BEYOND 3 lowered recall (greedy convergence herds the beam into
  // one cluster).
  private val NswEntryPoints = 4
  private val NswDescentKeepTop = 2
  private val NswDescentKeep = 12

  /** Per-(vector, subspace) training points for the PQ codebook: the
    * 64-dim vector split into [[MSub]] contiguous 16-dim subvectors,
    * each with its exact int64 quantization (same 1e6 grid as IVF — the
    * property that makes the Lloyd trajectory oracle-replayable).
    */
  private def pqSubs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "pq_subs") {
      vecs(s, dir).select(col("vec_id"),
          posexplode(array((0 until MSub).map(m =>
            slice(col("v"), m * SubDims + 1, SubDims)): _*)).as(Seq("m", "sv")))
        .withColumn("svq",
          transform(col("sv"), x => floor(x * lit(1e6) + lit(0.5)).cast("long")))
    }

  /** Nearest codebook entry per (vector, subspace) under squared L2 —
    * the PQ assignment step. d2 = (sv·sv − 2·sv·cv) + cv·cv with the
    * identical association in the oracle, rx-rounded, c_id tie-break.
    */
  private def pqNearest(subs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2").asc, col("c_id").asc)
    subs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("m"), col("c_id"),
        rx(dot(col("sv"), col("sv")) - lit(2) * dot(col("sv"), col("cv")) +
          dot(col("cv"), col("cv")), 6).as("d2"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id", "m", "c_id")
  }

  /** Shared-codebook PQ quantizer: 8 centroids over ALL subvectors
    * (seeded from the first two vectors' subspaces, c_id = vec_id·4+m),
    * [[PqIters]] Lloyd rounds with exact-integer means — the same
    * deterministic-training contract as [[ivfCents]], on 16-dim
    * subspace points keyed by (vec_id, m).
    */
  private def pqCents(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "pq_cents") {
      val subs = pqSubs(s, dir)
      def recompute(assign: DataFrame): DataFrame = {
        val sums = (0 until SubDims).map(d =>
          sum(element_at(col("svq"), d + 1)).as(s"s$d"))
        subs.join(assign, Seq("vec_id", "m"))
          .groupBy("c_id")
          .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
          .select(col("c_id"),
            array((0 until SubDims).map(d =>
              col(s"s$d").cast("double") / (lit(1e6) * col("n"))): _*).as("cv"))
      }
      var cents = subs.filter(col("vec_id") < 2)
        .select((col("vec_id") * MSub + col("m")).as("c_id"),
          transform(col("svq"), x => x.cast("double") / lit(1e6)).as("cv"))
      for (_ <- 1 to PqIters) cents = recompute(pqNearest(subs, cents))
      // Structural cap (see ivfCents): the 2·MSub seed ids can only
      // shrink through Lloyd rounds, so the limit passes every row and
      // makes the grid bound auditable from the recorded build plan.
      cents.limit(2 * MSub)
    }

  /** Oracle replay of the PQ codebook training + encode as CTEs:
    * `psubs` (subvectors + quantization), `pc0` (seeds), per round t
    * `pa{t}`/`pc{t}`, and `codes` (final assignment). Exposed names:
    * psubs, pc[[PqIters]], codes.
    */
  private def pqSqlCtes: String = {
    def d2(sRef: String, cRef: String) = {
      def ls(x: String, y: String) =
        s"list_sum(list_transform(range($SubDims), i -> $x[i+1] * $y[i+1]))"
      s"${ls(s"$sRef.sv", s"$sRef.sv")} - 2 * ${ls(s"$sRef.sv", s"$cRef.cv")} + ${ls(s"$cRef.cv", s"$cRef.cv")}"
    }
    def assignSql(prev: String) =
      s"""SELECT vec_id, m, c_id FROM (
            SELECT s.vec_id, s.m, c.c_id,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY ${rxSql(d2("s", "c"), 6)} ASC, c.c_id) AS rk
            FROM psubs s CROSS JOIN $prev c) WHERE rk = 1"""
    val rounds = (1 to PqIters).map { t =>
      s"""pa$t AS (${assignSql(s"pc${t - 1}")}),
        pc$t AS (
          SELECT c_id, list(cd ORDER BY d) AS cv FROM (
            SELECT a.c_id, ds.d,
                   CAST(sum(s.svq[ds.d + 1]) AS DOUBLE) / (1e6 * count(*)) AS cd
            FROM pa$t a JOIN psubs s USING (vec_id, m),
                 (SELECT unnest(range($SubDims)) AS d) ds
            GROUP BY a.c_id, ds.d)
          GROUP BY c_id)"""
    }.mkString(",\n        ")
    s"""psubs AS (
          SELECT vec_id, ms.m AS m,
            list_transform(range($SubDims),
              i -> CAST(embedding[ms.m * $SubDims + i + 1] AS DOUBLE)) AS sv,
            list_transform(range($SubDims),
              i -> CAST(floor(CAST(embedding[ms.m * $SubDims + i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS svq
          FROM embeddings, (SELECT unnest(range($MSub)) AS m) ms),
        pc0 AS (
          SELECT vec_id * $MSub + m AS c_id,
                 list_transform(svq, x -> CAST(x AS DOUBLE) / 1e6) AS cv
          FROM psubs WHERE vec_id < 2),
        $rounds,
        codes AS (${assignSql(s"pc$PqIters")})"""
  }

  val all: Seq[QDef] = Seq(

    QDef("sim_ann_pq",
      // Product quantization ANN — the third ANN family next to LSH
      // buckets and IVF lists, and the one that changes the MEMORY
      // story at 100 TB: each vector is encoded as MSub codebook ids
      // (4 bytes here vs 256 for the raw floats), and queries score
      // against CODES ONLY via asymmetric distance computation — a
      // per-query lookup table (query-subvector x codebook dots,
      // 10 x 8 x 4 rows, broadcast) joined to the code table, summed,
      // normalized by the code-approximated vector norm. The original
      // vectors are never touched after encoding. Lookup values are
      // floor-quantized to int64 before the per-(q, x) sum, so the
      // 4-term aggregation is exact and fold-order-free (a raw double
      // sum would hash-mismatch under shuffle). Codebook training is
      // the same deterministic exact-integer Lloyd contract as IVF,
      // on 16-dim subspace points; the oracle replays training,
      // encoding, and ADC from the identical CTE chain.
      (s, dir) => {
        val subs = pqSubs(s, dir)
        val cents = pqCents(s, dir)
        val codes = pqCodes(s, dir)
        val lut = subs.filter(col("vec_id") < QueryVecs)
          .crossJoin(broadcast(cents))
          .select(col("vec_id").as("q_id"), col("m"), col("c_id"),
            floor(dot(col("sv"), col("cv")) * lit(1e6) + lit(0.5)).cast("long")
              .as("qdot_q"),
            floor(dot(col("cv"), col("cv")) * lit(1e6) + lit(0.5)).cast("long")
              .as("cn2_q"))
        val qn = vecs(s, dir).filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("vec_id").asc)
        codes.join(broadcast(lut), Seq("m", "c_id"))
          .groupBy("q_id", "vec_id")
          .agg(sum(col("qdot_q")).as("sq"), sum(col("cn2_q")).as("sn"))
          .filter(col("q_id") =!= col("vec_id"))
          .join(broadcast(qn), "q_id")
          .select(col("q_id"), col("vec_id"),
            rx((col("sq").cast("double") / lit(1e6)) /
              (col("qnrm") * sqrt(col("sn").cast("double") / lit(1e6))), 6)
              .as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("score"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $pqSqlCtes,
        lut AS (
          SELECT s.vec_id AS q_id, s.m, c.c_id,
            CAST(floor(list_sum(list_transform(range($SubDims), i -> s.sv[i+1] * c.cv[i+1])) * 1e6 + 0.5) AS BIGINT) AS qdot_q,
            CAST(floor(list_sum(list_transform(range($SubDims), i -> c.cv[i+1] * c.cv[i+1])) * 1e6 + 0.5) AS BIGINT) AS cn2_q
          FROM psubs s CROSS JOIN pc$PqIters c WHERE s.vec_id < $QueryVecs),
        qn AS (
          SELECT vec_id AS q_id,
            sqrt(list_sum(list_transform(range($Dims),
              i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS qnrm
          FROM embeddings WHERE vec_id < $QueryVecs),
        adc AS (
          SELECT l.q_id, cd.vec_id, sum(l.qdot_q) AS sq, sum(l.cn2_q) AS sn
          FROM codes cd JOIN lut l ON cd.m = l.m AND cd.c_id = l.c_id
          GROUP BY l.q_id, cd.vec_id),
        scored AS (
          SELECT a.q_id, a.vec_id,
            ${rxSql("(CAST(sq AS DOUBLE) / 1e6) / (qnrm * sqrt(CAST(sn AS DOUBLE) / 1e6))", 6)} AS score
          FROM adc a JOIN qn ON a.q_id = qn.q_id
          WHERE a.q_id <> a.vec_id),
        prk AS (
          SELECT q_id, vec_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, vec_id) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id, score FROM prk WHERE rank <= 3
        ORDER BY q_id, rank""")),


    QDef("sim_cosine_topk",
      // Brute-force baseline: the first QueryVecs vectors as the query
      // set, broadcast nested-loop against the full table, window
      // top-k. The big side streams; only q·k rows survive the window.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        rk AS (SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM pairs)
        SELECT q_id, rank, vec_id, cos FROM rk WHERE rank <= $K
        ORDER BY q_id, rank""")),

    QDef("sim_query_expansion",
      // Pseudo-relevance feedback (Rocchio) — the retrieval-quality
      // move layered on any of the ANN indexes here: round 1 retrieves
      // each query's exact top-3, the expanded query
      // q' = q + 0.75·centroid(top-3) pulls the query toward its
      // neighborhood, round 2 re-retrieves with q' and reports the new
      // ranking with feedback-doc membership flagged — the classic
      // recall-boosting rerank for vocabulary/embedding mismatch.
      // Exactness: both retrieval rounds rx-round cosines before
      // ranking with vec_id tiebreaks; q' is built with a FIXED fold
      // order ((v₁+v₂)+v₃, then one scale-add against q — the same
      // IEEE tree spelled identically in the oracle), and the round-2
      // norms fold in-order, so every score is bit-identical
      // cross-engine. Scale: two broadcast nested-loop passes over the
      // corpus (the query side stays q·k rows); swapping the scan for
      // the LSH/IVF candidates makes it the production plan unchanged.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        // r1 is re-referenced FOUR times below (three feedback-vector
        // joins + the membership flag) but needs NO materialization:
        // all four references prune to the same (q_id, vec_id, cos)
        // subtree, so exchange reuse serves the round-1 window shuffle
        // once (measured: an eager checkpoint here only ADDED its own
        // collect cost, 0.97→1.17 s).
        val r1 = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
        // ONE probe join for all three feedback vectors (the previous
        // per-rank joins scanned the embedding table three times):
        // collect each query's top-3 vectors sorted by rank, then fold
        // ((f1+f2)+f3) with the rank-1 vector as the seed — the
        // IDENTICAL IEEE tree the per-rank zip_with chain evaluated
        // (no zero-array seed, so no 0.0 + -0.0 sign surprises). The
        // size-3 filter reproduces the inner-join semantics exactly.
        val fbv = r1
          .join(e.select(col("vec_id"), col("v").as("fv")), "vec_id")
          .groupBy("q_id")
          .agg(sort_array(collect_list(struct(col("rank"), col("fv"))))
            .as("fs"))
          .filter(size(col("fs")) === 3)
          .select(col("q_id"), transform(col("fs"),
            x => x.getField("fv")).as("vs"))
          .select(col("q_id"),
            aggregate(slice(col("vs"), 2, 2), element_at(col("vs"), 1),
              (a, x) => zip_with(a, x, (p, qv) => p + qv)).as("s3"))
        val qe = q.join(fbv, "q_id")
          .select(col("q_id"),
            zip_with(col("s3"), col("qv"),
              (s3, qq) => qq + lit(0.75) * (s3 / lit(3.0))).as("qv2"))
          .withColumn("qnrm2", sqrt(aggregate(
            transform(col("qv2"), x => x * x), lit(0d), (a, x) => a + x)))
        val fbSet = r1.select(col("q_id"), col("vec_id"))
        broadcast(qe).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv2"), col("v"), col("qnrm2"), col("nrm")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .join(fbSet.withColumn("was_feedback", lit(true)),
            Seq("q_id", "vec_id"), "left")
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cos"),
            coalesce(col("was_feedback"), lit(false)).as("was_feedback"))
          .orderBy("q_id", "rank")
      }, {
        val fold = (l: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (a, x) -> a + x)"
        val qv2 = s"""list_transform(range($Dims), i ->
            CAST(q.embedding[i+1] AS DOUBLE) + 0.75 *
            (((CAST(f1.embedding[i+1] AS DOUBLE) + CAST(f2.embedding[i+1] AS DOUBLE))
              + CAST(f3.embedding[i+1] AS DOUBLE)) / 3.0))"""
        val cos2 = s"""${fold(s"list_transform(range($Dims), i -> qe.qv2[i+1] * CAST(e.embedding[i+1] AS DOUBLE))")} /
            (sqrt(${fold(s"list_transform(range($Dims), i -> qe.qv2[i+1] * qe.qv2[i+1])")}) *
             sqrt(${fold(s"list_transform(range($Dims), i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(e.embedding[i+1] AS DOUBLE))")}))"""
        Some(s"""WITH pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        r1 AS (SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM pairs QUALIFY rank <= 3),
        qe AS (
          SELECT q.vec_id AS q_id, $qv2 AS qv2
          FROM embeddings q
          JOIN r1 t1 ON t1.q_id = q.vec_id AND t1.rank = 1
          JOIN embeddings f1 ON f1.vec_id = t1.vec_id
          JOIN r1 t2 ON t2.q_id = q.vec_id AND t2.rank = 2
          JOIN embeddings f2 ON f2.vec_id = t2.vec_id
          JOIN r1 t3 ON t3.q_id = q.vec_id AND t3.rank = 3
          JOIN embeddings f3 ON f3.vec_id = t3.vec_id
          WHERE q.vec_id < $QueryVecs),
        p2 AS (
          SELECT qe.q_id, e.vec_id, ${rxSql(cos2, 6)} AS cos
          FROM qe JOIN embeddings e ON qe.q_id <> e.vec_id),
        r2 AS (SELECT q_id, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM p2 QUALIFY rank <= 5)
        SELECT r2.q_id, CAST(r2.rank AS BIGINT) AS rank, r2.vec_id, r2.cos,
               (f.vec_id IS NOT NULL) AS was_feedback
        FROM r2 LEFT JOIN r1 f ON f.q_id = r2.q_id AND f.vec_id = r2.vec_id
        ORDER BY r2.q_id, rank""")
      }),

    QDef("join_knn_classify",
      // Weak labeling by kNN majority vote — the semi-supervised
      // annotation pass a labeling pipeline runs to extend a small
      // labeled set: probe vectors (treated as unlabeled) take the
      // majority label of their cosine top-K labeled neighbours, ties
      // broken toward the smallest label id. The probe set is the
      // bounded broadcast side (1-in-100 ids); the labeled base
      // STREAMS — O(q·n), embarrassingly parallel over the big side,
      // and at real scale the brute-force scoring swaps for the LSH
      // bucket index (join_knn_rescored) with this vote stage
      // unchanged. Cosines go through rx(6) before ranking (engine-
      // exact), votes and both rank windows are integer-deterministic.
      (s, dir) => {
        val e = vecs(s, dir)
        // Fixed eval panel (Panels.fixed): the 100 lowest-id sampled
        // vectors — the cap the guards certify structurally; a bare
        // 1-in-100 sample grew with the corpus (the canary-panel lesson).
        val probes = graft.pipeline.Panels.fixed(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qnrm"), col("label").as("true_label")),
          "q_id", 100)
        val base = e.filter(col("vec_id") % 100 =!= 0)
        val wTop = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val wVote = Window.partitionBy("q_id")
          .orderBy(col("votes").desc, col("label").asc)
        broadcast(probes).join(base, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= K)
          .groupBy("q_id", "true_label", "label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("r", row_number().over(wVote))
          .filter(col("r") === 1)
          .select(col("q_id").as("vec_id"),
            col("label").cast("long").as("pred_label"),
            col("votes"),
            col("true_label").cast("long").as("true_label"),
            (col("label") === col("true_label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""WITH pr AS (
          SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 100),
        pairs AS (
          SELECT q.vec_id AS q_id, q.label AS true_label,
                 e.vec_id AS vec_id, e.label AS label,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM pr q JOIN embeddings e
            ON e.vec_id % 100 <> 0),
        rk AS (SELECT q_id, true_label, vec_id, label, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM pairs),
        votes AS (SELECT q_id, true_label, label, count(*) AS votes
                  FROM rk WHERE rank <= $K GROUP BY q_id, true_label, label),
        win AS (SELECT q_id, true_label, label, votes,
                       row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS r
                FROM votes)
        SELECT q_id AS vec_id, CAST(label AS BIGINT) AS pred_label, votes,
               CAST(true_label AS BIGINT) AS true_label,
               (label = true_label) AS correct
        FROM win WHERE r = 1 ORDER BY vec_id""")),

    QDef("sim_eval_at_k",
      // Retrieval-quality report — the eval harness behind every
      // embedding-model or index change: for the probe set (1-in-100
      // ids, labels as relevance judgments), score precision@K, MRR,
      // and hit-rate@K of the exact cosine retriever, macro-averaged
      // per label class. This is the metric layer the ANN audits
      // (sim_ann_ivf_recall, sim_recall_graph_route) plug into —
      // recall measures index fidelity to brute force, THIS measures
      // end-task relevance of what was retrieved. All metric
      // arithmetic is exact integer ppm/micros (per-probe p@K =
      // 10⁶·hits div K, reciprocal rank = 10⁶ div first_rank, macro
      // averages integer-divided by probe count) — no FP drift on the
      // gate. Scale shape: probes broadcast, base streams once,
      // per-probe top-K is a bounded window; the labeled-probe
      // aggregate is label-cardinality-sized.
      (s, dir) => {
        val e = vecs(s, dir)
        // Fixed eval panel (Panels.fixed): the 100 lowest-id sampled
        // vectors — the cap the guards certify structurally; a bare
        // 1-in-100 sample grew with the corpus (the canary-panel lesson).
        val probes = graft.pipeline.Panels.fixed(
          e.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qnrm"), col("label").as("true_label")),
          "q_id", 100)
        val base = e.filter(col("vec_id") % 100 =!= 0)
        val wTop = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val perq = broadcast(probes).join(base, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= K)
          .groupBy("q_id", "true_label")
          .agg(sum(when(col("label") === col("true_label"), 1L)
              .otherwise(0L)).as("hits"),
            min(when(col("label") === col("true_label"), col("rank")))
              .as("first_rank"))
        perq.groupBy(col("true_label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_probes"),
            sum(expr(s"(1000000 * hits) div $K")).as("sp"),
            sum(coalesce(expr("1000000 div first_rank"), lit(0L))).as("sr"),
            sum(when(col("first_rank").isNotNull, 1L).otherwise(0L)).as("nh"))
          .select(col("label"), col("n_probes"),
            expr("sp div n_probes").as("macro_p_at_k_ppm"),
            expr("sr div n_probes").as("macro_mrr_micro"),
            expr("(1000000 * nh) div n_probes").as("hit_rate_ppm"))
          .orderBy("label")
      },
      Some(s"""WITH pr AS (
          SELECT vec_id, label, embedding FROM embeddings
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 100),
        pairs AS (
          SELECT q.vec_id AS q_id, q.label AS true_label,
                 e.vec_id AS vec_id, e.label AS label,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM pr q JOIN embeddings e
            ON e.vec_id % 100 <> 0),
        rk AS (SELECT q_id, true_label, label,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY cos DESC, vec_id) AS rank
               FROM pairs),
        perq AS (SELECT q_id, true_label,
                        sum(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS hits,
                        min(CASE WHEN label = true_label THEN rank END) AS first_rank
                 FROM rk WHERE rank <= $K GROUP BY 1, 2)
        SELECT CAST(true_label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n_probes,
               CAST(sum((1000000 * hits) // $K) // count(*) AS BIGINT)
                 AS macro_p_at_k_ppm,
               CAST(sum(coalesce(1000000 // first_rank, 0)) // count(*) AS BIGINT)
                 AS macro_mrr_micro,
               CAST((1000000 * sum(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END))
                    // count(*) AS BIGINT) AS hit_rate_ppm
        FROM perq GROUP BY true_label ORDER BY label""")),

    QDef("sim_int8_quantized",
      // INT8-quantized similarity serving: per-vector symmetric
      // quantization q_i = floor(x_i · (127/max|x_i|) + 0.5), then ALL
      // scoring in exact int64 — 4 bytes -> 1 byte per dimension, the
      // memory-side lever that decides whether an index fits in RAM at
      // 100 TB (the float path is sim_cosine_topk; the code-side lever
      // is sim_ann_pq). The only FP steps — max, one divide, one
      // multiply — are single correctly-rounded IEEE ops identical in
      // any engine, and the integer dot folds are order-free, so the
      // whole ranking is bit-deterministic with no rounding guard.
      (s, dir) => {
        val qz = graft.pipeline.Staged.disk(s, dir, "emb_int8") {
          vecs(s, dir).select(col("vec_id"), col("v"))
            .withColumn("mx", aggregate(col("v"), lit(0d),
              (acc, x) => greatest(acc, abs(x))))
            .select(col("vec_id"),
              transform(col("v"), x =>
                when(col("mx") === 0d, lit(0L)).otherwise(
                  floor(x * (lit(127d) / col("mx")) + lit(0.5)).cast("long")))
                .as("q"))
        }
        val q = qz.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("q").as("qa"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("qdot").desc, col("vec_id").asc)
        broadcast(q).join(qz, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            aggregate(zip_with(col("qa"), col("q"), (x, y) => x * y),
              lit(0L), (acc, x) => acc + x).as("qdot"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("qdot"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH qz AS (
          SELECT vec_id,
            list_transform(embedding, x ->
              CASE WHEN mx = 0 THEN 0
                   ELSE CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) AS BIGINT)
              END) AS q
          FROM (SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
                FROM embeddings)),
        pairs AS (
          SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
            CAST(list_sum(list_transform(range($Dims),
              i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS qdot
          FROM qz a JOIN qz b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < $QueryVecs),
        rk AS (SELECT q_id, vec_id, qdot,
                      row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, vec_id) AS rank
               FROM pairs)
        SELECT q_id, rank, vec_id, qdot FROM rk WHERE rank <= $K
        ORDER BY q_id, rank""")),

    QDef("sim_ann_binary",
      // Binary (1-bit sign) quantization + Hamming funnel — the third
      // memory-side lever after int8 (8 bits/dim) and PQ (codebook):
      // 64 dims pack into 64 SIGN BITS (two 32-bit words, same layout
      // discipline as the phash family — no shift ever touches a sign
      // bit), 32× smaller than float32, and stage 1 scans the corpus
      // with ONE xor+popcount per vector against the broadcast query
      // signatures — the cheapest whole-corpus pass any index offers
      // at 100 TB. Top-20 Hamming candidates per query then get the
      // EXACT full-precision cosine (candidates-only, corpus-size-
      // independent), top-5 kept. All candidate ranking is integer
      // (Hamming + vec_id tiebreaks); the exact stage is the shared
      // rx-rounded cosine kernel. The signature build is staged: both
      // the query side and the corpus side of the stage-1 join read it.
      (s, dir) => {
        val C = 20
        val sigs = graft.pipeline.Staged.disk(s, dir, "emb_bin_sigs") {
          vecs(s, dir).select(col("vec_id"),
            (0 until 32).map(i =>
              when(element_at(col("v"), i + 1) > 0d, lit(1L << i))
                .otherwise(lit(0L))).reduce(_ + _).as("sig_lo"),
            (32 until 64).map(i =>
              when(element_at(col("v"), i + 1) > 0d, lit(1L << (i - 32)))
                .otherwise(lit(0L))).reduce(_ + _).as("sig_hi"))
        }
        val q = sigs.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"),
            col("sig_lo").as("qlo"), col("sig_hi").as("qhi"))
        val wH = Window.partitionBy("q_id")
          .orderBy(col("hamming").asc, col("vec_id").asc)
        val cand = broadcast(q).join(sigs, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            (expr("bit_count(qlo ^ sig_lo)") +
              expr("bit_count(qhi ^ sig_hi)")).cast("long").as("hamming"))
          .withColumn("crank", row_number().over(wH))
          .filter(col("crank") <= C)
          .drop("crank")
        val v = vecs(s, dir)
        val qv = v.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"))
        val wC = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        cand.join(broadcast(qv), "q_id")
          .join(v.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
          .withColumn("cos",
            rx(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6))
          .withColumn("rank", row_number().over(wC))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("hamming"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH sigs AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(range(32), i ->
              CASE WHEN CAST(embedding[i+1] AS DOUBLE) > 0
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig_lo,
            CAST(list_sum(list_transform(range(32), i ->
              CASE WHEN CAST(embedding[i+33] AS DOUBLE) > 0
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig_hi
          FROM embeddings),
        cand AS (
          SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
                 CAST(bit_count(xor(a.sig_lo, b.sig_lo)) +
                      bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS hamming
          FROM sigs a JOIN sigs b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < $QueryVecs),
        topc AS (
          SELECT q_id, vec_id, hamming,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY hamming, vec_id) AS crank
          FROM cand),
        resc AS (
          SELECT t.q_id, t.vec_id, t.hamming,
                 ${rxSql(cosSql("qa", "qb"), 6)} AS cos
          FROM topc t
          JOIN embeddings qa ON qa.vec_id = t.q_id
          JOIN embeddings qb ON qb.vec_id = t.vec_id
          WHERE t.crank <= 20)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, hamming, cos
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC, vec_id) AS rank
              FROM resc)
        WHERE rank <= $K ORDER BY q_id, rank""")),

    QDef("sim_matryoshka",
      // Matryoshka (prefix-dimension) retrieval funnel: stage 1 ranks
      // the corpus by cosine over only the FIRST 16 of 64 dims — 1/4
      // of the flops and (served from an int8/fp16 store) 1/4 of the
      // bytes — and keeps MatryCand candidates per query; stage 2
      // rescOres just those with the exact full-dim cosine. The funnel
      // is the standard MRL serving shape: at 100 TB the coarse pass is
      // the only corpus-wide scan (embarrassingly parallel against the
      // broadcast query set, same shape as sim_cosine_topk), and the
      // exact pass touches q·MatryCand rows regardless of corpus size.
      // Both cosines are rx-rounded with vec_id tie-breaks, so each
      // stage's cut is deterministic in both engines.
      (s, dir) => {
        val ve = vecs(s, dir)
          .withColumn("p", slice(col("v"), 1, SubDims))
          .withColumn("pnrm", sqrt(dot(col("p"), col("p"))))
        val probes = ve.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("p").as("qp"),
            col("pnrm").as("qpnrm"), col("v").as("qv"), col("nrm").as("qnrm"))
        val wP = Window.partitionBy("q_id")
          .orderBy(col("pcos").desc, col("vec_id").asc)
        val wF = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(probes).join(ve, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
            col("qv"), col("qnrm"),
            rx(cosine(col("qp"), col("p"), col("qpnrm"), col("pnrm")), 6)
              .as("pcos"))
          .withColumn("prk", row_number().over(wP))
          .filter(col("prk") <= MatryCand)
          .select(col("q_id"), col("vec_id"), col("pcos"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(wF))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("pcos"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ve AS (
          SELECT vec_id,
            list_transform(range($Dims), i -> CAST(embedding[i+1] AS DOUBLE)) AS v
          FROM embeddings),
        vn AS (
          SELECT vec_id, v,
            sqrt(list_sum(list_transform(range($Dims), i -> v[i+1] * v[i+1]))) AS nrm,
            sqrt(list_sum(list_transform(range($SubDims), i -> v[i+1] * v[i+1]))) AS pnrm
          FROM ve),
        prs AS (
          SELECT q.vec_id AS q_id, e.vec_id,
            ${rxSql(s"list_sum(list_transform(range($SubDims), i -> q.v[i+1] * e.v[i+1])) / (q.pnrm * e.pnrm)", 6)} AS pcos,
            ${rxSql(s"list_sum(list_transform(range($Dims), i -> q.v[i+1] * e.v[i+1])) / (q.nrm * e.nrm)", 6)} AS cos
          FROM vn q JOIN vn e ON e.vec_id <> q.vec_id
          WHERE q.vec_id < $QueryVecs),
        cand AS (
          SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY pcos DESC, vec_id) AS prk
          FROM prs),
        topk AS (
          SELECT q_id, vec_id, pcos, cos,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY cos DESC, vec_id) AS rank
          FROM cand WHERE prk <= $MatryCand)
        SELECT q_id, rank, vec_id, pcos, cos FROM topk WHERE rank <= $K
        ORDER BY q_id, rank""")),

    QDef("join_cross_topk_similarity",
      // Label-blocked KNN join — the EXACT-RECALL BASELINE, kept
      // deliberately brute-force so `join_knn_rescored` (the scale
      // path below) has a ground truth to measure recall against.
      // The cross product exists only inside each label block; shuffle
      // key = label. Pairs grow with the square of the block size, so
      // at 100 TB this runs only on bounded blocks (e.g. a sampled
      // eval slice or a per-tenant partition) — unbounded corpora use
      // join_knn_rescored, whose candidates come from the LSH bucket
      // join and whose scores are the same exact cosine.
      (s, dir) => {
        val e = vecs(s, dir)
        val w = Window.partitionBy("vec_a")
          .orderBy(col("cos").desc, col("vec_b").asc)
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.label").as("label"), col("a.vec_id").as("vec_a"),
            col("b.vec_id").as("vec_b"),
            rx(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("label"), col("vec_a"),
            col("rank").cast("long").as("rank"), col("vec_b"), col("cos"))
          .orderBy("vec_a", "rank")
      },
      Some(s"""WITH pairs AS (
          SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${rxSql(cosSql("a", "b"), 6)} AS cos
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id <> b.vec_id),
        rk AS (SELECT label, vec_a, vec_b, cos,
                      row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank
               FROM pairs)
        SELECT label, vec_a, rank, vec_b, cos FROM rk WHERE rank <= 3
        ORDER BY vec_a, rank""")),

    QDef("join_knn_rescored",
      // Scale-path KNN join: candidates from the LSH bucket equi-join
      // (never an all-pairs block), rescored with the EXACT cosine,
      // top-3 per vector within its candidate set. This is the
      // verify-on-candidates shape — pair count is bucket-local, the
      // shuffle key is the 8-bit bucket, and the plan is identical at
      // 100 TB. Recall vs the exact baseline is measurable by joining
      // against join_cross_topk_similarity on (vec_a, vec_b).
      (s, dir) => {
        val e = bucketedVecs(s, dir)
        val w = Window.partitionBy("vec_a")
          .orderBy(col("cos").desc, col("vec_b").asc)
        e.as("a").join(e.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.bucket").as("bucket"), col("a.vec_id").as("vec_a"),
            col("b.vec_id").as("vec_b"),
            rx(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("bucket"), col("vec_a"),
            col("rank").cast("long").as("rank"), col("vec_b"), col("cos"))
          .orderBy("vec_a", "rank")
      },
      Some(s"""WITH b AS (
          SELECT vec_id, embedding, CAST($lshBucketSql AS BIGINT) AS bucket
          FROM embeddings),
        pairs AS (
          SELECT a.bucket AS bucket, a.vec_id AS vec_a, e.vec_id AS vec_b,
                 ${rxSql(cosSql("a", "e"), 6)} AS cos
          FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id <> e.vec_id),
        rk AS (SELECT bucket, vec_a, vec_b, cos,
                      row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b) AS rank
               FROM pairs)
        SELECT bucket, vec_a, rank, vec_b, cos FROM rk WHERE rank <= 3
        ORDER BY vec_a, rank""")),

    QDef("sim_ann_ivf",
      // IVF ANN with a TRAINED coarse quantizer: k-means centroids
      // ([[ivfCents]] — deterministic seed + LloydIters exact-integer
      // Lloyd rounds) assign every vector to its nearest centroid's
      // inverted list; a query probes its NProbe nearest lists and
      // brute-forces only those. Each training round and the probe are
      // broadcast joins against k rows; the probed-list join shuffles
      // on the centroid id — the partition-local scan that survives
      // when the corpus is 100 TB and a full cross product is
      // impossible. The oracle replays the identical Lloyd trajectory
      // as a CTE chain (see [[ivfTopSqlCtes]]).
      (s, dir) => ivfTop3(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $ivfTopSqlCtes
        SELECT q_id, rank, vec_id, cos FROM rk WHERE rank <= 3
        ORDER BY q_id, rank""")),

    QDef("sim_ann_ivfpq",
      // IVF+PQ — the two indexes composed the way FAISS composes them
      // (IVFADC): the trained coarse quantizer picks NProbe inverted
      // lists per query (candidate generation — the corpus never
      // leaves its list partitions), then candidates are scored by
      // asymmetric distance against PQ CODES ONLY (4 bytes/vector —
      // the memory story), never the raw floats. This is the pairing
      // that serves at 100 TB: IVF bounds the candidate volume, PQ
      // bounds bytes-per-candidate, and both stages reuse the staged
      // artifacts their standalone queries train (coarse centroids,
      // codebooks, codes) — composition is a join, not a rebuild. ADC
      // lookup values floor-quantize to int64 before the per-pair sum
      // (fold-order-free; the raw-double sum would hash-mismatch
      // under shuffle). The ADC pass SHORTLISTS (top-PqRefine); exact
      // cosines re-rank the shortlist only (FAISS's refine step) —
      // measured here, 32-bit codes carry shortlist signal but not
      // top-3 ranking signal: direct ADC recall@3 is ~7%, refined 87%
      // at sf0.01 against the 90% IVF probing ceiling, for 96 exact
      // dots per query instead of ~1250.
      // The oracle replays both CTE chains, the candidates-only ADC
      // join, and the refine.
      (s, dir) => ivfpqTop3(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $ivfTopSqlCtes,
        $pqSqlCtes,
        $ivfpqSqlCtes
        SELECT q_id, rank, vec_id, score FROM prkq WHERE rank <= 3
        ORDER BY q_id, rank""")),

    QDef("sim_ann_ivfpq_recall",
      // Recall@3 of the composed IVF+PQ funnel against the exact
      // brute-force top-3 — the end-to-end audit for BOTH
      // approximations at once (list probing can miss the true
      // neighbour's list; PQ coding can misrank inside a probed
      // list). Reading it next to sim_ann_ivf_recall separates the
      // two losses: IVF recall is the probing ceiling, the delta to
      // this number is what 4-byte codes cost. Same shape as every
      // recall audit here: exact side broadcast nested-loop over the
      // bounded probe set, hits = |approx ∩ exact| per query.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val exact = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("q_id", "vec_id")
        val ipq = ivfpqTop3(s, dir)
          .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        exact.join(ipq, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
          .select(col("q_id"), col("hits"),
            rx(col("hits").cast("double") / lit(3.0), 6).as("recall"))
          .orderBy("q_id")
      },
      Some(s"""WITH $ivfTopSqlCtes,
        $pqSqlCtes,
        $ivfpqSqlCtes,
        ipq AS (SELECT q_id, vec_id FROM prkq WHERE rank <= 3),
        ex_pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        ex AS (SELECT q_id, vec_id FROM (
                 SELECT q_id, vec_id,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, vec_id) AS rnk
                 FROM ex_pairs) WHERE rnk <= 3)
        SELECT ex.q_id, count(i.vec_id) AS hits,
               ${rxSql("CAST(count(i.vec_id) AS DOUBLE) / 3.0", 6)} AS recall
        FROM ex LEFT JOIN ipq i ON ex.q_id = i.q_id AND ex.vec_id = i.vec_id
        GROUP BY ex.q_id
        ORDER BY ex.q_id""")),

    QDef("sim_ann_ivf_recall",
      // Recall@3 of the trained-IVF probe against the exact
      // brute-force top-3 — the metric that justifies the ANN path:
      // at 100 TB you run the probe, and this query (on a sampled
      // slice) tells you what the probe is giving up. Exact side =
      // broadcast nested-loop over the query set (same shape as
      // sim_cosine_topk); hits = |IVF∩exact| per query.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val exact = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("q_id", "vec_id")
        val ivf = ivfTop3(s, dir).select(col("q_id"), col("vec_id"), lit(1).as("hit"))
        exact.join(ivf, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
          .select(col("q_id"), col("hits"),
            rx(col("hits").cast("double") / lit(3.0), 6).as("recall"))
          .orderBy("q_id")
      },
      Some(s"""WITH $ivfTopSqlCtes,
        ivf AS (SELECT q_id, vec_id FROM rk WHERE rank <= 3),
        ex_pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        ex AS (SELECT q_id, vec_id FROM (
                 SELECT q_id, vec_id,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, vec_id) AS rnk
                 FROM ex_pairs) WHERE rnk <= 3)
        SELECT ex.q_id, count(i.vec_id) AS hits,
               ${rxSql("CAST(count(i.vec_id) AS DOUBLE) / 3.0", 6)} AS recall
        FROM ex LEFT JOIN ivf i ON ex.q_id = i.q_id AND ex.vec_id = i.vec_id
        GROUP BY ex.q_id
        ORDER BY ex.q_id""")),

    QDef("sim_recall_curve",
      // Recall@k CURVE (k = 1, 3, 5, 10) of the IVF probe vs exact
      // brute force — the table that picks the serving depth: recall@1
      // says whether the index can answer "the" nearest neighbor,
      // recall@10 whether it feeds a rescoring stage; the knee between
      // them is where nprobe spend stops paying. Same staged IVF
      // assignment and the same bounded query slice as
      // sim_ann_ivf_recall, but BOTH rankings kept to depth 10 and
      // evaluated at every k in one pass: candidates join on the pair
      // key once, the k sweep is a 4-element explode over that joined
      // (≤ 10·|Q| row) table — never a per-k recompute. Mean recall =
      // total hits / (k·|Q|), one single IEEE division, rx(6); ranks
      // are over rx-rounded cosines with vec_id tie-breaks, so depth
      // cuts agree cross-engine.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val exact = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank_e", row_number().over(w))
          .filter(col("rank_e") <= 10)
          .select("q_id", "vec_id", "rank_e")
        val assigned = ivfAssigned(s, dir)
        val lists = assigned.filter(col("crk") === 1)
          .select(col("c_id"), col("vec_id"), col("v"), col("nrm"))
        val probes = assigned.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("c_id"))
        val ivf = probes.join(lists, Seq("c_id"))
          .filter(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .distinct()
          .withColumn("rank_i", row_number().over(w))
          .filter(col("rank_i") <= 10)
          .select("q_id", "vec_id", "rank_i")
        exact.join(ivf, Seq("q_id", "vec_id"), "left")
          .select(col("rank_e"), col("rank_i"),
            explode(array(lit(1L), lit(3L), lit(5L), lit(10L))).as("k"))
          .filter(col("rank_e") <= col("k"))
          .groupBy("k")
          .agg(sum(when(col("rank_i").isNotNull &&
            col("rank_i") <= col("k"), 1L).otherwise(0L)).as("n_hits"))
          .select(col("k"), col("n_hits"),
            rx(col("n_hits").cast("double") /
              (col("k") * QueryVecs).cast("double"), 6).as("recall"))
          .orderBy("k")
      },
      Some(s"""WITH $ivfTopSqlCtes,
        ivf AS (SELECT q_id, vec_id, rank AS rank_i FROM rk WHERE rank <= 10),
        ex_pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        ex AS (SELECT q_id, vec_id, rank_e FROM (
                 SELECT q_id, vec_id,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos DESC, vec_id) AS rank_e
                 FROM ex_pairs) WHERE rank_e <= 10),
        j AS (SELECT ex.q_id, ex.rank_e, i.rank_i
              FROM ex LEFT JOIN ivf i
                ON ex.q_id = i.q_id AND ex.vec_id = i.vec_id),
        ks AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k),
        h AS (SELECT k,
                CAST(sum(CASE WHEN rank_i IS NOT NULL AND rank_i <= k
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
              FROM j CROSS JOIN ks WHERE rank_e <= k GROUP BY k)
        SELECT k, n_hits,
          ${rxSql(s"CAST(n_hits AS DOUBLE) / CAST(k * $QueryVecs AS DOUBLE)", 6)}
            AS recall
        FROM h ORDER BY k""")),

    QDef("sim_diversity_mmr",
      // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein)
      // — the serving-side diversity pass between retrieval and the
      // consumer: from each query's top-10 exact candidates, greedily
      // pick 5 maximizing rel − λ·max-sim-to-already-picked (λ = 0.5)
      // so near-duplicate neighbors don't crowd the result page — the
      // retrieval-time mirror of what the dedup family does at
      // training time. Scale shape: MMR's sequential greedy is
      // inherently per-query, so the corpus-wide work is ONLY the
      // candidate generation (the same broadcast top-k pass the
      // similarity family shares); the 4 greedy rounds run on
      // BOUNDED per-query tables (≤10 candidates, ≤10·9 pairwise
      // sims), each round one anti join + one max-sim aggregate +
      // one per-query argmax window — at 100 TB, rounds cost
      // O(queries), never O(corpus). Determinism: rel and pairwise
      // sims are rx(6) (bit-identical), the score rel − 0.5·msim is
      // two IEEE ops on identical doubles, ranks tie-break on vec_id;
      // candidates and sims are eagerly checkpointed once (every
      // round references both — the double-execution rule), and the
      // growing pick set re-checkpoints per round.
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val wRel = Window.partitionBy("q_id")
          .orderBy(col("rel").desc, col("vec_id").asc)
        val cand = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
              .as("rel"),
            col("v"), col("nrm"))
          .withColumn("rk", row_number().over(wRel))
          .filter(col("rk") <= 10)
          .select("q_id", "vec_id", "rel", "v", "nrm")
          .localCheckpoint(true)
        val sims = cand.as("a").join(cand.as("b"),
            col("a.q_id") === col("b.q_id") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.q_id").as("q_id"), col("a.vec_id").as("ca"),
            col("b.vec_id").as("cb"),
            rx(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
              .as("sim"))
          .localCheckpoint(true)
        val candSlim = cand.select("q_id", "vec_id", "rel")
        var all = candSlim.withColumn("rk", row_number().over(wRel))
          .filter(col("rk") === 1)
          .select(col("q_id"), col("vec_id"), lit(1L).as("pick"))
          .localCheckpoint(true)
        for (r <- 2 to 5) {
          val maxsim = sims
            .join(all.select(col("q_id"), col("vec_id").as("cb")),
              Seq("q_id", "cb"))
            .groupBy(col("q_id"), col("ca").as("vec_id"))
            .agg(max("sim").as("msim"))
          val wS = Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("vec_id").asc)
          val pick = candSlim
            .join(all.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
              "left_anti")
            .join(maxsim, Seq("q_id", "vec_id"))
            .withColumn("score", col("rel") - lit(0.5) * col("msim"))
            .withColumn("rk", row_number().over(wS))
            .filter(col("rk") === 1)
            .select(col("q_id"), col("vec_id"), lit(r.toLong).as("pick"))
          all = all.unionByName(pick).localCheckpoint(true)
        }
        all.orderBy("q_id", "pick")
      },
      Some({
        val rounds = (2 to 5).map { r =>
          s"""s$r AS (
              SELECT q_id, vec_id, $r AS pick FROM (
                SELECT c.q_id, c.vec_id,
                       row_number() OVER (PARTITION BY c.q_id
                         ORDER BY c.rel - 0.5 * ms.msim DESC, c.vec_id) AS rk
                FROM cand c
                JOIN (SELECT s.q_id, s.ca AS vec_id, max(s.sim) AS msim
                      FROM sims s JOIN a${r - 1} al
                        ON al.q_id = s.q_id AND al.vec_id = s.cb
                      GROUP BY 1, 2) ms
                  ON ms.q_id = c.q_id AND ms.vec_id = c.vec_id
                LEFT JOIN a${r - 1} sel
                  ON sel.q_id = c.q_id AND sel.vec_id = c.vec_id
                WHERE sel.vec_id IS NULL)
              WHERE rk = 1),
            a$r AS (SELECT * FROM a${r - 1} UNION ALL SELECT * FROM s$r)"""
        }.mkString(",\n")
        s"""WITH cand0 AS (
            SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                   ${rxSql(cosSql("q", "e"), 6)} AS rel
            FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
            WHERE q.vec_id < $QueryVecs),
          cand AS (SELECT q_id, vec_id, rel FROM (
                     SELECT q_id, vec_id, rel,
                            row_number() OVER (PARTITION BY q_id
                              ORDER BY rel DESC, vec_id) AS rk
                     FROM cand0) WHERE rk <= 10),
          sims AS (
            SELECT ca.q_id, ca.vec_id AS ca, cb.vec_id AS cb,
                   ${rxSql(cosSql("x", "y"), 6)} AS sim
            FROM cand ca JOIN cand cb
              ON ca.q_id = cb.q_id AND ca.vec_id <> cb.vec_id
            JOIN embeddings x ON x.vec_id = ca.vec_id
            JOIN embeddings y ON y.vec_id = cb.vec_id),
          a1 AS (SELECT q_id, vec_id, 1 AS pick FROM (
                   SELECT q_id, vec_id,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY rel DESC, vec_id) AS rk
                   FROM cand) WHERE rk = 1),
          $rounds
          SELECT q_id, vec_id, CAST(pick AS BIGINT) AS pick
          FROM a5 ORDER BY q_id, pick"""
      })),

    QDef("dedup_semantic_cluster",
      // Semantic dedup at corpus scale: the trained IVF quantizer
      // doubles as a coarse semantic clusterer — every vector joins its
      // nearest centroid's cluster, and each cluster keeps its min-id
      // member as the deterministic representative (the same keeper
      // rule as exact/CC dedup). Cost = the one broadcast
      // nearest-centroid pass the IVF index already pays; downstream,
      // near-dup verification runs within clusters only.
      (s, dir) => ivfAssigned(s, dir).filter(col("crk") === 1)
        .groupBy("c_id")
        .agg(count(lit(1)).as("n_members"),
          min(col("vec_id")).as("representative"))
        .orderBy("c_id"),
      Some(s"""WITH $ivfTopSqlCtes
        SELECT c_id, count(*) AS n_members, min(vec_id) AS representative
        FROM lists GROUP BY c_id ORDER BY c_id""")),

    QDef("sim_ann_lsh",
      // Scale-path ANN: 8 deterministic random-hyperplane sign bits →
      // bucket; candidates only within the query's bucket; top-3 by
      // cosine. Spark evaluates literal plane arrays (broadcast-free
      // constants); the oracle rebuilds identical planes from the same
      // md5 formula in-query.
      (s, dir) => {
        val e = bucketedVecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("bucket").as("q_bucket"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(q).join(e,
            col("q_bucket") === col("bucket") && col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("q_bucket").as("bucket"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("bucket"),
            col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH b AS (
          SELECT vec_id, embedding, CAST($lshBucketSql AS BIGINT) AS bucket
          FROM embeddings),
        pairs AS (
          SELECT q.vec_id AS q_id, q.bucket AS bucket, e.vec_id AS vec_id,
                 ${rxSql(cosSql("q", "e"), 6)} AS cos
          FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
          WHERE q.vec_id < $QueryVecs),
        rk AS (SELECT q_id, bucket, vec_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM pairs)
        SELECT q_id, bucket, rank, vec_id, cos FROM rk WHERE rank <= 3
        ORDER BY q_id, rank""")),

    QDef("sim_ann_multiprobe",
      // Multi-probe LSH (Lv et al., VLDB'07) — the standard
      // recall-recovery move when a single hash table under-retrieves:
      // each query probes its OWN bucket plus the 8 buckets at Hamming
      // distance 1 (one sign bit flipped), and the exact-cosine top-3
      // runs over the union. Same index, 9× the candidates, no extra
      // tables — probing changed the winner set for 10/10 queries at
      // both sf0.001 and sf0.01 vs the single-probe sim_ann_lsh, which
      // is precisely the recall the trick buys. Scale: the probe
      // expansion multiplies only the (small, broadcast) QUERY side —
      // 9 rows per query — while the corpus stays indexed once and the
      // join stays bucket-equi; each candidate's bucket matches exactly
      // one probed flip, so probe_dist needs no dedup. The rank window
      // partitions per query over candidate-bounded rows.
      (s, dir) => {
        val e = bucketedVecs(s, dir)
        val flips = array((lit(0L) +:
          (0 until Planes).map(i => lit(1L << i))): _*)
        val qp = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("bucket").as("q_bucket"),
            explode(flips).as("flip"))
          .select(col("q_id"), col("qv"), col("qnrm"),
            col("q_bucket").bitwiseXOR(col("flip")).as("p_bucket"),
            when(col("flip") === 0L, 0L).otherwise(1L).as("probe_dist"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(qp).join(e,
            col("p_bucket") === col("bucket") && col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"), col("probe_dist"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cos"), col("probe_dist"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH b AS (
          SELECT vec_id, embedding, CAST($lshBucketSql AS BIGINT) AS bucket
          FROM embeddings),
        qp AS (
          SELECT q.vec_id AS q_id, q.embedding, xor(q.bucket, f.flip) AS p_bucket,
                 CASE WHEN f.flip = 0 THEN 0 ELSE 1 END AS probe_dist
          FROM b q, (SELECT unnest([${(0L +: (0 until Planes)
            .map(i => 1L << i)).mkString(", ")}]) AS flip) f
          WHERE q.vec_id < $QueryVecs),
        pairs AS (
          SELECT qp.q_id, e.vec_id, CAST(qp.probe_dist AS BIGINT) AS probe_dist,
                 ${rxSql(cosSql("qp", "e"), 6)} AS cos
          FROM qp JOIN b e ON e.bucket = qp.p_bucket AND e.vec_id <> qp.q_id),
        rk AS (SELECT q_id, vec_id, probe_dist, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
               FROM pairs)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, cos, probe_dist
        FROM rk WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef("sim_rrf_fusion",
      // Reciprocal-rank fusion — the OTHER standard hybrid composition
      // (score fusion instead of rerank-cascade): lexical and dense
      // top-30 rankings fused as sum of 1/(60+rank), full-outer on the
      // candidate pair so either-list-only docs still score. 1/(60+r)
      // is a single IEEE division of integers, so fused scores are
      // bit-exact and need no rounding guard — the reason RRF is
      // stated on RANKS, not raw scores, is the same reason it
      // oracle-checks trivially. At 100 TB each ranking is its own
      // bounded pipeline: the lexical arm is the term-keyed posting
      // join, and the dense arm generates candidates from the STAGED
      // trained-IVF index ([[ivfAssigned]] — the same artifact
      // sim_ann_ivf probes) instead of any Q×N exact pass: a query
      // probes its NProbe nearest inverted lists and exact-cosines
      // only their members (a broadcast equi-join on the centroid id —
      // the round-11 Q×N broadcast nested loop is banned by
      // BnljGuardSpec). Fusion then touches only 2×30 rows per query.
      // Each arm's query panel is CAPPED at a fixed 100-id eval set
      // (orderBy + limit on both engines — the knn/eval/canary cap
      // pattern): a 1-in-100 sample alone still GROWS with the corpus,
      // and the dense panel rides a broadcast that would otherwise
      // scale to executor OOM at 100 TB. The caps don't bind at test
      // SFs (≤50 lexical / ≤20 dense ids), so results are unchanged.
      // The oracle replays the identical Lloyd trajectory + probe CTEs
      // (the sim_ann_ivfpq pattern), so both engines rank the same
      // candidate set.
      (s, dir) => {
        // The staged query-independent lexical top-30 ([[lexTop30]],
        // shared with sim_hybrid_retrieval's stage 1).
        val lex = lexTop30(s, dir)
          .select(col("q_id"), col("doc_id"), col("lrank"))
        val assigned = ivfAssigned(s, dir)
        val lists = assigned.filter(col("crk") === 1)
          .select(col("c_id"), col("vec_id"), col("v"), col("nrm"))
        // Disk-staged like the lexical panel: the probe build re-read
        // the assignment artifact twice (panel pick + join-back); the
        // staged result is ≤100·NProbe rows.
        val dprobes = graft.pipeline.Staged.disk(s, dir, "ivf_qprobes") {
          val dpanel = graft.pipeline.Panels.fixed(
            assigned.filter(pmod(col("vec_id"), lit(100L)) === 7)
              .select("vec_id").distinct(), "vec_id", 100)
          assigned.join(broadcast(dpanel), "vec_id")
            .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("nrm").as("qn"), col("c_id"))
        }
        // Each doc lives in exactly ONE inverted list (crk = 1), so the
        // probe join yields every (q, doc) pair at most once — no
        // distinct needed on either engine. dprobes is ≤ 100·NProbe
        // rows by the panel cap, so the broadcast is bounded.
        val dense = broadcast(dprobes).join(lists, Seq("c_id"))
          .filter(col("q_id") =!= col("vec_id") &&
            pmod(col("vec_id"), lit(100L)) =!= 7)
          .select(col("q_id"), col("vec_id").as("doc_id"),
            rx(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos"))
          .withColumn("drank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("doc_id").asc)))
          .filter(col("drank") <= 30)
          .select(col("q_id"), col("doc_id"), col("drank"))
        val fused = lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("lrank")).cast("double"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("drank")).cast("double"), lit(0.0)))
        fused.withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id").asc)))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"), col("doc_id"),
            coalesce(col("lrank"), lit(0)).cast("long").as("lrank"),
            coalesce(col("drank"), lit(0)).cast("long").as("drank"),
            col("rrf"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $ivfAssignSqlCtes,
        tf AS (
          SELECT doc_id, term, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
            FROM documents)
          WHERE len(term) > 0 GROUP BY 1, 2),
        lens AS (SELECT doc_id, sum(cnt) AS len FROM tf GROUP BY 1),
        stats AS (
          SELECT count(*) AS nd, CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avglen
          FROM lens),
        lpanel AS (SELECT DISTINCT doc_id FROM tf WHERE doc_id % 100 = 7
                   ORDER BY doc_id LIMIT 100),
        qterms AS (SELECT t.doc_id AS q_id, t.term
                   FROM tf t JOIN lpanel USING (doc_id)),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        lexs AS (
          SELECT q.q_id, t.doc_id,
                 CAST(sum(floor(
                   ((CAST(s.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
                   * ((CAST(t.cnt AS DOUBLE) * 2.2) /
                      (CAST(t.cnt AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(l.len AS DOUBLE) / s.avglen))))
                   * 1e6)) AS BIGINT) AS lex_micro
          FROM qterms q
          JOIN tf t ON t.term = q.term AND t.doc_id % 100 <> 7
          JOIN dft d ON d.term = q.term
          JOIN lens l ON l.doc_id = t.doc_id
          CROSS JOIN stats s
          GROUP BY 1, 2),
        lex AS (
          SELECT q_id, doc_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY lex_micro DESC, doc_id) AS lrank
          FROM lexs QUALIFY lrank <= 30),
        ilists AS (SELECT c_id, vec_id FROM crk WHERE crk = 1),
        dpanel AS (SELECT DISTINCT vec_id FROM crk WHERE vec_id % 100 = 7
                   ORDER BY vec_id LIMIT 100),
        iprobes AS (SELECT c.vec_id AS q_id, c.c_id
                    FROM crk c JOIN dpanel USING (vec_id)
                    WHERE c.crk <= $NProbe),
        dcand AS (
          SELECT p.q_id, l.vec_id AS doc_id
          FROM iprobes p JOIN ilists l ON l.c_id = p.c_id
          WHERE l.vec_id <> p.q_id AND l.vec_id % 100 <> 7),
        dscored AS (
          SELECT c.q_id, c.doc_id,
                 ${rxSql(cosSql("qe", "de"), 6)} AS cos
          FROM dcand c
          JOIN embeddings qe ON qe.vec_id = c.q_id
          JOIN embeddings de ON de.vec_id = c.doc_id),
        dense AS (
          SELECT q_id, doc_id, drank FROM (
            SELECT q_id, doc_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, doc_id) AS drank
            FROM dscored)
          WHERE drank <= 30),
        fused AS (
          SELECT COALESCE(l.q_id, d.q_id) AS q_id,
                 COALESCE(l.doc_id, d.doc_id) AS doc_id,
                 l.lrank, d.drank,
                 COALESCE(1.0 / CAST(60 + l.lrank AS DOUBLE), 0.0)
                   + COALESCE(1.0 / CAST(60 + d.drank AS DOUBLE), 0.0) AS rrf
          FROM lex l FULL OUTER JOIN dense d
            ON d.q_id = l.q_id AND d.doc_id = l.doc_id)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id,
               CAST(COALESCE(lrank, 0) AS BIGINT) AS lrank,
               CAST(COALESCE(drank, 0) AS BIGINT) AS drank, rrf
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
              FROM fused)
        WHERE rank <= $K ORDER BY q_id, rank"""),
    ),

    QDef("sim_hybrid_retrieval",
      // The RAG serving shape: lexical first-stage retrieval (a
      // BM25-shaped score over the shared tf stage) keeps 20 candidates
      // per query, dense rerank (exact cosine over the aligned
      // embedding) keeps 5. The BM25 idf is the RATIONAL variant
      // (N-df+.5)/(df+.5) — ln() deliberately avoided (libm ulp drift,
      // same reasoning as text_tfidf) — and per-term scores are
      // floor-quantized to int64 MICROS before the per-(q,d) sum, so
      // the lexical ranking is exact under any shuffle order. At
      // 100 TB: stage 1 joins the BROADCAST query-term panel against
      // the tf table on the term key (the panel is a fixed 100-doc
      // eval set — orderBy + limit on both engines, the rrf cap
      // pattern — so the broadcast is bounded; posting-list df-skew
      // handled like any hot key), and only 20 candidates/query ever
      // touch an embedding — the entire point of hybrid over
      // dense-only. The cap doesn't bind at test SFs (≤50 panel ids),
      // so results are unchanged.
      (s, dir) => {
        // Stage 1 from the staged query-independent lexical top-30
        // ([[lexTop30]], shared with the RRF lexical arm): the top-20
        // candidates are a prefix of that ranking.
        val cands = lexTop30(s, dir).filter(col("lrank") <= 20)
        val e = vecs(s, dir)
        val wCos = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("doc_id").asc)
        cands
          .join(e.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), "q_id")
          .join(e.select(col("vec_id").as("doc_id"), col("v"), col("nrm")), "doc_id")
          .select(col("q_id"), col("doc_id"), col("lex_micro"),
            rx(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos"))
          .withColumn("rank", row_number().over(wCos))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank").cast("long").as("rank"),
            col("doc_id"), col("lex_micro"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH tf AS (
          SELECT doc_id, term, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
            FROM documents)
          WHERE len(term) > 0 GROUP BY 1, 2),
        lens AS (SELECT doc_id, sum(cnt) AS len FROM tf GROUP BY 1),
        stats AS (
          SELECT count(*) AS nd, CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avglen
          FROM lens),
        lpanel AS (SELECT DISTINCT doc_id FROM tf WHERE doc_id % 100 = 7
                   ORDER BY doc_id LIMIT 100),
        qterms AS (SELECT t.doc_id AS q_id, t.term
                   FROM tf t JOIN lpanel USING (doc_id)),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT q.q_id, t.doc_id,
                 CAST(sum(floor(
                   ((CAST(s.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
                   * ((CAST(t.cnt AS DOUBLE) * 2.2) /
                      (CAST(t.cnt AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(l.len AS DOUBLE) / s.avglen))))
                   * 1e6)) AS BIGINT) AS lex_micro
          FROM qterms q
          JOIN tf t ON t.term = q.term AND t.doc_id % 100 <> 7
          JOIN dft d ON d.term = q.term
          JOIN lens l ON l.doc_id = t.doc_id
          CROSS JOIN stats s
          GROUP BY 1, 2),
        cands AS (
          SELECT q_id, doc_id, lex_micro,
                 row_number() OVER (PARTITION BY q_id ORDER BY lex_micro DESC, doc_id) AS lrank
          FROM scored),
        rr AS (
          SELECT c.q_id, c.doc_id, c.lex_micro,
                 ${rxSql(cosSql("qe", "de"), 6)} AS cos
          FROM cands c
          JOIN embeddings qe ON qe.vec_id = c.q_id
          JOIN embeddings de ON de.vec_id = c.doc_id
          WHERE c.lrank <= 20),
        rk AS (
          SELECT q_id, doc_id, lex_micro, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
          FROM rr)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, lex_micro, cos
        FROM rk WHERE rank <= $K ORDER BY q_id, rank""")),

    QDef("sim_graph_route",
      // Graph-routed ANN — the full HNSW shape (Malkov & Yashunin):
      // bounded-degree neighbor graphs (top-NswDeg out-edges per
      // vector, refined from ring+random seeds by NN-descent rounds —
      // see graphRoutedTop3, nothing quadratic in the corpus) built
      // ONCE per layer — layer 0 over the whole corpus plus upper
      // layers over md5-decayed member subsets — then every query
      // routes by greedy DESCENT through the upper layers (beam 1-2,
      // replacing the pre-round-11 entry point's 1-in-4 corpus scan)
      // into the layer-0 beam search: expand the beam's
      // out-neighbors, keep the best by exact cosine, NswHops hops.
      // Routing touches O(hops · beam · degree) vectors per query at
      // EVERY level — the property that makes graph indexes the
      // serving default at scale; each hop is an equi-join of the
      // (queries × beam)-sized frontier against the adjacency table —
      // the fact side streams, nothing quadratic. Every ranking uses
      // rx-rounded cosines with id tie-breaks and the beam update is
      // re-referenced per round, so rounds are eagerly
      // localCheckpoint'd (the BFS lesson: Spark shares no common
      // subtrees). The oracle replays the layered build, the descent
      // and all hops as an unrolled CTE chain. The query itself may
      // enter its own beam (it is a legitimate routing hub); it is
      // excluded only from the final report.
      (s, dir) => graphRoutedTop3(s, dir).orderBy("q_id", "rank"),
      Some(s"""WITH $routeSqlCtes
          SELECT q_id, rank, cand AS vec_id, cos
          FROM routed WHERE rank <= 3 ORDER BY q_id, rank""")),

    QDef("sim_recall_graph_route",
      // Recall audit of the graph router — sim_ann_ivf_recall's
      // counterpart for the NSW index: per query, how many of the
      // exact brute-force top-3 did 3-hop beam routing find? This is
      // THE number that justifies (or kills) a graph index deployment:
      // routing touches O(hops·beam·degree) vectors, and this query
      // prices what that sub-linearity costs in recall, per query and
      // in aggregate (the quadratic side is only the 10-query audit
      // sample, never the corpus). Both sides reuse the exact
      // constructions of their standalone queries.
      (s, dir) => {
        val routed = graphRoutedTop3(s, dir)
          .select(col("q_id"), col("vec_id"))
        val e = vecs(s, dir)
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val truth = broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cos").desc, col("vec_id").asc)))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("vec_id"))
        q.select(col("q_id"))
          .join(truth.join(routed, Seq("q_id", "vec_id"))
            .groupBy("q_id").agg(count(lit(1)).as("hits")), Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("hits"), lit(0L)).as("n_hit"),
            expr("(coalesce(hits, 0) * 10000) div 3").as("recall_bp"))
          .orderBy("q_id")
      },
      Some(s"""WITH $routeSqlCtes,
          rt AS (SELECT q_id, cand AS vec_id FROM routed WHERE rank <= 3),
          bf AS (
            SELECT q_id, vec_id FROM (
              SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY ${rxSql(cosSql("q", "e"), 6)} DESC, e.vec_id) AS rank
              FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
              WHERE q.vec_id < $QueryVecs)
            WHERE rank <= 3),
          hits AS (
            SELECT bf.q_id, count(*) AS hits
            FROM bf JOIN rt ON rt.q_id = bf.q_id AND rt.vec_id = bf.vec_id
            GROUP BY 1)
          SELECT q.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hit,
                 CAST((coalesce(h.hits, 0) * 10000) // 3 AS BIGINT) AS recall_bp
          FROM (SELECT DISTINCT vec_id AS q_id FROM embeddings
                WHERE vec_id < $QueryVecs) q
          LEFT JOIN hits h ON h.q_id = q.q_id
          ORDER BY q.q_id""")),

    QDef("sim_hnsw_layer_stats",
      // Index-health introspection of the layered HNSW build — the
      // table an operator reads BEFORE pointing serving at a graph
      // index: per layer (0 = corpus, 1..k = md5-decayed members),
      // node count, directed edge count and the out-degree min/max/avg
      // (integer ppm). What it catches: a layer whose node count
      // doesn't decay ~1/8 per level (broken membership hash), a
      // min-degree 0 or max-degree blowup (broken ring / NN-descent
      // round), an avg drifting from NswDeg+ring (refinement not
      // converging). All three adjacencies are the STAGED artifacts the
      // router itself walks — this audits the real index, not a
      // reconstruction — and per layer the work is one
      // map-side-combined degree aggregate over the edge table.
      (s, dir) => {
        def stats(adj: DataFrame, layer: Long) = adj
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .agg(lit(layer).as("layer"),
            count(lit(1)).as("n_nodes"), sum("deg").as("n_edges"),
            min("deg").as("deg_min"), max("deg").as("deg_max"),
            expr("(sum(deg) * 1000000) div count(1)").as("deg_avg_ppm"))
        NswLayerMods.zipWithIndex
          .map { case (m, i) => stats(nswLayerAdjacency(s, dir, m), i + 1L) }
          .foldLeft(stats(nswAdjacency(s, dir), 0L))(_.unionAll(_))
          .orderBy("layer")
      },
      Some(s"""WITH $nswBuildSqlCtes,
        ${NswLayerMods.zipWithIndex.map { case (m, i) =>
          nswLayerSqlCtes(s"l${i + 1}", m) }.mkString(",\n        ")},
        ${(Seq("adj" -> 0) ++ NswLayerMods.indices.map(i => s"l${i + 1}adj" -> (i + 1)))
          .map { case (tbl, l) =>
            s"""deg$l AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
              FROM $tbl GROUP BY 1)""" }.mkString(",\n        ")}
        ${(0 to NswLayerMods.size).map { l =>
          s"""SELECT CAST($l AS BIGINT) AS layer,
            CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(sum(deg) AS BIGINT) AS n_edges,
            CAST(min(deg) AS BIGINT) AS deg_min,
            CAST(max(deg) AS BIGINT) AS deg_max,
            CAST((sum(deg) * 1000000) // count(*) AS BIGINT) AS deg_avg_ppm
          FROM deg$l""" }.mkString("\n        UNION ALL\n        ")}
        ORDER BY layer""")),

    QDef("graph_kcore_mutual_knn",
      // 2-core decomposition of the MUTUAL-kNN graph — embedding-space
      // outlier triage: an NSW out-edge is mutual only when both
      // endpoints rank each other in their top-NswDeg, so the mutual
      // graph keeps exactly the edges that witness dense semantic
      // neighborhoods. Iterative peeling (3 rounds, k=2) then strips
      // nodes that cannot sit inside such a region — round 1 removes
      // isolated/pendant embeddings, later rounds the chains exposed by
      // earlier removals; survivors (peel_round 0) are the dense-core
      // candidates a semantic-dedup or coreset pass should treat as
      // redundant-rich, the peeled rounds a selection pass should
      // treat as rare/outlier material. Reuses the STAGED NSW
      // adjacency (the routing index build — no new corpus work);
      // mutualization is one self-join on the bounded-degree edge
      // list; each peel round shuffles only the shrinking edge set and
      // is eagerly checkpointed (the weak set is referenced three
      // times — the BFS lesson).
      (s, dir) => {
        val adj = nswAdjacency(s, dir)
        val m = adj.as("a").join(adj.as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src") &&
              col("a.src") < col("a.dst"))
          .select(col("a.src").as("u"), col("a.dst").as("v"))
        var e = m.unionAll(m.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint(true)
        var remaining = vecs(s, dir).select(col("vec_id").as("node"))
          .localCheckpoint(true)
        var peeled = Seq.empty[DataFrame]
        for (r <- 1 to 3) {
          val deg = e.groupBy("u").agg(count(lit(1)).as("dg"))
          val weak = remaining.join(deg, remaining("node") === deg("u"), "left")
            .filter(coalesce(col("dg"), lit(0L)) < 2)
            .select(col("node")).localCheckpoint(true)
          peeled = peeled :+ weak.withColumn("peel_round", lit(r.toLong))
          remaining = remaining.join(weak, Seq("node"), "left_anti")
            .localCheckpoint(true)
          e = e.join(weak.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
            .join(weak.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
            .localCheckpoint(true)
        }
        val fdeg = e.groupBy("u").agg(count(lit(1)).as("mdeg"))
        val survivors = remaining
          .join(fdeg, remaining("node") === fdeg("u"), "left")
          .select(col("node"), lit(0L).as("peel_round"),
            coalesce(col("mdeg"), lit(0L)).as("mdeg"))
        val out = peeled.map(_.withColumn("mdeg", lit(0L))
            .select("node", "peel_round", "mdeg"))
          .reduce(_ unionAll _)
        survivors.unionAll(out).orderBy("node")
      }, {
        val rounds = (1 to 3).map { r =>
          s"""d$r AS (SELECT u, count(*) AS dg FROM e${r - 1} GROUP BY 1),
            w$r AS (
              SELECT n.node FROM n${r - 1} n
              LEFT JOIN d$r d ON d.u = n.node
              WHERE COALESCE(d.dg, 0) < 2),
            n$r AS (
              SELECT node FROM n${r - 1}
              WHERE node NOT IN (SELECT node FROM w$r)),
            e$r AS (
              SELECT u, v FROM e${r - 1}
              WHERE u NOT IN (SELECT node FROM w$r)
                AND v NOT IN (SELECT node FROM w$r))"""
        }.mkString(",\n          ")
        Some(s"""WITH $nswBuildSqlCtes,
          m AS (
            SELECT a.src AS u, a.dst AS v
            FROM adj a JOIN adj b ON b.src = a.dst AND b.dst = a.src
            WHERE a.src < a.dst),
          e0 AS (SELECT u, v FROM m UNION ALL SELECT v AS u, u AS v FROM m),
          n0 AS (SELECT vec_id AS node FROM b),
          $rounds,
          fd AS (SELECT u, count(*) AS mdeg FROM e3 GROUP BY 1),
          outp AS (
            SELECT n.node, CAST(0 AS BIGINT) AS peel_round,
                   CAST(COALESCE(fd.mdeg, 0) AS BIGINT) AS mdeg
            FROM n3 n LEFT JOIN fd ON fd.u = n.node
            UNION ALL SELECT node, 1, 0 FROM w1
            UNION ALL SELECT node, 2, 0 FROM w2
            UNION ALL SELECT node, 3, 0 FROM w3)
          SELECT node, peel_round, mdeg FROM outp ORDER BY node""")
      }),

    QDef("sim_centroid_separation",
      // Class-separability diagnostics over the embedding space: per-
      // label centroids and every pairwise centroid cosine — the table
      // that says whether labels occupy distinct regions (low
      // off-diagonal cosine) before anyone trusts within-label
      // semantic dedup or a kNN classifier on these vectors. Exactness
      // discipline: per-dimension sums are EXACT int64 over micro-
      // quantized components (a raw float sum would be fold-order-
      // dependent), centroid means are single IEEE divisions, and both
      // the norms and the pairwise dots fold the 64-dim arrays
      // IN-ORDER (aggregate/zip_with ≙ DuckDB list_sum — the ArrayDot
      // convention), so every cosine is bit-identical cross-engine.
      // Scale: one posexplode scan (corpus × 64 rows), one (label,dim)
      // aggregate; everything after runs on labels² rows.
      (s, dir) => {
        val comp = t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
          .withColumn("xq", floor(col("x").cast("double") * 1000000.0 + 0.5)
            .cast("long"))
        val nPer = t(s, dir, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n_vecs"))
        // Collect the exact int64 per-dim sums FIRST (keys = [label]
        // alone — the fixed-enum shape BnljGuardSpec certifies; the
        // old (label, n_vecs) keying was semantically the same bound
        // but structurally opaque), then divide per element after the
        // label-keyed join: m = CAST(sq) / (n_vecs·1e6) is the
        // identical single IEEE division either side of the collect.
        val cent = comp.groupBy("label", "d").agg(sum("xq").as("sq"))
          .groupBy("label")
          .agg(transform(
            sort_array(collect_list(struct(col("d"), col("sq")))),
            e => e.getField("sq")).as("sqs"))
          .join(nPer, "label")
          .select(col("label"), col("n_vecs"),
            transform(col("sqs"), sq => sq.cast("double") /
              (col("n_vecs").cast("double") * 1000000.0)).as("c"))
        val nrm = (c: Column) => sqrt(aggregate(
          transform(c, x => x * x), lit(0d), (a, x) => a + x))
        cent.as("a").join(cent.as("b"), col("a.label") <= col("b.label"))
          .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
            col("a.n_vecs").as("n_a"), col("b.n_vecs").as("n_b"),
            rx(aggregate(zip_with(col("a.c"), col("b.c"), (x, y) => x * y),
              lit(0d), (acc, x) => acc + x) /
              (nrm(col("a.c")) * nrm(col("b.c"))), 6).as("centroid_cos"))
          .orderBy("label_a", "label_b")
      }, {
        val fold = (l: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (a, x) -> a + x)"
        Some(s"""WITH comp AS (
          SELECT label, d, CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
          FROM (SELECT label, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) - 1 AS d
                FROM embeddings)),
        n_per AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
                  FROM embeddings GROUP BY 1),
        sums AS (
          SELECT c.label, c.d, CAST(sum(c.xq) AS BIGINT) AS sq
          FROM comp c GROUP BY 1, 2),
        cent AS (
          SELECT s.label, n.n_vecs,
                 list_transform(
                   list_sort(list(struct_pack(d := s.d, m :=
                     CAST(s.sq AS DOUBLE) / (CAST(n.n_vecs AS DOUBLE) * 1000000.0)))),
                   e -> e.m) AS c
          FROM sums s JOIN n_per n ON n.label = s.label
          GROUP BY 1, 2)
        SELECT a.label AS label_a, b.label AS label_b,
               a.n_vecs AS n_a, b.n_vecs AS n_b,
               ${rxSql(
            s"""${fold("list_transform(range(64), i -> a.c[i+1] * b.c[i+1])")} /
               (sqrt(${fold("list_transform(range(64), i -> a.c[i+1] * a.c[i+1])")}) *
                sqrt(${fold("list_transform(range(64), i -> b.c[i+1] * b.c[i+1])")}))""", 6)} AS centroid_cos
        FROM cent a JOIN cent b ON a.label <= b.label
        ORDER BY label_a, label_b""")
      }),

    QDef("sim_mips_topk",
      // Maximum-inner-product search with the norm-augmentation
      // reduction (Neyshabur & Srebro's simple-LSH): scale every
      // vector by the corpus max norm M and append
      // aug = sqrt(1 − (‖x‖/M)²) — the augmented vectors are all
      // UNIT norm (the aug_norm column proves it row by row), and for
      // a query padded with 0 the augmented cosine is dot(q,x)/(M‖q‖),
      // so MIPS order = cosine order and the augmented vectors drop
      // into ANY of the cosine ANN indexes here (LSH buckets, IVF
      // lists, PQ codes, the NSW graph) unchanged. That reduction —
      // not the brute-force scoring below — is the 100 TB story:
      // recommendation-style inner-product retrieval rides the same
      // index infrastructure as cosine. Scoring: broadcast query set,
      // exact in-order dot folds, rx-rounded, id tie-breaks.
      (s, dir) => {
        val e = vecs(s, dir)
        val mx = e.agg(max(col("nrm")).as("mnorm"))
        val q = e.filter(col("vec_id") < QueryVecs)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        broadcast(q).join(e, col("q_id") =!= col("vec_id"))
          .crossJoin(broadcast(mx))
          .select(col("q_id"), col("vec_id"),
            rx(dot(col("qv"), col("v")), 6).as("ip"),
            rx(sqrt(lit(1.0) - (col("nrm") / col("mnorm")) *
              (col("nrm") / col("mnorm"))), 6).as("aug_dim"),
            rx(sqrt((col("nrm") / col("mnorm")) * (col("nrm") / col("mnorm")) +
              (lit(1.0) - (col("nrm") / col("mnorm")) *
                (col("nrm") / col("mnorm")))), 6).as("aug_norm"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("ip").desc, col("vec_id").asc)).cast("long"))
          .filter(col("rank") <= K)
          .select(col("q_id"), col("rank"), col("vec_id"), col("ip"),
            col("aug_dim"), col("aug_norm"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH nr AS (
          SELECT vec_id, embedding,
                 sqrt(${dotSql("embeddings", "embeddings")
                   .replace("embeddings.embedding", "embedding")}) AS nrm
          FROM embeddings),
        mx AS (SELECT max(nrm) AS mnorm FROM nr),
        pairs AS (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 ${rxSql(dotSql("q", "e"), 6)} AS ip,
                 ${rxSql("sqrt(1.0 - (e.nrm / mnorm) * (e.nrm / mnorm))", 6)} AS aug_dim,
                 ${rxSql("sqrt((e.nrm / mnorm) * (e.nrm / mnorm) + (1.0 - (e.nrm / mnorm) * (e.nrm / mnorm)))", 6)} AS aug_norm
          FROM nr q JOIN nr e ON q.vec_id <> e.vec_id
          CROSS JOIN mx
          WHERE q.vec_id < $QueryVecs)
        SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, ip, aug_dim, aug_norm
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY ip DESC, vec_id) AS rank FROM pairs)
        WHERE rank <= $K ORDER BY q_id, rank""")),

    QDef("sim_bitext_margin",
      // Bitext mining with the margin criterion (the ratio-margin of
      // Artetxe & Schwenk, the selection rule behind CCMatrix-scale
      // parallel-corpus mining): a candidate pair (a, b) is scored not
      // by raw cosine but by cos(a,b) relative to the mean of each
      // side's k-nearest cosines — margin = 2k·cos(a,b) / (Σtop-k(a) +
      // Σtop-k(b)) — which cancels hubness (a vector that is close to
      // EVERYTHING mines nothing). Sides are the even/odd label halves
      // (the two "languages"); queries are the bounded a-side set, and
      // the backward normalizer runs over the mined batch — the
      // retrieval-time margin. Cosines are floor-quantized to int64
      // micros BEFORE any sum, so both engines rank and normalize on
      // identical integers (shuffle-order-exact, the hybrid-retrieval
      // discipline); the margin itself is then ONE division of exact
      // ints. At corpus scale the forward pass plugs the IVF/LSH/NSW
      // candidate indexes above (the augmentation trick makes them
      // interchangeable) — the margin stage itself stays a group-by +
      // two equi joins over candidates, nothing quadratic.
      (s, dir) => {
        val e = vecs(s, dir)
        val k = 4
        val qa = e.filter(col("vec_id") < 40 && pmod(col("label"), lit(2)) === 0)
          .select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
        val cb = e.filter(pmod(col("label"), lit(2)) === 1)
          .select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
        // Staged: the scored matrix feeds three consumers partitioned
        // on DIFFERENT keys (fwd windows on a_id, bavg on b_id, the
        // final join) — no exchange reuse applies, so unpersisted the
        // crossJoin cosines (the dominant cost) evaluate 2-3x.
        val pairs = graft.pipeline.Staged(s, dir, "bitext_pairs") {
          cb.crossJoin(broadcast(qa))
            .select(col("a_id"), col("b_id"),
              floor(cosine(col("av"), col("bv"), col("an"), col("bn")) * lit(1e6))
                .cast("long").as("qcos"))
        }
        val fwd = pairs.withColumn("rf", row_number().over(
            Window.partitionBy("a_id").orderBy(col("qcos").desc, col("b_id").asc)))
        val favg = fwd.filter(col("rf") <= k)
          .groupBy("a_id").agg(sum("qcos").as("sf"))
        val bavg = pairs.withColumn("rb", row_number().over(
            Window.partitionBy("b_id").orderBy(col("qcos").desc, col("a_id").asc)))
          .filter(col("rb") <= k)
          .groupBy("b_id").agg(sum("qcos").as("sb"))
        fwd.filter(col("rf") <= k)
          .join(favg, Seq("a_id")).join(bavg, Seq("b_id"))
          .withColumn("margin",
            lit(2.0 * k) * col("qcos") / (col("sf") + col("sb")).cast("double"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("a_id")
              .orderBy(col("margin").desc, col("b_id").asc)).cast("long"))
          .filter(col("rank") <= 2)
          .select(col("a_id"), col("rank"), col("b_id"),
            (col("qcos").cast("double") / lit(1e6)).as("cos_q"),
            rx(col("margin"), 6).as("margin"),
            (col("margin") >= 1.05).as("accept"))
          .orderBy("a_id", "rank")
      },
      Some(s"""WITH qa AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < 40 AND label % 2 = 0),
        cb AS (
          SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
        pairs AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 CAST(floor((${cosSql("a", "b")}) * 1e6) AS BIGINT) AS qcos
          FROM qa a CROSS JOIN cb b),
        fwd AS (
          SELECT *, row_number() OVER (PARTITION BY a_id
            ORDER BY qcos DESC, b_id) AS rf FROM pairs),
        favg AS (
          SELECT a_id, CAST(sum(qcos) AS BIGINT) AS sf
          FROM fwd WHERE rf <= 4 GROUP BY a_id),
        bavg AS (
          SELECT b_id, CAST(sum(qcos) AS BIGINT) AS sb
          FROM (SELECT *, row_number() OVER (PARTITION BY b_id
                  ORDER BY qcos DESC, a_id) AS rb FROM pairs)
          WHERE rb <= 4 GROUP BY b_id),
        scored AS (
          SELECT f.a_id, f.b_id, f.qcos,
                 8.0 * f.qcos / CAST(v.sf + w.sb AS DOUBLE) AS margin
          FROM fwd f
          JOIN favg v ON f.a_id = v.a_id
          JOIN bavg w ON f.b_id = w.b_id
          WHERE f.rf <= 4)
        SELECT a_id, CAST(rank AS BIGINT) AS rank, b_id,
               CAST(qcos AS DOUBLE) / 1e6 AS cos_q,
               ${rxSql("margin", 6)} AS margin,
               margin >= 1.05 AS accept
        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
                ORDER BY margin DESC, b_id) AS rank FROM scored)
        WHERE rank <= 2 ORDER BY a_id, rank""")),

    QDef("sample_kcenter_coreset",
      // Greedy k-center (farthest-point) coreset selection — the
      // diversity-maximizing data-pruning pass (the geometric heart of
      // coreset/active-learning selection): seed with the min-id
      // vector, then k-1 times pick the point farthest from the
      // selected set and report each center's selection radius (its
      // distance to the prior set — the k-center objective trajectory)
      // and how many points it finally covers. All distances are exact
      // int64 squared-Euclidean over the staged 1e6-quantized vectors
      // (the Lloyd-trainer discipline), so the whole greedy trajectory
      // is integer-deterministic and DuckDB replays it from k-1
      // unrolled CTE rounds. Distributed shape: each round is one
      // linear min-update against a 1-ROW broadcast center (nothing
      // collected to the driver — the argmax is a limit(1) inside the
      // plan) + an eager checkpoint to keep the plan flat; the final
      // assignment is a k-row broadcast cross join + one window. At
      // 100 TB: k linear passes, no pairwise stage anywhere.
      (s, dir) => {
        val k = 5
        def qdist(a: Column, b: Column): Column = aggregate(
          zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x)
        val qv = quantVecs(s, dir).select(col("vec_id"), col("vq"))
        // Checkpoints go through Lineage.checkpoint: identical
        // execution (eager localCheckpoint), but the pre-checkpoint
        // plan is recorded so BroadcastHintGuardSpec can certify the
        // k-row center table structurally (limit(1) seeds unioned)
        // instead of by allowlist claim.
        val seed = graft.pipeline.Lineage.checkpoint(
          qv.orderBy("vec_id").limit(1)
            .select(col("vec_id").as("c_id"), col("vq").as("cq"),
              lit(0L).as("radius"), lit(0L).as("sel_order")))
        var centers = seed
        var latest = seed
        var st = qv
        for (t <- 1 until k) {
          // Min-update against the newest center, then argmax. The
          // state is referenced twice per round (update + next round),
          // so eager checkpoints keep execution linear (the BFS lesson).
          st = graft.pipeline.Lineage.checkpoint(
            st.crossJoin(broadcast(latest.select(col("cq"))))
              .select(col("vec_id"), col("vq"),
                (if (t == 1) qdist(col("vq"), col("cq"))
                 else least(col("dmin"), qdist(col("vq"), col("cq")))).as("dmin")))
          latest = graft.pipeline.Lineage.checkpoint(
            st.orderBy(col("dmin").desc, col("vec_id")).limit(1)
              .select(col("vec_id").as("c_id"), col("vq").as("cq"),
                col("dmin").as("radius"), lit(t.toLong).as("sel_order")))
          centers = centers.unionByName(latest)
        }
        val ctab = graft.pipeline.Lineage.checkpoint(centers)
        val w = Window.partitionBy("vec_id")
          .orderBy(col("d").asc, col("sel_order").asc)
        val counts = qv.crossJoin(broadcast(ctab))
          .select(col("vec_id"), col("sel_order"),
            qdist(col("vq"), col("cq")).as("d"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .groupBy("sel_order").agg(count(lit(1)).as("n_assigned"))
        ctab.join(counts, Seq("sel_order"), "left")
          .select(col("sel_order"), col("c_id").as("vec_id"),
            coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
            col("radius"))
          .orderBy("sel_order")
      },
      Some(kcenterOracleSql)),

    QDef("sim_cluster_purity",
      // Clustering quality audit — the label-purity table next to the
      // recall audits (sim_ann_ivf_recall, dedup_minhash_recall): per
      // trained IVF cluster, member count, majority label, and exact
      // purity_ppm — the number that says whether the coarse quantizer
      // actually groups semantically-alike vectors (and hence whether
      // dedup_semantic_cluster's within-cluster-only verification can
      // be trusted at scale). The majority is the same argmax-by-struct
      // hash aggregate the LPA rounds use ("highest count, ties to
      // smallest label"), purity is integer ppm — no floats anywhere.
      // Reuses the staged assignment; two bounded aggregates.
      (s, dir) => {
        val members = ivfAssigned(s, dir).filter(col("crk") === 1)
          .select(col("vec_id"), col("c_id"))
        val lab = vecs(s, dir).select(col("vec_id"), col("label"))
        members.join(lab, "vec_id")
          .groupBy("c_id", "label").agg(count(lit(1)).as("n"))
          .groupBy("c_id")
          .agg(sum(col("n")).as("n_members"),
            max(struct(col("n"), (-col("label")).cast("long").as("neg"))).as("m"))
          .select(col("c_id"), col("n_members"),
            (-col("m.neg")).cast("long").as("majority_label"),
            col("m.n").as("majority_n"),
            expr("(m.n * 1000000) div n_members").as("purity_ppm"))
          .orderBy("c_id")
      },
      Some(s"""WITH $ivfTopSqlCtes,
        lc AS (
          SELECT l.c_id, e.label, count(*) AS n
          FROM lists l JOIN embeddings e USING (vec_id)
          GROUP BY l.c_id, e.label),
        maj AS (
          SELECT c_id, label, n,
                 row_number() OVER (PARTITION BY c_id
                   ORDER BY n DESC, label) AS rk,
                 sum(n) OVER (PARTITION BY c_id) AS n_members
          FROM lc)
        SELECT c_id, CAST(n_members AS BIGINT) AS n_members,
               CAST(label AS BIGINT) AS majority_label,
               CAST(n AS BIGINT) AS majority_n,
               CAST((n * 1000000) // n_members AS BIGINT) AS purity_ppm
        FROM maj WHERE rk = 1 ORDER BY c_id""")),

    QDef("sim_centroid_drift",
      // Embedding-centroid DRIFT between two snapshots — the monitoring
      // table an embedding-backed pipeline checks between crawls /
      // model refreshes (did class-5's region move? is snapshot B's
      // encoder still the same geometry?): the corpus splits into two
      // deterministic hash-snapshots, each label reports both snapshot
      // populations, the cosine between its two snapshot centroids
      // (≈1.0 = stable region) and the straight-line L2 the centroid
      // moved. Exactness: same discipline as sim_centroid_separation —
      // per-dimension sums are exact int64 over micro-quantized
      // components, means are single IEEE divisions, and the cosine /
      // L2 fold the 64-dim arrays IN-ORDER (aggregate/zip_with ≙
      // DuckDB's prepended list_reduce), so every number is
      // bit-identical cross-engine. Scale: one posexplode scan with the
      // snapshot key riding along (corpus × 64 rows), one
      // (label, snap, dim) aggregate; the drift join runs on 2·labels
      // rows. Both snapshot arms verified non-empty per label at
      // sf0.001 AND sf0.01.
      (s, dir) => {
        val snap = pmod(graft.functions.Text.md5Hash32(
          concat(lit("snap:"), col("vec_id").cast("string"))), lit(2L))
        val base = t(s, dir, "embeddings").withColumn("snap", snap)
        val comp = base
          .select(col("label"), col("snap"),
            posexplode(col("embedding")).as(Seq("d", "x")))
          .withColumn("xq",
            floor(col("x").cast("double") * 1000000.0 + 0.5).cast("long"))
        val nPer = base.groupBy("label", "snap")
          .agg(count(lit(1)).as("n_vecs"))
        val cent = comp.groupBy("label", "snap", "d").agg(sum("xq").as("sq"))
          .join(nPer, Seq("label", "snap"))
          .withColumn("m", col("sq").cast("double") /
            (col("n_vecs").cast("double") * 1000000.0))
          .groupBy("label", "snap", "n_vecs")
          .agg(transform(
            sort_array(collect_list(struct(col("d"), col("m")))),
            e => e.getField("m")).as("c"))
        val nrm = (c: Column) => sqrt(aggregate(
          transform(c, x => x * x), lit(0d), (a, x) => a + x))
        cent.filter(col("snap") === 0).as("a")
          .join(cent.filter(col("snap") === 1).as("b"),
            col("a.label") === col("b.label"))
          .select(col("a.label").as("label"),
            col("a.n_vecs").as("n_a"), col("b.n_vecs").as("n_b"),
            rx(aggregate(zip_with(col("a.c"), col("b.c"), (x, y) => x * y),
              lit(0d), (acc, x) => acc + x) /
              (nrm(col("a.c")) * nrm(col("b.c"))), 6).as("centroid_cos"),
            rx(sqrt(aggregate(
              zip_with(col("a.c"), col("b.c"), (x, y) => (x - y) * (x - y)),
              lit(0d), (acc, x) => acc + x)), 6).as("l2_drift"))
          .orderBy("label")
      }, {
        val fold = (l: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (a, x) -> a + x)"
        Some(s"""WITH base AS (
          SELECT label, embedding,
                 CAST(('0x' || substr(md5('snap:' || CAST(vec_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 2 AS snap
          FROM embeddings),
        comp AS (
          SELECT label, snap, d,
                 CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
          FROM (SELECT label, snap, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) - 1 AS d
                FROM base)),
        n_per AS (SELECT label, snap, CAST(count(*) AS BIGINT) AS n_vecs
                  FROM base GROUP BY 1, 2),
        sums AS (
          SELECT label, snap, d, CAST(sum(xq) AS BIGINT) AS sq
          FROM comp GROUP BY 1, 2, 3),
        cent AS (
          SELECT s.label, s.snap, n.n_vecs,
                 list_transform(
                   list_sort(list(struct_pack(d := s.d, m :=
                     CAST(s.sq AS DOUBLE) / (CAST(n.n_vecs AS DOUBLE) * 1000000.0)))),
                   e -> e.m) AS c
          FROM sums s JOIN n_per n ON n.label = s.label AND n.snap = s.snap
          GROUP BY 1, 2, 3)
        SELECT a.label AS label, a.n_vecs AS n_a, b.n_vecs AS n_b,
               ${rxSql(
            s"""${fold("list_transform(range(64), i -> a.c[i+1] * b.c[i+1])")} /
               (sqrt(${fold("list_transform(range(64), i -> a.c[i+1] * a.c[i+1])")}) *
                sqrt(${fold("list_transform(range(64), i -> b.c[i+1] * b.c[i+1])")}))""", 6)} AS centroid_cos,
               ${rxSql(
            s"""sqrt(${fold("list_transform(range(64), i -> (a.c[i+1] - b.c[i+1]) * (a.c[i+1] - b.c[i+1]))")})""", 6)} AS l2_drift
        FROM cent a JOIN cent b ON a.label = b.label
          AND a.snap = 0 AND b.snap = 1
        ORDER BY label""")
      })
  )

  /** Unrolled DuckDB replay of the greedy k-center trajectory (k=5):
    * c0 = min-id seed, then per round d_t = running min distance and
    * c_t = its argmax (DESC, vec_id tiebreak) — the same exact-int64
    * quantized distances as the Spark side.
    */
  // lazy: declared after `all`, which captures it during object init —
  // a strict val here is still null at capture time (the NPE class of
  // bug ScalaC cannot see through forward references in object bodies).
  private lazy val kcenterOracleSql: String = {
    val k = 5
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range($Dims), i -> ($a.vq[i+1] - $b.cq[i+1]) * ($a.vq[i+1] - $b.cq[i+1])))"
    val rounds = (1 until k).map { t =>
      val src = if (t == 1) "ve" else s"d${t - 1}"
      val dm = if (t == 1) dist("p", "c0")
        else s"least(p.dmin, ${dist("p", s"c${t - 1}")})"
      s"""d$t AS (
          SELECT p.vec_id, p.vq, $dm AS dmin FROM $src p CROSS JOIN c${t - 1}),
        c$t AS (
          SELECT vec_id AS c_id, vq AS cq, CAST(dmin AS BIGINT) AS radius,
                 CAST($t AS BIGINT) AS sel_order
          FROM d$t ORDER BY dmin DESC, vec_id LIMIT 1)"""
    }.mkString(",\n        ")
    val union = (0 until k).map(t => s"SELECT * FROM c$t").mkString(" UNION ALL ")
    s"""WITH ve AS (
          SELECT vec_id,
                 list_transform(range($Dims),
                   i -> CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS vq
          FROM embeddings),
        c0 AS (
          SELECT vec_id AS c_id, vq AS cq, CAST(0 AS BIGINT) AS radius,
                 CAST(0 AS BIGINT) AS sel_order
          FROM ve ORDER BY vec_id LIMIT 1),
        $rounds,
        centers AS ($union),
        assign AS (
          SELECT vec_id, sel_order,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d ASC, sel_order ASC) AS rk
          FROM (SELECT ve.vec_id, c.sel_order, ${dist("ve", "c")} AS d
                FROM ve CROSS JOIN centers c)),
        cnts AS (
          SELECT sel_order, count(*) AS n_assigned
          FROM assign WHERE rk = 1 GROUP BY sel_order)
        SELECT c.sel_order, c.c_id AS vec_id,
               CAST(coalesce(n.n_assigned, 0) AS BIGINT) AS n_assigned, c.radius
        FROM centers c LEFT JOIN cnts n ON c.sel_order = n.sel_order
        ORDER BY c.sel_order"""
  }

  /** The NSW routing result (q_id, rank, vec_id, cos), rank <= 3 —
    * shared by sim_graph_route and its recall audit so both consume
    * the identical index build and beam trajectory.
    */
  /** The staged NSW adjacency (src, dst) — extracted from
    * graphRoutedTop3 so the mutual-kNN core decomposition reuses the
    * identical index build (and its cross-JVM stage artifact).
    */
  private def nswAdjacency(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.diskKeyed(s, dir,
        s"nsw_adj_d${NswDeg}r$NswBuildRounds")(nswSeedEdges(s, dir)) {
      var edges = nswSeedEdges(s, dir).localCheckpoint(true)
      for (_ <- 1 to NswBuildRounds)
        edges = nswRefineRound(s, dir, edges, nswRing(s, dir), checkpoint = true)
          .localCheckpoint(true)
      edges
    }

  /** Staged: the walk is a dozen checkpointed frontier rounds (descent
    * + layer-0 beam) whose result both sim_graph_route and its recall
    * audit consume — unstaged, the whole walk executed twice.
    * diskKeyed on the declarative seed-edge plan (the walk's result
    * plan is an unstable LogicalRDD) with every routing knob folded
    * into the tag. The adjacencies are requested before the lookup, so
    * a cache hit stages the same tags as a miss.
    */
  private def graphRoutedTop3(s: SparkSession, dir: String): DataFrame = {
    val adj = nswAdjacency(s, dir)
    val layers = NswLayerMods.reverse.map(m => nswLayerAdjacency(s, dir, m))
    graft.pipeline.Staged.diskKeyed(s, dir,
        s"nsw_routed_b${NswBeam}h${NswHops}e${NswEntryPoints}" +
          s"k${NswDescentKeepTop}_${NswDescentKeep}dh$NswDescentHops" +
          s"ls${NswLayerSeeds}lr$NswLayerRounds")(
        nswSeedEdges(s, dir))(graphRoutedTop3Walk(s, dir, adj, layers))
  }

  /** The walk over the layer-0 adjacency `adj` and the upper-layer
    * adjacencies `layers`, top layer first.
    */
  private def graphRoutedTop3Walk(s: SparkSession, dir: String,
      adj: DataFrame, layers: Seq[DataFrame]): DataFrame = {
    val e = vecs(s, dir)
    // Bounded-degree navigable graph via NN-DESCENT — never all-pairs:
    // the start graph is one deterministic ring edge (the long-range
    // link that keeps the graph CONNECTED) plus NswSeeds md5-derived
    // pseudo-random links per node, then NswBuildRounds refinement
    // rounds each propose every node's neighbors-of-neighbors (over
    // the UNDIRECTED current graph), exact-rescore the candidates, and
    // keep the best NswDeg out-edges. Per round that is O(n · deg²)
    // scored pairs — linear in the corpus at fixed degree, the build
    // that survives 100 TB, versus the O(n²) brute-force KNN this
    // replaced. An earlier LSH-bucket-local edge set scored ~0 recall
    // (the 8-plane buckets almost never contain a query's true
    // neighbors on these embeddings) and the recall audit below is
    // what caught it: route quality is a MEASURED property, never
    // assumed — the audit re-prices every change to this build.
    // Each round references the previous edge set twice (reverse
    // union, then the self-join), so rounds are eagerly
    // localCheckpoint'd — the BFS lesson: Spark shares no common
    // subtrees, and the plan would otherwise double per round.
    // diskKeyed: the checkpointed loop's result plan is an unstable
    // LogicalRDD, so the cross-JVM artifact is keyed by the declarative
    // seed-edge plan (NswSeeds is baked into it) with the round count
    // and degree folded into the tag.
    val q = e.filter(col("vec_id") < QueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    def score(fr: DataFrame): DataFrame = fr
      .join(e.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        rx(cosine(col("qv"), col("v"), col("qnrm"), col("nrm")), 6)
          .as("cos"))
    // Entry point per query: HNSW greedy descent through the upper
    // layers — start at the top layer's fixed entry member, greedy
    // (beam 1) over the top-layer graph, then beam 2 over each lower
    // upper layer; the survivors seed the layer-0 beam. This replaced
    // the round-10 entry (exact top-2 within a 1-in-4 id-hash sample:
    // n/4 dots PER QUERY — the operator's last linear-in-corpus
    // stage); routing is now O(hops·beam·deg) at every level.
    val top = NswLayerMods.last
    val topM = nswLayerMembers(s, dir, top)
    val entry = topM
      .crossJoin(broadcast(topM.agg(count(lit(1)).as("mcnt"))))
      .filter((0 until NswEntryPoints)
        .map(i => col("mrk") === expr(s"($i * mcnt) div $NswEntryPoints"))
        .reduce(_ || _))
      .select("vec_id")
    var beam = q.select("q_id").crossJoin(broadcast(entry))
    for ((adjU, li) <- layers.zipWithIndex) {
      val keep = if (li == 0) NswDescentKeepTop else NswDescentKeep
      for (_ <- 1 to NswDescentHops) {
        val fr = beam.union(
            beam.join(adjU.toDF("vec_id", "dst"), Seq("vec_id"))
              .select(col("q_id"), col("dst").as("vec_id")))
          .distinct()
        beam = score(fr)
          .withColumn("rk", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cos").desc, col("vec_id").asc)))
          .filter(col("rk") <= keep)
          .select("q_id", "vec_id")
          .localCheckpoint(true)
      }
    }
    for (_ <- 1 to NswHops) {
      val fr = beam.union(
          beam.join(adj.toDF("vec_id", "dst"), Seq("vec_id"))
            .select(col("q_id"), col("dst").as("vec_id")))
        .distinct()
      beam = score(fr)
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("rk") <= NswBeam)
        .select("q_id", "vec_id")
        .localCheckpoint(true)
    }
    score(beam.filter(col("vec_id") =!= col("q_id")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** The deterministic ring edge per vector — the long-range link that
    * keeps the navigable graph connected; re-unioned into every
    * refinement round's output.
    */
  private def nswRing(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val n = e.agg(max(col("vec_id")).as("mxid"))
    e.select(col("vec_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"), pmod(col("src") + 1, col("mxid") + 1).as("dst"))
  }

  /** Start graph: ring ∪ NswSeeds md5-derived pseudo-random links per
    * node (deterministic, so the oracle replays them exactly).
    */
  private def nswSeedEdges(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val n = e.agg(max(col("vec_id")).as("mxid"))
    val seeds = e.select(col("vec_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"), explode(array((0 until NswSeeds).map(j =>
        pmod(graft.functions.Text.md5Hash32(
          concat(lit("nswr:"), col("src").cast("string"), lit(s":$j"))),
          col("mxid") + 1)): _*)).as("dst"))
      .filter(col("src") =!= col("dst"))
    nswRing(s, dir).union(seeds).distinct()
  }

  /** HNSW layer membership for decay modulus `mod`, re-indexed by a
    * 0-based member ordinal `mrk` (DistributedRank — no global window)
    * so the layer ring and seed targets ride contiguous ordinals even
    * though member vec_ids are sparse.
    */
  private def nswLayerMembers(s: SparkSession, dir: String, mod: Long): DataFrame =
    graft.operators.DistributedRank.withGlobalRank(
        vecs(s, dir)
          .filter(pmod(graft.functions.Text.md5Hash32(
            concat(lit("nswl:"), col("vec_id").cast("string"))),
            lit(mod)) === 0)
          .select(col("vec_id")),
        col("vec_id"), col("vec_id"), out = "mrk")
      .select(col("vec_id"), (col("mrk") - 1).as("mrk"))

  /** One HNSW upper layer's navigable graph: member-rank ring (the
    * connectivity backbone) + md5-derived pseudo-random member links,
    * refined by the SAME NN-descent rounds as layer 0 — restricted to
    * members by construction (edges never leave the member set; only
    * the exact rescoring joins the full vector table). Staged like the
    * layer-0 adjacency: the checkpointed loop's result plan is an
    * unstable LogicalRDD, so the cross-JVM artifact keys on the
    * declarative seed-edge plan with the knobs folded into the tag.
    */
  private def nswLayerAdjacency(s: SparkSession, dir: String, mod: Long): DataFrame =
    graft.pipeline.Staged.diskKeyed(s, dir,
        s"nsw_l${mod}_adj_d${NswDeg}s${NswLayerSeeds}r$NswLayerRounds")(
        nswLayerSeedEdges(s, dir, mod)) {
      val ring = nswLayerRing(s, dir, mod)
      var edges = nswLayerSeedEdges(s, dir, mod).localCheckpoint(true)
      for (_ <- 1 to NswLayerRounds)
        edges = nswRefineRound(s, dir, edges, ring, checkpoint = true)
          .localCheckpoint(true)
      edges
    }

  private def nswLayerRing(s: SparkSession, dir: String, mod: Long): DataFrame = {
    val m = nswLayerMembers(s, dir, mod)
    val cnt = m.agg(count(lit(1)).as("mcnt"))
    m.crossJoin(broadcast(cnt))
      .select(col("vec_id").as("src"),
        pmod(col("mrk") + 1, col("mcnt")).as("nrk"))
      .join(m.select(col("vec_id").as("dst"), col("mrk").as("nrk")), Seq("nrk"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
  }

  private def nswLayerSeedEdges(s: SparkSession, dir: String, mod: Long): DataFrame = {
    val m = nswLayerMembers(s, dir, mod)
    val cnt = m.agg(count(lit(1)).as("mcnt"))
    val seeds = m.crossJoin(broadcast(cnt))
      .select(col("vec_id").as("src"),
        explode(array((0 until NswLayerSeeds).map(j =>
          pmod(graft.functions.Text.md5Hash32(
            concat(lit(s"nswl:$mod:"), col("vec_id").cast("string"),
              lit(s":$j"))),
            col("mcnt"))): _*)).as("nrk"))
      .join(m.select(col("vec_id").as("dst"), col("mrk").as("nrk")), Seq("nrk"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    nswLayerRing(s, dir, mod).union(seeds).distinct()
  }

  /** One NN-descent refinement round: candidates are every node's
    * neighbors-of-neighbors over the UNDIRECTED current graph (plus
    * the current edges themselves), exact-rescored, keep the best
    * NswDeg out-edges, re-union the ring. Equi-joins throughout —
    * O(n · deg²) scored pairs, nothing quadratic in the corpus.
    * `ring` is the connectivity backbone re-unioned every round — the
    * full-corpus ring for layer 0, a member-rank ring for the HNSW
    * upper layers (the round itself is layer-agnostic: scoring joins
    * the full vector table, and candidates never leave the member set
    * because the edge set never does). `checkpoint` truncates the
    * undirected set's lineage in the production loop (it is referenced
    * three times below); the spec hook leaves the full plan visible
    * instead.
    */
  private def nswRefineRound(s: SparkSession, dir: String,
      edges: DataFrame, ring: DataFrame, checkpoint: Boolean): DataFrame = {
    val ev = vecs(s, dir).select(col("vec_id"), col("v"), col("nrm"))
    val wadj = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst").asc)
    val und0 = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val und = if (checkpoint) und0.localCheckpoint(true) else und0
    val cand = und.toDF("src", "mid")
      .join(und.toDF("mid", "dst"), Seq("mid"))
      .select("src", "dst")
      .filter(col("src") =!= col("dst"))
      .union(und)
      .distinct()
    cand
      .join(ev.toDF("src", "sv", "snrm"), Seq("src"))
      .join(ev.toDF("dst", "dv", "dnrm"), Seq("dst"))
      .select(col("src"), col("dst"),
        rx(cosine(col("sv"), col("dv"), col("snrm"), col("dnrm")), 6)
          .as("cos"))
      .withColumn("rk", row_number().over(wadj))
      .filter(col("rk") <= NswDeg)
      .select("src", "dst")
      .union(ring)
      .distinct()
  }

  /** Spec hook (PlanShapeSpec): the first refinement round over the
    * seed graph as one UNcheckpointed plan, so the no-cartesian /
    * degenerate-nested-loop claims are assertable against the executed
    * plan. Production rounds are this exact construction.
    */
  private[graft] def nswBuildRoundForSpec(s: SparkSession, dir: String): DataFrame =
    nswRefineRound(s, dir, nswSeedEdges(s, dir), nswRing(s, dir), checkpoint = false)

  /** Oracle CTE chain replaying the NSW NN-descent build + beam
    * search; exposes `routed` (q_id, cand, cos, rank). Shared by
    * sim_graph_route and sim_recall_graph_route.
    */
  /** CTE chain ending in `adj(src, dst)` ≙ [[nswAdjacency]] — shared
    * by the routing oracle and the mutual-kNN core decomposition.
    */
  private def nswBuildSqlCtes: String = {
    val buildRounds = (1 to NswBuildRounds).map { t =>
      s"""nu$t AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM ne${t - 1}
            UNION ALL
            SELECT dst AS src, src AS dst FROM ne${t - 1})),
        nc$t AS (
          SELECT DISTINCT src, dst FROM (
            SELECT a.src AS src, c.dst AS dst
            FROM nu$t a JOIN nu$t c ON a.dst = c.src
            WHERE a.src <> c.dst
            UNION ALL
            SELECT src, dst FROM nu$t)),
        ns$t AS (
          SELECT c.src, c.dst, ${rxSql(cosSql("sb", "db"), 6)} AS cos
          FROM nc$t c
          JOIN b sb ON sb.vec_id = c.src
          JOIN b db ON db.vec_id = c.dst),
        ne$t AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM (
              SELECT src, dst, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk
              FROM ns$t) WHERE rk <= $NswDeg
            UNION ALL
            SELECT src, dst FROM ring))"""
    }.mkString(",\n        ")
    s"""b AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings),
      nn AS (SELECT max(vec_id) + 1 AS n FROM b),
      ring AS MATERIALIZED (
        SELECT vec_id AS src, (vec_id + 1) % n AS dst
        FROM b CROSS JOIN nn),
      seeds AS (
        SELECT src, dst FROM (
          SELECT v.vec_id AS src,
                 CAST(('0x' || substr(md5('nswr:' || CAST(v.vec_id AS VARCHAR) || ':' || j), 1, 8)) AS BIGINT) % n AS dst
          FROM b v CROSS JOIN nn
          CROSS JOIN unnest(range($NswSeeds)) AS u(j))
        WHERE src <> dst),
      ne0 AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM ring
          UNION ALL
          SELECT src, dst FROM seeds)),
      $buildRounds,
      adj AS MATERIALIZED (SELECT src, dst FROM ne$NswBuildRounds)"""
  }

  /** Oracle replay of one HNSW upper layer's build ≙
    * [[nswLayerAdjacency]]: membership by md5 decay, member ordinals
    * (row_number in the oracle — DuckDB is the reference, not the
    * scale path), rank ring + md5 seed links, NswLayerRounds NN-descent
    * rounds. Exposes `<pfx>m(vec_id, mrk)` and `<pfx>adj(src, dst)`.
    */
  private def nswLayerSqlCtes(pfx: String, mod: Long): String = {
    val rounds = (1 to NswLayerRounds).map { t =>
      s"""${pfx}nu$t AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM ${pfx}ne${t - 1}
            UNION ALL
            SELECT dst AS src, src AS dst FROM ${pfx}ne${t - 1})),
        ${pfx}nc$t AS (
          SELECT DISTINCT src, dst FROM (
            SELECT a.src AS src, c.dst AS dst
            FROM ${pfx}nu$t a JOIN ${pfx}nu$t c ON a.dst = c.src
            WHERE a.src <> c.dst
            UNION ALL
            SELECT src, dst FROM ${pfx}nu$t)),
        ${pfx}ns$t AS (
          SELECT c.src, c.dst, ${rxSql(cosSql("sb", "db"), 6)} AS cos
          FROM ${pfx}nc$t c
          JOIN b sb ON sb.vec_id = c.src
          JOIN b db ON db.vec_id = c.dst),
        ${pfx}ne$t AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM (
              SELECT src, dst, row_number() OVER (PARTITION BY src
                ORDER BY cos DESC, dst) AS rk
              FROM ${pfx}ns$t) WHERE rk <= $NswDeg
            UNION ALL
            SELECT src, dst FROM ${pfx}ring))"""
    }.mkString(",\n        ")
    s"""${pfx}m AS MATERIALIZED (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS mrk
        FROM b
        WHERE CAST(('0x' || substr(md5('nswl:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % $mod = 0),
      ${pfx}n AS (SELECT count(*) AS mcnt FROM ${pfx}m),
      ${pfx}ring AS MATERIALIZED (
        SELECT a.vec_id AS src, c.vec_id AS dst
        FROM ${pfx}m a CROSS JOIN ${pfx}n
        JOIN ${pfx}m c ON c.mrk = (a.mrk + 1) % mcnt
        WHERE a.vec_id <> c.vec_id),
      ${pfx}seeds AS (
        SELECT a.vec_id AS src, c.vec_id AS dst
        FROM ${pfx}m a CROSS JOIN ${pfx}n
        CROSS JOIN unnest(range($NswLayerSeeds)) AS u(j)
        JOIN ${pfx}m c ON c.mrk =
          CAST(('0x' || substr(md5('nswl:$mod:' || CAST(a.vec_id AS VARCHAR) || ':' || j), 1, 8)) AS BIGINT) % mcnt
        WHERE a.vec_id <> c.vec_id),
      ${pfx}ne0 AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM ${pfx}ring
          UNION ALL
          SELECT src, dst FROM ${pfx}seeds)),
      $rounds,
      ${pfx}adj AS MATERIALIZED (SELECT src, dst FROM ${pfx}ne$NswLayerRounds)"""
  }

  /** Oracle replay of the HNSW greedy descent ≙ the upper-layer loop
    * in [[graphRoutedTop3]]: fixed entry at the top layer's min-id
    * member, NswDescentHops rounds per layer (beam 1 at the top, 2
    * below), survivors seed the layer-0 beam. Exposes
    * `bm0(q_id, cand)`.
    */
  private def hnswDescentSqlCtes: String = {
    val layers = NswLayerMods.zipWithIndex
      .map { case (mod, i) => (s"l${i + 1}", mod) }
    val builds = layers.map { case (p, m) => nswLayerSqlCtes(p, m) }
      .mkString(",\n      ")
    val ordered = layers.reverse
    val chains = ordered.zipWithIndex.map { case ((p, _), li) =>
      val keep = if (li == 0) NswDescentKeepTop else NswDescentKeep
      val seed =
        if (li == 0)
          s"""d${p}s0 AS (
          SELECT q.vec_id AS q_id, e.cand
          FROM b q CROSS JOIN ent e
          WHERE q.vec_id < $QueryVecs)"""
        else
          s"""d${p}s0 AS (
          SELECT q_id, cand FROM d${ordered(li - 1)._1}s$NswDescentHops)"""
      val rounds = (1 to NswDescentHops).map { t =>
        s"""d${p}f$t AS (
          SELECT DISTINCT q_id, cand FROM (
            SELECT q_id, cand FROM d${p}s${t - 1}
            UNION ALL
            SELECT m.q_id, a.dst AS cand
            FROM d${p}s${t - 1} m JOIN ${p}adj a ON a.src = m.cand)),
        d${p}c$t AS (
          SELECT f.q_id, f.cand, ${rxSql(cosSql("qq", "e"), 6)} AS cos
          FROM d${p}f$t f
          JOIN b e ON e.vec_id = f.cand
          JOIN b qq ON qq.vec_id = f.q_id),
        d${p}s$t AS MATERIALIZED (
          SELECT q_id, cand FROM (
            SELECT q_id, cand, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, cand) AS rk
            FROM d${p}c$t) WHERE rk <= $keep)"""
      }.mkString(",\n        ")
      s"$seed,\n        $rounds"
    }.mkString(",\n      ")
    val entList = (0 until NswEntryPoints)
      .map(i => s"($i * mcnt) // $NswEntryPoints").mkString(", ")
    s"""$builds,
      ent AS (
        SELECT vec_id AS cand FROM ${ordered.head._1}m
        CROSS JOIN ${ordered.head._1}n
        WHERE mrk IN ($entList)),
      $chains,
      bm0 AS MATERIALIZED (
        SELECT q_id, cand FROM d${ordered.last._1}s$NswDescentHops)"""
  }

  private def routeSqlCtes: String = {
    val rounds = (1 to NswHops).map { t =>
      s"""fr$t AS (
          SELECT DISTINCT q_id, cand FROM (
            SELECT q_id, cand FROM bm${t - 1}
            UNION ALL
            SELECT m.q_id, a.dst AS cand
            FROM bm${t - 1} m JOIN adj a ON a.src = m.cand)),
        sc$t AS (
          SELECT f.q_id, f.cand, ${rxSql(cosSql("qq", "e"), 6)} AS cos
          FROM fr$t f
          JOIN b e ON e.vec_id = f.cand
          JOIN b qq ON qq.vec_id = f.q_id),
        bm$t AS MATERIALIZED (
          SELECT q_id, cand FROM (
            SELECT q_id, cand, row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, cand) AS rk
            FROM sc$t) WHERE rk <= $NswBeam)"""
    }.mkString(",\n        ")
    s"""$nswBuildSqlCtes,
      $hnswDescentSqlCtes,
      $rounds,
      fin AS (
        SELECT m.q_id, m.cand, ${rxSql(cosSql("qq", "e"), 6)} AS cos
        FROM bm$NswHops m
        JOIN b e ON e.vec_id = m.cand
        JOIN b qq ON qq.vec_id = m.q_id
        WHERE m.cand <> m.q_id),
      routed AS (
        SELECT q_id, cand, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, cand) AS BIGINT) AS rank
        FROM fin)"""
  }
}
