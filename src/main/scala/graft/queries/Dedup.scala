package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Text

/** North-star deduplication operators (BASELINE.json north_star): exact,
  * MinHash+LSH banding, SimHash signatures, n-gram Jaccard, and
  * embedding-cosine near-dup. All hashes are md5-derived 32-bit ints
  * (`Text.md5Hash32`) so every value is integer-exact in any engine —
  * no reliance on Spark-private murmur3 — and every pairwise stage is
  * VERIFY-ON-CANDIDATES: candidate pairs come from an LSH bucket
  * equi-join (MinHash bands for text, random hyperplanes for vectors)
  * and the exact measure (Jaccard / cosine) rescores only those pairs.
  * No stage is quadratic in the corpus — index build is linear, the
  * bucket join is bucket-local, verify is linear in candidates — which
  * is how the same plan survives 100 TB.
  */
object Dedup {
  import QDef._

  /** n-token shingles — shared guarded idiom, see [[Text.shingles]]. */
  private def shingles(ts: Column, n: Int): Column = Text.shingles(ts, n)

  private def toks: Column = Text.tokens(Text.normTerm(col("text")))
  private val toksSql =
    """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""
  private val shSql =
    s"list_transform(range(greatest(len($toksSql) - 2, 0)), i -> $toksSql[i+1] || ' ' || $toksSql[i+2] || ' ' || $toksSql[i+3])"
  private val h32Sql = (e: String) => s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  private val MinhashK = 16
  private val BandRows = 4

  /** dedup_span_exact's anchor-gram width = its min-match length L:
    * exact for duplicated spans of length ≥ SpanK, blind below.
    */
  private[queries] val SpanK = 4

  /** Band-sweep configurations (index, bands, rows-per-band, t*): every
    * b×r factorization of K=16 except r=1 (see dedup_band_sweep's
    * Scaladoc). t* = (1/b)^(1/r) is evaluated here ONCE and flows to
    * both engines as the same literal — one Seq, no pow at query time.
    */
  private val BandSweepCfgs: Seq[(Int, Int, Int, Double)] =
    Seq((0, 8, 2), (1, 4, 4), (2, 2, 8), (3, 1, 16)).map { case (i, b, r) =>
      (i, b, r, math.pow(1.0 / b, 1.0 / r))
    }

  /** DuckDB VALUES list ≙ [[BandSweepCfgs]]; `e0` exponent form forces
    * DOUBLE (a bare decimal literal list parses as DECIMAL and loses
    * the 17th significant digit).
    */
  private val bandSweepValuesSql = BandSweepCfgs
    .map { case (i, b, r, t) => s"($i, $b, $r, ${t}e0)" }.mkString(", ")

  /** doc_id → (band, band-signature) rows: the LSH index build.
    *
    * One md5 per shingle; the K hash families are affine rehashes
    * `(h0·(2k+1) + k·2654435761) mod (2^31-1)` of that base hash — the
    * standard minwise trick that avoids K full hashes per shingle (16×
    * fewer md5 evaluations, integer-exact in any engine). The token
    * array is materialized as a bound column BEFORE the shingle lambda:
    * passing the raw split(...) expression into `transform` would
    * re-evaluate the whole tokenization at every element access.
    */
  /** The K-minhash table (doc_id, k, h) — minhashBands' pre-banding
    * stage, also read directly by the estimator-bias audit.
    */
  private def minhashK(docs: DataFrame): DataFrame =
    docs
      .withColumn("tks", toks)
      .select(col("doc_id"), explode(shingles(col("tks"), 3)).as("shingle"))
      .select(col("doc_id"), Text.md5Hash32(col("shingle")).as("h0"))
      .select(col("doc_id"), col("h0"),
        explode(lit((0 until MinhashK).toArray)).as("k"))
      .select(col("doc_id"), col("k"),
        ((col("h0") * (col("k") * 2 + 1) + col("k") * lit(2654435761L))
          % lit(2147483647L)).as("hv"))
      .groupBy("doc_id", "k").agg(min("hv").as("h"))

  /** Per-row signature build via the fused native kernel
    * (ShingleMinHashExpr: tokens → shingles → md5 → 16-lane min in one
    * JVM loop) — values identical to the explode + groupBy-min
    * spelling (min over the shingle multiset; MinHashSigSpec pins all
    * spellings equal), but the plan drops the docs×shingles×K explode
    * AND the (doc, k) shuffle entirely, and keeps md5 out of the
    * interpreted-lambda path (the HOF spelling ran ~2.7 ms/doc): at
    * 100 TB the index build is one codegen'd scan emitting 4 band
    * rows per doc.
    */
  private def minhashBands(docs: DataFrame): DataFrame = {
    val bands = array((0 until MinhashK / BandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until BandRows).map { j =>
          element_at(col("mins"), b * BandRows + j + 1).cast("string")
        }: _*).as("bsig"))
    }: _*)
    docs
      .withColumn("tks", toks)
      .filter(size(col("tks")) >= 3)
      .withColumn("mins", graft.functions.ShingleMinHashExpr.sig(col("tks")))
      .select(col("doc_id"), explode(bands).as("bb"))
      .select(col("doc_id"), col("bb.band").cast("int").as("band"),
        col("bb.bsig").as("bsig"))
  }

  /** The corpus's staged band index — the one builder of
    * "minhash_bands", shared by the whole minhash family.
    */
  private def bandIndex(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "minhash_bands") {
      minhashBands(t(s, dir, "documents"))
    }

  /** LSH candidate pairs: docs sharing any band signature — the join
    * key is (band, bsig), bucket-local, never all-pairs. Shared by the
    * pair query and the cluster query.
    */
  private def candidatePairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val b = bandIndex(s, dir)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Per-document sorted distinct 3-gram hash sets, staged — the
    * verify side of the Jaccard query and the decontamination overlap
    * both read it. tks bound first — see minhashBands on lambda
    * re-evaluation.
    */
  private def ngramSets(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "ngram_sets") {
      t(s, dir, "documents")
        .withColumn("tks", toks)
        .select(col("doc_id"),
          sort_array(array_distinct(
            graft.functions.ShingleHash32Expr.hashes(col("tks")))).as("ss"))
    }

  /** Per-document 32-bit SimHash signatures, staged: the signature
    * query and the banded pair query share one build.
    */
  private def simhashSigs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "simhash_sigs") {
      val votes = (0 until 32).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b"))
      val sig = (0 until 32).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      t(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("tok"))
        .select(col("doc_id"), Text.md5Hash32(col("tok")).as("h"))
        .groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sig.cast("long").as("simhash"))
    }

  /** DuckDB CTE chain ending in `sigs(doc_id, simhash)` ≙ [[simhashSigs]]. */
  private val simhashSqlCtes: String = {
    val votes = (0 until 32)
      .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(", ")
    val sig = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""th AS (
          SELECT doc_id, ${h32Sql("tok")} AS h
          FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)),
        v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
        sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM v)"""
  }

  /** SimHash near-dup pairs (exact Hamming ≤ 3 verified on 4-byte-band
    * pigeonhole candidates — any pair within radius 3 must share one
    * of the 4 bands); shared by dedup_simhash_pairs and the
    * capture-recapture coverage audit. Shuffle key = (band, byte):
    * bucket-local, never all-pairs.
    */
  private def simhashPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val sigs = simhashSigs(s, dir)
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("simhash"), i * 8).bitwiseAND(lit(255L)).as("bv"))): _*))
        .as("x"))
      .select(col("doc_id"), col("simhash"),
        col("x.band").as("band"), col("x.bv").as("bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** DuckDB CTEs ≙ [[simhashPairs]], ending in
    * `spairs(doc_a, doc_b, hamming)`; requires [[simhashSqlCtes]]
    * (`sigs`) upstream. `sbands`/`spairs` names avoid colliding with
    * the minhash chain's `bands`/`cpairs` when both appear in one
    * oracle (the capture-recapture audit).
    */
  private val simhashPairsSql: String =
    """sbands AS (
          SELECT doc_id, simhash, i AS band, (simhash >> (i * 8)) & 255 AS bv
          FROM sigs, (SELECT unnest(range(4)) AS i)),
        spairs AS (
          SELECT doc_a, doc_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sbands a JOIN sbands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
          WHERE hamming <= 3)"""

  /** Connected-components labels over the LSH pair graph, staged: the
    * multi-round loop runs once per session+dir and both the cluster
    * query and the leakage-safe split reuse the persisted labels.
    * diskKeyed (not disk): the loop localCheckpoints per round, so the
    * RESULT plan is an unstable LogicalRDD — the cross-JVM artifact is
    * keyed by the declarative candidate-pair INPUT plan instead, and a
    * cache hit skips the whole propagation loop.
    */
  private def ccLabels(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.diskKeyed(s, dir, "cc_labels")(candidatePairs(s, dir)) {
      graft.operators.ConnectedComponents
        .clusters(candidatePairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
    }

  /** Cross-family access to the staged content clusters (the
    * web-curation ↔ dedup bridge query joins them against canonical
    * URL groups).
    */
  private[queries] def contentClusters(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ccLabels(s, dir)

  /** The CC labeling's oracle replay, for cross-family oracles:
    * bands → cpairs → recursive reachability → `labels(doc_id,
    * cluster)`. The caller's WITH must carry RECURSIVE.
    */
  private[queries] def ccLabelsSqlCtes: String =
    s"""$minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src),
        labels AS (
          SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)"""

  private val candidatePairsSql =
    """cpairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)"""

  /** private[queries]: the streaming minhash dedup's oracle replays
    * the same band construction.
    */
  private[queries] val minhashBandsSql =
    s"""mh AS (
          SELECT doc_id, k,
                 min((h0 * (k * 2 + 1) + k * 2654435761) % 2147483647) AS h
          FROM (SELECT doc_id, ${h32Sql("shingle")} AS h0
                FROM (SELECT doc_id, unnest($shSql) AS shingle FROM documents)),
               (SELECT unnest(range($MinhashK)) AS k)
          GROUP BY doc_id, k),
        bands AS (
          SELECT doc_id, CAST(k // $BandRows AS INT) AS band,
                 string_agg(h, ',' ORDER BY k) AS bsig
          FROM mh GROUP BY doc_id, k // $BandRows)"""

  val all: Seq[QDef] = Seq(

    QDef("dedup_exact",
      // Exact dedup: hash-group on the normalized-text fingerprint,
      // keep the smallest doc_id (deterministic first-wins analog of
      // xml_to_json.py:38-42 at corpus scale). One shuffle on the
      // 16-hex-char fingerprint — the canonical 100 TB exact-dedup plan.
      (s, dir) => t(s, dir, "documents")
        .groupBy(Text.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper"),
      Some(s"""SELECT substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16) AS fp,
          min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keeper""")),

    QDef("dedup_minhash_sig",
      // The MinHash+LSH index itself: 16 md5-seeded min-hashes over
      // 3-token shingles, banded 4×4. Rows = docs × 4 bands. Staged:
      // the candidate-pair query self-joins this same index.
      (s, dir) => bandIndex(s, dir).orderBy("doc_id", "band"),
      Some(s"""WITH $minhashBandsSql
        SELECT doc_id, band, bsig FROM bands ORDER BY doc_id, band""")),

    QDef("dedup_minhash_pairs",
      // LSH candidate pairs: docs sharing any band signature. The join
      // key is (band, bsig) — bucket-local, never all-pairs.
      (s, dir) => candidatePairs(s, dir).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql
        SELECT doc_a, doc_b FROM cpairs ORDER BY doc_a, doc_b""")),

    QDef("dedup_incremental_delta",
      // The DAILY-INGEST dedup shape: new (delta) docs are checked
      // against the EXISTING (base) index only — delta bands equi-join
      // base bands, never delta x delta or base x base, so each day's
      // cost is proportional to the day's data, not the corpus. The
      // 1-in-5 delta split is a deterministic salted-id hash; each
      // delta doc reports its smallest band-bucket base match (dup_of,
      // -1 = novel) and its base-candidate count. Reuses the one
      // staged band index the whole minhash family shares.
      (s, dir) => {
        val b = bandIndex(s, dir)
        val split = t(s, dir, "documents").select(col("doc_id"),
          (pmod(Text.md5Hash32(
            concat(lit("inc:"), col("doc_id").cast("string"))), lit(5L)) === 0)
            .as("is_delta"))
        val bands = b.join(split, "doc_id")
        val matches = bands.filter(col("is_delta")).as("d")
          .join(bands.filter(!col("is_delta")).as("b"),
            col("d.band") === col("b.band") && col("d.bsig") === col("b.bsig"))
          .groupBy(col("d.doc_id").as("doc_id"))
          .agg(min(col("b.doc_id")).as("dup_of"),
            countDistinct(col("b.doc_id")).as("n_cand"))
        split.filter(col("is_delta")).select("doc_id")
          .join(matches, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $minhashBandsSql,
        split AS (
          SELECT doc_id,
            (CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 = 0)
              AS is_delta
          FROM documents),
        d AS (SELECT b.* FROM bands b JOIN split USING (doc_id) WHERE is_delta),
        ba AS (SELECT b.* FROM bands b JOIN split USING (doc_id) WHERE NOT is_delta),
        m AS (
          SELECT d.doc_id, min(ba.doc_id) AS dup_of,
                 count(DISTINCT ba.doc_id) AS n_cand
          FROM d JOIN ba ON d.band = ba.band AND d.bsig = ba.bsig
          GROUP BY d.doc_id)
        SELECT s.doc_id,
               CAST(coalesce(dup_of, -1) AS BIGINT) AS dup_of,
               CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand
        FROM (SELECT doc_id FROM split WHERE is_delta) s
        LEFT JOIN m USING (doc_id)
        ORDER BY s.doc_id""")),

    QDef("dedup_cluster_cc",
      // The dedup step AFTER candidate generation: connected components
      // over the LSH pair graph (see operators.ConnectedComponents),
      // cluster id = component-min doc_id (the deterministic keeper).
      (s, dir) => ccLabels(s, dir).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src)
        SELECT a AS doc_id, min(b) AS cluster FROM reach
        GROUP BY a ORDER BY doc_id""")),

    QDef("dedup_cluster_cc_star",
      // The SAME clustering by the OTHER standard MapReduce-CC
      // construction: alternating large-star/small-star (Kiveris et
      // al., SoCC'14) — shuffles a shrinking EDGE set where label
      // propagation shuffles a fixed node table; on near-clique dup
      // graphs the first large-star collapses most edge mass onto
      // component minima. Identical labels to dedup_cluster_cc by
      // construction (and by this shared oracle; operator-level
      // equality pinned in ScaleOpsSpec).
      (s, dir) => graft.operators.ConnectedComponents
        .clustersStar(candidatePairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src)
        SELECT a AS doc_id, min(b) AS cluster FROM reach
        GROUP BY a ORDER BY doc_id""")),

    QDef("dedup_keep_best",
      // Representative selection AFTER clustering: real pipelines keep
      // the BEST member of each duplicate cluster, not the first —
      // here "most complete" (n_chars DESC, doc_id tiebreak), the
      // heuristic that prefers the un-truncated copy of a near-dup
      // group. Unpaired docs are singleton clusters and keep
      // themselves. One left join + one per-cluster window on top of
      // the shared CC labels — the keeper policy is a pluggable ORDER
      // BY, nothing else changes.
      (s, dir) => {
        val w = Window.partitionBy("cluster")
          .orderBy(col("n_chars").desc, col("doc_id"))
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"),
            col("n_chars"))
          .withColumn("keep", row_number().over(w) === 1)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src),
        lab AS (
          SELECT d.doc_id,
                 COALESCE(r.cluster, d.doc_id) AS cluster,
                 d.n_chars
          FROM documents d
          LEFT JOIN (SELECT a AS doc_id, min(b) AS cluster
                     FROM reach GROUP BY a) r USING (doc_id))
        SELECT doc_id, cluster, n_chars,
               (row_number() OVER (PARTITION BY cluster
                  ORDER BY n_chars DESC, doc_id) = 1) AS keep
        FROM lab ORDER BY doc_id""")),

    QDef("dedup_ngram_novelty",
      // Contribution scoring: what fraction of a doc's 3-gram shingles
      // is NOVEL — first contributed by this doc under deterministic
      // doc_id order? The dedup-aware sampling signal (a doc whose
      // n-grams all appeared earlier adds nothing to a training mix
      // even if no single pair crosses a near-dup threshold). One
      // explode + one min-aggregate on the shingle hash + one join
      // back — linear, and the n-gram ownership table is the same
      // shuffle key space the LSH index already uses.
      (s, dir) => {
        val ex = ngramSets(s, dir)
          .select(col("doc_id"), explode(col("ss")).as("h"))
        val first = ex.groupBy("h").agg(min(col("doc_id")).as("fd"))
        ex.join(first, Seq("h"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            count(when(col("fd") === col("doc_id"), 1)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            rx(col("n_novel").cast("double") / col("n_shingles").cast("double"), 4)
              .as("novelty"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents),
        ex AS (SELECT doc_id, unnest(ss) AS h FROM sets),
        fst AS (SELECT h, min(doc_id) AS fd FROM ex GROUP BY h)
        SELECT e.doc_id, count(*) AS n_shingles,
               count(CASE WHEN fd = e.doc_id THEN 1 END) AS n_novel,
               ${rxSql("count(CASE WHEN fd = e.doc_id THEN 1 END) / CAST(count(*) AS DOUBLE)", 4)} AS novelty
        FROM ex e JOIN fst USING (h)
        GROUP BY e.doc_id ORDER BY doc_id""")),

    QDef("sample_leakage_safe_split",
      // Group-aware train/valid/test split: near-duplicates MUST land
      // in the same split or the held-out sets leak training data (the
      // classic eval-contamination failure). Cluster id = connected
      // components over the LSH pair graph (unpaired docs are singleton
      // clusters), and the deterministic md5-bucket split is taken on
      // the CLUSTER id so every member inherits one assignment —
      // dedup_cluster_cc composed with sample_hash_split's mechanism.
      // Cost on top of clustering: one left join + a per-row hash.
      (s, dir) => {
        t(s, dir, "documents").select("doc_id")
          .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .withColumn("bucket",
            pmod(Text.md5Hash32(col("cluster").cast("string")), lit(100)))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "valid")
              .otherwise("test"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src),
        cc AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
        wc AS (
          SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
          FROM documents d LEFT JOIN cc USING (doc_id)),
        bk AS (
          SELECT doc_id, cluster,
                 ${h32Sql("CAST(cluster AS VARCHAR)")} % 100 AS bucket
          FROM wc)
        SELECT doc_id, cluster, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'valid'
                    ELSE 'test' END AS split
        FROM bk ORDER BY doc_id""")),

    QDef("dedup_simhash",
      // 32-bit SimHash: per-token md5 hash, per-bit ±1 vote, sign →
      // bit. One explode + one hash-aggregate per document; the 32 bit
      // sums are columns of a single aggregate, not 32 passes.
      (s, dir) => simhashSigs(s, dir).orderBy("doc_id"),
      Some(s"""WITH $simhashSqlCtes
        SELECT doc_id, simhash FROM sigs ORDER BY doc_id""")),

    QDef("dedup_simhash_pairs",
      // SimHash near-dup pairing, verify-on-candidates like the
      // minhash path: the 32-bit signature splits into 4 byte bands;
      // candidates share at least one band (pigeonhole: any pair
      // within Hamming distance 3 must share a band — the exact guarantee for radius 3),
      // and the exact Hamming distance (one xor + popcount, both
      // codegen'd built-ins) verifies each candidate. Shuffle key =
      // (band, byte): bucket-local, never all-pairs.
      (s, dir) => simhashPairs(s, dir).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $simhashSqlCtes,
        $simhashPairsSql
        SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        FROM spairs ORDER BY doc_a, doc_b""")),

    QDef("dedup_capture_recapture",
      // Capture-recapture (Chapman-corrected Lincoln-Petersen) audit
      // of near-dup detector coverage: how many true near-dup pairs
      // exist that NEITHER detector finds? Treat the MinHash-LSH pair
      // list and the SimHash Hamming≤3 pair list as two independent
      // "captures" of the same underlying duplicate population — the
      // classic ecology estimator (and the standard census/record-
      // linkage coverage trick) then estimates the total:
      // N̂ = (n1+1)(n2+1)/(m+1) − 1, where m = pairs both detectors
      // caught. Per-detector coverage = n/N̂ — the number that tells a
      // curation owner "LSH alone is seeing ~X% of what's out there"
      // WITHOUT any labeled truth set. The two pair lists are the
      // same staged artifacts their own queries ship (band index +
      // simhash sigs built once); the overlap is one equi join on the
      // pair key; everything after runs on three 1-row aggregates.
      // All integer: Chapman's +1s make the estimator m=0-safe, and
      // the coverage floor-divisions have nonnegative numerators and
      // clamped denominators.
      (s, dir) => {
        // NOTE (r18): a one-pass full-outer spelling was tried and
        // REVERTED — exchange reuse already dedups each pair chain's
        // shuffles across its two references, and the full-outer
        // join's extra wide shuffle measured slower (interleaved A/B:
        // +0.20 s warm median).
        val mh = candidatePairs(s, dir).select("doc_a", "doc_b")
        val sh = simhashPairs(s, dir).select("doc_a", "doc_b")
        val n1 = mh.agg(count(lit(1)).as("n_det1"))
        val n2 = sh.agg(count(lit(1)).as("n_det2"))
        val m = mh.join(sh, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_both"))
        n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
          .withColumn("est_total",
            expr("((n_det1 + 1) * (n_det2 + 1)) div (n_both + 1) - 1"))
          .select(col("n_det1"), col("n_det2"), col("n_both"),
            col("est_total"),
            expr("(1000000 * n_det1) div greatest(est_total, 1)")
              .as("cov1_ppm"),
            expr("(1000000 * n_det2) div greatest(est_total, 1)")
              .as("cov2_ppm"))
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        $simhashSqlCtes,
        $simhashPairsSql,
        n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_det1 FROM cpairs),
        n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_det2 FROM spairs),
        b AS (SELECT CAST(count(*) AS BIGINT) AS n_both
              FROM cpairs JOIN spairs USING (doc_a, doc_b)),
        est AS (SELECT n_det1, n_det2, n_both,
                  ((n_det1 + 1) * (n_det2 + 1)) // (n_both + 1) - 1
                    AS est_total
                FROM n1, n2, b)
        SELECT n_det1, n_det2, n_both,
               CAST(est_total AS BIGINT) AS est_total,
               CAST((1000000 * n_det1) // greatest(est_total, 1) AS BIGINT)
                 AS cov1_ppm,
               CAST((1000000 * n_det2) // greatest(est_total, 1) AS BIGINT)
                 AS cov2_ppm
        FROM est""")),

    QDef("dedup_ngram_jaccard",
      // n-gram Jaccard as VERIFY-ON-CANDIDATES: the pair list comes
      // from the LSH band buckets (candidatePairs above — the same
      // index dedup_minhash_pairs checks), and the exact Jaccard is
      // computed only for those pairs via two hash joins on doc_id.
      // No stage is quadratic in the corpus: the index build is linear,
      // the bucket join is band-local, and the verify stage is linear
      // in the candidate count — the canonical 100 TB near-dup plan.
      // Intersections run on md5-derived 32-bit ints (engine-exact;
      // the oracle hashes identically), sorted at prep so the verify
      // uses the zero-allocation merge-count kernel
      // (SortedInterCountExpr) instead of a per-pair hash set.
      // Candidates always have >= 1 shingle per side (a shingle-less
      // doc emits no bands), so the 0/0-NaN guard the all-pairs form
      // needed is structurally impossible here.
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("int")
        val ja = inter.cast("double") /
          (size(col("ss_a")) + size(col("ss_b")) - inter).cast("double")
        candidatePairs(s, dir)
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), rx(ja, 4).as("jaccard"))
          .filter(col("jaccard") >= 0.05)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents)
        SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
               ${rxSql("""CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                     / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))""", 4)} AS jaccard
        FROM cpairs c
        JOIN sets a ON a.doc_id = c.doc_a
        JOIN sets b ON b.doc_id = c.doc_b
        WHERE ${rxSql("""CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                    / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))""", 4)} >= 0.05
        ORDER BY doc_a, doc_b""")),

    QDef("dedup_minhash_recall",
      // Candidate RECALL of the LSH index — the number that justifies
      // shipping the banded path at 100 TB (sim_ann_ivf_recall's
      // counterpart for text dedup): ground truth = exact-Jaccard>=0.5
      // pairs computed pairwise over a FIXED 100-doc probe panel
      // (orderBy + limit on both engines — the knn/eval/canary cap
      // pattern; the previous 1-in-5 sample GREW with the corpus, so
      // the audit stayed corpus-quadratic at O(N²/5)). Panel×corpus is
      // O(100·N) — linear — while the production path stays the banded
      // join; hits = truth pairs the (band,bsig) bucket join also
      // surfaces. The 0.5 threshold is the integer test
      // 3·|A∩B| >= |A|+|B| — no FP in the truth set. One row:
      // truth/candidate/hit counts + recall.
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("long")
        val probe = graft.pipeline.Panels.fixed(sets, "doc_id", 100)
        val truth = probe.toDF("doc_a", "ss_a")
          .crossJoin(sets.toDF("doc_b", "ss_b"))
          .filter(col("doc_a") < col("doc_b"))
          .filter(inter * 3 >=
            (size(col("ss_a")) + size(col("ss_b"))).cast("long"))
          .select(col("doc_a"), col("doc_b"))
        val cand = candidatePairs(s, dir).join(
          broadcast(probe.select(col("doc_id").as("doc_a"))),
          Seq("doc_a"), "left_semi")
        truth.join(cand.withColumn("c", lit(1)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_truth"), count(col("c")).as("n_hit"))
          .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
          .select(col("n_truth"), col("n_cand"), col("n_hit"),
            rx(col("n_hit").cast("double") / col("n_truth").cast("double"), 4)
              .as("recall"))
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents),
        probe AS (SELECT doc_id, ss FROM sets ORDER BY doc_id LIMIT 100),
        truth AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM probe a JOIN sets b
            ON a.doc_id < b.doc_id
          WHERE 3 * len(list_intersect(a.ss, b.ss)) >= len(a.ss) + len(b.ss)),
        cand AS (SELECT doc_a, doc_b FROM cpairs
                 WHERE doc_a IN (SELECT doc_id FROM probe)),
        j AS (
          SELECT t.doc_a, c.doc_a AS hit
          FROM truth t LEFT JOIN cand c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
        SELECT count(*) AS n_truth,
               (SELECT count(*) FROM cand) AS n_cand,
               count(hit) AS n_hit,
               ${rxSql("count(hit) / CAST(count(*) AS DOUBLE)", 4)} AS recall
        FROM j""")),

    QDef("dedup_containment",
      // Containment scoring on the same LSH candidate pairs:
      // |A∩B| / min(|A|, |B|) instead of Jaccard — the metric that
      // catches PARTIAL-overlap duplication (doc B wholly inside a much
      // larger doc A scores ~1.0 here but near 0 on Jaccard, so a
      // Jaccard-threshold sweep ships the duplicated payload twice).
      // Identical plan shape to dedup_ngram_jaccard: linear index
      // build, band-local bucket join, verify linear in candidates via
      // the sorted merge-count kernel; only the score changes.
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("int")
        val cont = inter.cast("double") /
          least(size(col("ss_a")), size(col("ss_b"))).cast("double")
        candidatePairs(s, dir)
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), rx(cont, 4).as("containment"))
          .filter(col("containment") >= 0.2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents)
        SELECT doc_a, doc_b, containment FROM (
          SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
                 ${rxSql("""CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                       / least(len(a.ss), len(b.ss))""", 4)} AS containment
          FROM cpairs c
          JOIN sets a ON a.doc_id = c.doc_a
          JOIN sets b ON b.doc_id = c.doc_b)
        WHERE containment >= 0.2
        ORDER BY doc_a, doc_b""")),

    QDef("dedup_decontaminate",
      // Benchmark decontamination — the eval-overlap sweep every LLM
      // training pipeline runs: flag corpus documents sharing >= 5
      // distinct 3-gram hashes with any document of the (small) eval
      // set. The eval side's shingle sets are BROADCAST and each
      // corpus document runs the codegen'd sorted merge-count against
      // them — linear in corpus x eval-set size, embarrassingly
      // parallel, no shuffle of the corpus at all. (A large eval set
      // would switch to the inverted-index join on shingle hash; the
      // broadcast nested loop is the right plan while eval fits in a
      // broadcast, which 'benchmarks' do.)
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val evalSet = sets.filter(col("doc_id") < 20)
          .select(col("doc_id").as("eval_id"), col("ss").as("ss_eval"))
        val shared = graft.functions.SortedInterCountExpr
          .interCount(col("ss"), col("ss_eval")).cast("long")
        sets.filter(col("doc_id") >= 20)
          .crossJoin(broadcast(evalSet))
          .select(col("doc_id"), col("eval_id"), shared.as("n_shared"))
          .filter(col("n_shared") >= 5)
          .orderBy("doc_id", "eval_id")
      },
      Some(s"""WITH sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents)
        SELECT c.doc_id, e.doc_id AS eval_id,
               CAST(len(list_intersect(c.ss, e.ss)) AS BIGINT) AS n_shared
        FROM sets c JOIN sets e ON c.doc_id >= 20 AND e.doc_id < 20
        WHERE len(list_intersect(c.ss, e.ss)) >= 5
        ORDER BY c.doc_id, eval_id""")),

    QDef("text_canary_scan",
      // Literal-substring memorization probe — dedup_decontaminate's
      // counterpart at the string level: each eval-set document
      // contributes a canary needle (its first 3-token prefix), plus
      // two PLANTED canaries that exist nowhere in the corpus (the
      // unique-string tracer a leak audit seeds a dataset with), and
      // the training split is scanned for literal containment. Reports
      // per needle the hit count and first hitting doc (-1 = clean) —
      // zero-hit needles are the audit's success arm, hit needles its
      // finding. The needle panel is CAPPED at the 100 lowest-id
      // sampled docs (orderBy + limit → TakeOrdered, structurally
      // bounded in BnljGuardSpec) — a canary audit runs a FIXED tracer
      // set, not a corpus-growing one; the pre-r12 1-in-25 sample
      // scaled with the corpus, the same disguised-quadratic class as
      // the old RRF dense arm. The bounded set BROADCASTS and the
      // corpus streams ONCE through a codegen'd per-row contains; at a
      // million needles the kernel swaps for an Aho-Corasick
      // mapPartitions pass or decontaminate's n-gram equi-join — the
      // report shape stays.
      (s, dir) => {
        import s.implicits._
        val nt = t(s, dir, "documents")
          .select(col("doc_id"), Text.normTerm(col("text")).as("tnorm"))
        val real = graft.pipeline.Panels.fixed(
          nt.filter(col("doc_id") % 25 === 7)
            .select(col("doc_id").as("src_doc"),
              array_join(slice(Text.tokens(col("tnorm")), 1, 3), " ")
                .as("needle")),
          "src_doc", 100)
        val planted = Seq((-1L, "canary eaf3 planted"),
          (-2L, "canary 77b2 planted")).toDF("src_doc", "needle")
        val train = nt.filter(col("doc_id") % 25 =!= 7)
        broadcast(real.unionByName(planted))
          .join(train, col("tnorm").contains(col("needle")), "left")
          .groupBy("src_doc", "needle")
          .agg(sum(when(col("doc_id").isNotNull, 1L).otherwise(0L)).as("hits"),
            coalesce(min("doc_id"), lit(-1L)).as("first_hit"))
          .orderBy("src_doc")
      },
      Some("""WITH nt AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS tnorm
          FROM documents),
        rl AS (
          SELECT doc_id AS src_doc,
                 array_to_string((string_split(tnorm, ' '))[1:3], ' ') AS needle
          FROM nt WHERE doc_id % 25 = 7
          ORDER BY src_doc LIMIT 100),
        needles AS (
          SELECT * FROM rl
          UNION ALL
          SELECT * FROM (VALUES (-1, 'canary eaf3 planted'),
                                (-2, 'canary 77b2 planted')) v(src_doc, needle)),
        train AS (SELECT doc_id, tnorm FROM nt WHERE doc_id % 25 <> 7)
        SELECT CAST(n.src_doc AS BIGINT) AS src_doc, n.needle,
               CAST(count(t.doc_id) AS BIGINT) AS hits,
               CAST(coalesce(min(t.doc_id), -1) AS BIGINT) AS first_hit
        FROM needles n LEFT JOIN train t ON contains(t.tnorm, n.needle)
        GROUP BY n.src_doc, n.needle
        ORDER BY src_doc""")),

    QDef("dedup_embedding_cosine",
      // Embedding near-dup as VERIFY-ON-CANDIDATES: candidate pairs
      // come from the random-hyperplane LSH bucket equi-join (the same
      // staged index sim_ann_lsh probes — Similarity.bucketedVecs),
      // then the EXACT cosine rescores each candidate and thresholds.
      // The shuffle key is the 8-bit bucket, never an all-pairs block,
      // so the pair count is bucket-local and the plan is unchanged at
      // 100 TB. Dots are in-order double folds (codegen'd ArrayDotExpr
      // ≙ DuckDB list_sum/list_transform), norms precomputed per
      // vector, similarity rounded to 6 before thresholding.
      (s, dir) => {
        def dot(a: Column, b: Column): Column =
          graft.functions.ArrayDotExpr.dot(a, b)
        val e = Similarity.bucketedVecs(s, dir)
        val cos = dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
        e.as("a").join(e.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.bucket").as("bucket"),
            col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            rx(cos, 6).as("cos"))
          .filter(col("cos") >= 0.25)
          .orderBy("vec_a", "vec_b")
      }, {
        val dotSql = (x: String, y: String) =>
          s"list_sum(list_transform(range(64), i -> CAST($x.embedding[i+1] AS DOUBLE) * CAST($y.embedding[i+1] AS DOUBLE)))"
        Some(s"""WITH bk AS (
            SELECT vec_id, embedding,
                   CAST(${Similarity.lshBucketSql} AS BIGINT) AS bucket
            FROM embeddings)
          SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
            ${rxSql(s"""${dotSql("a", "b")} / (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")}))""", 6)} AS cos
          FROM bk a JOIN bk b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE ${rxSql(s"""${dotSql("a", "b")} / (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")}))""", 6)} >= 0.25
          ORDER BY vec_a, vec_b""")
      }),

    QDef("dedup_substring",
      // Exact-substring duplication (the token-window half of
      // Falcon-style ExactSubstr dedup): every 10-token rolling window
      // is hashed; a window hash seen in >= 2 distinct docs marks
      // copied passages, and each doc reports how much of it is
      // duplicated material. Linear everywhere — window explode is
      // O(tokens), the offender aggregate shuffles on the window hash
      // (synthetic-vocab 10-grams do not produce hot keys the way
      // 3-gram shingles do), verify is one left join. Window positions
      // are capped at 100 on BOTH engines (the oracle cannot laterally
      // parameterize its position series; docs here are <= 100 tokens
      // so nothing is lost).
      (s, dir) => {
        val W = 10
        val wins = graft.pipeline.Staged.disk(s, dir, "substr_windows") {
          t(s, dir, "documents")
            .withColumn("tks", toks)
            .withColumn("n", size(col("tks")))
            .select(col("doc_id"), col("tks"),
              explode(sequence(lit(1),
                greatest(least(col("n") - (W - 1), lit(100)), lit(1))))
                .as("i"), col("n"))
            .filter(col("i") <= col("n") - (W - 1))
            .select(col("doc_id"),
              Text.md5Hash32(
                array_join(slice(col("tks"), col("i"), lit(W)), " "))
                .as("h"))
        }
        val offenders = wins.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("h"), lit(true).as("dup"))
        wins.join(offenders, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            count(when(col("dup"), 1)).as("n_dup"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id, $toksSql AS tks FROM documents),
        pos AS (SELECT CAST(UNNEST(range(1, 101)) AS INT) AS i),
        w AS (
          SELECT doc_id,
            ${h32Sql("array_to_string(list_slice(tks, i, i + 9), ' ')")} AS h
          FROM d CROSS JOIN pos WHERE pos.i <= len(tks) - 9),
        com AS (
          SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM w GROUP BY h)
          WHERE nd >= 2)
        SELECT w.doc_id, count(*) AS n_windows, count(com.h) AS n_dup
        FROM w LEFT JOIN com ON w.h = com.h
        GROUP BY w.doc_id ORDER BY doc_id""")),

    QDef("dedup_span_exact",
      // Span-LEVEL exact-substring dedup — the other half of
      // ExactSubstr (Lee et al., "Deduplicating Training Data Makes
      // Language Models Better"): where dedup_substring reports how
      // much of each doc is duplicated, this emits the duplicated
      // SPANS themselves — (doc_id, span_start, span_end) token
      // ranges — the coordinates a surgical-removal pass cuts.
      // Distributed shape: fixed-k anchor grams replace the suffix
      // array — every position's k-gram is fingerprinted (linear
      // explode), a fingerprint occurring >= 2 times anywhere (across
      // OR within docs — self-repetition is also cut) marks its
      // positions, and per-doc maximal runs of marked positions merge
      // into spans via one gaps-and-islands window. The anchor width
      // IS the operator's min-match length L — a duplicated substring
      // of length ℓ ≥ k contains exactly ℓ−k+1 duplicated k-grams, so
      // detection is EXACT for spans of length ≥ k and blind below it.
      // k = SpanK = 4 (was 8 through round 10, which silently hid
      // every 4-7-token duplicated phrase — the boilerplate length
      // range); SpanDedupSpec pins a sub-8 span being found. Shuffles:
      // the map-side-combined fingerprint count and the join-back on
      // the fingerprint — both on the gram key, nothing quadratic,
      // the same shape at 100 TB.
      (s, dir) => {
        val k = SpanK
        // Staged: the gram stream (the dominant O(tokens) explode+md5)
        // feeds both the fingerprint aggregate and the join-back probe,
        // and Spark shares no common subtree — unstaged it would
        // execute twice (the substr_windows discipline).
        val grams = graft.pipeline.Staged.disk(s, dir, "span_grams") {
          t(s, dir, "documents")
            .withColumn("tks", toks)
            .filter(size(col("tks")) >= k)
            .select(col("doc_id"), explode(transform(
                sequence(lit(0), size(col("tks")) - k),
                i => struct(i.cast("long").as("pos"),
                  md5(array_join(slice(col("tks"), i + 1, lit(k)), " ")).as("fp"))))
              .as("g"))
            .select(col("doc_id"), col("g.pos").as("pos"), col("g.fp").as("fp"))
        }
        // Disk-staged: the duplicated-fingerprint set IS the
        // ExactSubstr duplicate index (Lee et al. materialize the
        // duplicated ranges once per corpus snapshot; every removal
        // pass consumes them) — the staged artifact moves the
        // whole-gram-stream count off the span query's run.
        val dup = graft.pipeline.Staged.disk(s, dir, "span_dup_fps") {
          grams.groupBy("fp")
            .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("fp")
        }
        val marked = grams.join(dup, Seq("fp")).select("doc_id", "pos")
        val w = Window.partitionBy("doc_id").orderBy("pos")
        marked
          .withColumn("prev_end", max(col("pos") + lit(k - 1)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk", when(
            col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
            .otherwise(0L))
          .withColumn("grp", sum("brk").over(w))
          .groupBy("doc_id", "grp")
          .agg(min("pos").as("span_start"),
            (max("pos") + lit(k - 1)).as("span_end"),
            count(lit(1)).as("n_dup_grams"))
          .select("doc_id", "span_start", "span_end", "n_dup_grams")
          .orderBy("doc_id", "span_start")
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, $toksSql AS tks FROM documents),
        tk2 AS (SELECT * FROM tk WHERE len(tks) >= $SpanK),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 md5(array_to_string(tks[i+1:i+$SpanK], ' ')) AS fp
          FROM tk2, unnest(range(len(tks) - ${SpanK - 1})) AS u(i)),
        dup AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) >= 2),
        marked AS (SELECT doc_id, pos FROM grams JOIN dup USING (fp)),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + ${SpanK - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM marked),
        grp AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                     THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM isl)
        SELECT doc_id, min(pos) AS span_start,
               CAST(max(pos) + ${SpanK - 1} AS BIGINT) AS span_end,
               count(*) AS n_dup_grams
        FROM grp GROUP BY doc_id, grp ORDER BY doc_id, span_start""")),

    QDef("dedup_threshold_sweep",
      // Threshold calibration — the table read BEFORE committing a
      // near-dup threshold: for each candidate similarity cutoff, how
      // many candidate pairs verify at >= t and how many docs they
      // touch. One pass over the SAME scored candidates the verify
      // stage already computes (LSH candidates + exact Jaccard); the
      // 5-row threshold dim attaches by broadcast (bounded, the
      // scalar-attach pattern), and absent thresholds keep their row
      // via the left join back to the dim — a zero count is a
      // calibration answer, not a missing row. Cost: candidates x 5,
      // linear in the candidate count at any corpus size.
      (s, dir) => {
        import s.implicits._
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("int")
        val ja = inter.cast("double") /
          (size(col("ss_a")) + size(col("ss_b")) - inter).cast("double")
        val scored = candidatePairs(s, dir)
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), rx(ja, 4).as("ja"))
        // Group/join on an INTEGER index, not the double threshold: the
        // double-keyed version was correct only because identical binary
        // literals flowed to both sides, and fragile to any arithmetic
        // on t or a config-sourced threshold (advisor, r9). The double
        // rides along as a payload column and resurfaces in the output.
        val th = Seq(0.85, 0.9, 0.95, 0.98, 1.0).zipWithIndex
          .map { case (t, i) => (i, t) }.toDF("ti", "t")
        // hits is candidate-pair x 5 sized — NOT bounded, so it stays
        // lazy (r19, advisor): an eager checkpoint here materialized a
        // corpus-scaled frame (violating the bounded-only checkpoint
        // rule) and measured 0.18 -> 0.82 s WORSE in the r18keep A/B —
        // exchange reuse already dedups the scored join's shuffles
        // across the two consumers.
        val hits = scored.crossJoin(broadcast(th)).filter(col("ja") >= col("t"))
        val pairCounts = hits.groupBy("ti").agg(count(lit(1)).as("n_pairs"))
        val docCounts = hits
          .select(col("ti"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
          .groupBy("ti").agg(countDistinct("d").as("n_docs"))
        th.join(pairCounts, Seq("ti"), "left").join(docCounts, Seq("ti"), "left")
          .select(col("t"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .orderBy("t")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents),
        scored AS (
          SELECT c.doc_a, c.doc_b,
                 ${rxSql("""CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                       / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))""", 4)} AS ja
          FROM cpairs c
          JOIN sets a ON a.doc_id = c.doc_a
          JOIN sets b ON b.doc_id = c.doc_b),
        th AS (SELECT unnest([0.85e0, 0.9e0, 0.95e0, 0.98e0, 1.0e0]) AS t),
        hits AS (SELECT th.t, s.doc_a, s.doc_b FROM th JOIN scored s ON s.ja >= th.t),
        pc AS (SELECT t, count(*) AS n_pairs FROM hits GROUP BY t),
        dc AS (SELECT t, count(DISTINCT d) AS n_docs
               FROM (SELECT t, unnest([doc_a, doc_b]) AS d FROM hits) GROUP BY t)
        SELECT th.t, CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(dc.n_docs, 0) AS BIGINT) AS n_docs
        FROM th LEFT JOIN pc ON th.t = pc.t LEFT JOIN dc ON th.t = dc.t
        ORDER BY th.t""")),

    QDef("dedup_cluster_size_hist",
      // The dedup report card: the duplicate-cluster size distribution
      // (how many singletons, how many small clusters, how big is the
      // worst offender) — the headline numbers every dedup sweep
      // quotes. Docs absent from the pair graph are their own
      // singleton clusters (coalesce to doc_id, the same keeper rule
      // as the CC labels); two bounded aggregates over the staged
      // labels, key spaces = clusters then distinct sizes.
      (s, dir) => {
        val labeled = t(s, dir, "documents").select(col("doc_id"))
          .join(ccLabels(s, dir), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        labeled.groupBy("cluster").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            col("n_docs").cast("long").as("n_docs"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE $minhashBandsSql,
        $candidatePairsSql,
        cedges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cpairs
          UNION SELECT doc_b, doc_a FROM cpairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src),
        labels AS (
          SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
        labeled AS (
          SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
          FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
        sizes AS (SELECT cluster, count(*) AS sz FROM labeled GROUP BY cluster)
        SELECT sz AS cluster_size, count(*) AS n_clusters,
               CAST(sum(sz) AS BIGINT) AS n_docs
        FROM sizes GROUP BY sz ORDER BY cluster_size""")),

    QDef("dedup_band_sweep",
      // LSH banding calibration — the b×r sensitivity table read
      // alongside dedup_threshold_sweep before committing a banding:
      // for each (bands, rows-per-band) split of the SAME K=16
      // signature matrix, the candidate-pair volume and docs touched,
      // plus the banding's S-curve inflection t* ≈ (1/b)^(1/r) (the
      // similarity where detection probability turns on). t* is
      // computed HOST-side once and embedded as the identical literal
      // in both engines — pow is transcendental and must never be
      // evaluated per-engine for a hash-compared column. Configs span
      // r = 2..16; r = 1 is deliberately absent: single-hash buckets
      // collect every doc sharing one common shingle minimum, a
      // collision set that grows with the corpus — the one banding
      // that goes quadratic at 100 TB, excluded from the sweep the
      // same way the suite excludes all-pairs stages. Cost: the raw
      // signature matrix is staged once (docs × 16 rows), banding is
      // one aggregate per config over it, and each config's self-join
      // is bucket-local on (config, band, bsig) — linear in docs plus
      // candidate volume, the threshold-sweep discipline.
      (s, dir) => {
        import s.implicits._
        val sig16 = graft.pipeline.Staged.disk(s, dir, "minhash_sig16") {
          t(s, dir, "documents")
            .withColumn("tks", toks)
            .select(col("doc_id"), explode(shingles(col("tks"), 3)).as("shingle"))
            .select(col("doc_id"), Text.md5Hash32(col("shingle")).as("h0"))
            .select(col("doc_id"), col("h0"),
              explode(lit((0 until MinhashK).toArray)).as("k"))
            .select(col("doc_id"), col("k"),
              ((col("h0") * (col("k") * 2 + 1) + col("k") * lit(2654435761L))
                % lit(2147483647L)).as("hv"))
            .groupBy("doc_id", "k").agg(min("hv").as("h"))
        }
        val cfgs = BandSweepCfgs.toDF("ci", "b", "r", "t_star")
        val banded = sig16.crossJoin(broadcast(cfgs))
          .withColumn("band", (col("k") / col("r")).cast("int"))
          .groupBy("ci", "doc_id", "band")
          .agg(concat_ws(",",
            transform(sort_array(collect_list(struct(col("k"), col("h")))),
              x => x.getField("h").cast("string"))).as("bsig"))
        val pairs = banded.as("a").join(banded.as("b"),
            col("a.ci") === col("b.ci") && col("a.band") === col("b.band") &&
              col("a.bsig") === col("b.bsig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.ci").as("ci"),
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        // ONE aggregate for both per-config counts: each pair emits
        // its two endpoints, so n_pairs = count(*) div 2 over the
        // exploded frame (exact — every row is one endpoint of one
        // pair) and n_docs = the distinct endpoint count. The separate
        // pc/dc aggregates referenced the banded self-join + distinct
        // twice (r18).
        val pcdc = pairs
          .select(col("ci"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
          .groupBy("ci").agg(expr("count(1) div 2").as("n_pairs"),
            countDistinct("d").as("n_docs"))
        cfgs.join(pcdc, Seq("ci"), "left")
          .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"),
            col("t_star"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .orderBy("b")
      },
      Some(s"""WITH sig AS (
          SELECT doc_id, k,
                 min((h0 * (k * 2 + 1) + k * 2654435761) % 2147483647) AS h
          FROM (SELECT doc_id, ${h32Sql("shingle")} AS h0
                FROM (SELECT doc_id, unnest($shSql) AS shingle FROM documents)),
               (SELECT unnest(range($MinhashK)) AS k)
          GROUP BY doc_id, k),
        cfg AS (SELECT * FROM (VALUES $bandSweepValuesSql) c(ci, b, r, t_star)),
        banded AS (
          SELECT ci, doc_id, CAST(k // r AS INT) AS band,
                 string_agg(h, ',' ORDER BY k) AS bsig
          FROM sig CROSS JOIN cfg
          GROUP BY ci, doc_id, k // r),
        cpair AS (
          SELECT DISTINCT a.ci, a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b
            ON a.ci = b.ci AND a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id),
        pc AS (SELECT ci, count(*) AS n_pairs FROM cpair GROUP BY ci),
        dc AS (SELECT ci, count(DISTINCT d) AS n_docs
               FROM (SELECT ci, unnest([doc_a, doc_b]) AS d FROM cpair)
               GROUP BY ci)
        SELECT CAST(c.b AS BIGINT) AS b, CAST(c.r AS BIGINT) AS r, c.t_star,
               CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(dc.n_docs, 0) AS BIGINT) AS n_docs
        FROM cfg c LEFT JOIN pc ON c.ci = pc.ci LEFT JOIN dc ON c.ci = dc.ci
        ORDER BY b""")),

    QDef("sample_contrastive_triplets",
      // Contrastive-training triplet mining from the dedup machinery
      // itself: anchors are docs with an LSH near-dup, the POSITIVE is
      // the smallest-id candidate partner (a genuine near-duplicate —
      // no labels needed), the NEGATIVE is the anchor's successor on a
      // same-language salted-md5 hash ring (deterministic, uniform,
      // wrap-around at the partition end). The rare ring collision
      // with a true near-dup is the accepted false-negative rate every
      // in-batch-negatives trainer already tolerates. Reuses the
      // staged band index: mining cost = one group-by over candidate
      // pairs + one window over docs, nothing quadratic.
      (s, dir) => {
        val pos = candidatePairs(s, dir)
          .groupBy(col("doc_a").as("anchor"))
          .agg(min("doc_b").as("positive"))
        val w = Window.partitionBy("lang")
          .orderBy("h", "doc_id")
        val ring = t(s, dir, "documents")
          .withColumn("h",
            Text.md5Hash32(concat(lit("neg:"), col("doc_id").cast("string"))))
          .withColumn("negative",
            coalesce(lead("doc_id", 1).over(w), first("doc_id").over(w)))
          .select(col("doc_id"), col("lang"), col("negative"))
        pos.join(ring, pos("anchor") === ring("doc_id"))
          .select(col("anchor"), col("positive"), col("negative"), col("lang"))
          .orderBy("anchor")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        pos AS (
          SELECT doc_a AS anchor, min(doc_b) AS positive FROM cpairs GROUP BY 1),
        ring AS (
          SELECT doc_id, lang,
                 COALESCE(
                   lead(doc_id, 1) OVER (PARTITION BY lang ORDER BY h, doc_id),
                   first_value(doc_id) OVER (PARTITION BY lang ORDER BY h, doc_id))
                   AS negative
          FROM (SELECT doc_id, lang,
                       ${h32Sql("'neg:' || CAST(doc_id AS VARCHAR)")} AS h
                FROM documents))
        SELECT p.anchor, p.positive, r.negative, r.lang
        FROM pos p JOIN ring r ON r.doc_id = p.anchor
        ORDER BY p.anchor""")),

    QDef("dedup_prefix_filter",
      // EXACT similarity self-join by prefix filtering (AllPairs,
      // Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) — the
      // deterministic complement to MinHash LSH: every pair with
      // Jaccard >= t is found, no probabilistic recall. Tokens are the
      // same 3-gram shingle hashes as the LSH family; each doc's set is
      // ordered by GLOBAL frequency ascending (rarest first, ties by
      // hash — a total order), and only the first
      // p = n - ceil(t*n) + 1 tokens are indexed. Prefix-prefix
      // completeness is the PPJoin lemma: with the length filter
      // t*|a| <= |b| <= |a|/t, any qualifying pair's globally-smallest
      // common token sits inside both prefixes. All threshold math is
      // integer (t = 4/5: ceil(4n/5) = (4n+4) div 5; the verify gate is
      // 5*inter >= 4*union) so no FP boundary can disagree between
      // engines. At 100 TB: the frequency table is a map-side-combined
      // vocab aggregate; the prefix index explodes ~(1-t)*n + 1 tokens
      // per doc (linear); the candidate equi-join is keyed on the
      // RAREST tokens — which is exactly what bounds pair volume — and
      // the exact verify (two-pointer SortedInterCountExpr) touches
      // candidates only. The prefix index is staged once and read by
      // both sides of the self-join (the minhash_bands discipline).
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val prefix = graft.pipeline.Staged.disk(s, dir, "prefix_index") {
          val tok = sets.select(col("doc_id"),
            size(col("ss")).cast("long").as("n"), explode(col("ss")).as("h"))
          val freq = tok.groupBy("h").agg(count(lit(1)).as("f"))
          tok.join(freq, "h")
            .withColumn("rn", row_number().over(
              Window.partitionBy("doc_id").orderBy("f", "h")).cast("long"))
            .filter(col("rn") <= col("n") - expr("(4 * n + 4) div 5") + 1)
            .select("doc_id", "n", "h")
        }
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
              col("a.n") * 4 <= col("b.n") * 5 &&
              col("b.n") * 4 <= col("a.n") * 5)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b"))
        cand
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            size(col("ss_a")).cast("long").as("size_a"),
            size(col("ss_b")).cast("long").as("size_b"),
            inter.as("n_inter"))
          .filter(col("n_inter") * 5 >=
            (col("size_a") + col("size_b") - col("n_inter")) * 4)
          .withColumn("jac", rx(col("n_inter").cast("double") /
            (col("size_a") + col("size_b") - col("n_inter")).cast("double"), 6))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH sets AS (
          SELECT doc_id,
                 list_sort(list_distinct(list_transform($shSql, x -> ${h32Sql("x")}))) AS ss
          FROM documents),
        tok AS (SELECT doc_id, len(ss) AS n, unnest(ss) AS h FROM sets),
        freq AS (SELECT h, count(*) AS f FROM tok GROUP BY 1),
        pref AS (
          SELECT doc_id, n, h FROM (
            SELECT tok.doc_id, tok.n, tok.h,
                   row_number() OVER (PARTITION BY tok.doc_id ORDER BY freq.f, tok.h) AS rn
            FROM tok JOIN freq ON freq.h = tok.h)
          WHERE rn <= n - (4 * n + 4) // 5 + 1),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM pref a JOIN pref b
            ON a.h = b.h AND a.doc_id < b.doc_id
           AND a.n * 4 <= b.n * 5 AND b.n * 4 <= a.n * 5),
        v AS (
          SELECT c.doc_a, c.doc_b,
                 len(sa.ss) AS size_a, len(sb.ss) AS size_b,
                 len(list_intersect(sa.ss, sb.ss)) AS n_inter
          FROM cand c
          JOIN sets sa ON sa.doc_id = c.doc_a
          JOIN sets sb ON sb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, size_a, size_b, n_inter,
               ${rxSql("CAST(n_inter AS DOUBLE) / CAST(size_a + size_b - n_inter AS DOUBLE)", 6)} AS jac
        FROM v
        WHERE n_inter * 5 >= (size_a + size_b - n_inter) * 4
        ORDER BY doc_a, doc_b""")),

    QDef("dedup_minhash_est_vs_exact",
      // Estimator-BIAS audit of the MinHash signatures — the third leg
      // of the LSH calibration story: dedup_minhash_recall prices what
      // the banded index MISSES, dedup_band_sweep prices the candidate
      // volume, and this prices how far the K=16 signature's Jaccard
      // ESTIMATE (matching-coordinate fraction) sits from the exact
      // Jaccard on the pairs the index actually surfaces — the number
      // that decides whether signature-only verification is safe or
      // the exact rescoring stage must stay. All integer: matches are
      // coordinate equality counts, both estimate and truth ride ppm
      // floor-division, the signed bias is their difference, and the
      // corpus-wide MAE is one scalar aggregate attached back by
      // broadcast (round-10 ran it as an unbounded window — a
      // single-reducer pass over the pair table, which GROWS with the
      // corpus; the guard spec now bans that shape). Cost:
      // candidates × K join rows — linear in the candidate count.
      (s, dir) => {
        val mh = minhashK(t(s, dir, "documents"))
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("long")
        val matches = candidatePairs(s, dir)
          .join(mh.toDF("doc_a", "k", "h_a"), "doc_a")
          .join(mh.toDF("db2", "k2", "h_b"),
            col("doc_b") === col("db2") && col("k") === col("k2"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(when(col("h_a") === col("h_b"), 1L).otherwise(0L))
            .as("n_match"))
        val scored = matches
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .withColumn("n_inter", inter)
          .withColumn("sz_a", size(col("ss_a")).cast("long"))
          .withColumn("sz_b", size(col("ss_b")).cast("long"))
          .select(col("doc_a"), col("doc_b"), col("n_match"),
            expr(s"(n_match * 1000000) div $MinhashK").as("est_ppm"),
            // integer div, never Column `/` (the double-division trap)
            expr("(n_inter * 1000000) div (sz_a + sz_b - n_inter)")
              .as("jac_ppm"))
          .withColumn("bias_ppm", col("est_ppm") - col("jac_ppm"))
        val mae = scored.agg(
          expr("sum(abs(bias_ppm)) div count(1)").as("mae_ppm"))
        scored.crossJoin(broadcast(mae))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_sort(list_distinct(list_transform($shSql, x -> ${h32Sql("x")}))) AS ss
          FROM documents),
        matches AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match
          FROM cpairs c
          JOIN mh a ON a.doc_id = c.doc_a
          JOIN mh b ON b.doc_id = c.doc_b AND b.k = a.k
          GROUP BY 1, 2),
        scored AS (
          SELECT m.doc_a, m.doc_b, m.n_match,
                 CAST((m.n_match * 1000000) // $MinhashK AS BIGINT) AS est_ppm,
                 CAST((len(list_intersect(sa.ss, sb.ss)) * 1000000) //
                      (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))
                      AS BIGINT) AS jac_ppm
          FROM matches m
          JOIN sets sa ON sa.doc_id = m.doc_a
          JOIN sets sb ON sb.doc_id = m.doc_b)
        SELECT doc_a, doc_b, n_match, est_ppm, jac_ppm,
               est_ppm - jac_ppm AS bias_ppm,
               CAST(sum(abs(est_ppm - jac_ppm)) OVER () // count(*) OVER () AS BIGINT) AS mae_ppm
        FROM scored ORDER BY doc_a, doc_b""")),

    QDef("dedup_lcp_adjacent",
      // Sorted-neighborhood prefix dedup (Hernández & Stolfo's SNM,
      // blocked): docs sort by their normalized 200-char prefix inside
      // an 8-char blocking key, and each doc is compared ONLY to its
      // immediate predecessor in that order — the longest-common-prefix
      // length is the duplication signal. Catches shared boilerplate
      // openings (crawl templates, license headers) that token-set
      // measures dilute away, at one window pass instead of any
      // pairwise stage: the only corpus-sized operations are one
      // shuffle on the block key and one within-block sort, and output
      // is at most one row per doc. Docs differing inside the first 8
      // chars land in different blocks and are never compared — the
      // standard SNM blocking trade, documented not hidden. The LCP
      // itself is the native codegen'd CommonPrefixLenExpr (one O(n)
      // scan per pair); the oracle spells the same thing as a bounded
      // position series + min mismatch. lcp >= 16 emits the row,
      // >= 40 flags a boilerplate duplicate.
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("k", substring(Text.normTerm(col("text")), 1, 200))
          .withColumn("blk", substring(col("k"), 1, 8))
        val w = Window.partitionBy("blk").orderBy("k", "doc_id")
        d.withColumn("pk", lag("k", 1).over(w))
          .withColumn("prev_doc_id", lag("doc_id", 1).over(w))
          .filter(col("pk").isNotNull)
          .withColumn("lcp",
            graft.functions.CommonPrefixLenExpr.lcp(col("k"), col("pk")))
          .filter(col("lcp") >= 16)
          .select(col("doc_id"), col("prev_doc_id"), col("lcp"),
            (col("lcp") >= 40).as("dup_prefix"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id,
                 substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 200) AS k
          FROM documents),
        w AS (
          SELECT doc_id, k,
                 lag(k) OVER (PARTITION BY substr(k, 1, 8) ORDER BY k, doc_id) AS pk,
                 lag(doc_id) OVER (PARTITION BY substr(k, 1, 8) ORDER BY k, doc_id) AS prev_doc_id
          FROM d),
        l AS (
          SELECT doc_id, prev_doc_id,
                 COALESCE(list_min(list_filter(range(1, least(len(k), len(pk)) + 1),
                                               p -> k[p] <> pk[p])) - 1,
                          least(len(k), len(pk))) AS lcp
          FROM w WHERE pk IS NOT NULL)
        SELECT doc_id, prev_doc_id, CAST(lcp AS BIGINT) AS lcp,
               lcp >= 40 AS dup_prefix
        FROM l WHERE lcp >= 16 ORDER BY doc_id""")),

    QDef("dedup_editdist_blocked",
      // Edit-distance near-dup verification (the Ed-Join shape):
      // character-level Levenshtein catches the edits token-set
      // measures miss entirely (in-word typos, reorder-free
      // substitutions — a doc with 30 one-char typos shares almost no
      // 3-gram shingles yet is obviously the same text). Quadratic DP
      // never touches the corpus: candidates come from the SAME staged
      // MinHash band index every near-dup query shares, then the
      // LENGTH LOWER BOUND prunes first — edit_dist ≥ |len_a − len_b|,
      // so pairs beyond the band can never pass and skip the DP
      // entirely (Ed-Join's cheapest filter, applied before the
      // expensive kernel, not after). The DP runs on the 120-char
      // normalized prefix — bounded per-pair cost regardless of doc
      // length; both engines implement textbook unit-cost Levenshtein,
      // so the distance is integer-exact cross-engine, and the
      // normalized score is integer ppm.
      (s, dir) => {
        val sig = t(s, dir, "documents")
          .select(col("doc_id"),
            substring(Text.normTerm(col("text")), 1, 120).as("sg"))
          .withColumn("ln", length(col("sg")).cast("long"))
        val cand = candidatePairs(s, dir)
          .join(sig.select(col("doc_id").as("doc_a"),
            col("sg").as("sg_a"), col("ln").as("len_a")), "doc_a")
          .join(sig.select(col("doc_id").as("doc_b"),
            col("sg").as("sg_b"), col("ln").as("len_b")), "doc_b")
          .filter(abs(col("len_a") - col("len_b")) <= 36)
        cand
          .withColumn("edit_dist",
            levenshtein(col("sg_a"), col("sg_b")).cast("long"))
          .withColumn("nedit_ppm", expr(
            "(1000000 * edit_dist) div greatest(len_a, len_b)"))
          .filter(col("nedit_ppm") <= 300000)
          .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
            col("edit_dist"), col("nedit_ppm"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sig AS (
          SELECT doc_id,
                 substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                   1, 120) AS sg,
                 CAST(len(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                   1, 120)) AS BIGINT) AS ln
          FROM documents),
        cand AS (
          SELECT doc_a, doc_b, a.sg AS sg_a, b.sg AS sg_b,
                 a.ln AS len_a, b.ln AS len_b
          FROM cpairs JOIN sig a ON a.doc_id = doc_a
          JOIN sig b ON b.doc_id = doc_b
          WHERE abs(a.ln - b.ln) <= 36),
        scored AS (
          SELECT doc_a, doc_b, len_a, len_b,
                 CAST(levenshtein(sg_a, sg_b) AS BIGINT) AS edit_dist
          FROM cand)
        SELECT doc_a, doc_b, len_a, len_b, edit_dist,
               CAST((1000000 * edit_dist) // greatest(len_a, len_b)
                 AS BIGINT) AS nedit_ppm
        FROM scored WHERE (1000000 * edit_dist) // greatest(len_a, len_b)
          <= 300000
        ORDER BY doc_a, doc_b""")),

    QDef("dedup_cross_source_contamination",
      // Cross-SOURCE near-dup contamination rate — the provenance
      // report a training-data curator reads before trusting a
      // source-level holdout (if src7's eval docs near-duplicate src3's
      // training docs, the split leaks regardless of how carefully doc
      // ids were partitioned): per source, how many of its documents
      // have a verified near-dup (Jaccard >= 0.5 on 3-gram sets) in a
      // DIFFERENT source, as an integer ppm rate. Same
      // verify-on-candidates discipline as dedup_ngram_jaccard — the
      // pair list comes from the shared staged LSH band index, exact
      // Jaccard rescoring touches candidates only (the sorted
      // merge-count kernel), and the source attribution is two hash
      // joins on doc_id; the final rollup is one aggregate over the
      // 20-row source dimension with a left join so ZERO-contamination
      // sources still report (coalesce-0 — both arms probed live at
      // sf0.001 and sf0.01). Nothing is quadratic in the corpus; at
      // 100 TB the plan cost is the one the minhash family already
      // pays, plus a candidate-linear verify.
      (s, dir) => {
        val sets = ngramSets(s, dir)
        val inter = graft.functions.SortedInterCountExpr
          .interCount(col("ss_a"), col("ss_b")).cast("int")
        val ja = inter.cast("double") /
          (size(col("ss_a")) + size(col("ss_b")) - inter).cast("double")
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val crossPairs = candidatePairs(s, dir)
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ss_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ss_b")), "doc_b")
          .filter(rx(ja, 4) >= 0.5)
          .select("doc_a", "doc_b")
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
          .filter(col("src_a") =!= col("src_b"))
        // Single-pass multi-emit (the Graph.emit rule): the two union
        // arms referenced the same crossPairs subtree twice, and Spark
        // shares no common subtrees — the whole candidate+verify+
        // attribution chain ran twice per execution (r18).
        val contam = crossPairs
          .select(explode(array(
            struct(col("doc_a").as("doc_id"), col("src_a").as("source")),
            struct(col("doc_b").as("doc_id"), col("src_b").as("source"))))
            .as("x"))
          .select(col("x.doc_id").as("doc_id"), col("x.source").as("source"))
          .groupBy("source").agg(countDistinct("doc_id").as("n_contam"))
        src.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .join(contam, Seq("source"), "left")
          .withColumn("n_contam", coalesce(col("n_contam"), lit(0L)))
          .select(col("source"), col("n_docs"), col("n_contam"),
            expr("(n_contam * 1000000) div n_docs").as("contam_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH $minhashBandsSql,
        $candidatePairsSql,
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform($shSql, x -> ${h32Sql("x")})) AS ss
          FROM documents),
        xp AS (
          SELECT c.doc_a, c.doc_b, da.source AS src_a, db.source AS src_b
          FROM cpairs c
          JOIN sets a ON a.doc_id = c.doc_a
          JOIN sets b ON b.doc_id = c.doc_b
          JOIN documents da ON da.doc_id = c.doc_a
          JOIN documents db ON db.doc_id = c.doc_b
          WHERE ${rxSql("""CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                    / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))""", 4)} >= 0.5
            AND da.source <> db.source),
        contam AS (
          SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contam
          FROM (SELECT doc_a AS doc_id, src_a AS source FROM xp
                UNION ALL SELECT doc_b, src_b FROM xp)
          GROUP BY 1),
        per_src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1)
        SELECT p.source, p.n_docs,
               CAST(coalesce(c.n_contam, 0) AS BIGINT) AS n_contam,
               CAST((coalesce(c.n_contam, 0) * 1000000) // p.n_docs AS BIGINT)
                 AS contam_ppm
        FROM per_src p LEFT JOIN contam c ON c.source = p.source
        ORDER BY p.source"""))
  )
}
