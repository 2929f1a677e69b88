package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and packing: repetition-based quality filtering
  * (the Gopher/MassiveText rules' shape), PII redaction, mixture
  * (per-language rate) sampling, and exact heavy-hitter vocabulary
  * statistics. All per-document work is codegen'd built-ins — narrow,
  * shuffle-free scans that scale linearly; the only shuffles are the
  * final ORDER BY (driver-compare requirement) and the heavy-hitter
  * aggregate, which is map-side combined on a vocabulary-sized key
  * space.
  */
object Curation {
  import QDef._

  private val toksSql =
    """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""

  /** The per-doc bigram explode, disk-staged — shared by the LM score
    * table and PMI.
    */
  private def lmBigrams(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.Staged.disk(s, dir, "lm_bigrams") {
      t(s, dir, "documents")
        .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
        .select(col("doc_id"), explode(Text.shingles(col("tks"), 2)).as("bg"))
    }

  /** Per-doc bigram-LM fluency scores — (doc_id, n_bigrams, score_ppm),
    * unordered; text_lm_score is this plus an ORDER BY, and
    * text_perplexity_buckets stratifies on it. See text_lm_score's
    * Scaladoc for the exact-integer design; the bigram explode is
    * [[lmBigrams]], shared with PMI.
    */
  private def lmScorePerDoc(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // The whole score table is disk-staged, not just the bigram
    // explode: text_lm_score and text_perplexity_buckets each consumed
    // it, and each run re-ran the two corpus aggregates (bigram
    // counts, per-doc sums) over the staged bigrams.
    graft.pipeline.Staged.disk(s, dir, "lm_scores") {
      val bgs = lmBigrams(s, dir)
      val cnt = bgs.groupBy("bg").agg(count(lit(1)).as("c2"))
      val ctx = cnt
        .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(sum(col("c2")).as("c1"))
      // No broadcast hints: ctx is word-vocab-sized and q is
      // BIGRAM-vocab-sized — both grow with the corpus (Heaps' law),
      // so a forced broadcast is the executor-OOM inverse of the
      // small-dim pattern. Unhinted, AQE broadcasts them at small
      // scale and shuffles on the w1/bg keys at 100 TB.
      val q = cnt.join(ctx,
          substring_index(col("bg"), " ", 1) === col("w1"))
        .select(col("bg"), expr("(c2 * 1000000) div c1").as("q"))
      val perDoc = bgs.join(q, Seq("bg"))
        .groupBy("doc_id")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n_bigrams"))
      t(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          expr("s div n_bigrams").as("score_ppm"))
    }

  /** DuckDB CTE chain ≙ [[lmScorePerDoc]] ending in
    * `lm_scores(doc_id, n_bigrams, score_ppm)`; shared by the
    * text_lm_score and text_perplexity_buckets oracles.
    */
  private val lmScoreCtesSql = s"""d AS (
          SELECT doc_id, $toksSql AS tks FROM documents),
        bgs AS (
          SELECT doc_id,
            unnest(list_transform(range(greatest(len(tks) - 1, 0)),
              i -> tks[i+1] || ' ' || tks[i+2])) AS bg
          FROM d),
        cnt AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY bg),
        ctx AS (
          SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
          FROM cnt GROUP BY 1),
        q AS (
          SELECT bg, (c2 * 1000000) // c1 AS q
          FROM cnt JOIN ctx ON split_part(bg, ' ', 1) = w1),
        per_doc AS (
          SELECT doc_id, sum(q) AS s, count(*) AS n_bigrams
          FROM bgs JOIN q USING (bg) GROUP BY doc_id),
        lm_scores AS (
          SELECT d0.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
                 CAST(s // n_bigrams AS BIGINT) AS score_ppm
          FROM (SELECT doc_id FROM documents) d0
          LEFT JOIN per_doc USING (doc_id))"""

  val all: Seq[QDef] = Seq(

    QDef("text_classifier_score",
      // Model-based quality filtering — the learned-classifier slot
      // (the fastText filter of CCNet/LLaMA-style pipelines) as
      // distinct from the heuristic text_quality_score: each token is
      // feature-hashed into D=1024 buckets and scored by that bucket's
      // linear weight, the doc's logit is the mean token weight, and
      // keep = logit > 0. Weights here are md5-derived integer millis
      // (a stand-in for trained parameters — the scoring plumbing, not
      // the training, is the operator); the token sum is therefore an
      // EXACT integer fold (shuffle-order-free, and in fact shuffle-
      // free: one projection with an in-array aggregate, no explode).
      // The keep decision compares the integer sum, never a float. At
      // 100 TB this is a codegen'd linear scan — the cheapest filter
      // shape there is; swapping real trained weights in changes the
      // lookup table, not the plan.
      (s, dir) => {
        val bucket = (tk: org.apache.spark.sql.Column) =>
          pmod(Text.md5Hash32(concat(lit("fh:"), tk)), lit(1024L))
        val weight = (b: org.apache.spark.sql.Column) =>
          pmod(Text.md5Hash32(concat(lit("w:"), b.cast("string"))),
            lit(2001L)) - lit(1000L)
        t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .withColumn("milli", aggregate(
            transform(col("tks"), tk => weight(bucket(tk))),
            lit(0L), (acc, x) => acc + x))
          .select(col("doc_id"), size(col("tks")).cast("long").as("n_tok"),
            rx(when(size(col("tks")) === 0, lit(0.0))
              .otherwise(col("milli").cast("double") /
                (lit(1000.0) * size(col("tks")).cast("double"))), 6)
              .as("logit"),
            (col("milli") > 0).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, $toksSql AS tks FROM documents),
        m AS (
          SELECT doc_id, tks,
            CAST(coalesce(list_sum(list_transform(tks, t ->
              CAST(('0x' || substr(md5('w:' ||
                CAST(CAST(('0x' || substr(md5('fh:' || t), 1, 8)) AS BIGINT) % 1024 AS VARCHAR)
              ), 1, 8)) AS BIGINT) % 2001 - 1000)), 0) AS BIGINT) AS milli
          FROM tk)
        SELECT doc_id, CAST(len(tks) AS BIGINT) AS n_tok,
               ${rxSql("CASE WHEN len(tks) = 0 THEN 0.0 ELSE CAST(milli AS DOUBLE) / (1000.0 * len(tks)) END", 6)} AS logit,
               milli > 0 AS keep
        FROM m ORDER BY doc_id""")),

    QDef("text_gopher_repetition",
      // Repetition-based quality signals (the Gopher rules' shape):
      // duplicate-token / duplicate-bigram / duplicate-trigram
      // fractions plus symbol density, and the keep/drop decision a
      // curation sweep applies. Ratios compare rx-rounded values so the
      // threshold decision is bit-identical across engines. Arrays are
      // bound with withColumn BEFORE any size/distinct use — inlining a
      // computed array into repeated accesses re-evaluates the whole
      // split per element.
      (s, dir) => {
        def dupRatio(c: String) =
          when(size(col(c)) === 0, 0.0)
            .otherwise((size(col(c)) - size(array_distinct(col(c))))
              .cast("double") / size(col(c)).cast("double"))
        t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .withColumn("bg", Text.shingles(col("tks"), 2))
          .withColumn("tg", Text.shingles(col("tks"), 3))
          .select(col("doc_id"),
            size(col("tks")).cast("long").as("n_tok"),
            rx(dupRatio("tks"), 4).as("dup_tok_ratio"),
            rx(dupRatio("bg"), 4).as("dup_bigram_ratio"),
            rx(dupRatio("tg"), 4).as("dup_trigram_ratio"),
            rx(when(length(col("text")) === 0, 0.0)
              .otherwise(size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
                .cast("double") / length(col("text")).cast("double")), 4)
              .as("symbol_ratio"))
          .withColumn("keep",
            col("dup_trigram_ratio") <= 0.85 && col("symbol_ratio") <= 0.1)
          .orderBy("doc_id")
      }, {
        def dupSql(l: String) =
          s"CASE WHEN len($l) = 0 THEN 0.0 ELSE (len($l) - len(list_distinct($l))) / CAST(len($l) AS DOUBLE) END"
        val bgSql =
          s"list_transform(range(greatest(len(tks) - 1, 0)), i -> tks[i+1] || ' ' || tks[i+2])"
        val tgSql =
          s"list_transform(range(greatest(len(tks) - 2, 0)), i -> tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3])"
        Some(s"""WITH base AS (
            SELECT doc_id, text, $toksSql AS tks FROM documents),
          arr AS (
            SELECT doc_id, text, tks, $bgSql AS bg, $tgSql AS tg FROM base),
          scored AS (
            SELECT doc_id,
              len(tks) AS n_tok,
              ${rxSql(dupSql("tks"), 4)} AS dup_tok_ratio,
              ${rxSql(dupSql("bg"), 4)} AS dup_bigram_ratio,
              ${rxSql(dupSql("tg"), 4)} AS dup_trigram_ratio,
              ${rxSql(s"CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / CAST(length(text) AS DOUBLE) END", 4)} AS symbol_ratio
            FROM arr)
          SELECT *, (dup_trigram_ratio <= 0.85 AND symbol_ratio <= 0.1) AS keep
          FROM scored ORDER BY doc_id""")
      }),

    QDef("text_pii_mask",
      // PII redaction: email-shaped and digit-run tokens replaced with
      // typed placeholders, hit counts kept for the audit trail. Run
      // over the events props payload (the only free-text column with
      // digits in the synthetic corpus); the regexes are shared
      // Java/RE2 syntax so both engines replace identically. Pure
      // per-row string work — linear, shuffle-free.
      (s, dir) => {
        t(s, dir, "events")
          .select(col("event_id"), col("props"),
            Text.maskPii(col("props")).as("masked"),
            size(regexp_extract_all(col("props"), lit(Text.EmailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
              .cast("long").as("n_nums"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, props,
          regexp_replace(regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g') AS masked,
          len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          len(regexp_extract_all(props, '[0-9]+')) AS n_nums
        FROM events ORDER BY event_id""")),

    QDef("sample_mixture",
      // Data-mixing by per-language target rates (downsample the
      // dominant language, keep the rare ones): deterministic
      // md5-derived uniform in [0, 10000) per doc, keep iff below the
      // language's rate. Hash sampling is the scalable mixing
      // primitive — stateless, seedless, stable under corpus growth,
      // and the oracle reproduces the exact row set. The "mix:" salt
      // decorrelates this draw from sample_hash_split's buckets.
      (s, dir) => {
        val u = pmod(
          Text.md5Hash32(concat(lit("mix:"), col("doc_id").cast("string"))),
          lit(10000))
        val rate = when(col("lang") === "en", 2500)
          .when(col("lang") === "de" || col("lang") === "fr", 5000)
          .when(col("lang") === "es", 7500)
          .otherwise(10000)
        t(s, dir, "documents")
          .withColumn("u", u)
          .withColumn("rate_bp", rate.cast("long"))
          .filter(col("u") < col("rate_bp"))
          .select(col("doc_id"), col("lang"), col("u"), col("rate_bp"))
          .orderBy("doc_id")
      },
      Some("""WITH drawn AS (
          SELECT doc_id, lang,
            CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS u,
            CAST(CASE WHEN lang = 'en' THEN 2500
                 WHEN lang IN ('de', 'fr') THEN 5000
                 WHEN lang = 'es' THEN 7500
                 ELSE 10000 END AS BIGINT) AS rate_bp
          FROM documents)
        SELECT doc_id, lang, u, rate_bp FROM drawn
        WHERE u < rate_bp ORDER BY doc_id""")),

    QDef("sample_reservoir_group",
      // Deterministic per-group "reservoir": the k=10 docs with the
      // smallest salted md5 draw per source — a uniform
      // without-replacement sample per domain (the per-host cap a C4-
      // style corpus applies), seedless and stable under corpus growth.
      // Runs on the native bounded-heap top-k operator
      // (plans.TopKPerGroup): each input partition prunes to <= k rows
      // per source BEFORE the shuffle, where a window row_number would
      // shuffle and sort the whole corpus — at 100 TB that pruning is
      // the operator. The heap keeps the LARGEST order values, so the
      // negated draw selects the smallest; the tiny window afterwards
      // re-derives the rank over <= k rows per group for output parity.
      (s, dir) => {
        graft.GraftExtensions.ensureRegistered(s)
        val drawn = t(s, dir, "documents")
          .withColumn("h",
            Text.md5Hash32(concat(lit("res:"), col("doc_id").cast("string"))))
          .withColumn("negh", -col("h"))
          .select("source", "doc_id", "h", "negh")
        val top = graft.plans.TopKPerGroup(
          drawn, Seq("source"), "negh", "doc_id", 10)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
        top.withColumn("rk", row_number().over(w).cast("long"))
          .select(col("source"), col("rk"), col("doc_id"), col("h"))
          .orderBy("source", "rk")
      },
      Some("""WITH drawn AS (
          SELECT source, doc_id,
            CAST(('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM documents),
        ranked AS (
          SELECT source, doc_id, h,
            row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
          FROM drawn)
        SELECT source, rk, doc_id, h FROM ranked
        WHERE rk <= 10 ORDER BY source, rk""")),

    QDef("agg_heavy_hitters",
      // Exact corpus heavy hitters: terms whose global frequency share
      // is >= 0.5%. Map-side-combined count on the vocabulary-sized
      // term key, total as a broadcast 1-row aggregate (never a
      // driver-side count), share compared UNROUNDED — one division of
      // identical longs is IEEE-exact in both engines. tf is staged
      // (memoized persist) because both the broadcast total and the
      // filtered output consume it — unpersisted, the 1-row total
      // aggregate would re-run the whole tokenize+shuffle subtree.
      (s, dir) => {
        val tf = graft.pipeline.Staged.disk(s, dir, "heavy_hitters_tf") {
          t(s, dir, "documents")
            .select(explode(Text.tokens(Text.normTerm(col("text")))).as("term"))
            .filter(length(col("term")) > 0)
            .groupBy("term").agg(count(lit(1)).as("n"))
        }
        val total = tf.agg(sum(col("n")).as("tot"))
        tf.crossJoin(broadcast(total))
          .filter(col("n").cast("double") / col("tot").cast("double") >= 0.005)
          .select(col("term"), col("n"),
            rx(col("n").cast("double") / col("tot").cast("double"), 6)
              .as("share"))
          .orderBy(col("n").desc, col("term"))
      },
      Some(s"""WITH tok AS (
          SELECT unnest($toksSql) AS term FROM documents),
        tf AS (
          SELECT term, count(*) AS n FROM tok WHERE length(term) > 0 GROUP BY term),
        tot AS (SELECT sum(n) AS tot FROM tf)
        SELECT term, n, ${rxSql("n / CAST(tot AS DOUBLE)", 6)} AS share
        FROM tf, tot
        WHERE n / CAST(tot AS DOUBLE) >= 0.005
        ORDER BY n DESC, term""")),

    QDef("sample_temperature",
      // Temperature-flattened mixture sampling (the UniMax/multilingual
      // rebalancing shape): per-language keep rates derived FROM the
      // corpus counts — rate_l = 10000·sqrt(min_count/count_l) basis
      // points, i.e. α = 0.5 temperature — so the rarest language keeps
      // everything and dominant ones are downsampled toward equal
      // effective share. Contrast sample_mixture's hand-pinned rates:
      // here the policy adapts as the corpus grows, which is the form a
      // 100 TB pipeline actually ships. sqrt/divide/multiply are single
      // IEEE ops (bit-identical in both engines — pow() would not be),
      // and the keep decision compares integers. Two tiny aggregates
      // broadcast; the scan stays narrow and shuffle-free.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cnt = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
        val mn = cnt.agg(min(col("nl")).as("minc"))
        val rates = cnt.crossJoin(broadcast(mn))
          .select(col("lang"),
            least(lit(10000L),
              floor(lit(10000.0) *
                sqrt(col("minc").cast("double") / col("nl").cast("double")))
                .cast("long")).as("rate_bp"))
        docs
          .withColumn("u", pmod(
            Text.md5Hash32(concat(lit("temp:"), col("doc_id").cast("string"))),
            lit(10000)))
          .join(broadcast(rates), Seq("lang"))
          .filter(col("u") < col("rate_bp"))
          .select(col("doc_id"), col("lang"), col("u"), col("rate_bp"))
          .orderBy("doc_id")
      },
      Some("""WITH cnt AS (
          SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
        mn AS (SELECT min(nl) AS minc FROM cnt),
        rates AS (
          SELECT lang,
            least(10000, CAST(floor(10000.0 * sqrt(minc / CAST(nl AS DOUBLE))) AS BIGINT)) AS rate_bp
          FROM cnt, mn),
        drawn AS (
          SELECT doc_id, lang,
            CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS u
          FROM documents)
        SELECT doc_id, d.lang, u, rate_bp
        FROM drawn d JOIN rates USING (lang)
        WHERE u < rate_bp ORDER BY doc_id""")),

    QDef("sample_mixture_epochs",
      // The per-doc UPSAMPLING PLAN that operationalizes the token
      // budget (profile_token_budget's consumer): each language's x100
      // repetition factor against a half-corpus budget, capped at 3
      // epochs (the data-repeat ceiling the repeated-data literature
      // puts at ~4 before returns collapse; the corpus's own shares
      // put every non-dominant language above it), becomes per-doc copy
      // counts — every doc gets floor(epochs) copies and the
      // fractional remainder is realized by a salted-hash draw, so the
      // realized language token mass converges to the budget share
      // without any randomness or coordination. This is the table a
      // training dataloader materializes shards from. Pure integers;
      // the 5-row rate dim broadcasts; one narrow scan, shuffle-free.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val per = docs
          .select(col("lang"), size(Text.tokens(Text.normTerm(col("text"))))
            .cast("long").as("ntok"))
          .groupBy("lang").agg(sum("ntok").as("tokens"))
        val tot = per.agg(sum("tokens").as("total_tokens"))
        val rates = per.crossJoin(broadcast(tot))
          .select(col("lang"),
            least(expr("((total_tokens div 2) * 100) div tokens"), lit(300L))
              .as("epochs_x100"))
        docs
          .withColumn("draw", pmod(
            Text.md5Hash32(concat(lit("ep:"), col("doc_id").cast("string"))),
            lit(100L)))
          .join(broadcast(rates), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("epochs_x100"),
            (expr("epochs_x100 div 100")
              + when(col("draw") < col("epochs_x100") % 100, 1L).otherwise(0L))
              .as("n_copies"))
          .orderBy("doc_id")
      },
      Some("""WITH per AS (
          SELECT lang,
            CAST(sum(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS tokens
          FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM per),
        rates AS (
          SELECT lang,
            least(((total_tokens // 2) * 100) // tokens, 300) AS epochs_x100
          FROM per CROSS JOIN tot),
        drawn AS (
          SELECT doc_id, lang,
            CAST(('0x' || substr(md5('ep:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS draw
          FROM documents)
        SELECT doc_id, d.lang, CAST(epochs_x100 AS BIGINT) AS epochs_x100,
               CAST(epochs_x100 // 100
                 + CASE WHEN draw < epochs_x100 % 100 THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        FROM drawn d JOIN rates USING (lang)
        ORDER BY doc_id""")),

    QDef("text_lm_score",
      // Corpus-trained bigram language-model fluency score — the
      // KenLM-shaped quality signal curation pipelines threshold on,
      // in exact integer arithmetic: each bigram's conditional
      // probability p(w2|w1) = c(w1 w2)/c(w1·) is floor-quantized to
      // parts-per-million (integer division of corpus counts, exact in
      // any engine), and a document scores the integer mean of its
      // bigrams' ppm values — no transcendental log-probs, no
      // fold-order-dependent double sums. The bigram/context tables
      // are vocabulary-bounded (broadcast here; at a real 50k-token BPE
      // vocab the q-table join shuffles on the bigram key instead —
      // same plan, bigger dim). Per-doc work is one explode + one join
      // + one aggregate: linear end to end.
      (s, dir) => lmScorePerDoc(s, dir).orderBy("doc_id"),
      Some(s"""WITH $lmScoreCtesSql
        SELECT doc_id, n_bigrams, score_ppm FROM lm_scores
        ORDER BY doc_id""")),

    QDef("text_perplexity_buckets",
      // LM-score stratification — the CCNet discipline: per language,
      // rank documents by bigram-LM fluency and cut into head/middle/
      // tail terciles (CCNet buckets on KenLM perplexity; score_ppm is
      // the same ordering with the sign flipped — higher = more
      // fluent), then report each stratum's doc count, char mass, and
      // score range — the table a mixture designer samples "head-only"
      // or "head+middle" from. ntile(3) over (score DESC, doc_id) is
      // the standard-SQL tercile — identical extra-row placement in
      // both engines, deterministic under the total order. One window
      // over the scored docs (partitioned by language, so it
      // parallelizes) + one bounded aggregate (langs × 3 rows);
      // the score reuses the staged lm_bigrams explode.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("score_ppm").desc, col("doc_id"))
        lmScorePerDoc(s, dir)
          .filter(col("n_bigrams") > 0)
          .join(t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
            Seq("doc_id"))
          .withColumn("tercile", ntile(3).over(w))
          .withColumn("bucket", element_at(
            array(lit("head"), lit("middle"), lit("tail")), col("tercile")))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("chars"),
            min("score_ppm").as("min_score"),
            max("score_ppm").as("max_score"))
          .orderBy("lang", "bucket")
      },
      Some(s"""WITH $lmScoreCtesSql,
        scored AS (
          SELECT l.doc_id, l.score_ppm, doc.lang, doc.n_chars
          FROM lm_scores l JOIN documents doc USING (doc_id)
          WHERE l.n_bigrams > 0),
        terc AS (
          SELECT lang, n_chars, score_ppm,
                 ntile(3) OVER (PARTITION BY lang
                   ORDER BY score_ppm DESC, doc_id) AS tercile
          FROM scored)
        SELECT lang,
               CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
               min(score_ppm) AS min_score, max(score_ppm) AS max_score
        FROM terc GROUP BY 1, 2 ORDER BY lang, bucket""")),

    QDef("text_pmi_collocations",
      // Collocation mining by pointwise mutual information — the
      // phrase-discovery pass (tokenizer vocab candidates, stopword-
      // phrase lists) curation pipelines run corpus-wide. PMI's
      // log() is transcendental (engine-divergent by design rule), so
      // the score is the LIFT in exact integer parts-per-million:
      // lift_ppm = c(w1 w2)·N·1e6 div (c(w1·)·c(·w2)) — the same
      // ranking as PMI (log is monotone), all bigint floor division.
      // Reuses the staged lm_bigrams explode; the aggregates are
      // map-side-combined on the vocabulary-sized bigram key space,
      // and the unigram/total tables are broadcast — one corpus
      // shuffle total, the linear plan this keeps at 100 TB.
      (s, dir) => {
        val bgs = lmBigrams(s, dir)
        // Materialize the vocabulary-sized bigram counts ONCE: four
        // branches (main, c1, c2, tot) reference this subtree, and
        // Spark shares no common subtrees — uncheckpointed, each
        // branch re-runs the corpus shuffle (measured: 7 exchanges vs
        // 4, pinned in PlanShapeSpec).
        val cnt = bgs.groupBy("bg").agg(count(lit(1)).as("c12"))
          .localCheckpoint(true)
        val tot = cnt.agg(sum(col("c12")).cast("long").as("n_total"))
        val c1 = cnt.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum(col("c12")).as("c1"))
        val c2 = cnt.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
          .agg(sum(col("c12")).as("c2"))
        // c1/c2 are word-vocab-sized (grow with the corpus) — no
        // broadcast hint; AQE broadcasts while they fit and shuffles
        // on the word keys at scale. Only the 1-row total keeps its
        // hint.
        cnt.filter(col("c12") >= 5)
          .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
          .join(c2, substring_index(col("bg"), " ", -1) === col("w2"))
          .crossJoin(broadcast(tot))
          .select(col("bg"), col("c12"),
            // Headroom: c12·n_total·1e6 overflows int64 near
            // c12·n_total ≈ 9.2e12 (a 1% top bigram of a ~1e6-bigram
            // corpus is already ~1e16) — and Spark (non-ANSI) would
            // wrap silently while DuckDB errors. Route the product
            // through DECIMAL(38,0) (~1e30 at corpus scale stays in
            // range); `div` on decimals still returns BIGINT.
            expr("(cast(c12 as decimal(38,0)) * n_total * 1000000) div (c1 * c2)")
              .as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("bg")).limit(20)
      },
      Some(s"""WITH d AS (
          SELECT doc_id, $toksSql AS tks FROM documents),
        bgs AS (
          SELECT doc_id,
            unnest(list_transform(range(greatest(len(tks) - 1, 0)),
              i -> tks[i+1] || ' ' || tks[i+2])) AS bg
          FROM d),
        cnt AS (SELECT bg, count(*) AS c12 FROM bgs GROUP BY bg),
        tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_total FROM cnt),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
               FROM cnt GROUP BY 1),
        c2 AS (SELECT split_part(bg, ' ', 2) AS w2, CAST(sum(c12) AS BIGINT) AS c2
               FROM cnt GROUP BY 1)
        SELECT bg, c12,
               CAST((CAST(c12 AS HUGEINT) * n_total * 1000000) // (c1 * c2) AS BIGINT) AS lift_ppm
        FROM cnt
        JOIN c1 ON split_part(bg, ' ', 1) = w1
        JOIN c2 ON split_part(bg, ' ', 2) = w2
        CROSS JOIN tot
        WHERE c12 >= 5
        ORDER BY lift_ppm DESC, bg LIMIT 20""")),

    QDef("sample_dedup_weighted",
      // Duplicate-aware downsampling (the RefinedWeb-style soft dedup):
      // instead of hard-keeping one representative per duplicate
      // cluster (dedup_exact), every copy survives an independent
      // deterministic 1/k draw, k = its cluster size — so duplicated
      // content is down-WEIGHTED to ~one expected copy while which
      // copy survives stays reproducible (md5 of a salted doc_id, not
      // an RNG). The cluster key here is the 3-token PREFIX
      // fingerprint (the URL/title-key flavor of soft dedup; this
      // corpus has no exact-text duplicates, so the exact fp would
      // leave the k>1 arm dead — the dead-arm trap). Plan: ONE shuffle
      // on the 16-hex key computing the cluster size as a window count
      // over the pk partition, then a codegen'd filter — the
      // groupBy+join-back spelling paid a second exchange and a join
      // stage for the same result (r16 fusion; cluster-size windows
      // skew exactly like the aggregate would, and AQE handles both).
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .select(col("doc_id"),
            substring(md5(concat_ws(" ", slice(col("tks"), 1, 3))), 1, 16)
              .as("pk"))
        docs
          .withColumn("csize", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("pk")))
          .filter(pmod(Text.md5Hash32(
            concat(lit("dw:"), col("doc_id").cast("string"))), col("csize")) === 0)
          .select(col("doc_id"), col("pk"), col("csize"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id,
            substr(md5(coalesce(array_to_string(($toksSql)[1:3], ' '), '')), 1, 16) AS pk
          FROM documents),
        sz AS (SELECT pk, count(*) AS csize FROM d GROUP BY pk)
        SELECT doc_id, d.pk AS pk, csize
        FROM d JOIN sz USING (pk)
        WHERE CAST(('0x' || substr(md5('dw:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % csize = 0
        ORDER BY doc_id""")),

    QDef("text_bpe_pair_counts",
      // The inner loop of BPE tokenizer training, iteration 0: corpus
      // frequency of every adjacent character pair. The real-impl
      // trick is the pre-aggregation — count DISTINCT WORDS first
      // (vocabulary-sized), then explode each word's pairs weighted by
      // its corpus count, so pair counting costs O(vocab · word_len)
      // instead of O(corpus chars). A pair at position i is just
      // substr(word, i, 2) — no char-array explode needed. Top-20 by
      // (count desc, pair) is fully deterministic.
      (s, dir) => {
        val words = t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .select(explode(col("tks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
          .filter(length(col("w")) >= 2)
        words
          .select(col("w"), col("wn"),
            explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
          .select(col("w").substr(col("i"), lit(2)).as("pair"), col("wn"))
          .groupBy("pair").agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some(s"""WITH words AS (
          SELECT w, count(*) AS wn FROM (
            SELECT unnest($toksSql) AS w FROM documents)
          GROUP BY w),
        prs AS (
          SELECT substr(w, CAST(i + 1 AS INT), 2) AS pair, wn
          FROM words, unnest(range(length(w) - 1)) AS t(i)
          WHERE length(w) >= 2)
        SELECT pair, CAST(sum(wn) AS BIGINT) AS n
        FROM prs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 20""")),

    QDef("text_bpe_merge_apply",
      // BPE training, iteration 1: pick the argmax pair from iteration
      // 0 (count desc, pair tie-break), APPLY the merge to the word
      // vocabulary, and recount pairs over the merged symbol
      // sequences — the loop step every tokenizer trainer repeats 30k
      // times. The merge itself is literal string replace of the pair
      // with a one-char sentinel (chr(1), outside the corpus
      // alphabet): replace() is left-to-right and non-overlapping in
      // both engines, which is exactly BPE's greedy merge semantics
      // ('aaa' + merge 'aa' -> ['aa','a']); the merged symbol then
      // participates in the recount as an ordinary character, so
      // sentinel-adjacent pairs (merged+x, even merged+merged) emerge
      // naturally. Everything runs on the DISTINCT-WORD table weighted
      // by corpus count — per-iteration cost is O(vocab · word_len),
      // never a corpus rescan, which is why BPE training at 100 TB is
      // one corpus pass + 30k vocabulary-sized iterations. The 1-row
      // argmax attaches via broadcast; display maps the sentinel back
      // to "{pair}".
      (s, dir) => {
        val words = t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .select(explode(col("tks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wn"))
          .filter(length(col("w")) >= 2)
        val top1 = words
          .select(col("w"), col("wn"),
            explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
          .select(col("w").substr(col("i"), lit(2)).as("mp"), col("wn"))
          .groupBy("mp").agg(sum(col("wn")).as("n0"))
          .orderBy(col("n0").desc, col("mp")).limit(1)
          .select("mp")
        words.crossJoin(broadcast(top1))
          .withColumn("w2", expr("replace(w, mp, chr(1))"))
          .filter(length(col("w2")) >= 2)
          .select(col("w2"), col("wn"), col("mp"),
            explode(sequence(lit(1), length(col("w2")) - 1)).as("i"))
          .select(col("w2").substr(col("i"), lit(2)).as("p2"),
            col("wn"), col("mp"))
          .groupBy("p2", "mp").agg(sum(col("wn")).as("n"))
          .select(expr("replace(p2, chr(1), '{' || mp || '}')").as("pair"),
            col("mp").as("merged"), col("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some(s"""WITH words AS (
          SELECT w, count(*) AS wn FROM (
            SELECT unnest($toksSql) AS w FROM documents)
          GROUP BY w),
        w2s AS (SELECT w, wn FROM words WHERE length(w) >= 2),
        prs0 AS (
          SELECT substr(w, CAST(i + 1 AS INT), 2) AS mp, wn
          FROM w2s, unnest(range(length(w) - 1)) AS t(i)),
        top1 AS (
          SELECT mp FROM (SELECT mp, sum(wn) AS n0 FROM prs0 GROUP BY 1)
          ORDER BY n0 DESC, mp LIMIT 1),
        merged AS (
          SELECT replace(w, mp, chr(1)) AS w2, wn, mp
          FROM w2s CROSS JOIN top1),
        m2 AS (SELECT w2, wn, mp FROM merged WHERE length(w2) >= 2),
        prs AS (
          SELECT substr(w2, CAST(i + 1 AS INT), 2) AS p2, wn, mp
          FROM m2, unnest(range(length(w2) - 1)) AS t(i)),
        agg AS (
          SELECT p2, mp, CAST(sum(wn) AS BIGINT) AS n
          FROM prs GROUP BY 1, 2)
        SELECT replace(p2, chr(1), '{' || mp || '}') AS pair,
               mp AS merged, n
        FROM agg ORDER BY n DESC, pair LIMIT 20""")),

    QDef("text_bpe_train3", {
      // Three chained BPE training iterations — the merge TABLE, which
      // is the artifact tokenizer training actually ships (the merge
      // list, in order, with the pair count that won each round). Each
      // round r replaces the argmax pair with sentinel chr(r) over the
      // weighted distinct-word table and recounts; later merges can
      // absorb earlier sentinels (merged symbols pair like any other
      // character), and the display resolves sentinels back to nested
      // {..} spellings. Per-round cost stays O(vocab · word_len); the
      // corpus is scanned exactly once, which is why 30k-merge
      // trainers are feasible at 100 TB. Rounds re-reference the
      // previous vocabulary twice (argmax + rewrite), so each round is
      // eagerly localCheckpoint'd — the same lineage lesson as BFS.
      (s, dir) => {
        def pairsOf(words: org.apache.spark.sql.DataFrame) = words
          .select(col("w"), col("wn"),
            explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
          .select(col("w").substr(col("i"), lit(2)).as("p"), col("wn"))
          .groupBy("p").agg(sum("wn").as("n"))
        // Checkpoints via Lineage.checkpoint: same eager
        // localCheckpoint, but the pre-checkpoint plans are recorded
        // so the BNLJ guard certifies the 1-row argmax leaves
        // structurally (limit(1)) instead of by allowlist claim.
        var words = graft.pipeline.Lineage.checkpoint(
          t(s, dir, "documents")
            .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
            .select(explode(col("tks")).as("w"))
            .groupBy("w").agg(count(lit(1)).as("wn"))
            .filter(length(col("w")) >= 2))
        val tops = (1 to 3).map { r =>
          val top = graft.pipeline.Lineage.checkpoint(
            pairsOf(words)
              .orderBy(col("n").desc, col("p")).limit(1)
              .select(col("p").as(s"m$r"), col("n").as(s"n$r")))
          words = graft.pipeline.Lineage.checkpoint(
            words.crossJoin(broadcast(top.select(col(s"m$r"))))
              .withColumn("w", expr(s"replace(w, m$r, chr($r))"))
              .drop(s"m$r")
              .filter(length(col("w")) >= 2))
          top
        }
        tops(0).crossJoin(tops(1)).crossJoin(tops(2))
          .withColumn("d1", col("m1"))
          .withColumn("d2", expr("replace(m2, chr(1), '{' || m1 || '}')"))
          .withColumn("d3", expr(
            "replace(replace(m3, chr(2), '{' || replace(m2, chr(1), '{' || m1 || '}') || '}'), chr(1), '{' || m1 || '}')"))
          .selectExpr("""stack(3,
              1L, d1, n1,
              2L, d2, n2,
              3L, d3, n3) AS (round, merge, pair_count)""")
          .orderBy("round")
      }
    }, Some(s"""WITH words AS (
          SELECT w, count(*) AS wn FROM (
            SELECT unnest($toksSql) AS w FROM documents)
          GROUP BY w),
        w0 AS (SELECT w, wn FROM words WHERE length(w) >= 2),
        p1 AS (SELECT substr(w, CAST(i + 1 AS INT), 2) AS p, wn
               FROM w0, unnest(range(length(w) - 1)) AS t(i)),
        a1 AS (SELECT p, CAST(sum(wn) AS BIGINT) AS n FROM p1 GROUP BY 1),
        t1 AS (SELECT p AS m1, n AS n1 FROM a1 ORDER BY n DESC, p LIMIT 1),
        w1 AS (SELECT replace(w, m1, chr(1)) AS w, wn FROM w0 CROSS JOIN t1
               WHERE length(replace(w, m1, chr(1))) >= 2),
        p2 AS (SELECT substr(w, CAST(i + 1 AS INT), 2) AS p, wn
               FROM w1, unnest(range(length(w) - 1)) AS t(i)),
        a2 AS (SELECT p, CAST(sum(wn) AS BIGINT) AS n FROM p2 GROUP BY 1),
        t2 AS (SELECT p AS m2, n AS n2 FROM a2 ORDER BY n DESC, p LIMIT 1),
        w2 AS (SELECT replace(w, m2, chr(2)) AS w, wn FROM w1 CROSS JOIN t2
               WHERE length(replace(w, m2, chr(2))) >= 2),
        p3 AS (SELECT substr(w, CAST(i + 1 AS INT), 2) AS p, wn
               FROM w2, unnest(range(length(w) - 1)) AS t(i)),
        a3 AS (SELECT p, CAST(sum(wn) AS BIGINT) AS n FROM p3 GROUP BY 1),
        t3 AS (SELECT p AS m3, n AS n3 FROM a3 ORDER BY n DESC, p LIMIT 1)
        SELECT CAST(round AS BIGINT) AS round, merge, pair_count FROM (
          SELECT 1 AS round, m1 AS merge, n1 AS pair_count FROM t1
          UNION ALL
          SELECT 2, replace(m2, chr(1), '{' || m1 || '}'), n2 FROM t1, t2
          UNION ALL
          SELECT 3,
                 replace(replace(m3, chr(2),
                   '{' || replace(m2, chr(1), '{' || m1 || '}') || '}'),
                   chr(1), '{' || m1 || '}'),
                 n3 FROM t1, t2, t3)
        ORDER BY round""")),

    QDef("pipeline_curation_e2e", {
      // The curation funnel as ONE lazy plan — the end-to-end
      // composition a training-data team actually ships, with the
      // per-stage survivor counts that make the funnel auditable:
      //   raw -> quality (Gopher repetition + symbol rules) ->
      //   exact dedup (min-doc_id per normalized-text fingerprint) ->
      //   language evidence (>=1 stopword hit) -> train split
      //   (md5 bucket < 80).
      // Every stage reuses the exact formula its standalone query
      // established (text_gopher_repetition, dedup_exact,
      // sample_hash_split), so the funnel IS the composition of
      // independently-verified parts; Catalyst fuses the whole chain
      // into one scan + one fingerprint window + five metadata-sized
      // aggregates. At 100 TB this shape matters because each stage's
      // selectivity compounds — the dedup window runs on quality
      // survivors only, the split hash on deduped docs only; ordering
      // filters by decreasing cost-per-row is the optimization the
      // stage counts let you reason about.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        def dupRatio(c: String) =
          when(size(col(c)) === 0, 0.0)
            .otherwise((size(col(c)) - size(array_distinct(col(c))))
              .cast("double") / size(col(c)).cast("double"))
        val stops = Seq("the", "and", "of", "to", "in", "is",
          "der", "die", "und", "das", "ist", "nicht",
          "le", "la", "les", "et", "est", "une",
          "el", "los", "las", "y", "es", "una")
        val d0 = t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .withColumn("tg", Text.shingles(col("tks"), 3))
          // Token-level repetition (median ~0.54 on this corpus, so the
          // 0.6 gate is live at every SF) plus the standalone gopher
          // rules; the fingerprint is the 3-token-prefix cluster key
          // sample_dedup_weighted established — this corpus has no
          // byte-identical duplicates, but prefix-key near-dups exist
          // at every SF, so the dedup stage provably filters.
          .withColumn("qual",
            rx(dupRatio("tks"), 4) <= 0.6 &&
              rx(dupRatio("tg"), 4) <= 0.85 &&
              rx(when(length(col("text")) === 0, 0.0)
                .otherwise(size(regexp_extract_all(col("text"),
                  lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
                  length(col("text")).cast("double")), 4) <= 0.1)
          .withColumn("fp",
            substring(md5(array_join(slice(col("tks"), 1, 3), " ")), 1, 16))
          .withColumn("grounded",
            size(filter(col("tks"), t => t.isInCollection(stops))) >= 1)
          .withColumn("bucket",
            pmod(Text.md5Hash32(col("doc_id").cast("string")), lit(100)))
        // Survivor-of-stage-k as a FLAG, not a filtered frame: the
        // dedup keeper among quality survivors is min(when(qual,
        // doc_id)) over the fingerprint partition, so the whole funnel
        // is ONE scan + ONE window + ONE conditional aggregate —
        // five filtered sub-plans would recompute the token/ratio
        // work per stage (benched 21s vs ~4s at sf0.1).
        val flagged = d0
          .withColumn("mn_q", min(when(col("qual"), col("doc_id")))
            .over(Window.partitionBy("fp")))
          .withColumn("k_dedup", col("qual") && col("doc_id") === col("mn_q"))
          .withColumn("k_lang", col("k_dedup") && col("grounded"))
          .withColumn("k_train", col("k_lang") && col("bucket") < 80)
        def nOf(c: org.apache.spark.sql.Column, a: String) =
          sum(when(c, 1L).otherwise(0L)).as(s"n$a")
        def cOf(c: org.apache.spark.sql.Column, a: String) =
          sum(when(c, col("n_chars")).otherwise(0L)).as(s"c$a")
        flagged.agg(
            count(lit(1)).as("n1"), sum("n_chars").as("c1"),
            nOf(col("qual"), "2"), cOf(col("qual"), "2"),
            nOf(col("k_dedup"), "3"), cOf(col("k_dedup"), "3"),
            nOf(col("k_lang"), "4"), cOf(col("k_lang"), "4"),
            nOf(col("k_train"), "5"), cOf(col("k_train"), "5"))
          .selectExpr("""stack(5,
              1L, 'raw', n1, c1,
              2L, 'quality', n2, c2,
              3L, 'dedup', n3, c3,
              4L, 'lang_evidence', n4, c4,
              5L, 'train', n5, c5) AS (stage_ord, stage, n_docs, chars_sum)""")
          .orderBy("stage_ord")
      }
    }, {
      val stops = Seq("the", "and", "of", "to", "in", "is",
        "der", "die", "und", "das", "ist", "nicht",
        "le", "la", "les", "et", "est", "une",
        "el", "los", "las", "y", "es", "una")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val tgSql =
        "list_transform(range(greatest(len(tks) - 2, 0)), i -> tks[i+1] || ' ' || tks[i+2] || ' ' || tks[i+3])"
      def dupOf(l: String) =
        s"CASE WHEN len($l) = 0 THEN 0.0 ELSE (len($l) - len(list_distinct($l))) / CAST(len($l) AS DOUBLE) END"
      val symSql =
        """CASE WHEN length(text) = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / CAST(length(text) AS DOUBLE) END"""
      Some(s"""WITH d0 AS (
          SELECT doc_id, n_chars, text, $toksSql AS tks FROM documents),
        flags AS (
          SELECT doc_id, n_chars,
            (${rxSql(dupOf("tks"), 4)} <= 0.6
              AND ${rxSql(dupOf(tgSql), 4)} <= 0.85
              AND ${rxSql(symSql, 4)} <= 0.1) AS qual,
            substr(md5(coalesce(array_to_string(list_slice(tks, 1, 3), ' '), '')), 1, 16) AS fp,
            len(list_filter(tks, t -> list_contains($stops, t))) >= 1 AS grounded,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
          FROM d0),
        s1 AS (SELECT * FROM flags WHERE qual),
        s2 AS (SELECT * FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY fp) AS mn FROM s1)
          WHERE doc_id = mn),
        s3 AS (SELECT * FROM s2 WHERE grounded),
        s4 AS (SELECT * FROM s3 WHERE bucket < 80)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
                 count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum
          FROM flags
          UNION ALL SELECT 2, 'quality', count(*), CAST(sum(n_chars) AS BIGINT) FROM s1
          UNION ALL SELECT 3, 'dedup', count(*), CAST(sum(n_chars) AS BIGINT) FROM s2
          UNION ALL SELECT 4, 'lang_evidence', count(*), CAST(sum(n_chars) AS BIGINT) FROM s3
          UNION ALL SELECT 5, 'train', count(*), CAST(sum(n_chars) AS BIGINT) FROM s4)
        ORDER BY stage_ord""")
    }),

    QDef("agg_vocab_hhi",
      // Vocabulary concentration per source — the Herfindahl-Hirschman
      // index of the token distribution, in exact integer micros:
      // HHI = Σ cnt² / T², and its reciprocal is the EFFECTIVE
      // vocabulary size (how many equally-likely types would produce
      // the same concentration) — the scalar a corpus-balance monitor
      // tracks per source/shard to catch boilerplate floods that raw
      // distinct counts miss (a million types led by one 40% token is
      // still degenerate). Entropy would need ln(); the HHI carries
      // the same concentration signal as pure integer arithmetic, so
      // it is hash-exact in any engine. One explode + one
      // (source, term) aggregate + one source aggregate — all
      // map-side combinable, nothing quadratic.
      (s, dir) => {
        val tf = t(s, dir, "documents")
          .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
          .select(col("source"), explode(col("tks")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        tf.groupBy("source")
          .agg(sum("cnt").as("n_tokens"),
            count(lit(1)).as("n_types"),
            // Σcnt² and n_tokens² are ~N² per source — DECIMAL(38,0)
            // ≙ HUGEINT so neither wraps past ~3e9 tokens/source (the
            // r12 overflow sweep); the div quotients land back in
            // int64 by construction (hhi ≤ 1e6, eff types ≤ n_types).
            sum(col("cnt").cast("decimal(38,0)") * col("cnt")).as("s2"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            expr("(s2 * 1000000) div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)")
              .as("hhi_micro"),
            expr("(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) div s2")
              .as("effective_types"))
          .orderBy("source")
      },
      Some(s"""WITH tf AS (
          SELECT source, term, count(*) AS cnt FROM (
            SELECT source, unnest($toksSql) AS term FROM documents)
          WHERE len(term) > 0 GROUP BY 1, 2),
        st AS (
          SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                 count(*) AS n_types, sum(CAST(cnt AS HUGEINT) * cnt) AS s2
          FROM tf GROUP BY 1)
        SELECT source, n_tokens, n_types,
               CAST((s2 * 1000000) // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT) AS hhi_micro,
               CAST((CAST(n_tokens AS HUGEINT) * n_tokens) // s2 AS BIGINT) AS effective_types
        FROM st ORDER BY source""")),

    QDef("pipeline_kanon_suppress",
      // k-anonymity suppression (the data-governance release gate): a
      // row's quasi-identifiers (lang, source) are masked to '*' when
      // fewer than k=10 rows share that combination — so no released
      // row is re-identifiable to better than a k-crowd. QI here =
      // (lang, length bucket n_chars div 50) — the classic
      // demographic-shaped pair whose group sizes are skewed enough
      // that BOTH arms stay live at sf0.01 AND sf0.1 (uniform QIs like
      // (lang, source), and the low-entropy first-letter of this
      // synthetic vocab, left one arm dead at some scale). The masked
      // value for the bucket is -1 (its domain is non-negative). One
      // windowed count on the QI key = one shuffle; at 100 TB with a
      // low-cardinality QI the same plan swaps the window for a
      // groupBy + broadcast join of the group-size table.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "lb")
        t(s, dir, "documents")
          .withColumn("lb", expr("n_chars div 50"))
          .withColumn("grp_n", count(lit(1)).over(w))
          .select(col("doc_id"),
            when(col("grp_n") < 10, lit("*")).otherwise(col("lang"))
              .as("lang_out"),
            when(col("grp_n") < 10, lit(-1L)).otherwise(col("lb"))
              .as("len_bucket_out"),
            col("grp_n"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, lang, n_chars // 50 AS lb FROM documents),
        gn AS (
          SELECT doc_id, lang, lb,
                 count(*) OVER (PARTITION BY lang, lb) AS grp_n
          FROM g)
        SELECT doc_id,
          CASE WHEN grp_n < 10 THEN '*' ELSE lang END AS lang_out,
          CAST(CASE WHEN grp_n < 10 THEN -1 ELSE lb END AS BIGINT)
            AS len_bucket_out,
          grp_n
        FROM gn ORDER BY doc_id""")),

    QDef("pipeline_dq_quarantine",
      // Expectation-based quarantine routing (the dbt-test / DLT-
      // expectations shape): every row is tagged with the comma-joined
      // list of the rules it fails — too_short (n_chars < 100),
      // unsupported_lang (not in the pipeline's allowlist; zh routes
      // here in this corpus), too_long (n_chars > 450 — a context-
      // window guard; the synthetic corpus is pure ASCII, so a
      // byte-vs-char rule would be a dead arm) —
      // and quarantined = any failure. One codegen'd projection over
      // the scan, no shuffle but the driver-compare ORDER BY: the
      // cheapest possible audit pass, which is why it can run inline on
      // every 100 TB ingest instead of as a separate validation job.
      // concat_ws skips NULL arms identically in both engines.
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(",",
            when(col("n_chars") < 100, lit("too_short")),
            when(!col("lang").isin("en", "de", "fr", "es"),
              lit("unsupported_lang")),
            when(col("n_chars") > 450, lit("too_long"))).as("reasons"))
        .withColumn("quarantined", (col("reasons") =!= "").cast("int").cast("long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          concat_ws(',',
            CASE WHEN n_chars < 100 THEN 'too_short' END,
            CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'unsupported_lang' END,
            CASE WHEN n_chars > 450 THEN 'too_long' END)
            AS reasons,
          CAST(CASE WHEN concat_ws(',',
            CASE WHEN n_chars < 100 THEN 'too_short' END,
            CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'unsupported_lang' END,
            CASE WHEN n_chars > 450 THEN 'too_long' END)
            <> '' THEN 1 ELSE 0 END AS BIGINT) AS quarantined
        FROM documents ORDER BY doc_id"""))
  )
}
