package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ConvertNameExpr, Text}
import graft.pipeline.{Classify, Corpus, Graph, NestedEnrich, Stages, XmlDocs}

/** End-to-end reference pipeline (SURVEY §7.1 flagship slice and §3.1
  * lifecycle) over the synthetic TPC-H-derived document corpus, each
  * stage DuckDB-oracle-checked:
  *
  *   known-entity harvest (O13) -> distinct-term extraction (O14) ->
  *   known-entity pruning (O15, broadcast anti join) -> classification
  *   (O16-O19, rule classifier) -> label precedence (O20-O21) ->
  *   URI minting (O23-O24) -> graph build (O25-O28).
  *
  * The whole chain is one lazy Catalyst plan per query — the reference's
  * four process boundaries and disk IPC (run_pipeline.py:34-77) collapse
  * into shuffles chosen by the optimizer.
  */
object Pipeline {
  import QDef._

  /** The reference's NER system prompt, verbatim role (O16,
    * json_classification.py:288-296) — constant payload of every batch
    * request's system message.
    */
  private val NerPrompt =
    "You are an NER system that classifies terms into PERSON, PLACE, " +
      "ORGANIZATION, or TERM. Return {classification: 'example_class'} " +
      "as a json object, one term per line."

  private def uriSql(e: String): String =
    s"'r' || CAST(CAST(('0x' || substr(sha256(regexp_replace(lower($e), '[ ,]', '', 'g')), 1, 8)) AS BIGINT) % 100000000 AS VARCHAR)"

  private def prelude: String = Seq(
    Corpus.flatDocsSql,
    Corpus.indexTriplesSql,
    Classify.knownEntitiesSql,
    Classify.allTermsSql,
    Classify.apiMapSql,
    Classify.labelTriplesSql).mkString("WITH ", ",\n", "\n")

  // Memoized + persisted stage outputs (see Stages): the seven queries
  // of this family and the XML staging all consume one computation of
  // the corpus/classify chain per session+dir.
  private def stages(s: SparkSession, dir: String) = Stages(s, dir)

  /** Degree-oriented distinct term co-occurrence edges — the shared
    * graph-analytics substrate (triangles, clustering coefficients,
    * assortativity, link prediction all start here). Disk-staged: the
    * edge set is referenced many times downstream (3 wedge-join
    * copies × 3 union branches in the triangle family), and its raw
    * lineage embeds the classify chain — without truncation the
    * ANALYZED plan carries ~54 copies of that chain's AST and analysis
    * alone benched at 20+ s while the data side is 91 rows. The staged
    * parquet leaf cuts the lineage (the job an eager localCheckpoint
    * used to do, without the per-JVM rebuild — persist alone does
    * not). Orientation: every edge points from its lower-
    * (degree, id) endpoint to the higher one, turning the graph into a
    * DAG where each out-degree is O(√m) — the standard scalable wedge
    * bound. Edge building is document-blocked (bounded per-doc term
    * lists); the degree sides are VOCABULARY-sized (they grow with the
    * corpus), so per repo policy they carry no broadcast hint — AQE
    * broadcasts them while they fit and shuffles the joins at scale
    * (the round-16 staged-build sweep caught the hints this build
    * carried; same resolution as the classify dictionaries in r15).
    */
  private def orientedTermEdges(s: SparkSession, dir: String): DataFrame =
    // Disk-staged: the parquet leaf truncates the classify-chain
    // lineage for every downstream reference (the job the eager
    // localCheckpoint used to do) AND a fresh bench/verify JVM reads
    // the edge set back instead of re-running the pair join (~4 s of
    // per-JVM staging on the warm path).
    graft.pipeline.Staged.disk(s, dir, "triangle_edges") {
      val dt = stages(s, dir).labeled
        .filter(col("main_type") === "term")
        .select(col("documentID"), col("main").as("term"))
        .distinct()
      val e = dt.as("a").join(dt.as("b"),
          col("a.documentID") === col("b.documentID") &&
            col("a.term") < col("b.term"))
        .select(col("a.term").as("u"), col("b.term").as("v"))
        .distinct()
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      e.join(deg.toDF("u", "du"), "u")
        .join(deg.toDF("v", "dv"), "v")
        .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"))
    }

  /** Oracle-side CTEs for the undirected co-occurrence edge set (id-
    * oriented u < v — same edges as [[orientedTermEdges]] modulo
    * direction) and its degree table; appended after [[prelude]].
    */
  private val termEdgeSqlCtes: String =
    """dt AS (SELECT DISTINCT documentID, main FROM labeled
               WHERE main_type = 'term'),
        e AS (SELECT DISTINCT a.main AS u, b.main AS v
              FROM dt a JOIN dt b
                ON a.documentID = b.documentID AND a.main < b.main),
        dg AS (SELECT term, CAST(count(*) AS BIGINT) AS deg FROM (
                 SELECT u AS term FROM e UNION ALL SELECT v FROM e)
               GROUP BY 1)"""

  /** Mean-thresholded ("strong") co-occurrence edges: pairs whose
    * co-occurring document count is STRICTLY above the mean pair
    * count. The bounded term vocabulary makes the unweighted graph go
    * COMPLETE once the corpus is big enough (every pair co-occurs
    * somewhere) — at sf0.01 every degree is |V|−1, which starves
    * degree-based analytics: assortativity's variance hits exactly 0
    * (a 0/0) and link prediction has no non-edges left to predict.
    * The mean cut is the derived-feed reachability rule applied to
    * graphs: it keeps the edge set neither complete nor empty at
    * EVERY corpus size (some pair is always above/below the mean
    * unless all weights tie), so degrees vary and non-edges exist at
    * any SF. All-integer comparison (w·n_pairs > Σw — no division),
    * hence bit-identical cross-engine. Id-oriented (u < v);
    * disk-staged for the same many-downstream-references reason as
    * [[orientedTermEdges]].
    */
  private def strongTermEdges(s: SparkSession, dir: String): DataFrame =
    // Disk-staged for the same lineage-truncation + cross-JVM reasons
    // as [[orientedTermEdges]].
    graft.pipeline.Staged.disk(s, dir, "strong_term_edges") {
      val dt = stages(s, dir).labeled
        .filter(col("main_type") === "term")
        .select(col("documentID"), col("main").as("term"))
        .distinct()
      val w = dt.as("a").join(dt.as("b"),
          col("a.documentID") === col("b.documentID") &&
            col("a.term") < col("b.term"))
        .groupBy(col("a.term").as("u"), col("b.term").as("v"))
        .agg(count(lit(1)).as("w"))
      val tot = w.agg(count(lit(1)).as("np"), sum("w").as("sw"))
      w.crossJoin(broadcast(tot))
        .filter(col("w") * col("np") > col("sw"))
        .select("u", "v")
    }

  /** Oracle-side CTEs mirroring [[strongTermEdges]] (`se`) and its
    * degree table (`sdg`); appended after [[prelude]].
    */
  private val strongEdgeSqlCtes: String =
    """dt AS (SELECT DISTINCT documentID, main FROM labeled
               WHERE main_type = 'term'),
        wpair AS (SELECT a.main AS u, b.main AS v,
                    CAST(count(*) AS BIGINT) AS w
                  FROM dt a JOIN dt b
                    ON a.documentID = b.documentID AND a.main < b.main
                  GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS np,
                  CAST(sum(w) AS BIGINT) AS sw FROM wpair),
        se AS (SELECT u, v FROM wpair, tot WHERE w * np > sw),
        sdg AS (SELECT term, CAST(count(*) AS BIGINT) AS deg FROM (
                  SELECT u AS term FROM se UNION ALL SELECT v FROM se)
                GROUP BY 1)"""

  val all: Seq[QDef] = Seq(

    QDef("scan_xml_docs",
      // O1-O3: serialize a bounded slice of the corpus as
      // reference-shaped XML, scan it with Spark's XML source, rebuild
      // the document model and project — checked against the relational
      // corpus definition.
      (s, dir) => {
        val st = stages(s, dir)
        val docs = st.docs.orderBy("documentID").limit(100)
        val trip = st.triples
          .join(docs.select("documentID"), Seq("documentID"))
        val path = scratch(
          s"xml_docs_${new java.io.File(dir).getName}/corpus_xml")
        XmlDocs.writeCorpusXml(docs, trip, path)
        XmlDocs.toDocModel(XmlDocs.read(s, path))
          .select(col("documentID"), col("documentTitle"),
            size(col("authors")).cast("long").as("n_authors"),
            size(col("indexing")).cast("long").as("n_terms"),
            col("location.name").as("loc"),
            col("dates.`date-from`").as("date_from"))
          .orderBy("documentID")
      },
      Some(prelude +
        """SELECT d.documentID, d.documentTitle,
             CAST(1 AS BIGINT) AS n_authors,
             coalesce(tc.n, 0) AS n_terms,
             d.loc, d.date_from
        FROM (SELECT * FROM docs ORDER BY documentID LIMIT 100) d
        LEFT JOIN (SELECT documentID, count(*) AS n FROM triples GROUP BY 1) tc
          USING (documentID)
        ORDER BY documentID""")),

    QDef("pipeline_late_dim_reconcile",
      // LATE-ARRIVING DIMENSION handling — the warehouse pattern SCD2
      // doesn't cover: facts land before their dimension row exists
      // (a new customer's first order beats the CRM sync), get parked
      // under an UNKNOWN placeholder member, and reconcile when the
      // dim lands. A deterministic md5 split marks 1-in-4 customers
      // "late"; phase 1 enriches orders against the on-time dim only
      // (left join, placeholder on miss), phase 2 against the full
      // dim; the report is per final segment: fact count, how many
      // sat parked in phase 1, and the reclassification rate in ppm —
      // the number that sizes how much of yesterday's UNKNOWN bucket
      // today's sync resolves. Shape: two broadcast left joins on the
      // customer dim + one rollup; the fact table streams once per
      // phase, nothing dimension-global. Both arms live at every SF
      // (36/150 late at sf0.001).
      (s, dir) => {
        val isLate = pmod(Text.md5Hash32(
          concat(lit("latedim:"), col("c_custkey").cast("string"))),
          lit(4L)) === 0
        val dim = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), isLate.as("is_late"))
        val facts = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val p1 = facts
          .join(broadcast(dim.filter(!col("is_late"))
            .select(col("c_custkey").as("k1"), col("c_mktsegment").as("seg1"))),
            col("o_custkey") === col("k1"), "left")
          .select(col("o_orderkey"),
            coalesce(col("seg1"), lit("UNKNOWN")).as("seg1"))
        val p2 = facts
          .join(broadcast(dim
            .select(col("c_custkey").as("k2"), col("c_mktsegment").as("seg2"))),
            col("o_custkey") === col("k2"), "left")
          .select(col("o_orderkey"), col("seg2"))
        p1.join(p2, "o_orderkey")
          .groupBy(col("seg2").as("segment"))
          .agg(count(lit(1)).as("n_facts"),
            sum(when(col("seg1") === "UNKNOWN", 1L).otherwise(0L))
              .as("n_parked"))
          .select(col("segment"), col("n_facts"), col("n_parked"),
            expr("(n_parked * 1000000) div n_facts").as("reclassified_ppm"))
          .orderBy("segment")
      },
      Some("""WITH dim AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(('0x' || substr(md5('latedim:' || CAST(c_custkey AS VARCHAR)), 1, 8))
                   AS BIGINT) % 4 = 0 AS is_late
          FROM customer),
        p1 AS (
          SELECT o.o_orderkey,
                 coalesce(d.c_mktsegment, 'UNKNOWN') AS seg1
          FROM orders o LEFT JOIN (SELECT * FROM dim WHERE NOT is_late) d
            ON d.c_custkey = o.o_custkey),
        p2 AS (
          SELECT o.o_orderkey, d.c_mktsegment AS seg2
          FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey)
        SELECT p2.seg2 AS segment,
               CAST(count(*) AS BIGINT) AS n_facts,
               CAST(sum(CASE WHEN p1.seg1 = 'UNKNOWN' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_parked,
               CAST((sum(CASE WHEN p1.seg1 = 'UNKNOWN' THEN 1 ELSE 0 END) * 1000000)
                 // count(*) AS BIGINT) AS reclassified_ppm
        FROM p1 JOIN p2 USING (o_orderkey)
        GROUP BY 1 ORDER BY 1""")),

    QDef("pipeline_nested_enrich",
      // The faithful nested-model path (B1 -> B2 -> B3): enrich +
      // URI-attach via transform() lambdas, then flatten for compare.
      (s, dir) => {
        val st = stages(s, dir)
        val b3 = NestedEnrich.addUris(
          NestedEnrich.enrich(st.nested, Classify.RuleClassifier,
            labels = Some(Classify.labelTable(st.known, st.api))))
        b3.select(col("documentID"), explode(col("indexing")).as("t"))
          .select(col("documentID"),
            col("t.term").as("term"), col("t.type").as("type"),
            col("t.uri").as("uri"),
            col("t.midsub.term").as("mid_term"),
            col("t.midsub.type").as("mid_type"),
            col("t.midsub.uri").as("mid_uri"),
            col("t.sub.term").as("sub_term"),
            col("t.sub.type").as("sub_type"),
            col("t.sub.uri").as("sub_uri"))
          .orderBy("documentID", "term", "mid_term", "sub_term")
      },
      Some(prelude +
        s"""SELECT documentID,
             main AS term, main_type AS type,
             CASE WHEN main_type <> 'term' THEN ${uriSql("main")} END AS uri,
             CASE WHEN midsub <> '' THEN midsub END AS mid_term,
             CASE WHEN midsub <> '' THEN midsub_type END AS mid_type,
             CASE WHEN midsub <> '' AND midsub_type <> 'term' THEN ${uriSql("midsub")} END AS mid_uri,
             CASE WHEN sub <> '' THEN sub END AS sub_term,
             CASE WHEN sub <> '' THEN sub_type END AS sub_type,
             CASE WHEN sub <> '' AND sub_type <> 'term' THEN ${uriSql("sub")} END AS sub_uri
        FROM labeled
        ORDER BY documentID, term, mid_term NULLS FIRST, sub_term NULLS FIRST""")),

    QDef("pipeline_known_entities",
      (s, dir) => stages(s, dir).known.orderBy("norm"),
      Some(prelude + "SELECT norm, type FROM known ORDER BY norm")),

    QDef("pipeline_terms_classify",
      (s, dir) => stages(s, dir).api.orderBy("norm"),
      Some(prelude + "SELECT norm, type FROM api ORDER BY norm")),

    QDef("pipeline_batch_envelope",
      // O16 (json_classification.py:120-149, 196-215): per unclassified
      // term, build the OpenAI Batch request envelope — custom_id
      // `task-{i}`, method, url, body{model, temperature,
      // response_format, system+user messages} — write the JSONL batch
      // file, read it back, and reconstruct the reference's input_dict
      // (custom_id -> messages[1].content) joined with the
      // classification keyed by custom_id. Faithful quirk: the
      // reference enumerates the FULL term list and skips known
      // entities AFTER enumeration, so task indexes keep gaps where
      // known terms sat; enumeration order here is sorted-by-term (the
      // deterministic stand-in for Python list order). The term set is
      // dimension-sized, so the single-partition enumeration window and
      // the JSONL file are bounded — the fact-sized corpus never
      // flows through this query.
      (s, dir) => {
        val st = stages(s, dir)
        // api holds exactly the non-known normalized terms, so the
        // inner join below reproduces the known-entities skip (O15)
        // without a second anti join.
        // The api map is vocabulary-sized (grows with the corpus), so
        // neither lookup join below carries a broadcast hint — AQE
        // broadcasts it while it fits, shuffle-joins at scale (repo
        // policy; same as the classify chain's dictionary joins).
        // Enumeration ordinal: row_number() OVER (ORDER BY term) is a
        // partition-less window over the vocabulary — the term set
        // GROWS with the corpus, so the global sort rides
        // DistributedRank's shard-offset rank instead of one reducer.
        // The shard key must cast to long: the first 7 UTF-8 bytes of
        // the term, big-endian (hex→conv), order-match Spark's binary
        // string comparison, and the full term tiebreaks equal
        // prefixes — so (key, tie) reproduces ORDER BY term exactly.
        val ordKey = conv(
          rpad(hex(substring(encode(col("term"), "UTF-8"), 1, 7)), 14, "0"),
          16, 10).cast("long")
        val tasks = graft.operators.DistributedRank
          .withGlobalRank(st.terms, ordKey, col("term"), out = "__env_rk")
          .withColumn("idx", col("__env_rk") - 1)
          .join(st.api.select(col("norm")),
            Text.normTerm(col("term")) === col("norm"))
          .select(
            concat(lit("task-"), col("idx")).as("custom_id"),
            lit("POST").as("method"),
            lit("/v1/chat/completions").as("url"),
            struct(
              lit("gpt-4o-mini").as("model"),
              lit(0.1).as("temperature"),
              struct(lit("json_object").as("type")).as("response_format"),
              array(
                struct(lit("system").as("role"), lit(NerPrompt).as("content")),
                struct(lit("user").as("role"), col("term").as("content")))
                .as("messages")).as("body"))
        val out = scratch(s"batch_tasks_${new java.io.File(dir).getName}")
        // Eager builder-side write: this plan never appears in the
        // RETURNED query tree (the read-back below is an opaque text
        // leaf), so it registers with EagerWrites and the three scale
        // guards sweep it like any returned plan.
        graft.pipeline.EagerWrites.run("pipeline_batch_envelope_jsonl")(
          tasks.select(to_json(struct(col("custom_id"), col("method"),
            col("url"), col("body"))).as("value"))) {
          _.write.mode("overwrite").text(out)
        }
        val parsed = s.read.schema(
            "custom_id STRING, method STRING, url STRING, " +
              "body STRUCT<model: STRING, temperature: DOUBLE, " +
              "response_format: STRUCT<type: STRING>, " +
              "messages: ARRAY<STRUCT<role: STRING, content: STRING>>>")
          .json(out)
        val input = parsed.select(col("custom_id"),
          element_at(col("body.messages"), 2).getField("content").as("content"))
        // Mock batch output: the rule classifier's label plays the
        // parsed response body, matched back on custom_id exactly like
        // the reference's input_dict/output_dict zip.
        input
          .join(st.api.withColumnRenamed("type", "classification"),
            Text.normTerm(col("content")) === col("norm"))
          .select("custom_id", "content", "classification")
          .orderBy("custom_id")
      },
      Some(prelude + """
        SELECT 'task-' || CAST(rn - 1 AS VARCHAR) AS custom_id,
               t.term AS content, api.type AS classification
        FROM (SELECT term, row_number() OVER (ORDER BY term) AS rn FROM terms) t
        JOIN api ON api.norm = lower(trim(regexp_replace(t.term, '\s+', ' ', 'g')))
        ORDER BY custom_id""")),

    QDef("pipeline_label_precedence",
      (s, dir) => stages(s, dir).labeled
        .orderBy("documentID", "main", "midsub", "sub"),
      Some(prelude +
        """SELECT documentID, main, main_type, midsub, midsub_type, sub, sub_type
        FROM labeled ORDER BY documentID, main, midsub, sub""")),

    QDef("pipeline_uri_attach",
      (s, dir) => {
        val st = stages(s, dir)
        val (docs, labeled) = (st.docs, st.labeled)
        // Multi-emit, not union-of-filters: a union arm per entity kind
        // would re-execute the labeled chain once per arm (see Graph).
        def ent(name: org.apache.spark.sql.Column, typ: org.apache.spark.sql.Column) =
          struct(name.as("name"), typ.as("type"))
        val fromLabeled = labeled.select(explode(array(
            when(col("main_type") =!= "term", ent(col("main"), col("main_type"))),
            when(col("midsub_type") =!= "term", ent(col("midsub"), col("midsub_type"))),
            when(col("sub_type") =!= "term", ent(col("sub"), col("sub_type")))))
            .as("x"))
          .filter(col("x").isNotNull)
          .select(col("x.name").as("name"), col("x.type").as("type"))
        val fromDocs = docs.select(explode(array(
            ent(ConvertNameExpr.convertNameNative(col("author")), lit("person")),
            ent(ConvertNameExpr.convertNameNative(col("recipient")), lit("person")),
            ent(col("loc"), lit("place")))).as("x"))
          .select(col("x.name").as("name"), col("x.type").as("type"))
        fromLabeled.union(fromDocs).distinct()
          .withColumn("uri", Text.uriHash(col("name")))
          .orderBy("name", "type")
      },
      Some(prelude +
        s"""SELECT name, type, ${uriSql("name")} AS uri FROM (
          SELECT DISTINCT name, type FROM (
            SELECT main AS name, main_type AS type FROM labeled WHERE main_type <> 'term'
            UNION ALL SELECT midsub, midsub_type FROM labeled WHERE midsub_type <> 'term'
            UNION ALL SELECT sub, sub_type FROM labeled WHERE sub_type <> 'term'
            UNION ALL SELECT author, 'person' FROM docs
            UNION ALL SELECT recipient, 'person' FROM docs
            UNION ALL SELECT loc, 'place' FROM docs))
        ORDER BY name, type""")),

    QDef("pipeline_graph_nodes",
      (s, dir) => stages(s, dir).nodes
        .orderBy(col("label"), col("key"), col("uri").asc_nulls_first),
      Some(prelude +
        s"""SELECT DISTINCT label, key, uri FROM (
          SELECT 'Document' AS label, documentID AS key, CAST(NULL AS VARCHAR) AS uri FROM docs
          UNION ALL SELECT 'Person', author, ${uriSql("author")} FROM docs
          UNION ALL SELECT 'Person', recipient, ${uriSql("recipient")} FROM docs
          UNION ALL SELECT 'Place', loc, ${uriSql("loc")} FROM docs
          UNION ALL SELECT 'Person', main, ${uriSql("main")} FROM labeled WHERE main_type = 'person'
          UNION ALL SELECT 'Place', main, ${uriSql("main")} FROM labeled WHERE main_type = 'place'
          UNION ALL SELECT 'Organization', main, ${uriSql("main")} FROM labeled WHERE main_type = 'organization'
          UNION ALL SELECT 'Term', main, NULL FROM labeled WHERE main_type = 'term'
          UNION ALL SELECT 'Term', midsub, NULL FROM labeled WHERE midsub IS NOT NULL AND midsub <> ''
          UNION ALL SELECT 'Term', sub, NULL FROM labeled WHERE sub IS NOT NULL AND sub <> ''
          UNION ALL SELECT 'Date', date_from, NULL FROM docs WHERE date_from IS NOT NULL AND date_from <> ''
          UNION ALL SELECT 'Date', date_to, NULL FROM docs WHERE date_to IS NOT NULL AND date_to <> '')
        ORDER BY label, key, uri NULLS FIRST""")),

    QDef("pipeline_graph_edges",
      (s, dir) => {
        val st = stages(s, dir)
        Graph.edges(st.docs, st.labeled).orderBy("type", "src", "dst")
      },
      Some(prelude +
        s"""SELECT DISTINCT src, dst, type FROM (
          SELECT ${uriSql("author")} AS src, documentID AS dst, 'AUTHOR' AS type FROM docs
          UNION ALL SELECT ${uriSql("recipient")}, documentID, 'RECIPIENT' FROM docs
          UNION ALL SELECT ${uriSql("loc")}, documentID, 'LOCATION' FROM docs
          UNION ALL SELECT documentID, date_from, 'DATE_FROM' FROM docs WHERE date_from IS NOT NULL AND date_from <> ''
          UNION ALL SELECT documentID, date_to, 'DATE_TO' FROM docs WHERE date_to IS NOT NULL AND date_to <> ''
          UNION ALL SELECT ${uriSql("main")}, documentID, 'HAS_PERSON' FROM labeled WHERE main_type = 'person'
          UNION ALL SELECT ${uriSql("main")}, documentID, 'HAS_PLACE' FROM labeled WHERE main_type = 'place'
          UNION ALL SELECT ${uriSql("main")}, documentID, 'HAS_ORGANIZATION' FROM labeled WHERE main_type = 'organization'
          UNION ALL SELECT documentID, main, 'HAS_TERM' FROM labeled WHERE main_type = 'term'
          UNION ALL SELECT main, midsub, 'MIDSUB' FROM labeled WHERE main_type = 'term' AND midsub IS NOT NULL AND midsub <> ''
          UNION ALL SELECT main, sub, 'SUB' FROM labeled WHERE main_type = 'term' AND sub IS NOT NULL AND sub <> '')
        ORDER BY type, src, dst""")),

    QDef("str_fuzzy_match",
      // Entity resolution by edit distance, SymSpell-style: a
      // deterministic dirty feed (each known-entity norm with the
      // md5-selected character dropped — the simulated OCR/typo
      // corpus, same stand-in discipline as the stubbed media codec)
      // is matched back against the clean list via its DELETION
      // NEIGHBORHOOD — every single-char-deletion variant of every
      // entity (≤ name-length rows per entity, linear) equi-joined
      // against the dirty strings, then exact levenshtein confirms.
      // The candidate step is a plain hash join on string equality, so
      // it shards at any scale; char-prefix blocking was rejected
      // because the entity vocabulary GROWS with the corpus here,
      // making within-block pairs corpus-quadratic.
      (s, dir) => {
        // Disk-staged like the deletion index below: the clean entity
        // list is the other half of the SymSpell artifact pair (index
        // builds version them together), and the memoized-only form
        // re-ran the known-entities distinct once per JVM — a shuffle
        // the probe run does not need when the artifact exists.
        val ents = graft.pipeline.Staged.disk(s, dir, "fuzzy_ents") {
          stages(s, dir).known.select("norm").distinct()
            .filter(col("norm").isNotNull && length(col("norm")) >= 1)
        }
        // The probe side dedups BEFORE the join (two entities can
        // produce the same dirty string): with the index below keyed
        // UNIQUE per variant, distinct dirty × unique-keyed index
        // makes every joined (dirty, entity) pair unique by
        // construction — the old post-join distinct (a full shuffle
        // of the joined triples) is gone, and the pre-join distinct
        // runs over the narrower single-column probe frame (r16
        // stage-fusion; was 3 exchanges on the probe path, now 2).
        val dirty = ents
          .withColumn("p",
            (Text.md5Hash32(col("norm")) % length(col("norm")).cast("long"))
              .cast("int"))
          .select(concat(expr("substring(norm, 1, p)"),
            expr("substring(norm, p + 2, 1000000)")).as("dirty"))
          .distinct()
        // Position series capped at 100 (shared with the oracle, which
        // cannot laterally parameterize its series by length(norm)):
        // deletion variants beyond position 100 are skipped identically
        // on both engines.
        // Disk-staged: the deletion-neighborhood table IS the SymSpell
        // index — production builds it once per entity-list version and
        // every lookup batch probes it, so the staged artifact is the
        // architecturally honest split (query runs pay the probe join,
        // not the index build). GROUPED to one row per variant with
        // the candidate entity set collected (set sizes are bounded by
        // same-variant collisions — repeated characters, near-equal
        // entities — a handful at any vocabulary size): the index key
        // is unique, so the probe join emits each (dirty, entity)
        // pair at most once and needs no post-join dedup.
        val variants = graft.pipeline.Staged.disk(s, dir, "fuzzy_variants") {
          ents
            .select(col("norm"), explode(sequence(lit(1),
              least(length(col("norm")), lit(100)))).as("i"))
            .select(col("norm"), concat(expr("substring(norm, 1, i - 1)"),
              expr("substring(norm, i + 1, 1000000)")).as("variant"))
            .union(ents.select(col("norm"), col("norm").as("variant")))
            .groupBy("variant").agg(collect_set(col("norm")).as("norms"))
        }
        dirty.join(variants, col("dirty") === col("variant"))
          .select(col("dirty"), explode(col("norms")).as("entity"))
          .select(col("dirty"), col("entity"),
            levenshtein(col("dirty"), col("entity")).cast("long").as("dist"))
          .orderBy("dirty", "entity")
      },
      Some(prelude + """,
        ents AS (SELECT DISTINCT norm FROM known
                 WHERE norm IS NOT NULL AND length(norm) >= 1),
        dirty AS (
          SELECT DISTINCT substr(norm, 1, p) || substr(norm, p + 2) AS dirty
          FROM (SELECT norm,
                  CAST(CAST(('0x' || substr(md5(norm), 1, 8)) AS BIGINT)
                       % length(norm) AS INT) AS p
                FROM ents)),
        pos AS (SELECT CAST(UNNEST(range(1, 101)) AS INT) AS i),
        variants AS (
          SELECT DISTINCT norm,
                 substr(norm, 1, i - 1) || substr(norm, i + 1) AS variant
          FROM ents CROSS JOIN pos WHERE pos.i <= length(norm)
          UNION
          SELECT norm, norm AS variant FROM ents)
        SELECT DISTINCT dirty, norm AS entity,
               CAST(levenshtein(dirty, norm) AS BIGINT) AS dist
        FROM dirty JOIN variants ON dirty = variant
        ORDER BY dirty, entity""")),

    QDef("pipeline_batch_classify",
      // O17 through the REAL client machinery: the unclassified
      // normalized terms flow through BatchClassifier — per-partition
      // batching, submit/poll/fetch, retry control flow — against the
      // deterministic rule transport, and the result must equal the
      // api map the plan-native classifier produces. The same query
      // against a live vendor transport is the production path; only
      // the injected factory changes.
      (s, dir) => {
        val st = stages(s, dir)
        new graft.pipeline.BatchClassifier(
            () => graft.pipeline.BatchClient.ruleTransport(),
            batchSize = 50, sleeper = _ => ())
          .classify(st.api.select("norm"))
          .orderBy("norm")
      },
      Some(prelude + "SELECT norm, type FROM api ORDER BY norm")),

    QDef("graph_term_cooccur",
      // Graph analytics over the built edges: top co-occurring
      // term-typed index terms. The self-join is blocked by documentID
      // — per-document term lists are bounded (the reference's
      // indexing arrays), so pair count is linear in docs times a
      // small constant squared, never corpus-quadratic; the shuffle
      // key is the document. The canonical co-occurrence shape at
      // 100 TB.
      (s, dir) => {
        val dt = stages(s, dir).labeled
          .filter(col("main_type") === "term")
          .select(col("documentID"), col("main").as("term"))
          .distinct()
        dt.as("a").join(dt.as("b"),
            col("a.documentID") === col("b.documentID") &&
              col("a.term") < col("b.term"))
          .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("n_docs").desc, col("term_a"), col("term_b"))
          .limit(20)
      },
      Some(prelude + """
        SELECT a.main AS term_a, b.main AS term_b, count(*) AS n_docs
        FROM (SELECT DISTINCT documentID, main FROM labeled WHERE main_type = 'term') a
        JOIN (SELECT DISTINCT documentID, main FROM labeled WHERE main_type = 'term') b
          ON a.documentID = b.documentID AND a.main < b.main
        GROUP BY a.main, b.main
        ORDER BY n_docs DESC, term_a, term_b LIMIT 20""")),

    QDef("graph_triangle_count",
      // Triangle counting over the term co-occurrence graph with
      // DEGREE-ORDERED edge orientation — the trick that makes
      // triangle enumeration feasible at scale: orienting every edge
      // from its lower-(degree, id) endpoint to the higher one turns
      // the graph into a DAG where each node's out-degree is O(√m), so
      // the wedge join (the only superlinear step) is bounded by
      // Σ outdeg² instead of Σ deg² — hub nodes, which dominate the
      // unoriented wedge count, get out-degree ~0. Each triangle then
      // has exactly one pivot with two out-edges and is found once.
      // Edge building is document-blocked (bounded per-doc term lists)
      // and the edge/degree sides are vocabulary-bounded, hence the
      // broadcasts. The oracle enumerates by id-orientation instead
      // (a < b < c) — same triangle set, simpler SQL.
      (s, dir) => {
        val dirE = orientedTermEdges(s, dir)
        // Wedges (p→x, p→y, x≠y) are checked against the oriented edge
        // set: exactly one of (x,y)/(y,x) can be an edge, so each
        // triangle {p,x,y} matches once. USING-column joins on renamed
        // copies — attribute-id conditions across the shared dirE
        // lineage trip ambiguous-self-join resolution.
        val tri = dirE.toDF("p", "x").join(dirE.toDF("p", "y"), Seq("p"))
          .filter(col("x") =!= col("y"))
          .join(dirE.toDF("x", "y"), Seq("x", "y"))
        tri.select(col("p").as("term"))
          .union(tri.select(col("x")))
          .union(tri.select(col("y")))
          .groupBy("term").agg(count(lit(1)).as("n_tri"))
          .orderBy(col("n_tri").desc, col("term"))
          .limit(25)
      },
      Some(prelude + s""",
        $termEdgeSqlCtes,
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        corners AS (SELECT a AS term FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri)
        SELECT term, count(*) AS n_tri FROM corners
        GROUP BY term ORDER BY n_tri DESC, term LIMIT 25""")),

    QDef("graph_clustering_coeff",
      // Local clustering coefficient per term — the neighborhood-
      // density score that separates "hub that bridges topics" (low
      // lcc) from "member of a tight clique" (high lcc) in the
      // co-occurrence graph; the per-node refinement of
      // graph_triangle_count's totals. Triangles come from the same
      // degree-oriented wedge join (each triangle found exactly once,
      // out-degrees O(√m)); degrees from one pass over the oriented
      // edge set (src ∪ dst counts ARE the undirected degrees, since
      // each undirected edge appears once). lcc_ppm = 2·10⁶·tri /
      // (deg·(deg−1)) is pure integer arithmetic — nonnegative, so
      // floor-vs-truncate division never diverges. Everything here is
      // vocabulary-bounded except the staged edge build, which is
      // shared with the whole graph family.
      (s, dir) => {
        val dirE = orientedTermEdges(s, dir)
        val tri = dirE.toDF("p", "x").join(dirE.toDF("p", "y"), Seq("p"))
          .filter(col("x") =!= col("y"))
          .join(dirE.toDF("x", "y"), Seq("x", "y"))
        // Single-pass multi-emit (the Graph.emit rule): the three
        // union arms referenced the same wedge-join subtree, so the
        // triangle enumeration ran 3x per execution (r18).
        val triPer = tri
          .select(explode(array(col("p"), col("x"), col("y"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n_tri"))
        val deg = dirE.select(col("src").as("term"))
          .union(dirE.select(col("dst")))
          .groupBy("term").agg(count(lit(1)).as("deg"))
        deg.join(triPer, Seq("term"), "left")
          .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
          .filter(col("deg") >= 2)
          .select(col("term"), col("deg"), col("n_tri"),
            expr("(2000000 * n_tri) div (deg * (deg - 1))").as("lcc_ppm"))
          .orderBy("term")
      },
      Some(prelude + s""",
        $termEdgeSqlCtes,
        tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        corners AS (SELECT a AS term FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri),
        tp AS (SELECT term, CAST(count(*) AS BIGINT) AS n_tri
               FROM corners GROUP BY 1)
        SELECT dg.term, deg, COALESCE(n_tri, 0) AS n_tri,
               CAST((2000000 * COALESCE(n_tri, 0)) // (deg * (deg - 1))
                 AS BIGINT) AS lcc_ppm
        FROM dg LEFT JOIN tp ON tp.term = dg.term
        WHERE deg >= 2 ORDER BY dg.term""")),

    QDef("graph_degree_assortativity",
      // Degree assortativity — one number answering "do well-connected
      // terms co-occur with other well-connected terms, or with
      // specialists?" (positive = social-network-like core, negative =
      // hub-and-spoke). Pearson correlation of endpoint degrees over
      // the DIRECTED double cover (each undirected edge counted both
      // ways, the standard symmetric treatment) of the STRONG
      // (mean-thresholded) graph — the unweighted graph goes complete
      // with corpus size, where every degree ties and r is 0/0 (see
      // strongTermEdges). The degree joins are un-hinted term-keyed
      // equi-joins (the vocabulary grows with the corpus, so AQE
      // decides); the sufficient sums are one map-side-combined
      // aggregate (int64 is exact here because both factors are
      // degrees, bounded by the vocabulary — NOT corpus-scale
      // quantities); the final r is a fixed IEEE tree, rx(6), with a
      // zero-variance guard (NULL, not a crash — Spark ANSI raises on
      // the 0/0 where DuckDB returns NaN, so the guard is also the
      // cross-engine parity move for the degenerate case).
      (s, dir) => {
        val se = strongTermEdges(s, dir)
        val sym = se.select(col("u").as("src"), col("v").as("dst"))
          .union(se.select(col("v").as("src"), col("u").as("dst")))
        val deg = se.select(col("u").as("term"))
          .union(se.select(col("v")))
          .groupBy("term").agg(count(lit(1)).as("deg"))
        // deg is term-vocabulary-sized — it grows with the corpus, so
        // no broadcast hint: AQE broadcasts while it fits and shuffles
        // on the term key at scale (the tf-idf df-table discipline).
        val st = sym
          .join(deg.toDF("src", "du"), "src")
          .join(deg.toDF("dst", "dv"), "dst")
          .agg(count(lit(1)).as("n"),
            sum("du").as("sx"), sum("dv").as("sy"),
            sum(col("du") * col("du")).as("sxx"),
            sum(col("dv") * col("dv")).as("syy"),
            sum(col("du") * col("dv")).as("sxy"))
        val nd = col("n").cast("double")
        def d(c: String) = col(c).cast("double")
        st.withColumn("vx", nd * d("sxx") - d("sx") * d("sx"))
          .withColumn("vy", nd * d("syy") - d("sy") * d("sy"))
          .select(col("n").as("n_edges_directed"),
            when(col("vx") * col("vy") <= 0, lit(null).cast("double"))
              .otherwise(rx((nd * d("sxy") - d("sx") * d("sy")) /
                (sqrt(col("vx")) * sqrt(col("vy"))), 6))
              .as("assortativity"))
      },
      Some(prelude + s""",
        $strongEdgeSqlCtes,
        sym AS (SELECT u AS src, v AS dst FROM se
                UNION ALL SELECT v, u FROM se),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(a.deg) AS BIGINT) AS sx,
                 CAST(sum(b.deg) AS BIGINT) AS sy,
                 CAST(sum(a.deg * a.deg) AS BIGINT) AS sxx,
                 CAST(sum(b.deg * b.deg) AS BIGINT) AS syy,
                 CAST(sum(a.deg * b.deg) AS BIGINT) AS sxy
               FROM sym JOIN sdg a ON a.term = sym.src
               JOIN sdg b ON b.term = sym.dst),
        stv AS (SELECT n, sx, sy, sxy,
                  CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
                  CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy
                FROM st)
        SELECT n AS n_edges_directed,
          CASE WHEN vx * vy <= 0 THEN NULL ELSE
            ${rxSql(
              """(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                (sqrt(vx) * sqrt(vy))""",
              6)} END AS assortativity
        FROM stv""")),

    QDef("graph_jaccard_link_pred",
      // Common-neighbor link prediction: for term pairs NOT yet
      // co-occurring, score the likelihood they will by the Jaccard of
      // their neighborhoods — the classic structural-similarity
      // recommender ("these two topics share context"). Candidates
      // come only from WEDGES (pairs at distance 2 through a shared
      // neighbor) — never the all-pairs square — so candidate volume
      // is Σ deg², the same bound the triangle count rides; the
      // existing-edge anti join removes known pairs; degrees attach by
      // un-hinted term-keyed equi-joins (the vocabulary grows with the
      // corpus, so AQE decides). Runs on the STRONG
      // (mean-thresholded) graph — the unweighted graph saturates to
      // complete with corpus size, leaving zero non-edges to predict
      // (see strongTermEdges); the strong graph keeps both arms (edge
      // / non-edge) live at every SF. jac_ppm = 10⁶·cn/(da+db−cn) is
      // all-integer; top-20 with full tie-break.
      (s, dir) => {
        val se = strongTermEdges(s, dir)
        val sym = se.select(col("u").as("p"), col("v").as("q"))
          .union(se.select(col("v").as("p"), col("u").as("q")))
        val cand = sym.toDF("p", "a").join(sym.toDF("p", "b"), Seq("p"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cn"))
        val und = se.select(col("u").as("a"), col("v").as("b"))
        val deg = se.select(col("u").as("term"))
          .union(se.select(col("v")))
          .groupBy("term").agg(count(lit(1)).as("deg"))
        // Term-vocabulary-sized degree table: no broadcast hint (the
        // assortativity/df-table discipline) — AQE decides.
        cand.join(und, Seq("a", "b"), "left_anti")
          .join(deg.toDF("a", "deg_a"), "a")
          .join(deg.toDF("b", "deg_b"), "b")
          .select(col("a").as("term_a"), col("b").as("term_b"),
            col("cn"), col("deg_a"), col("deg_b"),
            expr("(1000000 * cn) div (deg_a + deg_b - cn)").as("jac_ppm"))
          .orderBy(col("jac_ppm").desc, col("term_a"), col("term_b"))
          .limit(20)
      },
      Some(prelude + s""",
        $strongEdgeSqlCtes,
        sym AS (SELECT u AS p, v AS q FROM se
                UNION ALL SELECT v, u FROM se),
        cand AS (SELECT s1.q AS a, s2.q AS b, CAST(count(*) AS BIGINT) AS cn
                 FROM sym s1 JOIN sym s2 ON s1.p = s2.p AND s1.q < s2.q
                 GROUP BY 1, 2),
        nov AS (SELECT cand.a, cand.b, cn FROM cand
                LEFT JOIN se ON se.u = cand.a AND se.v = cand.b
                WHERE se.u IS NULL)
        SELECT nov.a AS term_a, nov.b AS term_b, cn,
               da.deg AS deg_a, db.deg AS deg_b,
               CAST((1000000 * cn) // (da.deg + db.deg - cn) AS BIGINT)
                 AS jac_ppm
        FROM nov JOIN sdg da ON da.term = nov.a
        JOIN sdg db ON db.term = nov.b
        ORDER BY jac_ppm DESC, term_a, term_b LIMIT 20""")),

    QDef("graph_harmonic_closeness",
      // Harmonic closeness centrality within radius 3 — "which terms
      // sit nearest everything else": H(u) = Σ_v 1/d(u,v) over reached
      // v ≠ u, the closeness variant that stays defined on
      // disconnected graphs (unreached pairs contribute 0, not a
      // broken 1/∞). Distances come from the same iterated
      // relax-union-min rounds as graph_bfs_distance, carrying the
      // source as a key column — multi-source BFS where every node is
      // a source, fine on the vocabulary-bounded strong graph; at
      // corpus-scale graphs the source column IS the batching axis
      // (seed a probe batch per pass, identical loop). The reciprocal
      // sum runs in exact integer micros (10⁶ div d — d ∈ {1,2,3}, no
      // binary-fraction drift); each round eagerly truncates lineage
      // (the previous frame is referenced twice: relax + union).
      // Strong graph for the same every-SF liveness reason as
      // assortativity (the raw graph goes complete, where every
      // closeness ties).
      (s, dir) => {
        val se = strongTermEdges(s, dir)
        val sym = se.select(col("u").as("src"), col("v").as("dst"))
          .union(se.select(col("v").as("src"), col("u").as("dst")))
        var dist = sym.select(col("src").as("term"))
          .union(sym.select(col("dst"))).distinct()
          .select(col("term").as("s0"), col("term").as("node"),
            lit(0L).as("dist"))
        for (_ <- 1 to 3) {
          val relax = sym
            .join(dist.withColumnRenamed("node", "src"), "src")
            .select(col("s0"), col("dst").as("node"),
              (col("dist") + 1L).as("dist"))
          dist = dist.union(relax)
            .groupBy("s0", "node").agg(min(col("dist")).as("dist"))
            .localCheckpoint(true)
        }
        dist.filter(col("dist") > 0)
          .groupBy("s0")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div dist")).as("harmonic_micro"))
          .select(col("s0").as("term"), col("n_reached"),
            col("harmonic_micro"))
          .orderBy(col("harmonic_micro").desc, col("term"))
      }, {
        // Every BFS CTE is AS MATERIALIZED: each round references the
        // previous frame TWICE (relax + union-min), and DuckDB INLINES
        // un-materialized CTEs per reference — the d3 tree re-evaluated
        // d0 (and the whole pipeline prelude under it) 8×, spilling
        // >80 GB of temp at sf0.1 before dying with "No space left on
        // device". This is the oracle-side twin of the Spark loop's
        // eager localCheckpoint (same double-execution trap, same
        // once-per-round materialization fix); results are identical,
        // only the evaluation strategy is pinned.
        val rounds = (1 to 3).map { i =>
          s"""f$i AS MATERIALIZED (
              SELECT d.s0, sym.dst AS node, min(d.dist) + 1 AS dist
              FROM sym JOIN d${i - 1} d ON d.node = sym.src
              GROUP BY 1, 2),
            d$i AS MATERIALIZED (
              SELECT s0, node, min(dist) AS dist
              FROM (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM f$i)
              GROUP BY 1, 2)"""
        }.mkString(",\n")
        Some(prelude + s""",
          $strongEdgeSqlCtes,
          sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM se
                  UNION ALL SELECT v, u FROM se),
          d0 AS MATERIALIZED (SELECT term AS s0, term AS node, CAST(0 AS BIGINT) AS dist
                 FROM (SELECT DISTINCT u AS term FROM se
                       UNION SELECT v FROM se)),
          $rounds
          SELECT s0 AS term, CAST(count(*) AS BIGINT) AS n_reached,
                 CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
          FROM d3 WHERE dist > 0
          GROUP BY s0 ORDER BY harmonic_micro DESC, term""")
      }),

    QDef("pipeline_node_counts",
      (s, dir) => stages(s, dir).nodes
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label"),
      Some(prelude +
        s"""SELECT label, count(*) AS n FROM (
          SELECT DISTINCT label, key, uri FROM (
            SELECT 'Document' AS label, documentID AS key, CAST(NULL AS VARCHAR) AS uri FROM docs
            UNION ALL SELECT 'Person', author, ${uriSql("author")} FROM docs
            UNION ALL SELECT 'Person', recipient, ${uriSql("recipient")} FROM docs
            UNION ALL SELECT 'Place', loc, ${uriSql("loc")} FROM docs
            UNION ALL SELECT 'Person', main, ${uriSql("main")} FROM labeled WHERE main_type = 'person'
            UNION ALL SELECT 'Place', main, ${uriSql("main")} FROM labeled WHERE main_type = 'place'
            UNION ALL SELECT 'Organization', main, ${uriSql("main")} FROM labeled WHERE main_type = 'organization'
            UNION ALL SELECT 'Term', main, NULL FROM labeled WHERE main_type = 'term'
            UNION ALL SELECT 'Term', midsub, NULL FROM labeled WHERE midsub IS NOT NULL AND midsub <> ''
            UNION ALL SELECT 'Term', sub, NULL FROM labeled WHERE sub IS NOT NULL AND sub <> ''
            UNION ALL SELECT 'Date', date_from, NULL FROM docs WHERE date_from IS NOT NULL AND date_from <> ''
            UNION ALL SELECT 'Date', date_to, NULL FROM docs WHERE date_to IS NOT NULL AND date_to <> ''))
        GROUP BY label ORDER BY label""")),

    QDef("pipeline_gdpr_erasure",
      // Right-to-be-forgotten cascade with an audit trail — the
      // compliance pass every pipeline holding user data must run:
      // a deterministic deletion-request set (custkey/user_id ≡ 0
      // mod 97 stands in for the request table) erases customers,
      // cascades to their orders, cascades again to those orders'
      // lineitems (a key the request never names — reachable only
      // through the FK chain, which is the part naive per-table
      // filters miss), and independently erases the user's events.
      // Each table reports before/removed/after counts plus LEFTOVER —
      // requested keys still present after erasure, which the audit
      // requires to be zero and which would catch a broken cascade.
      // Scale shape: erasure is one anti join per table against the
      // (small) request set — broadcastable at any corpus size — and
      // the lineitem cascade joins on the removed-order keys, not the
      // corpus; counts are map-side-combined conditional aggregates.
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        val ords = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val ev = t(s, dir, "events")
        val reqC = cust.filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"))
        val remO = ords.join(reqC, col("o_custkey") === col("k"), "left_semi")
        val remOk = remO.select(col("o_orderkey").as("ok"))
        def audit(name: String, before: DataFrame, removed: DataFrame,
            leftover: DataFrame) =
          before.agg(count(lit(1)).as("n_before"))
            .crossJoin(removed.agg(count(lit(1)).as("n_removed")))
            .crossJoin(leftover.agg(count(lit(1)).as("leftover")))
            .select(lit(name).as("table_name"), col("n_before"),
              col("n_removed"),
              (col("n_before") - col("n_removed")).as("n_after"),
              col("leftover"))
        val custAfter = cust.join(reqC, col("c_custkey") === col("k"), "left_anti")
        val ordsAfter = ords.join(reqC, col("o_custkey") === col("k"), "left_anti")
        val liAfter = li.join(remOk, col("l_orderkey") === col("ok"), "left_anti")
        val reqU = ev.select(col("user_id")).distinct()
          .filter(col("user_id") % 97 === 0)
        val evAfter = ev.join(reqU, Seq("user_id"), "left_anti")
        audit("customer", cust, cust.join(reqC, col("c_custkey") === col("k"), "left_semi"),
            custAfter.filter(col("c_custkey") % 97 === 0))
          .unionAll(audit("orders", ords, remO,
            ordsAfter.join(reqC, col("o_custkey") === col("k"), "left_semi")))
          .unionAll(audit("lineitem", li,
            li.join(remOk, col("l_orderkey") === col("ok"), "left_semi"),
            liAfter.join(remOk, col("l_orderkey") === col("ok"), "left_semi")))
          .unionAll(audit("events", ev,
            ev.filter(col("user_id") % 97 === 0),
            evAfter.filter(col("user_id") % 97 === 0)))
          .orderBy("table_name")
      },
      Some("""WITH req_c AS (
          SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        rem_o AS (
          SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM req_c)),
        rows_ AS (
          SELECT 'customer' AS table_name,
                 (SELECT count(*) FROM customer) AS n_before,
                 (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT k FROM req_c)) AS n_removed,
                 0 AS leftover
          UNION ALL
          SELECT 'orders',
                 (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM rem_o),
                 0
          UNION ALL
          SELECT 'lineitem',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM rem_o)),
                 0
          UNION ALL
          SELECT 'events',
                 (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events WHERE user_id % 97 = 0),
                 0)
        SELECT table_name, CAST(n_before AS BIGINT) AS n_before,
               CAST(n_removed AS BIGINT) AS n_removed,
               CAST(n_before - n_removed AS BIGINT) AS n_after,
               CAST(leftover AS BIGINT) AS leftover
        FROM rows_ ORDER BY table_name""")),

    QDef("pipeline_dsar_export",
      // Right-of-ACCESS export (DSAR) — the dual of the erasure
      // cascade: for every requested subject, assemble everything the
      // warehouse holds about them, including records reachable only
      // through the FK chain (order keys → lineitem counts — the rows
      // a naive per-table grep misses), into one bundle row per
      // subject. The request set is the erasure query's deterministic
      // key predicate PLUS two literal unknown subjects (-1, -2): a
      // real DSAR queue routinely names subjects the system never saw,
      // and the report must answer "no records held" for them — that
      // arm cannot come from the data (every synthetic customer has
      // orders), so the request table carries it. Scale shape: the
      // request set broadcasts into semi-join-shaped probes of each
      // table; per-subject bundles are bounded by one human's activity
      // (the collect_list is per-subject, never corpus-wide), and the
      // lineitem count rides the requested-orders join, not the
      // corpus.
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        val reqs = cust.filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("subject"))
          .union(Seq(-1L, -2L).toDF("subject"))
        val prof = reqs.join(cust,
            col("subject") === col("c_custkey"), "left")
          .select(col("subject"), col("c_name"), col("c_mktsegment"),
            col("c_custkey").isNotNull.as("known"))
        val ro = t(s, dir, "orders")
          .join(broadcast(reqs), col("o_custkey") === col("subject"))
        val oAgg = ro.groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("n_orders"),
            sort_array(collect_list(col("o_orderkey"))).as("order_keys"),
            min(to_date(col("o_orderdate"))).as("first_order"),
            max(to_date(col("o_orderdate"))).as("last_order"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("spend_cents"))
        val lAgg = t(s, dir, "lineitem")
          .join(ro.select(col("o_orderkey").as("lk"), col("o_custkey")),
            col("l_orderkey") === col("lk"))
          .groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("n_lineitems"))
        prof.join(oAgg, col("subject") === oAgg("k"), "left")
          .join(lAgg, col("subject") === lAgg("k"), "left")
          .select(col("subject"), col("known"), col("c_name"),
            col("c_mktsegment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            // Joined to a string for the gate (the driver's hash
            // compare is scalar; Health.scala:411 precedent) —
            // empty/no-orders subjects coalesce to '' on both engines
            // (DuckDB's array_to_string of an empty list is NULL).
            coalesce(array_join(col("order_keys"), "|"), lit(""))
              .as("order_keys"),
            col("first_order"), col("last_order"),
            coalesce(col("spend_cents"), lit(0L)).as("spend_cents"),
            coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
            (col("known") ||
              coalesce(col("n_orders"), lit(0L)) > 0).as("records_held"))
          .orderBy("subject")
      },
      Some("""WITH reqs AS (
          SELECT c_custkey AS subject FROM customer WHERE c_custkey % 97 = 0
          UNION ALL SELECT * FROM (VALUES (-1), (-2))),
        ro AS (
          SELECT o.* FROM orders o JOIN reqs ON o_custkey = subject),
        oa AS (
          SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders,
                 list(o_orderkey ORDER BY o_orderkey) AS order_keys,
                 min(CAST(o_orderdate AS DATE)) AS first_order,
                 max(CAST(o_orderdate AS DATE)) AS last_order,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS spend_cents
          FROM ro GROUP BY 1),
        la AS (
          SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_lineitems
          FROM lineitem JOIN ro ON l_orderkey = o_orderkey
          GROUP BY 1)
        SELECT subject, c_custkey IS NOT NULL AS known, c_name,
               c_mktsegment,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(array_to_string(order_keys, '|'), '') AS order_keys,
               first_order, last_order,
               COALESCE(spend_cents, 0) AS spend_cents,
               COALESCE(n_lineitems, 0) AS n_lineitems,
               (c_custkey IS NOT NULL OR COALESCE(n_orders, 0) > 0)
                 AS records_held
        FROM reqs
        LEFT JOIN customer ON subject = c_custkey
        LEFT JOIN oa ON oa.k = subject
        LEFT JOIN la ON la.k = subject
        ORDER BY subject""")),

    QDef("pipeline_contract_check",
      // Data-contract validation — the dbt-test / Great-Expectations
      // surface a pipeline runs at every ingest boundary, one report
      // row per declared constraint: primary-key uniqueness, two
      // referential-integrity checks (orphan FKs via anti-join
      // semantics), a value range, two domain enums and a timestamp
      // window. The contract is DELIBERATELY stricter than the data in
      // two places (value <= 500, status in (O,F)) so the FAIL arm is
      // live at every SF — a report whose checks can only pass can't
      // catch a regression in the checker itself (the dead-arm lesson
      // from the CDC feed). Every check is one map-side conditional
      // aggregate or one key-join count — each constraint touches its
      // table once; nothing is row-materialized but the 7-row report.
      (s, dir) => {
        import s.implicits._
        def row(name: String, table: String, checked: DataFrame,
            viol: org.apache.spark.sql.Column) =
          checked.agg(count(lit(1)).as("n_checked"),
            sum(when(viol, 1L).otherwise(0L)).as("n_violations"))
            .select(lit(name).as("constraint_name"), lit(table).as("table_name"),
              col("n_checked"), col("n_violations"),
              (col("n_violations") === 0L).as("pass"))
        val cust = t(s, dir, "customer")
        val ords = t(s, dir, "orders")
        val pkDup = cust.groupBy("c_custkey").agg(count(lit(1)).as("nk"))
        val fkO = ords.join(cust.select(col("c_custkey")),
          ords("o_custkey") === col("c_custkey"), "left")
        val fkL = t(s, dir, "lineitem").join(ords.select(col("o_orderkey").as("ok")),
          col("l_orderkey") === col("ok"), "left")
        row("customer_pk_unique", "customer", pkDup, col("nk") > 1L)
          .unionAll(row("orders_fk_customer", "orders", fkO,
            col("c_custkey").isNull))
          .unionAll(row("lineitem_fk_orders", "lineitem", fkL,
            col("ok").isNull))
          .unionAll(row("events_value_range", "events", t(s, dir, "events"),
            col("value") < 0.0 || col("value") > 500.0))
          .unionAll(row("orders_status_domain", "orders", ords,
            !col("o_orderstatus").isInCollection(Seq("O", "F"))))
          .unionAll(row("documents_lang_domain", "documents",
            t(s, dir, "documents"),
            !col("lang").isInCollection(Seq("en", "de", "fr", "es"))))
          .unionAll(row("events_ts_window", "events", t(s, dir, "events"),
            col("ts") < lit("2024-01-01 00:00:00").cast("timestamp") ||
              col("ts") >= lit("2024-02-01 00:00:00").cast("timestamp")))
          .orderBy("constraint_name")
      },
      Some("""WITH rows_ AS (
          SELECT 'customer_pk_unique' AS constraint_name, 'customer' AS table_name,
                 (SELECT count(*) FROM (SELECT c_custkey FROM customer GROUP BY 1)) AS n_checked,
                 (SELECT count(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)) AS n_violations
          UNION ALL
          SELECT 'orders_fk_customer', 'orders',
                 (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
          UNION ALL
          SELECT 'lineitem_fk_orders', 'lineitem',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          UNION ALL
          SELECT 'events_value_range', 'events',
                 (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events WHERE value < 0.0 OR value > 500.0)
          UNION ALL
          SELECT 'orders_status_domain', 'orders',
                 (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F'))
          UNION ALL
          SELECT 'documents_lang_domain', 'documents',
                 (SELECT count(*) FROM documents),
                 (SELECT count(*) FROM documents WHERE lang NOT IN ('en', 'de', 'fr', 'es'))
          UNION ALL
          SELECT 'events_ts_window', 'events',
                 (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events
                  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 00:00:00'
                     OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-02-01 00:00:00'))
        SELECT constraint_name, table_name,
               CAST(n_checked AS BIGINT) AS n_checked,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0 AS pass
        FROM rows_ ORDER BY constraint_name"""))
  )
}
