package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.pipeline.Staged
import graft.pipeline.Staged.GenerationStore.deleteRecursively
import graft.sources.GraftTsv

/** Relational operator inventory: scans/sinks, filters, joins, aggregates,
  * windows, sorts, set ops (SURVEY.md §2.2). Every query is a declarative
  * DataFrame plan — Catalyst gets predicate pushdown, column pruning and
  * join selection for free; explicit `broadcast()` only where the
  * reference semantics call for a small-dimension lookup (the
  * known-entities map, json_classification.py:313-320).
  */
object Relational {
  import QDef._

  /** Three append-only manifest commits over a deterministic md5 doc
    * split, staged as one layout generation: `data/` holds all commits'
    * parquet files (names prefixed c0-/c1-/c2-), `manifest_v{1,2,3}.txt`
    * are CUMULATIVE file lists (v1 ⊂ v2 ⊂ v3) of data-relative names —
    * the append-only Iceberg/Delta snapshot chain. Shared by the
    * time-travel and incremental-consumption reads.
    */
  private[graft] def manifestVersions(s: SparkSession, dir: String): String = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        pmod(graft.functions.Text.md5Hash32(
          concat(lit("ver:"), col("doc_id").cast("string"))), lit(3L))
          .as("split"))
    val commits = (0 until 3).map(k =>
      base.filter(col("split") === k.toLong).drop("split").repartition(2))
    Staged.layout(dir, "manifest_tt", "manifest", commits) { out =>
      new java.io.File(s"$out/data").mkdirs()
      val names = commits.zipWithIndex.map { case (c, k) =>
        c.write.parquet(s"$out/commit$k")
        new java.io.File(s"$out/commit$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).map { f =>
            val n = s"c$k-${f.getName}"
            java.nio.file.Files.move(f.toPath,
              java.nio.file.Paths.get(s"$out/data/$n"))
            n
          }.sorted.toSeq
      }
      commits.indices.foreach(k => deleteRecursively(new java.io.File(s"$out/commit$k")))
      (1 to 3).foreach { v =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$out/manifest_v$v.txt"),
          names.take(v).flatten.mkString("\n").getBytes("UTF-8"))
      }
    }
  }

  /** The documents as 8 GraftTsv files range-partitioned on doc_id. */
  private[graft] def gtsvFiles(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents")
    Staged.layout(dir, "gtsv_files", "8", Seq(docs))(GraftTsv.write(docs, _, 8))
  }

  /** Two GraftTsv sets key-grouped on lang, 4 files each: `a` holds
    * every document, `b` the even doc_ids.
    */
  private def gtsvSpj(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents")
    val even = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    Staged.layout(dir, "gtsv_spj", "4", Seq(docs, even)) { out =>
      GraftTsv.writePartitioned(docs, s"$out/a", 4)
      GraftTsv.writePartitioned(even, s"$out/b", 4)
    }
  }

  /** The documents as one struct-typed `meta` column beside doc_id. */
  private def docsNested(s: SparkSession, dir: String): String = {
    val nested = t(s, dir, "documents")
      .select(col("doc_id"),
        struct(col("lang"),
          struct(col("source").as("name")).as("origin"),
          col("n_chars"), col("text")).as("meta"))
    Staged.layout(dir, "docs_nested", "parquet", Seq(nested))(nested.write.parquet(_))
  }

  /** The events table as a hive tree partitioned on event_type. */
  private def eventsPartitioned(s: SparkSession, dir: String): String = {
    val events = t(s, dir, "events")
    Staged.layout(dir, "events_partitioned", "by-event_type", Seq(events))(
      events.write.partitionBy("event_type").parquet(_))
  }

  /** The five-row event_type → category dimension, FILE-backed: DPP
    * never triggers over a local relation, which folds the selective
    * Filter into its rows at optimization time.
    */
  private def eventDim(s: SparkSession, dir: String): String = {
    import s.implicits._
    val dim = Seq(("view", "browse"), ("click", "conv"), ("purchase", "conv"),
      ("signup", "acct"), ("error", "ops"))
      .toDF("event_type", "category")
    Staged.layout(dir, "event_dim", "parquet", Seq(dim))(dim.write.parquet(_))
  }

  /** The events as `evt|id|user|type|value` text lines. */
  private def eventsTextlog(s: SparkSession, dir: String): String = {
    val lines = t(s, dir, "events")
      .select(concat_ws("|", lit("evt"), col("event_id"),
        col("user_id"), col("event_type"),
        money(col("value")).cast("string")).as("value"))
    Staged.layout(dir, "events_textlog", "text", Seq(lines))(lines.write.text(_))
  }

  /** A manifest-committed sink: `data/` holds the committed even-id
    * files plus an ORPHAN parquet file (the odd ids) planted after the
    * data write, and `manifest.txt` — written LAST, the commit point —
    * lists only the committed data-relative names.
    */
  private[graft] def manifestSink(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val committed = docs.filter(col("doc_id") % 2 === 0).repartition(2)
    val orphan = docs.filter(col("doc_id") % 2 === 1).coalesce(1)
    Staged.layout(dir, "manifest_sink", "manifest", Seq(committed, orphan)) { out =>
      committed.write.parquet(s"$out/data")
      val files = new java.io.File(s"$out/data").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
      // Plant the orphan AFTER the data write: a concurrent
      // writer's uncommitted file, named like a data file so a
      // directory listing WOULD pick it up.
      orphan.write.parquet(s"$out/tmp_orphan")
      val orphanSrc = new java.io.File(s"$out/tmp_orphan").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(orphanSrc.toPath,
        java.nio.file.Paths.get(s"$out/data/part-orphan-uncommitted.parquet"))
      deleteRecursively(new java.io.File(s"$out/tmp_orphan"))
      // The commit point: the manifest write is the LAST operation.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/manifest.txt"),
        files.mkString("\n").getBytes("UTF-8"))
    }
  }

  /** Two manifest snapshots with retained and orphaned files: v1 lists
    * two even-id files (f0, f1), v2 one compacted rewrite of the same
    * rows (f2), and f3 (the odd ids) is a crashed writer's output in
    * no manifest. Manifests hold data-relative names (`data/f0/…`).
    */
  private[graft] def manifestGc(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val even = docs.filter(col("doc_id") % 2 === 0)
    val files = Seq(
      "f0" -> even.filter(col("doc_id") % 4 === 0).coalesce(1),
      "f1" -> even.filter(col("doc_id") % 4 === 2).coalesce(1),
      // v2: compaction rewrite — same rows, one file, new manifest.
      "f2" -> even.coalesce(1),
      // Crashed writer's uncommitted output: on disk, in no manifest.
      "f3" -> docs.filter(col("doc_id") % 2 === 1).coalesce(1))
    Staged.layout(dir, "manifest_gc", "manifest", files.map(_._2)) { out =>
      files.foreach { case (sub, f) => f.write.parquet(s"$out/data/$sub") }
      def pq(sub: String): Seq[String] =
        new java.io.File(s"$out/data/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => s"data/$sub/${f.getName}").toSeq.sorted
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/manifest_v1.txt"),
        (pq("f0") ++ pq("f1")).mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/manifest_v2.txt"),
        pq("f2").mkString("\n").getBytes("UTF-8"))
    }
  }

  /** Bucketed+sorted CTAS of lineitem/orders on the join key, staged
    * once per session+dir; returns the two table names. Shared by
    * join_bucketed (co-located SMJ) and scan_bucket_pruned (bucket
    * pruning) — the write cost amortizes over every consumer.
    */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val tag = new java.io.File(dir).getName.replaceAll("\\W", "_")
    val (lt, ot) = (s"graft_li_$tag", s"graft_ord_$tag")
    graft.pipeline.Staged(s, dir, "bucketed_tables") {
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val whDir = new java.io.File(
        if (wh.getScheme == null) wh.toString else new java.io.File(wh).toString)
      def loc(tbl: String) = new java.io.File(whDir, tbl)
      // Cross-JVM reuse: the CTAS rewrote ~600k rows on EVERY fresh
      // session (the in-memory catalog forgets external state), which
      // made this the one stager that never amortized across bench
      // rounds. A sidecar fingerprint of the input parquet files
      // (Staged.inputFingerprint of each) next to each table location
      // decides: unchanged inputs + surviving files → re-REGISTER the
      // existing bucketed layout as an external table (CREATE ...
      // CLUSTERED BY ... LOCATION — bucket ids live in the file names,
      // so registration restores the co-located SMJ plan exactly);
      // anything else → full rebuild.
      val fp = Seq("lineitem", "orders")
        .map(n => graft.pipeline.Staged.inputFingerprint(s"$dir/$n.parquet")).mkString("-")
      def markerOf(tbl: String) = new java.io.File(whDir, s"$tbl.fp")
      // The input fingerprint alone is not enough: if part files under
      // the table location are deleted while the .fp sidecar survives,
      // re-registering would resurrect an INCOMPLETE bucketed table
      // that silently returns fewer rows. The marker therefore also
      // records the table directory's own part-file list (name + size,
      // sorted), written AFTER the CTAS and re-derived at check time.
      def tableFp(tbl: String): String =
        Option(loc(tbl).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          .sortBy(_.getName)
          .map(f => s"${f.getName}\t${f.length}")
          .mkString("\n")
      def markerContent(tbl: String): String = s"$fp\n${tableFp(tbl)}"
      def markerOk(tbl: String): Boolean = {
        val m = markerOf(tbl)
        m.isFile && loc(tbl).isDirectory &&
          new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8") ==
            markerContent(tbl)
      }
      def register(tbl: String, df: org.apache.spark.sql.DataFrame, key: String): Unit =
        s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl (${df.schema.toDDL})
          USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
          LOCATION '${loc(tbl).toURI}'""")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      if (markerOk(lt) && markerOk(ot)) {
        register(lt, li, "l_orderkey")
        register(ot, ord, "o_orderkey")
      } else {
        Seq(lt, ot).foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          deleteRecursively(loc(tbl))
          markerOf(tbl).delete()
        }
        li.write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        ord.write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
        // Markers last: a failed write above leaves no marker, so the
        // next session rebuilds instead of registering a torso.
        Seq(lt, ot).foreach(tbl => java.nio.file.Files.write(
          markerOf(tbl).toPath, markerContent(tbl).getBytes("UTF-8")))
      }
      s.range(1).toDF("ok") // marker: tables staged once per session+dir
    }
    (lt, ot)
  }

  val all: Seq[QDef] = Seq(

    QDef("scan_parquet",
      (s, dir) => t(s, dir, "lineitem")
        // (l_orderkey, l_linenumber) is not unique in the synthetic data:
        // order by every output column so the compare order is total.
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(1000),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem ORDER BY 1, 2, 3, 4 LIMIT 1000""")),

    QDef("scan_json_docs",
      (s, dir) => {
        // JSON round-trip of the document table (reference stage-boundary
        // IPC, xml_to_json.py:130 / json_classification.py:310): write the
        // doc model as JSONL, read it back with an explicit schema.
        val out = scratch(s"scan_json_docs_${new java.io.File(dir).getName}")
        t(s, dir, "documents").write.mode("overwrite").json(out)
        s.read
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .json(out)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("scan_csv_docs",
      (s, dir) => {
        // CSV source: round-trip the document metadata through Spark's
        // CSV writer/reader with an explicit schema (headers on, types
        // re-asserted on read — CSV carries none). nullValue is pinned
        // to a sentinel on BOTH sides so null and empty string survive
        // the trip distinctly: with the default ("" both ways) an empty
        // string comes back as NULL and the oracle — which reads the
        // original table — would diverge on fixture data, not engine
        // behavior.
        val out = scratch(s"scan_csv_docs_${new java.io.File(dir).getName}")
        t(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
          .write.mode("overwrite")
          .option("header", "true").option("nullValue", "\\N")
          .csv(out)
        s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
          .option("header", "true").option("nullValue", "\\N")
          .option("emptyValue", "")
          .csv(out)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("scan_parquet_schema_merge",
      // Schema drift at ingest: two parquet batches written at
      // different pipeline epochs — the later one carries an extra
      // column — read as one dataset with mergeSchema; rows from the
      // old epoch surface NULL for the new column instead of failing
      // the scan or silently dropping the field. The 100 TB reality:
      // a corpus is never written under one schema.
      (s, dir) => {
        val out = scratch(s"schema_merge_${new java.io.File(dir).getName}")
        val docs = t(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang")
          .write.mode("overwrite").parquet(s"$out/epoch=0")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/epoch=1")
        s.read.option("mergeSchema", "true").parquet(out)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
          CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("scan_orc_docs",
      // ORC source round-trip — the other columnar stage-boundary
      // format (same IPC family as the parquet/CSV/JSON scans); type
      // fidelity re-asserted on read.
      (s, dir) => {
        val out = scratch(s"scan_orc_docs_${new java.io.File(dir).getName}")
        t(s, dir, "documents")
          .select("doc_id", "lang", "source", "n_chars")
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("scan_json_corrupt",
      // Malformed-input discipline: a JSONL batch with known-bad lines
      // read in PERMISSIVE mode with a corrupt-record column — bad
      // lines become rows with the raw text captured instead of
      // failing the job or silently vanishing (the property a 100 TB
      // ingest needs when one file in a million is truncated). The
      // oracle knows the corpus count and the injected-bad count.
      (s, dir) => {
        val out = scratch(s"scan_json_corrupt_${new java.io.File(dir).getName}")
        import s.implicits._
        t(s, dir, "documents")
          .select(to_json(struct(col("doc_id"), col("lang"))).as("value"))
          .union(Seq("{not json", "[3, 4", "{\"doc_id\": oops}").toDF("value"))
          .write.mode("overwrite").text(out)
        s.read
          .schema("doc_id BIGINT, lang STRING, _bad STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(out)
          .agg(
            count(col("doc_id")).as("n_good"),
            count(col("_bad")).cast("long").as("n_bad"))
      },
      Some("""SELECT count(*) AS n_good, CAST(3 AS BIGINT) AS n_bad
        FROM documents""")),

    QDef("join_bucketed",
      (s, dir) => {
        // Bucketed co-located join: both sides written bucketed+sorted
        // on the join key, so the sort-merge join needs NO shuffle and
        // NO sort at read time — the layout IS the exchange. This is
        // the 100 TB fact-fact join design: pay the partitioning once
        // at write, amortize it over every downstream join.
        // BucketedJoinSpec asserts the plan is exchange-free.
        val (lt, ot) = bucketedTables(s, dir)
        // hint("merge"): at fact-fact scale neither side broadcasts; the
        // hint pins the strategy the layout was built for (local-mode
        // sizes would otherwise pick a broadcast join and hide the demo).
        s.table(lt).hint("merge")
          .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    QDef("scan_bucket_pruned",
      // BUCKET pruning — the third member of the pruning trio next to
      // partition pruning (scan_partition_pruned) and zone-map file
      // skipping (scan_dsv2_skipping): an equality/IN predicate on the
      // bucket column hashes each literal to its bucket, and the scan
      // reads ONLY those buckets' files (SelectedBucketsCount in the
      // plan, pinned in PlanShapeSpec) — a point lookup on a bucketed
      // 100 TB fact table touches 5/8 of the layout here and 1/N in
      // the common single-key case, no index structure needed beyond
      // the layout itself. Reuses the one staged bucketed table the
      // co-located join built — the write cost amortizes over every
      // lookup AND every join.
      (s, dir) => {
        val (lt, _) = bucketedTables(s, dir)
        s.table(lt)
          .filter(col("l_orderkey").isin(1, 2, 3, 5, 7))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n"),
            sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_orderkey IN (1, 2, 3, 5, 7)
        GROUP BY 1 ORDER BY 1""")),

    QDef("sink_jsonl_sharded",
      // JSONL sharded export — the delivery format LLM training data
      // actually ships in (one JSON object per line, fixed shard
      // count, range-sharded so a dataloader can split work by file):
      // docs range-repartition on doc_id into 4 shards, each shard
      // written sorted (deterministic file contents, byte-stable
      // re-runs), then the ROUND-TRIP is the oracle check — the read
      // back must reproduce every row and type (the lossy-serialization
      // traps live here: JSON has no int64-vs-double distinction
      // unless the schema is applied on read, which this does). At
      // 100 TB the shard count becomes ceil(bytes/shard_target) and
      // nothing else changes.
      (s, dir) => {
        val out = scratch(s"jsonl_${new java.io.File(dir).getName}")
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").json(out)
        s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
          .json(out)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("join_bloom_pruned",
      // Runtime row-level pruning for the fact-fact join at 100 TB:
      // when one join side carries a selective filter, Catalyst's
      // InjectRuntimeFilter builds a bloom filter from it at runtime
      // and pushes a might-contain probe into the OTHER side's scan —
      // fact rows that cannot join die at the reader instead of
      // travelling through the shuffle. Thresholds are session-scoped
      // down for local data sizes (at cluster scale the defaults
      // trigger on their own); BloomPruneSpec asserts the probe is in
      // the executed plan. The merge hint keeps the join a shuffle SMJ
      // — a broadcast join would prune via its own hash table and hide
      // the demo.
      (s, dir) => {
        graft.SparkConfs.withConfs(s, Map(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          // Local-mode sizes make every dim broadcastable, and the rule
          // only injects for probably-shuffle joins — the exact join
          // this models at fact-fact scale.
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
          // Selective predicate on a NON-key column only: a key-column
          // predicate would be inferred onto the fact side through the
          // join equality, and InjectRuntimeFilter skips application
          // sides that already look selective.
          val urgent = t(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
          val df = t(s, dir, "lineitem").hint("merge")
            .join(urgent, col("l_orderkey") === col("o_orderkey"))
            .agg(count(lit(1)).as("n"),
              sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
          // Optimization (where InjectRuntimeFilter runs) is lazy;
          // force it while the thresholds are still set — the Dataset
          // caches its QueryExecution, so the injected filter survives
          // the conf restore.
          df.queryExecution.optimizedPlan
          df
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'""")),

    QDef("sink_parquet_partitioned",
      (s, dir) => {
        // Partitioned parquet sink (graph-sink analog, json_to_db.py
        // write-by-label -> write.partitionBy, SURVEY O29), then re-read
        // and aggregate to prove the round-trip.
        val out = scratch(s"sink_part_${new java.io.File(dir).getName}")
        t(s, dir, "events").write.mode("overwrite")
          .partitionBy("event_type").parquet(out)
        s.read.parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(money(col("value"))).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    QDef("sink_dynamic_overwrite",
      // Dynamic partition overwrite: rewriting ONE partition's data
      // replaces only the partitions the write touches (here: clicks
      // get a +100 correction) while every other partition's files are
      // left untouched — the idempotent partition-level backfill
      // primitive; static overwrite mode would silently truncate the
      // whole table to the corrected slice. Re-read proves clicks
      // changed and everything else survived.
      (s, dir) => {
        val out = scratch(s"sink_dynow_${new java.io.File(dir).getName}")
        val base = t(s, dir, "events")
          .select(col("event_id"), col("value"), col("event_type"))
        base.write.mode("overwrite").partitionBy("event_type").parquet(out)
        base.filter(col("event_type") === "click")
          .withColumn("value", col("value") + lit(100d))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type").parquet(out)
        s.read.parquet(out)
          .select(col("event_id"), col("event_type"), col("value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, event_type,
            CASE WHEN event_type = 'click' THEN value + 100
                 ELSE value END AS value
        FROM events ORDER BY event_id""")),

    QDef("sink_csv_roundtrip",
      // CSV sink + re-scan with the options that make text interchange
      // lossless: an explicit nullValue sentinel (Spark's default read
      // maps empty unquoted fields to NULL, silently conflating "" with
      // NULL on round-trip), quoting exercised by a value containing
      // commas and embedded quotes, a date column, and a double column
      // (shortest-repr text round-trips bit-exact). The oracle reads
      // the ORIGINAL parquet — so a pass proves write→read is the
      // identity, which is the actual contract a CSV export surface
      // owes a downstream engine.
      (s, dir) => {
        val out = scratch(s"sink_csv_${new java.io.File(dir).getName}")
        val src = t(s, dir, "orders").select(
          col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")).as("status"),
          when(col("o_orderkey") % 7 === 0, lit(""))
            .otherwise(concat(col("o_orderpriority"), lit(", \""),
              col("o_orderstatus"), lit("\""))).as("note"),
          col("o_totalprice").as("price"),
          col("o_orderdate").cast("date").as("odate"))
        src.write.mode("overwrite")
          .option("header", "true").option("nullValue", "\\N")
          .csv(out)
        s.read
          .schema("o_orderkey BIGINT, status STRING, note STRING, " +
            "price DOUBLE, odate DATE")
          .option("header", "true").option("nullValue", "\\N")
          .csv(out)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderstatus END AS status,
          CASE WHEN o_orderkey % 7 = 0 THEN ''
               ELSE o_orderpriority || ', "' || o_orderstatus || '"' END AS note,
          o_totalprice AS price,
          CAST(o_orderdate AS DATE) AS odate
        FROM orders ORDER BY o_orderkey""")),

    QDef("scan_fixed_width",
      // Fixed-width record format round trip — the mainframe/COBOL
      // export layout that still feeds real warehouses: each order
      // serializes to one 40-char line (key 12 zero-padded, status 1,
      // cents 12 zero-padded, priority 15 space-padded), written
      // through the text sink and re-parsed with pure substring/cast
      // built-ins — no per-row UDF, the parse is a codegen'd
      // projection, and at 100 TB a fixed-width scan splits on line
      // boundaries exactly like any text source. Money rides as
      // INTEGER CENTS in the record (text round-trip of doubles via
      // fixed-width would need locale-proof formatting; cents are
      // exact by construction). The oracle reads the ORIGINAL parquet,
      // so a pass proves serialize→parse is the identity.
      (s, dir) => {
        val out = scratch(s"fixed_width_${new java.io.File(dir).getName}")
        t(s, dir, "orders").select(concat(
            lpad(col("o_orderkey").cast("string"), 12, "0"),
            col("o_orderstatus"),
            lpad(floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .cast("string"), 12, "0"),
            rpad(col("o_orderpriority"), 15, " ")).as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .select(
            substring(col("value"), 1, 12).cast("long").as("o_orderkey"),
            substring(col("value"), 13, 1).as("status"),
            substring(col("value"), 14, 12).cast("long").as("cents"),
            rtrim(substring(col("value"), 26, 15)).as("priority"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus AS status,
          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
          o_orderpriority AS priority
        FROM orders ORDER BY o_orderkey""")),

    QDef("scan_dsv2_skipping",
      // Custom DataSource V2 connector (graft.sources.GraftTsv): a
      // stats-indexed TSV format read through the full V2 scan stack —
      // TableProvider -> ScanBuilder with column pruning (readers
      // materialize only the projected fields) and filter pushdown
      // (doc_id ranges prune whole files against per-file min/max
      // headers at planning time, parquet's zone-map contract on a
      // user-defined format). The layout is range-partitioned on
      // doc_id at write, so this selective read plans 1-2 of 8 files
      // (GraftTsvSourceSpec pins both prunings). Pushed filters stay
      // residual — skipping is an optimization, never correctness.
      (s, dir) => s.read.format("graft-tsv").load(gtsvFiles(s, dir))
        .filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id >= 100 AND doc_id < 200 ORDER BY doc_id""")),

    QDef("scan_dsv2_agg_pushdown",
      // V2 aggregate pushdown (SupportsPushDownAggregates, complete):
      // COUNT/MIN(doc_id)/MAX(doc_id) answered from the per-file
      // `#graft-tsv` headers in one driver-side sweep — zero rows
      // parsed, zero row-reading tasks (GraftTsvSourceSpec pins the
      // zero-reader property and the filtered-decline case). The same
      // contract parquet footer aggregates provide; at 100 TB this is
      // the difference between a metadata read and a full scan for the
      // "how big is this table" class of query.
      (s, dir) => s.read.format("graft-tsv").load(gtsvFiles(s, dir))
        .agg(count(lit(1)).as("n_rows"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id")),
      Some("""SELECT count(*) AS n_rows, min(doc_id) AS min_id,
          max(doc_id) AS max_id FROM documents""")),

    QDef("join_dsv2_runtime_prune",
      // DSv2 runtime filtering (SupportsRuntimeFiltering): the dim
      // side's selective NON-KEY predicate becomes a join-fed IN-list
      // that BatchScanExec pushes into the graft-tsv scan AFTER the
      // broadcast materializes, re-planning input partitions against
      // the file zone maps — DPP semantics reaching a custom source's
      // file level instead of hive partition directories
      // (GraftTsvSourceSpec pins 1-of-8 files opened). The dim is the
      // short-docs slice of the corpus: derived, so the oracle
      // replays it exactly. No broadcast HINT: the dim is a parquet
      // scan whose post-filter size estimate sits far under
      // autoBroadcastJoinThreshold, so the planner picks the BHJ from
      // STATS — and at a scale where the slice stops fitting, AQE
      // demotes the broadcast instead of OOMing a pinned build side
      // (the runtime filter then simply doesn't inject; correctness is
      // unchanged, the scan just reads all zones).
      (s, dir) => {
        val dim = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .filter(col("n_chars") < 60)
        s.read.format("graft-tsv").load(gtsvFiles(s, dir))
          .select("doc_id", "lang", "source")
          .join(dim, "doc_id")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT d.doc_id, d.lang, d.source, s.n_chars
        FROM documents d JOIN (SELECT doc_id, n_chars FROM documents WHERE n_chars < 60) s
          ON s.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    QDef("join_spj_colocated",
      // Storage-partitioned join (SupportsReportPartitioning +
      // KeyGroupedPartitioning + HasPartitionKey): two graft-tsv
      // generations written key-grouped on lang (one single-lang file
      // set per lang, v2-stamped headers) report identity(lang)
      // partitioning from the scan, so with v2 bucketing enabled the
      // whole DAG — both per-lang aggregates AND the join — plans with
      // ZERO shuffle exchanges (GraftTsvSpjSpec pins it; only the
      // final presentation sort exchanges). This is the Iceberg-style
      // SPJ contract on a custom source: at 100 TB the join's shuffle
      // of both fact sides simply does not exist, because the layout
      // already IS the distribution the join needs.
      (s, dir) => {
        val base = gtsvSpj(s, dir)
        val (outA, outB) = (s"$base/a", s"$base/b")
        // spark.sql.sources.v2.bucketing.enabled is a SESSION default
        // (set by Verify/Bench/SparkTestSession builders): mutating it
        // here would change planner config for every later query in the
        // session. Without the flag this query is still correct — the
        // join simply plans with shuffles instead of SPJ.
        val left = s.read.format("graft-tsv").load(outA)
          .groupBy("lang").agg(count(lit(1)).as("n_all"),
            sum("n_chars").as("chars_all"))
        val right = s.read.format("graft-tsv").load(outB)
          .groupBy("lang").agg(count(lit(1)).as("n_even"),
            max("n_chars").as("max_even_chars"))
        left.join(right, Seq("lang")).orderBy("lang")
      },
      Some("""WITH a AS (
          SELECT lang, count(*) AS n_all,
                 CAST(sum(n_chars) AS BIGINT) AS chars_all
          FROM documents GROUP BY 1),
        b AS (
          SELECT lang, count(*) AS n_even, max(n_chars) AS max_even_chars
          FROM documents WHERE doc_id % 2 = 0 GROUP BY 1)
        SELECT a.lang, n_all, chars_all, n_even, max_even_chars
        FROM a JOIN b USING (lang) ORDER BY lang""")),

    QDef("scan_spj_pruned",
      // Partition pruning on the key-grouped layout: a lang equality
      // pushed into the graft-tsv scan prunes whole single-lang FILES
      // by their header partition value — hive-style partition pruning
      // without directories, from the same v2 headers that drive the
      // storage-partitioned join (GraftTsvSpjSpec pins that only the
      // matching lang's files are opened). The filter stays residual,
      // so pruning is an optimization, never correctness; v1 files
      // without a stamp are simply never pruned.
      (s, dir) => s.read.format("graft-tsv").load(s"${gtsvSpj(s, dir)}/a")
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE lang = 'en' ORDER BY doc_id""")),

    QDef("scan_nested_pushdown",
      // Nested-schema pruning + pushdown: a struct-typed layout read
      // back selecting ONE nested leaf with a filter on a sibling leaf
      // — the scan must read only those two leaves (ReadSchema), not
      // the whole struct (PartitionPruneSpec asserts it). At 100 TB
      // the difference is scanning two columns of a 200-field document
      // struct versus all of them.
      (s, dir) => s.read.parquet(docsNested(s, dir))
        .filter(col("meta.lang") === "en")
        .select(col("doc_id"), col("meta.origin.name").as("src"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source AS src FROM documents
        WHERE lang = 'en' ORDER BY doc_id""")),

    QDef("scan_partition_pruned",
      // 100 TB scan discipline in one query: the layout partitions on
      // the dimension queries filter by (event_type), so the partition
      // filter prunes whole directories at listing time — non-matching
      // partitions are never read — while the residual data filter and
      // the 3-column projection reach the parquet reader as
      // PushedFilters / ReadSchema. PartitionPruneSpec asserts all
      // three in the executed plan. The partitioned layout is written
      // once per input generation (pay at write, amortize per read).
      (s, dir) => s.read.parquet(eventsPartitioned(s, dir))
        .filter(col("event_type") === "click" && col("value") > 100.0)
        .select("event_id", "user_id", "value")
        .orderBy("event_id", "user_id", "value"),
      Some("""SELECT event_id, user_id, value
        FROM events WHERE event_type = 'click' AND value > 100.0
        ORDER BY event_id, user_id, value""")),

    QDef("sink_compacted",
      // Small-files compaction — the maintenance op every file-based
      // lake runs: range-repartition on the natural read key (source,
      // doc_id), sort within partitions (gives parquet min/max stats a
      // monotone layout for range pruning), and cap file size with
      // maxRecordsPerFile. Output file count = sum over range
      // partitions of ceil(partition rows / cap) — at most one more
      // than ceil(total/cap) — regardless of how fragmented the input
      // was; CompactionSpec pins the count and the non-overlapping key
      // ranges. The re-read is oracle-checked against the source rows.
      (s, dir) => {
        val out = scratch(s"compact_${new java.io.File(dir).getName}")
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .repartitionByRange(2, col("source"), col("doc_id"))
          .sortWithinPartitions("source", "doc_id")
          .write.mode("overwrite")
          .option("maxRecordsPerFile", 3000)
          .parquet(out)
        s.read.parquet(out).orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, lang, n_chars
        FROM documents ORDER BY doc_id""")),

    QDef("sink_manifest_atomic",
      // Manifest-commit publish — the atomic-visibility protocol every
      // table format builds on (the Iceberg/Delta shape): data files
      // land FIRST, the manifest (the list of committed files) is
      // written LAST as one small atomic write, and readers resolve
      // files FROM THE MANIFEST, never by directory listing — so a
      // torn write, a crashed compaction, or a concurrent writer's
      // uncommitted output leaves garbage in the directory that no
      // reader ever sees. Demonstrated literally: an ORPHAN parquet
      // file (the odd-keyed "future" rows) is planted in the data
      // directory AFTER the commit and stays out of the manifest; the
      // read path below — manifest -> file list -> parquet scan —
      // returns exactly the committed snapshot (oracle-checked), while
      // a naive directory scan would include the orphan
      // (ManifestSinkSpec pins both). At 100 TB the manifest also
      // carries per-file min/max for pruning — layout_global_index
      // demonstrates that side.
      (s, dir) => {
        val out = manifestSink(s, dir)
        val committedFiles = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$out/manifest.txt")), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty).map(n => s"$out/data/$n")
        s.read.parquet(committedFiles: _*).orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars
        FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""")),

    QDef("scan_manifest_time_travel",
      // TIME TRAVEL over the manifest model (the `VERSION AS OF` every
      // table format exposes): three append-only commits land as
      // separate file sets with cumulative manifests v1⊂v2⊂v3, and the
      // reader resolves the v2 file list — seeing exactly the rows
      // committed at v2, none of v3's, regardless of what else sits in
      // the directory. Version membership is a deterministic md5 split
      // so the oracle states the v2 snapshot in closed form. The read
      // path is the same manifest→files→scan chain sink_manifest_atomic
      // pins; at 100 TB the manifest is bounded metadata and old
      // versions cost only the retained files (pipeline_manifest_gc
      // prices reclaiming them).
      (s, dir) => {
        val out = manifestVersions(s, dir)
        val v2Files = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$out/manifest_v2.txt")), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty).map(n => s"$out/data/$n")
        s.read.parquet(v2Files: _*).orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE CAST(('0x' || substr(md5('ver:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 3 IN (0, 1)
        ORDER BY doc_id""")),

    QDef("scan_manifest_incremental",
      // INCREMENTAL consumption between manifest versions — the
      // CDC-from-appends pattern (Iceberg's incremental scan / Delta's
      // startingVersion): a consumer that already processed v2 reads
      // set-difference(files(v3), files(v2)) and gets exactly the rows
      // commit 3 appended — no full-table rescan, no row-level diff
      // join (pipeline_snapshot_diff prices that alternative when
      // appends aren't guaranteed). File-set difference is bounded
      // manifest metadata; the data read is proportional to the DELTA,
      // which is the whole point at 100 TB. Shares the staged
      // 3-version layout with the time-travel read.
      (s, dir) => {
        val out = manifestVersions(s, dir)
        def files(v: Int) = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$out/manifest_v$v.txt")), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty)
        val delta = (files(3).toSet -- files(2).toSet).toSeq.sorted
          .map(n => s"$out/data/$n")
        s.read.parquet(delta: _*).orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE CAST(('0x' || substr(md5('ver:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 3 = 2
        ORDER BY doc_id""")),

    QDef("pipeline_manifest_gc",
      // Snapshot-retention garbage collection over the manifest model
      // above — the VACUUM/expire-snapshots pass every table format
      // needs or storage grows without bound under copy-on-write: a
      // v1 snapshot (two data files), a v2 COMPACTION that rewrites
      // them into one (v1's files stay on disk — time travel), and an
      // uncommitted orphan from a crashed writer. With retention
      // "keep latest", the GC plan classifies every physical file by
      // manifest reachability: live (in v2), expired (v1-only),
      // orphan (no manifest) — file sets come from the manifests plus
      // one directory listing (bounded METADATA, never data), row
      // counts from reading each class. The oracle derives the same
      // class sizes from the snapshot definitions. Executing the plan
      // (delete non-live) leaves exactly the v2 snapshot readable —
      // ManifestGcSpec pins that on a copy of the layout.
      (s, dir) => {
        val out = manifestGc(s, dir)
        def manifest(v: String): Set[String] = new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$out/manifest_$v.txt")), "UTF-8")
          .split("\n").filter(_.nonEmpty).toSet
        val v1 = manifest("v1")
        val v2 = manifest("v2")
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
          else Seq(f)
        val allFiles = walk(new java.io.File(s"$out/data"))
          .filter(_.getName.endsWith(".parquet"))
          .map(_.getPath.stripPrefix(s"$out/"))
        val byStatus = allFiles.groupBy { f =>
          if (v2(f)) "live" else if (v1(f)) "expired" else "orphan"
        }
        byStatus.toSeq.sortBy(_._1).map { case (st, fs) =>
          s.read.parquet(fs.map(f => s"$out/$f"): _*)
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(st).as("status"),
              lit(fs.size.toLong).as("n_files"), col("n_rows"))
        }.reduce(_.unionAll(_)).orderBy("status")
      },
      Some("""WITH ev AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 0),
          od AS (SELECT count(*) AS n FROM documents WHERE doc_id % 2 = 1)
        SELECT 'expired' AS status, CAST(2 AS BIGINT) AS n_files,
               CAST(ev.n AS BIGINT) AS n_rows FROM ev
        UNION ALL SELECT 'live', CAST(1 AS BIGINT), CAST(ev.n AS BIGINT) FROM ev
        UNION ALL SELECT 'orphan', CAST(1 AS BIGINT), CAST(od.n AS BIGINT) FROM od
        ORDER BY status""")),

    QDef("scan_text_regex",
      // Raw-log ingest — the other 100 TB source shape next to columnar
      // scans: unstructured text lines validated by one anchored regex
      // and split into typed columns, shuffle-free and codegen'd
      // end-to-end. The staged log is written from events losslessly
      // (value is exact at DECIMAL(18,2), so the string round-trip is
      // bit-faithful) and the oracle checks the PARSED table against
      // the original rows directly.
      (s, dir) => {
        val out = eventsTextlog(s, dir)
        // ONE anchored validation match per line, then a cheap split —
        // not one regexp_extract per field, which would re-run the
        // whole pattern once per column (4x the per-line regex cost,
        // and per-line cost IS this operator at log scale).
        val Re = "^evt\\|\\d+\\|\\d+\\|[a-z]+\\|[0-9]+\\.[0-9]{2}$"
        s.read.text(out)
          .filter(col("value").rlike(Re))
          .withColumn("f", split(col("value"), "\\|"))
          .select(
            element_at(col("f"), 2).cast("long").as("event_id"),
            element_at(col("f"), 3).cast("long").as("user_id"),
            element_at(col("f"), 4).as("event_type"),
            element_at(col("f"), 5).cast("double").as("value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type,
          CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        FROM events ORDER BY event_id""")),

    QDef("join_dpp",
      // Dynamic partition pruning — the RUNTIME variant of
      // scan_partition_pruned's static pruning: the fact side is
      // partitioned on the join key, the dim side carries the selective
      // predicate (category = 'conv'), and the optimizer injects a
      // dynamic partition filter on the fact scan fed by the dim's
      // broadcast, so only the partitions the filtered dim actually
      // joins to are listed and read. At 100 TB this is the difference
      // between scanning 2 partitions and scanning all of them when
      // the selective predicate lives on the dimension, not the fact.
      // DppSpec asserts the DynamicPruningExpression in the scan.
      (s, dir) => {
        val dim = s.read.parquet(eventDim(s, dir))
        s.read.parquet(eventsPartitioned(s, dir))
          .join(dim.filter(col("category") === "conv"), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(money(col("value"))).cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""WITH dim(event_type, category) AS (
          VALUES ('view', 'browse'), ('click', 'conv'), ('purchase', 'conv'),
                 ('signup', 'acct'), ('error', 'ops'))
        SELECT e.event_type, count(*) AS n,
          CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events e JOIN dim d ON e.event_type = d.event_type
        WHERE d.category = 'conv'
        GROUP BY e.event_type ORDER BY e.event_type""")),

    QDef("project_unpivot",
      // Native wide→long unpivot (the Dataset `unpivot`/`melt` API,
      // planned as Expand): two measure columns rotate into (field,
      // val) rows in one pass — no self-union rescan of the input.
      // Measures are cast to one exact DECIMAL type up front; unpivot
      // requires a common value type and the cast is the lossless one
      // for 2-decimal money and integer sizes.
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"),
          money(col("p_retailprice")).as("retailprice"),
          col("p_size").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retailprice"), col("size")), "field", "val")
        // Final cast to double: a DECIMAL output column round-trips as
        // decimal128 parquet, and the gate's pandas-side repr of
        // Decimal('907.10') != float 907.1 — same trailing-zero trap as
        // HUGEINT sums. Exact here (2-decimal money fits a double).
        .withColumn("val", col("val").cast("double"))
        .orderBy("p_partkey", "field"),
      Some("""SELECT p_partkey, 'retailprice' AS field,
            CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'size', CAST(CAST(p_size AS DECIMAL(18,2)) AS DOUBLE) FROM part
        ORDER BY p_partkey, field""")),

    QDef("project_docs",
      (s, dir) => t(s, dir, "documents")
        // Build the nested doc-model shape (SURVEY §1.1) in flight, then
        // project nested fields + array index back out.
        .select(col("doc_id"),
          struct(
            col("lang").as("language"),
            struct(col("source").as("name")).as("origin"),
            array(col("lang"), col("source")).as("tags")).as("meta"))
        .select(col("doc_id"),
          col("meta.language").as("language"),
          col("meta.origin.name").as("source_name"),
          element_at(col("meta.tags"), 2).as("tag2"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang AS language, source AS source_name,
          source AS tag2 FROM documents ORDER BY doc_id""")),

    QDef("filter_nonempty_terms",
      (s, dir) => t(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0 ORDER BY doc_id""")),

    QDef("filter_predicates",
      (s, dir) => t(s, dir, "lineitem")
        .filter(
          (col("l_returnflag").isin("A", "R")
            && col("l_quantity").between(10, 30)
            && !(col("l_discount") > lit(0.05))
            && col("l_linestatus").like("F%"))
          || (col("l_returnflag") <=> lit("N") && col("l_quantity") === lit(1.0)))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem
        WHERE (l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 30
               AND NOT (l_discount > 0.05) AND l_linestatus LIKE 'F%')
           OR (l_returnflag IS NOT DISTINCT FROM 'N' AND l_quantity = 1.0)
        ORDER BY 1, 2, 3, 4""")),

    // ------------------------------------------------------------------
    // Joins
    // ------------------------------------------------------------------

    QDef("join_broadcast_known_entities",
      (s, dir) => {
        // The reference known-entities lookup (O13/O15): a small
        // normalized name->type dimension broadcast against the term set.
        val known =
          t(s, dir, "customer").select(Text.normTerm(col("c_name")).as("norm"), lit("person").as("type"))
            .union(t(s, dir, "nation").select(Text.normTerm(col("n_name")).as("norm"), lit("place").as("type")))
            .distinct()
        val terms =
          t(s, dir, "part").select(Text.normTerm(col("p_name")).as("norm"))
            .union(t(s, dir, "nation").select(Text.normTerm(col("n_name")).as("norm")))
            .distinct()
        terms.join(broadcast(known), Seq("norm"), "left_outer")
          .select(col("norm"), coalesce(col("type"), lit("unclassified")).as("type"))
          .orderBy("norm")
      },
      Some("""WITH known AS (
          SELECT DISTINCT * FROM (
            SELECT lower(trim(regexp_replace(c_name,'\s+',' ','g'))) AS norm, 'person' AS type FROM customer
            UNION ALL
            SELECT lower(trim(regexp_replace(n_name,'\s+',' ','g'))), 'place' FROM nation)
        ), terms AS (
          SELECT DISTINCT lower(trim(regexp_replace(p_name,'\s+',' ','g'))) AS norm FROM part
          UNION
          SELECT DISTINCT lower(trim(regexp_replace(n_name,'\s+',' ','g'))) FROM nation
        )
        SELECT terms.norm AS norm, coalesce(known.type, 'unclassified') AS type
        FROM terms LEFT JOIN known ON terms.norm = known.norm
        ORDER BY 1""")),

    QDef("join_anti_unclassified",
      (s, dir) => {
        // O15: terms NOT in the known-entities map still need the
        // classifier (json_classification.py:121-123) — left_anti join.
        val known = t(s, dir, "nation").select(Text.normTerm(col("n_name")).as("norm")).distinct()
        t(s, dir, "part").select(Text.normTerm(col("p_name")).as("norm")).distinct()
          .union(known.limit(3))
          .distinct()
          .join(broadcast(known), Seq("norm"), "left_anti")
          .orderBy("norm")
      },
      Some("""WITH known AS (
          SELECT DISTINCT lower(trim(regexp_replace(n_name,'\s+',' ','g'))) AS norm FROM nation),
        terms AS (
          SELECT DISTINCT lower(trim(regexp_replace(p_name,'\s+',' ','g'))) AS norm FROM part
          UNION
          SELECT norm FROM (SELECT norm FROM known ORDER BY norm LIMIT 3))
        SELECT norm FROM terms
        WHERE NOT EXISTS (SELECT 1 FROM known WHERE known.norm = terms.norm)
        ORDER BY norm""")),

    QDef("join_semi",
      (s, dir) => {
        val fOrders = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        t(s, dir, "customer")
          .join(fOrders, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        ORDER BY c_custkey""")),

    QDef("join_left_outer_api_results",
      (s, dir) => {
        // O18: tasks left-outer results on the key, missing -> 'Unknown'
        // (json_classification.py:205-215).
        val goodCust = t(s, dir, "customer").filter(col("c_acctbal") > 0)
          .select(col("c_custkey"), col("c_name"))
        t(s, dir, "orders")
          .join(goodCust, col("o_custkey") === col("c_custkey"), "left_outer")
          .select(col("o_orderkey"),
            coalesce(col("c_name"), lit("Unknown")).as("cust_name"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, coalesce(c_name, 'Unknown') AS cust_name
        FROM orders LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0) c
          ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    QDef("join_inner_hash",
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(money(col("o_totalprice"))).cast("double").as("sum_price"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    QDef("join_sort_merge",
      (s, dir) => t(s, dir, "lineitem").hint("merge")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_items,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    QDef("join_theta_range",
      (s, dir) => {
        // Interval/as-of family: same-user event pairs within 5 minutes.
        // Equi key (user_id) keeps the join shuffle-partitionable at
        // scale; the range predicate is applied post-match.
        val e = t(s, dir, "events")
        val a = e.select(col("user_id"), col("ts").as("a_ts"))
        val b = e.select(col("user_id"), col("ts").as("b_ts"))
        a.join(b, Seq("user_id"))
          .filter(col("b_ts") > col("a_ts")
            && col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        SELECT a.user_id, count(*) AS n_pairs
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        GROUP BY 1 ORDER BY 1""")),

    QDef("join_range_binned",
      // The interval join's 100 TB shape: bin timestamps into
      // window-sized buckets and make the bin part of the EQUI key.
      // Each left event probes its own bin and the next (b in
      // (a, a+5m] spans at most 2 window-sized bins — exact integer
      // argument on microseconds), the join is a plain hash join on
      // (user_id, bin), and the precise range predicate filters the
      // bin-local candidates. Same result as join_theta_range, but the
      // per-key candidate set is bounded by 2 bins' occupancy instead
      // of the user's whole history — the difference between a
      // partitionable join and a per-key quadratic blowup when keys
      // are hot or absent. Each true pair matches exactly once (b's
      // bin is fixed; a's two probe bins are distinct).
      (s, dir) => {
        val binUs = 5L * 60L * 1000000L
        val e = t(s, dir, "events")
          .select(col("user_id"), col("ts"),
            expr(s"unix_micros(ts) div $binUs").as("bin"))
        val a = e.select(col("user_id"), col("ts").as("a_ts"),
          explode(array(col("bin"), col("bin") + 1)).as("bin"))
        val b = e.select(col("user_id"), col("ts").as("b_ts"), col("bin"))
        a.join(b, Seq("user_id", "bin"))
          .filter(col("b_ts") > col("a_ts")
            && col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      // Same closed form as join_theta_range: binning is an execution
      // strategy, not a semantics change.
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        SELECT a.user_id, count(*) AS n_pairs
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        GROUP BY 1 ORDER BY 1""")),

    QDef("join_lpm_cidr",
      // Longest-prefix-match CIDR join — how an IP-enrichment or
      // geo/blocklist stage runs at 100 TB: each event's synthetic
      // IPv4 (md5-derived u32, engine-portable) expands to its THREE
      // candidate prefixes (/8, /12, /16 — a bounded ×3 explode, the
      // LPM analogue of join_range_binned's bin expansion), the rule
      // table keys on (prefix_len, prefix), and the join is a plain
      // broadcast hash join — never a per-row range scan over rules.
      // Most-specific-wins is an integer argmax (max struct(len,
      // rule)) per event, and the report re-aggregates to one row per
      // rule with its match count — rules that never win stay visible
      // through the left join (a blocklist whose entries never fire is
      // a bug worth seeing). Synthetic-feed liveness is engineered,
      // not hoped for: IPs are md5 bit-fields CONFINED to the
      // 10-17.x subnet grid the rules tile (octet1 ∈ {10..17}, octet2
      // on a 64-value lattice), so every length class catches events
      // at every SF — a full-u32 hash left the /12 and /16 arms dead
      // (the derived-feed reachability rule: an arm no input can
      // reach is a gate that can never catch a bug).
      (s, dir) => {
        // k 0-7: /8 over octets 10..17; k 8-15: one /12 per octet with
        // a cycling even second nibble; k 16-24: /16 cells on the
        // 29-step lattice walk (distinct by construction).
        val rules = t(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("rule_id"),
            col("n_name").as("rule_name"))
          .withColumn("pfx_len", when(col("rule_id") < 8, 8L)
            .when(col("rule_id") < 16, 12L).otherwise(16L))
          .withColumn("pfx", when(col("pfx_len") === 8,
              col("rule_id") + 10)
            .when(col("pfx_len") === 12,
              (col("rule_id") - 8 + 10) * 16 + (col("rule_id") - 8) * 2 % 16)
            .otherwise(((col("rule_id") - 16) % 8 + 10) * 256 +
              (col("rule_id") - 16) * 29 % 64 * 4))
        val ev = t(s, dir, "events")
          .withColumn("h", Text.md5Hash32(concat(lit("ip:"),
            col("event_id").cast("string"))))
          .select(col("event_id"), expr("""
            (10 + h % 8) * 16777216
            + ((h div 8) % 64) * 4 * 65536
            + (h div 512) % 65536""").as("ip"))
        val cands = ev.select(col("event_id"), col("ip"),
          explode(array(
            struct(lit(8L).as("pfx_len"),
              expr("ip div 16777216").as("pfx")),
            struct(lit(12L).as("pfx_len"),
              expr("ip div 1048576").as("pfx")),
            struct(lit(16L).as("pfx_len"),
              expr("ip div 65536").as("pfx")))).as("c"))
          .select(col("event_id"), col("c.pfx_len"), col("c.pfx"))
        // Per event at most one rule per length class (rules are
        // unique per (len, pfx)), so the most-specific winner packs
        // into one integer argmax: len·10⁶ + rule_id.
        val best = cands
          .join(broadcast(rules), Seq("pfx_len", "pfx"))
          .groupBy("event_id")
          .agg(max(col("pfx_len") * 1000000L + col("rule_id")).as("sc"))
          .select(col("event_id"), (col("sc") % 1000000L).as("rule_id"))
        rules.join(
            best.groupBy("rule_id").agg(count(lit(1)).as("n_best")),
            Seq("rule_id"), "left")
          .select(col("rule_id"), col("rule_name"), col("pfx_len"),
            col("pfx"), coalesce(col("n_best"), lit(0L)).as("n_best"))
          .orderBy("rule_id")
      },
      Some(s"""WITH rules AS (
          SELECT CAST(n_nationkey AS BIGINT) AS rule_id,
                 n_name AS rule_name,
                 CAST(CASE WHEN n_nationkey < 8 THEN 8
                      WHEN n_nationkey < 16 THEN 12 ELSE 16 END AS BIGINT)
                   AS pfx_len,
                 CAST(CASE WHEN n_nationkey < 8 THEN n_nationkey + 10
                      WHEN n_nationkey < 16
                        THEN (n_nationkey - 8 + 10) * 16
                             + (n_nationkey - 8) * 2 % 16
                      ELSE ((n_nationkey - 16) % 8 + 10) * 256
                           + (n_nationkey - 16) * 29 % 64 * 4
                      END AS BIGINT) AS pfx
          FROM nation),
        ev AS (
          SELECT event_id,
                 (10 + h % 8) * 16777216
                   + ((h // 8) % 64) * 4 * 65536
                   + (h // 512) % 65536 AS ip
          FROM (SELECT event_id,
                  CAST(('0x' || substr(md5('ip:' || CAST(event_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h
                FROM events)),
        cands AS (
          SELECT event_id, CAST(8 AS BIGINT) AS pfx_len, ip // 16777216 AS pfx FROM ev
          UNION ALL
          SELECT event_id, 12, ip // 1048576 FROM ev
          UNION ALL
          SELECT event_id, 16, ip // 65536 FROM ev),
        best AS (
          SELECT event_id, max(c.pfx_len * 1000000 + r.rule_id) % 1000000
                   AS rule_id
          FROM cands c JOIN rules r
            ON r.pfx_len = c.pfx_len AND r.pfx = c.pfx
          GROUP BY 1),
        cnt AS (
          SELECT rule_id, CAST(count(*) AS BIGINT) AS n_best
          FROM best GROUP BY 1)
        SELECT r.rule_id, r.rule_name, r.pfx_len, r.pfx,
               COALESCE(n_best, 0) AS n_best
        FROM rules r LEFT JOIN cnt ON cnt.rule_id = r.rule_id
        ORDER BY r.rule_id"""),
    ),

    QDef("join_star_schema",
      // The canonical star-schema rollup — ONE fact scan through a
      // chain of four broadcast hash joins (part, supplier,
      // supplier→nation→region snowflake) into one aggregate: the plan
      // every BI/metrics layer compiles to, and the shape that proves
      // the dims stay OFF the shuffle path — at 100 TB the fact table
      // streams through a single stage (broadcasts + partial agg
      // fused into one whole-stage-codegen pipeline), and the only
      // exchange is the 30-row final aggregate. PlanShapeSpec pins the
      // physical plan: four BroadcastHashJoins, zero shuffles before
      // the aggregate. Revenue is exact end-to-end: price and discount
      // lift onto the cent/percent integer grid per row, the product
      // is int64, and the group sum rides DECIMAL(38,0) ≙ HUGEINT
      // (a 100 TB group's cent² mass passes int64); the only doubles
      // are the final /10⁴ presentation divisions.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
              (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")))
              .as("rev_c2"))
        li.join(broadcast(t(s, dir, "part")
              .select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(t(s, dir, "supplier")
              .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")
              .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("p_type"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("rev_c2").cast("decimal(38,0)")).as("rc2"))
          .select(col("region"), col("p_type"), col("n_items"),
            rx(col("rc2").cast("double") / 10000.0, 2).as("revenue"))
          .orderBy("region", "p_type")
      },
      Some(s"""WITH li AS (
          SELECT l_partkey, l_suppkey,
                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
                   (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                   AS rev_c2
          FROM lineitem)
        SELECT r_name AS region, p_type,
               CAST(count(*) AS BIGINT) AS n_items,
               ${rxSql("CAST(sum(CAST(rev_c2 AS HUGEINT)) AS DOUBLE) / 10000.0",
                 2)} AS revenue
        FROM li
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2 ORDER BY region, p_type""")),

    QDef("join_asof",
      (s, dir) => {
        // As-of join (the family the reference's key-lookups never
        // reach, SURVEY §2.1 note): for each click, the latest purchase
        // of the same user at-or-before its timestamp. Implemented as
        // union + running last-non-null over one (user_id) shuffle —
        // the sort-merge as-of shape that scales linearly, instead of a
        // pairwise ts-range join. Equal-ts purchases sort before clicks
        // (kr) so <= semantics hold; event_id totalizes ties.
        val ev = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"),
            when(col("event_type") === "purchase", 0).otherwise(1).as("kr"))
        val win = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def lastP(c: org.apache.spark.sql.Column) =
          last(when(col("event_type") === "purchase", c), ignoreNulls = true)
            .over(win)
        ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
            lastP(col("event_id")).as("p_id"),
            lastP(col("ts")).as("p_ts"),
            lastP(col("value")).as("p_value"))
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"), col("p_id"), col("p_ts"), col("p_value"))
          .orderBy("user_id", "click_ts", "click_id")
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
                 CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kr
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (SELECT user_id, event_id, ts, event_type,
                last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER win AS p_id,
                last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS) OVER win AS p_ts,
                last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) OVER win AS p_value
              FROM ev
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, kr, event_id
                             ROWS UNBOUNDED PRECEDING))
        SELECT user_id, event_id AS click_id, ts AS click_ts, p_id, p_ts, p_value
        FROM w WHERE event_type = 'click'
        ORDER BY user_id, click_ts, click_id""")),

    QDef("join_asof_tolerance",
      // TOLERANCE as-of — the third member of the family (backward,
      // nearest, and now bounded-staleness): a backward match older
      // than the tolerance (1 hour here) is WORSE than no match — a
      // trade priced against an hour-old quote is mispriced, a click
      // attributed to a stale purchase is misattributed — so the stale
      // arm nulls out exactly like the no-match arm, but keeps the
      // MATCHED flag and the gap so consumers can distinguish "never
      // saw a purchase" (gap null) from "saw one, too old" (matched
      // false, gap real). Same single (user_id) shuffle + running
      // last-non-null plan as join_asof; the tolerance test is one
      // integer epoch-second comparison, and both the within and
      // too-stale arms are live at every SF (inter-event gaps straddle
      // the hour).
      (s, dir) => {
        val TolS = 3600L
        val ev = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"),
            when(col("event_type") === "purchase", 0).otherwise(1).as("kr"))
        val win = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def lastP(c: org.apache.spark.sql.Column) =
          last(when(col("event_type") === "purchase", c), ignoreNulls = true)
            .over(win)
        ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
            lastP(col("event_id")).as("p_id0"),
            lastP(col("ts")).as("p_ts0"),
            lastP(col("value")).as("p_value0"))
          .filter(col("event_type") === "click")
          // epoch MICROS on both sides (unix_micros ≙ epoch_us): DuckDB's
          // epoch() is a rounding double while Spark's unix_timestamp
          // floors — sub-second timestamps would disagree at the
          // boundary. gap reported in whole seconds via integer div.
          .withColumn("gap_s",
            expr("(unix_micros(ts) - unix_micros(p_ts0)) div 1000000"))
          .withColumn("matched",
            col("p_ts0").isNotNull && col("gap_s") <= TolS)
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"),
            when(col("matched"), col("p_id0")).as("p_id"),
            when(col("matched"), col("p_value0")).as("p_value"),
            col("gap_s"), col("matched"))
          .orderBy("user_id", "click_ts", "click_id")
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
                 CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kr
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (SELECT user_id, event_id, ts, event_type,
                last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER win AS p_id0,
                last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS) OVER win AS p_ts0,
                last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) OVER win AS p_value0
              FROM ev
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, kr, event_id
                             ROWS UNBOUNDED PRECEDING)),
        g AS (
          SELECT user_id, event_id, ts, p_id0, p_ts0, p_value0,
                 (epoch_us(ts) - epoch_us(p_ts0)) // 1000000 AS gap_s,
                 p_ts0 IS NOT NULL AND
                   (epoch_us(ts) - epoch_us(p_ts0)) // 1000000 <= 3600
                   AS matched
          FROM w WHERE event_type = 'click')
        SELECT user_id, event_id AS click_id, ts AS click_ts,
               CASE WHEN matched THEN p_id0 END AS p_id,
               CASE WHEN matched THEN p_value0 END AS p_value,
               gap_s, matched
        FROM g ORDER BY user_id, click_ts, click_id""")),

    QDef("join_asof_nearest",
      // NEAREST as-of (the sensor-fusion / trade-quote variant):
      // join_asof's backward match plus the symmetric forward match,
      // then each click takes whichever purchase is closer in time,
      // ties to the earlier (backward) side. Same one-shuffle
      // sort-merge shape: BOTH directions are frames over the SAME
      // (user_id; ts, kr, event_id) window ordering — one partition
      // shuffle, one sort, two frames in a single window pass — never a
      // pairwise |Δt| range join. Distances are exact epoch
      // microseconds (integers in both engines), so the nearer-side
      // decision is bit-identical anywhere.
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"),
            when(col("event_type") === "purchase", 0).otherwise(1).as("kr"))
        val wb = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wf = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kr"), col("event_id"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        def lastP(c: org.apache.spark.sql.Column) =
          last(when(col("event_type") === "purchase", c), ignoreNulls = true)
            .over(wb)
        def firstP(c: org.apache.spark.sql.Column) =
          first(when(col("event_type") === "purchase", c), ignoreNulls = true)
            .over(wf)
        val takeB = col("b_id").isNotNull &&
          (col("f_id").isNull || col("db") <= col("df"))
        ev.select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
            lastP(col("event_id")).as("b_id"), lastP(col("ts")).as("b_ts"),
            firstP(col("event_id")).as("f_id"), firstP(col("ts")).as("f_ts"))
          .filter(col("event_type") === "click")
          .withColumn("db", unix_micros(col("ts")) - unix_micros(col("b_ts")))
          .withColumn("df", unix_micros(col("f_ts")) - unix_micros(col("ts")))
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"),
            when(takeB, "b").when(col("f_id").isNotNull, "f").as("side"),
            when(takeB, col("b_id")).otherwise(col("f_id")).as("near_id"),
            when(takeB, col("db")).otherwise(col("df")).as("delta_us"))
          .orderBy("user_id", "click_ts", "click_id")
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
                 CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kr
          FROM events WHERE event_type IN ('click', 'purchase')),
        w AS (SELECT user_id, event_id, ts, event_type,
                last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER wb AS b_id,
                last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS) OVER wb AS b_ts,
                first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER wf AS f_id,
                first_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS) OVER wf AS f_ts
              FROM ev
              WINDOW wb AS (PARTITION BY user_id ORDER BY ts, kr, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY user_id ORDER BY ts, kr, event_id
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        d AS (SELECT *, epoch_us(ts) - epoch_us(b_ts) AS db,
                     epoch_us(f_ts) - epoch_us(ts) AS df
              FROM w WHERE event_type = 'click')
        SELECT user_id, event_id AS click_id, ts AS click_ts,
               CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR db <= df) THEN 'b'
                    WHEN f_id IS NOT NULL THEN 'f' END AS side,
               CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR db <= df) THEN b_id
                    ELSE f_id END AS near_id,
               CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR db <= df) THEN db
                    ELSE df END AS delta_us
        FROM d ORDER BY user_id, click_ts, click_id""")),

    // ------------------------------------------------------------------
    // Aggregations
    // ------------------------------------------------------------------

    QDef("agg_argmax",
      // Accompanying-value selection (max_by/min_by ≙ DuckDB
      // arg_max/arg_min): per event type, the user and value carried by
      // the highest/lowest event in the sequence order. One map-side-
      // combined aggregate — the partial state is a single (key, value)
      // pair per group, so it merges like min/max and never buffers
      // rows. The ordering key (event_id) is unique, which is what
      // makes arg-extrema deterministic; ordering by a non-unique
      // column is the classic nondeterminism trap on both engines.
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          max_by(col("user_id"), col("event_id")).as("last_user"),
          max_by(col("value"), col("event_id")).as("last_value"),
          min_by(col("user_id"), col("event_id")).as("first_user"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
          arg_max(user_id, event_id) AS last_user,
          arg_max(value, event_id) AS last_value,
          arg_min(user_id, event_id) AS first_user,
          count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    QDef("agg_hash_group",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"),
          sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
            .cast("double").as("revenue"),
          (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
          min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef("agg_distinct_terms",
      (s, dir) => t(s, dir, "documents")
        // O14: distinct normalized term extraction across all documents.
        .select(explode(Text.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) > 0)
        .agg(count_distinct(col("w")).as("n_terms"), count(lit(1)).as("n_tokens")),
      Some("""SELECT count(DISTINCT w) AS n_terms, count(*) AS n_tokens
        FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents)
        WHERE length(w) > 0""")),

    QDef("agg_approx_distinct",
      // HLL sketch values differ across engines, so the oracle checks
      // the sketch's CONTRACT instead of its bits: the query emits the
      // exact distinct count plus whether the HLL estimate landed within
      // a 3-sigma error envelope (default rsd 0.05 is ONE standard
      // deviation — asserting 1-sigma as a constant would flip on an
      // unlucky group at a new scale factor), which the oracle asserts
      // as a constant. The ScalaTest spec pins the same bound.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")) -
              count_distinct(col("l_partkey"))).cast("double") /
            count_distinct(col("l_partkey")) <= 0.15).as("within_3sigma"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          count(DISTINCT l_partkey) AS exact_parts,
          true AS within_3sigma
        FROM lineitem GROUP BY 1 ORDER BY l_returnflag""")),

    QDef("agg_hll_union",
      // MERGEABLE sketches — the property that makes approximate
      // distinct counting work at 100 TB: per-group HLL sketches
      // (datasketches-backed hll_sketch_agg) are built in one pass,
      // then UNIONED into the global sketch with hll_union_agg — no
      // second scan of the data, which is how rollups over sketches
      // compose across partitions, days, or tenants. Sketch bits are
      // engine-specific, so the oracle checks the CONTRACT (estimate
      // within 5% / ±5 of exact, trivially tight at lgK=12) like
      // agg_approx_distinct does.
      (s, dir) => {
        val e = t(s, dir, "events")
        val per = graft.pipeline.Staged(s, dir, "hll_per_type") {
          e.groupBy("event_type")
            .agg(hll_sketch_agg(col("user_id")).as("sk"),
              count_distinct(col("user_id")).as("n_exact"))
        }
        val globExact = e.agg(count_distinct(col("user_id")).as("n_exact"))
        val glob = per.agg(hll_union_agg(col("sk")).as("sk"))
          .crossJoin(broadcast(globExact))
          .select(lit("ALL").as("event_type"), col("n_exact"),
            hll_sketch_estimate(col("sk")).as("est"))
        per.select(col("event_type"), col("n_exact"),
            hll_sketch_estimate(col("sk")).as("est"))
          .union(glob)
          .select(col("event_type"), col("n_exact"),
            (abs(col("est") - col("n_exact")).cast("double") <=
              greatest(lit(5.0), col("n_exact").cast("double") * 0.05))
              .as("est_ok"))
          .orderBy("event_type")
      },
      Some("""WITH per AS (
          SELECT event_type, count(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type),
        tot AS (
          SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS n_exact
          FROM events)
        SELECT event_type, n_exact, TRUE AS est_ok
        FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
        ORDER BY event_type""")),

    QDef("agg_rollup_cube",
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(money(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    QDef("agg_skew_salted",
      (s, dir) => {
        // Skew mitigation by salting: collapse users < 50 onto one hot
        // key, then aggregate in two phases — (key, salt) partials
        // first, so the hot key spreads over 8 reducers, then the
        // final combine per key. Results are identical to a direct
        // GROUP BY (the oracle); the salt is derived from event_id
        // rather than rand() so the oracle stays deterministic — at
        // 100 TB the salt source is interchangeable.
        val skewed = t(s, dir, "events")
          .withColumn("k",
            when(col("user_id") < 50, lit(0L)).otherwise(col("user_id")))
        skewed
          .withColumn("salt", pmod(col("event_id"), lit(8)))
          .groupBy("k", "salt")
          .agg(count(lit(1)).as("pn"), sum(money(col("value"))).as("ps"))
          .groupBy("k")
          .agg(sum(col("pn")).as("n"),
            sum(col("ps")).cast("double").as("sum_value"))
          .orderBy("k")
      },
      Some("""SELECT CASE WHEN user_id < 50 THEN 0 ELSE user_id END AS k,
          count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    QDef("join_skew_salted",
      (s, dir) => {
        // Skew-mitigated join: collapse users < 50 onto one hot key (as
        // in agg_skew_salted), then join events to a per-user dimension
        // WITHOUT a hot partition — the fact side salts its key
        // deterministically (event_id mod R), the dim side replicates
        // each row R ways, and the join key becomes (k, salt), so the
        // hot key's rows spread over R reducers instead of one straggler
        // task. Identical results to the unsalted join (the oracle);
        // this manual rewrite is the pre-AQE-era shape — AQE's skew-join
        // split achieves it adaptively, but the explicit form also
        // covers aggregation-free pipelines AQE cannot split.
        val R = 8
        val keyed = t(s, dir, "events")
          .withColumn("k",
            when(col("user_id") < 50, lit(0L)).otherwise(col("user_id")))
        val dim = keyed.groupBy("k")
          .agg(count(lit(1)).as("user_events"))
        val saltedDim = dim.withColumn("salt",
          explode(sequence(lit(0), lit(R - 1))))
        keyed
          .withColumn("salt", pmod(col("event_id"), lit(R)).cast("int"))
          .join(saltedDim, Seq("k", "salt"))
          .groupBy("k", "user_events")
          .agg(count(lit(1)).as("n"), sum(money(col("value"))).cast("double")
            .as("sum_value"))
          .orderBy("k")
      },
      Some("""WITH keyed AS (
          SELECT CASE WHEN user_id < 50 THEN 0 ELSE user_id END AS k, value
          FROM events),
        dim AS (SELECT k, count(*) AS user_events FROM keyed GROUP BY k)
        SELECT keyed.k, dim.user_events, count(*) AS n,
               CAST(sum(CAST(keyed.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM keyed JOIN dim ON keyed.k = dim.k
        GROUP BY 1, 2 ORDER BY keyed.k""")),

    QDef("agg_percentile",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          rx(percentile(col("l_extendedprice"), lit(0.5)), 4).as("median_price"),
          rx(percentile(col("l_extendedprice"), lit(0.95)), 4).as("p95_price"),
          rx(percentile(col("l_quantity"), lit(0.25)), 4).as("q1_qty"))
        .orderBy("l_returnflag"),
      // Spark's exact percentile and DuckDB's quantile_cont share the
      // same (n-1)*p linear interpolation; rounded for float parity.
      Some(s"""SELECT l_returnflag,
          ${rxSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS median_price,
          ${rxSql("quantile_cont(l_extendedprice, 0.95)", 4)} AS p95_price,
          ${rxSql("quantile_cont(l_quantity, 0.25)", 4)} AS q1_qty
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QDef("agg_histogram",
      // Distribution profiling — the first query run against any new
      // corpus: fixed-width histogram of document lengths per source
      // (bucket = n_chars div 100), one hash aggregate, map-side
      // combined; bucket count is bounded by the value range, not the
      // corpus.
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("source"),
          (col("n_chars") / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source", "bucket"),
      Some("""SELECT source, n_chars // 100 AS bucket, count(*) AS n,
          min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef("agg_cube_sets",
      // The other multi-dimensional grouping shapes next to
      // agg_rollup_cube's rollup: full cube over (returnflag,
      // linestatus) restricted by GROUPING SETS semantics — here the
      // cube's own four grouping sets, emitted by one pass with
      // grouping_id disambiguating levels (NULL data values vs NULL
      // subtotal markers).
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(money(col("l_extendedprice"))).cast("double").as("sum_price"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          count(*) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    QDef("agg_approx_percentile",
      // Sketch quantiles for the 100 TB path: exact percentile needs a
      // full sort per group; approx_percentile is a mergeable
      // fixed-size sketch (one pass, map-side combinable). Like
      // agg_approx_distinct, the oracle asserts the sketch's CONTRACT,
      // not its bits: the estimate must land between the exact p40 and
      // p60 values (the rank-error guarantee at default accuracy is
      // far tighter; the wide envelope keeps the constant-true oracle
      // safe across scale factors).
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          rx(percentile(col("l_extendedprice"), lit(0.5)), 4).as("exact_p50"),
          (approx_percentile(col("l_extendedprice"), lit(0.5), lit(10000))
            .between(
              percentile(col("l_extendedprice"), lit(0.4)),
              percentile(col("l_extendedprice"), lit(0.6))))
            .as("within_decile"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
          ${rxSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS exact_p50,
          true AS within_decile
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QDef("agg_pivot",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(money(col("l_quantity"))))
        .select(col("l_returnflag"),
          coalesce(col("F").cast("double"), lit(0.0)).as("f_qty"),
          coalesce(col("O").cast("double"), lit(0.0)).as("o_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          CAST(coalesce(sum(CASE WHEN l_linestatus = 'F'
            THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS f_qty,
          CAST(coalesce(sum(CASE WHEN l_linestatus = 'O'
            THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS o_qty
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QDef("agg_collect_terms",
      (s, dir) => t(s, dir, "part")
        // O22 re-nest: collect_list after explode; sorted for determinism
        // (SURVEY §2.3-3 — bare collect order is shuffle-dependent).
        .groupBy("p_brand")
        .agg(array_join(array_sort(collect_list(col("p_name"))), "|").as("names"),
          count(lit(1)).cast("long").as("n"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, string_agg(p_name, '|' ORDER BY p_name) AS names,
          count(*) AS n
        FROM part GROUP BY 1 ORDER BY 1""")),

    // ------------------------------------------------------------------
    // Windows
    // ------------------------------------------------------------------

    QDef("win_rank_dedup",
      (s, dir) => {
        // First-wins dedup at scale (SURVEY §2.3-3): row_number over an
        // explicit total order replaces order-dependent dropDuplicates.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id", "ts")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, ts FROM (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          FROM events) WHERE rn = 1 ORDER BY user_id""")),

    QDef("win_analytic",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"),
            first(col("event_type")).over(w).as("first_type"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
          lag(value, 1) OVER w AS prev_value,
          lead(value, 1) OVER w AS next_value,
          first_value(event_type) OVER w AS first_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id""")),

    QDef("win_frame_rows",
      (s, dir) => {
        val base = t(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val wRows = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
        val wRange = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us")).rangeBetween(-300000000L, 0)
        base.select(col("user_id"), col("event_id"), col("ts"),
            sum(money(col("value"))).over(wRows).cast("double").as("moving3"),
            sum(money(col("value"))).over(wRange).cast("double").as("last5min"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        SELECT user_id, event_id, ts,
          CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3,
          CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS last5min
        FROM ev ORDER BY user_id, ts, event_id""")),

    QDef("win_ntile_dense",
      (s, dir) => {
        val wVal = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wYear = Window.partitionBy(col("o_orderpriority"))
          .orderBy(year(col("o_orderdate")))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            ntile(4).over(wVal).cast("long").as("quartile"),
            dense_rank().over(wYear).cast("long").as("year_rank"),
            percent_rank().over(wVal).as("pct_rank"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
          CAST(ntile(4) OVER wv AS BIGINT) AS quartile,
          CAST(dense_rank() OVER wy AS BIGINT) AS year_rank,
          percent_rank() OVER wv AS pct_rank
        FROM orders
        WINDOW wv AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
               wy AS (PARTITION BY o_orderpriority ORDER BY year(o_orderdate))
        ORDER BY o_orderkey""")),

    QDef("win_forward_fill",
      // Gap imputation — forward fill: sensor-style streams carry
      // nulls (here: error events' values masked out) that downstream
      // features replace with the last known-good reading. One running
      // last-non-null window per user over a total (ts, event_id)
      // order; values move through DECIMAL so fill parity is exact,
      // and a user's leading nulls (no prior reading) stay null in
      // both engines.
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("v0",
            when(col("event_type") === "error", lit(null))
              .otherwise(money(col("value"))))
          .withColumn("v_filled", last(col("v0"), ignoreNulls = true).over(w))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("v0").cast("double").as("v_raw"),
            col("v_filled").cast("double").as("v_filled"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
            CASE WHEN event_type = 'error' THEN NULL
                 ELSE CAST(value AS DECIMAL(18,2)) END AS v0
          FROM events)
        SELECT event_id, user_id, ts,
          CAST(v0 AS DOUBLE) AS v_raw,
          CAST(last_value(v0 IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS v_filled
        FROM e ORDER BY event_id""")),

    QDef("win_time_weighted",
      // Time-weighted average (TWAP) — the telemetry/finance mean
      // where each reading counts for how LONG it held, not how often
      // it was sampled: weight = micros until the user's next event
      // (lead over a total (ts, event_id) order; the final open-ended
      // reading drops out). The weighted sum runs in exact arithmetic
      // — DECIMAL(18,2) reading × bigint micros, decimal-summed — and
      // only the final ratio goes through double division (of
      // identical exact inputs, so both engines produce the same
      // bits). One window + one aggregate, linear at any scale.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("dur_us",
            unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
          .filter(col("dur_us").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("dur_us")).as("total_us"),
            sum(money(col("value")) * col("dur_us")).as("wsum"))
          .select(col("user_id"), col("n_intervals"), col("total_us"),
            rx(col("wsum").cast("double") / col("total_us").cast("double"), 6)
              .as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                 CAST(value AS DECIMAL(18,2)) AS v
          FROM events),
        d AS (
          SELECT user_id, v,
            epoch_us(lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) - epoch_us(ts)
              AS dur_us
          FROM e)
        SELECT user_id, count(*) AS n_intervals,
               CAST(sum(dur_us) AS BIGINT) AS total_us,
               floor(CAST(sum(v * dur_us) AS DOUBLE)
                     / CAST(sum(dur_us) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS twap
        FROM d WHERE dur_us IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    QDef("win_ohlc_resample",
      // OHLC bar resampling — the time-series downsample every metrics
      // store ships (candles, telemetry rollups): per (series, hour),
      // the first/last reading by a TOTAL (ts, event_id) order plus
      // min/max/volume. First/last ride two row_number windows over
      // the same (event_type, hour) partition (one shuffle, two
      // in-partition sorts) rather than min(struct(...)) — struct
      // comparison semantics are engine-private, rank-then-filter is
      // portable. Readings aggregate as DECIMAL(18,2) (exact in both
      // engines; cast to double only on output). Scale shape: the
      // partition key space is series × hour — unbounded growth in
      // both dimensions, no global window, one shuffle + one group;
      // at 100 TB the hot key is one series-hour, which is as small
      // as the data allows.
      (s, dir) => {
        val e = t(s, dir, "events").select(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"),
          col("ts"), col("event_id"), money(col("value")).as("v"))
        val w = Window.partitionBy("event_type", "hr")
        e.withColumn("rn_a", row_number().over(
            w.orderBy(col("ts").asc, col("event_id").asc)))
          .withColumn("rn_d", row_number().over(
            w.orderBy(col("ts").desc, col("event_id").desc)))
          .groupBy("event_type", "hr")
          .agg(count(lit(1)).as("n_events"),
            max(when(col("rn_a") === 1, col("v"))).cast("double").as("open"),
            max(col("v")).cast("double").as("high"),
            min(col("v")).cast("double").as("low"),
            max(when(col("rn_d") === 1, col("v"))).cast("double").as("close"),
            sum(col("v")).cast("double").as("vol"))
          .orderBy("event_type", "hr")
      },
      Some("""WITH e AS (
          SELECT event_type,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                 CAST(ts AS TIMESTAMP) AS ts, event_id,
                 CAST(value AS DECIMAL(18,2)) AS v
          FROM events),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY event_type, hr
                               ORDER BY ts, event_id) AS rn_a,
            row_number() OVER (PARTITION BY event_type, hr
                               ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM e)
        SELECT event_type, hr, count(*) AS n_events,
               CAST(max(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE) AS open,
               CAST(max(v) AS DOUBLE) AS high,
               CAST(min(v) AS DOUBLE) AS low,
               CAST(max(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE) AS close,
               CAST(sum(v) AS DOUBLE) AS vol
        FROM r GROUP BY event_type, hr
        ORDER BY event_type, hr""")),

    QDef("win_max_drawdown",
      // Maximum drawdown per user — the running peak-to-trough loss of
      // the cumulative value series (the risk metric for any budget,
      // quota, or revenue stream; flags accounts whose balance swings
      // exceed policy). Two stacked running windows over one total
      // (ts, event_id) per-user order: cumulative sum in exact CENTS
      // (int64 — a raw double cumsum would drift per engine), running
      // max of that, drawdown = peak − cum, then one per-user
      // aggregate. Partitioned by user throughout — no global window,
      // two in-partition sorts collapse into one physical sort, linear
      // at any scale.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            (money(col("value")) * 100).cast("long").as("cents"))
          .withColumn("cum", sum(col("cents")).over(w))
          .withColumn("peak", max(col("cum")).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max(col("peak") - col("cum")).as("dd_cents"),
            max(col("peak")).as("peak_cents"),
            sum(col("cents")).as("final_cents"))
          .select(col("user_id"), col("n_events"),
            (col("dd_cents").cast("double") / 100).as("max_drawdown"),
            (col("peak_cents").cast("double") / 100).as("peak"),
            (col("final_cents").cast("double") / 100).as("final"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM events),
        c AS (
          SELECT user_id, ts, event_id, cents,
                 CAST(sum(cents) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM e),
        p AS (
          SELECT user_id, cents, cum,
                 max(cum) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS peak
          FROM c)
        SELECT user_id, count(*) AS n_events,
               CAST(max(peak - cum) AS DOUBLE) / 100 AS max_drawdown,
               CAST(max(peak) AS DOUBLE) / 100 AS peak,
               CAST(sum(cents) AS DOUBLE) / 100 AS final
        FROM p GROUP BY user_id ORDER BY user_id""")),

    QDef("win_active_streaks",
      // Consecutive-day activity streaks per user — the engagement
      // primitive behind retention dashboards ("longest run of active
      // days"): distinct active days, gaps-and-islands by day-number
      // minus per-user day rank (consecutive days share the island
      // key), then per-user max island length. Day numbers are exact
      // integer micros-div-86400e6 (identical truncation in both
      // engines — nonnegative epochs). Two shuffles (distinct +
      // user-partitioned window), both on user-bounded partitions;
      // linear at any scale.
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(date_trunc('day', ts)) div 86400000000")
              .as("dnum"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("dnum")
        days
          .withColumn("grp", col("dnum") - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(sum(col("len")).as("n_active_days"),
            count(lit(1)).as("n_islands"),
            max(col("len")).as("max_streak"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (
          SELECT DISTINCT user_id,
                 epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
                   // 86400000000 AS dnum
          FROM events),
        isl AS (
          SELECT user_id,
                 dnum - row_number() OVER (PARTITION BY user_id
                                           ORDER BY dnum) AS grp
          FROM days),
        runs AS (
          SELECT user_id, grp, count(*) AS len
          FROM isl GROUP BY 1, 2)
        SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(max(len) AS BIGINT) AS max_streak
        FROM runs GROUP BY user_id ORDER BY user_id""")),

    // ------------------------------------------------------------------
    // Sorts / top-k
    // ------------------------------------------------------------------

    QDef("win_sessionize",
      // Batch sessionization — the gaps-and-islands algebra the
      // streaming session window applies incrementally, as one windowed
      // pass: a session opens where the gap to the previous same-user
      // event is >= 5 minutes, the cumulative open-count is the session
      // id, then one aggregate per (user, session). Two shuffles total
      // (user_id window + group), linear at any scale.
      (s, dir) => {
        val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 300000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_sess")).over(wUser.rowsBetween(Long.MinValue, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            sum(money(col("value"))).cast("double").as("session_value"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        marked AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 300000000 THEN 1
                      ELSE 0 END AS new_sess
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, value,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM marked)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        FROM sess GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    QDef("sort_limit",
      // TakeOrderedAndProject: per-partition top-k then merge, never a
      // full global sort of the table.
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100),
      Some("""SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    QDef("topk_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(s, dir, "part")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("p_brand", "rk", "p_partkey", "p_retailprice")
          .orderBy("p_brand", "rk")
      },
      Some("""SELECT p_brand, rk, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 CAST(row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
          FROM part) WHERE rk <= 3 ORDER BY p_brand, rk""")),

    // ------------------------------------------------------------------
    // Set operations
    // ------------------------------------------------------------------

    QDef("setop_union_entities",
      // O13: union of the entity-name sources (authors ∪ recipients ∪
      // location analog), deduplicated.
      (s, dir) =>
        t(s, dir, "customer").select(col("c_name").as("name"))
          .union(t(s, dir, "supplier").select(col("s_name")))
          .union(t(s, dir, "nation").select(col("n_name")))
          .distinct()
          .orderBy("name"),
      Some("""SELECT c_name AS name FROM customer
        UNION SELECT s_name FROM supplier
        UNION SELECT n_name FROM nation
        ORDER BY name""")),

    QDef("setop_union_byname",
      // Position-independent union: two feeds exposing the same logical
      // record with different column orders and one missing column —
      // unionByName(allowMissingColumns) aligns by NAME and null-fills,
      // where positional union would silently cross-wire columns. The
      // standard shape for merging heterogeneous ingest feeds.
      (s, dir) => {
        val a = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("source"))
        val b = t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
          .select(col("source"), col("doc_id")) // reordered, lang missing
        a.unionByName(b, allowMissingColumns = true)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN lang END AS lang, source
        FROM documents ORDER BY doc_id""")),

    QDef("setop_intersect_except",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_orderstatus").as("v")).distinct()
        val l = t(s, dir, "lineitem").select(col("l_linestatus").as("v")).distinct()
        o.intersect(l).select(lit("intersect").as("op"), col("v"))
          .union(o.except(l).select(lit("except").as("op"), col("v")))
          .orderBy("op", "v")
      },
      Some("""SELECT 'intersect' AS op, v FROM (
          SELECT DISTINCT o_orderstatus AS v FROM orders
          INTERSECT SELECT DISTINCT l_linestatus FROM lineitem)
        UNION ALL
        SELECT 'except' AS op, v FROM (
          SELECT DISTINCT o_orderstatus AS v FROM orders
          EXCEPT SELECT DISTINCT l_linestatus FROM lineitem)
        ORDER BY op, v""")),

    QDef("setop_bag_ops",
      // BAG-semantics set ops (INTERSECT ALL / EXCEPT ALL): duplicate
      // multiplicities carry through — min(m_a, m_b) survives the
      // intersection, max(m_a - m_b, 0) the difference — which is the
      // semantics inventory reconciliation actually needs (three
      // bookings vs two shipments leaves ONE open booking; the
      // distinct forms above would say zero). Catalyst plans both as
      // one aggregate-style shuffle on the value, no join explosion.
      (s, dir) => {
        val a = t(s, dir, "lineitem").filter(col("l_returnflag") === "A")
          .select(col("l_partkey").as("k"))
        val b = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_partkey").as("k"))
        a.intersectAll(b).select(lit("intersect_all").as("op"), col("k"))
          .union(a.exceptAll(b).select(lit("except_all").as("op"), col("k")))
          .orderBy("op", "k")
      },
      Some("""SELECT 'intersect_all' AS op, k FROM (
          SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        UNION ALL
        SELECT 'except_all' AS op, k FROM (
          SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
          EXCEPT ALL
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
        ORDER BY op, k"""))
  )
}
