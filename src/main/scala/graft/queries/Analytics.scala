package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.DistributedRank

/** Warehouse-analytics operators over the relational tables: funnel
  * (staged-conversion) analysis, dataset profiling, SCD2 dimension
  * history, Z-order layout keys, MERGE-shaped CDC upsert, cohort
  * retention, feature bucketization, decimal-exact correlation, and
  * integer-arithmetic iterative PageRank.
  * Each is one shuffle (or none) per logical step: funnel, SCD2 and
  * retention partition once per entity key and reuse that partitioning
  * across their window passes; profiling, bucketization and
  * correlation are single map-side-combined aggregates; the merge is
  * one co-partitioned full-outer join on its key; the Z-value is pure
  * row arithmetic feeding a range partitioner; PageRank shuffles once
  * per round on the edge key.
  */
/** Shared CDC feed for `pipeline_merge_upsert` (one-shot) and
  * `stream_foreach_batch_upsert` (incremental): base snapshot excludes
  * keys ≡ 2 (mod 4) while the change feed covers ALL even keys, so the
  * key classes exercise every merge arm — evens ≡ 2 (mod 4) INSERT,
  * evens ≡ 0 (mod 10) DELETE (including deletes of absent rows, e.g.
  * key 10), remaining evens UPDATE, and odd keys in base KEEP. The
  * first version of this feed had every change key present in base,
  * which left the insert arm dead — and therefore untestable — in both
  * engines.
  */
private[queries] object CdcFeed {
  import org.apache.spark.sql.functions._
  import QDef._

  def base(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 4 =!= 2)
      .select(col("o_orderkey"), col("o_orderstatus").as("b_status"),
        money(col("o_totalprice")).as("b_price"))

  def changes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
        col("o_orderstatus").as("c_status"),
        (money(col("o_totalprice")) + lit(100)).as("c_price"))

  /** One full-outer join on the merge key with delete rows dropped —
    * survivors carry both sides' columns for the caller's projection.
    */
  def applied(base: DataFrame, chg: DataFrame): DataFrame =
    base.join(chg, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") === "U")

  /** The merged snapshot (key, status, price as exact decimal). */
  def merged(base: DataFrame, chg: DataFrame): DataFrame =
    applied(base, chg).select(col("o_orderkey"),
      coalesce(col("c_status"), col("b_status")).as("status"),
      when(col("op") === "U", col("c_price")).otherwise(col("b_price"))
        .as("price"))

  /** Oracle CTEs mirroring [[base]]/[[changes]]. */
  val ctesSql: String = """base AS (
          SELECT o_orderkey, o_orderstatus AS b_status,
            CAST(o_totalprice AS DECIMAL(18,2)) AS b_price
          FROM orders WHERE o_orderkey % 4 <> 2),
        chg AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
            o_orderstatus AS c_status,
            CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS c_price
          FROM orders WHERE o_orderkey % 2 = 0)"""
}

object Analytics {
  import QDef._

  /** SQL text of the `bits`-bit two-dimensional Morton (Z-order)
    * interleave of nonnegative integer expressions `x` and `y` — x on
    * even bit positions, y on odd. `intDiv` is the engine's integer
    * division operator: "div" in Spark SQL, "//" in DuckDB.
    */
  def zOrderSql(x: String, y: String, bits: Int, intDiv: String): String =
    (0 until bits).map { i =>
      s"((($x) $intDiv ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((($y) $intDiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Distinct supplier—part bipartite edge set, memoized (persist):
    * graph_bipartite_cf and graph_resource_allocation each read it
    * three to four times (degree tables + both wedge sides), and
    * column pruning differentiates the subtrees enough that exchange
    * reuse re-ran the corpus distinct per reference.
    */
  private def bipEdges(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "bip_sp_edges") {
      t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct()
    }

  /** Grid width (bits per dimension) of the layout keys — ONE constant
    * drives the Spark side (HilbertIndexExpr's `bits`, the `% side`
    * coordinate fold, zOrderSql's bit count) AND every derived oracle
    * constant (`side`, `side-1`, the recursive walk's initial
    * half-side), so changing the key width can never desynchronize the
    * two engines.
    */
  private val HilBits = 8
  private val HilSide = 1L << HilBits // modulus of the coordinate fold
  private val HilMax = HilSide - 1 // the walk's reflection constant
  private val HilHalf = 1L << (HilBits - 1) // the walk's initial s

  /** Final labels of 3 synchronous LPA rounds over the part<->supplier
    * graph — the community assignment shared by
    * `graph_label_propagation` (which reports it) and
    * `graph_modularity` (which scores it). Disk-staged on the build
    * plan's own hash (the 3-round unrolled plan is fully declarative,
    * so any logic edit auto-invalidates); the parquet read-back is a
    * leaf, which also replaces the old per-query localCheckpoint for
    * multi-reference use. See graph_label_propagation's Scaladoc for
    * the fixed-sync-rounds rationale.
    */
  /** The symmetric part<->supplier edge set with out-degrees — the
    * substrate the whole graph family (pagerank, BFS, LPA, modularity,
    * walks) shares. Part ids < 1e6 and supplier ids ≥ 1e6 are
    * disjoint, so the reversed edge set is disjoint from the forward
    * one and the union needs no second distinct. DISK-staged: the
    * build (distinct over the fact table + a degree join) was rebuilt
    * per JVM as an in-memory stage, taxing whichever graph query ran
    * first in every fresh Verify/Bench process; the parquet read-back
    * makes it a one-time cost per (sf, generation).
    */
  private def pagerankEdges(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "pagerank_edges") {
      val po = t(s, dir, "lineitem")
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      val sym = po.union(po.select(col("dst").as("src"), col("src").as("dst")))
      val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
      sym.join(deg, "src")
    }

  /** Node list of the staged pagerank graph, memoized: the PageRank
    * variants re-reference it once per round (4-5 times per query) and
    * each reference otherwise re-ran the distinct over the edge table.
    */
  private def pagerankNodes(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "pagerank_nodes") {
      pagerankEdges(s, dir).select(col("src").as("node_id")).distinct()
    }

  /** The pagerank edges clustered by dst, persisted in session: every
    * label-propagation round joins labels to it on dst.
    */
  private def lpaEdgesByDst(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged(s, dir, "lpa_edges_bydst") {
      pagerankEdges(s, dir).select(col("src"), col("dst"))
        .repartition(col("dst")).sortWithinPartitions("dst")
    }

  private def lpaLabels3(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staged.disk(s, dir, "lpa_labels3") {
      val ew = pagerankEdges(s, dir)
      val ewd = lpaEdgesByDst(s, dir)
      var labels = ew.select(col("src").as("node_id")).distinct()
        .withColumn("lbl", col("node_id"))
      for (_ <- 1 to 3) {
        labels = ewd.join(labels.withColumnRenamed("node_id", "dst"), "dst")
          .groupBy(col("src").as("node_id"), col("lbl"))
          .agg(count(lit(1)).as("n"))
          .groupBy("node_id")
          .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("m"))
          .select(col("node_id"), (-col("m.neg")).as("lbl"))
      }
      labels
    }

  /** Oracle-side CTE chain ≙ [[lpaLabels3]]: `e` (directed double
    * cover) and `l3` (final labels); prefix for the LPA/modularity
    * oracles.
    */
  private val lpaSqlCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (
          SELECT e.src AS node_id, l${i - 1}.lbl, count(*) AS n
          FROM e JOIN l${i - 1} ON l${i - 1}.node_id = e.dst
          GROUP BY e.src, l${i - 1}.lbl),
        l$i AS (
          SELECT node_id, lbl FROM (
            SELECT node_id, lbl,
                   row_number() OVER (PARTITION BY node_id
                     ORDER BY n DESC, lbl) AS r
            FROM c$i)
          WHERE r = 1)"""
    }.mkString(",\n")
    s"""e0 AS (
        SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
        FROM lineitem),
      e AS (SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0),
      l0 AS (SELECT DISTINCT src AS node_id, src AS lbl FROM e),
      $rounds"""
  }

  val all: Seq[QDef] = Seq(

    QDef("win_funnel",
      // Per-user conversion funnel view -> click -> purchase: first
      // view, first click AFTER that view, first purchase after that
      // click — three chained conditional window minima over ONE
      // hash partitioning on user_id (no orderBy in the frame, so no
      // per-pass sort is required), then the reached stage. Null
      // comparisons propagate to false identically in both engines.
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t_click",
            min(when(col("event_type") === "click" && col("ts") > col("t_view"),
              col("ts"))).over(w))
          .withColumn("t_purchase",
            min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
              col("ts"))).over(w))
          .select(col("user_id"), col("t_view"), col("t_click"),
            col("t_purchase"),
            when(col("t_purchase").isNotNull, 3L)
              .when(col("t_click").isNotNull, 2L)
              .when(col("t_view").isNotNull, 1L)
              .otherwise(0L).as("stage"))
          .distinct()
          .orderBy("user_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        w1 AS (
          SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t_view FROM e),
        w2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                      OVER (PARTITION BY user_id) AS t_click FROM w1),
        w3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                      OVER (PARTITION BY user_id) AS t_purchase FROM w2)
        SELECT DISTINCT user_id, t_view, t_click, t_purchase,
          CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
               WHEN t_click IS NOT NULL THEN 2
               WHEN t_view IS NOT NULL THEN 1
               ELSE 0 END AS BIGINT) AS stage
        FROM w3 ORDER BY user_id""")),

    QDef("profile_column_stats",
      // Dataset profiling in ONE scan + ONE global aggregate: per
      // column null count, distinct count, and numeric min/max
      // (strings profile nulls/cardinality only), unpivoted to a row
      // per column with stack. The profile a pipeline runs before
      // committing a 100 TB ingest — cost is one pass regardless of
      // column count.
      (s, dir) => {
        val numeric =
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        val strings = Seq("l_returnflag", "l_linestatus")
        val aggs =
          (numeric ++ strings).flatMap { c =>
            Seq(count(col(c)).as(s"cnt_$c"),
              count_distinct(col(c)).as(s"nd_$c")) ++
              (if (numeric.contains(c))
                Seq(min(col(c)).cast("double").as(s"min_$c"),
                  max(col(c)).cast("double").as(s"max_$c"))
              else Nil)
          }
        val stackArgs = (numeric ++ strings).map { c =>
          val mm = if (numeric.contains(c)) s"min_$c, max_$c"
            else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
          s"'$c', n_rows - cnt_$c, nd_$c, $mm"
        }.mkString(", ")
        t(s, dir, "lineitem")
          .agg(count(lit(1)).as("n_rows"), aggs: _*)
          .selectExpr(s"stack(${numeric.size + strings.size}, $stackArgs)" +
            " AS (col_name, n_nulls, n_distinct, min_v, max_v)")
          .orderBy("col_name")
      }, {
        val numeric =
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        val strings = Seq("l_returnflag", "l_linestatus")
        val selects = (numeric ++ strings).map { c =>
          val mm = if (numeric.contains(c))
            s"CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v"
          else "CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v"
          s"""SELECT '$c' AS col_name, count(*) - count($c) AS n_nulls,
              count(DISTINCT $c) AS n_distinct, $mm FROM lineitem"""
        }
        Some(selects.mkString("", " UNION ALL ", " ORDER BY col_name"))
      }),

    QDef("profile_join_health",
      // Referential-integrity profiling of the star schema's three
      // FK edges in ONE pass per edge: child rows, orphan rows (FK
      // with no parent — LEFT ANTI semantics via left join + null
      // test folded into a conditional aggregate), and the match rate
      // in exact basis points. This is the pre-commit gate a 100 TB
      // ingest runs before publishing a snapshot — broadcast the
      // parent key sets (dimension-sized), one conditional aggregate
      // per fact, no shuffle of the fact side beyond the scan.
      (s, dir) => {
        def edge(rel: String, child: org.apache.spark.sql.DataFrame,
            fk: String, parent: org.apache.spark.sql.DataFrame, pk: String) =
          child.select(col(fk))
            .join(broadcast(parent.select(col(pk).as("__pk")).distinct()),
              col(fk) === col("__pk"), "left")
            .agg(count(lit(1)).as("n_child"),
              sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"),
              expr("((n_child - n_orphans) * 10000) div n_child")
                .as("match_bp"))
        edge("lineitem_part", t(s, dir, "lineitem"), "l_partkey",
            t(s, dir, "part"), "p_partkey")
          .union(edge("lineitem_supplier", t(s, dir, "lineitem"), "l_suppkey",
            t(s, dir, "supplier"), "s_suppkey"))
          .union(edge("orders_customer", t(s, dir, "orders"), "o_custkey",
            t(s, dir, "customer"), "c_custkey"))
          .orderBy("relation")
      },
      Some("""SELECT * FROM (
          SELECT 'lineitem_part' AS relation, count(*) AS n_child,
                 CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
                 CAST(((count(*) - sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)) * 10000) // count(*) AS BIGINT) AS match_bp
          FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
            ON l.l_partkey = p.p_partkey
          UNION ALL
          SELECT 'lineitem_supplier', count(*),
                 CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(((count(*) - sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)) * 10000) // count(*) AS BIGINT)
          FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
            ON l.l_suppkey = s.s_suppkey
          UNION ALL
          SELECT 'orders_customer', count(*),
                 CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(((count(*) - sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)) * 10000) // count(*) AS BIGINT)
          FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
            ON o.o_custkey = c.c_custkey)
        ORDER BY relation""")),

    QDef("agg_benford_first_digit",
      // Benford's-law first-digit screen over order totals — the
      // classic forged-data / broken-generator detector a DQ suite
      // runs on money columns: observed first-digit shares vs the
      // Benford expectation log10(1+1/d), with the expectation baked
      // in as nine DRIVER-SIDE double literals (shortest-repr, so
      // both engines compare against bit-identical constants — no
      // cross-engine log10 at query time). Shares and deviations are
      // exact integer basis points; one scan, a 9-row aggregate, and
      // the total |obs−exp| L1 deviation attached to every row. The
      // uniform synthetic prices do NOT follow Benford — the screen
      // fires, which is the point: the gate proves the detector
      // detects.
      (s, dir) => {
        val exp = (1 to 9).map(d =>
          d -> math.round(math.log10(1.0 + 1.0 / d) * 10000))
        val expCol = exp.tail.foldLeft(
          when(col("d") === exp.head._1, lit(exp.head._2))) {
          case (acc, (d, bp)) => acc.when(col("d") === d, lit(bp))
        }
        // NOTE (r18): pinning digits/scored with eager checkpoints was
        // tried and REVERTED — exchange reuse already dedups the
        // orders aggregate below the shuffle, so the checkpoints were
        // pure overhead (interleaved A/B: +0.19 s warm median).
        val digits = t(s, dir, "orders")
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("long").as("d"))
          .groupBy("d").agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum("n").as("nt"))
        val scored = digits.crossJoin(broadcast(tot))
          .withColumn("obs_bp", expr("(n * 10000) div nt"))
          .withColumn("exp_bp", expCol)
          .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
        val l1 = scored.agg(sum("dev_bp").as("l1_dev_bp"))
        scored.crossJoin(broadcast(l1))
          .select(col("d"), col("n"), col("obs_bp"), col("exp_bp"),
            col("dev_bp"), col("l1_dev_bp"))
          .orderBy("d")
      }, {
        val expSql = (1 to 9).map(d =>
          s"WHEN $d THEN ${math.round(math.log10(1.0 + 1.0 / d) * 10000)}")
          .mkString("CASE d ", " ", " END")
        Some(s"""WITH digits AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d,
                   count(*) AS n
            FROM orders GROUP BY 1),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM digits),
          scored AS (
            SELECT d, n, CAST((n * 10000) // nt AS BIGINT) AS obs_bp,
                   CAST($expSql AS BIGINT) AS exp_bp
            FROM digits CROSS JOIN tot),
          dev AS (SELECT *, abs(obs_bp - exp_bp) AS dev_bp FROM scored),
          l1 AS (SELECT CAST(sum(dev_bp) AS BIGINT) AS l1_dev_bp FROM dev)
          SELECT d, n, obs_bp, exp_bp, dev_bp, l1_dev_bp
          FROM dev CROSS JOIN l1 ORDER BY d""")
      }),

    QDef("pipeline_scd2_history",
      // Slowly-changing-dimension (type 2) history: each customer's
      // order states become versioned rows with half-open validity
      // [valid_from, valid_to) — valid_to = next version's start,
      // NULL on the current row. One window partitioning on the
      // entity key; version and validity derive from the same sort,
      // totalized by o_orderkey against duplicate order dates.
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("valid_from"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate").as("valid_from"))
          .withColumn("version", row_number().over(w).cast("long"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy("o_custkey", "version")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
          o_orderdate AS valid_from,
          row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS version,
          lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to,
          (lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) IS NULL)
            AS is_current
        FROM orders ORDER BY o_custkey, version""")),

    QDef("pipeline_merge_upsert",
      // MERGE-shaped CDC upsert: a change feed (updates, inserts and
      // deletes keyed on o_orderkey) merged into a base snapshot in ONE
      // full-outer equi-join on the key — the lakehouse MERGE INTO
      // plan. Unmatched base rows are kept, 'U' changes update-or-
      // insert, 'D' changes delete. Both inputs derive from the orders
      // table by key arithmetic so the oracle reproduces the exact
      // feed; prices move through DECIMAL(18,2) so the +100 restatement
      // is exact in both engines. At scale the join co-partitions both
      // sides on the merge key — the one unavoidable shuffle.
      (s, dir) =>
        CdcFeed.applied(CdcFeed.base(s, dir), CdcFeed.changes(s, dir))
          .select(col("o_orderkey"),
            when(col("op").isNull, "kept")
              .when(col("b_price").isNotNull, "updated")
              .otherwise("inserted").as("action"),
            coalesce(col("c_status"), col("b_status")).as("status"),
            when(col("op") === "U", col("c_price")).otherwise(col("b_price"))
              .cast("double").as("price"))
          .orderBy("o_orderkey"),
      Some(s"""WITH ${CdcFeed.ctesSql}
        SELECT o_orderkey,
          CASE WHEN op IS NULL THEN 'kept'
               WHEN b_price IS NOT NULL THEN 'updated'
               ELSE 'inserted' END AS action,
          COALESCE(c_status, b_status) AS status,
          CAST(CASE WHEN op = 'U' THEN c_price ELSE b_price END AS DOUBLE)
            AS price
        FROM base FULL OUTER JOIN chg USING (o_orderkey)
        WHERE op IS NULL OR op = 'U'
        ORDER BY o_orderkey""")),

    QDef("win_retention",
      // Cohort retention: users grouped by first-activity day, distinct
      // active users counted per (cohort, day offset) — the engagement
      // curve every product warehouse computes. One window partitioning
      // on user_id derives the cohort, the distinct collapses repeat
      // events, one aggregate counts; both shuffles key on columns a
      // 100 TB events table is naturally distributed by.
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        t(s, dir, "events")
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .withColumn("cohort", min(col("day")).over(w))
          .select(col("user_id"), col("cohort"),
            datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
          .distinct()
          .groupBy("cohort", "day_offset")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort", "day_offset")
      },
      Some("""WITH e AS (
          SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
          FROM events),
        c AS (
          SELECT user_id, day,
            min(day) OVER (PARTITION BY user_id) AS cohort FROM e),
        d AS (
          SELECT DISTINCT user_id, cohort,
            date_diff('day', cohort, day) AS day_offset FROM c)
        SELECT cohort, day_offset, count(*) AS n_users
        FROM d GROUP BY cohort, day_offset
        ORDER BY cohort, day_offset""")),

    QDef("agg_bucketize",
      // Feature bucketization: fixed-width histogram buckets over a
      // continuous feature (order price, width 50k, top bucket
      // clamped), count + exact decimal sum per bucket. The bucket id
      // is floor of one double division — identical IEEE arithmetic in
      // both engines — and bounds the aggregate key space regardless of
      // data volume, so the shuffle moves at most n_buckets rows per
      // map task.
      (s, dir) => t(s, dir, "orders")
        .withColumn("bucket",
          least(lit(9L), floor(col("o_totalprice") / lit(50000.0)).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast("double").as("sum_price"))
        .withColumn("lo", (col("bucket") * 50000L).cast("double"))
        .select("bucket", "lo", "n", "sum_price")
        .orderBy("bucket"),
      Some("""WITH b AS (
          SELECT least(9, CAST(floor(o_totalprice / 50000.0) AS BIGINT)) AS bucket,
            CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders)
        SELECT bucket, CAST(bucket * 50000 AS DOUBLE) AS lo,
          count(*) AS n, CAST(sum(p) AS DOUBLE) AS sum_price
        FROM b GROUP BY bucket ORDER BY bucket""")),

    QDef("agg_corr_decimal",
      // Decimal-exact Pearson correlation (quantity vs extended price
      // per return flag): the five sufficient statistics are summed as
      // DECIMAL — exact, order-independent, mergeable (the map-side
      // combine property a 100 TB aggregate needs) — and only the final
      // closed-form combination runs in doubles, where +,-,*,/ and sqrt
      // on identical inputs are IEEE-exact in both engines. Never
      // corr() over raw doubles: its running sums are fold-order-
      // dependent under shuffle.
      (s, dir) => {
        val wide = DecimalType(38, 4)
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            money(col("l_quantity")).as("x"),
            money(col("l_extendedprice")).as("y"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum((col("x") * col("x")).cast(wide)).cast("double").as("sxx"),
            sum((col("y") * col("y")).cast(wide)).cast("double").as("syy"),
            sum((col("x") * col("y")).cast(wide)).cast("double").as("sxy"))
          .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
            rx((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH st AS (
          SELECT l_returnflag,
            CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
            CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
          ${rxSql("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))", 6)} AS corr_qty_price
        FROM st ORDER BY l_returnflag""")),

    QDef("agg_ols_trend",
      // Exact-sufficient-statistics least squares — the trend
      // estimation a metrics pipeline runs per segment (is error value
      // drifting day over day?), built on agg_corr_decimal's
      // discipline: x = integer day offset, y = exact DECIMAL, the
      // five sums are order-independent and mergeable (map-side
      // combine), and only the closed-form slope/intercept combination
      // runs in doubles (+,-,*,/ on identical inputs — IEEE-exact in
      // both engines, rx(6) before compare). Never regr_slope() over
      // raw doubles: its running sums are fold-order-dependent under
      // shuffle. One aggregate on the 5-value type key.
      (s, dir) => {
        val wide = DecimalType(38, 4)
        t(s, dir, "events")
          .select(col("event_type"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .cast("long").as("x"),
            money(col("value")).as("y"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum(col("x") * col("x")).cast("double").as("sxx"),
            sum((col("y") * col("x")).cast(wide)).cast("double").as("sxy"))
          .select(col("event_type"), col("n").cast("long").as("n_rows"),
            rx((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6)
              .as("slope_per_day"),
            rx((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
              col("n"), 6).as("intercept"))
          .orderBy("event_type")
      },
      Some(s"""WITH st AS (
          SELECT event_type,
            CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(date_diff('day', DATE '2024-01-01',
              CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS DOUBLE) AS sx,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
            CAST(sum(date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) *
                     date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS DOUBLE) AS sxx,
            CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) *
              date_diff('day', DATE '2024-01-01', CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
          FROM events GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_rows,
          ${rxSql("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope_per_day,
          ${rxSql("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 6)} AS intercept
        FROM st ORDER BY event_type""")),

    QDef("win_match_pattern",
      // Row-pattern matching (the MATCH_RECOGNIZE surface Spark lacks,
      // composed Spark-first from lag windows): detect V-shapes —
      // two consecutive strict drops then a strict rise — in each
      // user's cent-exact value sequence under the (ts, event_id)
      // total order; per user, the occurrence count and the sequence
      // position + event id of the FIRST match (min-by-position struct
      // aggregate, no second window). Diffs/signs are exact integers;
      // zero diffs break the pattern deterministically. One window
      // pass partitioned by user + one aggregate — the standard
      // funnel/pattern shape at any scale.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val seq0 = t(s, dir, "events")
          .withColumn("xc", floor(col("value") * 100 + 0.5).cast("long"))
          .withColumn("n", row_number().over(w).cast("long"))
          .withColumn("d", col("xc") - lag("xc", 1).over(w))
          .withColumn("matched",
            lag("d", 2).over(w) < 0 && lag("d", 1).over(w) < 0 && col("d") > 0)
        seq0.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("matched"), 1L).otherwise(0L)).as("n_vshapes"),
            min(when(col("matched"), struct(col("n"), col("event_id"))))
              .as("first"))
          .select(col("user_id"), col("n_events"), col("n_vshapes"),
            coalesce(col("first").getField("n"), lit(-1L)).as("first_pos"),
            coalesce(col("first").getField("event_id"), lit(-1L))
              .as("first_event"))
          .orderBy("user_id")
      },
      Some("""WITH seq0 AS (
          SELECT user_id, event_id,
                 CAST(row_number() OVER w AS BIGINT) AS n,
                 CAST(floor(value * 100 + 0.5) AS BIGINT)
                   - lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w AS d
          FROM events
          WINDOW w AS (PARTITION BY user_id
            ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        m AS (
          SELECT user_id, event_id, n,
                 (lag(d, 2) OVER w2 < 0 AND lag(d, 1) OVER w2 < 0 AND d > 0)
                   AS matched
          FROM seq0
          WINDOW w2 AS (PARTITION BY user_id ORDER BY n))
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_vshapes,
               CAST(coalesce(min(CASE WHEN matched THEN n END), -1) AS BIGINT)
                 AS first_pos,
               CAST(coalesce(min_by(event_id, CASE WHEN matched THEN n END), -1)
                 AS BIGINT) AS first_event
        FROM m GROUP BY user_id ORDER BY user_id""")),

    QDef("agg_assoc_rules",
      // Market-basket association rules (Agrawal's A-Priori, the
      // 2-itemset level) over order→brand baskets: per directed rule
      // x→y, exact integer support / confidence / lift in ppm — the
      // co-purchase table behind recommendations and assortment
      // planning. A-priori pruning is the 100 TB move: only items
      // whose basket support clears the PEER-RELATIVE mean cut
      // (ni·k > Σni — live by construction at every SF where an
      // absolute threshold goes one-sided on this near-uniform
      // catalog; 13/25 and 12/25 brands pass at the probe SFs) enter
      // the pair join, so the per-basket explode is bounded by the
      // pruned catalog, never the raw one. Shape: one distinct
      // (shuffle on basket key), item counts map-side, the pair join
      // shuffles on basket id with the frequent-item filter BROADCAST
      // into the scan, pair counts shuffle on (x,y). Lift's numerator
      // rides DECIMAL(38,0) ≙ HUGEINT (n_pair·n_baskets·10⁶ cubes past
      // 2⁶³ at ~10⁹ baskets — the mann_whitney overflow discipline);
      // all numerators nonnegative so floor-div is truncate-safe.
      (s, dir) => {
        // Staged (memoized persist): the basket table feeds the basket
        // count, the item counts, and BOTH sides of the pair self-join
        // — column pruning differentiates those subtrees, so exchange
        // reuse alone re-ran the corpus distinct per reference (the
        // wmedian_perv lesson; 34 scan nodes in the round-11 plan).
        // The item column KEEPS its domain-carrying source name
        // (p_brand, not an `it` alias) through the staged artifact and
        // the freq aggregate: BroadcastHintGuardSpec certifies the
        // ≤|brands| hinted sides by the fixed-enum group key, and an
        // alias severs the name-based recognition at the parquet
        // read-back (the agg_weighted_median lesson).
        val baskets = graft.pipeline.Staged.disk(s, dir, "assoc_baskets") {
          t(s, dir, "lineitem")
            .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
            .select(col("l_orderkey").as("o"), col("p_brand"))
            .distinct()
        }
        val nB = baskets.agg(countDistinct("o").as("n_baskets"))
        // freq is ≤ |brands| rows but feeds three consumers (the basket
        // filter and both rule-side attaches) — memoized so its item
        // aggregate + mean-cut chain runs once, not three times.
        val freq = graft.pipeline.Staged(s, dir, "assoc_freq") {
          val items = baskets.groupBy("p_brand").agg(count(lit(1)).as("ni"))
          val tot = items.agg(sum("ni").as("s"), count(lit(1)).as("k"))
          items.crossJoin(broadcast(tot))
            .filter(col("ni") * col("k") > col("s")).select("p_brand", "ni")
        }
        val fb = baskets.join(broadcast(freq.select("p_brand")), "p_brand")
        // Pair generation per BASKET, not a self-join: collect each
        // basket's (distinct, sorted) frequent items — catalog-bounded,
        // ≤ |brands| per basket at any corpus size — and expand the
        // ordered pairs in-row. One shuffle on the basket key replaces
        // the round-11 fb⋈fb sort-merge join (two sorts + a recompute
        // of the freq chain per side).
        // Disk-staged: the undirected pair counts are referenced TWICE
        // (both arms of the directed-rule mirror below), and the
        // per-basket explode + pair aggregate is the query's dominant
        // corpus pass — the staged parquet guarantees one computation
        // (exchange reuse across the two differently-projected union
        // arms is planner-dependent) and a fresh JVM reads it back.
        val pairs = graft.pipeline.Staged.disk(s, dir, "assoc_pairs") {
          fb.groupBy("o")
            .agg(sort_array(collect_list(col("p_brand"))).as("its"))
            .select(explode(expr(
              """flatten(transform(its, (x, i) ->
                 transform(slice(its, i + 2, size(its) - i - 1),
                   y -> named_struct('x', x, 'y', y))))""")).as("p"))
            .groupBy(col("p.x").as("x"), col("p.y").as("y"))
            .agg(count(lit(1)).as("n_pair"))
        }
        val rules = pairs
          .select(col("x").as("antecedent"), col("y").as("consequent"),
            col("n_pair"))
          .unionByName(pairs.select(col("y").as("antecedent"),
            col("x").as("consequent"), col("n_pair")))
        rules
          .join(broadcast(freq.select(col("p_brand").as("antecedent"),
            col("ni").as("n_ante"))), "antecedent")
          .join(broadcast(freq.select(col("p_brand").as("consequent"),
            col("ni").as("n_cons"))), "consequent")
          .crossJoin(broadcast(nB))
          .select(col("antecedent"), col("consequent"), col("n_ante"),
            col("n_cons"), col("n_pair"),
            expr("(n_pair * 1000000) div n_baskets").as("support_ppm"),
            expr("(n_pair * 1000000) div n_ante").as("confidence_ppm"),
            expr("""CAST((CAST(n_pair AS DECIMAL(38,0)) * n_baskets * 1000000)
              div (n_ante * n_cons) AS BIGINT)""").as("lift_ppm"))
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH b AS (
          SELECT DISTINCT l_orderkey AS o, p_brand AS it
          FROM lineitem JOIN part ON p_partkey = l_partkey),
        nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets FROM b),
        i AS (SELECT it, CAST(count(*) AS BIGINT) AS ni FROM b GROUP BY 1),
        tot AS (SELECT sum(ni) AS s, count(*) AS k FROM i),
        f AS (SELECT it, ni FROM i, tot WHERE ni * k > s),
        fb AS (SELECT b.o, b.it FROM b JOIN f USING (it)),
        p AS (
          SELECT a.it AS x, c.it AS y, CAST(count(*) AS BIGINT) AS n_pair
          FROM fb a JOIN fb c ON a.o = c.o AND a.it < c.it
          GROUP BY 1, 2),
        r AS (
          SELECT x AS antecedent, y AS consequent, n_pair FROM p
          UNION ALL SELECT y, x, n_pair FROM p)
        SELECT r.antecedent, r.consequent,
               fa.ni AS n_ante, fc.ni AS n_cons, r.n_pair,
               CAST((r.n_pair * 1000000) // nb.n_baskets AS BIGINT) AS support_ppm,
               CAST((r.n_pair * 1000000) // fa.ni AS BIGINT) AS confidence_ppm,
               CAST((CAST(r.n_pair AS HUGEINT) * nb.n_baskets * 1000000)
                 // (fa.ni * fc.ni) AS BIGINT) AS lift_ppm
        FROM r JOIN f fa ON fa.it = r.antecedent
        JOIN f fc ON fc.it = r.consequent
        CROSS JOIN nb
        ORDER BY antecedent, consequent""")),

    QDef("graph_hits",
      // HITS hubs & authorities (Kleinberg) on the DIRECTED
      // part->supplier graph — PageRank's bipartite sibling: a good
      // hub (part) points at many good authorities (suppliers), a good
      // authority is pointed at by many good hubs. Two unnormalized
      // update rounds in EXACT int64 (auth₁ = indegree; hub₁ = Σ auth₁
      // over out-neighbors; auth₂ = Σ hub₁ over in-neighbors) — per-
      // round normalization is a positive scalar that never changes
      // rank order, so dropping it keeps the ranking semantics while
      // making every score fold-order-free and bit-reproducible in any
      // engine (float HITS is not); scores are reported raw plus as
      // ppm-of-max (nonnegative numerators, floor-div-safe). Growth
      // bound: after 2 rounds scores ≤ maxdeg³ — at 10⁶-degree 100 TB
      // scale still < 2⁶³. Shape: each round is one equi join + one
      // aggregate on the staged edge set; top-20 per role is
      // orderBy+limit (TakeOrdered: per-partition top-K, driver merge
      // of K·parts rows), NEVER a dimension-global rank window; the
      // rank attaches after the limit on the ≤40-row union (bounded).
      (s, dir) => {
        val pe = pagerankEdges(s, dir).filter(col("src") < 1000000L)
          .select("src", "dst")
        val auth1 = pe.groupBy("dst").agg(count(lit(1)).as("a1"))
        // Each round's score table is referenced more than once (hub1 by
        // auth2 + topH + topH's max; auth2 by topA + its max) and Spark
        // shares no common subtrees, so unpinned the edge-join+aggregate
        // chain re-ran 3x/2x per execution (r18: 20 -> 8 static
        // exchanges). Node-count-sized tables — the bfs/hashed-walks
        // eager-checkpoint rule, not a corpus-sized cache.
        val hub1 = pe.join(auth1, "dst").groupBy("src").agg(sum("a1").as("h1"))
          .transform(d => graft.pipeline.Lineage.checkpoint(d))
        val auth2 = pe.join(hub1, "src").groupBy("dst").agg(sum("h1").as("a2"))
          .transform(d => graft.pipeline.Lineage.checkpoint(d))
        val topH = hub1
          .crossJoin(broadcast(hub1.agg(max("h1").as("mx"))))
          .select(lit("hub").as("role"), col("src").as("node"),
            col("h1").as("score"), expr("(h1 * 1000000) div mx").as("score_ppm"))
          .orderBy(col("score").desc, col("node")).limit(20)
        val topA = auth2
          .crossJoin(broadcast(auth2.agg(max("a2").as("mx"))))
          .select(lit("authority").as("role"), col("dst").as("node"),
            col("a2").as("score"), expr("(a2 * 1000000) div mx").as("score_ppm"))
          .orderBy(col("score").desc, col("node")).limit(20)
        // 40-row bounded window (2 roles × top-20) — rank only labels
        // the already-limited rows.
        topH.unionByName(topA)
          .withColumn("rank", row_number().over(Window.partitionBy("role")
            .orderBy(col("score").desc, col("node"))).cast("long"))
          .select(col("role"), col("rank"), col("node"), col("score"),
            col("score_ppm"))
          .orderBy("role", "rank")
      },
      Some("""WITH e0 AS (
          SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
          FROM lineitem),
        auth1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a1 FROM e0 GROUP BY 1),
        hub1 AS (
          SELECT e0.src, CAST(sum(a1) AS BIGINT) AS h1
          FROM e0 JOIN auth1 USING (dst) GROUP BY 1),
        auth2 AS (
          SELECT e0.dst, CAST(sum(h1) AS BIGINT) AS a2
          FROM e0 JOIN hub1 USING (src) GROUP BY 1),
        toph AS (
          SELECT 'hub' AS role, src AS node, h1 AS score,
                 CAST((h1 * 1000000) // (SELECT max(h1) FROM hub1) AS BIGINT) AS score_ppm
          FROM hub1 ORDER BY score DESC, node LIMIT 20),
        topa AS (
          SELECT 'authority' AS role, dst AS node, a2 AS score,
                 CAST((a2 * 1000000) // (SELECT max(a2) FROM auth2) AS BIGINT) AS score_ppm
          FROM auth2 ORDER BY score DESC, node LIMIT 20),
        u AS (SELECT * FROM toph UNION ALL SELECT * FROM topa)
        SELECT role,
               CAST(row_number() OVER (PARTITION BY role
                 ORDER BY score DESC, node) AS BIGINT) AS rank,
               node, score, score_ppm
        FROM u ORDER BY role, rank""")),

    QDef("graph_pagerank",
      // Iterative PageRank over the symmetric part<->supplier
      // co-occurrence graph, in INTEGER arithmetic: ranks are scaled
      // to 1e6 and every step is bigint floor-division and summation —
      // exact and fold-order-free, so a fixed iteration count is
      // bit-reproducible in any engine (double PageRank is not: the
      // per-node contribution sum is order-dependent). One shuffle per
      // round on the edge destination; edges+degrees are staged once
      // and reused by every round. Three rounds here; the round count
      // is the only thing that changes at scale.
      (s, dir) => {
        val ew = pagerankEdges(s, dir)
        val nodes = pagerankNodes(s, dir)
        var ranks = nodes.withColumn("pr", lit(1000000L))
        for (_ <- 1 to 3) {
          // USING-column joins (not df("col") conditions): every round's
          // plan re-references the nodes subtree, and attribute-id
          // conditions across that shared lineage trip ambiguous-self-
          // join resolution.
          val contrib = ew.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .select(col("dst").as("node_id"), expr("pr div outdeg").as("c"))
            .groupBy("node_id").agg(sum(col("c")).as("contrib"))
          ranks = nodes.join(contrib, Seq("node_id"), "left")
            .select(col("node_id"),
              expr("150000 + (85 * coalesce(contrib, cast(0 as bigint))) div 100")
                .as("pr"))
        }
        ranks.orderBy("node_id")
      }, {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (
              SELECT ew.dst AS node_id, sum(r${i - 1}.pr // ew.outdeg) AS contrib
              FROM ew JOIN r${i - 1} ON r${i - 1}.node_id = ew.src
              GROUP BY ew.dst),
            r$i AS (
              SELECT n.node_id,
                150000 + (85 * COALESCE(c$i.contrib, 0)) // 100 AS pr
              FROM n LEFT JOIN c$i USING (node_id))"""
        }.mkString(",\n")
        Some(s"""WITH e0 AS (
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst AS src, src AS dst FROM e0),
          deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
          ew AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
          n AS (SELECT DISTINCT src AS node_id FROM e),
          r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS pr FROM n),
          $rounds
          SELECT node_id, CAST(pr AS BIGINT) AS pr FROM r3 ORDER BY node_id""")
      }),

    QDef("graph_personalized_pagerank",
      // Personalized PageRank from a SEED SET (partkeys < 50) — the
      // relatedness query behind "more like these": random-walk mass
      // restarts at the seeds instead of uniformly, so the stationary
      // mass ranks the whole graph by proximity to the set (the
      // recommendation/expansion primitive; global pagerank above
      // ranks by overall centrality). Same exact-integer contract as
      // graph_pagerank — micros-scaled mass, bigint floor-division
      // contributions, seed-restricted teleport (seed·150000) — so a
      // fixed round count is bit-reproducible anywhere. Same staged
      // edges, one shuffle per round; top-25 by mass via
      // TakeOrdered, never a global window.
      (s, dir) => {
        val ew = pagerankEdges(s, dir)
        val nodes = pagerankNodes(s, dir)
          .withColumn("seed", when(col("node_id") < 50, 1L).otherwise(0L))
        var ranks = nodes.select(col("node_id"), col("seed"),
          (col("seed") * 1000000L).as("pr"))
        for (_ <- 1 to 3) {
          val contrib = ew.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .select(col("dst").as("node_id"), expr("pr div outdeg").as("c"))
            .groupBy("node_id").agg(sum(col("c")).as("contrib"))
          ranks = nodes.join(contrib, Seq("node_id"), "left")
            .select(col("node_id"), col("seed"),
              expr("seed * 150000 + (85 * coalesce(contrib, cast(0 as bigint))) div 100")
                .as("pr"))
        }
        ranks.filter(col("pr") > 0)
          .orderBy(col("pr").desc, col("node_id"))
          .limit(25)
      }, {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (
              SELECT ew.dst AS node_id, sum(r${i - 1}.pr // ew.outdeg) AS contrib
              FROM ew JOIN r${i - 1} ON r${i - 1}.node_id = ew.src
              GROUP BY ew.dst),
            r$i AS (
              SELECT n.node_id, n.seed,
                n.seed * 150000 + (85 * COALESCE(c$i.contrib, 0)) // 100 AS pr
              FROM n LEFT JOIN c$i USING (node_id))"""
        }.mkString(",\n")
        Some(s"""WITH e0 AS (
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst AS src, src AS dst FROM e0),
          deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
          ew AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
          n AS (SELECT node_id,
                  CASE WHEN node_id < 50 THEN 1 ELSE 0 END AS seed
                FROM (SELECT DISTINCT src AS node_id FROM e)),
          r0 AS (SELECT node_id, seed,
                   CAST(seed * 1000000 AS BIGINT) AS pr FROM n),
          $rounds
          SELECT node_id, CAST(seed AS BIGINT) AS seed, CAST(pr AS BIGINT) AS pr
          FROM r3 WHERE pr > 0
          ORDER BY pr DESC, node_id LIMIT 25""")
      }),

    QDef("graph_label_propagation",
      // Community detection by synchronous label propagation (LPA,
      // Raghavan et al.): label(u) starts as u, each round every node
      // takes the most frequent label among its neighbours, ties to the
      // SMALLEST label — the modularity-free community pass a graph
      // curation pipeline runs when Louvain is too expensive. Exactly 3
      // synchronous rounds, not convergence: sync LPA can oscillate on
      // bipartite graphs (this one is part<->supplier), so production
      // variants go async/semi-sync — the fixed-round sync form is the
      // deterministic, oracle-replayable choice, and the per-round plan
      // (one equi join on the edge dst + one count aggregate + one
      // tie-broken window) is identical either way. Reuses the staged
      // pagerank edge set; one shuffle pair per round, cost linear in
      // edges, labels carried as a node-sized table like pagerank's
      // ranks.
      // Pre-partition AND pre-sort the static edge side on the join
      // key ONCE inside the helper (memoized persist keeps the
      // ordering in the cached plan): every round's sort-merge join
      // against the fact-sized label table reuses the exchange and the
      // sort instead of re-shuffling+re-sorting the edges per round —
      // the standard iterated-join discipline (sort once, join k
      // times), and the label side stays a shuffle (it is fact-sized
      // at 100 TB, never a broadcast). Per-round the winner is an
      // ARGMAX aggregate — max(struct(n, -lbl)) realizes "highest
      // count, ties to smallest label" as one hash aggregate instead
      // of a row_number sort; the oracle keeps the row_number
      // spelling: same semantics, engine-appropriate operators each
      // side. The labels land disk-staged (lpaLabels3), so the
      // two downstream references (sizes + join back) read a leaf —
      // the old per-query localCheckpoint became the stage.
      (s, dir) => {
        val fin = lpaLabels3(s, dir)
        val sizes = fin.groupBy("lbl").agg(count(lit(1)).as("community_size"))
        fin.join(sizes, "lbl")
          .select(col("node_id"), col("lbl").as("community"),
            col("community_size"))
          .orderBy("node_id")
      },
      Some(s"""WITH $lpaSqlCtes,
          sizes AS (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY lbl)
          SELECT l3.node_id, l3.lbl AS community,
                 CAST(sizes.community_size AS BIGINT) AS community_size
          FROM l3 JOIN sizes USING (lbl) ORDER BY node_id""")),

    QDef("graph_modularity",
      // Newman modularity of an LPA community assignment — the
      // one-number QA gate on any clustering before it drives curation
      // decisions (Q ≈ 0: no better than random given the degree
      // sequence; Q ≥ ~0.3: real structure). The SCORED assignment is
      // SEMI-synchronous LPA (update one bipartite side per round:
      // suppliers, parts, suppliers), the textbook bipartite
      // treatment: the sync variant graph_label_propagation
      // deliberately ships oscillates on this part<->supplier graph
      // into the all-cross 2-coloring whose e_in is identically ZERO
      // (observed: Q = −0.5 exactly) — a dead intra-edge arm no gate
      // could ever catch a bug through. Semi-sync converges to mixed
      // part+supplier communities, keeping both the intra and inter
      // arms live at every SF — and the modularity number itself is
      // what certifies that difference. Over the directed double
      // cover: Q = (M2·E_in − Σ_c D_c²)/M2², E_in from two label
      // joins on the staged edge set, D_c from the node-sized
      // (src, outdeg) projection; Σ D_c² rides DECIMAL(38,0) ≙
      // HUGEINT (a hub community's D_c² passes int64 at 10⁹ nodes);
      // the final Q is a fixed IEEE tree on exact inputs (M2² as
      // double·double since int64 overflows at 10¹⁰ edges), rx(6).
      // The 3 semi-sync rounds are disk-staged like lpaLabels3.
      (s, dir) => {
        val ew = pagerankEdges(s, dir)
        // diskKeyed, not disk: each semi-sync round references the
        // previous labels TWICE (kept side + update join), so without
        // eager truncation the chain doubles per round — 8x by round 3
        // (the bfs double-execution gotcha; benched 7.4 s vs ~1 s).
        // Per-round localCheckpoint makes the result plan a LogicalRDD
        // whose hash is not JVM-stable, hence the declarative edge
        // seed as the cross-JVM artifact key.
        // ewd is requested outside the build, so a cache hit stages it too.
        val ewd = lpaEdgesByDst(s, dir)
        val la = graft.pipeline.Staged.diskKeyed(s, dir, "lpa_semisync3")(
          ew.select(col("src"), col("dst"))) {
          val supp = col("node_id") >= 1000000L
          var labels = ew.select(col("src").as("node_id")).distinct()
            .withColumn("lbl", col("node_id"))
          for (r <- 1 to 3) {
            val updSupp = r % 2 == 1
            val upd = ewd
              .join(labels.withColumnRenamed("node_id", "dst"), "dst")
              .filter(if (updSupp) col("src") >= 1000000L
                else col("src") < 1000000L)
              .groupBy(col("src").as("node_id"), col("lbl"))
              .agg(count(lit(1)).as("n"))
              .groupBy("node_id")
              .agg(max(struct(col("n"), (-col("lbl")).as("neg"))).as("m"))
              .select(col("node_id"), (-col("m.neg")).as("lbl"))
            labels = labels.filter(if (updSupp) !supp else supp)
              .unionByName(upd).localCheckpoint(true)
          }
          labels
        }
        val intra = ew
          .join(la.toDF("src", "ls"), "src")
          .join(la.toDF("dst", "ld"), "dst")
          .agg(count(lit(1)).as("m2"),
            sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("e_in"))
        val dc = ew.select("src", "outdeg").distinct()
          .join(la.toDF("src", "lbl"), "src")
          .groupBy("lbl").agg(sum("outdeg").as("d_c"))
        val sums = dc.agg(count(lit(1)).as("n_communities"),
          sum(col("d_c").cast("decimal(38,0)") * col("d_c")).as("sd2"))
        def d(c: String) = col(c).cast("double")
        intra.crossJoin(broadcast(sums))
          .select(col("m2").as("n_edges_directed"), col("e_in"),
            col("n_communities"),
            rx((d("m2") * d("e_in") - d("sd2")) / (d("m2") * d("m2")), 6)
              .as("modularity"))
      },
      Some({
        val rounds = (1 to 3).map { i =>
          val (updCond, keepCond) =
            if (i % 2 == 1) (">= 1000000", "< 1000000")
            else ("< 1000000", ">= 1000000")
          s"""c$i AS (
              SELECT e.src AS node_id, l${i - 1}.lbl, count(*) AS n
              FROM e JOIN l${i - 1} ON l${i - 1}.node_id = e.dst
              WHERE e.src $updCond
              GROUP BY e.src, l${i - 1}.lbl),
            l$i AS (
              SELECT node_id, lbl FROM l${i - 1}
              WHERE node_id $keepCond
              UNION ALL
              SELECT node_id, lbl FROM (
                SELECT node_id, lbl,
                       row_number() OVER (PARTITION BY node_id
                         ORDER BY n DESC, lbl) AS r
                FROM c$i)
              WHERE r = 1)"""
        }.mkString(",\n")
        s"""WITH e0 AS (
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst AS src, src AS dst FROM e0),
          l0 AS (SELECT DISTINCT src AS node_id, src AS lbl FROM e),
          $rounds,
          deg AS (SELECT src AS node_id, CAST(count(*) AS BIGINT) AS outdeg
                  FROM e GROUP BY 1),
          intra AS (
            SELECT CAST(count(*) AS BIGINT) AS m2,
                   CAST(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END)
                     AS BIGINT) AS e_in
            FROM e JOIN l3 a ON a.node_id = e.src
            JOIN l3 b ON b.node_id = e.dst),
          dc AS (SELECT l3.lbl, CAST(sum(deg.outdeg) AS BIGINT) AS d_c
                 FROM l3 JOIN deg USING (node_id) GROUP BY 1),
          sums AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
                     sum(CAST(d_c AS HUGEINT) * d_c) AS sd2
                   FROM dc)
          SELECT m2 AS n_edges_directed, e_in, n_communities,
            ${rxSql(
              """(CAST(m2 AS DOUBLE) * CAST(e_in AS DOUBLE)
                - CAST(sd2 AS DOUBLE)) /
                (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE))""",
              6)} AS modularity
          FROM intra, sums"""
      })),

    QDef("graph_hashed_walks",
      // Deterministic random-walk sampling — the node2vec/DeepWalk
      // positive-pair generator reduced to its distributed core: a
      // batch of 3-step walks over the part<->supplier graph, where
      // each step's neighbor choice is a HASH-ARGMIN (min md5 over
      // (walk, step, neighbor)) instead of an RNG draw — pseudo-
      // uniform, coordination-free, and exactly replayable by any
      // engine (the md5 trick that makes sampled pipelines
      // oracle-checkable). Walk starts are a deterministic 1-in-10
      // md5 sample of the part side — production walk batches are
      // budgeted per epoch anyway, and the sample bounds the step
      // join at Σ deg(frontier) instead of full-graph fan-out. Each
      // step = one equi join on the staged edge set + one argmin
      // aggregate; the frontier is eagerly checkpointed per step
      // because the step chain AND the final visit union both
      // reference it (the bfs double-execution rule). Output: the
      // visit-frequency table (top-20) — the sampling distribution a
      // downstream embedding trainer consumes.
      (s, dir) => {
        val ew = pagerankEdges(s, dir)
        val edges = ew.select(col("src"), col("dst"))
        var cur = edges.filter(col("src") < 1000000L)
          .select(col("src").as("walk")).distinct()
          .filter(pmod(graft.functions.Text.md5Hash32(concat(lit("wstart:"),
            col("walk").cast("string"))), lit(10L)) === 0)
          .withColumn("cur", col("walk"))
        val visits = (1 to 3).map { r =>
          cur = cur.join(edges, col("cur") === col("src"))
            .select(col("walk"), col("dst"),
              graft.functions.Text.md5Hash32(concat(lit("wk:"),
                col("walk").cast("string"), lit(s":$r:"),
                col("dst").cast("string"))).as("h"))
            .groupBy("walk")
            .agg(min(struct(col("h"), col("dst"))).as("m"))
            .select(col("walk"), col("m.dst").as("cur"))
            .localCheckpoint(true)
          cur.select(col("cur").as("node"))
        }
        visits.reduce(_ unionByName _)
          .groupBy("node").agg(count(lit(1)).as("n_visits"))
          .orderBy(col("n_visits").desc, col("node"))
          .limit(20)
      },
      Some({
        val steps = (1 to 3).map { r =>
          s"""s$r AS (
              SELECT walk, cur FROM (
                SELECT p.walk, e.dst AS cur,
                       row_number() OVER (PARTITION BY p.walk ORDER BY
                         CAST(('0x' || substr(md5('wk:' || CAST(p.walk AS VARCHAR) ||
                           ':$r:' || CAST(e.dst AS VARCHAR)), 1, 8)) AS BIGINT),
                         e.dst) AS rk
                FROM s${r - 1} p JOIN e ON e.src = p.cur)
              WHERE rk = 1)"""
        }.mkString(",\n")
        s"""WITH e0 AS (
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst AS src, src AS dst FROM e0),
          s0 AS (
            SELECT walk, walk AS cur FROM (
              SELECT DISTINCT src AS walk FROM e WHERE src < 1000000)
            WHERE CAST(('0x' || substr(md5('wstart:' || CAST(walk AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10 = 0),
          $steps,
          v AS (SELECT cur AS node FROM s1
                UNION ALL SELECT cur FROM s2
                UNION ALL SELECT cur FROM s3)
          SELECT node, CAST(count(*) AS BIGINT) AS n_visits
          FROM v GROUP BY 1 ORDER BY n_visits DESC, node LIMIT 20"""
      })),

    QDef("graph_bfs_distance",
      // Multi-source BFS (hop distance from a seed set) over the same
      // symmetric part<->supplier graph — the reachability primitive
      // under lineage tracing and contamination-spread analysis. Each
      // round relaxes: dist' = min(dist, min over in-neighbors + 1),
      // all-integer so it is bit-reproducible anywhere. One shuffle per
      // round on the edge destination, reusing the staged pagerank
      // edge set (zero extra staging). Three rounds = radius 3; at
      // 100 TB only the round count and a frontier-only join (relax
      // from newly-settled nodes instead of the full dist set) change —
      // the full-set relax here keeps the oracle a literal unroll.
      (s, dir) => {
        val ew = pagerankEdges(s, dir)
        var dist = ew.select(col("src").as("node_id")).distinct()
          .filter(col("node_id") < 50)
          .withColumn("dist", lit(0L))
        for (_ <- 1 to 3) {
          // USING-column joins for the same ambiguous-self-join reason
          // as pagerank: every round re-references the shared ew subtree.
          // Unlike pagerank, each round references the PREVIOUS dist
          // twice (relax + union), so without eager lineage truncation
          // the plan — and the execution, Spark shares no common
          // subtrees — doubles per round (benched 7s for 3 rounds;
          // 0.3s truncated). Same fix as graph_triangle_count's edges.
          val relax = ew.join(dist.withColumnRenamed("node_id", "src"), "src")
            .select(col("dst").as("node_id"), (col("dist") + 1L).as("dist"))
          dist = dist.union(relax)
            .groupBy("node_id").agg(min(col("dist")).as("dist"))
            .localCheckpoint(true)
        }
        dist.orderBy("node_id")
      }, {
        val rounds = (1 to 3).map { i =>
          s"""f$i AS (
              SELECT e.dst AS node_id, min(d${i - 1}.dist) + 1 AS dist
              FROM e JOIN d${i - 1} ON d${i - 1}.node_id = e.src
              GROUP BY e.dst),
            d$i AS (
              SELECT node_id, min(dist) AS dist
              FROM (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM f$i)
              GROUP BY node_id)"""
        }.mkString(",\n")
        Some(s"""WITH e0 AS (
            SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
            FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst AS src, src AS dst FROM e0),
          d0 AS (SELECT DISTINCT src AS node_id, CAST(0 AS BIGINT) AS dist
                 FROM e WHERE src < 50),
          $rounds
          SELECT node_id, dist FROM d3 ORDER BY node_id""")
      }),

    QDef("graph_bipartite_cf",
      // Bipartite common-neighbor scoring over the part<->supplier
      // graph — item-item collaborative filtering / link prediction:
      // for a TARGET SLICE of suppliers (every 25th key — the batch of
      // "queries"), rank the 5 most substitutable peers by Jaccard
      // over co-supplied part sets, in exact integer micros. The
      // all-pairs version is a Σ deg² wedge explosion (18M wedges at
      // sf0.1 already); restricting one join side to the target slice
      // is the standard query-batching shape — candidates come from an
      // equi-join on the shared part, so cost is Σ_p deg_target(p) ×
      // deg(p), linear in the probe side, and only pairs sharing ≥1
      // part are ever materialized. Degrees broadcast back
      // (supplier-dimension-sized); top-5 per target is one bounded
      // window. At 100 TB the slice IS the unit of work — score
      // batches of queries per pass, never the full pair matrix.
      (s, dir) => {
        val e = bipEdges(s, dir)
        val deg = e.groupBy("s").agg(count(lit(1)).as("dg"))
        val cand = e.filter(expr("s % 25 = 0"))
          .select(col("s").as("s_target"), col("p"))
          .join(e.select(col("s").as("s_other"), col("p")), Seq("p"))
          .filter(col("s_other") =!= col("s_target"))
          .groupBy("s_target", "s_other")
          .agg(count(lit(1)).as("n_common"))
        cand
          .join(broadcast(deg.toDF("s_target", "dg_t")), "s_target")
          .join(broadcast(deg.toDF("s_other", "dg_o")), "s_other")
          .withColumn("jaccard_micro",
            expr("(n_common * 1000000) div (dg_t + dg_o - n_common)"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("s_target")
              .orderBy(col("jaccard_micro").desc, col("n_common").desc,
                col("s_other"))).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("s_target"), col("rk"), col("s_other"),
            col("n_common"), col("dg_t"), col("dg_o"), col("jaccard_micro"))
          .orderBy("s_target", "rk")
      },
      Some("""WITH e AS (
          SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        deg AS (SELECT s, count(*) AS dg FROM e GROUP BY 1),
        cand AS (
          SELECT a.s AS s_target, b.s AS s_other, count(*) AS n_common
          FROM e a JOIN e b ON a.p = b.p AND b.s <> a.s
          WHERE a.s % 25 = 0
          GROUP BY 1, 2),
        scored AS (
          SELECT c.s_target, c.s_other, c.n_common,
                 dt.dg AS dg_t, do_.dg AS dg_o,
                 CAST((c.n_common * 1000000) // (dt.dg + do_.dg - c.n_common) AS BIGINT) AS jaccard_micro
          FROM cand c
          JOIN deg dt ON dt.s = c.s_target
          JOIN deg do_ ON do_.s = c.s_other)
        SELECT s_target, CAST(rk AS BIGINT) AS rk, s_other,
               n_common, dg_t, dg_o, jaccard_micro
        FROM (SELECT *, row_number() OVER (PARTITION BY s_target
                ORDER BY jaccard_micro DESC, n_common DESC, s_other) AS rk
              FROM scored)
        WHERE rk <= 5 ORDER BY s_target, rk"""),
    ),

    QDef("graph_resource_allocation",
      // Resource-allocation link prediction (Zhou, Lü & Zhang 2009) —
      // graph_bipartite_cf's complement with a different inductive
      // bias: instead of Jaccard (which treats every shared part
      // equally), each shared part contributes 1/deg(part), so RARE
      // co-supplied parts dominate the score — the same
      // inverse-frequency insight as IDF, on graphs. Same
      // query-batching scale shape as bipartite_cf: one join side
      // restricted to the target slice, candidates only from the
      // shared-part equi join (cost Σ_p deg_target(p)·deg(p), linear
      // in the probe side), part degrees attached ON THE SHARED PART
      // before aggregation so the per-part weight is computed once per
      // wedge. Scores are exact integer micros (10^6 div deg) — no FP
      // sum order anywhere — and top-5 per target is one bounded
      // window.
      (s, dir) => {
        val e = bipEdges(s, dir)
        // Part degree attached by a count window OVER the probe side
        // (one shuffle on p), not a separate groupBy + join-back: the
        // aggregate+join spelling cost two extra exchanges, and the
        // wedge equi-join on p reuses the window's hash partitioning
        // directly. Same value — pd = deg(p) on every edge row.
        val probe = e
          .select(col("s").as("s_other"), col("p"))
          .withColumn("pd",
            count(lit(1)).over(Window.partitionBy("p")))
        val wedges = e.filter(expr("s % 25 = 0"))
          .select(col("s").as("s_target"), col("p"))
          .join(probe, Seq("p"))
          .filter(col("s_other") =!= col("s_target"))
        wedges
          .groupBy("s_target", "s_other")
          .agg(count(lit(1)).as("n_common"),
            sum(expr("1000000 div pd")).as("ra_micro"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("s_target")
              .orderBy(col("ra_micro").desc, col("n_common").desc,
                col("s_other"))).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("s_target"), col("rk"), col("s_other"),
            col("n_common"), col("ra_micro"))
          .orderBy("s_target", "rk")
      },
      Some("""WITH e AS (
          SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        pdeg AS (SELECT p, count(*) AS pd FROM e GROUP BY 1),
        wedges AS (
          SELECT a.s AS s_target, b.s AS s_other, d.pd
          FROM e a
          JOIN e b ON a.p = b.p AND b.s <> a.s
          JOIN pdeg d ON d.p = a.p
          WHERE a.s % 25 = 0),
        scored AS (
          SELECT s_target, s_other,
                 CAST(count(*) AS BIGINT) AS n_common,
                 CAST(sum(1000000 // pd) AS BIGINT) AS ra_micro
          FROM wedges GROUP BY 1, 2)
        SELECT s_target, CAST(rk AS BIGINT) AS rk, s_other, n_common, ra_micro
        FROM (SELECT *, row_number() OVER (PARTITION BY s_target
                ORDER BY ra_micro DESC, n_common DESC, s_other) AS rk
              FROM scored)
        WHERE rk <= 5 ORDER BY s_target, rk"""),
    ),

    QDef("win_markov_transitions",
      // First-order Markov transition matrix over user event streams —
      // the behavioral fingerprint a product-analytics pass derives
      // before funnel design, and the drift object to diff release-
      // over-release. Each user's events order by (ts, event_id) — the
      // id tiebreak makes the sequence TOTAL under timestamp
      // collisions, which real event streams always have — one lag
      // window per user (shuffle on user_id), then a bounded
      // (from × to) aggregate; row probabilities are exact integer
      // micros against the from-state total. At 100 TB: one shuffle,
      // one window pass, and a 25-cell output regardless of corpus
      // size.
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val tr = t(s, dir, "events")
          .withColumn("nxt", lead("event_type", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("from_state"),
            col("nxt").as("to_state"))
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy("from_state").agg(sum("n").as("n_from"))
        tr.join(tot, "from_state")
          .select(col("from_state"), col("to_state"), col("n"), col("n_from"),
            expr("(n * 1000000) div n_from").as("p_micro"))
          .orderBy("from_state", "to_state")
      },
      Some("""WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
          FROM events),
        tr AS (
          SELECT event_type AS from_state, nxt AS to_state,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        tot AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from
                FROM tr GROUP BY 1)
        SELECT tr.from_state, tr.to_state, tr.n, tot.n_from,
               CAST((tr.n * 1000000) // tot.n_from AS BIGINT) AS p_micro
        FROM tr JOIN tot ON tot.from_state = tr.from_state
        ORDER BY tr.from_state, tr.to_state""")),

    QDef("win_rfm_scoring",
      // RFM customer scoring — the classic warehouse segmentation:
      // recency (days from last order to the corpus's max order date),
      // frequency (order count) and monetary (exact total cents), each
      // quintiled with ntile(5) under a TOTAL order (custkey tiebreak —
      // ntile is positional, so an untotalized order would make bucket
      // membership nondeterministic at every tie), composed into the
      // 3-digit RFM code plus the two action segments campaigns
      // actually target. Per-customer stats are one map-side aggregate;
      // the max-date scalar attaches by broadcast. All arithmetic
      // integer. No quintile runs a dimension-global ntile window (the
      // round-10 flaw): each metric's exact positional rank comes from
      // the shard-offset distributed rank (DistributedRank — the
      // layout_global_index pattern) and the quintile is reconstructed
      // from (rank, n) by ntile's positional formula — identical
      // bucket membership, custkey tiebreak preserved, every sort
      // per-shard. base localCheckpoints once: the grouped rank's
      // bounds/counts/join passes and the final re-join all re-read
      // it, and at customer-dimension size one materialization beats
      // re-aggregating orders per reference.
      (s, dir) => {
        val perC = t(s, dir, "orders")
          .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .groupBy(col("o_custkey").as("custkey"))
          .agg(max(col("o_orderdate").cast("date")).as("last_d"),
            count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        val mx = perC.agg(max("last_d").as("max_d"))
        val base = perC.crossJoin(broadcast(mx))
          .withColumn("recency_days",
            datediff(col("max_d"), col("last_d")).cast("long"))
          .localCheckpoint(true)
        val nTot = base.agg(count(lit(1)).as("nn"))
        // ONE grouped rank for all three metrics instead of three
        // chained rank pipelines ([[DistributedRank.withGroupedRank]]
        // — per-group shard bounds keep cents/recency/order-count
        // domains each spread over all shards): every customer row
        // explodes into (metric, value), recency negated so the
        // shared ascending order is its DESC rank, and the three
        // ordinals pivot back over the custkey in one bounded
        // aggregate. Same ordinals, one bounds/counts/offsets pass.
        val lay = base.select(col("custkey"), explode(array(
            struct(lit(0L).as("mid"), (-col("recency_days")).as("mv")),
            struct(lit(1L).as("mid"), col("n_orders").as("mv")),
            struct(lit(2L).as("mid"), col("cents").as("mv")))).as("e"))
          .select(col("custkey"), col("e.mid").as("mid"), col("e.mv").as("mv"))
        val rk3 = DistributedRank.withGroupedRank(
          lay, col("mid"), col("mv"), col("custkey"), out = "rk")
        val ranks = rk3.groupBy("custkey").agg(
          max(when(col("mid") === 0, col("rk"))).as("rrk"),
          max(when(col("mid") === 1, col("rk"))).as("frk"),
          max(when(col("mid") === 2, col("rk"))).as("mrk"))
        val ranked = base.join(ranks, "custkey")
        ranked.crossJoin(broadcast(nTot))
          .withColumn("r_q", DistributedRank.ntileFromRank("rrk", "nn", 5))
          .withColumn("f_q", DistributedRank.ntileFromRank("frk", "nn", 5))
          .withColumn("m_q", DistributedRank.ntileFromRank("mrk", "nn", 5))
          .select(col("custkey"), col("recency_days"), col("n_orders"),
            col("cents"), col("r_q"), col("f_q"), col("m_q"),
            (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).as("rfm"),
            when(col("r_q") === 5 && col("f_q") >= 4 && col("m_q") >= 4,
              lit("champion"))
              .when(col("r_q") <= 2 && col("m_q") >= 4, lit("at_risk"))
              .otherwise(lit("other")).as("segment"))
          .orderBy("custkey")
      },
      Some("""WITH per_c AS (
          SELECT o_custkey AS custkey,
                 max(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE)) AS last_d,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          FROM orders GROUP BY 1),
        base AS (
          SELECT custkey, n_orders, cents,
                 CAST(date_diff('day', last_d,
                      (SELECT max(last_d) FROM per_c)) AS BIGINT) AS recency_days
          FROM per_c),
        scored AS (
          SELECT *,
                 CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r_q,
                 CAST(ntile(5) OVER (ORDER BY n_orders ASC, custkey) AS BIGINT) AS f_q,
                 CAST(ntile(5) OVER (ORDER BY cents ASC, custkey) AS BIGINT) AS m_q
          FROM base)
        SELECT custkey, recency_days, n_orders, cents, r_q, f_q, m_q,
               r_q * 100 + f_q * 10 + m_q AS rfm,
               CASE WHEN r_q = 5 AND f_q >= 4 AND m_q >= 4 THEN 'champion'
                    WHEN r_q <= 2 AND m_q >= 4 THEN 'at_risk'
                    ELSE 'other' END AS segment
        FROM scored ORDER BY custkey""")),

    QDef("win_pareto_8020",
      // Pareto concentration ("vital few") per event type: rank users
      // by their exact cent contribution, walk the cumulative share,
      // and report how many users it takes to cover 80% of value —
      // THE concentration number behind skew-aware decisions (salting
      // keys, capping contributors, tiering storage). The 80% crossing
      // is an INTEGER comparison (5·cum ≥ 4·total — no FP share ever
      // thresholded); per-user totals are one map-side aggregate, the
      // rank/cumsum windows partition by event type over the USER
      // dimension, and the output is one row per type. Ties on value
      // break by user_id so the crossing rank is total-order
      // deterministic.
      (s, dir) => {
        val perU = t(s, dir, "events")
          .withColumn("xc", floor(col("value") * 100 + 0.5).cast("long"))
          .groupBy("event_type", "user_id").agg(sum("xc").as("cents"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("cents").desc, col("user_id"))
        val cum = perU
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum", sum("cents").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = perU.groupBy("event_type")
          .agg(sum("cents").as("total"), count(lit(1)).as("n_users"))
        cum.join(tot, "event_type")
          .filter(col("cum") * 5 >= col("total") * 4)
          .groupBy("event_type", "n_users", "total")
          .agg(min("rk").as("users_for_80pct"))
          .select(col("event_type"), col("n_users"), col("total").as("total_cents"),
            col("users_for_80pct"),
            expr("(users_for_80pct * 1000000) div n_users").as("user_share_micro"))
          .orderBy("event_type")
      },
      Some("""WITH per_u AS (
          SELECT event_type, user_id,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        cum AS (
          SELECT event_type, user_id, cents,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY cents DESC, user_id) AS BIGINT) AS rk,
                 CAST(sum(cents) OVER (PARTITION BY event_type
                   ORDER BY cents DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM per_u),
        tot AS (
          SELECT event_type, CAST(sum(cents) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_users
          FROM per_u GROUP BY 1)
        SELECT c.event_type, t.n_users, t.total AS total_cents,
               CAST(min(c.rk) AS BIGINT) AS users_for_80pct,
               CAST((min(c.rk) * 1000000) // t.n_users AS BIGINT) AS user_share_micro
        FROM cum c JOIN tot t ON t.event_type = c.event_type
        WHERE c.cum * 5 >= t.total * 4
        GROUP BY 1, 2, 3 ORDER BY c.event_type""")),

    QDef("win_attribution_models",
      // Multi-touch conversion attribution — first-touch, last-touch
      // and linear credit per channel, the three models a marketing
      // warehouse reports side by side (they disagree, and the
      // disagreement IS the analysis). Conversion = each user's first
      // purchase under a (ts, event_id) total order; touches = that
      // user's earlier non-purchase events. Credit is integer MICROS
      // per conversion: first/last give all 1e6 to one touch; linear
      // floor-divides 1e6 across touches and assigns the remainder to
      // the LAST touch, so every conversion's credit sums to exactly
      // 1e6 under any engine (FP shares would not). One shuffle on
      // user_id (conversion window + touch join share it), then a
      // bounded per-channel aggregate.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(min(struct(col("ts"), col("event_id"))).as("cv"))
          .select(col("user_id"), col("cv.ts").as("cts"),
            col("cv.event_id").as("cid"))
        val touches = ev.join(conv, "user_id")
          .filter(col("event_type") =!= "purchase" &&
            (col("ts") < col("cts") ||
              (col("ts") === col("cts") && col("event_id") < col("cid"))))
        val w = Window.partitionBy("user_id")
        val wAsc = w.orderBy(col("ts"), col("event_id"))
        val scored = touches
          .withColumn("rn", row_number().over(wAsc).cast("long"))
          .withColumn("nt", count(lit(1)).over(w))
          .withColumn("first_micro",
            when(col("rn") === 1, 1000000L).otherwise(0L))
          .withColumn("last_micro",
            when(col("rn") === col("nt"), 1000000L).otherwise(0L))
          .withColumn("linear_micro",
            expr("1000000 div nt") +
              when(col("rn") === col("nt"),
                lit(1000000L) - expr("nt * (1000000 div nt)")).otherwise(0L))
        scored.groupBy(col("event_type").as("channel"))
          .agg(count(lit(1)).as("n_touches"),
            sum("first_micro").as("first_touch_micro"),
            sum("last_micro").as("last_touch_micro"),
            sum("linear_micro").as("linear_micro"))
          .orderBy("channel")
      },
      Some("""WITH conv AS (
          SELECT user_id,
                 min(struct_pack(ts := CAST(ts AS TIMESTAMP), event_id := event_id)) AS cv
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        cflat AS (
          SELECT user_id, cv.ts AS cts, cv.event_id AS cid FROM conv),
        touches AS (
          SELECT e.user_id, e.event_type, CAST(e.ts AS TIMESTAMP) AS ts, e.event_id
          FROM events e JOIN cflat c ON c.user_id = e.user_id
          WHERE e.event_type <> 'purchase'
            AND (CAST(e.ts AS TIMESTAMP) < c.cts OR
                 (CAST(e.ts AS TIMESTAMP) = c.cts AND e.event_id < c.cid))),
        scored AS (
          SELECT event_type,
                 CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nt
          FROM touches)
        SELECT event_type AS channel,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(CASE WHEN rn = 1 THEN 1000000 ELSE 0 END) AS BIGINT) AS first_touch_micro,
               CAST(sum(CASE WHEN rn = nt THEN 1000000 ELSE 0 END) AS BIGINT) AS last_touch_micro,
               CAST(sum(1000000 // nt +
                        CASE WHEN rn = nt THEN 1000000 - nt * (1000000 // nt)
                             ELSE 0 END) AS BIGINT) AS linear_micro
        FROM scored GROUP BY 1 ORDER BY channel""")),

    QDef("win_cohort_ltv",
      // Cohort LTV curves — win_retention's revenue twin: DAILY signup
      // cohorts × day offset, cumulative revenue per cohort and
      // cumulative revenue PER USER (the number payback math runs on).
      // The cohort anchor is each user's first SIGNUP event, not first
      // activity — first-activity weeks put every user in cohort 0 on
      // this corpus (a one-cohort table answers nothing; the dead-arm
      // lesson), while first-signup days spread users across ~10+ live
      // cohorts at every SF. Only post-signup revenue counts
      // (offset >= 0 — the standard LTV convention, stated). Exact
      // cents end to end: the (cohort, offset) grid is bounded by the
      // observation window squared, the cumulative sum is one ordered
      // window over that bounded grid, and per-user LTV is integer
      // division by the cohort population. Only the per-user and
      // per-cell aggregates are corpus-sized.
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("xc", floor(col("value") * 100 + 0.5).cast("long"))
          .withColumn("d",
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .cast("long"))
        val firstD = ev
          .filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("d").as("cohort_day"))
        val cohortN = firstD.groupBy("cohort_day")
          .agg(countDistinct("user_id").as("n_users"))
        val cells = ev.join(firstD, "user_id")
          .withColumn("offset_day", col("d") - col("cohort_day"))
          .filter(col("offset_day") >= 0)
          .groupBy("cohort_day", "offset_day")
          .agg(sum("xc").as("cents"))
        val w = Window.partitionBy("cohort_day").orderBy("offset_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells
          .withColumn("cum_cents", sum("cents").over(w))
          .join(cohortN, "cohort_day")
          .select(col("cohort_day"), col("offset_day"), col("n_users"),
            col("cents"), col("cum_cents"),
            expr("cum_cents div n_users").as("ltv_cents_per_user"))
          .orderBy("cohort_day", "offset_day")
      },
      Some("""WITH ev AS (
          SELECT user_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS xc,
                 CAST(date_diff('day', DATE '2024-01-01',
                      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d
          FROM events),
        first_d AS (
          SELECT user_id, min(d) AS cohort_day
          FROM ev WHERE event_type = 'signup' GROUP BY 1),
        cohort_n AS (
          SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM first_d GROUP BY 1),
        cells AS (
          SELECT f.cohort_day, e.d - f.cohort_day AS offset_day,
                 CAST(sum(e.xc) AS BIGINT) AS cents
          FROM ev e JOIN first_d f ON f.user_id = e.user_id
          WHERE e.d - f.cohort_day >= 0
          GROUP BY 1, 2),
        cum AS (
          SELECT cohort_day, offset_day, cents,
                 CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY offset_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
          FROM cells)
        SELECT c.cohort_day, c.offset_day, n.n_users, c.cents, c.cum_cents,
               CAST(c.cum_cents // n.n_users AS BIGINT) AS ltv_cents_per_user
        FROM cum c JOIN cohort_n n ON n.cohort_day = c.cohort_day
        ORDER BY c.cohort_day, c.offset_day""")),

    QDef("win_rsi",
      // Relative-strength index over daily revenue per event type —
      // the bounded momentum oscillator (Wilder's RSI, simple-average
      // form) a monitoring surface uses to flag overheated/collapsed
      // series symmetrically (a raw day-over-day delta has no scale;
      // RSI normalizes by total movement). Exact integers end to end:
      // day-over-day deltas of exact cent sums split into gain/loss
      // magnitudes, trailing-14 sums are ROWS-frame window sums, and
      // the index rides as rsi_micro = 10^6·G/(G+L) by integer
      // floor-division — the standard 0..100 RSI times 10^4, with the
      // 70/30 bands as integer comparisons. Flat-market degenerate
      // case (G+L=0) reports NULL rather than a fake 50. One daily
      // aggregate + one per-type ordered window pass.
      (s, dir) => {
        val daily = t(s, dir, "events")
          .withColumn("xc", floor(col("value") * 100 + 0.5).cast("long"))
          .withColumn("d",
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
              .cast("long"))
          .groupBy("event_type", "d").agg(sum("xc").as("x"))
        val wLag = Window.partitionBy("event_type").orderBy("d")
        val w14 = wLag.rowsBetween(-13, Window.currentRow)
        daily
          .withColumn("delta", col("x") - lag("x", 1).over(wLag))
          .filter(col("delta").isNotNull)
          .withColumn("gain", greatest(col("delta"), lit(0L)))
          .withColumn("loss", greatest(-col("delta"), lit(0L)))
          .withColumn("g14", sum("gain").over(w14))
          .withColumn("l14", sum("loss").over(w14))
          .select(col("event_type"), col("d"), col("delta"),
            when(col("g14") + col("l14") > 0,
              expr("(g14 * 1000000) div (g14 + l14)")).as("rsi_micro"))
          .withColumn("overbought", col("rsi_micro") >= 700000L)
          .withColumn("oversold", col("rsi_micro") <= 300000L)
          .orderBy("event_type", "d")
      },
      Some("""WITH daily AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS d,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        dd AS (
          SELECT event_type, d,
                 x - lag(x) OVER (PARTITION BY event_type ORDER BY d) AS delta
          FROM daily),
        gl AS (
          SELECT event_type, d, delta,
                 greatest(delta, 0) AS gain, greatest(-delta, 0) AS loss
          FROM dd WHERE delta IS NOT NULL),
        s14 AS (
          SELECT event_type, d, delta,
                 CAST(sum(gain) OVER w AS BIGINT) AS g14,
                 CAST(sum(loss) OVER w AS BIGINT) AS l14
          FROM gl
          WINDOW w AS (PARTITION BY event_type ORDER BY d
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT event_type, d, delta,
               CASE WHEN g14 + l14 > 0
                    THEN CAST((g14 * 1000000) // (g14 + l14) AS BIGINT) END AS rsi_micro,
               CASE WHEN g14 + l14 > 0
                    THEN (g14 * 1000000) // (g14 + l14) >= 700000 END AS overbought,
               CASE WHEN g14 + l14 > 0
                    THEN (g14 * 1000000) // (g14 + l14) <= 300000 END AS oversold
        FROM s14 ORDER BY event_type, d""")),

    QDef("agg_kmv_sketch",
      // K-minimum-values sketches for audience-overlap estimation: per
      // event type, the k=64 smallest md5 hashes of its distinct
      // (user, day) visit items form a fixed-size synopsis; any pair of
      // sketches then yields distinct-union and distinct-intersection
      // ESTIMATES — (k-1)·2^32 div θ over the merged k-th minimum θ,
      // scaled by the common-hash fraction — without ever touching the
      // raw data again. The third mergeable-sketch family member next
      // to agg_hll_union (counts) and agg_countmin (frequencies), and
      // the one that answers set-OVERLAP questions HLL cannot. All
      // estimator arithmetic is bigint floor-division — bit-identical
      // in any engine. Sketch build reuses the native bounded-heap
      // top-k operator (k smallest = top-k by negated hash), so each
      // scan partition prunes to ≤ k rows per type before the one
      // shuffle; the synopsis then travels as ONE sorted-array value
      // per type (how a sketch actually ships between jobs — merge =
      // array_union) and the whole pair analysis is array arithmetic
      // inside a single 5×5 cross join — one flat stage, not a
      // join-per-statistic DAG (the relational spelling of the same
      // math benched 8 tiny exchanges ≈ 0.7 s of pure stage latency;
      // the DuckDB oracle keeps that relational form, pinning that
      // both spellings agree). Unsaturated sketches (fewer distinct
      // items than k) degrade to EXACT counts — the CASE arms both
      // engines replay.
      (s, dir) => {
        graft.GraftExtensions.ensureRegistered(s)
        val k = 64
        // The sketch keeps its DOMAIN-carrying key name (event_type,
        // not an `et` alias) through the aggregate: BnljGuardSpec
        // certifies the 5-row synopsis side by its fixed-enum group
        // key, and an alias severs the name-based recognition (the
        // agg_weighted_median lesson). The pair cross renames at the
        // very end via toDF.
        val th = t(s, dir, "events")
          .select(col("event_type"),
            (col("user_id") * 512L + dayofyear(col("ts"))).as("item"))
          .distinct()
          .select(col("event_type"),
            graft.functions.Text.md5Hash32(
              concat(lit("kmv:"), col("item").cast("string")))
              .as("h"))
          .distinct()
        val sk = graft.pipeline.Staged(s, dir, "kmv_sketch") {
          graft.plans.TopKPerGroup(
            th.withColumn("nh", -col("h")), Seq("event_type"), "nh", "h", k)
            .groupBy("event_type")
            .agg(sort_array(collect_list(col("h"))).as("hs"))
        }
        val merged = array_sort(array_union(col("ha"), col("hb")))
        val estU = when(col("th").isNull, col("mn"))
          .otherwise(expr(s"(${k - 1} * 4294967296) div th"))
        sk.toDF("ea", "ha").crossJoin(sk.toDF("eb", "hb"))
          .filter(col("ea") < col("eb"))
          .withColumn("mg", merged)
          .withColumn("mn", size(col("mg")).cast("long"))
          .withColumn("th",
            when(col("mn") >= k, element_at(col("mg"), k)))
          .withColumn("common",
            when(col("th").isNull, array_intersect(col("ha"), col("hb")))
              .otherwise(filter(array_intersect(col("ha"), col("hb")),
                h => h <= col("th"))))
          .select(col("ea"), col("eb"),
            size(col("common")).cast("long").as("n_common"),
            estU.as("est_union"),
            when(col("th").isNull, size(col("common")).cast("long"))
              .otherwise(expr(s"(size(common) * ((${k - 1} * 4294967296) div th)) div $k"))
              .as("est_intersect"))
          .orderBy("ea", "eb")
      },
      Some("""WITH items AS (
          SELECT DISTINCT event_type AS et,
                 user_id * 512 + CAST(dayofyear(CAST(ts AS TIMESTAMP)) AS BIGINT) AS item
          FROM events),
        th AS (
          SELECT DISTINCT et,
                 CAST(('0x' || substr(md5('kmv:' || CAST(item AS VARCHAR)), 1, 8)) AS BIGINT) AS h
          FROM items),
        sk AS (
          SELECT et, h FROM (
            SELECT et, h, row_number() OVER (PARTITION BY et ORDER BY h) AS rn
            FROM th) WHERE rn <= 64),
        ets AS (SELECT DISTINCT et FROM sk),
        prs AS (SELECT a.et AS ea, b.et AS eb FROM ets a JOIN ets b ON a.et < b.et),
        mrows AS (
          SELECT p.ea, p.eb, s.h FROM prs p JOIN sk s ON s.et = p.ea
          UNION
          SELECT p.ea, p.eb, s.h FROM prs p JOIN sk s ON s.et = p.eb),
        mstat AS (SELECT ea, eb, count(*) AS mn FROM mrows GROUP BY 1, 2),
        theta AS (
          SELECT ea, eb, h AS th FROM (
            SELECT ea, eb, h, row_number() OVER (PARTITION BY ea, eb ORDER BY h) AS rn
            FROM mrows) WHERE rn = 64),
        common AS (
          SELECT p.ea, p.eb, count(*) AS nc
          FROM prs p
          JOIN sk sa ON sa.et = p.ea
          JOIN sk sb ON sb.et = p.eb AND sb.h = sa.h
          LEFT JOIN theta t ON t.ea = p.ea AND t.eb = p.eb
          WHERE t.th IS NULL OR sa.h <= t.th
          GROUP BY 1, 2)
        SELECT p.ea, p.eb,
          COALESCE(nc, 0) AS n_common,
          CASE WHEN t.th IS NULL THEN mn
               ELSE (63 * 4294967296) // t.th END AS est_union,
          CASE WHEN t.th IS NULL THEN COALESCE(nc, 0)
               ELSE (COALESCE(nc, 0) * ((63 * 4294967296) // t.th)) // 64 END AS est_intersect
        FROM prs p
        JOIN mstat m ON m.ea = p.ea AND m.eb = p.eb
        LEFT JOIN theta t ON t.ea = p.ea AND t.eb = p.eb
        LEFT JOIN common c ON c.ea = p.ea AND c.eb = p.eb
        ORDER BY p.ea, p.eb""")),

    QDef("agg_countmin",
      // Count-Min sketch: 4 x 64 counter cells from 4 independent salted
      // md5 hashes (engine-portable, deterministic), built as ONE map-side-combined
      // aggregate over a 4-way stack — the cells are plain sums, so
      // sketches MERGE across partitions/days/tenants by cell-wise
      // addition (the same composition contract as agg_hll_union) while
      // total sketch size stays 256 longs regardless of input size.
      // Estimate per key = min over the 4 rows; CMS guarantees
      // n_est >= n_true, and the oracle checks exact equality of both
      // numbers per key (everything integer arithmetic).
      (s, dir) => {
        // One INDEPENDENT md5 per row (salted "cm<i>:" prefix), not
        // affine rehashes of one digest: affine maps (a*b+c) % 64 with
        // odd a all induce the SAME key partition mod 64, so two keys
        // collide in every row or none and min-over-4 degenerates to
        // d=1. Salted digests give the pairwise-independent rows the
        // d×w error bound actually assumes.
        def hc(i: Int, c: org.apache.spark.sql.Column) =
          pmod(graft.functions.Text.md5Hash32(
            concat(lit(s"cm$i:"), c.cast("string"))), lit(64L))
        def withHashes(df: org.apache.spark.sql.DataFrame) = df.select(
          df.columns.map(col) ++
            (0 to 3).map(i => hc(i, col("k")).as(s"h$i")): _*)
        val hashSpec = "stack(4, 0, h0, 1, h1, 2, h2, 3, h3) AS (i, h)"
        // Pre-aggregate per key BEFORE hashing: the sketch increments
        // cell (i, h(k)) once per ROW, but summing each key's count
        // into its cells is the same arithmetic with |keys| md5 chains
        // instead of |rows| — the map-side-combine form of the same
        // sketch (2k digests here instead of 2.4M; the equivalence is
        // exact, not approximate).
        val keys = t(s, dir, "lineitem").select(col("l_partkey").as("k"))
          .groupBy("k").agg(count(lit(1)).as("n_true"))
        val kh = withHashes(keys).selectExpr("k", "n_true", hashSpec)
        val cells = kh.groupBy("i", "h").agg(sum(col("n_true")).as("c"))
        kh.join(broadcast(cells), Seq("i", "h"))
          .groupBy("k", "n_true").agg(min(col("c")).as("n_est"))
          .select(col("k").as("part"), col("n_true"), col("n_est"),
            (col("n_est") - col("n_true")).as("overcount"))
          .orderBy(col("n_true").desc, col("part")).limit(25)
      },
      Some("""WITH keys AS (
          SELECT l_partkey AS k, count(*) AS n_true FROM lineitem GROUP BY 1),
        hashed AS (
          SELECT k, n_true, 0 AS i, CAST(('0x' || substr(md5('cm0:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS h FROM keys
          UNION ALL SELECT k, n_true, 1, CAST(('0x' || substr(md5('cm1:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 64 FROM keys
          UNION ALL SELECT k, n_true, 2, CAST(('0x' || substr(md5('cm2:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 64 FROM keys
          UNION ALL SELECT k, n_true, 3, CAST(('0x' || substr(md5('cm3:' || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 64 FROM keys),
        cells AS (SELECT i, h, CAST(sum(n_true) AS BIGINT) AS c
                  FROM hashed GROUP BY i, h),
        est AS (
          SELECT hashed.k, min(cells.c) AS n_est
          FROM hashed JOIN cells USING (i, h) GROUP BY hashed.k)
        SELECT keys.k AS part, keys.n_true, est.n_est,
               est.n_est - keys.n_true AS overcount
        FROM keys JOIN est ON est.k = keys.k
        ORDER BY n_true DESC, part LIMIT 25""")),

    QDef("win_anomaly_mad",
      // Robust outlier detection: per (event_type, day) lower-median
      // and MAD (median absolute deviation), flagging rows with
      // |v − med| > 3·MAD. Lower medians are SELECTED data values
      // (row_number = (n+1) div 2 in (value, id) order), never
      // interpolated — so every arithmetic step (subtraction, 3·mad,
      // the comparison) is exact IEEE on both engines; interpolated
      // quantiles would put an engine-specific rounding inside a
      // threshold. Keying by (type, day) bounds every window partition
      // (the 100 TB shape: thousands of small groups, not one giant
      // per-type reducer); all four passes reuse the ONE (type, day)
      // hash partitioning, so the whole query is a single shuffle.
      (s, dir) => {
        val keys = Seq(col("event_type"), col("day"))
        val wAll = Window.partitionBy(keys: _*)
        val wVal = wAll.orderBy(col("value"), col("event_id"))
        val base = t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"),
            to_date(col("ts")).as("day"))
          .withColumn("rn", row_number().over(wVal))
          .withColumn("cnt", count(lit(1)).over(wAll))
          .withColumn("med",
            max(when(col("rn") === expr("(cnt + 1) div 2"), col("value")))
              .over(wAll))
          .withColumn("dev", abs(col("value") - col("med")))
        val wDev = wAll.orderBy(col("dev"), col("event_id"))
        base
          .withColumn("rn2", row_number().over(wDev))
          .withColumn("mad",
            max(when(col("rn2") === expr("(cnt + 1) div 2"), col("dev")))
              .over(wAll))
          .filter(col("dev") > lit(3d) * col("mad"))
          .select("event_id", "event_type", "day", "value", "med", "mad")
          .orderBy("event_id")
      },
      Some("""WITH g AS (
          SELECT event_id, event_type, value,
            CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
          FROM events),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY event_type, day
                               ORDER BY value, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type, day) AS cnt
          FROM g),
        m AS (
          SELECT *,
            max(CASE WHEN rn = (cnt + 1) // 2 THEN value END)
              OVER (PARTITION BY event_type, day) AS med
          FROM r),
        d AS (SELECT *, abs(value - med) AS dev FROM m),
        r2 AS (
          SELECT *,
            row_number() OVER (PARTITION BY event_type, day
                               ORDER BY dev, event_id) AS rn2
          FROM d),
        m2 AS (
          SELECT *,
            max(CASE WHEN rn2 = (cnt + 1) // 2 THEN dev END)
              OVER (PARTITION BY event_type, day) AS mad
          FROM r2)
        SELECT event_id, event_type, day, value, med, mad
        FROM m2 WHERE dev > 3 * mad ORDER BY event_id""")),

    QDef("layout_global_index",
      // Global ordinal assignment over a total order WITHOUT a
      // single-reducer sort: `row_number() OVER (ORDER BY …)` puts the
      // whole dataset through one window partition (the driver-killer
      // at scale); `monotonically_increasing_id` is partition-layout-
      // dependent, not an ordinal. The shard-offset pattern instead:
      // (1) one tiny aggregate finds the key range, (2) rows shard
      // deterministically by value into bounded ranges, (3) per-shard
      // counts (map-side combined, ≤shards rows) cumulate into shard
      // offsets on the driver-sized side and broadcast back, (4) idx =
      // offset + row_number within the shard. This query was the
      // didactic inline original of that pattern; it now rides the
      // generalized helper (DistributedRank.withGlobalRank — same
      // plan, and the helper derives the shard count from
      // `spark.sql.shuffle.partitions`, so at 100 TB sizing the
      // session's shuffle width for the cluster sizes the per-shard
      // sorts with it; every heavy operator is per-shard).
      (s, dir) => DistributedRank
        .withGlobalRank(t(s, dir, "events").select(col("event_id")),
          col("event_id"), col("event_id"), out = "idx")
        .select(col("event_id"), col("idx"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
          row_number() OVER (ORDER BY event_id) AS idx
        FROM events ORDER BY event_id""")),

    QDef("layout_zorder",
      // Z-order (Morton) layout key over two dimensions — the data
      // CLUSTERING primitive: range-partitioning and sorting the write
      // by z interleaves both dimensions' locality, so a later scan
      // filtering on EITHER p_size or the partkey bucket prunes most
      // files (one-dimensional sort only prunes its own column). The
      // interleave is pure integer arithmetic, identical in any
      // engine; 8 bits per dimension here.
      (s, dir) => t(s, dir, "part")
        .selectExpr("p_partkey", "p_size",
          s"CAST(${zOrderSql("p_size", s"p_partkey % $HilSide", HilBits, "div")} AS BIGINT) AS z")
        .orderBy("z", "p_partkey"),
      Some(s"""SELECT p_partkey, p_size,
          CAST(${zOrderSql("p_size", s"p_partkey % $HilSide", HilBits, "//")} AS BIGINT) AS z
        FROM part ORDER BY z, p_partkey""")),

    QDef("layout_hilbert_index",
      // Hilbert-curve layout key — the clustering upgrade over the
      // Morton key above: the Hilbert walk visits grid-adjacent cells
      // at every step (no quadrant-boundary jumps), so a 2-D range
      // predicate maps to strictly fewer, longer runs of curve
      // positions → fewer files touched after sort-by-key than
      // z-order gives (why table formats offer Hilbert clustering as
      // the multi-dim skipping default). The xy→d walk is a per-row
      // 8-iteration integer loop — a native codegen'd expression
      // ([[graft.functions.HilbertIndexExpr]]); the oracle replays
      // the identical loop as a recursive CTE, one recursion level
      // per bit, so the key is bit-for-bit comparable. Embarrassingly
      // parallel per row; the sort-by-key is the same range exchange
      // any layout write performs.
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"), col("p_size"),
          graft.functions.HilbertIndexExpr.hilbert(
            expr(s"p_size % $HilSide"), expr(s"p_partkey % $HilSide"),
            HilBits).as("h"))
        .orderBy("h", "p_partkey"),
      Some(s"""WITH RECURSIVE hil AS (
          SELECT p_partkey, p_size,
                 CAST(p_size % $HilSide AS BIGINT) AS x,
                 CAST(p_partkey % $HilSide AS BIGINT) AS y,
                 CAST($HilHalf AS BIGINT) AS s,
                 CAST(0 AS BIGINT) AS d
            FROM part
          UNION ALL
          SELECT p_partkey, p_size,
                 CASE WHEN (y & s) > 0 THEN x
                      WHEN (x & s) > 0 THEN $HilMax - y
                      ELSE y END AS x,
                 CASE WHEN (y & s) > 0 THEN y
                      WHEN (x & s) > 0 THEN $HilMax - x
                      ELSE x END AS y,
                 s // 2 AS s,
                 d + s * s * xor(3 * CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END,
                                 CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d
            FROM hil WHERE s > 0)
        SELECT p_partkey, p_size, d AS h
          FROM hil WHERE s = 0
         ORDER BY h, p_partkey""")),

    QDef("layout_skipping_audit",
      // THE layout decision, measured instead of asserted: lay the
      // same table out three ways — 1-D id sort, Morton z-order,
      // Hilbert — into 16 equal-count files each, collect per-file
      // (p_size, partkey-bucket) zonemaps, and count files a fixed
      // workload of eight 2-D range predicates would touch under each
      // layout. This is the audit a table owner runs before choosing
      // a clustering key: the 1-D sort leaves the second dimension
      // spread across every file (16/16 touched), the space-filling
      // curves localize both. File assignment uses the exact global
      // ordinal from the shard-offset rank ([[graft.operators
      // .DistributedRank]]) — a layout write is a range exchange, not
      // a single-reducer window; zonemap collection is one
      // group-by-file aggregate (bounded METADATA, 16 rows per
      // layout); predicate×zonemap intersection is a broadcast cross
      // of two tiny tables. The oracle replays all three orders —
      // including the Hilbert walk as a recursive CTE — over global
      // windows (fine on a single DuckDB node).
      (s, dir) => {
        // Memoized: all three layout passes rank this same projection
        // (and DistributedRank reads its input thrice per pass) — one
        // persisted build computes the Morton/Hilbert keys once.
        val keyed = graft.pipeline.Staged(s, dir, "skip_audit_keyed") {
          t(s, dir, "part").select(
            col("p_partkey"),
            col("p_size").cast("long").as("sz"),
            expr(s"CAST(p_partkey % $HilSide AS BIGINT)").as("bk"),
            expr(s"CAST(${zOrderSql("p_size", s"p_partkey % $HilSide", HilBits, "div")} AS BIGINT)")
              .as("zk"),
            graft.functions.HilbertIndexExpr.hilbert(
              expr(s"p_size % $HilSide"), expr(s"p_partkey % $HilSide"),
              HilBits).as("hk"))
        }
        // ONE grouped distributed rank for all three layouts instead
        // of three rank pipelines: each row explodes into
        // (layout_id, layout_key) and [[DistributedRank
        // .withGroupedRank]] ranks within each layout in a single
        // bounds-agg + counts-agg + offset-join pass. Every layout
        // spreads over all value-range shards (the three key domains
        // share the [0, 64K] span), so no layout serializes through
        // one reducer — the audit's cost was 3× fixed stage latency,
        // not data.
        val lay = keyed.select(col("p_partkey"), col("sz"), col("bk"),
            explode(array(
              struct(lit(0L).as("lid"), col("p_partkey").as("k")),
              struct(lit(1L).as("lid"), col("zk").as("k")),
              struct(lit(2L).as("lid"), col("hk").as("k")))).as("e"))
          .select(col("p_partkey"), col("sz"), col("bk"),
            col("e.lid").as("lid"), col("e.k").as("k"))
        // The per-layout total rides out of the rank's own counts
        // aggregate (totalOut) — a separate count(*) over the keyed
        // table plus a broadcast attach was one more pass over the
        // corpus for a number the rank already computes.
        val boxes = DistributedRank
          .withGroupedRank(lay, col("lid"), col("k"), col("p_partkey"),
            out = "rk", totalOut = Some("n"))
          .withColumn("fid", expr("((rk - 1) * 16) div n"))
          .groupBy("lid", "fid")
          .agg(min("sz").as("s_min"), max("sz").as("s_max"),
            min("bk").as("b_min"), max("bk").as("b_max"))
          .select(element_at(
              array(lit("sorted"), lit("zorder"), lit("hilbert")),
              (col("lid") + 1).cast("int")).as("layout"),
            col("fid"), col("s_min"), col("s_max"), col("b_min"), col("b_max"))
        val preds = s.range(8).select(col("id").as("pid"),
          (col("id") * 6 + 1).as("lo_s"), (col("id") * 6 + 8).as("hi_s"),
          (col("id") * 32).as("lo_b"), (col("id") * 32 + 63).as("hi_b"))
        boxes.crossJoin(broadcast(preds))
          .groupBy("layout", "pid")
          .agg(sum(when(!(col("s_max") < col("lo_s") ||
              col("s_min") > col("hi_s") ||
              col("b_max") < col("lo_b") ||
              col("b_min") > col("hi_b")), 1L).otherwise(0L))
            .as("files_touched"))
          .orderBy("layout", "pid")
      },
      Some(s"""WITH RECURSIVE hil AS (
          SELECT p_partkey,
                 CAST(p_size % $HilSide AS BIGINT) AS x,
                 CAST(p_partkey % $HilSide AS BIGINT) AS y,
                 CAST($HilHalf AS BIGINT) AS s,
                 CAST(0 AS BIGINT) AS d
            FROM part
          UNION ALL
          SELECT p_partkey,
                 CASE WHEN (y & s) > 0 THEN x
                      WHEN (x & s) > 0 THEN $HilMax - y
                      ELSE y END AS x,
                 CASE WHEN (y & s) > 0 THEN y
                      WHEN (x & s) > 0 THEN $HilMax - x
                      ELSE x END AS y,
                 s // 2 AS s,
                 d + s * s * xor(3 * CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END,
                                 CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d
            FROM hil WHERE s > 0),
        hkt AS (SELECT p_partkey, d AS hk FROM hil WHERE s = 0),
        keyed AS (
          SELECT p.p_partkey, CAST(p.p_size AS BIGINT) AS sz,
                 CAST(p.p_partkey % $HilSide AS BIGINT) AS bk,
                 CAST(${zOrderSql("p_size", s"p_partkey % $HilSide", HilBits, "//")} AS BIGINT) AS zk,
                 hkt.hk
          FROM part p JOIN hkt USING (p_partkey)),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed),
        rs AS (
          SELECT 'sorted' AS layout,
                 row_number() OVER (ORDER BY p_partkey) AS rk, sz, bk FROM keyed
          UNION ALL
          SELECT 'zorder', row_number() OVER (ORDER BY zk, p_partkey), sz, bk
          FROM keyed
          UNION ALL
          SELECT 'hilbert', row_number() OVER (ORDER BY hk, p_partkey), sz, bk
          FROM keyed),
        fb AS (
          SELECT layout, ((rk - 1) * 16) // n AS fid,
                 min(sz) AS s_min, max(sz) AS s_max,
                 min(bk) AS b_min, max(bk) AS b_max
          FROM rs CROSS JOIN nt GROUP BY 1, 2),
        preds AS (
          SELECT CAST(i AS BIGINT) AS pid,
                 1 + 6 * i AS lo_s, 8 + 6 * i AS hi_s,
                 32 * i AS lo_b, 63 + 32 * i AS hi_b
          FROM (SELECT unnest(range(8)) AS i))
        SELECT layout, pid,
               CAST(sum(CASE WHEN NOT (s_max < lo_s OR s_min > hi_s
                                  OR b_max < lo_b OR b_min > hi_b)
                        THEN 1 ELSE 0 END) AS BIGINT) AS files_touched
        FROM fb CROSS JOIN preds
        GROUP BY layout, pid ORDER BY layout, pid"""))
  )
}
