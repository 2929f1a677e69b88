package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct pins for [[BoundedWalk]]'s recognizers — each case is a trap
  * the guards must keep catching (or a bound they must keep seeing)
  * independent of which query currently exercises it. Plans are built
  * over parquet-backed frames: local relations constant-fold and never
  * reach the recognizers (the ConvertToLocalRelation lesson).
  *
  * The adversarial negative corpus (size-asserted, append-only) covers
  * every resolution hop and trust rule the walk carries, at least two
  * cases each:
  *  - id-panel filters: OR-shadowing, negation, fan-out joins, outer
  *    joins keeping the other side, renamed non-id values;
  *  - name trust (domain/FK/unique-id): alias laundering at non-leaf
  *    positions, substring/explode/cast launder, union widening;
  *  - rank caps: rank() ties, corpus partition keys;
  *  - generators: collected-array explode, data-sized sequence;
  *  - literal grids: pmod with a column modulus, year();
  *  - checkpoint hop: unregistered checkpoints (bare and laundered);
  *  - staged-artifact hop: lookalike paths outside the cache root,
  *    fanned-out staged artifacts (id-panel test above).
  * RATCHET RULE: every new hop or trust rule ships with >= 2 negative
  * cases in the same commit; the size assertion makes deletion loud.
  */
class BoundedWalkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")

  private def bounded(df: DataFrame): Boolean =
    BoundedWalk.isBounded(df.queryExecution.optimizedPlan)

  test("a whole-conjunct unique-id range certifies; under OR it must not") {
    assert(bounded(docs.filter(col("doc_id") < 10)))
    assert(bounded(docs.filter(col("doc_id") < 10 && col("n_chars") > 0)))
    // The round-13 advisor trap: an OR'd id range bounds NOTHING — the
    // other disjunct passes corpus rows.
    assert(!bounded(docs.filter(col("doc_id") < 10 || col("n_chars") > 0)))
    assert(!bounded(docs.filter(!(col("doc_id") < 10))))
    // Non-id columns never make an id panel.
    assert(!bounded(docs.filter(col("n_chars") < 10)))
  }

  test("row_number caps over domain-bounded partitions certify; rank() must not") {
    val byLang = Window.partitionBy("lang").orderBy(col("doc_id"))
    assert(bounded(docs
      .withColumn("rk", row_number().over(byLang)).filter(col("rk") === 1)))
    assert(bounded(docs
      .withColumn("rk", row_number().over(byLang)).filter(col("rk") <= 3)))
    // rank()/dense_rank() admit unbounded ties at the cap.
    assert(!bounded(docs
      .withColumn("rk", rank().over(byLang)).filter(col("rk") === 1)))
    // A partition key outside the fixed-enum set bounds nothing.
    val byChars = Window.partitionBy("n_chars").orderBy(col("doc_id"))
    assert(!bounded(docs
      .withColumn("rk", row_number().over(byChars)).filter(col("rk") === 1)))
  }

  test("domain-bounded aggregate keys certify, traced through aliases") {
    assert(bounded(docs.groupBy("lang").agg(count(lit(1)).as("n"))))
    // Alias-traced derived key: hour-of-day has a 24-value domain.
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), hour(col("ts").cast("timestamp")).as("h"))
    assert(bounded(ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))))
    // A corpus-valued key does not.
    assert(!bounded(docs.groupBy("n_chars").agg(count(lit(1)).as("n"))))
  }

  test("value provenance: keys sourced from a bounded join side certify") {
    val panel = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"))
    val joined = panel.join(docs, col("q_id") =!= col("doc_id"))
    val byQ = Window.partitionBy("q_id").orderBy(col("doc_id"))
    // Per-panel-query top-k: ≤ k·|panel| rows though the frame is
    // corpus-sized.
    assert(bounded(joined
      .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 3)))
    // Grouping on the panel-sourced key: ≤ |panel| rows.
    assert(bounded(joined.groupBy("q_id").agg(count(lit(1)).as("n"))))
    // The corpus side's key certifies neither.
    val byD = Window.partitionBy("doc_id").orderBy(col("q_id"))
    assert(!bounded(joined
      .withColumn("rk", row_number().over(byD)).filter(col("rk") <= 3)))
    assert(!bounded(joined.groupBy("doc_id").agg(count(lit(1)).as("n"))))
    // A window FUNCTION output is never value-bounded (its value set
    // grows with the partition size).
    val ranked = joined.withColumn("rk", row_number().over(byQ))
    assert(!bounded(ranked.groupBy("rk").agg(count(lit(1)).as("n"))))
  }

  test("dimension scans match on the final path segment, not substring") {
    assert(bounded(spark.read.parquet(s"$sf/nation.parquet")))
    assert(!bounded(docs)) // documents.parquet is corpus-scaled
    // The round-13 advisor trap: a corpus artifact whose path merely
    // CONTAINS a dimension name must not inherit the bound.
    val trap = graft.queries.QDef.scratch("boundedwalk/part.parquet_like")
    docs.limit(200).write.mode("overwrite").parquet(trap)
    assert(!bounded(spark.read.parquet(trap)))
  }

  test("union and stack feeders trace positionally; every branch must bound") {
    // Union of pmod projections (the bloom bit-position idiom): each
    // branch's column at the position is pmod-by-literal → bounded.
    val bits = (0 until 3).map(i =>
      docs.select(pmod(col("doc_id") + i, lit(64L)).as("bit")))
      .reduce(_ union _)
    assert(bounded(bits.distinct()))
    // One corpus-valued branch poisons the whole union column.
    val mixed = docs.select(pmod(col("doc_id"), lit(64L)).as("bit"))
      .union(docs.select(col("doc_id").as("bit")))
    assert(!bounded(mixed.distinct()))
    // stack() literal row ids × pmod buckets (the CountMin grid): slot
    // 0 is fed by literals, slot 1 by pmod aliases.
    val kh = docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(64L)).as("h0"),
        pmod(col("doc_id") + 1, lit(64L)).as("h1"))
      .selectExpr("stack(2, 0, h0, 1, h1) AS (i, h)")
    assert(bounded(kh.groupBy("i", "h").agg(count(lit(1)).as("c"))))
    // A corpus-valued slot feeder breaks the grid bound.
    val bad = docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(64L)).as("h0"))
      .selectExpr("stack(2, 0, h0, 1, doc_id) AS (i, h)")
    assert(!bounded(bad.groupBy("i", "h").agg(count(lit(1)).as("c"))))
  }

  test("an id panel certifies only over a fan-out-free child") {
    // A join UNDER the filter re-scales the 5-doc panel by its fan-out
    // — the literal no longer bounds the output.
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").as("doc_id"), col("event_type"))
    val fanned = docs.select("doc_id", "lang")
      .join(ev, Seq("doc_id"), "inner")
    assert(!bounded(fanned.filter(col("doc_id") < 5)))
    // The same filter over the un-joined scan stays certified.
    assert(bounded(docs.filter(col("doc_id") < 5)))
  }

  test("a rank cap certifies only with no fan-out between cap and window") {
    // rn <= 3 per lang, then a join that duplicates each capped row per
    // matching corpus row — the cap no longer bounds the filter output.
    val byLang = Window.partitionBy("lang").orderBy(col("doc_id"))
    val ranked = docs.withColumn("rn", row_number().over(byLang))
    val rejoined = ranked.select("doc_id", "lang", "rn")
      .join(docs.select(col("doc_id").as("other_id"), col("lang")), "lang")
    assert(!bounded(rejoined.filter(col("rn") <= 3)))
    // Without the intervening join the cap certifies (see the
    // row_number test above).
  }

  test("multi-path scans need EVERY root bounded; year() is not a domain") {
    // Two roots, both the fixed dim: certified.
    assert(bounded(spark.read.parquet(
      s"$sf/nation.parquet", s"$sf/nation.parquet")))
    // One root bounded, one not (same schema, non-dim name): the
    // relation is only as bounded as its LARGEST root — exists() here
    // would have certified a corpus-scaled mixed scan.
    val other = graft.queries.QDef.scratch("boundedwalk/notdim.parquet")
    spark.read.parquet(s"$sf/nation.parquet")
      .write.mode("overwrite").parquet(other)
    assert(!bounded(spark.read.parquet(s"$sf/nation.parquet", other)))
    // year(ts) has an unbounded codomain — a corpus's time span grows
    // with its size (unlike hour/month/quarter).
    val ev = spark.read.parquet(s"$sf/events.parquet")
    assert(!bounded(ev.groupBy(year(col("ts").cast("timestamp")).as("y"))
      .agg(count(lit(1)).as("n"))))
  }

  test("generators bound only on literal fan-out; exploded collections do not") {
    // A 1-row grand aggregate holding a collected corpus-sized array
    // explodes right back to corpus rows — `Generate over bounded
    // child` alone must never certify.
    val collected = docs.agg(collect_list(col("doc_id")).as("ids"))
    assert(!bounded(collected.select(explode(col("ids")).as("id"))))
    // Literal fan-out over a bounded child stays certified: the 3×3
    // neighbor expansion of a dimension (the spatial-join shape).
    val dim = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"))
    assert(bounded(dim.withColumn("dx",
      explode(sequence(lit(-1L), lit(1L))))))
    // ...but the same literal fan-out over a corpus child proves
    // nothing.
    assert(!bounded(docs.withColumn("dx",
      explode(sequence(lit(-1L), lit(1L))))))
  }

  test("grand aggregates and literal limits certify; bare scans do not") {
    assert(bounded(docs.agg(count(lit(1)).as("n"))))
    assert(bounded(docs.orderBy("doc_id").limit(7)))
    assert(bounded(graft.pipeline.Panels.fixed(docs, "doc_id", 7)))
    assert(!bounded(docs.select("doc_id")))
  }

  // ——— round-15 recognizers ———

  test("domain names certify at leaves only; alias re-labels are traced") {
    // Genuine source column, through projections: still name-certified.
    assert(bounded(docs.select("lang", "doc_id").groupBy("lang")
      .agg(count(lit(1)).as("n"))))
    // Domain-preserving redefinitions certify by their traced branches.
    assert(bounded(docs.select(coalesce(col("lang"), lit("und")).as("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n"))))
    val predLang = when(col("n_chars") > 100, lit("en"))
      .when(col("n_chars") > 50, lit("de")).otherwise(lit("und"))
    assert(bounded(docs.select(predLang.as("pred_lang"))
      .groupBy("pred_lang").agg(count(lit(1)).as("n"))))
    // A CASE with one corpus-valued branch poisons the domain.
    val leaky = when(col("n_chars") > 100, lit("en")).otherwise(col("text"))
    assert(!bounded(docs.select(leaky.as("pred_lang"))
      .groupBy("pred_lang").agg(count(lit(1)).as("n"))))
  }

  test("dimension-FK keys certify at leaves and across a staged rename") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // FK into the supplier dimension, read off its home fact leaf:
    // ≤ |supplier| groups no matter the fact-table size.
    assert(bounded(li.groupBy("l_suppkey").agg(count(lit(1)).as("n"))))
    // Fact keys carry no dimension bound.
    assert(!bounded(li.groupBy("l_orderkey").agg(count(lit(1)).as("n"))))
    // The FK bound survives an `AS s` rename inside a disk-staged build:
    // resolution hops into the recorded build plan by column name.
    val edges = graft.pipeline.Staged.disk(spark, sf, "bw_fk_edges") {
      li.select(col("l_suppkey").as("s")).distinct()
    }
    assert(bounded(edges.groupBy("s").agg(count(lit(1)).as("n"))))
  }

  test("id panels certify only over leaves that cannot repeat the id") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    // Home-table scan: one row per doc_id by construction.
    assert(bounded(docs.filter(col("doc_id") < 5)))
    // A staged artifact with a fan-out-free recorded build plan keeps
    // the panel bound across the write/read boundary…
    val flat = graft.pipeline.Staged.disk(spark, sf, "bw_flat_docs") {
      docs.select(col("doc_id"), col("lang"))
    }
    assert(bounded(flat.filter(col("doc_id") < 5)))
    // …and a literal-fan-out generator in the build multiplies the
    // panel by a constant only (the subvector-unnest idiom).
    val subs = graft.pipeline.Staged.disk(spark, sf, "bw_sub_docs") {
      docs.select(col("doc_id"),
        posexplode(array(lit(0), lit(1))).as(Seq("m", "x")))
    }
    assert(bounded(subs.filter(col("doc_id") < 5)))
    // But a staged artifact whose build JOINED a corpus table repeats
    // each id corpus-many times — the opaque leaf must not be treated
    // as fan-out free (the id-panel-over-artifact hole).
    val fanned = graft.pipeline.Staged.disk(spark, sf, "bw_fanout_docs") {
      docs.select(col("doc_id"))
        .join(ev.select(col("user_id").as("doc_id"), col("value")),
          Seq("doc_id"))
    }
    assert(!bounded(fanned.filter(col("doc_id") < 5)))
    // The id itself is trace-first like domain/FK names: a corpus
    // column renamed to doc_id makes a corpus-growing "panel" (every
    // short doc passes), directly or laundered through a staged build.
    assert(!bounded(docs.select(col("n_chars").as("doc_id"))
      .filter(col("doc_id") < 5)))
    val idLaundered = graft.pipeline.Staged.disk(spark, sf, "bw_id_launder") {
      docs.select(col("n_chars").as("doc_id"))
    }
    assert(!bounded(idLaundered.filter(col("doc_id") < 5)))
    // A genuine pass-through rename of the true id keeps the panel.
    assert(bounded(docs.select(col("doc_id").as("d2"), col("lang"))
      .select(col("d2").as("doc_id"), col("lang"))
      .filter(col("doc_id") < 5)))
  }

  test("staged leaves: registered builds trace; unregistered ones poison") {
    // A registered (Staged.disk) artifact keeps a genuine domain column
    // certifiable — the trace hops into the recorded build plan and
    // bottoms out at the documents leaf.
    val flat = graft.pipeline.Staged.disk(spark, sf, "bw_flat_docs") {
      docs.select(col("doc_id"), col("lang"))
    }
    assert(bounded(flat.groupBy("lang").agg(count(lit(1)).as("n"))))
    // A stagecache leaf with NO recorded build plan (diskKeyed records
    // nothing by design) is resolved-but-untraceable: corpus text
    // laundered into a domain name inside such a build must NOT ride
    // bare-name trust at the read-back leaf.
    val laundered = graft.pipeline.Staged.diskKeyed(spark, sf, "bw_dk_lang")(
      docs.select(col("text").as("lang")))(
      docs.select(col("text").as("lang")))
    assert(!bounded(laundered.groupBy("lang").agg(count(lit(1)).as("n"))))
  }

  test("checkpoint leaves: registered plans trace; laundering poisons") {
    // A REGISTERED checkpoint (Lineage.checkpoint) resolves into the
    // recorded pre-checkpoint plan: a genuine domain column keeps its
    // certification across the boundary…
    val okCkpt = graft.pipeline.Lineage.checkpoint(
      docs.select(col("doc_id"), col("lang")))
    assert(bounded(okCkpt.groupBy("lang").agg(count(lit(1)).as("n"))))
    // …and a corpus column aliased to a domain or FK name BEFORE the
    // checkpoint is judged by its traced definition, exactly like the
    // un-checkpointed plan (the checkpoint-laundering hole: the opaque
    // RDD leaf used to fall back to bare-name trust).
    val laundered = graft.pipeline.Lineage.checkpoint(
      docs.select(col("text").as("lang")))
    assert(!bounded(laundered.groupBy("lang").agg(count(lit(1)).as("n"))))
    val fkLaundered = graft.pipeline.Lineage.checkpoint(
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey").as("l_suppkey")))
    assert(!bounded(
      fkLaundered.groupBy("l_suppkey").agg(count(lit(1)).as("n"))))
    // An UNREGISTERED checkpoint is opaque: poison, never name trust.
    val rawCkpt = docs.select(col("text").as("lang")).localCheckpoint(true)
    assert(!bounded(rawCkpt.groupBy("lang").agg(count(lit(1)).as("n"))))
  }

  test("leaf paths normalize file: scheme spellings") {
    // file:// and file:/// qualified roots must certify like bare paths
    // — a literal 'file:' strip left extra slashes and spuriously
    // de-certified staged artifacts on such Hadoop configurations.
    assert(bounded(spark.read.parquet(s"file://$sf/nation.parquet")))
    assert(bounded(spark.read.parquet(s"file:$sf/nation.parquet")))
  }

  test("the stagecache gate compares fully-qualified locations") {
    val root = graft.pipeline.Staged.cacheRoot.stripSuffix("/")
    // The local root itself, in every local spelling, is inside.
    assert(BoundedWalk.underCacheRoot(s"$root/tag-1-aabb"))
    assert(BoundedWalk.underCacheRoot(s"file:$root/tag-1-aabb"))
    assert(BoundedWalk.underCacheRoot(s"file://$root/tag-1-aabb"))
    // A REMOTE location sharing the root's PATH is not: scheme and
    // authority are part of the identity (a bare-path comparison would
    // judge an hdfs artifact by the local registry).
    assert(!BoundedWalk.underCacheRoot(s"hdfs://evil$root/tag-1-aabb"))
    assert(!BoundedWalk.underCacheRoot(s"file://otherhost$root/tag-1-aabb"))
    assert(!BoundedWalk.underCacheRoot(s"s3a://bucket$root/tag-1-aabb"))
  }

  test("the id-panel home-table knowledge is keyed per id") {
    // doc_id's home is documents.parquet; vec_id's is
    // embeddings.parquet — a leaf qualifies as fan-out-free only for
    // the PINNED id's own home segment. Today's tables each carry
    // only their own id, so cross-wiring is unreachable live; this
    // pins the rule against a leaf named like ONE home table but
    // filtered on the OTHER table's id (where that id is not
    // one-row-per-value).
    assert(bounded(spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 5)))
    val crossed = graft.queries.QDef.scratch("boundedwalk/embeddings.parquet")
    docs.select(col("doc_id")).limit(300)
      .write.mode("overwrite").parquet(crossed)
    assert(!bounded(spark.read.parquet(crossed).filter(col("doc_id") < 5)),
      "a doc_id panel certified over a leaf that is vec_id's home, " +
        "not doc_id's")
  }

  test("tracing through a column-pruned cached scan maps positions correctly") {
    // The cached physical subtree reads the persisted base through an
    // InMemoryTableScan PRUNED to one column; positional hopping via
    // the scan's own output mapped column 0 of the cached plan (the
    // corpus key) instead of the pruned column — the trace must route
    // through the relation's full output.
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val base = ev.select(col("user_id"), col("event_type")).persist()
    val agg = base.groupBy("event_type").agg(count(lit(1)).as("n")).persist()
    try {
      agg.count()
      assert(bounded(agg.filter(col("n") > 0)))
    } finally {
      agg.unpersist(false); base.unpersist(false); ()
    }
  }

  test("adversarial plans that MUST stay unbounded (negative corpus)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val byLang = Window.partitionBy("lang").orderBy(col("doc_id"))
    val byChars = Window.partitionBy("n_chars").orderBy(col("doc_id"))
    val fanned = docs.select("doc_id", "lang")
      .join(ev.select(col("user_id").as("doc_id"), col("value")), Seq("doc_id"))
    // Each case is a closed soundness hole with the trick it attempts;
    // a recognizer extension that certifies ANY of these has
    // over-reached and must be rolled back.
    val adversarial: Seq[(String, DataFrame)] = Seq(
      "OR-shadowed id bound" ->
        docs.filter(col("doc_id") < 10 || col("n_chars") > 0),
      "negated id bound" ->
        docs.filter(!(col("doc_id") < 10)),
      "id bound above a fan-out join" ->
        fanned.filter(col("doc_id") < 5),
      "rank() tie cap (unbounded ties)" ->
        docs.withColumn("rk", rank().over(byLang)).filter(col("rk") === 1),
      "row_number cap over a corpus partition key" ->
        docs.withColumn("rk", row_number().over(byChars))
          .filter(col("rk") === 1),
      "corpus text laundered as a domain name" ->
        docs.select(col("text").as("lang")).groupBy("lang")
          .agg(count(lit(1)).as("n")),
      "substring of corpus text laundered as a label" ->
        docs.select(substring(col("text"), 1, 8).as("label"))
          .groupBy("label").agg(count(lit(1)).as("n")),
      "exploded corpus tokens laundered as a domain name" ->
        docs.select(explode(split(col("text"), " ")).as("lang"))
          .groupBy("lang").agg(count(lit(1)).as("n")),
      "corpus id laundered as a dimension FK" ->
        docs.select(col("doc_id").as("l_suppkey")).groupBy("l_suppkey")
          .agg(count(lit(1)).as("n")),
      "union branch widening a domain column with corpus values" ->
        docs.select(col("lang")).union(docs.select(col("text").as("lang")))
          .groupBy("lang").agg(count(lit(1)).as("n")),
      "union type-widening over a laundered key" ->
        docs.select(pmod(col("doc_id"), lit(64L)).cast("int").as("b"))
          .union(docs.select(col("doc_id").cast("int").as("b")))
          .groupBy("b").agg(count(lit(1)).as("n")),
      "year() grouping (span grows with the corpus)" ->
        ev.groupBy(year(col("ts").cast("timestamp")).as("y"))
          .agg(count(lit(1)).as("n")),
      "fact key grouping (no dimension bound)" ->
        li.groupBy("l_orderkey").agg(count(lit(1)).as("n")),
      "explode of a collected corpus array over a 1-row aggregate" ->
        docs.agg(collect_list(col("doc_id")).as("ids"))
          .select(explode(col("ids")).as("id")),
      "corpus column renamed to an event-type domain name" ->
        ev.select(col("value").cast("string").as("event_type"))
          .groupBy("event_type").agg(count(lit(1)).as("n")),
      // —— round-16 additions, one pair per r15/r16 resolution hop ——
      // Checkpoint hop: an UNREGISTERED localCheckpoint is an opaque
      // leaf that must poison even when its pre-checkpoint plan was
      // bounded — only Lineage.checkpoint's recorded plan certifies.
      "unregistered checkpoint of a bounded frame" ->
        docs.limit(5).localCheckpoint(true),
      "domain name laundered through an unregistered checkpoint" ->
        docs.select(col("lang")).localCheckpoint(true)
          .groupBy("lang").agg(count(lit(1)).as("n")),
      // Cross-side leaf binding: a bounded id panel on ONE side of an
      // outer join must not certify output that keeps the other
      // side's unmatched corpus rows.
      "right outer join keeps corpus rows past a bounded left panel" ->
        docs.select(col("doc_id")).filter(col("doc_id") < 5)
          .join(ev, col("doc_id") === col("user_id"), "right"),
      // Staged-artifact hop: the tag-hash directory NAME certifies
      // nothing outside Staged.cacheRoot (and nothing without a
      // registered build plan).
      "staged-tag lookalike directory outside the cache root" -> {
        val fake = graft.queries.QDef.scratch(
          "boundedwalk/cc_labels-1234567890-aabbccdd11223344")
        docs.limit(200).write.mode("overwrite").parquet(fake)
        spark.read.parquet(fake)
      },
      // Generator rule: literal fan-out is bounded; DATA-sized fan-out
      // (sequence length from a corpus column) is not.
      "sequence explode sized by a corpus column" ->
        docs.select(explode(sequence(lit(1), col("n_chars"))).as("i"))
          .groupBy("i").agg(count(lit(1)).as("n")),
      // pmod grids: only a LITERAL modulus bounds the codomain.
      "pmod bucket with a column modulus" ->
        docs.select(pmod(col("doc_id"), col("n_chars")).as("b"))
          .groupBy("b").agg(count(lit(1)).as("n")),
      // Unique-id trust is leaf-only: corpus values renamed to an id
      // name then panel-filtered bound values, not rows.
      "corpus values renamed to a unique-id name then panel-filtered" ->
        ev.select(col("value").cast("long").as("doc_id"))
          .filter(col("doc_id") < 5),
      // OR with a data-dependent between: the literal window's bound
      // must not leak across the disjunction.
      "literal id window OR'd with a data-dependent between" ->
        docs.filter(col("doc_id").between(1, 5) ||
          col("doc_id").between(lit(1), col("n_chars"))))
    // Ratchet (round-16 rule): every new resolution hop or trust rule
    // ships with >= 2 negative cases in the same commit, and the
    // corpus only grows — deleting a case must fail here, not vanish
    // in a diff.
    assert(adversarial.size >= 23,
      s"adversarial corpus shrank to ${adversarial.size} — cases are " +
        "append-only; a recognizer change that needs one gone is " +
        "over-reaching")
    val certified = adversarial.collect {
      case (label, df) if bounded(df) => label
    }
    assert(certified.isEmpty,
      s"over-certified adversarial plans: ${certified.mkString("; ")}")
  }

  test("__gr_shard_ is a reserved prefix minted only by DistributedRank") {
    // The walk name-trusts __gr_shard_* (alias-defined by the helper's
    // literal decimal math), so the prefix must stay the helper's
    // private namespace: no other main source may mint it. Anchored to
    // the working directory (sbt forks tests with user.dir = repo
    // root) and asserted to EXIST — a silently-empty walk would pass
    // the invariant vacuously on a relocated checkout.
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala")
    assert(root.isDirectory,
      s"main source root not found at $root — fix the anchor, do not skip")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val offenders = walk(root)
      .filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "DistributedRank.scala")
      .filter { f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .contains("__gr_shard_")
      }
      .map(_.getName)
    assert(offenders.isEmpty,
      s"__gr_shard_ minted outside DistributedRank: ${offenders.mkString(", ")}")
  }
}
