package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.functions.Text
import graft.streaming.StreamRuns

/** Structured Streaming surface (SURVEY.md §2.2 streaming rows). Each
  * entry runs a real streaming query to completion inside the query fn —
  * file sources with AvailableNow (the incremental per-file pipeline of
  * run_pipeline.py:105-109 re-expressed) or a two-phase MemoryStream for
  * watermark late-data semantics — and returns the final sink table,
  * which the DuckDB oracle reproduces in closed form.
  *
  * Scale posture: all state is bounded — window aggregations key on
  * (window, group), dedup state on the key set, and the late-data query
  * demonstrates the watermark actually evicting; nothing buffers the
  * unbounded input.
  */
/** Touched-bucket streaming CDC merge, shared by the
  * `stream_foreach_batch_upsert` QDef and the StreamingSpec
  * copy-on-write pin (which needs the base/feed/result phases
  * separately to assert untouched buckets keep their files).
  */
private[graft] object StreamCdc {
  val NBuckets = 16L
  private def bk(c: org.apache.spark.sql.Column) = pmod(c, lit(NBuckets))

  /** Base snapshot, hive-partitioned by the key bucket. Staged ONCE
    * per (plan, input-data) generation in the immutable shared tree
    * and hardlink-cloned into the per-run `snap` the merge mutates —
    * the run pays a directory clone, not a Spark write job (the same
    * staged-input discipline as the two-phase harness).
    */
  /** The staged base-tree frame — ONE builder shared by [[writeBase]]
    * and [[prestage]] so both produce the identical logical plan and
    * therefore the identical staged-generation key.
    */
  private def baseFrame(s: SparkSession, dir: String): DataFrame =
    CdcFeed.base(s, dir)
      .select(col("o_orderkey"), col("b_status").as("status"),
        col("b_price").as("price"))
      .withColumn("bk", bk(col("o_orderkey")))

  def writeBase(s: SparkSession, dir: String, snap: String): Unit = {
    val staged = StreamRuns.stageAsPartitionedTree(
      baseFrame(s, dir), "upsert-base", Seq("bk"), dir)
    StreamRuns.cloneTree(staged, snap)
  }

  /** Generate (or mtime-touch) the staged base tree and change-feed
    * files without running the merge — the bench's staging phase
    * charges a cold mount's write jobs to staging_sec instead of to
    * the upsert query.
    */
  def prestage(s: SparkSession, dir: String): Unit = {
    StreamRuns.stageAsPartitionedTree(baseFrame(s, dir), "upsert-base",
      Seq("bk"), dir)
    StreamRuns.stageAsFiles(CdcFeed.changes(s, dir), "upsert-feed", 4, dir)
    ()
  }

  /** Stream the change feed in 2-file micro-batches; each batch merges
    * copy-on-write over the touched buckets only.
    */
  def applyFeed(s: SparkSession, dir: String, snap: String): Unit = {
    val changes = CdcFeed.changes(s, dir)
    val src = StreamRuns.stageAsFiles(changes, "upsert-feed", 4, dir)
    val q = s.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", 2).parquet(src)
      .writeStream
      .option("checkpointLocation", StreamRuns.fresh("upsert-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // Driver-side bucket list: ≤ NBuckets longs by construction.
        val bks = b.select(bk(col("o_orderkey")).as("bk"))
          .distinct().collect().map(_.getLong(0))
        val prev = s.read.parquet(snap)
          .filter(col("bk").isin(bks: _*))
          .drop("bk")
          .withColumnRenamed("status", "b_status")
          .withColumnRenamed("price", "b_price")
        // Materialize BEFORE overwriting the paths the plan reads.
        val merged = CdcFeed.merged(prev, b)
          .withColumn("bk", bk(col("o_orderkey")))
          .localCheckpoint(true)
        graft.SparkConfs.withConfs(s,
          Map("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
          merged.write.mode("overwrite").partitionBy("bk").parquet(snap)
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  def result(s: SparkSession, snap: String): DataFrame =
    s.read.parquet(snap)
      .select(col("o_orderkey"), col("status"),
        col("price").cast("double").as("price"))
      .orderBy("o_orderkey")

  /** The one-shot merge closed form the incremental application must
    * equal regardless of batch boundaries.
    */
  def oneShot(s: SparkSession, dir: String): DataFrame =
    CdcFeed.merged(CdcFeed.base(s, dir), CdcFeed.changes(s, dir))
      .select(col("o_orderkey"), col("status"),
        col("price").cast("double").as("price"))
      .orderBy("o_orderkey")
}

object Streaming {
  import QDef._

  /** One staged event row for the MemoryStream phases. */
  final case class Ev(ts: Timestamp, event_type: String, user_id: Long)

  /** Custom per-user state carried across micro-batches. */
  final case class UserState(n: Long, cents: Long)

  /** Snapshot emitted by the stateful function after each batch. */
  final case class UserSnap(user_id: Long, n: Long, cents: Long)

  /** Document row fed to the streaming minhash-dedup phases. */
  final case class DocTxt(doc_id: Long, text: String)

  /** Candidate emitted by the per-bucket dedup state handler. */
  final case class DupCand(doc_id: Long, dup_of: Long)

  /** Event row fed to the timer-session processor. */
  final case class EvV(ts: Timestamp, user_id: Long, value: Double)

  /** Per-user session state for the timer query: running (count,
    * cent-exact sum), the session's last event time, and the currently
    * registered timer (MinValue = none) so re-registration can delete
    * the stale one.
    */
  final case class SessState(n: Long, cents: Long, lastTs: Long, timer: Long)

  /** Session summary emitted when a user's inactivity timer fires. */
  final case class SessOut(user_id: Long, n: Long, cents: Long)

  /** Inactivity-timeout sessionizer on event-time timers: rows extend
    * the current session and move the user's single timer to
    * lastTs + gap; when the watermark passes the timer the session is
    * emitted from handleExpiredTimer and state clears. Within a batch
    * Spark processes input before expiring timers, but the two-phase
    * harness never depends on that: a timer at or below the previous
    * watermark has already fired in the no-data batch that follows
    * every watermark advance, so no pending timer can race a same-user
    * input batch.
    */
  final class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, EvV, SessOut] {
    @transient private var st: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvV],
        tv: TimerValues): Iterator[SessOut] = {
      var acc = if (st.exists()) st.get()
        else SessState(0L, 0L, Long.MinValue, Long.MinValue)
      rows.foreach { ev =>
        acc = SessState(acc.n + 1,
          acc.cents + math.floor(ev.value * 100 + 0.5).toLong,
          math.max(acc.lastTs, ev.ts.getTime), acc.timer)
      }
      if (acc.timer != Long.MinValue) getHandle.deleteTimer(acc.timer)
      val timer = acc.lastTs + gapMs
      getHandle.registerTimer(timer)
      st.update(acc.copy(timer = timer))
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessOut] = {
      val acc = st.get()
      st.clear()
      Iterator.single(SessOut(key, acc.n, acc.cents))
    }
  }

  /** The Spark 4 arbitrary-state processor behind
    * `stream_transform_state`: same per-user (count, cent-exact sum)
    * contract as the flatMapGroupsWithState spelling, carried in a
    * typed ValueState. State lives in the RocksDB store (the only
    * provider transformWithState supports — which StreamRuns already
    * configures) and is keyed per user by the runtime.
    */
  final class UserStatsProcessor
      extends StatefulProcessor[Long, (Long, Double), UserSnap] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("userStats",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: TimerValues): Iterator[UserSnap] = {
      var acc = if (st.exists()) st.get() else UserState(0L, 0L)
      rows.foreach { case (_, v) =>
        acc = UserState(acc.n + 1, acc.cents + math.floor(v * 100 + 0.5).toLong)
      }
      st.update(acc)
      Iterator.single(UserSnap(key, acc.n, acc.cents))
    }
  }

  /** Per-(user, event_type) snapshot row from the MapState processor. */
  final case class TypeSnap(user_id: Long, event_type: String, n: Long,
      cents: Long)

  /** MapState demonstrator: per-user map of event_type -> running
    * (count, cent-exact sum), point-updated per input row and emitted
    * as a full snapshot per batch — the keyed-sub-state shape (per-user
    * per-type counters) that a single ValueState would have to
    * serialize wholesale on every update, and that MapState updates
    * one key at a time in the RocksDB store.
    */
  final class TypeStatsProcessor
      extends StatefulProcessor[Long, (Long, String, Double), TypeSnap] {
    @transient private var mp: org.apache.spark.sql.streaming.MapState[String, UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mp = getHandle.getMapState[String, UserState]("typeStats",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Double)],
        tv: TimerValues): Iterator[TypeSnap] = {
      rows.foreach { case (_, et, v) =>
        val cur = if (mp.containsKey(et)) mp.getValue(et) else UserState(0L, 0L)
        mp.updateValue(et,
          UserState(cur.n + 1, cur.cents + math.floor(v * 100 + 0.5).toLong))
      }
      mp.iterator().map { case (et, st) => TypeSnap(key, et, st.n, st.cents) }
    }
  }

  /** Event row (with delivery id) fed to the chained dedup→window query. */
  final case class EvD(event_id: Long, ts: Timestamp, event_type: String)

  /** Phase feed for `stream_chained_stateful`: a time-fraction split
    * plus deliberate REDELIVERIES of phase-1 rows in phase 2 — arm A
    * strictly above wm1 (only the dedup state carried across batches
    * can kill these), arm B at/below wm1 (killed before the aggregate
    * by the dedup late bound, or — where its state already expired —
    * by the aggregate's closed-window filter; either layering leaves
    * the same output). Output is therefore invariant to the
    * duplicates: the exactly-once contract the oracle checks.
    * StreamingSpec pins both arms non-empty.
    */
  private[graft] object ChainFeed {
    val GapMs: Long = 10 * 60 * 1000L
    def split(all: Array[(Long, Timestamp, String)])
        : (Seq[EvD], Seq[EvD], Int, Int) = {
      val msOf = (x: (Long, Timestamp, String)) => x._2.getTime
      val mn = all.map(msOf).min
      val mx = all.map(msOf).max
      val cut = mn + math.floor((mx - mn) * 0.8).toLong
      val (p1, p2o) = all.partition(msOf(_) <= cut)
      val wm1 = p1.map(msOf).max - GapMs
      val dupA = p1.filter(msOf(_) > wm1)
      val dupB = p1.filter(x => msOf(x) <= wm1 && x._1 % 7 == 0)
      def evs(xs: Array[(Long, Timestamp, String)]): Seq[EvD] =
        xs.map(x => EvD(x._1, x._2, x._3)).toSeq
      (evs(p1), evs(p2o) ++ evs(dupA) ++ evs(dupB),
        dupA.length, dupB.length)
    }
  }

  /** The batch frame behind the shared "events" staged copy — ONE
    * builder for [[eventsStream]] and [[prestageInputs]] so the staged
    * generation key (plan fingerprint) matches between the staging
    * phase and the queries.
    */
  private def eventsBatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))

  /** The documents frame behind the staged "ingest" copy (same shared
    * builder discipline as [[eventsBatch]]).
    */
  private def ingestDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))

  /** Stream the events table back from a staged multi-file parquet copy. */
  private def eventsStream(s: SparkSession, dir: String, tag: String,
      files: Int, perTrigger: Option[Int]): DataFrame = {
    val batch = eventsBatch(s, dir)
    // Shared "events" staging key: all event-stream queries reuse one
    // staged copy per scale dir (memoized in StreamRuns).
    val src = StreamRuns.stageAsFiles(batch, "events", files, dir)
    val r = s.readStream.schema(batch.schema)
    perTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(src)
  }

  // ---- Two-phase feed builders, one per file-replay query ----------
  // Each is the SINGLE source of its query's phase frames: the query
  // body and prestageInputs both call it, so the staged-generation
  // keys (plan fingerprint + file count) are identical by construction
  // and a prestaged tree is always a query-time memo hit. The cut
  // derivations run tiny driver-side 1-row aggregates — those are part
  // of the feed definition, not of the stream being timed.

  /** `stream_update_mode` phases: 80% time cut aligned to NOON of its
    * day so the straddling 1-day window has rows on both sides at
    * every SF.
    */
  private def updmodePhases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = t(s, dir, "events")
      .select(col("ts"), col("event_type"), col("user_id"))
    val b = e.agg(min(unix_millis(col("ts"))).as("mn"),
      max(unix_millis(col("ts"))).as("mx")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val raw = mn + math.floor((mx - mn) * 0.8).toLong
    val cut = raw - raw % 86400000L + 43200000L
    (e.filter(unix_millis(col("ts")) <= cut),
      e.filter(unix_millis(col("ts")) > cut))
  }

  /** `stream_minhash_dedup` phases: doc_id-range split at the id
    * midrange (any range cut keeps every smaller id in the same or an
    * earlier batch, which is what the closed form needs).
    */
  private def mhdedupPhases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val b = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx")).head()
    val cut = (b.getLong(0) + b.getLong(1) + 1L) / 2L
    (docs.filter(col("doc_id") < cut), docs.filter(col("doc_id") >= cut))
  }

  /** `stream_timer_timeout` phases: first 80% of the corpus time span
    * (a key split would put nearly every phase-2 row below wm1 — see
    * the query's comment).
    */
  private def timerPhases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = t(s, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
    val b = e.agg(min(unix_millis(col("ts"))).as("mn"),
      max(unix_millis(col("ts"))).as("mx")).head()
    val cut = b.getLong(0) +
      math.floor((b.getLong(1) - b.getLong(0)) * 0.8).toLong
    (e.filter(unix_millis(col("ts")) <= cut),
      e.filter(unix_millis(col("ts")) > cut))
  }

  /** `stream_late_data` phases: event_id % 3 split (phase 2 replays
    * the stragglers).
    */
  private def latePhases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = t(s, dir, "events")
      .select(col("ts"), col("event_type"), col("user_id"), col("event_id"))
    def phase(p: Column) = e.filter(p).drop("event_id")
    (phase(col("event_id") % 3 =!= 0), phase(col("event_id") % 3 === 0))
  }

  /** `stream_chained_stateful` phases: 80% time cut plus the two
    * redelivery arms (see ChainFeed).
    */
  private def chainPhases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"))
    val ms = unix_millis(col("ts"))
    val b = e.agg(min(ms).as("mn"), max(ms).as("mx")).head()
    val cut = b.getLong(0) +
      math.floor((b.getLong(1) - b.getLong(0)) * 0.8).toLong
    val p1 = e.filter(ms <= cut)
    val wm1 = p1.agg(max(ms)).head().getLong(0) - ChainFeed.GapMs
    val p2 = e.filter(ms > cut)
      .union(p1.filter(ms > wm1))
      .union(p1.filter(ms <= wm1 && col("event_id") % 7 === 0))
    (p1, p2)
  }

  /** Pre-generate EVERY staged stream input for `dir`, so on a cold
    * scratch mount the Spark write jobs that materialize the shared
    * immutable trees (the events/documents copies, the five two-phase
    * feeds, the CDC base snapshot + change feed) are charged to the
    * bench's staging phase instead of to whichever timed stream query
    * touches each tree first — the r16 record spikes
    * (stream_stream_left_join 16.8 s absorbing the events-copy write,
    * stream_chained_stateful 10.6 s the chain-feed writes) were
    * exactly this accounting hole. Every call routes through the same
    * builder its query uses, so on a warm tree this costs one
    * fingerprint check + mtime touch per artifact (plus the tiny
    * 1-row cut aggregates).
    */
  def prestageInputs(s: SparkSession, dir: String): Unit = {
    StreamRuns.stageAsFiles(eventsBatch(s, dir), "events", 4, dir)
    StreamRuns.stageAsFiles(ingestDocs(s, dir), "ingest", 4, dir)
    StreamCdc.prestage(s, dir)
    val phases = Seq(
      "updmode" -> updmodePhases(s, dir),
      "mhdedup" -> mhdedupPhases(s, dir),
      "timer" -> timerPhases(s, dir),
      "late" -> latePhases(s, dir),
      "chain" -> chainPhases(s, dir))
    phases.foreach { case (tag, (p1, p2)) =>
      StreamRuns.prestageTwoPhase(tag, dir, p1, p2)
    }
  }

  val all: Seq[QDef] = Seq(

    QDef("stream_dsv2_ingest",
      // Incremental ingest through the CUSTOM V2 connector's streaming
      // half (graft.sources.GraftTsvMicroBatchStream): the same gtsv
      // layout scan_dsv2_skipping reads in batch mode, drained as an
      // AvailableNow stream — offsets index the name-sorted immutable
      // file list, maxFilesPerTrigger=2 paces admission into bounded
      // micro-batches, and batch/stream share one reader. Stateless
      // filter+project per batch, so sink content == the batch result
      // over the same files, which is what the oracle checks.
      (s, dir) => {
        val out = scratch(s"gtsv_${new java.io.File(dir).getName}/files")
        graft.pipeline.Staged(s, dir, "gtsv_files") {
          graft.sources.GraftTsv.write(t(s, dir, "documents"), out, 8)
          s.range(1).toDF("ok") // marker: layout staged once per session+dir
        }
        val stream = s.readStream.format("graft-tsv")
          .option("maxFilesPerTrigger", "2").load(out)
          .filter(col("n_chars") >= 50)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        StreamRuns.runToMemory(s, stream, "append", "gtsv_ingest")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE n_chars >= 50 ORDER BY doc_id""")),

    QDef("stream_file_ingest",
      // O30-O32: incremental file-discovery ingest, two files per
      // micro-batch, batch normalization logic reused unchanged inside
      // foreachBatch, parquet sink. Final sink content == the batch
      // result over the same input.
      (s, dir) => {
        val docs = ingestDocs(s, dir)
        val src = StreamRuns.stageAsFiles(docs, "ingest", 4, dir)
        val sink = StreamRuns.fresh("ingest-sink")
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 2).parquet(src)
          .withColumn("fp", Text.fingerprint(col("text")))
          .writeStream
          .option("checkpointLocation", StreamRuns.fresh("ingest-ckpt"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.drop("text").write.mode("append").parquet(sink)
          }
          .start()
        q.awaitTermination()
        s.read.parquet(sink).orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars,
          substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp
        FROM documents ORDER BY doc_id""")),

    QDef("stream_foreach_batch_upsert",
      // Incremental CDC apply — pipeline_merge_upsert's change feed
      // arriving as a stream: file source, two files per micro-batch,
      // and each batch MERGEs into a key-bucketed parquet base
      // snapshot inside foreachBatch, copy-on-write over the TOUCHED
      // buckets only: the snapshot is hive-partitioned by a key
      // bucket, the batch's distinct buckets are collected (bounded by
      // the bucket count, never the data), the read back filters to
      // those buckets (partition pruning — untouched files are never
      // opened), and the dynamic-partition-overwrite replaces only
      // those directories. IO per batch ∝ touched buckets, not the
      // snapshot — the lakehouse MERGE INTO shape, built from the same
      // primitive sink_dynamic_overwrite proves. Every change key
      // appears once in the feed, so the final snapshot is independent
      // of batch boundaries — which is what makes the incremental
      // application oracle-checkable in closed form against the
      // one-shot merge.
      (s, dir) => {
        val snap = StreamRuns.fresh("upsert-snap")
        StreamCdc.writeBase(s, dir, snap)
        StreamCdc.applyFeed(s, dir, snap)
        StreamCdc.result(s, snap)
      },
      Some(s"""WITH ${CdcFeed.ctesSql}
        SELECT o_orderkey,
          COALESCE(c_status, b_status) AS status,
          CAST(CASE WHEN op = 'U' THEN c_price ELSE b_price END AS DOUBLE)
            AS price
        FROM base FULL OUTER JOIN chg USING (o_orderkey)
        WHERE op IS NULL OR op = 'U'
        ORDER BY o_orderkey""")),

    QDef("stream_tumbling_window",
      // 5-minute tumbling windows per event type, exact decimal sums;
      // complete mode so every window reaches the sink regardless of
      // the final watermark position.
      (s, dir) => {
        val agg = eventsStream(s, dir, "tumble", 4, None)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("sv"))
        StreamRuns.runToMemory(s, agg, "complete", "tumble")
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("sv").cast("double").as("sum_value"))
          .orderBy("w_start", "event_type")
      },
      Some("""SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    QDef("stream_update_mode",
      // UPDATE output mode: only the (window, type) groups whose
      // aggregate CHANGED in a micro-batch reach the sink — the
      // incremental-refresh contract between append (finals only) and
      // complete (re-emit everything). Two-phase MemoryStream with the
      // deterministic time split gives the closed form: batch 1 emits
      // every group's phase-1 count; batch 2 re-emits the TOTAL count
      // of exactly the groups a phase-2 row touched (no watermark, so
      // state never evicts and the update is cumulative; 1-DAY windows,
      // with the cut aligned to NOON of its day, so the straddling
      // window has rows on both sides and the re-emit arm is live at
      // every SF — a raw 0.8 cut left it dead at sf0.001). The memory
      // sink accumulates update rows, so the final table is
      // u1 ∪ {touched totals} — and a (group) present in both arms
      // always differs in n, keeping the output order total.
      (s, dir) => {
        // Phase split staged as FILES (twoPhaseFilesToMemory): the only
        // driver-side value is the 1-row min/max bounds aggregate the
        // cut derives from — harness memory is corpus-independent.
        val (p1, p2) = updmodePhases(s, dir)
        StreamRuns.twoPhaseFilesToMemory(s, "updmode", dir, p1, p2,
            mode = "update") { df =>
          df.groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").as("w_start"), col("event_type"),
              col("n"))
        }.orderBy("w_start", "event_type", "n")
      },
      Some("""WITH e AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
                 epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
          FROM events),
        b AS (SELECT min(ms) AS mn, max(ms) AS mx FROM e),
        braw AS (SELECT mn + CAST(floor((mx - mn) * 0.8) AS BIGINT) AS r FROM b),
        cut AS (SELECT r - (r % 86400000) + 43200000 AS c FROM braw),
        p1 AS (SELECT * FROM e WHERE ms <= (SELECT c FROM cut)),
        p2 AS (SELECT * FROM e WHERE ms > (SELECT c FROM cut)),
        u1 AS (SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
                      event_type, count(*) AS n
               FROM p1 GROUP BY 1, 2),
        tot AS (SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
                       event_type, count(*) AS n
                FROM e GROUP BY 1, 2),
        u2 AS (SELECT t.* FROM tot t
               WHERE EXISTS (SELECT 1 FROM p2
                             WHERE time_bucket(INTERVAL '1 day', p2.ts) = t.w_start
                               AND p2.event_type = t.event_type))
        SELECT w_start, event_type, n FROM u1
        UNION ALL
        SELECT w_start, event_type, n FROM u2
        ORDER BY w_start, event_type, n""")),

    QDef("stream_sliding_window",
      // 10-minute windows sliding by 5: every event lands in exactly
      // two windows; the oracle unions the two bucket shifts.
      (s, dir) => {
        val agg = eventsStream(s, dir, "slide", 4, None)
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
          .agg(count(lit(1)).as("n"))
        StreamRuns.runToMemory(s, agg, "complete", "slide")
          .select(col("window.start").as("w_start"), col("n"))
          .orderBy("w_start")
      },
      Some("""WITH starts AS (
          SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '5 minutes' FROM events)
        SELECT w_start, count(*) AS n FROM starts GROUP BY 1 ORDER BY w_start""")),

    QDef("stream_session_window",
      // Per-user session windows with a 5-minute gap. Spark starts a
      // new session when the gap to the previous event is >= the
      // timeout (session end is exclusive); the oracle's
      // gaps-and-islands break uses the same >= boundary.
      (s, dir) => {
        val agg = eventsStream(s, dir, "sess", 4, None)
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        StreamRuns.runToMemory(s, agg, "complete", "sess")
          .select(col("user_id"),
            col("session_window.start").as("s_start"),
            col("session_window.end").as("s_end"), col("n"))
          .orderBy("user_id", "s_start")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        m AS (SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                     THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sgrp AS (SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
                 FROM m)
        SELECT user_id, min(ts) AS s_start,
               max(ts) + INTERVAL '5 minutes' AS s_end, count(*) AS n
        FROM sgrp GROUP BY user_id, sid ORDER BY user_id, s_start""")),

    QDef("stream_dedup_state",
      // Stateful streaming dedup on (user_id, event_type) with
      // dropDuplicatesWithinWatermark — O7's first-wins dedup with
      // watermark-bounded state. Output projects the key set, which is
      // order-independent and exactly the batch DISTINCT.
      (s, dir) => {
        val dd = eventsStream(s, dir, "dedup", 4, None)
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
        StreamRuns.runToMemory(s, dd, "append", "dedup")
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    QDef("stream_minhash_dedup",
      // ONLINE MinHash-LSH dedup — the streaming face of the dedup
      // north star: documents arrive in micro-batches, each doc's
      // K=16 min-hashes are computed PER ROW (pure higher-order
      // functions over the bound shingle-hash array — no aggregation,
      // so the signature step is stream-safe and stateless), its 4
      // band buckets key a flatMapGroupsWithState store holding one
      // long per bucket (the smallest doc_id ever seen there), and a
      // doc is flagged against the smallest earlier band-mate. State
      // across batches is load-bearing: phase-2 docs dedup against
      // phase-1 keepers that are nowhere in phase 2's input. Arrival
      // determinism: phases split by doc_id RANGE and the handler
      // processes each batch's bucket members in ascending id order,
      // so every id smaller than d is seen no later than d and the
      // sink equals the batch closed form (min band-mate below d,
      // else -1) — which is exactly what the oracle computes. At
      // 100 TB the state is one long per distinct band signature
      // (RocksDB-backed, shuffle-partitioned on the bucket key);
      // production would add a state TTL to age out cold buckets —
      // semantics here are the unbounded-retention ideal.
      (s, dir) => {
        import s.implicits._
        // Key-RANGE split at the id midrange, phases staged as FILES:
        // the closed form (min earlier band-mate) is split-point
        // independent — any doc_id-range cut keeps every smaller id in
        // the same or an earlier batch — so the exact median the
        // collect-era harness used was never load-bearing; a 1-row
        // bounds aggregate replaces the corpus collect.
        val (p1, p2) = mhdedupPhases(s, dir)
        val cands = StreamRuns.twoPhaseFilesToMemory(s, "mhdedup", dir, p1, p2) { df =>
          // ≙ Dedup.minhashBands per row: the fused native kernel
          // (ShingleMinHashExpr — tokens → shingles → md5 → 16-lane
          // min in one JVM loop; the HOF spelling ran md5 through the
          // interpreted-lambda path at ~2.7 ms/doc and dominated the
          // micro-batch), banded 4×4, bsig = comma-joined mins in k
          // order. The repartition spreads the hash work off
          // MemoryStream's single source partition.
          val withH = df.repartition(8)
            .withColumn("tks", Text.tokens(Text.normTerm(col("text"))))
            .filter(size(col("tks")) >= 3)
          val buckets = array((0 until 4).map { b =>
            concat(lit(s"$b:"), concat_ws(",", (0 until 4).map { j =>
              element_at(col("mins"), b * 4 + j + 1).cast("string")
            }: _*))
          }: _*)
          withH
            .withColumn("mins",
              graft.functions.ShingleMinHashExpr.sig(col("tks")))
            .select(col("doc_id"), explode(buckets).as("bucket"))
            .as[(Long, String)]
            .groupByKey(_._2)
            .flatMapGroupsWithState(
              OutputMode.Append, GroupStateTimeout.NoTimeout) {
              (_: String, it: Iterator[(Long, String)],
               state: GroupState[Long]) =>
                val ids = it.map(_._1).toArray.sorted
                var keeper = state.getOption.getOrElse(Long.MaxValue)
                val out = Seq.newBuilder[DupCand]
                ids.foreach { d =>
                  if (keeper < d) out += DupCand(d, keeper)
                  keeper = math.min(keeper, d)
                }
                state.update(keeper)
                out.result().iterator
            }.toDF()
        }
        t(s, dir, "documents").select(col("doc_id"))
          .join(cands.groupBy("doc_id").agg(min("dup_of").as("dup_of")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${Dedup.minhashBandsSql},
        m AS (
          SELECT a.doc_id, min(b.doc_id) AS dup_of
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bsig = b.bsig AND b.doc_id < a.doc_id
          GROUP BY a.doc_id)
        SELECT d.doc_id, CAST(coalesce(m.dup_of, -1) AS BIGINT) AS dup_of
        FROM documents d LEFT JOIN m USING (doc_id)
        ORDER BY d.doc_id""")),

    QDef("stream_custom_state",
      // Arbitrary stateful processing (flatMapGroupsWithState): per-user
      // running (count, cent-exact sum) state updated across >= 2
      // micro-batches (4 source files, 2 per trigger), a snapshot
      // emitted per batch. The final per-user snapshot — selected by
      // max n, which strictly increases per invocation — equals the
      // batch GROUP BY, which is only possible if state persisted
      // across batches. Sums are integer cents via floor(v*100 + 0.5)
      // so group-iteration order cannot perturb them.
      (s, dir) => {
        import s.implicits._
        val src = eventsStream(s, dir, "state", 4, Some(2))
        val ds = src.select(col("user_id"), col("value")).as[(Long, Double)]
        val out = ds.groupByKey(_._1).flatMapGroupsWithState(
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[(Long, Double)], state: GroupState[UserState]) =>
            var st = state.getOption.getOrElse(UserState(0L, 0L))
            it.foreach { case (_, v) =>
              st = UserState(st.n + 1, st.cents + math.floor(v * 100 + 0.5).toLong)
            }
            state.update(st)
            Iterator(UserSnap(uid, st.n, st.cents))
        }
        val snaps = StreamRuns.runToMemory(s, out.toDF(), "append", "state")
        val w = Window.partitionBy("user_id").orderBy(col("n").desc)
        snaps.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("user_id"), col("n"), col("cents"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
          CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id ORDER BY user_id""")),

    QDef("stream_transform_state",
      // Arbitrary stateful processing on the Spark 4 transformWithState
      // operator (StatefulProcessor + typed ValueState — the
      // successor API to flatMapGroupsWithState, RocksDB-backed):
      // identical per-user contract and oracle as stream_custom_state,
      // so the two APIs are checked against the same closed form. The
      // final snapshot per user (max n, strictly increasing per batch)
      // equals the batch GROUP BY only if state persisted across the
      // >= 2 micro-batches.
      (s, dir) => {
        import s.implicits._
        val src = eventsStream(s, dir, "tws", 4, Some(2))
        val ds = src.select(col("user_id"), col("value")).as[(Long, Double)]
        val out = ds.groupByKey(_._1).transformWithState(
          new UserStatsProcessor, TimeMode.None(), OutputMode.Append())
        val snaps = StreamRuns.runToMemory(s, out.toDF(), "append", "tws")
        val w = Window.partitionBy("user_id").orderBy(col("n").desc)
        snaps.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("user_id"), col("n"), col("cents"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
          CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id ORDER BY user_id""")),

    QDef("stream_map_state",
      // MapState (transformWithState keyed sub-state): per-user
      // event_type -> (count, cent-exact sum) counters, point-updated
      // per row and snapshot per batch. Final per-(user, type) row =
      // max n (strictly increasing for touched keys), which equals the
      // batch GROUP BY — proving the map entries persisted and updated
      // independently across >= 2 micro-batches.
      (s, dir) => {
        import s.implicits._
        val src = eventsStream(s, dir, "mapstate", 4, Some(2))
        val ds = src.select(col("user_id"), col("event_type"), col("value"))
          .as[(Long, String, Double)]
        val out = ds.groupByKey(_._1).transformWithState(
          new TypeStatsProcessor, TimeMode.None(), OutputMode.Append())
        val snaps = StreamRuns.runToMemory(s, out.toDF(), "append", "mapstate")
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("n").desc)
        snaps.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("user_id"), col("event_type"), col("n"), col("cents"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, count(*) AS n,
          CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type""")),

    QDef("stream_timer_timeout",
      // EVENT-TIME TIMERS (transformWithState registerTimer /
      // handleExpiredTimer): per-user inactivity sessions with a
      // 10-minute gap, emitted when the watermark passes
      // lastTs + gap — the push-based timeout pattern session_window
      // cannot express (it emits on the NEXT event; timers emit
      // without one). Two-phase MemoryStream with a zero-delay
      // watermark gives the closed form: after phase 1 (wm1 = max p1
      // ts), exactly the users with p1Last + gap <= wm1 emit their
      // phase-1 session and their phase-2 rows restart a fresh one;
      // everyone else's phase-2 rows merge into the open session
      // (re-registering the timer). After phase 2 (wm2 = max all ts)
      // every open session whose last activity + gap <= wm2 emits;
      // the rest stay in state unemitted. The oracle computes both
      // emission sets directly, with the operator's strict row-level
      // late bound modeled explicitly.
      (s, dir) => {
        import s.implicits._
        // TIME-fraction split (first 80% of the corpus span), not a key
        // split: an interleaved key split puts nearly every phase-2 row
        // below wm1, where the late filter drops it — leaving the
        // merge/re-register/fresh-restart arms structurally dead (the
        // same dead-arm trap CdcFeedSpec pins for the CDC feed). With
        // the time split every phase-2 row is strictly above wm1 and
        // all arms run at every scale (TimerArms in StreamingSpec).
        // Phases staged as FILES; only the 1-row bounds aggregate ever
        // reaches the driver.
        val (p1, p2) = timerPhases(s, dir)
        StreamRuns.twoPhaseFilesToMemory(s, "timer", dir, p1, p2) { df =>
          df.withWatermark("ts", "0 seconds")
            .as[EvV]
            .groupByKey(_.user_id)
            .transformWithState(new SessionTimeoutProcessor(10 * 60 * 1000L),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
        }
          .select(col("user_id"), col("n"), col("cents"))
          .orderBy("user_id", "n", "cents")
      },
      Some("""WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
            epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
          FROM events),
        b AS (SELECT min(ms) AS mn, max(ms) AS mx FROM e),
        cut AS (SELECT mn + CAST(floor((mx - mn) * 0.8) AS BIGINT) AS c FROM b),
        p1 AS (SELECT * FROM e WHERE ms <= (SELECT c FROM cut)),
        p2 AS (SELECT * FROM e WHERE ms > (SELECT c FROM cut)),
        wm1 AS (SELECT max(ts) AS w FROM p1),
        wm2 AS (SELECT max(ts) AS w FROM e),
        s1 AS (
          SELECT user_id, count(*) AS n,
            sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents,
            max(ts) AS last_ts
          FROM p1 GROUP BY user_id),
        fired1 AS (
          SELECT s1.*, (last_ts + INTERVAL '10 minutes' <= (SELECT w FROM wm1)) AS f
          FROM s1),
        p2live AS (
          -- STRICT bound: the operator's late filter drops rows with
          -- eventTime <= watermark (LessThanOrEqual in
          -- WatermarkSupport), so a row AT wm1 is dropped. With the
          -- time split all p2 rows are strictly above wm1 anyway.
          SELECT * FROM p2 WHERE ts > (SELECT w FROM wm1)),
        sess2 AS (
          SELECT user_id, ts, value FROM p2live
          UNION ALL
          SELECT p1.user_id, p1.ts, p1.value
          FROM p1 JOIN fired1 USING (user_id) WHERE NOT fired1.f),
        s2 AS (
          SELECT user_id, count(*) AS n,
            sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents,
            max(ts) AS last_ts
          FROM sess2 GROUP BY user_id)
        SELECT user_id, n, CAST(cents AS BIGINT) AS cents FROM fired1 WHERE f
        UNION ALL
        SELECT user_id, n, CAST(cents AS BIGINT) AS cents FROM s2
        WHERE last_ts + INTERVAL '10 minutes' <= (SELECT w FROM wm2)
        ORDER BY user_id, n, cents""")),

    QDef("stream_stream_join",
      // Stream-stream inner join: clicks x purchases per user within a
      // 5-minute follow window, watermarks on both sides bounding the
      // join state (each side buffers only rows younger than watermark +
      // window — the state-cleanup contract that makes the join viable
      // on unbounded input). Single AvailableNow pass, so the emitted
      // set is exactly the closed-form batch join.
      (s, dir) => {
        val clicks = eventsStream(s, dir, "ssj", 4, None)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = eventsStream(s, dir, "ssj2", 4, None)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purch_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "10 minutes")
        val j = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"))
        StreamRuns.runToMemory(s,
            j.select(col("user_id"), col("click_id"), col("purch_id")),
            "append", "ssj")
          .orderBy("user_id", "click_id", "purch_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
         AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '5 minutes'
        ORDER BY c.user_id, click_id, purch_id""")),

    QDef("stream_stream_left_join",
      // Left-outer stream-stream join: unmatched clicks are
      // null-emitted only once the watermark proves no future purchase
      // can match (state expiry), in the final no-new-data micro-batch.
      // The query watermark is the MIN of the two sides' watermarks;
      // a click expires when its join window [c_ts, c_ts+5min] falls
      // fully below it. Clicks younger than that stay in state and are
      // never emitted — the oracle computes exactly that set.
      (s, dir) => {
        val clicks = eventsStream(s, dir, "sslj", 4, None)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = eventsStream(s, dir, "sslj2", 4, None)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purch_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "10 minutes")
        val j = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"),
          "left_outer")
        StreamRuns.runToMemory(s,
            j.select(col("user_id"), col("click_id"), col("purch_id")),
            "append", "sslj")
          .orderBy(col("user_id"), col("click_id"),
            col("purch_id").asc_nulls_first)
      },
      Some("""WITH c AS (
          SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
          FROM events WHERE event_type = 'click'),
        p AS (
          SELECT user_id, event_id AS purch_id, CAST(ts AS TIMESTAMP) AS p_ts
          FROM events WHERE event_type = 'purchase'),
        wmf AS (
          SELECT least((SELECT max(c_ts) FROM c), (SELECT max(p_ts) FROM p))
                 - INTERVAL '10 minutes' AS w),
        matched AS (
          SELECT c.user_id, c.click_id, p.purch_id
          FROM c JOIN p ON c.user_id = p.user_id
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL '5 minutes'),
        unmatched AS (
          SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purch_id
          FROM c, wmf
          WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL '5 minutes')
            AND c.c_ts + INTERVAL '5 minutes' < wmf.w)
        SELECT user_id, click_id, purch_id FROM matched
        UNION ALL SELECT user_id, click_id, purch_id FROM unmatched
        ORDER BY user_id, click_id, purch_id NULLS FIRST""")),

    QDef("stream_late_data",
      // Watermark drop/accept semantics via a two-phase MemoryStream:
      // phase 1 feeds event_id % 3 <> 0, advancing the watermark to
      // wm1 = max(phase-1 ts) - 10 min; phase 2 replays the rest as
      // stragglers. Phase-2 rows whose window already closed under wm1
      // are dropped (the late filter is window-level: drop iff
      // window.end <= wm1); every phase-2 row still advances the
      // watermark (the stats operator precedes the late filter), and
      // Spark runs one final no-new-data micro-batch after a watermark
      // change, so the sink holds every window closed by
      // wm2 = max(all ts) - 10 min, counted over phase-1 plus surviving
      // phase-2 rows — which is what the oracle computes in closed
      // form. Phases are staged as FILES (twoPhaseFilesToMemory) — the
      // replay harness never moves corpus rows through the driver.
      (s, dir) => {
        val (p1, p2) = latePhases(s, dir)
        StreamRuns.twoPhaseFilesToMemory(s, "late", dir, p1, p2) { df =>
          df.withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n"))
        }
          .select(col("window.start").as("w_start"), col("event_type"), col("n"))
          .orderBy("w_start", "event_type")
      },
      Some("""WITH b1 AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
          WHERE event_id % 3 <> 0),
        wm1 AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM b1),
        kept AS (
          SELECT ts, event_type FROM b1
          UNION ALL
          -- Spark's late filter is WINDOW-level, not row-level: a phase-2
          -- row is dropped only when its window has already closed
          -- (window.end <= watermark), so rows with ts < wm1 but inside a
          -- still-open window are aggregated.
          SELECT CAST(ts AS TIMESTAMP), event_type FROM events, wm1
          WHERE event_id % 3 = 0
            AND time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                + INTERVAL '5 minutes' > wm1.w),
        -- The watermark stats operator sits UPSTREAM of the aggregate's
        -- late filter, so every phase-2 row (even a dropped one) advances
        -- the watermark: wm2 derives from max over ALL rows, not kept.
        wm2 AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '10 minutes' AS w FROM events),
        agg AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
                       event_type, count(*) AS n
                FROM kept GROUP BY 1, 2)
        SELECT a.w_start, a.event_type, a.n FROM agg a, wm2
        WHERE a.w_start + INTERVAL '5 minutes' <= wm2.w
        ORDER BY a.w_start, a.event_type""")),

    QDef("stream_static_join",
      // Stream-static join: the streaming fact enriched against a
      // STATIC dimension (per-user segment) inside the streaming
      // query — the dim is broadcast and re-usable every micro-batch
      // with no state store at all (contrast stream_stream_join, where
      // both sides buffer state). The canonical enrichment shape at
      // 100 TB: facts stream, dimensions sit still.
      (s, dir) => {
        // First-touch segment: the user's earliest event type in
        // sequence order (min_by on the unique event id, so the dim is
        // deterministic).
        val dim = t(s, dir, "events")
          .groupBy("user_id")
          .agg(min_by(col("event_type"), col("event_id")).as("seg"))
        val agg = eventsStream(s, dir, "sstatic", 4, None)
          .join(broadcast(dim), "user_id")
          .groupBy("seg")
          .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("sv"))
        StreamRuns.runToMemory(s, agg, "complete", "sstatic")
          .select(col("seg"), col("n"), col("sv").cast("double").as("sum_value"))
          .orderBy("seg")
      },
      Some("""WITH dim AS (
          SELECT user_id, arg_min(event_type, event_id) AS seg
          FROM events GROUP BY 1)
        SELECT seg, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events JOIN dim USING (user_id)
        GROUP BY seg ORDER BY seg""")),

    QDef("stream_chained_stateful",
      // CHAINED STATEFUL OPERATORS in one streaming query (the Spark 4
      // multi-stateful-operator surface): exactly-once ingest dedup
      // (dropDuplicatesWithinWatermark on the unique delivery id)
      // feeding a tumbling window aggregate, append mode, one
      // watermark column through both state stores. Phase 2 redelivers
      // phase-1 rows (ChainFeed arms A/B) — at-least-once delivery —
      // and the sink must equal the duplicate-free closed form: window
      // counts over the distinct delivery ids whose window closed
      // under the final watermark wm2 = max(ts) − 10 min. No original
      // row is ever late by construction (phase-2 originals sit
      // strictly above wm1), so the dedup stage drops exactly the
      // redeliveries and nothing else.
      (s, dir) => {
        // The ChainFeed split replayed as DataFrame filters (phases
        // staged as FILES): p2 = originals past the cut ∪ arm-A
        // redeliveries (p1 rows above wm1) ∪ arm-B redeliveries (p1
        // rows at/below wm1 with event_id % 7 = 0). Driver-side state:
        // two 1-row aggregates (bounds, wm1). ChainFeed.split stays as
        // the spec-side arm-population oracle (StreamingSpec).
        val (p1, p2) = chainPhases(s, dir)
        StreamRuns.twoPhaseFilesToMemory(s, "chain", dir, p1, p2) { df =>
          df.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark("event_id")
            .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n"))
        }
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"))
          .orderBy("w_start", "event_type")
      },
      Some("""WITH wm2 AS (
          SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '10 minutes' AS w
          FROM events),
        agg AS (
          SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
                 event_type, count(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT a.w_start, a.event_type, a.n FROM agg a, wm2
        WHERE a.w_start + INTERVAL '5 minutes' <= wm2.w
        ORDER BY a.w_start, a.event_type"""))
  )
}
