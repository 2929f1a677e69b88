package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Multimodal

/** Multimodal binary-column queries (north star). `multimodal_meta` is
  * oracle-checked binary handling in pure built-ins; the stub-decode
  * pipeline runs per-partition typed code, but the stub's outputs are
  * deterministic byte functions, so its aggregate is oracle-checked too
  * (and golden-tested byte-for-byte in MultimodalSpec).
  */
object MultimodalQ {
  import QDef._

  private val h32Sql = (e: String) =>
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** Canonical aspect buckets (name, p, q) for multimodal_aspect_bucket;
    * the integer argmin uses 144 = lcm of the qs as the common
    * denominator, so every distance is exact. Bucket count must stay
    * < 8 (the idx packs into the low 3 bits of the argmin key).
    */
  private val AspectBuckets: Seq[(String, Int, Int)] = Seq(
    ("1:1", 1, 1), ("4:3", 4, 3), ("3:4", 3, 4), ("16:9", 16, 9),
    ("9:16", 9, 16), ("3:2", 3, 2), ("2:3", 2, 3))

  private val aspectKeysSql = AspectBuckets.zipWithIndex
    .map { case ((_, p, q), i) => s"abs($p * h - $q * w) * ${144 / q} * 8 + $i" }
    .mkString(", ")

  private val aspectCaseSql = AspectBuckets.zipWithIndex
    .map { case ((n, _, _), i) => s"WHEN $i THEN '$n'" }.mkString(" ")

  /** Oracle CTE chain for the phash family, through `cand`
    * (media_a, media_b, hamming) — UNFILTERED on the Hamming radius so
    * callers state their own threshold.
    */
  private val phashCandSql: String = {
    val votes = (0 until 32)
      .map(b => s"sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(", ")
    val sig = (0 until 32)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""grams AS (
          SELECT doc_id AS media_id,
                 substr(hex(encode(text)), 1 + j * 8, 8) AS g
          FROM documents,
               unnest(range(octet_length(encode(text)) // 4)) AS u(j)),
        th AS (
          SELECT media_id,
                 CAST(('0x' || substr(md5('ph:' || g), 1, 8)) AS BIGINT) AS h
          FROM grams),
        v AS (SELECT media_id, $votes FROM th GROUP BY media_id),
        sigs AS (SELECT media_id, CAST($sig AS BIGINT) AS phash FROM v),
        bands AS (
          SELECT media_id, phash, i AS band, (phash >> (i * 8)) & 255 AS bv
          FROM sigs, (SELECT unnest(range(4)) AS i)),
        cand AS (
          SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                 bit_count(xor(a.phash, b.phash)) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id)"""
  }

  /** The first 100 documents as raw files `doc_NNNNN.bin` holding each
    * text's UTF-8 bytes (bounded driver staging, same contract as the
    * XML corpus generator).
    */
  private def binaryFiles(s: SparkSession, dir: String): String = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    graft.pipeline.Staged.layout(dir, "binary_files", "bin", Seq(docs)) { out =>
      new java.io.File(out).mkdirs()
      docs.collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%05d.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
    }
  }

  val all: Seq[QDef] = Seq(

    QDef("scan_binary_files",
      // The raw-media ingest API: spark.read.format("binaryFile") over
      // a directory of opaque files — (path, modificationTime, length,
      // content) per file, which is how images/audio actually enter a
      // multimodal pipeline before becoming the binary COLUMNS the
      // rest of this family processes. Staged as one layout generation
      // from the first 100 docs; the scan extracts the id from
      // the path and digests the bytes, oracle-checked against the
      // source rows.
      (s, dir) => {
        s.read.format("binaryFile").load(binaryFiles(s, dir))
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
              .cast("long").as("media_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("payload_md5"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
          octet_length(encode(text)) AS n_bytes,
          md5(text) AS payload_md5
        FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    QDef("multimodal_meta",
      // Opaque binary payload + typed metadata, all codegen'd built-ins:
      // UTF-8 byte length, payload md5, base64 prefix.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        m.select(col("media_id"), col("kind"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          substring(base64(col("payload")), 1, 24).as("b64_prefix"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
          octet_length(encode(text)) AS n_bytes,
          md5(text) AS payload_md5,
          substr(to_base64(encode(text)), 1, 24) AS b64_prefix
        FROM documents ORDER BY media_id""")),

    QDef("multimodal_decode_stub",
      // The decode pipeline: binary payloads through a per-partition
      // codec (StubCodec — deterministic fake; see Multimodal scaladoc),
      // then a relational aggregate over the extracted features. The
      // stub's outputs are pure functions of the payload bytes, so the
      // oracle reproduces them in closed form (the 8-bucket histogram
      // partitions every byte exactly once, hence feature mass ==
      // byte count); byte-level goldens live in MultimodalSpec.
      (s, dir) => {
        implicit val spark = s
        import s.implicits._
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .as[Multimodal.MediaRow]
        Multimodal.decodeBatch(media, () => new Multimodal.StubCodec())
          .toDF()
          .groupBy("kind")
          .agg(count(lit(1)).as("n"),
            sum(col("n_bytes")).as("total_bytes"),
            avg(col("width")).as("avg_width"),
            max(col("n_frames")).cast("long").as("max_frames"),
            sum(aggregate(col("features"), lit(0.0), (a, x) => a + x))
              .cast("long").as("total_feature_mass"))
          .orderBy("kind")
      },
      Some("""SELECT CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
          count(*) AS n,
          CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
          avg(CASE WHEN octet_length(encode(text)) = 0 THEN 1
                   ELSE 1 + CAST(('0x' || substr(hex(encode(text)), 1, 2)) AS INT) % 64
              END) AS avg_width,
          CAST(max(1 + octet_length(encode(text)) // 1024) AS BIGINT) AS max_frames,
          CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_feature_mass
        FROM documents GROUP BY 1 ORDER BY kind""")),

    QDef("multimodal_resize_stub",
      // The resize step of the decode pipeline: nearest-neighbour
      // downsample as a deterministic byte stride — every 4th payload
      // byte survives, and the resampled content is digested and
      // measured. The real thing swaps the stride for a pixel kernel
      // behind the same per-row plumbing; cost is proportional to the
      // RESIZED size. Strides slice the hex encoding (2 chars = 1
      // byte) so the resampled digest is ASCII-safe and
      // engine-portable; empty payloads clamp to one empty sample in
      // both engines.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        m.withColumn("hx", hex(col("payload")))
          .withColumn("resized",
            concat_ws("", transform(
              sequence(lit(0),
                greatest(lit(1), ceil(length(col("hx")) / 8.0).cast("int")) - 1),
              i => col("hx").substr(i * 8 + 1, lit(2)))))
          .select(col("media_id"), col("kind"),
            (length(col("hx")) / 2).cast("long").as("n_bytes"),
            (length(col("resized")) / 2).cast("long").as("r_bytes"),
            md5(col("resized")).as("resized_md5"))
          .orderBy("media_id")
      },
      Some("""WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
                 hex(encode(text)) AS hx
          FROM documents),
        r AS (
          SELECT media_id, kind, hx,
                 array_to_string(list_transform(
                   range(greatest(1, CAST(ceil(length(hx) / 8.0) AS BIGINT))),
                   i -> substr(hx, CAST(i * 8 + 1 AS INT), 2)), '') AS resized
          FROM m)
        SELECT media_id, kind,
               CAST(length(hx) / 2 AS BIGINT) AS n_bytes,
               CAST(length(resized) / 2 AS BIGINT) AS r_bytes,
               md5(resized) AS resized_md5
        FROM r ORDER BY media_id""")),

    QDef("multimodal_frame_sample",
      // Frame sampling: each payload splits into fixed 256-byte frames,
      // every 2nd frame is kept, each sampled frame is digested — the
      // 1-to-N expansion shape (explode over a computed frame index)
      // that video/audio ingestion needs, with costs proportional to
      // SAMPLED frames, not payload size. Frames are sliced on the hex
      // encoding so the per-frame digest is plain-ASCII-safe in any
      // engine (slicing raw UTF-8 bytes mid-codepoint would make a
      // varchar digest engine-dependent). greatest(1, …) gives empty
      // payloads one empty frame in both engines.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        m.withColumn("hx", hex(col("payload")))
          .withColumn("n_frames",
            greatest(lit(1), ceil(length(col("hx")) / 512.0)).cast("int"))
          .select(col("media_id"), col("kind"), col("hx"),
            explode(sequence(lit(0), col("n_frames") - 1)).as("frame_no"))
          .filter(pmod(col("frame_no"), lit(2)) === 0)
          .select(col("media_id"), col("kind"),
            col("frame_no").cast("long").as("frame_no"),
            md5(col("hx").substr(col("frame_no") * 512 + 1, lit(512)))
              .as("frame_md5"))
          .orderBy("media_id", "frame_no")
      },
      Some("""WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
                 hex(encode(text)) AS hx
          FROM documents),
        f AS (
          SELECT media_id, kind, hx,
                 unnest(range(greatest(1, CAST(ceil(length(hx) / 512.0) AS BIGINT)))) AS frame_no
          FROM m)
        SELECT media_id, kind, CAST(frame_no AS BIGINT) AS frame_no,
               md5(substring(hx, CAST(frame_no * 512 + 1 AS INT), 512)) AS frame_md5
        FROM f WHERE frame_no % 2 = 0
        ORDER BY media_id, frame_no""")),

    QDef("multimodal_vad_segments",
      // Activity-segment detection — the VAD / scene-split shape
      // (silence removal for audio, shot boundaries for video): every
      // 32-byte frame gets a per-frame statistic, frames above the
      // activity threshold are kept, and maximal runs of consecutive
      // active frames merge into (seg_start, seg_end) segments via the
      // gaps-and-islands window — the coordinates a trim/split pass
      // cuts, exactly the span-removal shape at the media layer. The
      // statistic is a REAL root-mean-square energy over the frame's
      // PCM-interpreted bytes (each byte an unsigned 8-bit sample
      // centered at 128 — the WAV u8 convention): sum((b-128)^2) is an
      // exact int64 on both engines, and the single division + sqrt
      // are IEEE-exact/correctly-rounded, so the double is
      // bit-portable (only the decode container is stubbed — the
      // payload bytes are the corpus text; the kernel itself is the
      // real one). Costs are linear in frames; the only shuffle is
      // the per-media window, partitioned by media_id so segmentation
      // parallelizes across the corpus.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        val w = Window.partitionBy("media_id").orderBy("fno")
        // Per-frame sum((b-128)^2) via the native codegen'd expression
        // (one primitive loop over the raw bytes) instead of the
        // hex + 32×conv(substr) built-in chain — identical exact-int64
        // values (MultimodalSpec pins the parity), ~7× less CPU at
        // sf0.1. The last frame may be short: its byte count comes
        // from the payload length, and an empty payload yields no
        // frames at all (matching the oracle's hex-length guard).
        val act = m
          .select(col("media_id"), col("kind"),
            length(col("payload")).cast("long").as("plen"),
            posexplode(graft.functions.PcmEnergyExpr
              .frameEnergies(col("payload"), lit(32))).as(Seq("fno", "sumsq")))
          .withColumn("fno", col("fno").cast("long"))
          .withColumn("nb", least(lit(32L), col("plen") - col("fno") * 32))
          .select(col("media_id"), col("kind"), col("fno"),
            sqrt(col("sumsq").cast("double") / col("nb").cast("double"))
              .as("energy"))
          // Active = loud frames. On this corpus's byte distribution
          // the u8 samples sit below the 128 midpoint (ASCII), with
          // space (0x20 → sample -96) the dominant energy term, so
          // frame RMS clusters in [30, 55] and 45 splits it ~40/60 —
          // measured on the corpus, not guessed (a sweep at 50 left
          // zero multi-frame segments).
          .filter(col("energy") >= 45.0)
        act
          .withColumn("brk", when(lag(col("fno"), 1).over(w).isNull ||
            col("fno") > lag(col("fno"), 1).over(w) + 1, 1L).otherwise(0L))
          .withColumn("grp", sum("brk").over(w))
          .groupBy("media_id", "kind", "grp")
          .agg(min("fno").as("seg_start"), max("fno").as("seg_end"),
            count(lit(1)).as("n_frames"))
          .select("media_id", "kind", "seg_start", "seg_end", "n_frames")
          .orderBy("media_id", "seg_start")
      },
      Some("""WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
                 hex(encode(text)) AS hx
          FROM documents),
        f AS (
          SELECT media_id, kind, hx,
                 unnest(range(greatest(1, CAST(ceil(length(hx) / 64.0) AS BIGINT)))) AS fno
          FROM m),
        e AS (
          SELECT media_id, kind, CAST(fno AS BIGINT) AS fno,
                 substring(hx, CAST(fno * 64 + 1 AS INT), 64) AS fhx
          FROM f),
        e2 AS (
          SELECT media_id, kind, fno, fhx,
                 CAST(length(fhx) // 2 AS BIGINT) AS nb
          FROM e WHERE length(fhx) >= 2),
        e3 AS (
          SELECT media_id, kind, fno,
                 sqrt(CAST(list_sum(list_transform(range(nb), i ->
                   (CAST(('0x' || substring(fhx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT) - 128) *
                   (CAST(('0x' || substring(fhx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT) - 128)))
                   AS DOUBLE) / CAST(nb AS DOUBLE)) AS energy
          FROM e2),
        a AS (SELECT * FROM e3 WHERE energy >= 45.0),
        b AS (
          SELECT media_id, kind, fno,
                 CASE WHEN lag(fno) OVER (PARTITION BY media_id ORDER BY fno) IS NULL
                      OR fno > lag(fno) OVER (PARTITION BY media_id ORDER BY fno) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM a),
        g AS (
          SELECT media_id, kind, fno,
                 sum(brk) OVER (PARTITION BY media_id ORDER BY fno) AS grp
          FROM b)
        SELECT media_id, kind, min(fno) AS seg_start, max(fno) AS seg_end,
               count(*) AS n_frames
        FROM g GROUP BY media_id, kind, grp
        ORDER BY media_id, seg_start""")),

    QDef("multimodal_snr_profile",
      // Per-media signal-level profile — the audio-curation gate that
      // runs BEFORE any model sees a clip (too-flat = silence/DC
      // offset, extreme crest = clipping or impulse noise): overall
      // RMS, loudest/quietest frame RMS, crest factor (peak/overall)
      // and a noise-floor ratio (peak/floor — the log-free SNR proxy:
      // dB would be 20·log10 of it, but log10 is not cross-engine
      // stable, and gating thresholds compare ratios just as well).
      // Exactness: per-frame sum((b-128)²) is the same native int64
      // kernel the VAD uses (PcmEnergyExpr); overall RMS comes from
      // the exact integer TOTALS (√(Σsumsq/Σbytes)) — never a mean of
      // per-frame doubles, whose fold order differs across engines;
      // peak/floor are min/max picks of bit-identical doubles; the two
      // ratios are single IEEE divisions, rx(4). The floor=0 guard
      // (NULL, not a crash) covers an all-midpoint frame — impossible
      // for this corpus's byte distribution but free to guard. Linear
      // in payload bytes, one map-side aggregate, no window at all.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        val fr = m
          .select(col("media_id"), col("kind"),
            length(col("payload")).cast("long").as("plen"),
            posexplode(graft.functions.PcmEnergyExpr
              .frameEnergies(col("payload"), lit(32))).as(Seq("fno", "sumsq")))
          .withColumn("nb",
            least(lit(32L), col("plen") - col("fno").cast("long") * 32))
          .withColumn("energy",
            sqrt(col("sumsq").cast("double") / col("nb").cast("double")))
        val agg = fr.groupBy("media_id", "kind")
          .agg(count(lit(1)).as("n_frames"),
            sum("sumsq").as("tss"), sum("nb").as("tnb"),
            max("energy").as("peak"), min("energy").as("floor"))
        val overall = sqrt(col("tss").cast("double") / col("tnb").cast("double"))
        agg.select(col("media_id"), col("kind"), col("n_frames"),
            rx(overall, 4).as("rms_overall"),
            rx(col("peak"), 4).as("rms_peak"),
            rx(col("floor"), 4).as("rms_floor"),
            rx(col("peak") / overall, 4).as("crest"),
            when(col("floor") === 0.0, lit(null).cast("double"))
              .otherwise(rx(col("peak") / col("floor"), 4)).as("snr_proxy"))
          .orderBy("media_id")
      },
      Some(s"""WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
                 hex(encode(text)) AS hx
          FROM documents),
        f AS (
          SELECT media_id, kind, hx,
                 unnest(range(greatest(1, CAST(ceil(length(hx) / 64.0) AS BIGINT)))) AS fno
          FROM m),
        e AS (
          SELECT media_id, kind, CAST(fno AS BIGINT) AS fno,
                 substring(hx, CAST(fno * 64 + 1 AS INT), 64) AS fhx
          FROM f),
        e2 AS (
          SELECT media_id, kind, fno, fhx,
                 CAST(length(fhx) // 2 AS BIGINT) AS nb
          FROM e WHERE length(fhx) >= 2),
        e3 AS (
          SELECT media_id, kind, fno, nb,
                 CAST(list_sum(list_transform(range(nb), i ->
                   (CAST(('0x' || substring(fhx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT) - 128) *
                   (CAST(('0x' || substring(fhx, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT) - 128)))
                   AS BIGINT) AS sumsq
          FROM e2),
        agg AS (
          SELECT media_id, kind, CAST(count(*) AS BIGINT) AS n_frames,
                 CAST(sum(sumsq) AS BIGINT) AS tss,
                 CAST(sum(nb) AS BIGINT) AS tnb,
                 max(sqrt(CAST(sumsq AS DOUBLE) / CAST(nb AS DOUBLE))) AS peak,
                 min(sqrt(CAST(sumsq AS DOUBLE) / CAST(nb AS DOUBLE))) AS floor_
          FROM e3 GROUP BY 1, 2)
        SELECT media_id, kind, n_frames,
          ${rxSql("sqrt(CAST(tss AS DOUBLE) / CAST(tnb AS DOUBLE))", 4)}
            AS rms_overall,
          ${rxSql("peak", 4)} AS rms_peak,
          ${rxSql("floor_", 4)} AS rms_floor,
          ${rxSql("peak / sqrt(CAST(tss AS DOUBLE) / CAST(tnb AS DOUBLE))", 4)}
            AS crest,
          CASE WHEN floor_ = 0 THEN NULL
            ELSE ${rxSql("peak / floor_", 4)} END AS snr_proxy
        FROM agg ORDER BY media_id""")),

    QDef("multimodal_aspect_bucket",
      // Aspect-ratio bucketing — the batch-shaping operator image/video
      // training pipelines (SDXL-style) run so each batch holds
      // same-shape items: every media item is assigned the nearest of
      // 7 canonical aspect ratios. (w, h) are synthesized
      // deterministically per item (the decode stub's stand-in — a real
      // decoder fills the same two columns). Nearest-ratio selection is
      // ALL-INTEGER: |p/q - w/h| ordering is preserved under the common
      // denominator 144·h (lcm of the qs), so each candidate's distance
      // is the exact int |p·h - q·w|·(144/q), and the argmin is
      // list-min over keys dist·8+idx — no FP anywhere, bit-identical
      // in any engine. Shuffle-free: one codegen'd projection with an
      // in-row array min; the only exchange is the driver-compare sort.
      (s, dir) => {
        val m = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .withColumn("w", lit(64L) + pmod(graft.functions.Text.md5Hash32(
            concat(lit("w:"), col("media_id").cast("string"))), lit(961L)))
          .withColumn("h", lit(64L) + pmod(graft.functions.Text.md5Hash32(
            concat(lit("h:"), col("media_id").cast("string"))), lit(961L)))
        val keys = AspectBuckets.zipWithIndex.map { case ((_, p, q), i) =>
          (abs(lit(p.toLong) * col("h") - lit(q.toLong) * col("w"))
            * lit((144 / q).toLong) * lit(8L) + lit(i.toLong)).as(s"k$i")
        }
        val names = array(AspectBuckets.map { case (n, _, _) => lit(n) }: _*)
        m.withColumn("key", array_min(array(keys: _*)))
          .select(col("media_id"), col("kind"), col("w"), col("h"),
            element_at(names, (pmod(col("key"), lit(8L)) + 1).cast("int"))
              .as("bucket"))
          .orderBy("media_id")
      },
      Some(s"""WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN lang = 'zh' THEN 'audio' ELSE 'image' END AS kind,
                 64 + ${h32Sql("'w:' || CAST(doc_id AS VARCHAR)")} % 961 AS w,
                 64 + ${h32Sql("'h:' || CAST(doc_id AS VARCHAR)")} % 961 AS h
          FROM documents),
        k AS (
          SELECT media_id, kind, w, h,
                 list_min([$aspectKeysSql]) AS key
          FROM m)
        SELECT media_id, kind, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
               CASE key % 8 $aspectCaseSql END AS bucket
        FROM k ORDER BY media_id""")),

    QDef("multimodal_shard_manifest",
      // Shard-packing manifest (the WebDataset/tar-shard planning
      // step): media payloads are packed, in deterministic id order,
      // into ~4 KiB shards, and each item gets (shard_idx,
      // byte_offset, n_bytes) — the random-access coordinates a
      // training dataloader reads back. Greedy packing is an exclusive
      // byte cumsum: shard = cum div target (a shard absorbs the item
      // that crosses the boundary — no splitting), offset = cum minus
      // the shard's first cum. Both windows are PARTITIONED BY source
      // (the shard key is (source, shard_idx)), so packing
      // parallelizes per source exactly like text_pack_sequences —
      // no global single-partition window at 100 TB. Byte sizes are
      // octet_length (UTF-8 bytes, not chars — zh payloads differ).
      (s, dir) => {
        val T = 4096L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        val wShard = org.apache.spark.sql.expressions.Window
          .partitionBy("source", "shard_idx")
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            octet_length(col("text")).cast("long").as("n_bytes"))
          .withColumn("cum_excl",
            coalesce(sum(col("n_bytes")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("shard_idx", expr(s"cum_excl div $T"))
          .withColumn("byte_offset",
            col("cum_excl") - min(col("cum_excl")).over(wShard))
          .select(col("doc_id"), col("source"), col("shard_idx"),
            col("byte_offset"), col("n_bytes"))
          .orderBy("doc_id")
      },
      Some("""WITH items AS (
          SELECT doc_id, source, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents),
        c AS (
          SELECT doc_id, source, n_bytes,
            COALESCE(sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          FROM items),
        sh AS (SELECT *, cum_excl // 4096 AS shard_idx FROM c)
        SELECT doc_id, source, CAST(shard_idx AS BIGINT) AS shard_idx,
               CAST(cum_excl - min(cum_excl) OVER (PARTITION BY source, shard_idx)
                 AS BIGINT) AS byte_offset,
               n_bytes
        FROM sh ORDER BY doc_id""")),

    QDef("multimodal_phash_pairs",
      // Embedding-free media near-dup: a perceptual-hash-style 32-bit
      // signature over the OPAQUE payload (simhash of non-overlapping
      // 4-byte windows, read via hex — no decode step), then the same
      // banded pigeonhole pairing as dedup_simhash_pairs: 4 byte bands
      // generate candidates, one xor+popcount verifies Hamming <= 3.
      // This is the dedup a media pipeline runs BEFORE it can afford
      // embeddings: linear in payload bytes, bucket-local join, never
      // all-pairs — and with a real codec the window hash would be the
      // only line that changes (frame/block digests instead of raw
      // windows). Windows at stride 4 keep the explode n_bytes/4.
      (s, dir) => phashPairs(s, dir).orderBy("media_a", "media_b"),
      Some(s"""WITH $phashCandSql
        SELECT media_a, media_b, CAST(hamming AS BIGINT) AS hamming
        FROM cand WHERE hamming <= 3 ORDER BY media_a, media_b""")),

    QDef("multimodal_phash_clusters",
      // Media dedup group assembly: connected components over the
      // verified phash pair graph (the SAME distributed CC operator
      // the text dedup family runs — operators.ConnectedComponents,
      // O(log n) propagate+shortcut rounds), cluster id = component-min
      // media_id. This is what turns "these pairs look alike" into
      // "keep one per group" for images/audio: a transitive chain
      // a~b~c lands in ONE cluster even though (a,c) never paired.
      // Only media that appear in some pair are listed (singletons
      // keep themselves by definition). Reuses the staged phash
      // signatures — the pair graph costs one bucket-local join, the
      // CC rounds shuffle only the shrinking (node, label) table.
      // Labels are disk-staged keyed on the pair graph (the cc_labels
      // discipline from the text dedup family): the CC rounds' fixed
      // per-stage latency is paid once per session+corpus, downstream
      // reads are a parquet scan, and a changed pair graph invalidates
      // the stage.
      (s, dir) => graft.pipeline.Staged
        .diskKeyed(s, dir, "phash_cc_labels")(phashPairs(s, dir)) {
          graft.operators.ConnectedComponents
            .clusters(phashPairs(s, dir), "media_a", "media_b")
            .select(col("id").as("media_id"), col("cluster"))
        }
        .orderBy("media_id"),
      Some(s"""WITH RECURSIVE $phashCandSql,
        pairs AS (
          SELECT media_a, media_b FROM cand WHERE hamming <= 3),
        cedges AS (
          SELECT media_a AS src, media_b AS dst FROM pairs
          UNION SELECT media_b, media_a FROM pairs),
        reach(a, b) AS (
          SELECT src, src FROM cedges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN cedges e ON r.b = e.src)
        SELECT a AS media_id, min(b) AS cluster FROM reach
        GROUP BY a ORDER BY media_id""")),

    QDef("multimodal_container_header",
      // Container-header metadata extraction — the technique a 100 TB
      // image pipeline uses to get dimensions WITHOUT decoding: parse
      // the fixed-offset header fields straight from the binary
      // column in codegen'd built-ins (magic validation, then
      // big-endian u32 width/height at the PNG IHDR offsets 17..24).
      // Payloads here are synthesized PNG-shaped headers (magic +
      // IHDR length/tag + BE dims from md5-derived ints — both
      // engines build the identical bytes), with every 17th doc's
      // first byte corrupted so the validation arm is live: bad magic
      // ⇒ NULL dims, never a garbage parse. The whole query is one
      // narrow shuffle-free projection — no UDF, no decoder; at scale
      // this is a pure column scan. Aspect ratio is exact integer
      // millis (1000·w div h) so no FP enters the output.
      (s, dir) => {
        val w = lit(320L) + pmod(graft.functions.Text.md5Hash32(
          concat(lit("w:"), col("doc_id").cast("string"))), lit(1600L))
        val h = lit(240L) + pmod(graft.functions.Text.md5Hash32(
          concat(lit("h:"), col("doc_id").cast("string"))), lit(1200L))
        val magic = when(col("doc_id") % 17 === 0, lit("00504E470D0A1A0A"))
          .otherwise(lit("89504E470D0A1A0A"))
        val png = unhex(concat(magic, lit("0000000D"), lit("49484452"),
          lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0")))
        val parsed = t(s, dir, "documents")
          .select(col("doc_id").as("media_id"), png.as("png"))
          .withColumn("magic_ok",
            hex(substring(col("png"), 1, 8)) === "89504E470D0A1A0A")
          .withColumn("width", when(col("magic_ok"),
            conv(hex(substring(col("png"), 17, 4)), 16, 10).cast("long")))
          .withColumn("height", when(col("magic_ok"),
            conv(hex(substring(col("png"), 21, 4)), 16, 10).cast("long")))
        parsed.select(col("media_id"), col("magic_ok"),
            col("width"), col("height"),
            when(col("magic_ok"), expr("(1000 * width) div height"))
              .as("aspect_millis"))
          .orderBy("media_id")
      },
      Some("""WITH syn AS (
          -- DuckDB substring() does not accept BLOB, so the oracle
          -- stays on the HEX-STRING view of the identical bytes
          -- (byte k = hex chars 2k-1..2k); Spark parses the real
          -- binary column.
          SELECT doc_id AS media_id,
                 (CASE WHEN doc_id % 17 = 0 THEN '00504E470D0A1A0A'
                       ELSE '89504E470D0A1A0A' END) ||
                 '0000000D' || '49484452' ||
                 lpad(to_hex(320 + CAST(('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1600), 8, '0') ||
                 lpad(to_hex(240 + CAST(('0x' || substr(md5('h:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1200), 8, '0') AS pnghex
          FROM documents),
        parsed AS (
          SELECT media_id,
                 upper(substr(pnghex, 1, 16)) = '89504E470D0A1A0A' AS magic_ok,
                 CAST(('0x' || substr(pnghex, 33, 8)) AS BIGINT) AS w0,
                 CAST(('0x' || substr(pnghex, 41, 8)) AS BIGINT) AS h0
          FROM syn)
        SELECT media_id, magic_ok,
               CASE WHEN magic_ok THEN w0 END AS width,
               CASE WHEN magic_ok THEN h0 END AS height,
               CASE WHEN magic_ok THEN (1000 * w0) // h0 END AS aspect_millis
        FROM parsed ORDER BY media_id""")),

    QDef("multimodal_wav_header",
      // The audio counterpart of the PNG header parse, covering the
      // OTHER byte order: WAV/RIFF fields are LITTLE-endian, so the
      // fixed-offset reads must byte-swap before converting (the PNG
      // query reads big-endian directly) — the decoder-free metadata
      // pass an audio pipeline runs to route/validate 100 TB of clips
      // before any decode. The Spark side BUILDS a canonical 44-byte
      // header (fields from md5-derived ints; every 13th doc's magic
      // corrupted so the validation arm is live) and then PARSES it
      // back from the binary column in codegen'd built-ins — hex +
      // pair-swap + conv; duration falls out as exact integer micros
      // (8·data·10⁶ div (rate·channels·bits)). The oracle never
      // parses: it derives every field from the same closed-form
      // arithmetic, so a wrong swap or offset on the Spark side
      // cannot hash-match. Shuffle-free narrow projection — a pure
      // column scan at scale.
      (s, dir) => {
        import org.apache.spark.sql.Column
        def h32c(tag: String) = graft.functions.Text.md5Hash32(
          concat(lit(tag), col("doc_id").cast("string")))
        def beHex(v: Column, hexLen: Int) = lpad(hex(v), hexLen, "0")
        def leHex(v: Column, nBytes: Int) = {
          val be = beHex(v, nBytes * 2)
          concat(((nBytes - 1) to 0 by -1).map(i =>
            substring(be, i * 2 + 1, 2)): _*)
        }
        val ch = lit(1L) + pmod(h32c("c:"), lit(2L))
        val ridx = pmod(h32c("r:"), lit(4L))
        val rate = when(ridx === 0, lit(8000L))
          .when(ridx === 1, lit(16000L))
          .when(ridx === 2, lit(22050L))
          .otherwise(lit(44100L))
        val bits = lit(8L) * (lit(1L) + pmod(h32c("b:"), lit(2L)))
        val dsz = lit(1000L) + pmod(h32c("d:"), lit(100000L))
        val brate = rate * ch * bits / lit(8L)
        val balign = ch * bits / lit(8L)
        val magic = when(col("doc_id") % 13 === 0, lit("00494646"))
          .otherwise(lit("52494646"))
        val wav = unhex(concat(
          magic, leHex(dsz + 36L, 4), lit("57415645"),
          lit("666D7420"), leHex(lit(16L), 4), leHex(lit(1L), 2),
          leHex(ch, 2), leHex(rate, 4), leHex(brate.cast("long"), 4),
          leHex(balign.cast("long"), 2), leHex(bits, 2),
          lit("64617461"), leHex(dsz, 4)))
        def leVal(pos: Int, nBytes: Int) = {
          val hx = hex(substring(col("wav"), pos, nBytes))
          conv(concat(((nBytes - 1) to 0 by -1).map(i =>
            substring(hx, i * 2 + 1, 2)): _*), 16, 10).cast("long")
        }
        t(s, dir, "documents")
          .select(col("doc_id").as("media_id"), wav.as("wav"))
          .withColumn("riff_ok",
            hex(substring(col("wav"), 1, 4)) === "52494646" &&
              hex(substring(col("wav"), 9, 4)) === "57415645")
          .select(col("media_id"), col("riff_ok"),
            when(col("riff_ok"), leVal(23, 2)).as("channels"),
            when(col("riff_ok"), leVal(25, 4)).as("sample_rate"),
            when(col("riff_ok"), leVal(35, 2)).as("bits"),
            when(col("riff_ok"), leVal(41, 4)).as("data_bytes"))
          .withColumn("duration_us",
            expr("(8 * data_bytes * 1000000) div (sample_rate * channels * bits)"))
          .orderBy("media_id")
      },
      Some(s"""WITH f AS (
          SELECT doc_id AS media_id,
                 doc_id % 13 <> 0 AS riff_ok,
                 1 + CAST(('0x' || substr(md5('c:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS ch,
                 CAST(('0x' || substr(md5('r:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS ri,
                 8 * (1 + CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2) AS bits,
                 1000 + CAST(('0x' || substr(md5('d:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100000 AS d
          FROM documents),
        g AS (
          SELECT media_id, riff_ok, ch, bits, d,
                 CASE ri WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         WHEN 2 THEN 22050 ELSE 44100 END AS rate
          FROM f)
        SELECT media_id, riff_ok,
               CASE WHEN riff_ok THEN CAST(ch AS BIGINT) END AS channels,
               CASE WHEN riff_ok THEN CAST(rate AS BIGINT) END AS sample_rate,
               CASE WHEN riff_ok THEN CAST(bits AS BIGINT) END AS bits,
               CASE WHEN riff_ok THEN CAST(d AS BIGINT) END AS data_bytes,
               CASE WHEN riff_ok
                 THEN CAST((8 * d * 1000000) // (rate * ch * bits) AS BIGINT)
               END AS duration_us
        FROM g ORDER BY media_id"""))
  )

  /** Staged 32-bit simhash signatures over the opaque payloads plus the
    * banded candidate join, verified to Hamming <= 3 — the pair graph
    * both multimodal_phash_pairs and multimodal_phash_clusters read.
    * No global order (each caller sorts).
    */
  private def phashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = graft.pipeline.Staged.disk(s, dir, "phash_sigs") {
      val votes = (0 until 32).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b"))
      val sig = (0 until 32).map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      Multimodal.mediaFromDocuments(t(s, dir, "documents"))
        .withColumn("hx", hex(col("payload")))
        // Guard the degenerate payload (<4 bytes): Spark's
        // sequence(0, -1) is DESCENDING ([0,-1] — spurious grams,
        // one with a negative index) while the oracle's range()
        // emits none. Dropping the row matches the oracle, which
        // produces zero grams and hence no signature for it.
        .filter(length(col("hx")) >= 8)
        .withColumn("grams",
          transform(sequence(lit(0), (length(col("hx")) / 8).cast("int") - 1),
            i => substring(col("hx"), lit(1) + i * 8, lit(8))))
        .select(col("media_id"), explode(col("grams")).as("g"))
        .select(col("media_id"),
          graft.functions.Text.md5Hash32(concat(lit("ph:"), col("g"))).as("h"))
        .groupBy("media_id").agg(votes.head, votes.tail: _*)
        .select(col("media_id"), sig.cast("long").as("phash"))
    }
    val bands = sigs.select(col("media_id"), col("phash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("phash"), i * 8).bitwiseAND(lit(255L)).as("bv"))): _*))
        .as("x"))
      .select(col("media_id"), col("phash"),
        col("x.band").as("band"), col("x.bv").as("bv"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

}
