package graft.ops

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.Streams

/** Registry entries for the multimodal-column and streaming surfaces. */
object StreamMediaOps {

  /** Media payload fixture of `kind` ("png", "wav" or "avi"),
    * [[Staged]] per source dir: real pipelines read payloads from object
    * storage — they don't re-encode them per query — so every query (and
    * every bench pass) scans the binary column from disk. */
  private def fixture(s: org.apache.spark.sql.SparkSession, d: String, kind: String) =
    Staged.table(s, d, s"graft_$kind") {
      val ids = Tables(s, d, "documents").select("doc_id")
      kind match {
        case "png" => Multimodal.withPngPayload(ids, "doc_id")
        case "wav" => Multimodal.withWavPayload(ids, "doc_id")
        case "avi" => Multimodal.withAviPayload(ids, "doc_id")
      }
    }

  /** Oracle CTEs replaying the AVI fixture's pixel formula
    * pixel(x,y,f) = (seed + 31x + 17y + 73f) mod 2²⁴ for frames f
    * where f % `stride` = 0 — a hash match proves the RIFF demux +
    * bottom-up BGR frame decode recovered geometry, corner pixels and
    * every per-frame RGB sum exactly. */
  private def aviOracle(stride: Int): String =
    s"""WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
       |    2 + doc_id % 4 AS n FROM documents),
       |f AS (SELECT doc_id, seed, i AS orig FROM d,
       |      unnest(generate_series(0, n - 1)) AS t(i) WHERE i % $stride = 0),
       |p AS (SELECT doc_id, orig, x, y,
       |    (seed + 31 * x + 17 * y + 73 * orig) % 16777216 AS v
       |  FROM f, unnest(generate_series(0, 9)) AS tx(x),
       |       unnest(generate_series(0, 7)) AS ty(y))
       |SELECT doc_id, CAST(orig // $stride AS INT) AS frame_id,
       |  CAST(10 AS INT) AS width, CAST(8 AS INT) AS height,
       |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS BIGINT) AS p00,
       |  CAST(max(CASE WHEN x = 9 AND y = 7 THEN v END) AS BIGINT) AS pwh,
       |  CAST(sum((v // 65536) + ((v // 256) % 256) + (v % 256)) AS BIGINT) AS sum_rgb
       |FROM p GROUP BY 1, 2""".stripMargin

  /** Oracle CTEs recomputing the WAV fixture's PCM stream from its id
    * formulas: sample[i] = ((id·2654435761 + i·40503) mod 2¹⁶) − 2¹⁵,
    * n = 256 + id mod 512 — a hash match proves the RIFF encode→decode
    * round-trip recovered rate, length and every 16-bit sample exactly. */
  private def wavOracle(stride: Int, rate: Int): String =
    s"""WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
       |    256 + doc_id % 512 AS n FROM documents),
       |s AS (SELECT doc_id, n, i,
       |    ((seed + i * 40503) % 65536) - 32768 AS v
       |  FROM d, unnest(generate_series(0, n - 1)) AS u(i)
       |  WHERE i % $stride = 0),
       |z AS (SELECT doc_id, n, v,
       |    CASE WHEN lag(v) OVER w IS NULL THEN 0
       |         WHEN (lag(v) OVER w < 0) <> (v < 0) THEN 1 ELSE 0 END AS zc
       |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |    CAST(max(abs(v)) AS BIGINT) AS peak,
       |    CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
       |    CAST(sum(zc) AS BIGINT) AS zero_cross
       |  FROM z GROUP BY doc_id)
       |SELECT doc_id, CAST($rate AS INT) AS sample_rate, n_samples,
       |  (n_samples * 1000) // $rate AS duration_ms, peak, sum_sq, zero_cross
       |FROM a""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- REAL WAV/PCM decode + integer signal features --------------------
    // Fixture WAVs are full RIFF containers generated per doc_id; the
    // probe walks the chunk list and reads the 16-bit PCM frames back.
    // peak/energy/zero-crossings are all-integer -> bit-exact.
    Q("q_audio_decode", wavOracle(stride = 1, rate = 8000)) { (s, d) =>
      Multimodal.wavProbe(fixture(s, d, "wav"), "doc_id", "payload")
    },

    // ---- REAL audio downsample: decimate 2x, re-emit valid WAV, probe ----
    // The decimated payload is itself a parseable RIFF file at 4 kHz;
    // the oracle replays the same every-2nd-sample stream, so the hash
    // only matches if the rewrite kept header and frames consistent.
    Q("q_audio_resample", wavOracle(stride = 2, rate = 4000)) { (s, d) =>
      Multimodal.wavProbe(
        Multimodal.wavDecimate(fixture(s, d, "wav"), "doc_id", "payload", factor = 2),
        "doc_id", "payload")
    },

    // ---- multimodal image decode: REAL PNGs through javax.imageio --------
    // Fixture PNGs are generated per doc_id (dimensions and pixels are
    // pure functions of the id), then decoded back; the oracle recomputes
    // the formulas — a hash match proves the encode→decode round-trip
    // recovered the true geometry and exact pixel values.
    Q("q_multimodal_meta",
      """SELECT doc_id,
        |  CAST(8 + doc_id % 24 AS INT) AS width,
        |  CAST(8 + doc_id % 16 AS INT) AS height,
        |  (doc_id * 2654435761) % 16777216 AS p00,
        |  (doc_id * 2654435761 + (8 + doc_id % 24 - 1) * 31
        |    + (8 + doc_id % 16 - 1) * 17) % 16777216 AS pwh
        |FROM documents""".stripMargin) { (s, d) =>
      Multimodal.imageProbe(fixture(s, d, "png"), "doc_id", "payload")
    },

    // ---- REAL per-channel normalization stats ------------------------------
    // The dataset-mean/std preproc pass: exact integer per-channel pixel
    // sums per decoded PNG (one bulk-fetch pass), from which corpus-level
    // channel means derive as one tiny aggregation. The oracle replays
    // the fixture pixel formula over the full w x h grid, so a match
    // proves the decode AND the channel unpacking byte-for-byte.
    Q("q_image_channel_stats",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
        |p AS (SELECT doc_id, w, h,
        |    (seed + 31 * x + 17 * y) % 16777216 AS v
        |  FROM d, unnest(generate_series(0, 30)) AS tx(x),
        |       unnest(generate_series(0, 22)) AS ty(y)
        |  WHERE x < w AND y < h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(v // 65536) AS BIGINT) AS sum_r,
        |  CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum(v % 256) AS BIGINT) AS sum_b
        |FROM p GROUP BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.imageChannelStats(fixture(s, d, "png"), "doc_id", "payload")
    },

    // ---- REAL batched feature extraction over decoded pixels --------------
    // Grid-cell mean intensity per decoded PNG; the oracle recomputes each
    // cell mean from the pixel formula, so the hash only matches if the
    // decode + grid accumulation is pixel-exact.
    Q("q_multimodal_features",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    CAST(8 + doc_id % 24 AS INT) AS w, CAST(8 + doc_id % 16 AS INT) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, seed,
        |    unnest(generate_series(0, w*h - 1)) AS p
        |  FROM d),
        |v AS (SELECT doc_id,
        |    (((p // w) * 4) // h) * 4 + ((p % w) * 4) // w AS cell,
        |    (seed + 31 * (p % w) + 17 * (p // w)) % 16777216 AS val
        |  FROM px)
        |SELECT doc_id, CAST(cell AS INT) AS cell,
        |  CAST(SUM(val) AS DOUBLE) / count(*) AS mean_val
        |FROM v GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Multimodal.imageGridFeatures(fixture(s, d, "png"), "doc_id", "payload", grid = 4)
    },

    // ---- streaming tumbling-window agg == batch q_window_day --------------
    Q("q_stream_window",
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n, ${Tables.oSum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Streams.runWindowedAgg(s, d, "1 day", Seq(
          "n" -> count(lit(1)),
          "total" -> Tables.dsum(col("value"))))
        .select(to_date(col("window.start")).as("day"), col("event_type"),
          col("n"), col("total"))
    },

    // ---- SLIDING streaming windows (1h / 15min slide) ---------------------
    // Each event belongs to exactly 4 overlapping windows; the oracle
    // replays the window assignment as an explicit 4-offset explode
    // (window_start = 15-min bucket − k·15min always lies within (ts−1h,
    // ts] for k=0..3, which is precisely Spark's assignment rule).
    Q("q_stream_sliding",
      """WITH a AS (SELECT event_type,
        |    epoch_us(time_bucket(INTERVAL 15 MINUTE, ts))
        |      - k * CAST(900000000 AS BIGINT) AS win_start,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vf
        |  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(k))
        |SELECT event_type, win_start, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vf) AS BIGINT) AS v_fp
        |FROM a GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Streams.slidingWindowAgg(s, d)
    },

    // ---- CHAINED streaming windows (two stateful ops, one query) ----------
    // Minute pre-agg → hourly rollup inside a single streaming query
    // (multi-stateful append mode). The batch oracle replays the same
    // two-level bucket cascade; n_minutes (distinct non-empty minutes
    // per hour) can only come out right if both layers really ran.
    Q("q_stream_chained",
      """WITH m AS (SELECT event_type,
        |    time_bucket(INTERVAL 1 MINUTE, ts) AS mb,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  epoch_us(time_bucket(INTERVAL 1 HOUR, mb)) AS hour_start,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_minutes
        |FROM m GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Streams.chainedWindowedAgg(s, d)
    },

    // ---- custom state via transformWithState (the Spark 4 state API) ------
    // The successor to flatMapGroupsWithState: typed named state cells +
    // explicit event-time timers (RocksDB-only). Same bounded-state
    // semantics as q_stream_user_counts, must equal the batch group-by.
    Q("q_stream_tws",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      Streams.userEventCountsTws(s, d)
    },

    // ---- windowed agg on the ROCKSDB state store (production backend) -----
    // Same watermark/window/Append machinery as q_stream_window but with
    // state in RocksDB (disk-spilling, incremental checkpoints) — the
    // provider a 100 TB deployment runs once state outgrows the heap.
    // Must produce the identical batch answer.
    Q("q_stream_rocksdb",
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n, ${Tables.oSum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Streams.windowedAggRocksDb(s, d, "1 day", Seq(
          "n" -> count(lit(1)),
          "total" -> Tables.dsum(col("value"))))
        .select(to_date(col("window.start")).as("day"), col("event_type"),
          col("n"), col("total"))
    },

    // ---- streaming SESSION windows == batch gap sessionization ------------
    // The native session_window state operator; only OPEN sessions hold
    // state. Boundary is half-open (an event exactly `gap` later starts a
    // new session), so the oracle breaks on `>= gap` — q_sessionize's
    // batch operator keeps its own `> gap` contract separately.
    Q("q_stream_session",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT user_id, t,
        |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |      OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 3600000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(t) AS session_start, max(t) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      Streams.sessionWindowAgg(s, d, "1 hour")
    },

    // ---- streaming dedup under at-least-once redelivery -------------------
    // The source replays the whole events file twice (the redelivery
    // case); watermarked dropDuplicates on (event_id, ts) must collapse
    // the replay exactly back to the batch table.
    Q("q_stream_dedup",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Streams.dedupStream(s, d, keyCols = Seq("event_id"), replays = 2)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },

    // ---- streaming dedup, watermark-BOUNDED state -------------------------
    // dropDuplicatesWithinWatermark keys state on event_id ALONE (no
    // event-time in the key — the time-agnostic dedup a redelivering bus
    // needs) while the watermark still expires each key's state, keeping
    // it bounded where plain dropDuplicates(event_id) would grow forever.
    // The 2× replay must still collapse exactly to the batch table.
    Q("q_stream_dedup_wm",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Streams.dedupWithinWatermarkStream(s, d, keyCols = Seq("event_id"), replays = 2)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },

    // ---- stateful per-user counts (flatMapGroupsWithState, Append) --------
    // Custom bounded state: each user's count emits exactly once when the
    // watermark passes their last event, then the state drops. Must equal
    // the batch group-by.
    Q("q_stream_user_counts",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
      Streams.userEventCounts(s, d)
    },

    // ---- stream-static join + windowed agg --------------------------------
    // The event stream enriches against the (broadcast) customer->nation
    // dim, then a watermarked daily window finalizes per nation — must
    // equal the batch 3-table join.
    Q("q_stream_join",
      """SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day, n.n_name AS nation,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val dim = Tables(s, d, "customer").select("c_custkey", "c_nationkey")
        .join(Tables(s, d, "nation").select("n_nationkey", "n_name"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("nation"))
      Streams.streamStaticWindowedAgg(s, d, dim, "user_id", "c_custkey",
          "nation", "1 day", Seq("n" -> count(lit(1))))
        .select(to_date(col("window.start")).as("day"), col("nation"), col("n"))
    },

    // ---- streaming upsert via foreachBatch (merge-into-table pattern) -----
    // Two replays of the stream merge batch-by-batch (one file per
    // micro-batch) into a keyed table, existing rows winning on conflict;
    // the final table must equal the batch table exactly despite the
    // at-least-once redelivery.
    Q("q_stream_upsert",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Streams.upsertStream(s, d, keyCols = Seq("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"))
    },

    // ---- streaming CDC apply: change-log replay into a compacted table ----
    // The streaming twin of q_cdc_apply: the same change log (deletes for
    // event_id % 10 = 9) replayed as ts-segmented micro-batches through a
    // foreachBatch last-writer-wins merge with delete tombstones. The
    // final snapshot is batch-boundary independent, so the oracle is the
    // batch CDC SQL verbatim — the hash match proves the incremental
    // merge ≡ the one-shot window compaction.
    Q("q_stream_cdc",
      """WITH l AS (SELECT user_id, event_id, ts, event_type, value,
        |    CASE WHEN event_id % 10 = 9 THEN 'D' ELSE 'U' END AS op
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
        |  FROM l)
        |SELECT user_id, event_type AS last_type, value AS last_value,
        |  n_ops, epoch_us(ts) AS last_us
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin) { (s, d) =>
      Streams.cdcApplyStream(s, d)
    },

    // ---- streaming ingest probing the persisted dedup index ---------------
    // Documents arrive as micro-batches; each batch Bloom-probes +
    // hash-confirms against the prebuilt corpus index (doc_id % 3 ≠ 0) and
    // only verbatim-new content merges in, keeping min doc_id per hash —
    // batch-order independent, so the batch-mode oracle is exact.
    Q("q_stream_dedup_ingest",
      """WITH n AS (SELECT doc_id,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash
        |  FROM documents),
        |c AS (SELECT DISTINCT content_hash FROM n WHERE doc_id % 3 <> 0)
        |SELECT min(doc_id) AS doc_id, content_hash FROM n
        |WHERE content_hash NOT IN (SELECT content_hash FROM c)
        |GROUP BY content_hash""".stripMargin) { (s, d) =>
      Streams.dedupIngestStream(s, d)
    },

    // ---- stream-stream inner join (watermarked, event-time banded) --------
    // Two replays of the event stream join on event_id within a ±1 minute
    // event-time band; event ids are unique, so every event pairs exactly
    // with its twin — the result must equal the batch self-join.
    Q("q_stream_stream_join",
      """SELECT e1.event_id, e1.event_type, e2.value
        |FROM events e1 JOIN events e2 ON e1.event_id = e2.event_id
        |  AND e2.ts >= e1.ts - INTERVAL 1 MINUTE
        |  AND e2.ts <= e1.ts + INTERVAL 1 MINUTE""".stripMargin) { (s, d) =>
      Streams.streamStreamJoin(s, d)
    },

    // ---- stream-stream LEFT OUTER join ------------------------------------
    // The right replay keeps only even event ids; odd-id rows must emit
    // with NULL value once the right watermark passes them — the outer
    // half of the streaming join family. Must equal the batch left join.
    Q("q_stream_left_join",
      """SELECT l.event_id, l.event_type, r.value
        |FROM events l LEFT JOIN (
        |  SELECT event_id, value FROM events WHERE event_id % 2 = 0) r
        |  ON l.event_id = r.event_id""".stripMargin) { (s, d) =>
      Streams.streamStreamLeftJoin(s, d)
    },

    // ---- stream-stream FULL OUTER join ------------------------------------
    // Left keeps ids not divisible by 3, right keeps even ids, so the
    // fixture exercises matched rows AND both null-emission directions
    // (odd non-div-3 → NULL value; div-6 → NULL event_type). Must equal
    // the batch full outer join.
    Q("q_stream_full_join",
      """SELECT coalesce(l.event_id, r.event_id) AS event_id,
        |  l.event_type, r.value
        |FROM (SELECT event_id, event_type FROM events WHERE event_id % 3 <> 0) l
        |FULL OUTER JOIN (
        |  SELECT event_id, value FROM events WHERE event_id % 2 = 0) r
        |  ON l.event_id = r.event_id""".stripMargin) { (s, d) =>
      Streams.streamStreamFullJoin(s, d)
    },

    // ---- REAL image resize: decode -> resample -> re-encode -> decode -----
    // Each fixture PNG is nearest-neighbor resized to 12x10 and re-encoded;
    // the probe then re-decodes and reads corner pixels. The oracle
    // recomputes the resample from the source-pixel formula, so a match
    // proves the whole decode->transform->encode->decode loop pixel-exact.
    Q("q_multimodal_resize",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h
        |  FROM documents)
        |SELECT doc_id, CAST(12 AS INT) AS width, CAST(10 AS INT) AS height,
        |  seed % 16777216 AS p00,
        |  (seed + 31 * ((11 * w) // 12) + 17 * ((9 * h) // 10)) % 16777216 AS pwh
        |FROM d""".stripMargin) { (s, d) =>
      Multimodal.imageProbe(
        Multimodal.imageResize(fixture(s, d, "png"), "doc_id", "payload", w = 12, h = 10),
        "doc_id", "payload")
    },

    // ---- REAL video decode: RIFF/AVI demux + uncompressed frame decode ----
    // Each fixture payload is a complete AVI container with 2-5 raw
    // 24-bit DIB frames (bottom-up BGR rows, 4-byte stride — the
    // codec-free video format, the exact analogue of WAV/PCM for audio).
    // The probe demuxes the RIFF tree, decodes every frame, and emits
    // all-integer per-frame features; the oracle replays the pixel
    // formula, so a match proves the container walk AND the row/channel
    // layout decode are sample-exact. Compressed video (H.264 etc.)
    // remains the labeled stub — that genuinely needs codec libraries.
    Q("q_video_decode", aviOracle(stride = 1)) { (s, d) =>
      Multimodal.aviProbe(fixture(s, d, "avi"), "doc_id", "payload")
    },

    // ---- REAL video frame sampling (decode → subsample → re-encode) -------
    // Every 2nd frame is kept and a VALID uncompressed AVI re-emitted
    // (headers rewritten), then re-decoded by the same probe — the full
    // transform round trip a vision-preproc stage runs to cut decode
    // volume, proven frame-exact by the stride-aware oracle replay.
    Q("q_video_sample", aviOracle(stride = 2)) { (s, d) =>
      Multimodal.aviProbe(
        Multimodal.aviFrameSample(fixture(s, d, "avi"), "doc_id", "payload", stride = 2),
        "doc_id", "payload")
    },

    // ---- REAL image near-dup pairs: dHash + lossless hamming banding ------
    // The visual dedup stage of a multimodal pipeline, promoted to a
    // first-class oracle'd query: dHash each decoded PNG (9x8 integer
    // luma grid, cross-multiplied neighbour compares — no floats), then
    // find all pairs within hamming distance 3 via the lossless 4x16-bit
    // pigeonhole banding (chunk-keyed equi-join + exact bit_count(xor)
    // confirm — never an all-pairs compare; ~210k candidates from 12.5M
    // possible pairs at sf0.1). The oracle replays the ENTIRE hash from
    // the fixture pixel formula — grid geometry, BT.601 luma sums,
    // cross-multiplied bits — then does the exact all-pairs hamming
    // count (fine at oracle scale), so a match proves decode, hash and
    // banding end to end.
    Q("q_image_neardup",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
        |cell AS (
        |  SELECT doc_id, cy, cx,
        |    (cx * w) // 9 AS x0,
        |    least(greatest(((cx + 1) * w) // 9, (cx * w) // 9 + 1), w) AS x1,
        |    (cy * h) // 8 AS y0,
        |    least(greatest(((cy + 1) * h) // 8, (cy * h) // 8 + 1), h) AS y1,
        |    seed
        |  FROM d, unnest(generate_series(0, 7)) AS t1(cy),
        |       unnest(generate_series(0, 8)) AS t2(cx)),
        |cs AS (
        |  SELECT doc_id, cy, cx,
        |    CAST(sum(299 * (((seed + 31*x + 17*y) % 16777216) // 65536)
        |       + 587 * ((((seed + 31*x + 17*y) % 16777216) // 256) % 256)
        |       + 114 * (((seed + 31*x + 17*y) % 16777216) % 256)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM cell, unnest(generate_series(0, 30)) AS tx(x),
        |       unnest(generate_series(0, 22)) AS ty(y)
        |  WHERE x >= x0 AND x < x1 AND y >= y0 AND y < y1
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.doc_id, a.cy * 8 + a.cx AS bit, (a.s * b.c > b.s * a.c) AS bv
        |  FROM cs a JOIN cs b ON a.doc_id = b.doc_id AND a.cy = b.cy
        |    AND b.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |v AS (SELECT doc_id, list(bv ORDER BY bit) AS bs FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(generate_series(1, 64),
        |      i -> a.bs[i] <> b.bs[i])) AS BIGINT) AS hamming
        |  FROM v a JOIN v b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3""".stripMargin) { (s, d) =>
      Multimodal.imageNearDupDHash(fixture(s, d, "png"), "doc_id", "payload",
        maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }.atScale("block-band-replay",
      // same dHash replay, but the pair stage uses the lossless 4x16-bit
      // pigeonhole banding (hamming<=3 => one block identical) instead of
      // the all-pairs compare — the engine's own banding argument, used
      // oracle-side (93 s at sf1 vs intractable all-pairs)
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
        |cell AS (
        |  SELECT doc_id, cy, cx,
        |    (cx * w) // 9 AS x0,
        |    least(greatest(((cx + 1) * w) // 9, (cx * w) // 9 + 1), w) AS x1,
        |    (cy * h) // 8 AS y0,
        |    least(greatest(((cy + 1) * h) // 8, (cy * h) // 8 + 1), h) AS y1,
        |    seed
        |  FROM d, unnest(generate_series(0, 7)) AS t1(cy),
        |       unnest(generate_series(0, 8)) AS t2(cx)),
        |cs AS (
        |  SELECT doc_id, cy, cx,
        |    CAST(sum(299 * (((seed + 31*x + 17*y) % 16777216) // 65536)
        |       + 587 * ((((seed + 31*x + 17*y) % 16777216) // 256) % 256)
        |       + 114 * (((seed + 31*x + 17*y) % 16777216) % 256)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM cell, unnest(generate_series(0, 30)) AS tx(x),
        |       unnest(generate_series(0, 22)) AS ty(y)
        |  WHERE x >= x0 AND x < x1 AND y >= y0 AND y < y1
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.doc_id, a.cy * 8 + a.cx AS bit, (a.s * b.c > b.s * a.c) AS bv
        |  FROM cs a JOIN cs b ON a.doc_id = b.doc_id AND a.cy = b.cy
        |    AND b.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |v AS (SELECT doc_id, list(bv ORDER BY bit) AS bs FROM bits GROUP BY doc_id),
        |blk AS (
        |  SELECT doc_id, j,
        |    CAST(list_sum(list_transform(generate_series(1, 16),
        |      i -> CASE WHEN bs[j*16 + i] THEN 1 << (i - 1) ELSE 0 END)) AS BIGINT) AS bkey
        |  FROM v, unnest(generate_series(0, 3)) AS tj(j)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM blk a JOIN blk b ON a.j = b.j AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id),
        |p AS (SELECT id_a, id_b,
        |    CAST(len(list_filter(generate_series(1, 64),
        |      i -> va.bs[i] <> vb.bs[i])) AS BIGINT) AS hamming
        |  FROM cand JOIN v va ON va.doc_id = id_a JOIN v vb ON vb.doc_id = id_b)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3""".stripMargin),

    // ---- PERSISTED image-hash index: probe new images, zero re-decodes ----
    // The expensive step for an image corpus is pixel DECODE; the index
    // stores only (doc_id, dhash) 8-byte rows (decode paid once per
    // source dir), and a delta batch (every 5th doc — the "new uploads")
    // decodes itself, bands, equi-joins the index chunks, and
    // exact-hamming-confirms. The oracle replays the full synthetic
    // pixel arithmetic for BOTH sides from scratch, so the hash match
    // proves the persisted-hash round trip lossless. Output:
    // (probe_id, corpus_id, hamming ≤ 3); sides disjoint by the split.
    Q("q_image_index_probe",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h FROM documents),
        |cell AS (
        |  SELECT doc_id, cy, cx,
        |    (cx * w) // 9 AS x0,
        |    least(greatest(((cx + 1) * w) // 9, (cx * w) // 9 + 1), w) AS x1,
        |    (cy * h) // 8 AS y0,
        |    least(greatest(((cy + 1) * h) // 8, (cy * h) // 8 + 1), h) AS y1,
        |    seed
        |  FROM d, unnest(generate_series(0, 7)) AS t1(cy),
        |       unnest(generate_series(0, 8)) AS t2(cx)),
        |cs AS (
        |  SELECT doc_id, cy, cx,
        |    CAST(sum(299 * (((seed + 31*x + 17*y) % 16777216) // 65536)
        |       + 587 * ((((seed + 31*x + 17*y) % 16777216) // 256) % 256)
        |       + 114 * (((seed + 31*x + 17*y) % 16777216) % 256)) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM cell, unnest(generate_series(0, 30)) AS tx(x),
        |       unnest(generate_series(0, 22)) AS ty(y)
        |  WHERE x >= x0 AND x < x1 AND y >= y0 AND y < y1
        |  GROUP BY 1, 2, 3),
        |bits AS (
        |  SELECT a.doc_id, a.cy * 8 + a.cx AS bit, (a.s * b.c > b.s * a.c) AS bv
        |  FROM cs a JOIN cs b ON a.doc_id = b.doc_id AND a.cy = b.cy
        |    AND b.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |v AS (SELECT doc_id, list(bv ORDER BY bit) AS bs FROM bits GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
        |    CAST(len(list_filter(generate_series(1, 64),
        |      i -> a.bs[i] <> b.bs[i])) AS BIGINT) AS hamming
        |  FROM v a JOIN v b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
        |SELECT probe_id, corpus_id, hamming FROM p WHERE hamming <= 3""".stripMargin) { (s, d) =>
      val path = Staged.dir(d, "graft_img_idx") { w =>
        Multimodal.buildImageHashIndex(
          fixture(s, d, "png").filter(col("doc_id") % 5 =!= 0), "doc_id", "payload", w)
      }
      val delta = fixture(s, d, "png").filter(col("doc_id") % 5 === 0)
      Multimodal.imageNearDupProbeIndexed(s, path, delta, "doc_id", "payload",
          maxHamming = 3)
        .select(col("probe_id"), col("corpus_id"),
          col("hamming").cast("long").as("hamming"))
    },

    // ---- REAL audio QA gate: clipping / DC offset / peak -------------------
    // The ingest check an audio corpus runs before feature extraction:
    // exact count of near-full-scale samples (|v| >= 32700), the DC
    // offset numerator Σv, and a clip-rate gate at 2000 ppm
    // (cross-multiplied). The oracle replays the fixture PCM formula, so
    // a match re-proves the RIFF decode AND the per-sample arithmetic.
    Q("q_audio_quality",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    256 + doc_id % 512 AS n FROM documents),
        |s AS (SELECT doc_id, n, ((seed + i * 40503) % 65536) - 32768 AS v
        |  FROM d, unnest(generate_series(0, n - 1)) AS u(i))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(CASE WHEN abs(v) >= 32700 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(sum(v) AS BIGINT) AS dc_sum,
        |  sum(CASE WHEN abs(v) >= 32700 THEN 1 ELSE 0 END) * 1000000
        |    <= 2000 * count(*) AS ok
        |FROM s GROUP BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.wavQuality(fixture(s, d, "wav"), "doc_id", "payload",
        clipAt = 32700L, maxClipPpm = 2000L)
    },

    // ---- REAL video scene-cut detection (shot boundaries) -----------------
    // Per consecutive decoded frame pair, the exact integer sum of
    // per-channel absolute pixel differences; a pair is a cut when the
    // mean per-pixel difference reaches 110 (cross-multiplied, no
    // division). The oracle replays the fixture pixel formula for BOTH
    // frames of every pair, so a match proves pairwise frame alignment
    // on top of the demux/decode the probe already proves. This is the
    // shot-sampling signal a vision-preproc stage uses to pick one
    // frame per scene instead of a blind stride.
    Q("q_video_scene_cut",
      """WITH d AS (SELECT doc_id, doc_id * 2654435761 AS seed,
        |    2 + doc_id % 4 AS n FROM documents),
        |f AS (SELECT doc_id, seed, i AS fi FROM d,
        |      unnest(generate_series(1, n - 1)) AS t(i)),
        |p AS (SELECT doc_id, fi,
        |    (seed + 31 * x + 17 * y + 73 * fi) % 16777216 AS v1,
        |    (seed + 31 * x + 17 * y + 73 * (fi - 1)) % 16777216 AS v0
        |  FROM f, unnest(generate_series(0, 9)) AS tx(x),
        |       unnest(generate_series(0, 7)) AS ty(y)),
        |s AS (SELECT doc_id, CAST(fi AS INT) AS frame_id,
        |    CAST(sum(abs(v1 // 65536 - v0 // 65536)
        |      + abs((v1 // 256) % 256 - (v0 // 256) % 256)
        |      + abs(v1 % 256 - v0 % 256)) AS BIGINT) AS diff_sum
        |  FROM p GROUP BY 1, 2)
        |SELECT doc_id, frame_id, CAST(80 AS BIGINT) AS n_px, diff_sum,
        |  diff_sum >= 110 * 80 AS is_cut
        |FROM s""".stripMargin) { (s, d) =>
      Multimodal.aviSceneCuts(fixture(s, d, "avi"), "doc_id", "payload",
        thrPerPixel = 110L)
    },

    // ---- REAL image crop + horizontal flip (augmentation pair) ------------
    // Each fixture PNG (min 8x8) is cropped to the 6x5 region at (1, 2)
    // and mirrored left-right, then re-encoded; the probe re-decodes and
    // reads the output corners. out(x,y) = src(1 + 5 - x, 2 + y), so
    // p00 = src(6,2) = seed + 31*6 + 17*2 and pwh = out(5,4) = src(1,6)
    // = seed + 31 + 17*6 — the oracle recomputes both from the fixture's
    // pixel formula, proving the decode→crop→flip→encode→decode loop
    // pixel-exact (a clamped or off-by-one crop, or an unflipped copy,
    // cannot hash-match).
    Q("q_multimodal_crop",
      """SELECT doc_id, CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
        |  (doc_id * 2654435761 + 220) % 16777216 AS p00,
        |  (doc_id * 2654435761 + 133) % 16777216 AS pwh
        |FROM documents""".stripMargin) { (s, d) =>
      Multimodal.imageProbe(
        Multimodal.imageCrop(fixture(s, d, "png"), "doc_id", "payload",
          x0 = 1, y0 = 2, cw = 6, ch = 5, flipH = true),
        "doc_id", "payload")
    }
  )
}
