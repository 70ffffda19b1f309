package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (capability superset — the reference has
  * no streams, SURVEY §0). Streams the events table and produces the same
  * answers as the batch path, in the shape that scales: watermarked
  * event-time state, Append output, and a FILE sink — never a driver-side
  * memory sink, never Complete mode.
  *
  * Every query is one [[drain]]: a stream over a [[watched]] dir, run on
  * a [[drainSession]] into a parquet sink ([[runToParquet]]), a
  * merge-into-table or an append log ([[BatchTable]]), and read back with
  * the schema it was written with.
  *
  * Finite-stream mechanics: Append mode only emits a window/group once
  * the watermark passes it, and the watermark only advances with new
  * data — so a bounded replay would otherwise hold its final windows in
  * state forever. The staged source appends one SENTINEL row far in the
  * future (2100-01-01); it advances the watermark past every real window
  * end, the no-data micro-batch then flushes all real state (the dedup
  * drains, which emit on arrival, skip that batch), and the
  * sentinel's own group (never finalized, or filtered by key) stays out
  * of the results. On a true unbounded stream the sentinel is simply
  * unnecessary — the operators are identical. */
object Streams {

  /** Scratch root for stream staging/checkpoint/sink dirs. Streaming's
    * per-query fixed cost is dominated by per-batch metadata fsyncs
    * (offset log, commit log, state-store deltas, sink metadata — each
    * micro-batch is several small synchronous writes), so scratch
    * placement is a deployment knob: RAM-backed when available
    * (/dev/shm here; a production cluster points this at its fast local
    * volume or object store per its durability needs — the operators are
    * identical either way). `SPARK_GRAFT_STREAM_SCRATCH` overrides. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val pick = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
      .orElse(Some("/dev/shm").filter(p => new java.io.File(p).canWrite))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    // PER-JVM subdirectory: concurrent graft JVMs (sbt test beside a
    // Verify run) must not share a deletable root. RAM-backed scratch is
    // precious, so TempDirs reclaims this JVM's subtree on exit (staged
    // inputs are memoized for the session, so not earlier; per-query
    // sinks are read back lazily by callers).
    graft.ops.TempDirs.tempDir(java.nio.file.Paths.get(pick, "graft_stream_scratch"), "jvm_")
  }

  private def scratchDir(prefix: String): String =
    graft.ops.TempDirs.tempDir(scratchRoot, prefix).toString

  /** Group key / event_type marking the watermark-advancing sentinel. */
  private val SentinelType = "_g_sentinel"
  private val SentinelUs = 4102444800L * 1000000L // 2100-01-01T00:00Z, µs

  /** A bounded file-source stream over a watch dir that `stage` fills
    * once per `key` ([[graft.ops.Staged]]). The dir's schema is read from
    * its footers at staging time, so every later stream opens with it and
    * infers nothing. The watch dir is append-only input from the stream's
    * point of view, so concurrent queries share it; each drain owns its
    * own checkpoint and output dirs. `maxFilesPerTrigger` turns each
    * staged file into a micro-batch of its own. Returns the stream and
    * `stage`'s value. */
  private def watched[T](s: SparkSession, key: Any, prefix: String,
      maxFilesPerTrigger: Option[Int] = None)(stage: String => T): (DataFrame, T) = {
    val (watch, schema, staged) = graft.ops.Staged.once(key) {
      val w = scratchDir(prefix)
      val t = stage(w)
      (w, s.read.parquet(w).schema, t)
    }
    val reader = s.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    (reader.parquet(watch), staged)
  }

  /** The events table plus the sentinel row as a [[watched]] stream per
    * (source dir, replays), with `ts` rebuilt as a proper timestamp.
    * `replays` > 1 stages the file that many times — the at-least-once
    * redelivery the dedup and upsert drains de-duplicate. */
  private def stagedEventStream(s: SparkSession, dir: String,
      replays: Int = 1, maxFilesPerTrigger: Option[Int] = None): DataFrame =
    watched(s, ("graft_stream_in", dir, replays), "graft_stream_in",
        maxFilesPerTrigger) { w =>
      // staged as µs-since-epoch longs: the source parquet's ts flavor
      // varies by data drop (nanos vs micros — see Tables.events), the
      // staged schema does not
      val ev = graft.ops.Tables.events(s, dir)
        .withColumn("ts", unix_micros(col("ts"))).coalesce(1)
      (1 to replays).foreach(_ => ev.write.mode("append").parquet(w))
      import s.implicits._
      Seq((-1L, SentinelUs, -1L, SentinelType, 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(w)
    }._1.withColumn("ts", timestamp_micros(col("ts")))

  /** Cloned sessions the drains run on, one per (parent session, state
    * partitions, RocksDB state store, flush batch needed). Each is created
    * once with its whole drain configuration and never reconfigured (the
    * only later write is `Tables.events`' idempotent `nanosAsLong` flag),
    * so concurrent drains — Verify runs the registry in parallel — share
    * it without racing on a session-global mutate, and no call pays for a
    * fresh `newSession()` (a clone shares the SparkContext but owns its
    * SQLConf). Weakly keyed by the parent: a clone holds no reference back
    * to it. */
  private val drainSessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(Int, Boolean, Boolean), SparkSession]]()

  /** The cloned session for one drain configuration (see [[drainSessions]]).
    * `statePartitions` sizes the state store (and every shuffle) for the
    * query's keyspace; `rocksDbState` picks the RocksDB provider — the
    * production provider once state outgrows the executor heap (the
    * default HDFS-backed provider keeps the working set in memory):
    * spilling, incremental checkpoints, bounded memory, same plans and
    * answers. `flush = false` turns off no-data micro-batches: a drain
    * whose stateful operator emits each row on arrival (dedup) finishes in
    * its one data batch, while window, session and timer drains need the
    * flush batch the sentinel's watermark triggers to emit their state. */
  private[graft] def drainSession(parent: SparkSession, statePartitions: Int,
      rocksDbState: Boolean = false, flush: Boolean = true): SparkSession = {
    val byConf = drainSessions.synchronized(
      drainSessions.computeIfAbsent(parent, _ => new ConcurrentHashMap()))
    byConf.computeIfAbsent((statePartitions, rocksDbState, flush), _ => {
      val s = parent.newSession()
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      if (rocksDbState) s.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      if (!flush) s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      // bounded replay: retaining the default 100 checkpoint batches is
      // pure metadata-churn headroom we never use (2-4 batches per drain)
      s.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
      s
    })
  }

  /** The one drain. `run` gets the [[drainSession]] for (`statePartitions`,
    * `rocksDbState`, `flush`) and a fresh scratch root named by `prefix`;
    * it builds the stream, configures its sink, and says how to read the
    * drained result back. The drain puts the checkpoint under the root,
    * starts the query, processes all available input, stops it and
    * returns that read-back. The default trigger with
    * `processAllAvailable()` is the bounded drain: `Trigger.AvailableNow()`
    * with `awaitTermination()` measured slower, because its up-front batch
    * planning and end-of-stream bookkeeping cost more than the poll. */
  private def drain[T](spark0: SparkSession, prefix: String, statePartitions: Int,
      rocksDbState: Boolean = false, flush: Boolean = true)(
      run: (SparkSession, String) => (DataStreamWriter[Row], () => T)): T = {
    val root = scratchDir(prefix)
    val (sink, result) = run(drainSession(spark0, statePartitions, rocksDbState, flush), root)
    val q = sink.option("checkpointLocation", s"$root/chk").start()
    try q.processAllAvailable() finally q.stop()
    result()
  }

  /** [[drain]] `build`'s stream in Append mode into a parquet file sink
    * and read the result back with the stream's schema, so no listing and
    * footer-inference job runs per drained result. Each state partition
    * costs a store instance, a commit and checkpoint files on EVERY batch
    * (no-data flush batches included), so `statePartitions` is per query:
    * a low-cardinality grouping (window × event_type) runs on 2, not on
    * the session-wide shuffle width; at production keyspaces it sizes up
    * with state volume. */
  private def runToParquet(spark0: SparkSession, statePartitions: Int,
      rocksDbState: Boolean = false, flush: Boolean = true)(
      build: SparkSession => DataFrame): DataFrame =
    drain(spark0, "graft_stream_out", statePartitions, rocksDbState, flush) { (s, root) =>
      val out = build(s)
      (out.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$root/data"),
        () => spark0.read.schema(out.schema).parquet(s"$root/data"))
    }

  /** The parquet table at `root/table` that a foreachBatch drain writes:
    * [[merge]] (upsert, CDC) or [[append]] (the ingest log). Every step
    * goes through the table path's own Hadoop `FileSystem`, so the table
    * can live on any store Hadoop resolves, and every read uses the schema
    * the table was last written with, so no read runs a footer-inference
    * job. One writer per table: the drain's foreachBatch. */
  private[graft] final class BatchTable(root: String) {
    private val path = new Path(root, "table")
    @volatile private var schema: StructType = _

    private def fs(s: SparkSession) = path.getFileSystem(s.sparkContext.hadoopConfiguration)

    /** The table as last written; None before the first write. */
    def current(s: SparkSession): Option[DataFrame] =
      if (fs(s).exists(path)) Some(s.read.schema(schema).parquet(path.toString)) else None

    /** The table as last written; throws if nothing was written. */
    def read(s: SparkSession): DataFrame = current(s).getOrElse(
      throw new IllegalStateException(s"no batch was written to $path"))

    /** Appends `df` as one more file: O(batch) per batch, the
      * log-structured write. */
    def append(df: DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(path.toString)
      schema = df.schema
    }

    /** Replaces the table with `f(batch, current)` in 4 parts: write
      * `root/swap`, rename the table to `root/old` and the swap to the
      * table, delete the old. Atomic enough for one writer; a table
      * format's MERGE replaces this wholesale in production. Hadoop's
      * `rename` returns false instead of throwing, and moves its source
      * INTO a destination directory that exists; either would leave the
      * table missing or stale, and the next batch would quietly merge into
      * the wrong state. So a rename only targets a path that does not
      * exist, and a failed one throws. */
    def merge(s: SparkSession, batch: DataFrame)(
        f: (DataFrame, Option[DataFrame]) => DataFrame): Unit = {
      val merged = f(batch, current(s))
      val swap = new Path(root, "swap")
      val old = new Path(root, "old")
      merged.coalesce(4).write.mode("overwrite").parquet(swap.toString)
      val fs = this.fs(s)
      def rename(from: Path, to: Path): Unit =
        if (fs.exists(to) || !fs.rename(from, to))
          throw new java.io.IOException(s"could not rename $from to $to")
      if (fs.exists(path)) rename(path, old)
      rename(swap, path)
      fs.delete(old, true)
      schema = merged.schema
    }
  }

  /** [[drain]] `source` through foreachBatch into a [[BatchTable]]: each
    * micro-batch is merged into the current table by `f` and swapped in,
    * and the final table is read back. State lives in the TABLE, not the
    * stream: no watermark, no state store, restart-safe via the
    * checkpoint's batch ids. */
  private def mergeStream(spark0: SparkSession, prefix: String)(
      source: SparkSession => DataFrame)(
      f: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame =
    drain(spark0, prefix, statePartitions = 8) { (s, root) =>
      val table = new BatchTable(root)
      (source(s).writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
        table.merge(s, batch)(f)
      }, () => table.read(spark0))
    }

  /** Tumbling-window aggregation over the stream: watermark + Append into
    * a parquet sink — bounded state (windows drop once the watermark
    * passes), nothing driver-side. Returns the finalized result table.
    * `aggs` maps output column name → aggregate over the window group.
    * `rocksDbState` keeps the state in RocksDB, the provider a large
    * deployment runs (state spills to local disk with incremental
    * checkpoints instead of living on the executor heap): the same plan
    * and answers on the production backend. */
  def runWindowedAgg(spark: SparkSession, dir: String, windowDur: String,
      aggs: Seq[(String, Column)], rocksDbState: Boolean = false): DataFrame =
    runToParquet(spark, statePartitions = 2, rocksDbState) { s =>
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), windowDur), col("event_type"))
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)
    }.filter(col("event_type") =!= SentinelType)

  /** SLIDING window aggregation over the stream: 1-hour windows sliding
    * every 15 minutes, so each event lands in exactly 4 overlapping
    * windows (the smoothing/rate-limiting shape tumbling windows cannot
    * express). State holds the OPEN slide positions only — 4× the
    * tumbling state for a 4× overlap factor, still bounded by the
    * watermark; Spark assigns all 4 windows per row in one pass without
    * materializing an explode. Output keys are (window_start, type). */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    runToParquet(spark, statePartitions = 2) { s =>
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value").cast("double") * 10000d + 0.5d)
            .cast("long")).as("v_fp"))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("win_start"),
          col("n"), col("v_fp"))
    }.filter(col("event_type") =!= SentinelType)

  /** CHAINED streaming window aggregations — two stateful operators in
    * ONE query (Spark 3.4+ multi-stateful support): a fine 1-minute
    * window pre-aggregates per (minute, event_type), then an hourly
    * window over `window_time` (the event-time column a finalized window
    * carries, = window.end − 1µs) rolls minutes up. This is the
    * streaming rollup cascade a 100 TB telemetry pipeline runs as one
    * job instead of two chained topics: the minute operator's state is
    * bounded by open minutes, the hour operator only ever sees
    * MINUTE-grained rows (≤60 per hour per type — state and traffic
    * shrink by the pre-aggregation factor before the expensive window),
    * and the propagated watermark finalizes both layers in lock-step.
    * `n_minutes` counts the distinct non-empty minutes feeding each
    * hour — a value only the chained shape can produce, so the oracle
    * match proves BOTH layers ran. */
  def chainedWindowedAgg(spark: SparkSession, dir: String): DataFrame =
    runToParquet(spark, statePartitions = 2) { s =>
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(window_time(col("window")), "1 hour"),
          col("event_type"))
        .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_minutes"))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("hour_start"),
          col("n_events"), col("n_minutes"))
    }.filter(col("event_type") =!= SentinelType)

  /** Gap-based SESSION-window aggregation over the stream — the streaming
    * twin of `ops.Sessionize`: the native `session_window` state operator
    * merges events arriving within `gap` of the session's current end,
    * and Append emits each session exactly once when the watermark passes
    * it (state is bounded by the OPEN sessions only — closed sessions
    * leave the store, which is what makes gap sessions viable on
    * unbounded input). Boundary semantics are half-open: an event landing
    * EXACTLY `gap` after the previous one starts a NEW session (the
    * oracle mirrors this with a `>= gap` break). Output: (user_id,
    * session_start, session_end, n_events) in epoch micros. */
  def sessionWindowAgg(spark: SparkSession, dir: String,
      gap: String): DataFrame =
    runToParquet(spark, statePartitions = 4) { s =>
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("session_start"),
          max(unix_micros(col("ts"))).as("session_end"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
    }.filter(col("user_id") =!= -1L)

  /** Streaming exact dedup under an event-time watermark. The dedup key is
    * EXPLICITLY `keyCols` + the event time `ts`: a duplicate is the same
    * content re-delivered at the same event time (the at-least-once replay
    * case) — rows matching on `keyCols` at different event times are kept.
    * Including the event-time column in the key is what lets Spark drop
    * state past the watermark; for time-agnostic keys use
    * `dropDuplicatesWithinWatermark` (unbounded-lateness dups then slip
    * through at the watermark horizon). The operator emits each first
    * occurrence on arrival, so the drain runs without the no-data flush
    * batch: one micro-batch per drain of the staged input. */
  def dedupStream(spark: SparkSession, dir: String, keyCols: Seq[String],
      watermark: String = "1 day", replays: Int = 1): DataFrame =
    runToParquet(spark, statePartitions = 2, flush = false) { s =>
      stagedEventStream(s, dir, replays)
        .withWatermark("ts", watermark)
        .dropDuplicates(keyCols :+ "ts")
    }.filter(col("event_type") =!= SentinelType)

  /** Watermark-BOUNDED time-agnostic dedup — the scale-correct form of
    * "drop redelivered events regardless of their timestamp":
    * `dropDuplicatesWithinWatermark` keys state on `keyCols` ALONE (no
    * event-time column in the key) yet still expires each key's state
    * once the watermark passes its first-seen time + delay, so state is
    * bounded by the key arrival rate × the lateness window instead of
    * growing forever like time-agnostic `dropDuplicates` on a stream.
    * Contract: duplicates are guaranteed dropped only when they arrive
    * within `watermark` of the first occurrence — exactly the
    * at-least-once redelivery case (`replays` simulates it; redeliveries
    * land within the same staged read, well inside any real delay).
    * Like [[dedupStream]], one micro-batch with no flush batch. */
  def dedupWithinWatermarkStream(spark: SparkSession, dir: String,
      keyCols: Seq[String], watermark: String = "1 day",
      replays: Int = 2): DataFrame =
    runToParquet(spark, statePartitions = 2, flush = false) { s =>
      stagedEventStream(s, dir, replays)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    }.filter(col("event_type") =!= SentinelType)

  /** Stream-static join + windowed aggregate: the event stream enriches
    * against a STATIC dimension (re-planned per micro-batch, broadcast
    * when small — exactly the batch join rules), then a watermarked
    * tumbling-window aggregate finalizes per (window, dimCol) group. The
    * static side never enters the state store, so state size is bounded
    * by the window keyspace alone — the scale shape for "join the stream
    * to reference data". The watermark is declared BEFORE the join so the
    * sentinel advances it even though the join (inner, key -1 matches
    * nothing) then drops the sentinel row. */
  def streamStaticWindowedAgg(spark: SparkSession, dir: String,
      dim: DataFrame, streamKey: String, dimKey: String, dimCol: String,
      windowDur: String, aggs: Seq[(String, Column)]): DataFrame =
    runToParquet(spark, statePartitions = 2) { s =>
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .join(broadcast(dim), col(streamKey) === col(dimKey), "inner")
        .groupBy(window(col("ts"), windowDur), col(dimCol))
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)
    }

  /** The one stream-stream join: two replays of the event stream join on
    * `event_id` within a ±`band` EVENT-TIME range, `how` = inner, left_outer
    * or full_outer. Both sides carry watermarks and the range condition
    * bounds how long either side's rows wait in the join state, so state
    * retires as the watermark advances — the only shape at which a
    * stream×stream join survives unbounded input; an outer side's
    * unmatched rows emit with NULLs once the watermark passes their time +
    * band. `keepLeft`/`keepRight` filter each side by its id, and the
    * `-1` sentinel is always kept: Catalyst pushes a non-event-time
    * predicate below the EventTimeWatermark node, so a filter that drops
    * the sentinel drops it BEFORE the watermark sees it, the global
    * watermark stalls at the max real event time, and every unmatched row
    * in the last `band` of the stream stays in state forever. The
    * sentinel instead joins its own twin and is dropped after the drain.
    * It runs on 4 state partitions, not the window drains' 2: at 2 the
    * stream queries measured slower at sf0.1, because the join's batch
    * work (two source scans, one key per event, four state stores per
    * partition for left/right × keyToNumValues/keyWithIndexToValue) wants
    * the width. Output: (event_id, event_type, value). */
  private def bandJoin(spark: SparkSession, dir: String, band: String,
      how: String, keepLeft: Column => Column = _ => lit(true),
      keepRight: Column => Column = _ => lit(true)): DataFrame =
    runToParquet(spark, statePartitions = 4) { s =>
      def side(p: String, payload: String, keep: Column => Column) = {
        val id = col(s"${p}_id")
        stagedEventStream(s, dir)
          .select(col("event_id").as(s"${p}_id"), col("ts").as(s"${p}_ts"),
            col(payload))
          .withWatermark(s"${p}_ts", "0 seconds")
          .filter(keep(id) || id === -1L)
      }
      side("l", "event_type", keepLeft).join(side("r", "value", keepRight), expr(
          s"""l_id = r_id AND
             |r_ts >= l_ts - interval $band AND
             |r_ts <= l_ts + interval $band""".stripMargin), how)
        .select(coalesce(col("l_id"), col("r_id")).as("event_id"),
          col("event_type"), col("value"))
    }.filter(col("event_id") =!= -1L)

  /** Stream-stream inner [[bandJoin]]: every event pairs with its twin. */
  def streamStreamJoin(spark: SparkSession, dir: String,
      band: String = "1 minute"): DataFrame =
    bandJoin(spark, dir, band, "inner")

  /** Stream-stream LEFT OUTER [[bandJoin]]: the right side keeps only even
    * event ids, so odd ids exercise the null-emission path. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String,
      band: String = "1 minute"): DataFrame =
    bandJoin(spark, dir, band, "left_outer", keepRight = _ % 2 === 0)

  /** Stream-stream FULL OUTER [[bandJoin]]: the left side keeps ids with
    * `id % 3 != 0`, the right side even ids, so all three emission paths
    * are non-empty on the fixture: matched (even, not div-3), left-only
    * (odd, not div-3), right-only (div-6). */
  def streamStreamFullJoin(spark: SparkSession, dir: String,
      band: String = "1 minute"): DataFrame =
    bandJoin(spark, dir, band, "full_outer",
      keepLeft = _ % 3 =!= 0, keepRight = _ % 2 === 0)

  /** Streaming UPSERT via foreachBatch — the production pattern for
    * "merge this stream into a table": each micro-batch deduplicates
    * itself on `keyCols`, then merges into the target table keeping
    * existing rows on key conflict (idempotent under at-least-once
    * redelivery, which `replays = 2` simulates; one file per trigger
    * forces real multi-batch execution so the merge actually exercises
    * the conflict path). The merge is read-union-dedup-rewrite over a
    * parquet dir with a directory swap ([[BatchTable.merge]]) — the
    * honest plain-file emulation; at scale the foreachBatch body is the
    * SAME and only the final write becomes a transactional MERGE /
    * partition overwrite on a table format (Delta/Iceberg). */
  def upsertStream(spark: SparkSession, dir: String, keyCols: Seq[String],
      replays: Int = 2): DataFrame =
    mergeStream(spark, "graft_stream_upsert")(
      stagedEventStream(_, dir, replays, maxFilesPerTrigger = Some(1)))(
      upsertMerge(keyCols)).filter(col("event_type") =!= SentinelType)

  /** [[upsertStream]]'s merge: the batch deduplicated on `keyCols`, with
    * current rows winning on key conflict. */
  private[graft] def upsertMerge(keyCols: Seq[String])(batch: DataFrame,
      current: Option[DataFrame]): DataFrame = {
    val fresh = batch.dropDuplicates(keyCols)
    current.fold(fresh)(cur =>
      cur.unionByName(fresh.join(cur.select(keyCols.map(col): _*), keyCols, "left_anti")))
  }

  /** Stateful per-user event counting via flatMapGroupsWithState in
    * Append mode with an EVENT-TIME TIMEOUT: a user's count lives in
    * state only until the watermark passes their last event, then emits
    * exactly once and the state is dropped — the bounded-state shape for
    * custom per-key aggregation at scale (vs mapGroupsWithState + Update,
    * which cannot feed a file sink and never retires state). */
  def userEventCounts(spark: SparkSession, dir: String): DataFrame =
    runToParquet(spark, statePartitions = 2) { s =>
      import s.implicits._
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long)](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
              state: GroupState[(Long, Long)]) =>
            if (state.hasTimedOut) {
              val (n, _) = state.get
              state.remove()
              Iterator.single((user, n))
            } else {
              var (n, maxTs) = state.getOption.getOrElse((0L, 0L))
              rows.foreach { r => n += 1; maxTs = math.max(maxTs, r._2.getTime) }
              state.update((n, maxTs))
              // strictly beyond both the group's last event and the current
              // watermark (setTimeoutTimestamp rejects <= watermark)
              state.setTimeoutTimestamp(
                math.max(maxTs, state.getCurrentWatermarkMs()) + 1)
              Iterator.empty
            }
        }
        .toDF("user_id", "n_events")
    }.filter(col("user_id") =!= -1L)

  /** The same bounded per-user count on Spark 4's `transformWithState` —
    * the arbitrary-state API that supersedes (flat)MapGroupsWithState:
    * typed named state cells (ValueState/ListState/MapState with optional
    * TTL) plus EXPLICIT event-time timers instead of one implicit
    * timeout. Requires the RocksDB state-store provider (the API is
    * implemented only there — which is also the backend a large
    * deployment runs anyway). Semantics mirrored from
    * [[userEventCounts]]: count + max event time accumulate in a
    * ValueState; each batch re-arms a single timer strictly beyond
    * max(lastEvent, watermark); when the watermark passes it, the count
    * emits once and the state clears. Timers are ADDITIVE here (unlike
    * setTimeoutTimestamp, which replaces), so the previous timer is
    * deleted explicitly — the one behavioral trap in the migration. */
  def userEventCountsTws(spark: SparkSession, dir: String): DataFrame =
    runToParquet(spark, statePartitions = 2, rocksDbState = true) { s =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{StatefulProcessor, TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo, ValueState}
      val processor = new StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long)] {
        @transient private var st: ValueState[(Long, Long, Long)] = _ // (n, maxTs, armedTimer)
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[(Long, Long, Long)]("agg",
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaLong),
            TTLConfig.NONE)
        override def handleInputRows(key: Long,
            rows: Iterator[(Long, java.sql.Timestamp)],
            tv: TimerValues): Iterator[(Long, Long)] = {
          var (n, maxTs, armed) =
            if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
          rows.foreach { r => n += 1; maxTs = math.max(maxTs, r._2.getTime) }
          if (armed != Long.MinValue) getHandle.deleteTimer(armed)
          val expiry = math.max(maxTs, tv.getCurrentWatermarkInMs()) + 1
          getHandle.registerTimer(expiry)
          st.update((n, maxTs, expiry))
          Iterator.empty
        }
        override def handleExpiredTimer(key: Long, tv: TimerValues,
            info: ExpiredTimerInfo): Iterator[(Long, Long)] = {
          val (n, _, _) = st.get()
          st.clear()
          Iterator.single((key, n))
        }
      }
      stagedEventStream(s, dir)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "n_events")
    }.filter(col("user_id") =!= -1L)

  /** Streaming CDC apply — [[graft.ops.Scale.applyCdcLog]] run as a
    * foreachBatch sink: the events stream is read as a change log
    * (op = delete for event_id % 10 = 9, upsert otherwise, replayed in
    * ts-segments), and each micro-batch merges into a compacted
    * last-writer-wins table ([[cdcMerge]]). At scale the foreachBatch
    * body is the standard Debezium/Delta CDC sink MERGE. Output:
    * (user_id, last_type, last_value, n_ops, last_us) for keys whose
    * final op is an upsert. */
  def cdcApplyStream(spark0: SparkSession, dir: String): DataFrame =
    mergeStream(spark0, "graft_cdc_run") { s =>
      // the CDC log: the events table ts-range-split into 4 files, so it
      // really replays as several temporal micro-batches
      watched(s, ("graft_cdc_in", dir), "graft_cdc_in", maxFilesPerTrigger = Some(1)) { w =>
        graft.ops.Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"),
            col("event_type"), col("value"))
          .repartitionByRange(4, col("ts"))
          .write.mode("overwrite").parquet(w)
      }._1
    }(cdcMerge).where(col("op") =!= "D")
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("n_ops"), col("ts").as("last_us"))

  /** [[cdcApplyStream]]'s merge. The table keeps per key the WINNING row
    * (by (ts, event_id)), its op — deletes stay as TOMBSTONES so a
    * pre-delete upsert in a later batch cannot resurrect what a mid-log
    * delete killed, while a post-delete upsert does — and the accumulated
    * op count, so the final state is independent of batch boundaries
    * (which is what makes the batch-mode oracle exact). */
  private[graft] def cdcMerge(batch: DataFrame, current: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = batch
      .withColumn("op", when(col("event_id") % 10 === 9, "D").otherwise("U"))
      .withColumn("n_ops", lit(1L))
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    current.fold(b)(_.unionByName(b))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", sum(col("n_ops")).over(Window.partitionBy("user_id")))
      .where(col("_rn") === 1)
      .withColumn("n_ops", col("_n")).drop("_rn", "_n")
  }

  /** Streaming ingest with INDEX-BACKED exact dedup — the composition the
    * persisted dedup index exists for: documents arrive as micro-batches,
    * each batch probes the corpus index ([[graft.dedup.Dedup.exactDeltaIndexed]]
    * — map-side Bloom prune + hash-confirm join, ZERO corpus text scans),
    * and only verbatim-new content APPENDS to the ingest log — the
    * log-structured production shape (each batch writes O(batch), never
    * O(table); a per-batch read-merge-rewrite is the quadratic ingest
    * anti-pattern LSM trees and lakehouse MERGE exist to avoid;
    * [[upsertStream]] keeps demonstrating the read-merge form where
    * last-state semantics genuinely need it). The final compaction keeps
    * the MIN doc id per content hash, so the result is independent of
    * batch order/boundaries — which is what makes a batch-mode oracle
    * possible (min is associative over any append interleaving). State
    * lives in the log (no watermark, no state store); at scale the
    * append becomes a transactional table append and the compaction a
    * periodic OPTIMIZE. Output: (doc_id, content_hash) per surviving
    * new document. */
  def dedupIngestStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    drain(spark, "graft_ingest_run", statePartitions = 8) { (s, root) =>
      // staged once per source dir: the corpus dedup index over the
      // doc_id % 3 ≠ 0 "existing corpus", and the document stream in 4
      // doc_id-ranged files so several micro-batches really execute
      val (docs, idxPath) = watched(s, ("graft_ingest", dir), "graft_ingest_in",
          maxFilesPerTrigger = Some(1)) { w =>
        val idx = scratchDir("graft_ingest_idx")
        val all = s.read.parquet(s"$dir/documents.parquet")
        Dedup.buildCorpusIndex(all.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", idx)
        all.repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(w)
        idx
      }
      val log = new BatchTable(root)
      (docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
        val dupIds = Dedup.exactDeltaIndexed(batch, idxPath, "doc_id", "text")
        log.append(batch
          .withColumn("content_hash",
            md5(Dedup.normalizeText(col("text")).cast("binary")))
          .join(dupIds.select("doc_id"), Seq("doc_id"), "left_anti")
          .select("doc_id", "content_hash"))
      }, () =>
        // one compaction after the drain: min doc_id per content hash over
        // the whole append log — within-stream duplicates collapse here
        log.read(spark)
          .groupBy("content_hash").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "content_hash"))
    }
  }
}
