package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey analytics over the events stream: Markov transition
  * matrices, per-session path mining, interval coverage (gaps-and-
  * islands), and a point-in-time join of events against an SCD2
  * dimension history. Everything keys on user_id — at scale the whole
  * family shares one hash partitioning — and every output value is an
  * integer, a passthrough, or an integer-ratio basis point, so the
  * DuckDB oracle is bit-exact.
  */
object JourneyOps {

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")
  private def orders(s: SparkSession, d: String) = Tables(s, d, "orders")

  private def byTime: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy("user_id").orderBy("ts", "event_id")

  // =========================================================================
  // 1. Markov transition matrix
  // =========================================================================

  /** (src → dst) transition counts + probability (basis points, floor
    * division) between consecutive events per user, ordered by
    * (ts, event_id). One user-keyed window + a groupBy on the tiny
    * (src, dst) grid; the per-src totals join is grid-sized. */
  def transitions(ev: DataFrame): DataFrame = {
    val g = ev.withColumn("dst", lead(col("event_type"), 1).over(byTime))
      .where(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = g.groupBy("src").agg(sum(col("n")).as("tot"))
    g.join(tot, "src")
      .select(col("src"), col("dst"), col("n"), expr("(n * 10000) div tot").as("p_bp"))
  }

  private val TransitionsOracle: String =
    """WITH s AS (SELECT event_type, lead(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM events),
      |g AS (SELECT event_type AS src, dst, CAST(count(*) AS BIGINT) AS n
      |  FROM s WHERE dst IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM g GROUP BY src)
      |SELECT g.src, g.dst, g.n, (g.n * 10000) // t.tot AS p_bp
      |FROM g JOIN t USING (src)""".stripMargin

  // =========================================================================
  // 2. Top session paths
  // =========================================================================

  /** Top 20 event-type paths ('view>click>…') over gap-based sessions
    * (same brk/cumsum device as [[Sessionize]], with an explicit
    * (ts, event_id) tie-break so the path string is deterministic).
    * Path assembly is array_sort over per-session structs — sessions are
    * human-sized, so the collect is bounded; the path frequency table is
    * tiny. */
  def topPaths(ev: DataFrame, gapMicros: Long, k: Int): DataFrame = {
    val tsu = unix_micros(col("ts"))
    val brk = when(lag(tsu, 1).over(byTime).isNull ||
      tsu - lag(tsu, 1).over(byTime) > gapMicros, 1L).otherwise(0L)
    ev.withColumn("sid", sum(brk).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(array_join(expr("transform(array_sort(collect_list(" +
        "struct(unix_micros(ts) AS t, event_id AS i, event_type AS y))), x -> x.y)"),
        ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  private val TopPathsOracle: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o),
      |p AS (SELECT user_id, sid,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path FROM s GROUP BY 1, 2)
      |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
      |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin

  // =========================================================================
  // 3. Interval merge (gaps-and-islands)
  // =========================================================================

  /** Merge each user's overlapping activity intervals ([ts, ts+span))
    * into maximal islands: classic gaps-and-islands via a running max of
    * interval ends (an interval starts a new island iff it begins after
    * every earlier interval has ended). Integer micros throughout; one
    * user-keyed sort. Emits per island: bounds and event count. */
  def mergeIntervals(ev: DataFrame, spanMicros: Long): DataFrame = {
    val iv = ev.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + spanMicros).as("e"))
    val w = Window.partitionBy("user_id").orderBy("s", "e")
    val pmax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(pmax.isNull || col("s") > pmax, 1L).otherwise(0L)
    iv.withColumn("island", sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"),
        count(lit(1)).as("n_ev"))
  }

  private val IntervalOracle: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
      |  FROM events),
      |m AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
      |f AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk FROM m),
      |g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
      |SELECT user_id, island, min(s) AS i_start, max(e) AS i_end,
      |  CAST(count(*) AS BIGINT) AS n_ev
      |FROM g GROUP BY user_id, island""".stripMargin

  // =========================================================================
  // 4. Point-in-time join against an SCD2 dimension
  // =========================================================================

  /** Each event joined to the dimension version in effect at its
    * timestamp: the lakehouse PIT-lookup composition. The history is
    * [[Scale.scdType2]] over a DAILY-deduped change feed (last status
    * per (key, day) by seq — same-day churn collapses so every version
    * has a unique eff_from and the as-of carry is deterministic), then
    * [[AsofJoin.asofJoin]] does the lookup as one exchange + ordered
    * window carry — never a range BNLJ. */
  def pitJoin(ev: DataFrame, feed: DataFrame): DataFrame = {
    val daily = feed
      .groupBy(col("custkey"), col("ts"))
      .agg(max(struct(col("seq"), col("status"))).as("m"))
      .select(col("custkey"), col("ts"), col("m.seq").as("seq"), col("m.status").as("status"))
    val hist = Scale.scdType2(daily, Seq("custkey"), Seq("status"), "ts", "seq")
      .select(col("custkey"), col("status"), col("eff_from").as("ts"))
    AsofJoin.asofJoin(
        ev.select(col("event_id"), col("user_id").as("custkey"), col("ts")),
        hist, key = "custkey", ts = "ts", rightCols = Seq("status"), prefix = "pit_")
      .select(col("event_id"), col("custkey").as("user_id"),
        col("pit_status").as("status_at_event"))
  }

  private val PitOracle: String =
    """WITH daily AS (SELECT o_custkey AS custkey, o_orderdate AS ts,
      |    max_by(o_orderstatus, o_orderkey) AS status FROM orders GROUP BY 1, 2),
      |mark AS (SELECT *, (lag(ts) OVER w IS NULL) AS frst, lag(status) OVER w AS prev
      |  FROM daily WINDOW w AS (PARTITION BY custkey ORDER BY ts)),
      |hist AS (SELECT custkey, status, ts AS eff_from FROM mark
      |  WHERE frst OR (status IS DISTINCT FROM prev))
      |SELECT e.event_id, e.user_id, h.status AS status_at_event
      |FROM events e ASOF LEFT JOIN hist h
      |  ON e.user_id = h.custkey AND e.ts >= h.eff_from""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Markov transition matrix over user event sequences ---------------
    Q("q_transitions", TransitionsOracle) { (s, d) =>
      transitions(events(s, d).select("user_id", "event_type", "ts", "event_id"))
    },

    // ---- top session paths (6h gap) ---------------------------------------
    Q("q_top_paths", TopPathsOracle) { (s, d) =>
      topPaths(events(s, d).select("user_id", "event_type", "ts", "event_id"),
        gapMicros = 21600000000L, k = 20)
    },

    // ---- merged activity intervals (30 min span) --------------------------
    Q("q_interval_merge", IntervalOracle) { (s, d) =>
      mergeIntervals(events(s, d), spanMicros = 1800000000L)
    },

    // ---- point-in-time SCD2 lookup ----------------------------------------
    Q("q_pit_join", PitOracle) { (s, d) =>
      pitJoin(events(s, d),
        orders(s, d).select(col("o_custkey").as("custkey"),
          col("o_orderdate").as("ts"), col("o_orderkey").as("seq"),
          col("o_orderstatus").as("status")))
    },

    // ---- last-touch attribution (purchase ← most recent view) -------------
    // The marketing-analytics join-free classic: every purchase is
    // attributed to the user's most recent PRECEDING view within a
    // 7-day lookback. One user-keyed window with an IGNORE NULLS
    // last_value carry — no self-join, no per-purchase subquery (the
    // O(n²) formulations that cannot scale); the lookback check is an
    // exact µs comparison after the carry. Purchases with no qualifying
    // view stay NULL-attributed (the "direct" bucket). Same plan shape
    // as the SCD2 point-in-time lookup, reused on behavioral data.
    Q("q_attribution",
      """WITH w AS (SELECT user_id, event_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'view'
        |        THEN event_id END IGNORE NULLS)
        |      OVER uw AS view_id,
        |    last_value(CASE WHEN event_type = 'view'
        |        THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER uw AS view_us
        |  FROM events
        |  WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id,
        |  CAST(CASE WHEN epoch_us(ts) - view_us <= 604800000000
        |    THEN view_id END AS BIGINT) AS attributed_view,
        |  CAST(CASE WHEN epoch_us(ts) - view_us <= 604800000000
        |    THEN epoch_us(ts) - view_us END AS BIGINT) AS gap_us
        |FROM w WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      val uw = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val isView = col("event_type") === "view"
      events(s, d)
        .withColumn("view_id",
          last(when(isView, col("event_id")), ignoreNulls = true).over(uw))
        .withColumn("view_us",
          last(when(isView, unix_micros(col("ts"))), ignoreNulls = true)
            .over(uw))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          when(unix_micros(col("ts")) - col("view_us") <= 604800000000L,
            col("view_id")).as("attributed_view"),
          when(unix_micros(col("ts")) - col("view_us") <= 604800000000L,
            unix_micros(col("ts")) - col("view_us")).as("gap_us"))
    },

    // ---- load profile (day-of-week × hour heatmap) -------------------------
    // Capacity planning's second question (after peak concurrency): WHEN
    // does load arrive? The dow×hour activity matrix with each cell's
    // share and its ratio against a uniform spread — vs_uniform_bp > 10⁴
    // marks hot cells. One grid-keyed aggregation; the dow spelling is
    // pinned to Spark's 1-based Sunday-first (oracle shifts DuckDB's
    // 0-based). All integers by floor division.
    Q("q_load_profile",
      """WITH g AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS total, CAST(count(*) AS BIGINT) AS n_cells
        |  FROM g)
        |SELECT CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hr, n,
        |  CAST((n * 10000) // total AS BIGINT) AS share_bp,
        |  CAST((n * n_cells * 10000) // total AS BIGINT) AS vs_uniform_bp
        |FROM g CROSS JOIN t""".stripMargin) { (s, d) =>
      val g = events(s, d)
        .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val t = g.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_cells"))
      g.crossJoin(broadcast(t))
        .select(col("dow").cast("int").as("dow"),
          col("hr").cast("int").as("hr"), col("n"),
          expr("(n * 10000) div total").as("share_bp"),
          expr("(n * n_cells * 10000) div total").as("vs_uniform_bp"))
    },

    // ---- inter-arrival distribution + Fano burstiness ----------------------
    // Are a user's events paced or bursty? Per user: exact median and
    // p90 of inter-event gaps (row_number picks over the user's own
    // ordered gaps — deterministic ties by event_id), and the Fano
    // factor variance/mean in micro-units by integer division — the
    // burstiness scalar WITHOUT the square root the classical
    // burstiness coefficient needs (Fano > mean ⇒ bursty, < ⇒ regular,
    // scale-free either way). One user-keyed window pass for gaps, one
    // more for the rank picks.
    Q("q_interarrival",
      """WITH g AS (SELECT user_id, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |f AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
        |r AS (SELECT user_id, gap,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY gap, event_id) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM f),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    sum(CAST(gap AS HUGEINT)) AS sg,
        |    sum(CAST(gap AS HUGEINT) * gap) AS sgg
        |  FROM f GROUP BY 1)
        |SELECT m.user_id, m.n_gaps,
        |  CAST(p50.gap AS BIGINT) AS median_gap_us,
        |  CAST(p90.gap AS BIGINT) AS p90_gap_us,
        |  CAST(CASE WHEN m.n_gaps < 2 OR m.sg = 0 THEN NULL
        |    ELSE ((m.n_gaps * m.sgg - m.sg * m.sg) * 1000000)
        |         // (m.n_gaps * m.sg) END AS BIGINT) AS fano_micro_us
        |FROM m
        |JOIN r p50 ON p50.user_id = m.user_id
        |  AND p50.rn = (p50.n + 1) // 2
        |JOIN r p90 ON p90.user_id = m.user_id
        |  AND p90.rn = greatest((p90.n * 90) // 100, 1)""".stripMargin) {
      (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val f = events(s, d).select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w)).as("gap"))
        .filter(col("gap").isNotNull)
      val r = f.select(col("user_id"), col("gap"),
        row_number().over(Window.partitionBy("user_id")
          .orderBy("gap", "event_id")).as("rn"),
        count(lit(1)).over(Window.partitionBy("user_id")).as("n"))
      val m = f.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap").cast("decimal(38,0)")).as("sg"),
          sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sgg"))
      val p50 = r.filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("user_id"), col("gap").as("median_gap_us"))
      val p90 = r.filter(col("rn") === expr("greatest((n * 90) div 100, 1L)"))
        .select(col("user_id"), col("gap").as("p90_gap_us"))
      m.join(p50, "user_id").join(p90, "user_id")
        .select(col("user_id"), col("n_gaps"), col("median_gap_us"),
          col("p90_gap_us"),
          when(col("n_gaps") < 2 || col("sg") === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              "((n_gaps * sgg - sg * sg) * 1000000) div (n_gaps * sg)"))
            .cast("long").as("fano_micro_us"))
    },

    // ---- new vs returning users per day ------------------------------------
    // The growth dashboard's first row: each active day splits into
    // users seen for the FIRST time ever vs returners. Per-user first
    // day comes from one user-keyed aggregation; the daily split is a
    // (day)-keyed count over distinct (user, day) pairs — two shuffles,
    // both on natural keys. All exact integers.
    Q("q_new_returning",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |fu AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(sum(CASE WHEN day = first_day THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_returning
        |FROM ud JOIN fu USING (user_id)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val ud = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val fu = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
      ud.join(fu, "user_id")
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") === col("first_day"), 0L).otherwise(1L))
            .as("n_returning"))
    },

    // ---- power-user curve (activity concentration by decile) --------------
    // "The top 10% of users produce X% of events" — the engagement
    // concentration report. Users rank into deciles by activity (total
    // order via the user_id tiebreak so decile boundaries are
    // deterministic); per decile: users, events, and the share of all
    // events in basis points by integer division. The Gini number
    // (q_gini) summarizes this curve; the curve itself is what the
    // dashboard plots.
    Q("q_power_curve",
      """WITH uc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id, n,
        |    ntile(10) OVER (ORDER BY n DESC, user_id) AS decile
        |  FROM uc),
        |t AS (SELECT sum(n) AS total FROM uc)
        |SELECT CAST(decile AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST((sum(n) * 10000) // total AS BIGINT) AS share_bp
        |FROM r CROSS JOIN t GROUP BY decile, total""".stripMargin) { (s, d) =>
      val uc = events(s, d).groupBy("user_id").agg(count(lit(1)).as("n"))
      // distributed ntile: global rank via the two-pass device, then the
      // standard-SQL bucket closed form (q = N div k rows per bucket, the
      // first N mod k buckets carry one extra row) — no single-partition
      // window over the user-cardinality frame
      val ranked = Scale.globalRank(uc, Seq(col("n").desc, col("user_id")), "rk")
      val t = uc.agg(sum(col("n")).as("total"), count(lit(1)).as("n_users"))
      val r = ranked.crossJoin(broadcast(t))
        .withColumn("decile", expr(
          """CAST(CASE WHEN rk <= (n_users % 10) * (n_users div 10 + 1)
            | THEN (rk - 1) div (n_users div 10 + 1) + 1
            | ELSE n_users % 10
            |   + (rk - (n_users % 10) * (n_users div 10 + 1) - 1)
            |     div (n_users div 10) + 1
            | END AS INT)""".stripMargin))
      r.groupBy(col("decile").cast("int").as("decile"), col("total"))
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
        .select(col("decile"), col("n_users"), col("n_events"),
          expr("(n_events * 10000) div total").as("share_bp"))
    },

    // ---- stickiness (DAU/MAU) ---------------------------------------------
    // How much of the monthly audience shows up daily? Mean daily
    // actives over the observed span against the span's total distinct
    // users, in ppm by integer division — the retention-quality scalar
    // product teams track. Numerator Σ(daily distinct) and denominator
    // days·MAU are exact; no calendar assumptions beyond the day cast.
    Q("q_stickiness",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY 1),
        |m AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM ud)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(dau) AS BIGINT) AS sum_dau, m.mau,
        |  CAST((sum(dau) * 1000000) // (count(*) * m.mau) AS BIGINT)
        |    AS stickiness_ppm
        |FROM dau CROSS JOIN m GROUP BY m.mau""".stripMargin) { (s, d) =>
      val ud = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val m = ud.agg(countDistinct(col("user_id")).as("mau"))
      dau.crossJoin(broadcast(m))
        .groupBy("mau")
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
        .select(col("n_days"), col("sum_dau"), col("mau"),
          expr("(sum_dau * 1000000) div (n_days * mau)").as("stickiness_ppm"))
    },

    // ---- peak concurrency (sweep line over sessions) ----------------------
    // Capacity planning's first question: how many 30-min-gap sessions
    // were ever OPEN at once, and when did the peak first occur? The
    // sweep line restated without a global single-partition window:
    // aggregate start/end counts per DISTINCT microsecond (a unique,
    // orderable key), then conc(u) = prefix(starts−ends) + starts(u) —
    // inclusive-start / strict-end, so touching sessions overlap — where
    // the prefix comes from Scale.prefixSum's two-pass distributed
    // accumulation (no driver-side sweep, no one-reducer sort). The
    // oracle states the same identity with window SQL. Peak is reported
    // with the first instant attaining it.
    Q("q_max_concurrency",
      """WITH o AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |b AS (SELECT user_id, us, event_id,
        |    CASE WHEN prev IS NULL OR us - prev > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM o),
        |sn AS (SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b),
        |sess AS (SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
        |  FROM sn GROUP BY 1, 2),
        |ev AS (SELECT s_us AS us, CAST(count(*) AS BIGINT) AS s_cnt,
        |    CAST(0 AS BIGINT) AS e_cnt FROM sess GROUP BY 1
        |  UNION ALL
        |  SELECT e_us, 0, CAST(count(*) AS BIGINT) FROM sess GROUP BY 1),
        |g AS (SELECT us, sum(s_cnt) AS s_cnt, sum(e_cnt) AS e_cnt
        |  FROM ev GROUP BY 1),
        |c AS (SELECT us,
        |    coalesce(sum(s_cnt - e_cnt) OVER (ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + s_cnt AS conc
        |  FROM g)
        |SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
        |  CAST(max(conc) AS BIGINT) AS max_concurrency,
        |  CAST(min(CASE WHEN conc = (SELECT max(conc) FROM c) THEN us END)
        |    AS BIGINT) AS peak_first_us
        |FROM c""".stripMargin) { (s, d) =>
      // Both windows share ONE partitioning+ordering (user_id; us,
      // event_id) so Catalyst plans lag and the running sum in a single
      // WindowExec — one exchange, one sort (they ordered by `ts` vs
      // `us` before round 8: semantically the same order, but distinct
      // expressions cost a second sort pass).
      // (us, event_id) — two same-microsecond events straddling a break
      // would otherwise assign sessions in a nondeterministic tie order
      val wUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wSid = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val o = events(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("us"), 1).over(wUser))
        .withColumn("brk", when(col("prev").isNull ||
          col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
      val sess = o.withColumn("sid", sum(col("brk")).over(wSid))
        .groupBy("user_id", "sid")
        .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"))
      // ONE pass emits both endpoints per session (round 8: the old
      // two-groupBy union evaluated the whole sessionize pipeline twice;
      // with the join-back and session count below, `sess` cost FIVE
      // evaluations per run — now exactly one, flowing into the
      // persisted boundary frame)
      val ev = sess.select(explode(array(
          struct(col("s_us").as("us"), lit(1L).as("s"), lit(0L).as("e")),
          struct(col("e_us").as("us"), lit(0L).as("s"), lit(1L).as("e"))))
          .as("x"))
        .select(col("x.us").as("us"), col("x.s").as("s"), col("x.e").as("e"))
      val g = ev.groupBy("us")
        .agg(sum(col("s")).as("s_cnt"), sum(col("e")).as("e_cnt"))
        .withColumn("net", col("s_cnt") - col("e_cnt"))
        .persist() // boundary-frame-sized (≤2 rows/session); feeds the
                   // prefix device AND the join-back without recompute
      // materialize BEFORE the rank device reads it: an unloaded cache
      // reports unmeasured child-derived stats, which sizedRangePartitions
      // now refuses to fast-path (round-9 guard) — and the count also
      // rules out an AQE consumer stampede on the cache (q_assoc_rules'
      // round-9 find)
      g.count(): Unit
      // prefixSum emits only (us, net, pfx) — join s_cnt back on the
      // unique us key. ONE struct-max then reads the sweep exactly once:
      // max (conc, −us) is lexicographic, so the peak's FIRST instant
      // rides along for free. n_sessions = Σ s_cnt over the same pass
      // (every session starts exactly once) — no separate count job.
      // Partition count left to prefixSum's stats-based sizing.
      val c = Scale.prefixSum(g.select(col("us"), col("net")),
          "us", "net", prefixCol = "pfx")
        .join(g.select(col("us"), col("s_cnt")), "us")
        .withColumn("conc", col("pfx") + col("s_cnt"))
      val out = c.agg(max(struct(col("conc"), (-col("us")).as("nus"))).as("pk"),
          sum(col("s_cnt")).as("n_sessions"))
        .select(col("n_sessions"),
          col("pk.conc").as("max_concurrency"),
          (-col("pk.nus")).as("peak_first_us"))
      Par.materializeThenRelease(out, g) // 1 row; bounds g's persist to this query
    },

    // ---- life table / survival analysis (Kaplan-Meier counts) -------------
    // Churn measured the right way: each user's lifetime = days between
    // first and last event; a user whose last activity is within 7 days
    // of the corpus horizon is CENSORED (still alive at observation
    // end), not churned — ignoring censoring biases lifetime estimates
    // low, which is the whole point of the KM formulation. The life
    // table per lifetime day d: n_risk (users whose lifetime ≥ d, via a
    // duration-descending cumulative sum — no self-join), churn events,
    // censored exits, and the discrete hazard d_events/n_risk. Outputs
    // are integers plus one identical IEEE division; the survival CURVE
    // is the running product of (1 − hazard) — left to the caller
    // because chained float products are the one shape that cannot be
    // replayed bit-exact across engines, while this table can. Scale:
    // one user_id agg, then a ~30-row table — driver-free throughout.
    Q("q_life_table",
      """WITH u AS (SELECT user_id,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000
        |      AS dur_days,
        |    CAST(max(ts) < (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        |      AS BOOLEAN) AS observed
        |  FROM events GROUP BY 1),
        |g AS (SELECT dur_days,
        |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM u GROUP BY 1),
        |r AS (SELECT dur_days, n_events, n_censored,
        |    CAST(sum(n_events + n_censored) OVER (ORDER BY dur_days DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        |  FROM g)
        |SELECT CAST(dur_days AS BIGINT) AS dur_days, n_risk, n_events,
        |  n_censored,
        |  CAST(n_events AS DOUBLE) / n_risk AS hazard
        |FROM r""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val horizon = ev.agg((max(unix_micros(col("ts"))) - 604800000000L)
        .as("cutoff_us"))
      val u = ev.groupBy("user_id")
        .agg(((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .cast("long")).as("span_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .crossJoin(broadcast(horizon))
        .select(expr("span_us div 86400000000L").as("dur_days"),
          (col("last_us") < col("cutoff_us")).as("observed"))
      val g = u.groupBy("dur_days")
        .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("n_events"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("n_censored"))
      val w = Window.orderBy(col("dur_days").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("n_risk", sum(col("n_events") + col("n_censored")).over(w))
        .select(col("dur_days").cast("long").as("dur_days"), col("n_risk"),
          col("n_events"), col("n_censored"),
          (col("n_events").cast("double") / col("n_risk")).as("hazard"))
    }
  )
}
