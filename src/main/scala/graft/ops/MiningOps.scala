package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining and feature-statistics tranche: market-basket
  * association rules (A-Priori pruned pair mining), exact per-group mode,
  * one-scan exact covariance/variance numerators, bounded-window
  * exponential decay (EWMA) features, and the FULL OUTER join completing
  * the join-type matrix (the reference enumerates inner/left/right only —
  * `/root/reference/tuplex/python/tuplex/dataset.py:384-498`; full outer
  * is the capability superset alongside the semi/anti entries in
  * [[Relational]]).
  *
  * Exactness discipline (same as the rest of the registry): every output
  * is integer / fixed-point / a final identical IEEE op on identical exact
  * operands, so the DuckDB oracle replays bit-for-bit. Second moments
  * accumulate in decimal(38,0) on the Spark side and HUGEINT on the
  * DuckDB side — both exact at these magnitudes — and only the final
  * already-exact integer is cast to double.
  */
object MiningOps {

  private def lineitem(s: SparkSession, d: String) = Tables(s, d, "lineitem")
  private def orders(s: SparkSession, d: String)   = Tables(s, d, "orders")
  private def customer(s: SparkSession, d: String) = Tables(s, d, "customer")
  private def events(s: SparkSession, d: String)   = Tables(s, d, "events")

  /** Fixed-point quantization — pure IEEE ops, bit-identical across
    * engines (see [[Tables.dsum]] for why not a decimal cast). */
  private def fp(c: Column, scale: Double): Column =
    floor(c.cast("double") * scale + lit(0.5d)).cast("long")

  /** 3-row (lag 0,1,2) frame for the cross-correlation join. */
  private def explodeLags(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(0, 1, 2).toDF("lag")
  }

  val all: Seq[Q] = Seq(

    // ---- FULL OUTER join (completes the join-type matrix) -----------------
    // Both sides are filtered so both null-emission paths are exercised:
    // high-balance customers with no 'F' orders surface with NULL order
    // columns; 'F' orders of low-balance customers surface with NULL
    // customer columns. Plan: one shuffle on the join key (sort-merge
    // full outer — broadcast cannot implement full outer), both filters
    // pushed to the scans. At 100 TB this is the standard reconciliation
    // join; skew on the key would be handled by AQE skew-join splitting.
    Q("q_join_full",
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM (SELECT * FROM customer WHERE c_acctbal >= 5000) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        |ON c_custkey = o_custkey""".stripMargin) { (s, d) =>
      val c = customer(s, d).filter(col("c_acctbal") >= 5000)
      val o = orders(s, d).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
    },

    // ---- market-basket association rules (A-Priori pruned) ----------------
    // ONE scan of the fact builds per-basket sorted item arrays (groupBy
    // with map-side partial collect_set — dedup within basket is free);
    // item supports, the basket count, and the quadratic pair expansion
    // all derive from that persisted frame, so pair generation is a
    // per-row ARRAY comprehension (flatten∘transform — codegen'd, no
    // self-join): per-basket cost is |basket|², bounded by basket size
    // (~7 for TPC-H-ish data), NOT corpus size. The oracle states the
    // textbook fb⋈fb form; the array form is plan-equivalent by
    // construction (a pair with support ≥2 implies both items have
    // support ≥2, so the A-Priori item prune never changes the output —
    // it only bounds intermediate work; at corpora where baskets are
    // large, reinstate the per-basket array_intersect with the broadcast
    // frequent-item set before expansion). Confidence is integer-division
    // percent; the lift>1 test is an exact integer cross-multiplication
    // (pair·N > cnt_a·cnt_b), no floating division anywhere. Item-count
    // joins are broadcast (minsup pruning keeps them small); the 1-row
    // basket-count scalar is a labeled broadcast-NLJ, the allowed pattern
    // for scalar subqueries.
    Q("q_assoc_rules",
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |ic AS (SELECT item, count(*) AS cnt FROM baskets GROUP BY item HAVING count(*) >= 2),
        |fb AS (SELECT bk, item FROM baskets WHERE item IN (SELECT item FROM ic)),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_cnt
        |      FROM fb a JOIN fb b ON a.bk = b.bk AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM baskets),
        |j AS (SELECT item_a, item_b, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b, n_baskets
        |      FROM p JOIN ic ca ON p.item_a = ca.item
        |             JOIN ic cb ON p.item_b = cb.item CROSS JOIN nb)
        |SELECT item_a, item_b, pair_cnt, cnt_a, cnt_b, n_baskets,
        |  (pair_cnt * 100) // cnt_a AS conf_pct,
        |  CAST(pair_cnt * n_baskets > cnt_a * cnt_b AS INT) AS lift_gt1
        |FROM j""".stripMargin) { (s, d) =>
      val arr = lineitem(s, d)
        .groupBy(col("l_orderkey").as("bk"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
        .persist() // feeds supports, the N scalar AND pair expansion; harness-released
      // Materialize the cache BEFORE the main query: AQE submits the three
      // consumer subtrees (item counts, pair expansion, basket count) as
      // CONCURRENT query stages, and an unmaterialized cache dedupes
      // storage but not compute — the round-9 stage profile showed the
      // ~730 ms basket build running 3× in parallel (stages 35/36/37).
      // One eager pass, then every consumer reads the cache: 2.58→1.7 s.
      arr.count(): Unit
      // itemCnt feeds TWO broadcast sides (cnt_a, cnt_b). r14 and earlier
      // renamed the columns BELOW each broadcast, so the two exchanges
      // canonicalized differently and the explode+agg subtree ran twice
      // (r15 stage profile: two ~0.7 s 32-task cache-read legs). Joining
      // on ALIASES of one frame makes the subtrees canonically identical
      // (AQE-off planning now inserts a ReusedExchange), but AQE's runtime
      // stage cache still fails to dedupe exchanges whose subtree scans an
      // InMemoryRelation that was itself adaptively planned — so the
      // dedup is forced STRUCTURALLY: the (item, cnt)≥2 support table is
      // node-sized, and an eager local checkpoint materializes it exactly
      // once; both broadcast builds then read the checkpoint blocks
      // (guide §2.4 "two operations keyed the same way can share one
      // exchange"; plans/r15/q_assoc_rules_after.txt — one itemCnt
      // subtree, two RDDScans of it).
      val itemCnt = arr.select(explode(col("items")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .localCheckpoint(true) // two broadcast builds that AQE reuse does not share
      val pairs = arr.select(explode(expr(
          """flatten(transform(items, (x, i) ->
            |  transform(slice(items, i + 2, size(items)),
            |            y -> named_struct('item_a', x, 'item_b', y))))""".stripMargin))
          .as("p"))
        .select(col("p.item_a"), col("p.item_b"))
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("pair_cnt"))
        .filter(col("pair_cnt") >= 2)
      // 1-row scalar (labeled broadcast-NLJ, same license as q17-style scalars)
      val nB = arr.agg(count(lit(1)).as("n_baskets"))
      val ca = broadcast(itemCnt).as("ca")
      val cb = broadcast(itemCnt).as("cb")
      pairs
        .join(ca, col("item_a") === col("ca.item"))
        .join(cb, col("item_b") === col("cb.item"))
        .crossJoin(broadcast(nB))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          col("ca.cnt").as("cnt_a"), col("cb.cnt").as("cnt_b"), col("n_baskets"),
          expr("(pair_cnt * 100) div cnt_a").as("conf_pct"),
          (col("pair_cnt") * col("n_baskets") > col("cnt_a") * col("cnt_b"))
            .cast("int").as("lift_gt1"))
    },

    // ---- exact per-group mode (most frequent value, deterministic) --------
    // Mode is the one profiling primitive [[AnalyticsOps.profile]] cannot
    // fold into its single wide aggregate (it needs a count-per-value
    // sub-aggregation). Two shuffles: count per (group, value), then the
    // per-group argmax via a window over the (tiny) count table. Ties
    // break lexicographically ASC on the value — deterministic on both
    // engines by construction, never by hash luck.
    Q("q_mode",
      """WITH c AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS priority, count(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT segment, priority, cnt,
        |      row_number() OVER (PARTITION BY segment ORDER BY cnt DESC, priority ASC) AS rn
        |      FROM c)
        |SELECT segment, priority AS modal_priority, cnt AS modal_cnt
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      val counts = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("segment").orderBy(col("cnt").desc, col("priority").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("segment"), col("priority").as("modal_priority"), col("cnt").as("modal_cnt"))
    },

    // ---- one-scan exact covariance / variance numerators ------------------
    // Feature-selection statistics over three lineitem measures in ONE
    // scan, ONE aggregate: fixed-point first moments in BIGINT, second
    // moments in decimal(38,0) (Spark) / HUGEINT (DuckDB) — both exact and
    // associative, so partial-aggregation order cannot change the value.
    // The covariance NUMERATOR n·Σxy − Σx·Σy (an exact integer ≤ ~4·10²⁵
    // at sf0.1, well inside 38 digits / int128) is the output; the final
    // cast to double rounds the identical exact integer identically on
    // both engines. Dividing by n(n−1) would leave exactness — consumers
    // do that division knowing num/denominator are exact.
    Q("q_cov_exact",
      """WITH f AS (SELECT
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
        |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d
        |  FROM lineitem),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS s_q, CAST(sum(p) AS BIGINT) AS s_p,
        |    CAST(sum(d) AS BIGINT) AS s_d,
        |    sum(CAST(q * q AS HUGEINT)) AS m_qq, sum(CAST(p * p AS HUGEINT)) AS m_pp,
        |    sum(CAST(d * d AS HUGEINT)) AS m_dd, sum(CAST(q * p AS HUGEINT)) AS m_qp,
        |    sum(CAST(q * d AS HUGEINT)) AS m_qd, sum(CAST(p * d AS HUGEINT)) AS m_pd
        |  FROM f)
        |SELECT n, s_q, s_p, s_d,
        |  CAST(n * m_qq - CAST(s_q AS HUGEINT) * s_q AS DOUBLE) AS var_q_num,
        |  CAST(n * m_pp - CAST(s_p AS HUGEINT) * s_p AS DOUBLE) AS var_p_num,
        |  CAST(n * m_dd - CAST(s_d AS HUGEINT) * s_d AS DOUBLE) AS var_d_num,
        |  CAST(n * m_qp - CAST(s_q AS HUGEINT) * s_p AS DOUBLE) AS cov_qp_num,
        |  CAST(n * m_qd - CAST(s_q AS HUGEINT) * s_d AS DOUBLE) AS cov_qd_num,
        |  CAST(n * m_pd - CAST(s_p AS HUGEINT) * s_d AS DOUBLE) AS cov_pd_num
        |FROM a""".stripMargin) { (s, d) =>
      val q  = fp(col("l_quantity"), 100d)
      val p  = fp(col("l_extendedprice"), 100d)
      val dd = fp(col("l_discount"), 10000d)
      def m2(x: Column, y: Column) = sum((x * y).cast("decimal(38,0)"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val a = lineitem(s, d).agg(
        count(lit(1)).as("n"),
        sum(q).as("s_q"), sum(p).as("s_p"), sum(dd).as("s_d"),
        m2(q, q).as("m_qq"), m2(p, p).as("m_pp"), m2(dd, dd).as("m_dd"),
        m2(q, p).as("m_qp"), m2(q, dd).as("m_qd"), m2(p, dd).as("m_pd"))
      def num(m: String, sx: String, sy: String) =
        (dec(col("n")) * col(m) - dec(col(sx)) * dec(col(sy))).cast("double")
      a.select(col("n"), col("s_q"), col("s_p"), col("s_d"),
        num("m_qq", "s_q", "s_q").as("var_q_num"),
        num("m_pp", "s_p", "s_p").as("var_p_num"),
        num("m_dd", "s_d", "s_d").as("var_d_num"),
        num("m_qp", "s_q", "s_p").as("cov_qp_num"),
        num("m_qd", "s_q", "s_d").as("cov_qd_num"),
        num("m_pd", "s_p", "s_d").as("cov_pd_num"))
    },

    // ---- robust per-group statistics: median, MAD, winsorized mean --------
    // The outlier-resistant profiling trio. Median and the p05/p95 fences
    // come from one grouped percentile pass; MAD and the winsorized mean
    // need the per-row |x − median| / clamp, so the tiny per-group stats
    // frame broadcasts back onto the fact and a second grouped pass
    // finishes — two fact scans total, no window over raw rows. Exactness:
    // Spark `percentile` and DuckDB `quantile_cont` share the same
    // sort-based linear interpolation (the q_percentile contract); the
    // derived arithmetic (abs/clamp) is the same IEEE ops on identical
    // operands, and the winsorized mean goes through the fixed-point
    // dsum/count scheme.
    Q("q_robust_stats",
      s"""WITH m AS (SELECT o_orderstatus AS st,
         |    quantile_cont(o_totalprice, 0.5) AS med,
         |    quantile_cont(o_totalprice, 0.05) AS p05,
         |    quantile_cont(o_totalprice, 0.95) AS p95
         |  FROM orders GROUP BY 1)
         |SELECT st AS o_orderstatus, max(med) AS med, max(p05) AS p05,
         |  max(p95) AS p95,
         |  quantile_cont(abs(o_totalprice - med), 0.5) AS mad,
         |  ${Tables.oSum("least(greatest(o_totalprice, p05), p95)")} / count(*) AS wmean
         |FROM orders JOIN m ON o_orderstatus = st
         |GROUP BY st""".stripMargin) { (s, d) =>
      val m = orders(s, d).groupBy(col("o_orderstatus").as("st")).agg(
        expr("percentile(o_totalprice, 0.5)").as("med"),
        expr("percentile(o_totalprice, 0.05)").as("p05"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
      orders(s, d).join(broadcast(m), col("o_orderstatus") === col("st"))
        .groupBy(col("st"))
        .agg(max(col("med")).as("med"), max(col("p05")).as("p05"),
          max(col("p95")).as("p95"),
          expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"),
          Tables.davg(least(greatest(col("o_totalprice"), col("p05")), col("p95")))
            .as("wmean"))
        .select(col("st").as("o_orderstatus"), col("med"), col("p05"),
          col("p95"), col("mad"), col("wmean"))
    },

    // ---- bounded-window exponential decay (EWMA) feature ------------------
    // Per-user time-decay smoothing with binary half-life weights over the
    // last 8 events: num = Σ_{k=0..7} v_{t-k}·2^{7-k}, den = Σ present
    // weights. All-integer (fixed-point values × power-of-two weights), so
    // both engines agree bit-for-bit; the final ewma = num/den is one
    // identical IEEE division. The bounded frame is the point at scale:
    // an unbounded recursive EWMA needs a sequential scan per key, while
    // the 8-lag form is a single window pass (one shuffle on user_id) that
    // whole-stage-codegens, and the truncation error is 2⁻⁸ of the oldest
    // weight — below any feature-engineering tolerance.
    Q("q_ewma",
      """WITH f AS (SELECT event_id, user_id,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |l AS (SELECT event_id, user_id, v,
        |    lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2, lag(v, 3) OVER w AS v3,
        |    lag(v, 4) OVER w AS v4, lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
        |    lag(v, 7) OVER w AS v7
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |m AS (SELECT event_id, user_id,
        |    coalesce(v, 0)*128 + coalesce(v1, 0)*64 + coalesce(v2, 0)*32 +
        |    coalesce(v3, 0)*16 + coalesce(v4, 0)*8 + coalesce(v5, 0)*4 +
        |    coalesce(v6, 0)*2 + coalesce(v7, 0) AS ewma_num,
        |    (CASE WHEN v  IS NULL THEN 0 ELSE 128 END) +
        |    (CASE WHEN v1 IS NULL THEN 0 ELSE 64 END) +
        |    (CASE WHEN v2 IS NULL THEN 0 ELSE 32 END) +
        |    (CASE WHEN v3 IS NULL THEN 0 ELSE 16 END) +
        |    (CASE WHEN v4 IS NULL THEN 0 ELSE 8 END) +
        |    (CASE WHEN v5 IS NULL THEN 0 ELSE 4 END) +
        |    (CASE WHEN v6 IS NULL THEN 0 ELSE 2 END) +
        |    (CASE WHEN v7 IS NULL THEN 0 ELSE 1 END) AS ewma_den
        |  FROM l)
        |SELECT event_id, user_id, ewma_num, ewma_den,
        |  CAST(ewma_num AS DOUBLE) / ewma_den AS ewma
        |FROM m""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val base = events(s, d).select(col("event_id"), col("user_id"),
        fp(col("value"), 10000d).as("v"))
      val lags = (0 to 7).map(k => if (k == 0) col("v") else lag(col("v"), k).over(w))
      val num = lags.zipWithIndex
        .map { case (lv, k) => coalesce(lv, lit(0L)) * lit(1L << (7 - k)) }
        .reduce(_ + _)
      val den = lags.zipWithIndex
        .map { case (lv, k) => when(lv.isNull, lit(0L)).otherwise(lit(1L << (7 - k))) }
        .reduce(_ + _)
      base.select(col("event_id"), col("user_id"),
        num.as("ewma_num"), den.as("ewma_den"),
        (num.cast("double") / den).as("ewma"))
    },

    // ---- autocorrelation function (ACF, lags 1..3) ------------------------
    // Is the per-user series self-similar at lag k? The seasonality /
    // burstiness diagnostic for telemetry: ACF(k) as the Pearson
    // correlation of (v_t, v_{t-k}) pairs. One window pass builds all
    // three lags, one (user, lag) group computes the five exact moments
    // (×100 fixed-point keeps every sum and cross-product under 2^53, so
    // BIGINT/decimal accumulation is exact AND the double casts are
    // value-preserving); the final expression is the identical IEEE
    // num / sqrt(d1 · d2) on both engines. Scale shape: one shuffle on
    // user_id shared by the window and the aggregation.
    Q("q_acf",
      """WITH f AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |l AS (SELECT user_id, k.lag AS lag, v,
        |    CASE k.lag WHEN 1 THEN lag(v, 1) OVER w
        |               WHEN 2 THEN lag(v, 2) OVER w
        |               ELSE lag(v, 3) OVER w END AS vk
        |  FROM f CROSS JOIN (VALUES (1), (2), (3)) k(lag)
        |  WINDOW w AS (PARTITION BY user_id, k.lag ORDER BY ts, event_id)),
        |m AS (SELECT user_id, lag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS sx, sum(vk) AS sy,
        |    sum(v * v) AS sxx, sum(vk * vk) AS syy, sum(v * vk) AS sxy
        |  FROM l WHERE vk IS NOT NULL GROUP BY 1, 2)
        |SELECT user_id, CAST(lag AS INT) AS lag, n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |                 CAST(n * syy - sy * sy AS DOUBLE))
        |  END AS acf
        |FROM m""".stripMargin) { (s, d) =>
      val base = events(s, d).select(col("user_id"), col("event_id"),
        col("ts"), fp(col("value"), 100d).as("v"))
        .withColumn("lag", explode(array(lit(1), lit(2), lit(3))))
      val w = Window.partitionBy("user_id", "lag").orderBy("ts", "event_id")
      val vk = when(col("lag") === 1, lag(col("v"), 1).over(w))
        .when(col("lag") === 2, lag(col("v"), 2).over(w))
        .otherwise(lag(col("v"), 3).over(w))
      val m = base.withColumn("vk", vk).filter(col("vk").isNotNull)
        .groupBy("user_id", "lag")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("vk")).as("sy"), sum(col("v") * col("v")).as("sxx"),
          sum(col("vk") * col("vk")).as("syy"),
          sum(col("v") * col("vk")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val d1 = col("n") * col("sxx") - col("sx") * col("sx")
      val d2 = col("n") * col("syy") - col("sy") * col("sy")
      m.select(col("user_id"), col("lag").cast("int").as("lag"), col("n"),
        num.cast("long").as("num"),
        when(d1 === 0 || d2 === 0, lit(null).cast("double"))
          .otherwise(num.cast("double") /
            sqrt(d1.cast("double") * d2.cast("double"))).as("acf"))
    },

    // ---- CUSUM change-point statistic -------------------------------------
    // Page's cumulative-sum drift detector over each user's value
    // series: the clamped recursion s_t = max(0, s_{t-1} + (v_t − tgt))
    // restated as the window identity s_t = S_t − min(0, min_{i≤t} S_i)
    // (S = running raw sum) — two stacked window passes on ONE user_id
    // sort, no recursion, no driver state. The target is the global
    // fixed-point mean floored to an integer (one 1-row broadcast), so
    // every intermediate stays an exact BIGINT; the alarm threshold is a
    // deterministic literal. At 100 TB: the same two-window plan per
    // key partition — CUSUM is embarrassingly parallel across users.
    Q("q_cusum",
      """WITH f AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |t AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS tgt FROM f),
        |r AS (SELECT user_id, event_id, ts, v, tgt,
        |    sum(v - tgt) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS s_raw
        |  FROM f CROSS JOIN t),
        |m AS (SELECT user_id, event_id, s_raw,
        |    min(s_raw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS s_min
        |  FROM r)
        |SELECT user_id, event_id,
        |  CAST(s_raw - least(s_min, 0) AS BIGINT) AS cusum,
        |  CAST(s_raw - least(s_min, 0) > 2000000 AS BOOLEAN) AS alarm
        |FROM m""".stripMargin) { (s, d) =>
      val f = events(s, d).select(col("user_id"), col("event_id"), col("ts"),
        fp(col("value"), 100d).as("v"))
      // FLOOR division spelled exactly: DuckDB's `//` floors while Spark's
      // `div` truncates toward zero — they differ whenever the global sum
      // is negative. `(a - pmod(a, n)) div n` is floor(a/n) for any sign
      // of a (pmod's remainder is always in [0, n)), so the two replays
      // agree even on an all-negative value column.
      val t = f.agg(expr(
        "CAST((sum(v) - pmod(sum(v), count(*))) div count(*) AS BIGINT)").as("tgt"))
      val w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = f.crossJoin(broadcast(t))
        .withColumn("s_raw", sum(col("v") - col("tgt")).over(w1))
      // The running-min MUST scan in the same (ts, event_id) order the
      // prefix sums were built in — ordering by event_id alone would
      // silently break the identity on any drop where ids aren't
      // time-ordered, and the oracle would mirror the same mistake.
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.withColumn("s_min", min(col("s_raw")).over(w2))
        .select(col("user_id"), col("event_id"),
          (col("s_raw") - least(col("s_min"), lit(0L))).cast("long")
            .as("cusum"),
          ((col("s_raw") - least(col("s_min"), lit(0L))) > 2000000L)
            .as("alarm"))
    },

    // ---- lagged cross-correlation between event-type series ---------------
    // Does purchase volume FOLLOW view volume? Daily counts of the two
    // types correlated at day lags 0..2 — the leading-indicator
    // diagnostic (ACF's two-series sibling). Counts are already exact
    // integers; the five moments accumulate in decimal/HUGEINT and the
    // final num/√(d1·d2) is the identical IEEE chain both engines run.
    // Series alignment is an equi-join on (day + lag) over the tiny
    // per-day frame.
    Q("q_cross_corr",
      """WITH dx AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |dy AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (SELECT k.lag AS lag, dx.x, dy.y
        |  FROM (VALUES (0), (1), (2)) k(lag)
        |  JOIN dx ON true
        |  JOIN dy ON dy.day = dx.day + CAST(k.lag AS INT)),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS INT) AS lag, n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |              CAST(n * syy - sy * sy AS DOUBLE))
        |  END AS xcorr
        |FROM m""".stripMargin) { (s, d) =>
      val dx = events(s, d).filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val dy = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("dy_day"))
        .agg(count(lit(1)).as("y"))
      val p = dx.crossJoin(explodeLags(s))
        .join(dy, expr("dy_day = date_add(day, lag)"))
      val m = p.groupBy("lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx").cast("decimal(38,0)") *
        col("sy")
      val d1 = col("n") * col("sxx") - col("sx").cast("decimal(38,0)") *
        col("sx")
      val d2 = col("n") * col("syy") - col("sy").cast("decimal(38,0)") *
        col("sy")
      m.select(col("lag").cast("int").as("lag"), col("n"),
        num.cast("long").as("num"),
        when(d1 === 0 || d2 === 0, lit(null).cast("double"))
          .otherwise(num.cast("double") /
            sqrt(d1.cast("double") * d2.cast("double"))).as("xcorr"))
    },

    // ---- rolling OLS trend (trailing 20-event slope) ----------------------
    // Is this metric drifting RIGHT NOW? Per-event least-squares slope of
    // value against time over the trailing 20 events — the local trend
    // behind every "metric creeping up" alert. Exactness device: the
    // regression is origin-shifted to the window's FIRST timestamp, and
    // every shifted moment unfolds into FRAME SUMS of (us, us², y, us·y)
    // plus that first value — Σ(us−f)y = Σus·y − f·Σy, etc. — so one
    // window pass yields exact decimal/HUGEINT numerators and the slope
    // is a single identical division chain (scaled to per-hour). Windows
    // under 5 points emit NULL. Same user-keyed single-sort shape as
    // q_rolling_anomaly.
    Q("q_rolling_trend",
      """WITH f AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events),
        |w AS (SELECT user_id, event_id,
        |    CAST(count(*) OVER tw AS BIGINT) AS n,
        |    first_value(us) OVER tw AS f0,
        |    sum(CAST(us AS HUGEINT)) OVER tw AS su,
        |    sum(CAST(us AS HUGEINT) * us) OVER tw AS suu,
        |    sum(CAST(y AS HUGEINT)) OVER tw AS sy,
        |    sum(CAST(us AS HUGEINT) * y) OVER tw AS suy
        |  FROM f WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |m AS (SELECT user_id, event_id, n,
        |    su - n * CAST(f0 AS HUGEINT) AS sx,
        |    suu - 2 * CAST(f0 AS HUGEINT) * su
        |      + n * CAST(f0 AS HUGEINT) * CAST(f0 AS HUGEINT) AS sxx,
        |    sy, suy - CAST(f0 AS HUGEINT) * sy AS sxy
        |  FROM w)
        |SELECT user_id, event_id, n AS n_win,
        |  CAST(CASE WHEN n < 5 OR n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
        |         * ((abs(n * sxy - sx * sy) * 36000000000000)
        |            // (n * sxx - sx * sx))
        |  END AS BIGINT) AS slope_micro_per_hour
        |FROM m""".stripMargin) { (s, d) =>
      val tw = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
      val f = events(s, d).select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"), fp(col("value"), 100d).as("y"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val w = f.select(col("user_id"), col("event_id"),
        count(lit(1)).over(tw).as("n"),
        first(col("us")).over(tw).as("f0"),
        sum(dec(col("us"))).over(tw).as("su"),
        sum(dec(col("us")) * col("us")).over(tw).as("suu"),
        sum(dec(col("y"))).over(tw).as("sy"),
        sum(dec(col("us")) * col("y")).over(tw).as("suy"))
      val sx = col("su") - dec(col("n")) * col("f0")
      val sxx = col("suu") - lit(2) * dec(col("f0")) * col("su") +
        dec(col("n")) * col("f0") * col("f0")
      val sxy = col("suy") - dec(col("f0")) * col("sy")
      val num = dec(col("n")) * sxy - sx * col("sy")
      val den = dec(col("n")) * sxx - sx * sx
      // the slope is QUANTIZED to exact micro-value-units/hour by integer
      // division (abs-then-sign — floor vs truncate differs on negative
      // numerators across engines; den is a variance, always > 0):
      // HUGEINT→DOUBLE conversion above 2^53 is not correctly rounded in
      // every engine, so a float slope could drift by an ulp
      w.withColumn("num", num).withColumn("den", den)
        .select(col("user_id"), col("event_id"), col("n").as("n_win"),
          when(col("n") < 5 || col("den") === 0, lit(null).cast("long"))
            .otherwise(
              when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
                expr("(abs(num) * 36000000000000L) div den"))
            .as("slope_micro_per_hour"))
    },

    // ---- Gini coefficient (inequality / concentration metric) -------------
    // How concentrated is order value per status? The rank-weighted
    // identity G = (2·Σ rᵢxᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks —
    // ONE sort-window pass + one aggregation, no O(n²) |xᵢ−xⱼ| pair
    // expansion (the textbook formula that cannot scale). Ties broken by
    // orderkey so both engines rank identically; fixed-point values and
    // decimal(38,0)/HUGEINT rank-products keep everything exact (r·x
    // reaches ~10¹⁶ at sf1 — past 2^53, which is why the accumulator is
    // decimal, not BIGINT-cast-to-double); gini is one IEEE division of
    // two exact integers. The same shape yields Lorenz curves (emit the
    // cumulative pairs) and per-domain token-concentration reports.
    Q("q_gini",
      """WITH f AS (SELECT o_orderstatus,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS r
        |  FROM orders),
        |a AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(CAST(r AS HUGEINT) * x) AS srx
        |  FROM f GROUP BY 1)
        |SELECT o_orderstatus, n, CAST(sx AS BIGINT) AS sum_fp,
        |  CAST(2 * srx - (n + 1) * sx AS DOUBLE) /
        |    CAST(n * sx AS DOUBLE) AS gini
        |FROM a""".stripMargin) { (s, d) =>
      // rank on the SAME keys as the oracle (price, then orderkey) so
      // ties resolve identically on both engines
      val w = Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice", "o_orderkey")
      val f2 = orders(s, d).select(col("o_orderstatus"),
          col("o_totalprice"), col("o_orderkey"),
          fp(col("o_totalprice"), 100d).as("x"))
        .withColumn("r", row_number().over(w).cast("long"))
      f2.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("r").cast("decimal(38,0)") * col("x")).as("srx"))
        .select(col("o_orderstatus"), col("n"),
          col("sx").cast("long").as("sum_fp"),
          ((lit(2).cast("decimal(38,0)") * col("srx") -
            (col("n") + 1).cast("decimal(38,0)") *
              col("sx").cast("decimal(38,0)")).cast("double") /
            (col("n").cast("decimal(38,0)") *
              col("sx").cast("decimal(38,0)")).cast("double")).as("gini"))
    },

    // ---- rolling z-score anomaly flags (integer-exact, no sqrt) -----------
    // Is this observation >3σ from its user's trailing-20 baseline? The
    // telemetry outlier gate, made EXACT: the test (v−μ)² > 9σ² over the
    // trailing window (EXCLUDING the current row — a spike must not mask
    // itself) cross-multiplies to (n·v − s1)² > 9·(n·s2 − s1²), which is
    // all integer arithmetic on fixed-point moments — no float mean, no
    // sqrt, no epsilon, so the boolean is bit-deterministic on both
    // engines. One user-keyed window pass; warm-up rows (n < 8) are
    // explicitly un-flagged. ×100 quantization bounds every product
    // under 2^53 (trailing sums ≤ 20·49k·100).
    Q("q_rolling_anomaly",
      """WITH f AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |w AS (SELECT user_id, event_id, v,
        |    count(v) OVER tw AS n, sum(v) OVER tw AS s1,
        |    sum(v * v) OVER tw AS s2
        |  FROM f WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, CAST(coalesce(n, 0) AS BIGINT) AS n_win,
        |  CAST(CASE WHEN n >= 8
        |    THEN (n * v - s1) * (n * v - s1) ELSE NULL END AS BIGINT)
        |    AS dev2,
        |  CAST(CASE WHEN n >= 8
        |    THEN 9 * (n * s2 - s1 * s1) ELSE NULL END AS BIGINT) AS thr,
        |  CAST(CASE WHEN n >= 8 AND
        |    (n * v - s1) * (n * v - s1) > 9 * (n * s2 - s1 * s1)
        |    THEN TRUE ELSE FALSE END AS BOOLEAN) AS is_anomaly
        |FROM w""".stripMargin) { (s, d) =>
      val tw = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
      val f = events(s, d).select(col("user_id"), col("event_id"), col("ts"),
        fp(col("value"), 100d).as("v"))
        .withColumn("n", count(col("v")).over(tw))
        .withColumn("s1", sum(col("v")).over(tw))
        .withColumn("s2", sum(col("v") * col("v")).over(tw))
      val dev2 = (col("n") * col("v") - col("s1")) *
        (col("n") * col("v") - col("s1"))
      val thr = lit(9L) * (col("n") * col("s2") - col("s1") * col("s1"))
      f.select(col("user_id"), col("event_id"),
        coalesce(col("n"), lit(0L)).as("n_win"),
        when(col("n") >= 8, dev2).otherwise(lit(null)).cast("long").as("dev2"),
        when(col("n") >= 8, thr).otherwise(lit(null)).cast("long").as("thr"),
        when(col("n") >= 8 && dev2 > thr, lit(true)).otherwise(lit(false))
          .as("is_anomaly"))
    },

    // ---- weighted median (quantity-weighted price) ------------------------
    // The robust center when rows carry unequal mass — importance-
    // weighted quantiles for mixture calibration, shipment-weighted
    // price levels here. Lower weighted median: smallest value whose
    // cumulative weight reaches half the total. One sort-window builds
    // the running weight, a tiny per-group agg picks the crossing —
    // exact integers throughout (contrast interpolating percentile
    // variants, which this anchors). Ties on price are ordered by the
    // unique (orderkey, linenumber) so both engines accumulate in the
    // same sequence.
    Q("q_weighted_median",
      """WITH f AS (SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
        |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |r AS (SELECT flag, p, w,
        |    sum(w) OVER (PARTITION BY flag ORDER BY p, l_orderkey,
        |      l_linenumber ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(w) OVER (PARTITION BY flag) AS totw
        |  FROM f)
        |SELECT flag, CAST(min(totw) AS BIGINT) AS total_weight,
        |  CAST(min(CASE WHEN 2 * cumw >= totw THEN p END) AS BIGINT)
        |    AS wmedian_fp
        |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
      val wSort = Window.partitionBy("flag")
        .orderBy("p", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("flag")
      lineitem(s, d).select(col("l_returnflag").as("flag"),
          fp(col("l_extendedprice"), 100d).as("p"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("cumw", sum(col("w")).over(wSort))
        .withColumn("totw", sum(col("w")).over(wAll))
        .groupBy("flag")
        .agg(min(col("totw")).as("total_weight"),
          min(when(lit(2L) * col("cumw") >= col("totw"), col("p")))
            .as("wmedian_fp"))
    },

    // ---- Simpson diversity index (log-free entropy analogue) --------------
    // How concentrated is each user's event mix? Simpson's λ = Σnᵢ² over
    // N² is the collision probability — the diversity story Shannon
    // entropy tells, WITHOUT logarithms (whose last-ulp rounding is not
    // portable across engines; λ is exact integers + one IEEE division
    // chain stated identically on both sides). 1−λ/N² is the Gini-
    // Simpson diversity; N²/λ is the effective number of types. Two
    // cheap aggs on the same user key — no window, no sort.
    Q("q_diversity_simpson",
      """WITH c AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS n_i
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT user_id, sum(n_i) AS n, sum(n_i * n_i) AS lam,
        |    CAST(count(*) AS BIGINT) AS n_types
        |  FROM c GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n, n_types,
        |  CAST(lam AS BIGINT) AS lambda_sum,
        |  1.0 - CAST(lam AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |    AS simpson_diversity
        |FROM a""".stripMargin) { (s, d) =>
      events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_i"))
        .groupBy("user_id")
        .agg(sum(col("n_i")).as("n"),
          sum(col("n_i") * col("n_i")).as("lambda_sum"),
          count(lit(1)).as("n_types"))
        .select(col("user_id"), col("n"), col("n_types"), col("lambda_sum"),
          (lit(1.0) - col("lambda_sum").cast("double") /
            (col("n").cast("double") * col("n").cast("double")))
            .as("simpson_diversity"))
    }
  )
}
