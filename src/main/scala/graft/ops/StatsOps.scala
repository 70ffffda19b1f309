package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis-test / distribution-audit tranche: chi-square independence
  * (with Cramér's V), the two-sample Kolmogorov-Smirnov statistic, and a
  * Benford first-digit audit. The classical formulations are float-heavy
  * (divisions inside sums, logs); each is restated here so every
  * accumulation is over exact integers — per-cell and per-point terms are
  * fixed-point-quantized by INTEGER division BEFORE summing, so partial-
  * aggregation order cannot perturb the result and the DuckDB oracle
  * replays it bit-for-bit. At scale each test is one or two grouped
  * passes over a key no wider than the contingency grid / distinct-value
  * set.
  */
object StatsOps {

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")
  private def orders(s: SparkSession, d: String) = Tables(s, d, "orders")

  val all: Seq[Q] = Seq(

    // ---- one-way ANOVA seasonality strength (hour-of-day) -----------------
    // Is the VALUE metric hourly-seasonal per event type? One-way ANOVA
    // of fixed-point value grouped by hour-of-day: between-hour and
    // within-hour variance numerators built from exact per-(type, hour)
    // moments with each term quantized to micro-units by integer division
    // BEFORE summing (the q_fisher_score device over time buckets; the
    // same DECIMAL(38,0) ceiling note applies), then the classical
    // F = (SSB/(k-1)) / (SSW/(N-k)) as ONE identically-spelled double
    // division chain. One (type, hour)-keyed pass; everything after is
    // grid-sized. q_load_profile covers COUNT seasonality; this is the
    // metric-value decomposition.
    Q("q_seasonality_anova",
      """WITH f AS (SELECT event_type, hour(ts) AS hr,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
        |g AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n,
        |    sum(v) AS s, sum(CAST(v AS HUGEINT) * v) AS q
        |  FROM f GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS nt, sum(s) AS st,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM g GROUP BY 1),
        |terms AS (SELECT g.event_type,
        |    ((nt * s - n * st) * (nt * s - n * st) * 1000000)
        |      // (n * nt * nt) AS btw,
        |    ((n * q - s * s) * 1000000) // n AS wth
        |  FROM g JOIN t USING (event_type))
        |SELECT t.event_type, t.k, CAST(t.nt AS BIGINT) AS n,
        |  CAST(sum(btw) AS BIGINT) AS between_micro,
        |  CAST(sum(wth) AS BIGINT) AS within_micro,
        |  CASE WHEN sum(wth) = 0 OR t.k <= 1 OR t.nt <= t.k THEN NULL
        |       ELSE (CAST(sum(btw) AS DOUBLE) * (t.nt - t.k))
        |          / (CAST(sum(wth) AS DOUBLE) * (t.k - 1))
        |  END AS f_stat
        |FROM terms JOIN t USING (event_type)
        |GROUP BY t.event_type, t.k, t.nt""".stripMargin) { (s, d) =>
      val f = events(s, d).select(col("event_type"),
        hour(col("ts")).as("hr"),
        floor(col("value").cast("double") * 100d + 0.5d).cast("long").as("v"))
      val g = f.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(col("v").cast("decimal(38,0)") * col("v")).as("q"))
      val t = g.groupBy("event_type")
        .agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
          count(lit(1)).as("k"))
      g.join(broadcast(t), "event_type")
        .select(col("event_type"), col("k"), col("nt"),
          expr("""((CAST(nt AS DECIMAL(38,0)) * s - CAST(n AS DECIMAL(38,0)) * st)
                 | * (CAST(nt AS DECIMAL(38,0)) * s - CAST(n AS DECIMAL(38,0)) * st)
                 | * 1000000) div (CAST(n AS DECIMAL(38,0)) * nt * nt)"""
            .stripMargin).as("btw"),
          expr("((CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s)" +
            " * 1000000) div CAST(n AS DECIMAL(38,0))").as("wth"))
        .groupBy(col("event_type"), col("k"), col("nt").cast("long").as("n"))
        .agg(sum(col("btw")).cast("long").as("between_micro"),
          sum(col("wth")).cast("long").as("within_micro"),
          when(sum(col("wth")) === 0 || col("k") <= 1 || col("n") <= col("k"),
            lit(null).cast("double"))
            .otherwise((sum(col("btw")).cast("double") * (col("n") - col("k")))
              / (sum(col("wth")).cast("double") * (col("k") - 1)))
            .as("f_stat"))
        .select(col("event_type"), col("k"), col("n"),
          col("between_micro"), col("within_micro"), col("f_stat"))
    },

    // ---- chi-square test of independence + Cramér's V ---------------------
    // Is event mix independent of weekday? Contingency = event_type ×
    // day-of-week (Spark's dayofweek is 1-based Sunday-first; the oracle
    // shifts DuckDB's 0-based to match). χ² = Σ (n·O − r·c)²/(n·r·c),
    // with each CELL term quantized to micro-units by integer division
    // before the sum — exact decimal/HUGEINT cross-products (the (n·O −
    // r·c)² numerator clears 2^63 at sf0.1 already), so the statistic is
    // deterministic. Cramér's V = sqrt(χ²/(n·(min(R,C)−1))) is one IEEE
    // chain on the exact integers, stated identically on both sides.
    // Scale shape: one grid-sized aggregation; row/col margins join back
    // on grid-sized frames.
    Q("q_chi_square",
      """WITH o AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    CAST(count(*) AS BIGINT) AS obs
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(obs) AS rm FROM o GROUP BY 1),
        |c AS (SELECT dow, sum(obs) AS cm FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS HUGEINT) AS n,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT dow) AS BIGINT) AS nc
        |  FROM o),
        |t AS (SELECT
        |    ((n * obs - CAST(rm AS HUGEINT) * cm)
        |     * (n * obs - CAST(rm AS HUGEINT) * cm) * 1000000)
        |      // (n * rm * cm) AS term, n, nr, nc
        |  FROM o JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN nn)
        |SELECT CAST(min(n) AS BIGINT) AS n,
        |  CAST(sum(term) AS BIGINT) AS chi2_micro,
        |  CAST((min(nr) - 1) * (min(nc) - 1) AS BIGINT) AS dof,
        |  sqrt(CAST(sum(term) AS DOUBLE) / 1000000.0 /
        |       (CAST(min(n) AS DOUBLE) * (least(min(nr), min(nc)) - 1)))
        |    AS cramers_v
        |FROM t""".stripMargin) { (s, d) =>
      val o = events(s, d)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("obs"))
      val r = o.groupBy("event_type").agg(sum(col("obs")).as("rm"))
      val c = o.groupBy("dow").agg(sum(col("obs")).as("cm"))
      val nn = o.agg(sum(col("obs")).cast("decimal(38,0)").as("n"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("dow")).as("nc"))
      o.join(r, "event_type").join(c, "dow").crossJoin(broadcast(nn))
        .select(expr(
          """((n*obs - CAST(rm AS DECIMAL(38,0))*cm)
            | * (n*obs - CAST(rm AS DECIMAL(38,0))*cm)
            | * 1000000) div (n*rm*cm)""".stripMargin)
          .as("term"), col("n"), col("nr"), col("nc"))
        .agg(min(col("n")).cast("long").as("n"),
          sum(col("term")).cast("long").as("chi2_micro"),
          ((min(col("nr")) - 1) * (min(col("nc")) - 1)).as("dof"),
          sqrt(sum(col("term")).cast("double") / 1000000.0 /
            (min(col("n")).cast("double") *
              (least(min(col("nr")), min(col("nc"))) - 1)))
            .as("cramers_v"))
    },

    // ---- two-sample Kolmogorov-Smirnov statistic ---------------------------
    // Do 'view' and 'purchase' draw their values from the same
    // distribution? D = max_x |F_A(x) − F_B(x)| cross-multiplied to the
    // integer max |cumA·nB − cumB·nA| so there is NO float CDF: group by
    // distinct value (ties collapse, which is exactly how an empirical
    // CDF treats them), one sorted window accumulates both cumulative
    // counts, the max is over exact integers, and the reported ks_stat
    // is one final division. Scale: distinct-value-keyed agg + one sort;
    // at 100 TB pre-bin values to the fixed-point grid they already
    // live on.
    Q("q_ks_test",
      """WITH f AS (SELECT CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |g AS (SELECT v, sum(a) AS na, sum(b) AS nb FROM f GROUP BY 1),
        |w AS (SELECT v,
        |    sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
        |    sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
        |  FROM g),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT)
        |    AS tb FROM f)
        |SELECT ta AS n_a, tb AS n_b,
        |  CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))
        |    AS BIGINT) AS ks_num,
        |  CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))
        |    AS DOUBLE) / (CAST(ta AS HUGEINT) * tb) AS ks_stat
        |FROM w CROSS JOIN t GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val f = events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(floor(col("value").cast("double") * 10000d + 0.5d)
            .cast("long").as("v"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("a"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
      val g = f.groupBy("v").agg(sum(col("a")).as("na"),
        sum(col("b")).as("nb"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = f.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      val gap = abs(col("ca").cast("decimal(38,0)") * col("tb") -
        col("cb").cast("decimal(38,0)") * col("ta"))
      g.withColumn("ca", sum(col("na")).over(w))
        .withColumn("cb", sum(col("nb")).over(w))
        .crossJoin(broadcast(t))
        .groupBy(col("ta").as("n_a"), col("tb").as("n_b"))
        .agg(max(gap).cast("long").as("ks_num"),
          (max(gap).cast("double") /
            (col("ta").cast("decimal(38,0)") * col("tb")).cast("double"))
            .as("ks_stat"))
    },

    // ---- A/B test decision (two-proportion via 2×2 chi-square) ------------
    // The experimentation primitive end to end: deterministic 50/50
    // assignment (user_id parity — a real system hashes a salt, same
    // shape), per-user conversion (≥15 purchases), exact 2×2 chi-square
    // in micro-units (zero margins contribute zero — the degenerate-
    // table guard), integer basis-point lift, and the significance
    // DECISION against the χ²₀.₉₅,₁ = 3.841459 literal. Everything the
    // dashboard shows is an exact integer or a single division.
    Q("q_ab_test",
      """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |o AS (SELECT variant, conv, CAST(count(*) AS BIGINT) AS obs
        |  FROM u GROUP BY 1, 2),
        |r AS (SELECT variant, sum(obs) AS rm FROM o GROUP BY 1),
        |c AS (SELECT conv, sum(obs) AS cm FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS HUGEINT) AS n FROM o),
        |t AS (SELECT CAST(sum(CASE WHEN rm * cm = 0 THEN 0
        |    ELSE ((n * obs - CAST(rm AS HUGEINT) * cm)
        |          * (n * obs - CAST(rm AS HUGEINT) * cm) * 1000000)
        |         // (n * rm * cm) END) AS BIGINT) AS chi2_micro
        |  FROM o JOIN r USING (variant) JOIN c USING (conv) CROSS JOIN nn),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN obs ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN variant = 'A' AND conv = 1 THEN obs ELSE 0
        |      END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN obs ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN variant = 'B' AND conv = 1 THEN obs ELSE 0
        |      END) AS BIGINT) AS conv_b
        |  FROM o)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(CASE WHEN conv_a = 0 OR n_b = 0 THEN NULL
        |    ELSE (CAST(conv_b AS HUGEINT) * n_a * 10000)
        |         // (CAST(n_b AS HUGEINT) * conv_a) - 10000
        |  END AS BIGINT) AS lift_bp,
        |  chi2_micro,
        |  CAST(chi2_micro > 3841459 AS BOOLEAN) AS significant
        |FROM m CROSS JOIN t""".stripMargin) { (s, d) =>
      val u = events(s, d).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0))
          >= 15).cast("int").as("conv"))
        .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
          .as("variant"), col("conv"))
      val o = u.groupBy("variant", "conv").agg(count(lit(1)).as("obs"))
      val r = o.groupBy("variant").agg(sum(col("obs")).as("rm"))
      val c = o.groupBy("conv").agg(sum(col("obs")).as("cm"))
      val nn = o.agg(sum(col("obs")).cast("decimal(38,0)").as("n"))
      val chi2 = o.join(r, "variant").join(c, "conv").crossJoin(broadcast(nn))
        .agg(sum(expr(
          """CASE WHEN rm * cm = 0 THEN 0
            | ELSE ((n*obs - CAST(rm AS DECIMAL(38,0))*cm)
            |       * (n*obs - CAST(rm AS DECIMAL(38,0))*cm) * 1000000)
            |      div (n*rm*cm) END""".stripMargin))
          .cast("long").as("chi2_micro"))
      val m = o.agg(
        sum(when(col("variant") === "A", col("obs")).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A" && col("conv") === 1, col("obs"))
          .otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === "B", col("obs")).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B" && col("conv") === 1, col("obs"))
          .otherwise(0L)).as("conv_b"))
      m.crossJoin(chi2)
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          when(col("conv_a") === 0 || col("n_b") === 0,
            lit(null).cast("long"))
            .otherwise(expr(
              """(CAST(conv_b AS DECIMAL(38,0)) * n_a * 10000)
                | div (CAST(n_b AS DECIMAL(38,0)) * conv_a) - 10000"""
                .stripMargin))
            .as("lift_bp"),
          col("chi2_micro"),
          (col("chi2_micro") > 3841459L).as("significant"))
    },

    // ---- Benford first-digit audit -----------------------------------------
    // The forensic data-quality screen: does the leading digit of
    // o_totalprice follow log10(1+1/d)? Expected counts come from fixed
    // ppm literals of the Benford law (floor division — identical on
    // both sides), and each digit's deviation is quantized to micro-χ²
    // units by integer division, so the audit is exact whatever the
    // verdict. (TPC-H prices are roughly uniform on a band, so they
    // FAIL Benford — the point is the deterministic measurement, not
    // the pass.) One digit-keyed aggregation; the 9-row margins join is
    // grid-sized.
    Q("q_benford",
      """WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM d
        |  GROUP BY 1),
        |nn AS (SELECT sum(obs) AS n FROM o),
        |e AS (SELECT * FROM (VALUES ('1', 301030), ('2', 176091),
        |    ('3', 124939), ('4', 96910), ('5', 79181), ('6', 66947),
        |    ('7', 57992), ('8', 51153), ('9', 45757))
        |    t(digit, benford_ppm))
        |SELECT e.digit, coalesce(o.obs, 0) AS obs,
        |  CAST((n * benford_ppm) // 1000000 AS BIGINT) AS expected,
        |  CAST(((CAST(coalesce(o.obs, 0) AS HUGEINT)
        |          - (n * benford_ppm) // 1000000)
        |        * (CAST(coalesce(o.obs, 0) AS HUGEINT)
        |          - (n * benford_ppm) // 1000000)
        |        * 1000000)
        |      // greatest((n * benford_ppm) // 1000000, 1) AS BIGINT)
        |    AS dev_micro
        |FROM e LEFT JOIN o USING (digit) CROSS JOIN nn""".stripMargin) {
      (s, d) =>
      val dg = orders(s, d).filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val nn = dg.agg(sum(col("obs")).as("n"))
      val ppm = Seq("1" -> 301030L, "2" -> 176091L, "3" -> 124939L,
        "4" -> 96910L, "5" -> 79181L, "6" -> 66947L, "7" -> 57992L,
        "8" -> 51153L, "9" -> 45757L)
      val e = s.createDataFrame(ppm.map(p => (p._1, p._2)))
        .toDF("digit", "benford_ppm")
      val exp = expr("(CAST(n AS DECIMAL(38,0)) * benford_ppm) div 1000000")
      val obs = coalesce(col("obs"), lit(0L))
      e.join(dg, Seq("digit"), "left").crossJoin(broadcast(nn))
        .select(col("digit"), obs.as("obs"), exp.cast("long").as("expected"),
          expr("""((CAST(coalesce(obs, 0) AS DECIMAL(38,0))
                 |   - (CAST(n AS DECIMAL(38,0)) * benford_ppm) div 1000000)
                 | * (CAST(coalesce(obs, 0) AS DECIMAL(38,0))
                 |   - (CAST(n AS DECIMAL(38,0)) * benford_ppm) div 1000000)
                 | * 1000000)
                 | div greatest((CAST(n AS DECIMAL(38,0)) * benford_ppm)
                 |              div 1000000, 1)"""
            .stripMargin).cast("long").as("dev_micro"))
    },

    // ---- CUPED variance-reduced A/B metric --------------------------------
    // The experimentation-platform adjustment (Deng et al. 2013): the
    // post-period metric is debiased by its pre-period covariate,
    // adj = post − θ·(pre − pre̅), θ = cov(pre, post)/var(pre) — same
    // expected lift, strictly smaller variance when pre correlates with
    // post. Everything accumulates as exact integers: per-user pre/post
    // sums are fixed-point, θ's numerator/denominator are the
    // decimal/HUGEINT cross products of the q_cov_exact device, and the
    // only floats are the final division chains spelled identically on
    // both engines. Scale: one user-keyed pass, then a 2-row variant
    // frame joined to a 1-row global — exactly how a 100 TB experiment
    // pipeline computes it.
    Q("q_cuped",
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
        |      CAST(floor(value * 10000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_fp,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
        |      CAST(floor(value * 10000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_fp
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(pre_fp) AS BIGINT) AS s_pre_g,
        |    CAST(sum(post_fp) AS BIGINT) AS s_post_g,
        |    sum(CAST(pre_fp AS HUGEINT) * pre_fp) AS m_pp,
        |    sum(CAST(pre_fp AS HUGEINT) * post_fp) AS m_px
        |  FROM u),
        |t AS (SELECT n_g, s_pre_g,
        |    n_g * m_px - CAST(s_pre_g AS HUGEINT) * s_post_g AS num,
        |    n_g * m_pp - CAST(s_pre_g AS HUGEINT) * s_pre_g AS den
        |  FROM g),
        |v AS (SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(pre_fp) AS BIGINT) AS s_pre_v,
        |    CAST(sum(post_fp) AS BIGINT) AS s_post_v
        |  FROM u GROUP BY 1)
        |SELECT variant, n_users, s_pre_v, s_post_v,
        |  CAST(num AS DOUBLE) AS theta_num, CAST(den AS DOUBLE) AS theta_den,
        |  CAST(s_post_v AS DOUBLE) / n_users / 10000.0 AS mean_post,
        |  CAST(s_post_v AS DOUBLE) / n_users / 10000.0
        |    - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
        |      * (CAST(s_pre_v AS DOUBLE) / n_users / 10000.0
        |         - CAST(s_pre_g AS DOUBLE) / n_g / 10000.0) AS mean_adj
        |FROM v CROSS JOIN t""".stripMargin) { (s, d) =>
      val fp4 = expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
      val split = lit("2024-01-16").cast("timestamp")
      val u = events(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("ts") < split, fp4).otherwise(0L)).as("pre_fp"),
          sum(when(col("ts") >= split, fp4).otherwise(0L)).as("post_fp"))
        // feeds the global moments AND the variant frame: reuse shares the
        // per-user shuffle but not its final aggregate (lazy measured slower)
        .localCheckpoint(true)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val t = u.agg(count(lit(1)).as("n_g"),
          sum(col("pre_fp")).as("s_pre_g"), sum(col("post_fp")).as("s_post_g"),
          sum(dec(col("pre_fp")) * col("pre_fp")).as("m_pp"),
          sum(dec(col("pre_fp")) * col("post_fp")).as("m_px"))
        .select(col("n_g"), col("s_pre_g"),
          (dec(col("n_g")) * col("m_px") - dec(col("s_pre_g")) * col("s_post_g")).as("num"),
          (dec(col("n_g")) * col("m_pp") - dec(col("s_pre_g")) * col("s_pre_g")).as("den"))
      val v = u.groupBy((col("user_id") % 2).as("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("pre_fp")).as("s_pre_v"), sum(col("post_fp")).as("s_post_v"))
      v.crossJoin(broadcast(t))
        .select(col("variant"), col("n_users"), col("s_pre_v"), col("s_post_v"),
          col("num").cast("double").as("theta_num"),
          col("den").cast("double").as("theta_den"),
          (col("s_post_v").cast("double") / col("n_users") / 10000.0).as("mean_post"),
          (col("s_post_v").cast("double") / col("n_users") / 10000.0
            - (col("num").cast("double") / col("den").cast("double"))
              * (col("s_pre_v").cast("double") / col("n_users") / 10000.0
                 - col("s_pre_g").cast("double") / col("n_g") / 10000.0)).as("mean_adj"))
    },

    // ---- pass@k estimation (Chen et al. 2021, unbiased form) --------------
    // The eval-pipeline estimator: with n trials and c passes per task,
    // pass@k = 1 − C(n−c,k)/C(n,k) = 1 − Π_{i<k}(n−c−i)/(n−i) — the
    // probability a random k-subset contains a pass. The product is
    // spelled as k explicit integer factors (k = 5 here; factors ≤ a few
    // hundred keep the BIGINT product far under 2^63 — past ~5000 trials
    // per task move it to DECIMAL(38,0)), the ratio lands as one exact
    // floor division to ppm, and the n−c < k branch (every k-subset
    // must contain a pass) short-circuits to exactly 10⁶. Tasks are
    // users, trials their events, a pass is value ≥ 100 (≈ the top decile of the fixture's value
    // distribution, so c varies per task and every branch is exercised)
    // — one grouped
    // count pass, then pure per-row integer arithmetic.
    Q("q_pass_at_k", {
      def prod(base: String) =
        (0 until 5).map(i => s"($base - $i)").mkString(" * ")
      s"""WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM events GROUP BY 1)
         |SELECT user_id, n, c,
         |  CASE WHEN c = 0 THEN 0
         |       WHEN n - c < 5 THEN 1000000
         |       ELSE 1000000 - (${prod("(n - c)")} * 1000000)
         |            // (${prod("n")}) END AS pass5_ppm,
         |  (c * 1000000) // n AS pass1_ppm
         |FROM t WHERE n >= 5""".stripMargin
    }) { (s, d) =>
      def prod(base: String) =
        (0 until 5).map(i => s"($base - ${i}L)").mkString(" * ")
      events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 100d, 1L).otherwise(0L)).as("c"))
        .where(col("n") >= 5)
        .select(col("user_id"), col("n"), col("c"),
          expr(s"""CASE WHEN c = 0 THEN 0L
                  |     WHEN n - c < 5 THEN 1000000L
                  |     ELSE 1000000L - (${prod("(n - c)")} * 1000000L)
                  |          div (${prod("n")}) END""".stripMargin).as("pass5_ppm"),
          expr("(c * 1000000L) div n").as("pass1_ppm"))
    },

    // ---- Bradley-Terry pairwise ratings (arena-style ranking) -------------
    // The model behind head-to-head eval leaderboards: player strengths
    // p_i from pairwise win counts via Hunter's (2004) MM iteration
    // p_i ← W_i / Σ_j n_ij/(p_i + p_j), restated in exact integers —
    // per-pair terms are quantized by floor division BEFORE the sum
    // (with p at ×10⁶ fixed point, t_i = Σ_j (n_ij·10⁶) div (p_i + p_j)
    // approximates the REAL inner sum, so p_i' = (W_i·10⁶) div t_i stays
    // on the ×10⁶ scale) so three iterations replay CTE-for-CTE
    // like the PageRank loop. "Matches" are consecutive same-user
    // events (event-time order, event_id tie-break); the later event
    // wins on strictly greater value. Zero-win players rate 0 by
    // construction (their pair terms drop once both sides hit 0 — the
    // guarded CASE keeps ANSI division happy). Each iteration is one grid-sized join + aggregate.
    Q("q_bradley_terry", {
      def iter(prev: String, out: String) =
        s"""t$out AS (SELECT g.a, CAST(sum(CASE WHEN ra.p + rb.p > 0
           |      THEN (g.n * 1000000) // (ra.p + rb.p) ELSE 0 END) AS BIGINT) AS t
           |  FROM g JOIN r$prev ra ON ra.player = g.a
           |         JOIN r$prev rb ON rb.player = g.b GROUP BY 1),
           |r$out AS (SELECT w.player, CASE WHEN t.t > 0
           |    THEN (w.w * 1000000) // t.t ELSE 0 END AS p
           |  FROM w JOIN t$out t ON t.a = w.player)"""
          .stripMargin
      s"""WITH e AS (SELECT user_id, ts, event_id, event_type, value,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type,
         |    lag(value) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_value
         |  FROM events),
         |m AS (SELECT prev_type, event_type,
         |    CASE WHEN value > prev_value THEN event_type ELSE prev_type END AS winner
         |  FROM e WHERE prev_type IS NOT NULL AND event_type <> prev_type),
         |d AS (SELECT prev_type AS a, event_type AS b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN winner = prev_type THEN 1 ELSE 0 END) AS BIGINT) AS wa
         |  FROM m GROUP BY 1, 2),
         |g AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM (
         |    SELECT a, b, n FROM d UNION ALL SELECT b, a, n FROM d)
         |  GROUP BY 1, 2),
         |w AS (SELECT player, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT a AS player, wa AS w FROM d
         |    UNION ALL SELECT b, n - wa FROM d)
         |  GROUP BY 1),
         |r0 AS (SELECT player, CAST(1000000 AS BIGINT) AS p FROM w),
         |${iter("0", "1")},
         |${iter("1", "2")},
         |${iter("2", "3")}
         |SELECT r3.player, w.w AS wins, r3.p AS rating_fp
         |FROM r3 JOIN w USING (player)""".stripMargin
    }) { (s, d) =>
      val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val m = events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(wUser))
        .withColumn("prev_value", lag(col("value"), 1).over(wUser))
        .where(col("prev_type").isNotNull && col("event_type") =!= col("prev_type"))
        .select(col("prev_type"), col("event_type"),
          when(col("value") > col("prev_value"), col("event_type"))
            .otherwise(col("prev_type")).as("winner"))
      val dPairs = m.groupBy(col("prev_type").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("winner") === col("prev_type"), 1L).otherwise(0L)).as("wa"))
        .localCheckpoint(true) // read by the g and wTbl checkpoint jobs; grid-sized
      val g = dPairs.select(col("a"), col("b"), col("n"))
        .unionAll(dPairs.select(col("b").as("a"), col("a").as("b"), col("n")))
        .groupBy("a", "b").agg(sum(col("n")).as("n"))
        .localCheckpoint(true) // read by every round's job
      val wTbl = dPairs.select(col("a").as("player"), col("wa").as("w"))
        .unionAll(dPairs.select(col("b").as("player"), (col("n") - col("wa")).as("w")))
        .groupBy("player").agg(sum(col("w")).as("w"))
        .localCheckpoint(true) // read by every round's job and the final join
      var r = wTbl.select(col("player"), lit(1000000L).as("p"))
      for (_ <- 1 to 3) {
        val t = g.join(r.select(col("player").as("a"), col("p").as("pa")), Seq("a"))
          .join(r.select(col("player").as("b"), col("p").as("pb")), Seq("b"))
          .groupBy("a").agg(sum(expr(
            "CASE WHEN pa + pb > 0 THEN (n * 1000000L) div (pa + pb) ELSE 0L END")).as("t"))
        r = wTbl.join(t, col("player") === col("a"))
          .select(col("player"),
            expr("CASE WHEN t > 0 THEN (w * 1000000L) div t ELSE 0L END").as("p"))
          .localCheckpoint(true) // read twice per round: cut the doubling lineage
      }
      r.join(wTbl, "player")
        .select(col("player"), col("w").as("wins"), col("p").as("rating_fp"))
    }
  )
}
