package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Context
import Tables.{dsum, oSum}

/** Remaining SURVEY §2 inventory: sources/sinks exercised as round-trips
  * inside the correctness gate, cache, take, flatMap/explode, rollup, and
  * the scalar-function families (string/math/regex/date) the reference
  * compiles in its UDFs (FunctionRegistry.cc) — here as builtin
  * `functions._` columns, oracle-checked against DuckDB.
  *
  * Oracle-exactness notes: math is restricted to IEEE-exact ops (sqrt,
  * abs, floor/ceil, integer pow/mod) — transcendentals differ across libm
  * implementations; `round()` differs in half-case convention between
  * engines, so it never appears on a float output. */
object CoverageOps {

  val all: Seq[Q] = Seq(

    // ---- tocsv + csv source round-trip (dataset.py:500; context.py:288) ---
    Q("q_csv_roundtrip",
      s"""SELECT count(*) AS n, ${oSum("l_quantity")} AS sum_qty,
         |  ${oSum("l_extendedprice")} AS sum_price
         |FROM lineitem""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      val out = TempDirs.tempDir("graft_csv_rt") + "/lineitem"
      val li = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      // Scale-adaptive part count (guide §2.2/§6): the fixed 4-part hint
      // was tuned at sf0.1 (13 MB of pruned scan) and at sf100 made each
      // writer task sort+shuffle+write 150M rows — measured
      // execution-memory exhaustion on this host. Derived from the
      // pruned-scan size estimate with floor 4, so every bench SF ≤ sf1
      // still writes the identical 4 parts (comparability preserved) and
      // big inputs land ~250-750 MB of csv per part (guide §6 sizing).
      // clamp BEFORE the Int conversion: unknown stats report the
      // Long.MaxValue-ish defaultSizeInBytes sentinel, whose /256MiB still
      // wraps negative through toInt (ADVICE r14); 10k parts ≈ 2.5 TB of
      // csv — any larger input needs a real cluster, not more local parts
      // (r15: an unconditional cores-count floor was A/B'd here and
      // REJECTED — 1.59 → 2.09 s at sf0.1: 32 tiny files only pay
      // per-file open cost. Scale.sinkParts instead gates the cores
      // floor on ≥16 MB of input per writer — 4 parts at sf0.1 exactly
      // as before, cores-wide once the write is data-bound: the r15
      // sf10 profile showed the 4-task write stage was 15.1 s of the
      // 25.8 s wall with 28 cores idle.)
      val parts = Scale.sinkParts(li)
      ctx.fromDataFrame(li).tocsv(out, numParts = parts)
      ctx.csv(s"$out/*.csv").toDF.agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
    },

    // ---- gzip-compressed csv source (transparent codec decompression) -----
    // 100 TB of csv arrives compressed; the source must decompress
    // transparently through the same dialect/inference path. The fixture
    // slice is written with the gzip codec and read back through the api
    // csv source (glob over *.csv.gz) — the identical aggregate proves
    // content survived the codec round trip. Caveat documented: .gz files
    // are NOT splittable (one task per file — why the fixture writes 4
    // parts; at scale prefer zstd/parquet or many medium gz files).
    Q("q_csv_gzip",
      s"""SELECT count(*) AS n, ${oSum("l_quantity")} AS sum_qty,
         |  ${oSum("l_extendedprice")} AS sum_price
         |FROM lineitem""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      val out = TempDirs.tempDir("graft_csv_gz") + "/lineitem"
      val li = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      // gzip members are NOT splittable, so the member count IS the scan
      // parallelism forever after (guide §2.5/§6; VERDICT r14 #4). Stage
      // at least one member per session core (never fewer tasks than the
      // machine has lanes, at any SF) and ~256 MB of csv per member
      // beyond that (same sizing as q_csv_roundtrip) — scale-adaptive,
      // nothing pinned to local mode. r15 A/B at sf0.1: the 4-member
      // fixture serialized both codec legs over 4 of 32 cores.
      li.repartition(Scale.unsplittableParts(li))
        .write.option("header", "true").option("compression", "gzip")
        .mode("overwrite").csv(out)
      ctx.csv(s"$out/*.csv.gz").toDF.agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
    },

    // ---- toorc + orc source round-trip (dataset.py:554; context.py:389) ---
    Q("q_orc_roundtrip",
      s"""SELECT count(*) AS n, ${oSum("o_totalprice")} AS total
         |FROM orders""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      val out = TempDirs.tempDir("graft_orc_rt") + "/orders"
      ctx.fromDataFrame(Tables(s, d, "orders").select("o_orderkey", "o_totalprice"))
        .toorc(out)
      ctx.orc(out).toDF.agg(
        count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    },

    // ---- tojson + json source round-trip (superset — the reference has
    // no JSON anywhere, SURVEY §2.8). Numbers survive exactly: Spark
    // writes shortest-round-trip doubles and the reader parses them back
    // bit-identically; strings exercise JSON escaping via o_orderpriority.
    Q("q_json_roundtrip",
      s"""SELECT count(*) AS n, ${oSum("o_totalprice")} AS total,
         |  count(DISTINCT o_orderpriority) AS n_prio
         |FROM orders""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      val out = TempDirs.tempDir("graft_json_rt") + "/orders"
      ctx.fromDataFrame(Tables(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderpriority"))
        .tojson(out, numParts = 4)
      ctx.json(s"$out/*.json").toDF.agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"),
        countDistinct(col("o_orderpriority")).as("n_prio"))
    },

    // ---- text source: line-per-row ingestion (context.py:367) -------------
    Q("q_text_source",
      """SELECT count(*) AS n, sum(length(text)) AS total_chars
        |FROM documents""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      val out = TempDirs.tempDir("graft_text_rt") + "/docs"
      Tables(s, d, "documents").select("text").write.mode("overwrite").text(out)
      ctx.text(s"$out/*.txt").toDF.agg(
        count(lit(1)).as("n"), sum(length(col("value"))).as("total_chars"))
    },

    // ---- cache: materialize once, reuse across two aggregates -------------
    Q("q_cache",
      s"""SELECT count(*) AS n, ${oSum("l_quantity")} AS sum_qty,
         |  count(DISTINCT l_orderkey) AS n_orders
         |FROM lineitem""".stripMargin) { (s, d) =>
      val cached = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_quantity").cache()
      val a = cached.agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      val b = cached.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      a.crossJoin(b)
    },

    // ---- take: first-n in pipeline order (dataset.py:113) -----------------
    Q("q_take",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50""".stripMargin) { (s, d) =>
      val ctx = new Context(s)
      ctx.fromDataFrame(Tables(s, d, "orders").select("o_orderkey", "o_totalprice"))
        .orderBy(col("o_orderkey"))
        .limit(50)
        .toDF
    },

    // ---- flatMap/explode superset (SURVEY §2.9: absent in reference) ------
    Q("q_explode",
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    },

    // ---- rollup (grouping-sets superset) ----------------------------------
    Q("q_rollup",
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  ${oSum("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    },

    // ---- variance-based outlier flags (sqrt-free, fixed-point exact) ------
    // Per event_type: flag rows with (x-μ)² > 4σ² — algebraically the
    // |z| > 2 test with no sqrt, so every double on the compare path
    // derives from exact fixed-point sums via identical IEEE ops on both
    // engines. The 5-row moment table broadcasts back: a window over
    // event_type would shuffle every row instead.
    Q("q_outliers",
      """WITH s AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS s1,
        |    SUM(CAST(floor(value * value * 10000 + 0.5) AS BIGINT)) AS s2
        |  FROM events GROUP BY 1)
        |SELECT e.event_id,
        |  (e.value - (s.s1 / 10000.0) / s.n) * (e.value - (s.s1 / 10000.0) / s.n)
        |    > 4 * ((s.s2 / 10000.0) / s.n
        |           - ((s.s1 / 10000.0) / s.n) * ((s.s1 / 10000.0) / s.n)) AS is_outlier
        |FROM events e JOIN s USING (event_type)""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "events")
      val mom = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * 10000d + 0.5d).cast("long")).as("s1"),
        sum(floor(col("value") * col("value") * 10000d + 0.5d).cast("long")).as("s2"))
      val mu = (col("s1") / 10000.0) / col("n")
      val vr = (col("s2") / 10000.0) / col("n") - mu * mu
      ev.join(broadcast(mom), "event_type")
        .select(col("event_id"),
          ((col("value") - mu) * (col("value") - mu) > lit(4) * vr).as("is_outlier"))
    },

    // ---- edit distance (fuzzy-match / entity-resolution primitive) --------
    // Levenshtein between each customer name and its successor's name —
    // the same Wagner–Fischer DP in both engines, so integer distances
    // match exactly. The `<= 2` flag is the usual ER confirm threshold.
    Q("q_edit_distance",
      """SELECT a.c_custkey, levenshtein(a.c_name, b.c_name) AS dist,
        |  levenshtein(a.c_name, b.c_name) <= 2 AS near_match
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer")
      val a = c.select(col("c_custkey"), col("c_name").as("_na"))
      val b = c.select((col("c_custkey") - 1).as("c_custkey"), col("c_name").as("_nb"))
      a.join(b, "c_custkey")
        .select(col("c_custkey"), levenshtein(col("_na"), col("_nb")).as("dist"),
          (levenshtein(col("_na"), col("_nb")) <= 2).as("near_match"))
    },

    // ---- feature binning (explicit arithmetic, engine-exact) --------------
    // floor((x - lo) / step) with the same IEEE double ops on both sides
    // — bit-identical bin assignment (width_bucket variants differ across
    // engines; explicit arithmetic does not).
    Q("q_binning",
      """SELECT CAST(floor((c_acctbal + 1000) / 500) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM customer GROUP BY 1""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .groupBy(floor((col("c_acctbal") + 1000) / 500).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- explicit GROUPING SETS (the general form under rollup/cube) ------
    Q("q_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- schema evolution: mergeSchema across heterogeneous batches -------
    // Early-ingest files lack the `lang` column; later files carry it —
    // the standard evolving-lake layout. mergeSchema unions the footers
    // and back-fills missing columns with NULL (no rewrite of old files).
    Q("q_schema_evolution",
      """SELECT doc_id, text,
        |  CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
        |FROM documents""".stripMargin) { (s, d) =>
      val dir = Staged.dir(d, "graft_evo") { w =>
        val docs = Tables(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
          .write.mode("overwrite").parquet(s"$w/b0")
        docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "lang")
          .write.mode("overwrite").parquet(s"$w/b1")
      }
      s.read.option("mergeSchema", "true").parquet(s"$dir/b0", s"$dir/b1")
        .select("doc_id", "text", "lang")
    },

    // ---- cube grouping sets (superset sibling of rollup) ------------------
    Q("q_cube",
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- exact percentile (sort-based, linear interpolation — identical
    //      definition in Spark `percentile` and DuckDB `quantile_cont`) ----
    Q("q_percentile",
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
    },

    // ---- sketch aggregates, error-bound-gated: sketch internals have no
    //      cross-engine oracle, but their ACCURACY CONTRACT does. The query
    //      emits the exact values (oracle-recomputable) plus booleans
    //      asserting the sketch landed inside its bound: HLL (rsd 0.05)
    //      within 10% of exact distinct, approx_percentile(acc 1000)
    //      between the exact p45/p55. Deterministic: both sketches are
    //      deterministic for a given input. ---------------------------------
    Q("q_approx_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS hll_ok, true AS p50_ok
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey")).as("_hll"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("_p50"),
          expr("percentile(l_extendedprice, 0.45)").as("_p45"),
          expr("percentile(l_extendedprice, 0.55)").as("_p55"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("_hll") - col("exact_orders")) <= col("exact_orders") * 0.10)
            .as("hll_ok"),
          (col("_p50") >= col("_p45") && col("_p50") <= col("_p55")).as("p50_ok"))
    },

    // ---- SQL front door: graft's native functions through spark.sql ------
    // The distinct-shingle count from the native hash kernel must equal
    // DuckDB's string-built shingle count (64-bit collisions ≈ 0), and
    // token_stats must agree with the regexp tokenization — verifying the
    // SparkSessionExtensions registration path end to end.
    Q("q_sql_surface",
      """WITH sh AS (
        |  SELECT doc_id, text, list_distinct(list_transform(
        |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
        |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
        |  FROM documents)
        |SELECT doc_id, len(g) AS n_shingles, 32 AS sig_len,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM sh""".stripMargin) { (s, d) =>
      graft.GraftExtensions.register(s)
      Tables(s, d, "documents").createOrReplaceTempView("g_docs")
      s.sql("""SELECT doc_id,
        |  sorted_intersect_count(shingle_hashes(text, 3),
        |                         shingle_hashes(text, 3)) AS n_shingles,
        |  size(minhash_sig(shingle_hashes(text, 3), 32)) AS sig_len,
        |  token_stats(text).n_tokens AS n_tokens
        |FROM g_docs""".stripMargin)
    },

    // ---- string-function family (FunctionRegistry.cc:2582-2723) -----------
    Q("q_string_funcs",
      """SELECT c_custkey,
        |  upper(c_name) AS up, lower(c_mktsegment) AS lo,
        |  substr(c_name, 1, 8) AS sub,
        |  replace(c_name, '#', '-') AS repl,
        |  concat(c_name, '|', c_mktsegment) AS cat,
        |  length(c_name) AS len,
        |  reverse(c_name) AS rev,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        |  trim(concat('  ', c_name, '  ')) AS trimmed
        |FROM customer""".stripMargin) { (s, d) =>
      Tables(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        regexp_replace(col("c_name"), "#", "-").as("repl"),
        concat(col("c_name"), lit("|"), col("c_mktsegment")).as("cat"),
        length(col("c_name")).as("len"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        trim(concat(lit("  "), col("c_name"), lit("  "))).as("trimmed"))
    },

    // ---- math-function family (StandardModules.cc:40-88), IEEE-exact ops --
    Q("q_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS a,
        |  ceil(l_extendedprice) AS c,
        |  floor(l_extendedprice) AS f,
        |  sqrt(l_quantity) AS sq,
        |  l_quantity * l_quantity AS p2,
        |  l_orderkey % 7 AS m,
        |  sign(l_discount - 0.05) AS sg,
        |  greatest(l_quantity, 25.0) AS g, least(l_quantity, 25.0) AS l
        |FROM lineitem""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("a"),
        ceil(col("l_extendedprice")).as("c"),
        floor(col("l_extendedprice")).as("f"),
        sqrt(col("l_quantity")).as("sq"),
        (col("l_quantity") * col("l_quantity")).as("p2"),
        (col("l_orderkey") % 7).as("m"),
        signum(col("l_discount") - 0.05).as("sg"),
        greatest(col("l_quantity"), lit(25.0)).as("g"),
        least(col("l_quantity"), lit(25.0)).as("l"))
    },

    // ---- regex family (re.search/re.sub → rlike/regexp_*) ------------------
    Q("q_regex",
      """SELECT event_type,
        |  sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS sum_k,
        |  count(*) FILTER (WHERE regexp_matches(props, '[0-9]{2,}')) AS n_2digit
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Tables(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")).as("sum_k"),
          count(when(col("props").rlike("[0-9]{2,}"), 1)).as("n_2digit"))
    },

    // ---- analytic window functions (lag/lead/rank/ntile superset) ---------
    Q("q_window_funcs",
      """SELECT event_id, user_id,
        |  row_number() OVER w AS rn,
        |  lag(event_id, 1) OVER w AS prev_event,
        |  lead(event_id, 1) OVER w AS next_event,
        |  ntile(4) OVER w AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        ntile(4).over(w).as("quartile"))
    },

    // ---- extended string family: pad/trim/search/split/printf -------------
    Q("q_string_funcs2",
      """SELECT c_custkey,
        |  ltrim(concat('  ', c_name)) AS lt,
        |  rtrim(concat(c_name, '  ')) AS rt,
        |  strpos(c_name, '#') AS pos,
        |  CAST(starts_with(c_name, 'Customer') AS INT) AS sw,
        |  CAST(ends_with(c_name, '0') AS INT) AS ew,
        |  split_part(c_name, '#', 2) AS id_part,
        |  printf('%s-%03d', c_mktsegment, c_custkey % 1000) AS fmt
        |FROM customer""".stripMargin) { (s, d) =>
      Tables(s, d, "customer").select(
        col("c_custkey"),
        ltrim(concat(lit("  "), col("c_name"))).as("lt"),
        rtrim(concat(col("c_name"), lit("  "))).as("rt"),
        instr(col("c_name"), "#").as("pos"),
        col("c_name").startsWith("Customer").cast("int").as("sw"),
        col("c_name").endsWith("0").cast("int").as("ew"),
        split_part(col("c_name"), lit("#"), lit(2)).as("id_part"),
        format_string("%s-%03d", col("c_mktsegment"), col("c_custkey") % 1000).as("fmt"))
    },

    // ---- string family III: swapcase/center/rfind/count/is* checks
    //      (FunctionRegistry.cc:2592-2719) — swapcase via translate (both
    //      engines), center via repeat-pad arithmetic (python's right-heavy
    //      split), rfind via reverse+strpos ------------------------------
    Q("q_string_funcs3", {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      s"""SELECT c_custkey,
         |  translate(c_name, '$lower$upper', '$upper$lower') AS swap,
         |  repeat('.', (16 - length(c_mktsegment)) // 2) || c_mktsegment ||
         |    repeat('.', 16 - length(c_mktsegment)
         |      - (16 - length(c_mktsegment)) // 2) AS centered,
         |  length(c_name) - strpos(reverse(c_name), '0') + 1 AS rfind0,
         |  length(c_name) - length(replace(c_name, '0', '')) AS count0,
         |  CAST(regexp_full_match(split_part(c_name, '#', 2), '[0-9]+') AS INT) AS isdig,
         |  CAST(regexp_full_match(c_mktsegment, '[A-Za-z]+') AS INT) AS isalpha
         |FROM customer""".stripMargin
    }) { (s, d) =>
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      Tables(s, d, "customer").select(
        col("c_custkey"),
        translate(col("c_name"), lower + upper, upper + lower).as("swap"),
        expr("""concat(repeat('.', CAST(floor((16 - length(c_mktsegment)) / 2) AS INT)),
          | c_mktsegment,
          | repeat('.', CAST(16 - length(c_mktsegment)
          |   - floor((16 - length(c_mktsegment)) / 2) AS INT)))""".stripMargin)
          .as("centered"),
        (length(col("c_name")) - instr(reverse(col("c_name")), "0") + 1).as("rfind0"),
        (length(col("c_name")) - length(regexp_replace(col("c_name"), "0", "")))
          .as("count0"),
        split_part(col("c_name"), lit("#"), lit(2)).rlike("^[0-9]+$")
          .cast("int").as("isdig"),
        col("c_mktsegment").rlike("^[A-Za-z]+$").cast("int").as("isalpha"))
    },

    // ---- string tranche 4: printf-style %-formatting, zfill, just ---------
    // Python's `"%s=%05d" % (k, v)` / str.format family: Spark's
    // format_string (java.util.Formatter) and DuckDB's printf share the
    // C conversion semantics for %s/%d/zero-pad/width/left-align/%x/%o
    // (floats are deliberately EXCLUDED — %f rounding is half-up in Java
    // vs half-even in C, a real engine divergence, same reason the math
    // tranche pins its IEEE-exact subset). zfill/rjust/ljust map to
    // lpad/rpad in both engines.
    Q("q_string_funcs4",
      """SELECT c_custkey,
        |  printf('%s=%05d|%x|%o', c_mktsegment, c_custkey, c_custkey, c_custkey)
        |    AS fmt,
        |  printf('[%10s][%-10s]', c_mktsegment, c_mktsegment) AS just,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS zfill,
        |  lpad(c_mktsegment, 12, ' ') AS rjust,
        |  rpad(c_mktsegment, 12, '.') AS ljust,
        |  reverse(c_name) AS rev
        |FROM customer""".stripMargin) { (s, d) =>
      Tables(s, d, "customer").select(
        col("c_custkey"),
        format_string("%s=%05d|%x|%o", col("c_mktsegment"), col("c_custkey"),
          col("c_custkey"), col("c_custkey")).as("fmt"),
        format_string("[%10s][%-10s]", col("c_mktsegment"), col("c_mktsegment"))
          .as("just"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("zfill"),
        lpad(col("c_mktsegment"), 12, " ").as("rjust"),
        rpad(col("c_mktsegment"), 12, ".").as("ljust"),
        reverse(col("c_name")).as("rev"))
    },

    // ---- typed Dataset[T] path: case-class encoder, typed filter/map ------
    Q("q_typed",
      """SELECT o_orderkey AS order_id, o_totalprice / 2 AS half
        |FROM orders WHERE o_totalprice > 100000""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
        .as[(Long, Double)]
        .filter(_._2 > 100000)
        .map(o => (o._1, o._2 / 2))
        .toDF("order_id", "half")
    },

    // ---- cast semantics incl. parse failure (SymbolTable.cc:82-135:
    //      int()/float() raise on bad input → here try_cast to NULL, or
    //      the error channel via filterUdf for Tuplex's raising behavior) --
    Q("q_cast",
      """SELECT event_id,
        |  TRY_CAST(props->>'k' AS BIGINT) AS k,
        |  TRY_CAST(event_type AS BIGINT) AS bad_int,
        |  CAST(floor(value) AS BIGINT) AS v_floor,
        |  CAST(user_id AS DOUBLE) AS uid_d,
        |  CAST(CAST(value > 2 AS BOOLEAN) AS INT) AS flag
        |FROM events""".stripMargin) { (s, d) =>
      Tables(s, d, "events").select(
        col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"),
        expr("try_cast(event_type AS BIGINT)").as("bad_int"),
        floor(col("value")).cast("bigint").as("v_floor"),
        col("user_id").cast("double").as("uid_d"),
        (col("value") > 2).cast("int").as("flag"))
    },

    // ---- collection functions (len/indexing/dict-list ops, SURVEY §2.8) ---
    Q("q_collections",
      """SELECT doc_id,
        |  len(toks) AS n,
        |  toks[1] AS first_tok,
        |  toks[len(toks)] AS last_tok,
        |  CAST(list_contains(toks, 'spark') AS INT) AS has_spark,
        |  array_to_string(list_sort(toks[1:3]), ' ') AS first3_sorted,
        |  array_to_string(toks[2:4], ' ') AS mid
        |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |      FROM documents)""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n"),
          element_at(col("toks"), 1).as("first_tok"),
          expr("element_at(toks, size(toks))").as("last_tok"),
          array_contains(col("toks"), "spark").cast("int").as("has_spark"),
          array_join(sort_array(slice(col("toks"), 1, 3)), " ").as("first3_sorted"),
          array_join(slice(col("toks"), 2, 3), " ").as("mid"))
    },

    // ---- date/time family (capability superset: reference keeps dates as
    //      strings, SURVEY §1.2) --------------------------------------------
    Q("q_date_funcs",
      s"""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         |  quarter(o_orderdate) AS q, count(*) AS n,
         |  ${oSum("o_totalprice")} AS total,
         |  min(CAST(o_orderdate AS DATE)) AS first_day
         |FROM orders GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          quarter(col("o_orderdate")).as("q"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          min(to_date(col("o_orderdate"))).as("first_day"))
    },

    // ---- random.choice equivalent (StandardModules.cc:118-134): seeded
    //      deterministic pick via hash-indexed element_at; true rand() is
    //      also available. Hash values have no cross-engine oracle, but the
    //      MEMBERSHIP contract does: the chosen token must come from the
    //      row's own token list (null only for empty lists). --------------
    Q("q_random_choice",
      "SELECT doc_id, true AS chosen_ok FROM documents") { (s, d) =>
      val toks = graft.text.TextFunctions.tokens(col("text"))
      val chosen = element_at(toks,
        (pmod(xxhash64(col("doc_id")), size(toks)) + 1).cast("int"))
      Tables(s, d, "documents").select(col("doc_id"),
        when(size(toks) === 0, chosen.isNull)
          .otherwise(array_contains(toks, chosen)).as("chosen_ok"))
    },

    // ---- ordered string aggregation (LISTAGG / string_agg) ----------------
    // The SQL:2023 LISTAGG surface: collapse a group to one delimited
    // string in a DETERMINISTIC order — report rows, label lists, debug
    // digests. Unordered collect is a correctness trap (partition order
    // is nondeterministic), so the contract here is explicit: Spark
    // sorts the collected array before joining (collect_list order is
    // arbitrary; array_sort makes it canonical), DuckDB states
    // `ORDER BY` inside string_agg — same canonical string. Bounded to
    // each group's 12 smallest keys (window rank) so group size, not
    // corpus size, caps string length — the cap a 100 TB deployment
    // needs anyway.
    Q("q_listagg",
      """WITH r AS (SELECT o_orderstatus, o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus, o_orderpriority
        |      ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_listed,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
        |    AS key_list
        |FROM r WHERE rn <= 12 GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")
      Tables(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("o_orderkey"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 12)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_listed"),
          array_join(transform(array_sort(collect_list(col("o_orderkey"))),
            k => k.cast("string")), ",").as("key_list"))
    },

    // ---- ntile + cume_dist (the remaining ranking-window surface) ---------
    // Quartile assignment needs a TOTAL order (the orderkey tiebreak
    // makes tile boundaries deterministic); cume_dist deliberately
    // orders by price alone so TIES share a value — peers count toward
    // each other's cumulative fraction, which is the semantic
    // difference from percent_rank (q_percent_rank) this entry pins
    // down. cume_dist is one rational (#rows ≤ current / n) evaluated
    // as the same single division by both engines.
    Q("q_ntile_cume",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile,
        |  cume_dist() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice) AS cume
        |FROM orders""".stripMargin) { (s, d) =>
      val wTotal = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
      val wTies = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_totalprice")
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(wTotal).cast("int").as("quartile"),
          cume_dist().over(wTies).as("cume"))
    }
  )
}
