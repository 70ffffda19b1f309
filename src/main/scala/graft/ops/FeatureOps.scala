package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering and incremental-maintenance tranche: the operators a
  * training-data platform runs CONTINUOUSLY rather than once — incremental
  * aggregate maintenance (new data must not trigger a base rescan),
  * mergeable distinct-count sketches (the cross-partition/cross-day
  * cardinality primitive), categorical label indexing and the hashing-trick
  * vectorizer (vocabulary-free featurization), sliding-window distinct
  * counts, cross-source contamination overlap, and exact quantile
  * normalization.
  *
  * Exactness discipline: integer / fixed-point outputs, or a final
  * identical IEEE op on identical exact operands; probabilistic outputs
  * (HLL) are gated behind deterministic error-bound booleans the oracle
  * states as literals, with the exact counts carried alongside.
  */
object FeatureOps {

  private def orders(s: SparkSession, d: String)    = Tables(s, d, "orders")
  private def documents(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def events(s: SparkSession, d: String)    = Tables(s, d, "events")

  /** ×10⁴ fixed-point (floor + 0.5 — the [[Tables.dsum]] device). */
  private def fp4(c: Column): Column =
    floor(c.cast("double") * 10000d + 0.5d).cast("long")

  /** Portable md5-nibble hex decode (the q_shard_shuffle / q_table_checksum
    * device): one SQL string both engines evaluate verbatim. */
  private def nib(h: String, i: Int) = Tables.nib(h, i)

  /** Deterministic uniform in [0, modulus) from an md5 SQL expression:
    * the first 6 hex nibbles decoded big-endian, mod `modulus` — ONE
    * engine-neutral string both Spark and DuckDB evaluate identically
    * (int arithmetic only; the 6-nibble value tops out at ~16.7M, far
    * under 2^31). Every hash-randomized operator (rebalance, bootstrap,
    * DP noise, Count-Min buckets) derives its "randomness" through this
    * single spelling so the copies cannot drift apart. */
  private def hexUniform(h: String, modulus: Long): String =
    Tables.hexUniform(h, modulus)

  // Aggregate STATE for q_incr_agg, Staged per source dir: the grouped
  // (cnt, fixed-point sum) partials over the base partition
  // (o_orderdate < 1997-01-01). The incremental query then reads THIS
  // state + scans only the delta — which is the operator's whole point:
  // at 100 TB the base is never re-aggregated when a day of new data lands.
  private def aggState(s: SparkSession, d: String): DataFrame =
    Staged.table(s, d, "graft_aggstate") {
      orders(s, d)
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(fp4(col("o_totalprice"))).as("s_fp"))
    }

  val all: Seq[Q] = Seq(

    // ---- incremental aggregate maintenance (materialized-view update) -----
    // The lakehouse pattern for "keep a 100 TB rollup current": the base
    // partition's grouped partials (count + exact fixed-point sum — both
    // ASSOCIATIVE, so partials merge losslessly) are persisted once; when
    // a delta lands, the update aggregates ONLY the delta and merges it
    // with the state-sized frame — base-partition I/O is zero. The oracle
    // recomputes the rollup from ALL rows, so a hash match proves
    // merge(state, agg(delta)) == agg(base ∪ delta) exactly. Non-decomposable
    // aggregates (exact median/ndv) need sketch-typed state instead —
    // that path is q_hll_incremental below.
    Q("q_incr_agg",
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  ${Tables.oSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val delta = orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(fp4(col("o_totalprice"))).as("s_fp"))
      aggState(s, d).unionByName(delta)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(sum(col("cnt")).as("n_orders"),
          (sum(col("s_fp")) / 10000.0).cast("double").as("sum_price"))
    },

    // ---- mergeable HLL distinct-count sketches ----------------------------
    // The incremental counterpart for COUNT DISTINCT (not decomposable into
    // scalar partials): per-group DataSketches HLL sketches, whose union
    // answers the global cardinality WITHOUT re-scanning groups — at scale
    // these are persisted per day/partition and rolling windows are
    // answered by sketch unions alone. HLL updates/merges are commutative,
    // so the estimate is a pure function of the input value SET —
    // deterministic per fixture — and the ±5% gate (~3σ at lgK=12; exact
    // in sparse mode at these SFs) is an integer cross-multiplication the
    // oracle states as a literal, with the exact counts checked alongside.
    Q("q_hll_incremental",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS INT) AS est_ok
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT '__all__' AS event_type, CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(1 AS INT)
        |FROM events""".stripMargin) { (s, d) =>
      val base = events(s, d).select(col("event_type"), col("user_id"))
      val perType = base.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val gate = (est: Column, exact: Column) =>
        (abs(est - exact) * 20 <= exact).cast("int").as("est_ok")
      val perRows = perType.select(col("event_type"), col("exact_users"),
        gate(expr("hll_sketch_estimate(sk)"), col("exact_users")))
      // union-of-sketches answers the global question from per-group state
      // (1-row frames; the cross is a labeled scalar broadcast)
      val allRow = base.agg(countDistinct(col("user_id")).as("exact_users"))
        .crossJoin(broadcast(
          perType.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))))
        .select(lit("__all__").as("event_type"), col("exact_users"),
          gate(col("est"), col("exact_users")))
      perRows.unionByName(allRow)
    },

    // ---- HLL audience-overlap estimation (sketch set algebra) -------------
    // |A ∩ B| = |A| + |B| − |A ∪ B| from three sketch estimates — the
    // query a 100 TB deployment answers from PERSISTED per-segment
    // sketches alone (no raw-data join): each event_type's user sketch
    // is state-sized, pairwise unions are scalar `hll_union` calls over
    // the tiny per-type frame, and only the verification exact counts
    // touch the data (via one distinct-pair frame, no quadratic work).
    // Inclusion-exclusion compounds the ±3σ per-sketch error, so the
    // gate bounds the intersection error against the UNION size
    // (|est−exact| · 10 ≤ exact_union) — and at these SFs the sketches
    // sit in sparse mode where estimates are exact.
    Q("q_hll_overlap",
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.user_id FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type)
        |SELECT type_a, type_b,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_inter,
        |  CAST(1 AS INT) AS est_ok
        |FROM p GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // feeds the sketches AND the exact verify join: reuse shares the
      // distinct's shuffle but not its final aggregate (lazy measured
      // ~20% slower at sf0.1), so it is pinned once
      val du = events(s, d).select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint(true)
      val sk = du.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          count(lit(1)).as("exact_n"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("exact_n").as("n_a"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("exact_n").as("n_b"))
      val exact = du.toDF("type_a", "user_id")
        .join(du.toDF("type_b", "user_id2"),
          col("user_id") === col("user_id2") && col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("exact_inter"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("est_union",
          expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
        .withColumn("est_inter",
          expr("hll_sketch_estimate(sk_a)") +
            expr("hll_sketch_estimate(sk_b)") - col("est_union"))
        .join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_inter"),
          (abs(col("est_inter") - col("exact_inter")) * 10 <=
            col("n_a") + col("n_b") - col("exact_inter")).cast("int").as("est_ok"))
    },

    // ---- categorical label indexing (StringIndexer semantics) -------------
    // Frequency-ordered label → contiguous index, the categorical-feature
    // encode step. Label frames are aggregation outputs (≤ distinct-count
    // rows), so the unpartitioned row_number window runs over a frame of
    // cardinality |labels| — NOT over data rows (the single-partition sort
    // is over 5 and 20 rows here); the encode itself is two BROADCAST
    // joins back onto the fact, no fact shuffle at all. Ties break
    // lexicographically — deterministic on both engines by construction.
    Q("q_label_index",
      """WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |li AS (SELECT lang, row_number() OVER (ORDER BY c DESC, lang) - 1 AS lang_idx FROM lc),
        |sc AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |si AS (SELECT source, row_number() OVER (ORDER BY c DESC, source) - 1 AS source_idx FROM sc)
        |SELECT doc_id, lang_idx, source_idx
        |FROM documents JOIN li USING (lang) JOIN si USING (source)""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      def index(keyCol: String, idxName: String) = {
        val cnt = docs.groupBy(keyCol).agg(count(lit(1)).as("c"))
        val w = Window.orderBy(col("c").desc, col(keyCol).asc)
        cnt.select(col(keyCol),
          (row_number().over(w).cast("long") - 1L).as(idxName))
      }
      docs.select("doc_id", "lang", "source")
        .join(broadcast(index("lang", "lang_idx")), Seq("lang"))
        .join(broadcast(index("source", "source_idx")), Seq("source"))
        .select("doc_id", "lang_idx", "source_idx")
    },

    // ---- hashing-trick featurization (vocabulary-free) --------------------
    // Tokens map straight to a fixed 256-bucket feature space via two md5
    // nibbles — no vocabulary build, no label table, no shuffle to assign
    // ids: the property that makes the hashing trick THE featurizer at
    // 100 TB (the bucket expression is a pure per-row map; the only
    // shuffle is the (doc, bucket) count, bounded by 256 rows per doc).
    // The bucket arithmetic is the proven instr-nibble hex decode, one SQL
    // string both engines evaluate verbatim.
    Q("q_feature_hash", {
      val bucket = s"(${nib("md5(tok)", 1)} * 16 + ${nib("md5(tok)", 2)})"
      // list_filter: regexp_split_to_array('') yields [''] in DuckDB while
      // the Spark tokens() kernel emits NO tokens for blank text — drop
      // the empty token so empty/whitespace-only docs agree
      s"""WITH t AS (SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> length(x) > 0)) AS tok
         |  FROM documents)
         |SELECT doc_id, CAST($bucket AS INT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM t GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      val bucket = s"(${nib("md5(tok)", 1)} * 16 + ${nib("md5(tok)", 2)})"
      documents(s, d)
        .select(col("doc_id"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), expr(bucket).cast("int").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- sliding 7-day distinct users (rolling-window cardinality) --------
    // COUNT DISTINCT over a sliding frame can't run as a window function
    // in either engine; the scale formulation is the anchor-explode: each
    // distinct (user, day) pair contributes to its 7 anchor days, then one
    // grouped distinct per anchor. Cost is 7× the DISTINCT-pair count —
    // not 7× raw events — and every step is a hash aggregation (no sort,
    // no self-join). For long windows swap the exact distinct for the HLL
    // sketches above (union of 7 daily sketches).
    Q("q_rolling_distinct",
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |e AS (SELECT user_id, d + CAST(i AS INT) AS day
        |      FROM du, unnest(generate_series(0, 6)) AS t(i))
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS u7
        |FROM e GROUP BY day""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("i"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("i")).as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("u7"))
    },

    // ---- cross-source contamination overlap matrix ------------------------
    // "How much verbatim content do my sources share?" — the governance
    // question behind decontamination and source weighting. Word-8-gram
    // fingerprints (native ShingleHashes kernel — long keys, dedup within
    // doc) aggregate to per-gram sorted source SETS (bounded by #sources,
    // collect_set dedups map-side), and the pair expansion is a per-row
    // array comprehension — ONE shuffle on gram keys, never a gram-table
    // self-join. Counts agree with the oracle's string-gram replay unless
    // XXH64 collides on the observed gram population (~10⁻¹³ at sf0.1 —
    // the q_dedup_span contract; a collision fails the hash compare, it
    // cannot pass silently).
    Q("q_source_overlap",
      """WITH t AS (SELECT doc_id, source,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT DISTINCT source, md5(array_to_string(toks[i:i+7], ' ')) AS g
        |      FROM t, unnest(CASE WHEN len(toks) >= 8
        |                     THEN generate_series(1, len(toks) - 7)
        |                     ELSE [] END) AS u(i))
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val sets = documents(s, d)
        .select(col("source"), explode(graft.dedup.Dedup.shingleHashes(col("text"), 8)).as("g"))
        .groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      sets.select(explode(expr(
          """flatten(transform(ss, (x, i) ->
            |  transform(slice(ss, i + 2, size(ss)),
            |            y -> named_struct('src_a', x, 'src_b', y))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    },

    // ---- time-series OHLC downsampling (bar aggregation) ------------------
    // Per (user, day) open/high/low/close + volume — the canonical
    // downsample for metric/trade streams. The scale shape is ONE hash
    // aggregation with map-side combine: open/close are min/max over
    // (ts, event_id, value) STRUCTS (lexicographic on the unique
    // (ts, event_id) prefix — first/last without any window sort), the
    // rest are plain aggregates; the oracle states the same bars via
    // row_number windows, which is exactly the double-sort formulation
    // the operator avoids. Values pass through unmodified (exact
    // compare); the sum goes through the fixed-point scheme.
    Q("q_ohlc",
      s"""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value
         |  FROM events),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn_a,
         |    row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM e)
         |SELECT user_id, day,
         |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
         |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
         |  max(value) AS high, min(value) AS low,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  ${Tables.oSum("value")} AS sum_value
         |FROM r GROUP BY 1, 2""".stripMargin) { (s, d) =>
      events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n_events"),
          Tables.dsum(col("value")).as("sum_value"))
    },

    // ---- consistent pseudonymization (join-safe anonymization) ------------
    // The PII-removal step that PRESERVES referential integrity: the same
    // name always maps to the same salted-md5 token, so joins and
    // distinct-counts still work downstream while the raw identifier is
    // gone (unlike [[Corpus.scrubPii]]'s destructive redaction). Keyed
    // salting means un-pseudonymizing requires the salt, not a rainbow
    // table. Pure per-row map; the ndv-parity columns prove injectivity
    // held on this corpus (a collision would break both engines equally —
    // and the 32-hex space makes one vanishingly unlikely).
    Q("q_pseudonymize",
      """WITH p AS (SELECT c_custkey,
        |    'u_' || substr(md5('graftsalt|' || c_name), 1, 12) AS pseud,
        |    c_name FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT c_name) AS BIGINT) AS ndv_name,
        |  CAST(count(DISTINCT pseud) AS BIGINT) AS ndv_pseud,
        |  CAST(min(pseud) AS VARCHAR) AS min_pseud,
        |  CAST(max(pseud) AS VARCHAR) AS max_pseud
        |FROM p""".stripMargin) { (s, d) =>
      val pseud = concat(lit("u_"),
        substring(md5(concat(lit("graftsalt|"), col("c_name"))), 1, 12))
      Tables(s, d, "customer")
        .select(col("c_custkey"), pseud.as("pseud"), col("c_name"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_name")).as("ndv_name"),
          countDistinct(col("pseud")).as("ndv_pseud"),
          min(col("pseud")).as("min_pseud"), max(col("pseud")).as("max_pseud"))
    },

    // ---- k-anonymity audit (privacy / governance) -------------------------
    // Quasi-identifier group sizes over (nation, market segment): any
    // group smaller than k=5 re-identifies its members and must be
    // suppressed or generalized before release. One hash aggregation on
    // the QI tuple — the audit is exactly a grouped count at any scale;
    // the violation flag is an integer the oracle restates.
    Q("q_k_anon",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  CAST(count(*) < 5 AS INT) AS violates_k5
        |FROM customer GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("group_size"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
          (col("group_size") < 5).cast("int").as("violates_k5"))
    },

    // ---- mixture rebalancing (deterministic up/down-sampling) -------------
    // Equalize source proportions to the largest source — the "match the
    // target mixture" step before training. Each doc's copy count is
    // floor(f) + Bernoulli(frac(f)) with f = max_cnt/cnt_source, decided
    // by an md5-derived ppm fraction instead of an RNG: expected
    // proportions are exact, the epoch is reproducible, and the whole
    // thing is a per-row map under a 20-row broadcast of source factors
    // (counts: one agg; the max: a 1-row labeled broadcast). The ±1-ppm
    // quantization of f is the stated contract (ppm fixed-point, exact
    // integer compare); at 100 TB the same plan upsamples by emitting
    // n_copies via explode(sequence(...)) — kept as the count here so the
    // oracle row set stays source-sized deterministic.
    Q("q_rebalance", {
      val oh = "md5(CAST(doc_id AS VARCHAR) || 'bal')"
      val frac = hexUniform(oh, 1000000)
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 1),
         |m AS (SELECT max(cnt) AS max_cnt FROM c),
         |f AS (SELECT source, cnt, (max_cnt * 1000000) // cnt AS f_ppm
         |  FROM c CROSS JOIN m)
         |SELECT d.doc_id, d.source,
         |  CAST(f_ppm // 1000000 + (CASE WHEN $frac < f_ppm % 1000000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
         |FROM documents d JOIN f USING (source)""".stripMargin
    }) { (s, d) =>
      val c = documents(s, d).groupBy("source").agg(count(lit(1)).as("cnt"))
      val m = c.agg(max(col("cnt")).as("max_cnt"))
      val f = c.crossJoin(broadcast(m))
        .select(col("source"), expr("(max_cnt * 1000000L) div cnt").as("f_ppm"))
      // Spark spells the identical hash CAST(... AS STRING); DuckDB's
      // VARCHAR cast of a BIGINT renders the same digits
      val h = "md5(CAST(doc_id AS STRING) || 'bal')"
      val frac = expr(hexUniform(h, 1000000))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(f), "source")
        .select(col("doc_id"), col("source"),
          (expr("f_ppm div 1000000L") +
            when(frac < expr("f_ppm % 1000000L"), 1L).otherwise(0L))
            .cast("long").as("n_copies"))
    },

    // ---- time-weighted average (TWAP) -------------------------------------
    // The irregular-sampling average: each observation holds until the
    // next one (last-value-carried-forward), so the mean weights values by
    // their µs holding duration, not by sample count — the correct
    // aggregate for telemetry/prices sampled on change. One (user, day)
    // window pass computes lead() durations, then the SAME partitioning
    // feeds the grouped sum — one shuffle total. Exactness: durations are
    // exact µs BIGINTs, values fixed-point, products accumulate in
    // decimal(38,0)/HUGEINT, and twap is one identical IEEE division of
    // the two exact integers (NULL for single-event groups — no span).
    Q("q_twap",
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v FROM events),
        |l AS (SELECT user_id, day, v,
        |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur
        |  FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id)),
        |a AS (SELECT user_id, day,
        |    sum(CAST(v AS HUGEINT) * dur) AS num,
        |    CAST(sum(dur) AS BIGINT) AS den
        |  FROM l WHERE dur IS NOT NULL GROUP BY 1, 2)
        |SELECT user_id, day, CAST(num AS DOUBLE) AS num, den,
        |  CASE WHEN den = 0 THEN NULL
        |       ELSE CAST(num AS DOUBLE) / den / 10000.0 END AS twap
        |FROM a""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
      val e = events(s, d).select(col("user_id"),
        to_date(col("ts")).as("day"), col("ts"), col("event_id"),
        fp4(col("value")).as("v"))
      val l = e.withColumn("dur",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .filter(col("dur").isNotNull)
      l.groupBy("user_id", "day")
        .agg(sum((col("v").cast("decimal(38,0)") * col("dur"))).as("num0"),
          sum(col("dur")).as("den"))
        .select(col("user_id"), col("day"),
          col("num0").cast("double").as("num"), col("den"),
          when(col("den") === 0, lit(null).cast("double"))
            .otherwise(col("num0").cast("double") / col("den") / 10000.0)
            .as("twap"))
    },

    // ---- Unicode canonicalization (NFC + accent strip) --------------------
    // The normalization a web crawl runs BEFORE content hashing: "Café"
    // arrives precomposed (U+00E9) and decomposed (e+U+0301) and the two
    // hash differently while reading identically. Native codegen'd
    // expressions (Spark has no built-in Unicode normalizer) implementing
    // the same Unicode algorithms as DuckDB's nfc_normalize/strip_accents
    // (java.text.Normalizer vs utf8proc — both Unicode-conformant, so
    // outputs agree byte-for-byte). The fixture text is ASCII, so each
    // doc gets DECOMPOSED accented tokens appended (chr-composed in the
    // oracle, \\u-literals here — the same code points) to make the test
    // real: n_raw > n_nfc proves composition actually happened. Pure
    // per-row map; at scale this runs fused into the scan.
    Q("q_unicode_norm",
      """WITH t AS (SELECT doc_id,
        |    substr(text, 1, 16) || ' nai' || chr(776) || 've Cafe' || chr(769)
        |      || ' ' || chr(937) || chr(956) || chr(941) || chr(947) || chr(945)
        |      || ' ' || chr(241) || 'and' || chr(250) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(s) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(s)) AS BIGINT) AS n_nfc,
        |  nfc_normalize(s) AS nfc,
        |  strip_accents(nfc_normalize(s)) AS plain,
        |  CAST(nfc_normalize(s) <> s AS INT) AS changed
        |FROM t""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.GraftBridge
      def nfc(c: Column) = GraftBridge.column(
        graft.functions.NfcNormalize(GraftBridge.expression(c)))
      def strip(c: Column) = GraftBridge.column(
        graft.functions.StripAccents(GraftBridge.expression(c)))
      val t = concat(substring(col("text"), 1, 16),
        lit(" nai\u0308ve Cafe\u0301 \u03a9\u03bc\u03ad\u03b3\u03b1 \u00f1and\u00fa")) // decomposed i+U0308/e+U0301: the oracle chr() build
      documents(s, d).select(col("doc_id"), t.as("s"))
        .select(col("doc_id"),
          length(col("s")).cast("long").as("n_raw"),
          length(nfc(col("s"))).cast("long").as("n_nfc"),
          nfc(col("s")).as("nfc"),
          strip(nfc(col("s"))).as("plain"),
          (nfc(col("s")) =!= col("s")).cast("int").as("changed"))
    },

    // ---- per-source curation quality report -------------------------------
    // The rollup a curation run publishes per ingest: volume, token mass,
    // short-doc counts, language spread — ONE grouped pass over the
    // corpus (token counts per row, map-side combined; no second scan per
    // metric). Exact integers + the fixed-point mean; the blank-text
    // token-count discrepancy (Spark tokens() → 0, DuckDB split → 1) is
    // guarded on the oracle side.
    Q("q_source_quality", {
      val toks = """CASE WHEN trim(text) = '' THEN 0
        | ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""
        .stripMargin.replace("\n", " ")
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum($toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN $toks < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  ${Tables.oAvg("n_chars")} AS avg_chars
         |FROM documents GROUP BY source""".stripMargin
    }) { (s, d) =>
      val nTok = size(graft.text.TextFunctions.tokens(col("text"))).cast("long")
      documents(s, d)
        .select(col("source"), col("n_chars"), col("lang"), nTok.as("_t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("_t")).as("total_tokens"),
          sum(when(col("_t") < 10, 1L).otherwise(0L)).as("n_short"),
          countDistinct(col("lang")).as("n_langs"),
          Tables.davg(col("n_chars")).as("avg_chars"))
    },

    // ---- per-label embedding centroids (class prototypes) -----------------
    // The prototype vector per class — nearest-centroid classification,
    // embedding-drift monitoring, and the semantic-coverage report all
    // start here. posexplode spreads components, ONE (label, dim) grouped
    // pass computes exact fixed-point component sums (the q_kmeans_embed
    // Lloyd-update machinery, reused standalone); k×64 output rows.
    Q("q_label_centroids",
      """WITH c AS (SELECT label, i - 1 AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS xf
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        |a AS (SELECT label, dim, CAST(sum(xf) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2)
        |SELECT label, CAST(dim AS INT) AS dim, s, n,
        |  CAST(s AS DOUBLE) / 10000.0 / n AS mean_x
        |FROM a""".stripMargin) { (s, d) =>
      Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("dim"),
          floor(col("x").cast("double") * 10000 + 0.5).cast("long").as("xf"))
        .groupBy("label", "dim")
        .agg(sum(col("xf")).as("s"), count(lit(1)).as("n"))
        .select(col("label"), col("dim").cast("int").as("dim"), col("s"),
          col("n"), (col("s").cast("double") / 10000.0 / col("n")).as("mean_x"))
    },

    // ---- Matryoshka embedding truncation (dim-reduction lever) ------------
    // MRL-style prefix truncation: keep the first 16 of 64 dims and
    // L2-renormalize — 4× less storage/bandwidth for ANN at a known
    // recall cost, with NO model rerun (the property Matryoshka training
    // buys). Pure per-row map. Exactness: the norm accumulates over
    // DOUBLE-cast floats left-to-right (both engines fold list_sum /
    // aggregate sequentially over 16 elements), the renormalized probe
    // component is the same IEEE divide, and outputs carry exact
    // fixed-point norm stats alongside.
    Q("q_embed_truncate",
      """WITH t AS (SELECT vec_id, embedding[1:16] AS sub FROM embeddings),
        |n AS (SELECT vec_id, sub,
        |    list_sum(list_transform(sub, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm2
        |  FROM t)
        |SELECT vec_id,
        |  CAST(floor(norm2 * 10000 + 0.5) AS BIGINT) AS norm2_fp,
        |  CAST(len(sub) AS INT) AS dim,
        |  CASE WHEN norm2 = 0 THEN 0.0
        |       ELSE CAST(sub[1] AS DOUBLE) / sqrt(norm2) END AS u0
        |FROM n""".stripMargin) { (s, d) =>
      val sub = slice(col("embedding"), 1, 16)
      val norm2 = aggregate(sub, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))
      Tables(s, d, "embeddings")
        .select(col("vec_id"), sub.as("sub"), norm2.as("norm2"))
        .select(col("vec_id"),
          floor(col("norm2") * 10000 + 0.5).cast("long").as("norm2_fp"),
          size(col("sub")).cast("int").as("dim"),
          when(col("norm2") === 0, lit(0.0))
            .otherwise(element_at(col("sub"), 1).cast("double") / sqrt(col("norm2")))
            .as("u0"))
    },

    // ---- recursive CTE (Spark 4 WITH RECURSIVE) ---------------------------
    // Iterative graph walks in pure SQL — the hierarchy/reachability
    // surface DataFrame loops (q_pagerank, q_bfs_hops) hand-roll. Each
    // customer key walks its binary-ancestor chain (k -> k/2 -> ... -> 1,
    // the org-chart parent pattern on synthetic parents), yielding
    // depth = floor(log2(k)) — ~17 recursion rounds at sf0.1, bounded by
    // construction. Both engines run the SAME recursive SQL (only the
    // integer-division spelling differs); exact integer outputs.
    Q("q_recursive_cte",
      """WITH RECURSIVE up(k, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT k, cur // 2, depth + 1 FROM up WHERE cur > 1)
        |SELECT k AS c_custkey, CAST(max(depth) AS BIGINT) AS depth
        |FROM up GROUP BY k""".stripMargin) { (s, d) =>
      // The walk emits rows = |customer| × ~log2(maxkey) — LINEAR in input
      // with a construction-bounded depth, but Spark's default
      // cteRecursionRowLimit (1M) is an ABSOLUTE row guard and killed the
      // query at the sf1 scale point (150k customers × ~18 levels ≈ 2.7M).
      // Raise the row guard and keep cteRecursionLevelLimit (100) as the
      // real runaway-recursion brake — the correct shape for a guard on a
      // 100 TB input, where any fixed row count is just a scale ceiling.
      s.conf.set("spark.sql.cteRecursionRowLimit", "1000000000")
      Tables(s, d, "customer").createOrReplaceTempView("customer_rec")
      s.sql(
        """WITH RECURSIVE up(k, cur, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM customer_rec
          |  UNION ALL
          |  SELECT k, cur DIV 2, depth + 1 FROM up WHERE cur > 1)
          |SELECT k AS c_custkey, CAST(max(depth) AS BIGINT) AS depth
          |FROM up GROUP BY k""".stripMargin)
    },

    // ---- VARIANT semi-structured extraction (Spark 4 type) ----------------
    // The open-schema path for 100 TB of JSON telemetry: parse ONCE into
    // the binary VARIANT encoding, then typed path extraction
    // (variant_get) without per-query re-parsing or a rigid schema —
    // Spark 4's answer to schema drift. Nested objects + arrays are
    // synthesized from columns (the fixture's props is flat), extracted
    // down typed paths, and aggregated; the oracle replays the identical
    // JSON construction + path reads with DuckDB's JSON operators.
    Q("q_variant",
      """WITH j AS (SELECT event_type,
        |    '{"user":{"id":' || user_id || ',"seg":"' || event_type
        |      || '"},"vals":[' || (event_id % 10) || ',' || (event_id % 7) || ']}' AS doc
        |  FROM events)
        |SELECT event_type,
        |  CAST(sum(CAST(doc->'user'->>'id' AS BIGINT)) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(doc->'vals'->>1 AS BIGINT)) AS BIGINT) AS sum_v1,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM j GROUP BY event_type""".stripMargin) { (s, d) =>
      val doc = concat(lit("{\"user\":{\"id\":"), col("user_id"),
        lit(",\"seg\":\""), col("event_type"), lit("\"},\"vals\":["),
        col("event_id") % 10, lit(","), col("event_id") % 7, lit("]}"))
      events(s, d).select(col("event_type"), doc.as("doc"))
        .withColumn("v", parse_json(col("doc")))
        .groupBy("event_type")
        .agg(sum(expr("variant_get(v, '$.user.id', 'bigint')")).as("sum_uid"),
          sum(expr("variant_get(v, '$.vals[1]', 'bigint')")).as("sum_v1"),
          count(lit(1)).as("n"))
    },

    // ---- readability scoring (Flesch reading ease) ------------------------
    // The classic document-quality heuristic a curation cascade thresholds
    // on: words (the proven \s+ tokenization), sentences (non-blank
    // [.!?]+ segments via the same HOF filter both engines run), and
    // syllables (vowel-group count — the standard approximation). All
    // three counts are exact integers; the Flesch score is ONE identical
    // IEEE expression over them (guarded for empty docs). Pure per-row
    // map — no shuffle at any scale.
    Q("q_readability",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS n_words,
        |  CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |    x -> length(trim(x)) > 0)), 1) AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
        |  CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> length(x) > 0)) = 0 THEN 0.0
        |    ELSE 206.835
        |      - 1.015 * (CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0)) AS DOUBLE)
        |        / greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+'), x -> length(trim(x)) > 0)), 1))
        |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |        / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0)))
        |  END AS flesch
        |FROM documents""".stripMargin) { (s, d) =>
      val words = size(filter(split(trim(col("text")), "\\s+"),
        x => length(x) > 0)).cast("long")
      val sentences = greatest(size(filter(split(col("text"), "[.!?]+"),
        x => length(trim(x)) > 0)), lit(1)).cast("long")
      val syllables = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long")
      documents(s, d).select(col("doc_id"),
        words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"),
        when(words === 0, lit(0.0)).otherwise(
          lit(206.835)
            - lit(1.015) * (words.cast("double") / sentences)
            - lit(84.6) * (syllables.cast("double") / words)).as("flesch"))
    },

    // ---- smoothed target encoding (mean encoding) -------------------------
    // The categorical-feature workhorse for tabular models: category →
    // smoothed target mean (sum_c + m·prior) / (n_c + m), shrinking rare
    // categories toward the global prior (m = 10 virtual rows). Two
    // aggregations (per-category + the 1-row global prior as a labeled
    // broadcast), never a per-row pass. Exactness: sums are fixed-point
    // BIGINTs, and the encode is ONE identical IEEE expression over
    // exact integer operands — the prior division folds into the
    // cross-multiplied form (10000·(s_c·1 + 10·s_g/n_g…)) restated so
    // both engines evaluate the same operand tree: enc = (s_c/10⁴ +
    // 10·(s_g/10⁴/n_g)) / (n_c + 10) with every sub-term exact.
    Q("q_target_encode",
      """WITH g AS (SELECT CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s_g,
        |    CAST(count(*) AS BIGINT) AS n_g FROM orders),
        |c AS (SELECT o_orderpriority,
        |    CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s_c,
        |    CAST(count(*) AS BIGINT) AS n_c
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n_c, s_c, n_g, s_g,
        |  (s_c / 10000.0 + 10 * (s_g / 10000.0 / n_g)) / (n_c + 10) AS enc
        |FROM c CROSS JOIN g""".stripMargin) { (s, d) =>
      val sfp = sum(fp4(col("o_totalprice")))
      val g = orders(s, d).agg(sfp.as("s_g"), count(lit(1)).as("n_g"))
      val c = orders(s, d).groupBy("o_orderpriority")
        .agg(sfp.as("s_c"), count(lit(1)).as("n_c"))
      c.crossJoin(broadcast(g))
        .select(col("o_orderpriority"), col("n_c"), col("s_c"),
          col("n_g"), col("s_g"),
          ((col("s_c") / 10000.0 + lit(10) * (col("s_g") / 10000.0 / col("n_g")))
            / (col("n_c") + 10)).as("enc"))
    },

    // ---- per-group OLS trend lines (one aggregation pass) -----------------
    // Slope/intercept of value vs hour-of-day per event type, from the
    // SAME exact-moment machinery as q_cov_exact: one scan, one grouped
    // aggregate of (n, Σx, Σy, Σxy, Σx²) with x integer and y fixed-point
    // BIGINT, then slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) as two exact BIGINT
    // numerators (output) plus one identical IEEE division. The window-
    // free single-pass shape is the point: per-key trend fitting over
    // 100 TB of telemetry is a grouped agg, not a regression library.
    // Moments and numerators accumulate in decimal(38,0)/HUGEINT exactly
    // like q_cov_exact (BIGINT n·Σxy overflows ~2e20 at sf1 — DuckDB
    // errors, non-ANSI Spark silently wraps); the exact integers cast to
    // double identically on both engines at the very end.
    Q("q_ols_group",
      """WITH f AS (SELECT event_type,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS x,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(x * y AS HUGEINT)) AS sxy, sum(CAST(x * x AS HUGEINT)) AS sxx
        |  FROM f GROUP BY 1)
        |SELECT event_type, n, sx, sy,
        |  CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
        |  CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS slope_num,
        |  CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope_den,
        |  CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |    / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS slope
        |FROM a""".stripMargin) { (s, d) =>
      val x = hour(col("ts")).cast("long")
      val y = fp4(col("value"))
      def dec(c: Column) = c.cast("decimal(38,0)")
      val a = events(s, d).select(col("event_type"), x.as("x"), y.as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(dec(col("x") * col("y"))).as("sxy0"),
          sum(dec(col("x") * col("x"))).as("sxx0"))
      val num = (dec(col("n")) * col("sxy0") - dec(col("sx")) * dec(col("sy")))
        .cast("double")
      val den = (dec(col("n")) * col("sxx0") - dec(col("sx")) * dec(col("sx")))
        .cast("double")
      a.select(col("event_type"), col("n"), col("sx"), col("sy"),
        col("sxy0").cast("double").as("sxy"), col("sxx0").cast("double").as("sxx"),
        num.as("slope_num"), den.as("slope_den"), (num / den).as("slope"))
    },

    // ---- deterministic negative sampling (contrastive pairs) --------------
    // k=4 pseudo-random non-matching partners per document for contrastive
    // / triplet training, with NO RNG state: documents are ranked inside
    // 16 hash shards (the proven q_shard_shuffle device), and partners sit
    // at ring offsets (pos−1+j) mod shardSize — hash order makes ring
    // neighbors a uniform draw, determinism makes the epoch reproducible
    // across runs, engines, and cluster sizes. Plan: ONE shard shuffle,
    // a 16-row broadcast of shard sizes, and a (shard, pos) equi-join —
    // no RNG, no cross join, no global sort (each shard ranks
    // independently). Self-pairing needs shardSize ≤ k (documented;
    // shards are corpus/16 here).
    Q("q_negative_pairs",
      """WITH h AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || 'neg') AS hh FROM documents),
        |s AS (SELECT doc_id,
        |    ((instr('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(hh, 2, 1)) - 1)) % 16 AS shard,
        |    hh FROM h),
        |r AS (SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS pos
        |  FROM s),
        |z AS (SELECT shard, count(*) AS sz FROM r GROUP BY shard),
        |p AS (SELECT r.doc_id, r.shard, CAST(j AS INT) AS j,
        |    ((r.pos - 1 + j) % sz) + 1 AS npos
        |  FROM r JOIN z USING (shard), unnest(generate_series(1, 4)) AS t(j))
        |SELECT p.doc_id, j, r2.doc_id AS neg_id
        |FROM p JOIN r r2 ON r2.shard = p.shard AND r2.pos = p.npos""".stripMargin) { (s, d) =>
      val ranked = Scale.shardShuffle(
        documents(s, d).select("doc_id"), "doc_id", nShards = 16, salt = "neg")
      val sizes = ranked.groupBy("shard").agg(count(lit(1)).as("sz"))
      val probes = ranked.join(broadcast(sizes), "shard")
        .select(col("doc_id"), col("shard"),
          explode(sequence(lit(1), lit(4))).as("j"), col("pos"), col("sz"))
        .select(col("doc_id"), col("shard"), col("j"),
          ((col("pos") - 1 + col("j")) % col("sz") + 1).as("npos"))
      val partners = ranked.select(col("shard"), col("pos").as("npos"),
        col("doc_id").as("neg_id"))
      probes.join(partners, Seq("shard", "npos"))
        .select(col("doc_id"), col("j"), col("neg_id"))
    },

    // ---- l-diversity audit (the k-anonymity companion) --------------------
    // k-anonymity alone fails when a quasi-identifier group is uniform in
    // its SENSITIVE attribute (everyone in the group shares the secret):
    // l-diversity demands ≥ l distinct sensitive values per group. The
    // sensitive attribute here is the account-balance band (integer floor
    // division — engine-exact); one hash aggregation with a multi-distinct
    // count, flags restated by the oracle.
    Q("q_l_diversity",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS group_size,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS BIGINT) AS l_bands,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) < 3 AS INT) AS violates_l3
        |FROM customer GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val band = floor(col("c_acctbal") / 2000).cast("long")
      Tables(s, d, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("group_size"),
          countDistinct(band).as("l_bands"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
          col("l_bands"), (col("l_bands") < 3).cast("int").as("violates_l3"))
    },

    // ---- exact quantile normalization (percent_rank) ----------------------
    // Feature scaling to [0, 1] by within-group rank: pr = (rank−1)/(n−1)
    // restated over its INTEGER operands (rank ties on equal prices are
    // resolved identically by both engines' rank()), so the only float is
    // one identical IEEE division. One sort shuffle per group — at 100 TB
    // swap the exact rank for interpolation against approx_percentile
    // fences; the exact form is the correctness anchor that variant is
    // validated against.
    Q("q_percent_rank",
      """WITH r AS (SELECT o_orderkey, o_orderstatus,
        |    rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS rk,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus,
        |  CAST(rk - 1 AS BIGINT) AS pr_num, CAST(n - 1 AS BIGINT) AS pr_den,
        |  CAST(rk - 1 AS DOUBLE) / (n - 1) AS pr
        |FROM r""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
      val wc = Window.partitionBy("o_orderstatus")
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          rank().over(w).cast("long").as("rk"),
          count(lit(1)).over(wc).as("n"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("rk") - 1).as("pr_num"), (col("n") - 1).as("pr_den"),
          ((col("rk") - 1).cast("double") / (col("n") - 1)).as("pr"))
    },

    // ---- Count-Min sketch point-frequency estimates -----------------------
    // The mergeable frequency sketch (Cormode-Muthukrishnan): 4×256
    // counters estimate every key's count with est ≥ true, est ≤ true +
    // N/width w.h.p. Unlike Misra-Gries (whose merge loses mass) CM is a
    // LINEAR sketch — partials from any partitioning, day, or source add
    // pointwise with zero error growth, which is the composition a 100 TB
    // multi-tenant counter service needs. One scan builds the sketch
    // (map-side partial aggregation to 8 KB of state); the probe side
    // joins the 150-key user table against the broadcast 1-row sketch.
    // The bucket hash is the portable md5 device (CountMin.bucket ==
    // hexUniform), so the DuckDB oracle rebuilds every cell exactly and
    // the estimates hash-match — including the deterministic one-sided
    // guarantee bit carried per row.
    Q("q_countmin", {
      val h = "md5(CAST(user_id AS VARCHAR) || 'cm' || CAST(s AS VARCHAR))"
      val b = hexUniform(h, 256)
      s"""WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM events GROUP BY 1),
         |h AS (SELECT user_id, exact_cnt, s, $b AS b
         |  FROM k CROSS JOIN (VALUES (0), (1), (2), (3)) t(s)),
         |c AS (SELECT s, b, sum(exact_cnt) AS cell FROM h GROUP BY 1, 2)
         |SELECT h.user_id, min(h.exact_cnt) AS exact_cnt,
         |  CAST(min(c.cell) AS BIGINT) AS cms_est,
         |  CAST(min(c.cell) >= min(h.exact_cnt) AS BOOLEAN) AS overestimate_ok
         |FROM h JOIN c USING (s, b)
         |GROUP BY 1""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.GraftBridge
      val sketch = events(s, d).agg(GraftBridge.column(
        graft.functions.CountMinAgg(
          GraftBridge.expression(col("user_id")), 4, 256)).as("sk"))
      val keys = events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
      val h = "md5(CAST(user_id AS STRING) || 'cm' || CAST(s AS STRING))"
      val b = expr(hexUniform(h, 256))
      keys.crossJoin(broadcast(sketch))
        .withColumn("s", explode(array((0 until 4).map(lit): _*)))
        .withColumn("cell",
          element_at(col("sk"), (col("s") * 256L + b + 1L).cast("int")))
        .groupBy("user_id")
        .agg(min(col("exact_cnt")).as("exact_cnt"),
          min(col("cell")).as("cms_est"),
          (min(col("cell")) >= min(col("exact_cnt"))).as("overestimate_ok"))
    },

    // ---- CMS join-size estimation (optimizer statistics at sketch cost) ---
    // |A ⋈ B| = Σ_k cntA(k)·cntB(k) is exactly the inner product of the
    // two key histograms — and the Count-Min estimate is the MIN over
    // rows of the sketch inner products, a classic one-sided (never
    // under) cardinality estimator (Cormode & Muthukrishnan 2005 §4.2).
    // This is what a planner consults before choosing a join strategy:
    // two single-pass mergeable sketches instead of a key-join. Both
    // sketches use the portable md5 bucket device, so the oracle rebuilds
    // every cell and inner product exactly; the exact join size rides
    // along with the one-sided guarantee bit. SCALE CEILING: cell
    // products are BIGINT — past ~3·10⁹ rows per side the inner product
    // needs DECIMAL(38,0) accumulation (the q_fisher_score note applies).
    Q("q_joinsize_estimate", {
      def cells(src: String, key: String) = {
        val b = hexUniform(s"md5(CAST($key AS VARCHAR) || 'cm' || CAST(s AS VARCHAR))", 256)
        s"""(SELECT s, $b AS b, CAST(sum(c) AS BIGINT) AS cell FROM
           |  (SELECT $key, CAST(count(*) AS BIGINT) AS c FROM $src GROUP BY 1)
           |  CROSS JOIN (VALUES (0), (1), (2), (3)) t(s) GROUP BY 1, 2)"""
          .stripMargin
      }
      s"""WITH ha AS ${cells("orders", "o_custkey")},
         |hb AS ${cells("customer", "c_custkey")},
         |ip AS (SELECT ha.s, CAST(sum(ha.cell * hb.cell) AS BIGINT) AS ip
         |  FROM ha JOIN hb ON ha.s = hb.s AND ha.b = hb.b GROUP BY 1),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_n
         |  FROM orders JOIN customer ON o_custkey = c_custkey)
         |SELECT CAST((SELECT min(ip) FROM ip) AS BIGINT) AS cms_join_est,
         |  exact_n,
         |  (SELECT min(ip) FROM ip) >= exact_n AS overestimate_ok
         |FROM ex""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.GraftBridge
      def sketchOf(df: org.apache.spark.sql.DataFrame, key: String) =
        df.agg(GraftBridge.column(graft.functions.CountMinAgg(
          GraftBridge.expression(col(key)), 4, 256)).as("sk"))
      val skA = sketchOf(Tables(s, d, "orders"), "o_custkey").toDF("ska")
      val skB = sketchOf(Tables(s, d, "customer"), "c_custkey").toDF("skb")
      val est = skA.crossJoin(skB)
        .select(explode(array((0 until 4).map(lit): _*)).as("s"),
          col("ska"), col("skb"))
        .select(col("s"), explode(sequence(lit(0), lit(255))).as("b"),
          col("ska"), col("skb"))
        .withColumn("prod",
          element_at(col("ska"), (col("s") * 256 + col("b") + 1).cast("int")) *
            element_at(col("skb"), (col("s") * 256 + col("b") + 1).cast("int")))
        .groupBy("s").agg(sum(col("prod")).as("ip"))
        .agg(min(col("ip")).as("cms_join_est"))
      val exact = Tables(s, d, "orders").select(col("o_custkey"))
        .join(Tables(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      est.crossJoin(broadcast(exact))
        .select(col("cms_join_est"), col("exact_n"),
          (col("cms_join_est") >= col("exact_n")).as("overestimate_ok"))
    },

    // ---- mergeable quantile sketch (MRL/KLL deterministic compactor) ------
    // The quantile member of the sketch family (q_countmin frequencies,
    // q_hll_* cardinalities, q_heavy_hitters_approx top-k): O(k·log(N/k))
    // state per group when neither the rows (exact sort, q_percentile)
    // nor the distinct-value domain (grouped cum-weight walk) fit. The
    // compactor is DETERMINISTIC (sorted even-index promotion, no coin
    // flip) and the buffer carries errBound = Σ compaction weights, a
    // worst-case rank certificate valid under ANY update/merge order:
    // true_rank(est(q)) ∈ [target − errBound, target + errBound]. Summary
    // contents are partitioning-dependent, so (the Misra-Gries rule) the
    // hash-compared output is exact values + certificate booleans — the
    // exact quantiles come from a grouped cum-weight pass both engines
    // spell identically, and each estimate's certificate is checked
    // against the exact rank table: r_lo < target + errBound AND
    // r_hi ≥ target − errBound, with errBound/N ≤ ~log₂(N/k)/k ≈ 2% at
    // k=256 — a theorem, not a sample property, so the booleans are
    // deterministically true. Scale shape: sketch = one scan with
    // map-side partials shuffling k·log(N/k) longs; the exact companion
    // is one grouped pass + a distinct-value-sized window.
    Q("q_quantile_sketch", {
      def ev(p: Long) =
        s"(SELECT min(v) FROM cum WHERE c >= greatest(1, ($p * n + 999999) // 1000000))"
      s"""WITH f AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
         |  FROM events),
         |g AS (SELECT v, count(*) AS cnt FROM f GROUP BY v),
         |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS c FROM g),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)
         |SELECT n, ${ev(100000L)} AS p10_v, ${ev(500000L)} AS p50_v,
         |  ${ev(900000L)} AS p90_v, ${ev(990000L)} AS p99_v,
         |  true AS sketch_ok
         |FROM nn""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.GraftBridge
      val ppms = Seq(100000L, 500000L, 900000L, 990000L)
      val f = events(s, d)
        .select(floor(col("value") * 100 + 0.5).cast("long").as("v"))
      val sk = f.agg(GraftBridge.column(graft.functions.QuantileSketchAgg(
        GraftBridge.expression(col("v")), 256, ppms)).as("sk"))
      // exact rank table: cumulative counts over the (bounded) distinct-
      // value domain — same license as every grouped-domain exact pass
      val cum = f.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("c", sum(col("cnt")).over(
          Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
      val joined = cum.crossJoin(broadcast(sk))
        .withColumn("n", element_at(col("sk"), 2))
        .withColumn("eb", element_at(col("sk"), 1))
      val aggs = ppms.zipWithIndex.flatMap { case (p, i) =>
        val est = element_at(col("sk"), i + 3)
        val t = greatest(lit(1L), expr(s"CAST(($p * n + 999999) div 1000000 AS BIGINT)"))
        Seq(
          min(when(col("c") >= t, col("v"))).as(s"exact_$i"),
          // certificate: r_lo = #{x < est} < target + errBound and
          // r_hi = #{x ≤ est} ≥ target − errBound
          ((coalesce(max(when(col("v") < est, col("c"))), lit(0L)) <
              t + col("eb")) &&
            (coalesce(max(when(col("v") <= est, col("c"))), lit(0L)) >=
              t - col("eb"))).as(s"ok_$i"))
      }
      joined.groupBy(col("n"), col("eb"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n"), col("exact_0").as("p10_v"), col("exact_1").as("p50_v"),
          col("exact_2").as("p90_v"), col("exact_3").as("p99_v"),
          (col("ok_0") && col("ok_1") && col("ok_2") && col("ok_3"))
            .as("sketch_ok"))
    },

    // ---- Poisson bootstrap (deterministic resampling) ---------------------
    // Confidence intervals without collecting anything: each row draws an
    // INDEPENDENT Poisson(1) replica weight (the classic n→∞ limit of
    // multinomial resampling — Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams", 2012), so B bootstrap replicas of a
    // 100 TB aggregate are ONE scan with a B-way explode, no sampling
    // coordination across partitions. Weights come from the md5-ppm
    // uniform inverted through the Poisson(1) CDF (fixed ppm literals
    // both engines compare identically), making every replica bit-
    // reproducible: the oracle replays the exact resample.
    Q("q_bootstrap", {
      val oh = "md5(CAST(doc_id AS VARCHAR) || 'bs' || CAST(b AS VARCHAR))"
      val u = hexUniform(oh, 1000000)
      s"""WITH r AS (SELECT doc_id, source, n_chars, b, $u AS u
         |  FROM documents CROSS JOIN
         |    (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(b)),
         |w AS (SELECT source, b, n_chars,
         |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
         |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
         |         WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
         |         WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
         |         ELSE 8 END AS wt
         |  FROM r)
         |SELECT source, CAST(b AS INT) AS replica,
         |  CAST(sum(wt) AS BIGINT) AS n_eff,
         |  CAST(sum(wt * n_chars) AS BIGINT) AS sum_chars,
         |  CASE WHEN sum(wt) = 0 THEN NULL
         |       ELSE CAST(sum(wt * n_chars) AS DOUBLE) / sum(wt)
         |  END AS boot_mean_chars
         |FROM w GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      val h = "md5(CAST(doc_id AS STRING) || 'bs' || CAST(b AS STRING))"
      val u = expr(hexUniform(h, 1000000))
      val wt = when(u < 367879L, 0L).when(u < 735759L, 1L)
        .when(u < 919699L, 2L).when(u < 981012L, 3L)
        .when(u < 996340L, 4L).when(u < 999406L, 5L)
        .when(u < 999917L, 6L).when(u < 999990L, 7L).otherwise(8L)
      documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("b", explode(array((0 until 8).map(lit): _*)))
        .withColumn("wt", wt)
        .groupBy(col("source"), col("b").cast("int").as("replica"))
        .agg(sum(col("wt")).as("n_eff"),
          sum(col("wt") * col("n_chars")).as("sum_chars"),
          when(sum(col("wt")) === 0, lit(null).cast("double"))
            .otherwise(sum(col("wt") * col("n_chars")).cast("double") /
              sum(col("wt"))).as("boot_mean_chars"))
    },

    // ---- URL normalization + per-domain rollup ----------------------------
    // The first step of every web-corpus pipeline (C4, RefinedWeb,
    // Dolma): canonicalize the crawl URL, strip the www prefix, extract
    // the registered domain, and roll curation stats up per domain —
    // domain-level quality decisions (allowlists, per-domain caps) all
    // key off this. Spark-side extraction uses the REAL URL machinery
    // (parse_url's HOST/PATH/QUERY:key paths — codegen'd, no UDF); the
    // oracle reconstructs the same parts with string ops, so a hash
    // match proves parse_url agrees with the spec on every row. The URL
    // column itself is synthesized deterministically from documents
    // columns (the testdata carries no raw URLs) — same expression both
    // engines.
    Q("q_url_parse",
      """WITH u AS (SELECT doc_id, n_chars,
        |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |      || lower(replace(source, '_', '-')) || '.example.com'
        |      || '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) || '.html'
        |      || '?ref=r' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, n_chars,
        |    split_part(split_part(url, '://', 2), '/', 1) AS host,
        |    '/' || split_part(split_part(split_part(url, '://', 2), '?', 1),
        |                      '/', 2)
        |      || '/' || split_part(split_part(split_part(url, '://', 2),
        |                                      '?', 1), '/', 3) AS path,
        |    split_part(url, '?ref=', 2) AS ref
        |  FROM u),
        |n AS (SELECT doc_id, n_chars, host, path, ref,
        |    CASE WHEN host LIKE 'www.%' THEN substr(host, 5) ELSE host END
        |      AS domain
        |  FROM p)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN host LIKE 'www.%' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_www,
        |  CAST(count(DISTINCT ref) AS BIGINT) AS n_refs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(path) AS first_path
        |FROM n GROUP BY 1""".stripMargin) { (s, d) =>
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        lower(regexp_replace(col("source"), "_", "-")), lit(".example.com"),
        lit("/"), col("lang"), lit("/doc-"), col("doc_id").cast("string"),
        lit(".html"), lit("?ref=r"), (col("doc_id") % 7).cast("string"))
      documents(s, d)
        .select(col("doc_id"), col("n_chars"), url.as("url"))
        .select(col("doc_id"), col("n_chars"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
        .withColumn("domain", when(col("host").startsWith("www."),
          expr("substr(host, 5)")).otherwise(col("host")))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("host").startsWith("www."), 1L).otherwise(0L))
            .as("n_www"),
          countDistinct(col("ref")).as("n_refs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("path")).as("first_path"))
    },

    // ---- differentially-private counts (geometric mechanism) --------------
    // The release-side companion to the k-anonymity / l-diversity audits:
    // per-source counts with two-sided geometric noise — the DISCRETE
    // Laplace that gives ε-DP for integer counts (Ghosh-Roughgarden-
    // Sundararajan 2009: the geometric mechanism is universally optimal
    // for counts). ε=1 ⇒ α=e^(-1); noise is drawn by inverting the
    // geometric CDF (fixed ppm literals, clamped to ±6 ≈ the 10⁻³ tail)
    // over the md5-ppm uniform seeded per source — so the "random" draw
    // is bit-reproducible and the oracle replays the exact release. A
    // REAL deployment derives the seed from a secret salt; the mechanism,
    // clamp, and post-processing (max 0) are exactly what it would run.
    // Scale: noise is a per-GROUP map over the already-aggregated frame.
    Q("q_dp_count", {
      val oh = "md5(source || '|dp1')"
      val u = hexUniform(oh, 1000000)
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_true
         |  FROM documents GROUP BY 1),
         |z AS (SELECT source, n_true, $u AS u FROM c),
         |k AS (SELECT source, n_true,
         |    CASE WHEN u < 1813 THEN -6 WHEN u < 4927 THEN -5
         |         WHEN u < 13393 THEN -4 WHEN u < 36402 THEN -3
         |         WHEN u < 98940 THEN -2 WHEN u < 268941 THEN -1
         |         WHEN u < 731059 THEN 0 WHEN u < 901077 THEN 1
         |         WHEN u < 963627 THEN 2 WHEN u < 986638 THEN 3
         |         WHEN u < 995104 THEN 4 WHEN u < 998218 THEN 5
         |         ELSE 6 END AS noise
         |  FROM z)
         |SELECT source, n_true, CAST(noise AS BIGINT) AS noise,
         |  CAST(greatest(n_true + noise, 0) AS BIGINT) AS n_released
         |FROM k""".stripMargin
    }) { (s, d) =>
      val h = "md5(source || '|dp1')"
      val u = expr(hexUniform(h, 1000000))
      val noise = when(u < 1813L, -6L).when(u < 4927L, -5L)
        .when(u < 13393L, -4L).when(u < 36402L, -3L)
        .when(u < 98940L, -2L).when(u < 268941L, -1L)
        .when(u < 731059L, 0L).when(u < 901077L, 1L)
        .when(u < 963627L, 2L).when(u < 986638L, 3L)
        .when(u < 995104L, 4L).when(u < 998218L, 5L).otherwise(6L)
      documents(s, d).groupBy("source").agg(count(lit(1)).as("n_true"))
        .withColumn("noise", noise)
        .select(col("source"), col("n_true"), col("noise"),
          greatest(col("n_true") + col("noise"), lit(0L)).as("n_released"))
    },

    // ---- n-gram novelty (memorization-risk scoring) -----------------------
    // What fraction of a document's 8-grams appears NOWHERE else in the
    // corpus? Low novelty = boilerplate/duplication; high novelty on a
    // "familiar" doc flags memorization-sensitive content worth auditing
    // before training. Plan: the q_source_overlap gram device — native
    // single-pass distinct shingle hashes, ONE shuffle on gram keys for
    // document frequency, one doc-keyed agg back — never a doc×doc join.
    // The oracle replays string grams; hashed and string gram COUNTS
    // agree unless XXH64 collides (which would fail the compare loudly).
    // Docs under 8 tokens carry no grams and are absent on both sides.
    Q("q_ngram_novelty",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |    AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(toks[i:i+7], ' ')) AS g
        |  FROM t, unnest(CASE WHEN len(toks) >= 8
        |                 THEN generate_series(1, len(toks) - 7)
        |                 ELSE [] END) AS u(i)),
        |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000
        |       // count(*) AS BIGINT) AS novelty_bp
        |FROM g JOIN df USING (g) GROUP BY 1""".stripMargin) { (s, d) =>
      val g = documents(s, d).select(col("doc_id"),
        explode(graft.dedup.Dedup.shingleHashes(col("text"), 8)).as("g"))
      val df = g.groupBy("g").agg(count(lit(1)).as("df"))
      g.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 10000) div n_grams").as("novelty_bp"))
    },

    // ---- DSIR-style importance selection ----------------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023) in its
    // integer-exact form: score each candidate document by how target-like
    // its hashed-feature profile is. Features are the same vocabulary-free
    // 256-bucket hashed tokens as q_feature_hash; a bucket's importance
    // ratio is ((tgt_w+1)·10⁶) div (all_w+1) (add-one smoothed, scaled,
    // floor-divided — exact on both engines), and a doc's score is the
    // count-weighted sum of its buckets' ratios. The scale shape is the
    // whole point: the ratio table is ≤256 rows (BROADCAST back onto the
    // per-doc counts — candidates never shuffle on anything wider than
    // (doc_id, bucket)), corpus statistics are two bounded aggregations,
    // and the top-k is a sort of doc-count rows. Target = src13 docs;
    // candidates = everything else; top 100 by (score, doc_id).
    Q("q_dsir_select", {
      val bucket = s"(${nib("md5(tok)", 1)} * 16 + ${nib("md5(tok)", 2)})"
      s"""WITH t AS (SELECT doc_id, source,
         |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> length(x) > 0)) AS tok
         |  FROM documents),
         |b AS (SELECT doc_id, source, CAST($bucket AS INT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM t GROUP BY 1, 2, 3),
         |r AS (SELECT bucket,
         |    (sum(CASE WHEN source = 'src13' THEN cnt ELSE 0 END) + 1)
         |      * 1000000 // (sum(cnt) + 1) AS ratio
         |  FROM b GROUP BY 1)
         |SELECT doc_id, CAST(sum(cnt * ratio) AS BIGINT) AS score
         |FROM b JOIN r USING (bucket) WHERE source <> 'src13'
         |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 100""".stripMargin
    }) { (s, d) =>
      val bucket = s"(${nib("md5(tok)", 1)} * 16 + ${nib("md5(tok)", 2)})"
      // r15: Scale.fanOutScan on the one-row-group scan was A/B'd and
      // REJECTED (1.93 → 2.44 s bench leg; the two 0.5 s tokenize legs
      // became 32-task stages whose summed task time inflated ~4× — the
      // twin legs do NOT share the fan-out exchange, and 64 concurrent
      // explode tasks thrash one local heap). The overlapped twin legs
      // stay the measured optimum, as in r9.
      val b = documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("source"),
          expr(bucket).cast("int").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      // `b` feeds ratios AND candidates, so the tokenize+hash map side
      // runs twice — but the two runs OVERLAP as concurrent AQE stages
      // (round-9 profile: two ~780 ms single-task stages, wall ≈ one),
      // and persist+count SERIALIZES them for a measured 1.14→1.68 s
      // LOSS at sf0.1. Left duplicated on purpose; on a saturated
      // cluster (no idle cores to hide the twin) persist b — it is
      // bounded at docs×257 rows vs re-tokenizing the corpus.
      val ratios = b.groupBy("bucket")
        .agg(((sum(when(col("source") === "src13", col("cnt")).otherwise(0L)) + 1L)
          * 1000000L).as("num"), (sum(col("cnt")) + 1L).as("den"))
        .select(col("bucket"), expr("num div den").as("ratio"))
      b.where(col("source") =!= "src13")
        .join(broadcast(ratios), Seq("bucket"))
        .groupBy("doc_id").agg(sum(col("cnt") * col("ratio")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(100)
    }
  )
}
