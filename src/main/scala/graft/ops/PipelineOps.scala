package graft.ops

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.Bpe
import graft.text.TextFunctions._

/** Training-data pipeline operators (driver north star): text analysis,
  * deduplication, similarity search, windowed/JSON event analytics —
  * each verifiable against a DuckDB oracle where SQL can express it. */
object PipelineOps {

  // DuckDB-side token array of trimmed text (keeps duplicates).
  private val oToks = "regexp_split_to_array(trim(text), '\\s+')"

  /** Per-row 32-bit value from the md5 of the row's canonical serialization
    * — ONE SQL string evaluated verbatim by Spark AND DuckDB (md5,
    * concat_ws, substr(1-based), instr behave identically; 1-based hex
    * decode via the instr-nibble device proven by q_shard_shuffle). */
  private val RowCheck32: String = {
    val h = "md5(concat_ws('|', CAST(doc_id AS STRING), coalesce(text, ''), coalesce(lang, '')))"
    (1 to 8).map { i =>
      val p = 1L << (4 * (8 - i))
      s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1) * CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")")
  }

  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  private def tokens2chunks(c: org.apache.spark.sql.Column) =
    chunkText(c, size = 256, overlap = 64)

  /** Deterministic CLUSTERED embedding fixture for the IVF recall gates:
    * the raw sf fixtures are UNclustered random vectors (no coarse
    * quantizer can probe few cells there), so each vector is mixed with
    * its (vec_id % 8) anchor — 8 real clusters (in-cluster cos ≈ 0.9,
    * cross ≈ 0) derived from the same table; the gate's ground truth
    * ([[annTruth]]) is computed on the SAME transformed vectors in-Spark,
    * so the oracle booleans stay exact. */
  private[graft] def clusteredEmb(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb0 = Tables(s, d, "embeddings").select("vec_id", "embedding")
    val anchors = emb0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("_g"), col("embedding").as("_anchor"))
    emb0.withColumn("_g", col("vec_id") % 8)
      .join(broadcast(anchors), "_g")
      .select(col("vec_id"),
        zip_with(col("_anchor"), col("embedding"),
          (a, e) => a * lit(1.0) + e * lit(0.35)).as("embedding"))
  }

  /** Brute-force ground truth for the ANN recall gates, [[Staged]] per
    * (source dir, fixture) as a tiny parquet (8 queries × 5 rows): the
    * exact top-k is validation INPUT, not the operator under test, so a
    * measured bench pass pays the probe plus a 40-row join instead of
    * re-running the all-pairs scan inside every gated query (the round-4
    * gate-dominated-bench finding). Production shape: ground truth for a
    * sampled query set is computed once per corpus snapshot and reused
    * across every index/config evaluation. */
  private def annTruth(s: org.apache.spark.sql.SparkSession, d: String,
      fixture: String, emb: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Staged.table(s, (d, fixture), "graft_ann_truth") {
      val e = emb
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 8), k = 5)
        .select("query_id", "neighbor_id")
        .coalesce(1)
    }

  /** Bucketed lineitem/orders, [[Staged]] per source dir: production
    * bucketed tables are written once and joined many times, so only the
    * first run of q_bucketed_join in a session pays the bucketed write.
    * Table names carry a per-dir tag — a global name would be silently
    * OVERWRITTEN by a second source dir while the first dir's memo entry
    * kept serving it (stale data). Returns (lineitemTable, ordersTable). */
  private def bucketedFixture(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) =
    Staged.once(("graft_bucketed", d)) {
      val tag = Integer.toHexString(d.hashCode)
      val li = s"graft_tmp.q_li_bkt_$tag"
      val ord = s"graft_tmp.q_ord_bkt_$tag"
      val root = TempDirs.tempDir("graft_bucketed")
      s.sql("CREATE DATABASE IF NOT EXISTS graft_tmp")
      Scale.writeBucketed(Tables(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        li, s"$root/li", "l_orderkey", 8)
      Scale.writeBucketed(Tables(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        ord, s"$root/ord", "o_orderkey", 8)
      (li, ord)
    }

  val all: Seq[Q] = Seq(

    // ---- batch MERGE-upsert (lakehouse MERGE INTO semantics) --------------
    // Matched keys take the update, base-only rows persist, update-only
    // keys insert; one key-keyed shuffle per side (zero if pre-bucketed).
    // Fixture: every doc_id%3==0 doc arrives re-texted; %7==0 docs are
    // missing from the base, so all three actions occur.
    Q("q_merge_upsert",
      """WITH base AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0),
        |upd AS (SELECT doc_id, upper(text) AS text, source FROM documents
        |        WHERE doc_id % 3 = 0)
        |SELECT coalesce(b.doc_id, u.doc_id) AS doc_id,
        |  CASE WHEN u.doc_id IS NOT NULL THEN u.text ELSE b.text END AS text,
        |  CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE b.source END AS source,
        |  CASE WHEN u.doc_id IS NOT NULL AND b.doc_id IS NOT NULL THEN 'updated'
        |       WHEN b.doc_id IS NULL THEN 'inserted'
        |       ELSE 'kept' END AS action
        |FROM base b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents").select("doc_id", "text", "source")
      Scale.mergeUpsert(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 3 === 0)
          .withColumn("text", upper(col("text"))),
        Seq("doc_id"))
    },

    // ---- CDC-log replay with deletes (the other half of MERGE) ------------
    // The events stream read as a change log: op = delete for
    // event_id % 10 = 9, upsert otherwise; keys replay in (ts, event_id)
    // order, last writer wins, and a key whose final op is a delete
    // drops out of the snapshot. ONE key-partitioned window, no join —
    // the Debezium/Delta CDC snapshot-compaction shape.
    Q("q_cdc_apply",
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
      val log = Tables(s, d, "events").select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"),
        when(col("event_id") % 10 === 9, "D").otherwise("U").as("op"))
      Scale.applyCdcLog(log, Seq("user_id"), "op", "D", Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type").as("last_type"),
          col("value").as("last_value"), col("n_ops"),
          unix_micros(col("ts")).as("last_us"))
    },

    // ---- data-quality expectation suite (Deequ-style, one scan) -----------
    // Five constraint kinds over orders; metrics are exact count ratios so
    // the double division is reproducible bit-for-bit in both engines.
    Q("q_expectations",
      """SELECT 'completeness' AS check_name, 'o_orderpriority' AS col_name,
        |  CAST(count(o_orderpriority) AS DOUBLE)/count(*) AS metric,
        |  CAST(1.0 AS DOUBLE) AS threshold,
        |  CAST(count(o_orderpriority) AS DOUBLE)/count(*) >= CAST(1.0 AS DOUBLE) AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'uniqueness', 'o_orderkey',
        |  CAST(count(DISTINCT o_orderkey) AS DOUBLE)/count(o_orderkey),
        |  CAST(1.0 AS DOUBLE),
        |  CAST(count(DISTINCT o_orderkey) AS DOUBLE)/count(o_orderkey) >= CAST(1.0 AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'in_range', 'o_totalprice',
        |  CAST(count(CASE WHEN o_totalprice >= 800.0 AND o_totalprice <= 600000.0 THEN 1 END) AS DOUBLE)/count(o_totalprice),
        |  CAST(0.95 AS DOUBLE),
        |  CAST(count(CASE WHEN o_totalprice >= 800.0 AND o_totalprice <= 600000.0 THEN 1 END) AS DOUBLE)/count(o_totalprice) >= CAST(0.95 AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'in_set', 'o_orderstatus',
        |  CAST(count(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END) AS DOUBLE)/count(o_orderstatus),
        |  CAST(1.0 AS DOUBLE),
        |  CAST(count(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 END) AS DOUBLE)/count(o_orderstatus) >= CAST(1.0 AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'matches_regex', 'o_orderpriority',
        |  CAST(count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 END) AS DOUBLE)/count(o_orderpriority),
        |  CAST(1.0 AS DOUBLE),
        |  CAST(count(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 END) AS DOUBLE)/count(o_orderpriority) >= CAST(1.0 AS DOUBLE)
        |FROM orders""".stripMargin) { (s, d) =>
      Expectations.validate(Tables(s, d, "orders"), Seq(
        Expectations.Complete("o_orderpriority"),
        Expectations.Unique("o_orderkey"),
        Expectations.InRange("o_totalprice", 800.0, 600000.0, 0.95),
        Expectations.InSet("o_orderstatus", Seq("F", "O", "P")),
        Expectations.MatchesRegex("o_orderpriority", "^[1-5]-[A-Z ]+$")))
    },

    // ---- CDC snapshot diff (added / removed / changed) --------------------
    // Delta-sized output: unchanged rows never leave the join. Fixture:
    // old = docs with id%7!=0, new = docs with id%5!=0 re-texted when
    // id%3==0 — so adds (%7==0, %5!=0), removes (%5==0, %7!=0), changes
    // (%3==0 in both), and drops (rest in both) all occur. The oracle's
    // IS-NULL-on-key presence test is sound there because doc_id is a
    // non-null key; the operator itself uses explicit presence markers.
    Q("q_snapshot_diff",
      """WITH oldsnap AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0),
        |newsnap AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS text, source
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |  CASE WHEN n.doc_id IS NOT NULL THEN n.text ELSE o.text END AS text,
        |  CASE WHEN n.doc_id IS NOT NULL THEN n.source ELSE o.source END AS source,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change
        |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
        |   OR (o.text IS DISTINCT FROM n.text)
        |   OR (o.source IS DISTINCT FROM n.source)""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents").select("doc_id", "text", "source")
      Scale.snapshotDiff(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 3 === 0, upper(col("text")))
              .otherwise(col("text"))),
        Seq("doc_id"))
    },

    // ---- SCD Type-2 dimension history -------------------------------------
    // orders as the change feed: custkey's order-status history. Same-day
    // ties broken by orderkey in BOTH engines; re-delivered no-change
    // events collapse into one version span.
    Q("q_scd2_history",
      """WITH ev AS (SELECT o_custkey AS custkey, o_orderstatus AS status,
        |              o_orderdate AS ts, o_orderkey AS seq FROM orders),
        |mark AS (SELECT *, (lag(ts) OVER w IS NULL) AS first,
        |           lag(status) OVER w AS prev
        |         FROM ev WINDOW w AS (PARTITION BY custkey ORDER BY ts, seq)),
        |surv AS (SELECT custkey, status, ts, seq FROM mark
        |         WHERE first OR (status IS DISTINCT FROM prev))
        |SELECT custkey, status, ts AS eff_from,
        |  lead(ts) OVER w AS eff_to,
        |  (lead(ts) OVER w IS NULL) AS is_current
        |FROM surv WINDOW w AS (PARTITION BY custkey ORDER BY ts, seq)""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "orders").select(
        col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("ts"), col("o_orderkey").as("seq"))
      Scale.scdType2(ev, Seq("custkey"), Seq("status"), "ts", "seq")
    },

    // ---- order-independent table checksums (replication validation) -------
    // The cross-cluster "did the copy arrive intact" primitive: a per-
    // group COMMUTATIVE checksum (sum of per-row md5-derived 32-bit
    // values — order/partitioning can't change it) + row count. The
    // expression is ONE shared SQL string both engines evaluate verbatim
    // (instr-nibble hex decode, the q_shard_shuffle device). BIGINT holds
    // ~2^31 rows; promote the sum to DECIMAL beyond that.
    Q("q_table_checksum", {
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum($RowCheck32) AS BIGINT) AS checksum
         |FROM documents GROUP BY source""".stripMargin
    }) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(RowCheck32)).cast("long").as("checksum"))
    },

    // ---- sequence packing via distributed prefix sum ----------------------
    // The oracle's window SUM() OVER (ORDER BY doc_id) is exactly the
    // formulation the operator must NOT use at scale (single-reducer
    // sort); Scale.prefixSum computes the identical exact bigint offsets
    // with a two-pass range-partitioned plan. ScaleSpec asserts the
    // equivalence on adversarial partition counts.
    Q("q_seq_pack",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($oToks) AS BIGINT) AS n_tok FROM documents),
         |o AS (SELECT doc_id, n_tok,
         |    CAST(coalesce(SUM(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tok_offset
         |  FROM t)
         |SELECT doc_id, n_tok, tok_offset,
         |  tok_offset // 2048 AS seq_id_first,
         |  (tok_offset + greatest(n_tok, 1) - 1) // 2048 AS seq_id_last
         |FROM o""".stripMargin) { (s, d) =>
      Scale.packSequences(Tables(s, d, "documents"), "doc_id",
        tokenCount(col("text")), seqLen = 2048L)
    },

    // ---- token counting (whitespace + subword approximation) --------------
    Q("q_token_count",
      s"""SELECT doc_id,
         |  len($oToks) AS n_tokens,
         |  len(list_distinct($oToks)) AS n_uniq_tokens,
         |  list_sum(list_transform($oToks, t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INT)))) AS n_subwords
         |FROM documents""".stripMargin) { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        uniqTokenCount(col("text")).as("n_uniq_tokens"),
        subwordCount(col("text")).cast("long").as("n_subwords"))
    },

    // ---- quality scoring: integer signal counts ---------------------------
    Q("q_text_quality",
      s"""SELECT doc_id,
         |  length(text) AS n_chars,
         |  len($oToks) AS n_tokens,
         |  len(list_distinct($oToks)) AS n_uniq_tokens,
         |  list_sum(list_transform($oToks, t -> length(t))) AS n_token_chars,
         |  len(list_filter($oToks, t -> t IN ${inList(StopwordsEn)})) AS n_stopwords
         |FROM documents""".stripMargin) { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        tokenCount(col("text")).as("n_tokens"),
        uniqTokenCount(col("text")).as("n_uniq_tokens"),
        tokenCharCount(col("text")).cast("long").as("n_token_chars"),
        wordListHits(col("text"), StopwordsEn).cast("long").as("n_stopwords"))
    },

    // ---- language ID: argmax of per-language stopword hits ----------------
    Q("q_lang_id", {
      val hits = LangWordlists.map { case (l, ws) =>
        s"len(list_filter($oToks, t -> t IN ${inList(ws)})) AS hits_$l"
      }.mkString(", ")
      val langs = LangWordlists.map(_._1)
      val m = s"greatest(${langs.map("hits_" + _).mkString(", ")})"
      val firstMax = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
      s"""SELECT doc_id, lang,
         |  CASE WHEN $m = 0 THEN 'und' $firstMax END AS lang_pred
         |FROM (SELECT doc_id, lang, $hits FROM documents)""".stripMargin
    }) { (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
    },

    // ---- language-ID confusion matrix vs the metadata label ---------------
    // The evaluation report for the n-gram classifier above: per (true
    // lang, predicted lang) cell counts and the cell's share of its true
    // language in ppm — the matrix a curation run reads before trusting
    // lang-ID routing (which languages bleed into which, how much 'und'
    // each produces). Same oracle-side argmax spelling as q_lang_id, one
    // tiny-key groupBy + a label-sized totals join.
    Q("q_langid_confusion", {
      val hits = LangWordlists.map { case (l, ws) =>
        s"len(list_filter($oToks, t -> t IN ${inList(ws)})) AS hits_$l"
      }.mkString(", ")
      val langs = LangWordlists.map(_._1)
      val m = s"greatest(${langs.map("hits_" + _).mkString(", ")})"
      val firstMax = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
      s"""WITH p AS (SELECT doc_id, lang,
         |    CASE WHEN $m = 0 THEN 'und' $firstMax END AS lang_pred
         |  FROM (SELECT doc_id, lang, $hits FROM documents)),
         |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM p GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM c GROUP BY 1)
         |SELECT c.lang, c.lang_pred, c.n_docs, t.n_lang,
         |  CAST((c.n_docs * 1000000) // t.n_lang AS BIGINT) AS cell_ppm
         |FROM c JOIN t USING (lang)""".stripMargin
    }) { (s, d) =>
      // the langId kernel is the wall (r15 profile: one 2.76 s single-task
      // stage — the sf0.1 fixture is one parquet row group, so the scan
      // cannot split); fan the two projected columns out to the cores
      // before the kernel runs (guide §2.5). Identity at real scale.
      val p = Scale.fanOutScan(Tables(s, d, "documents").select("lang", "text"))
        .select(col("lang"), langId(col("text")).as("lang_pred"))
      // per-language totals via a window over the CELL frame (≤ langs ×
      // preds rows), not a groupBy+join-back — the join-back shape
      // re-evaluates the aggregation subtree (two langId kernel scans)
      // whenever exchange reuse doesn't kick in; the window is
      // guaranteed one-scan (hash-identical result, selfcheck-verified)
      val c = p.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
        .withColumn("n_lang",
          sum(col("n_docs")).over(Window.partitionBy("lang")))
      c.select(col("lang"), col("lang_pred"), col("n_docs"), col("n_lang"),
        expr("(n_docs * 1000000L) div n_lang").as("cell_ppm"))
    },

    // ---- document fingerprint: xxhash64 digests have no DuckDB
    //      equivalent, but their PURITY contract does — every distinct
    //      text maps to exactly one (fingerprint, simhash) pair ------------
    Q("q_fingerprint",
      """SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
        |  true AS fp_pure FROM documents""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("text"),
          fingerprint(col("text")).as("fp"),
          simhash64(tokens(col("text"))).as("sh"))
        .groupBy("text")
        .agg(countDistinct(col("fp")).as("nf"), countDistinct(col("sh")).as("ns"))
        .agg(count(lit(1)).as("n_texts"),
          (max(col("nf")) === 1 && max(col("ns")) === 1).as("fp_pure"))
    },

    // ---- exact dedup (normalized text, keep min id) -----------------------
    // Runs on the long-tail SynthText corpus (round 8): every 5-doc group
    // plants one verbatim-identical pair (members 0 and 4), so the
    // duplicate branch is exercised against a regenerable oracle instead
    // of whatever repeats the natural fixture happens to contain.
    Q("q_dedup_exact",
      raw"""WITH ${SynthText.duckCte}
         |SELECT lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_text,
         |  min(doc_id) AS doc_id, count(*) AS n_copies
         |FROM sdocs GROUP BY 1""".stripMargin) { (s, d) =>
      Dedup.exact(SynthText.docs(s, d), "doc_id", "text")
        .select("norm_text", "doc_id", "n_copies")
    },

    // ---- content-hash dedup groups ----------------------------------------
    Q("q_dedup_hash",
      raw"""WITH ${SynthText.duckCte}
         |SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM sdocs GROUP BY 1""".stripMargin) { (s, d) =>
      Dedup.contentHash(SynthText.docs(s, d), "doc_id", "text")
    },

    // ---- document chunking: overlapping context-window slices -------------
    Q("q_chunk",
      """WITH n AS (SELECT doc_id, text,
        |    greatest(CAST(ceil((length(text) - 64) / 192.0) AS INT), 1) AS k
        |  FROM documents),
        |u AS (SELECT doc_id, text, unnest(generate_series(0, k - 1)) AS i FROM n)
        |SELECT doc_id, i AS chunk_idx,
        |  substr(text, CAST(i*192 + 1 AS INT), 256) AS chunk
        |FROM u""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          posexplode(tokens2chunks(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col").as("chunk"))
    },

    // ---- keep-best dedup: canonical representative per content group ------
    Q("q_dedup_keep_best",
      raw"""WITH ${SynthText.duckCte}
         |SELECT content_hash, keep_id, text_len, n_copies FROM (
         |  SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
         |    doc_id AS keep_id, length(text) AS text_len,
         |    count(*) OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_copies,
         |    row_number() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
         |      ORDER BY length(text) DESC, doc_id ASC) AS rn
         |  FROM sdocs)
         |WHERE rn = 1""".stripMargin) { (s, d) =>
      Dedup.keepBest(SynthText.docs(s, d), "doc_id", "text")
    },

    // ---- MinHash-LSH near-dup, exact-Jaccard confirmed at 0.8 -------------
    // Oracle = ground-truth all-pairs Jaccard; the LSH path must reach
    // recall ~1 at the threshold. 64 hashes × 32 bands of 2: 4-row bands
    // (16×4) missed 2 of 18998 true pairs at sf1 — P(miss | j=0.8) =
    // (1-0.8^4)^16 ≈ 2e-4 per threshold pair, invisible at graded scales
    // but structural at 19k pairs, caught by the exact ppjoin scale
    // oracle. 2-row bands put the per-pair miss probability at
    // (1-0.64)^32 ≈ 5e-15 — recall is by construction, not fixture luck
    // (the delta family already ran 2-row bands for the same reason).
    // Runs on the
    // SynthText corpus (round 8): each group's single-word perturbations
    // put 3-word-shingle Jaccard on BOTH sides of the 0.8 cut depending
    // on document length, so the threshold itself is exercised — not just
    // the identical-pair fast path.
    Q("q_dedup_minhash",
      raw"""WITH ${SynthText.duckCte},
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
         |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
         |  FROM sdocs)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id
         |  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8""".stripMargin) { (s, d) =>
      Dedup.nearDupMinhash(SynthText.docs(s, d), "doc_id", "text",
        threshold = 0.8, k = 3, numHashes = 64, bands = 32)
    }.atScale("ppjoin-replay",
      raw"""WITH ${SynthText.duckCte},
         |${ScaleOracles.wordShingleCte("sdocs")},
         |${ScaleOracles.ppjoinPairCtes(4, 5)}
         |SELECT id_a, id_b, jaccard FROM p""".stripMargin),

    // ---- near-dup CLUSTERS: pairs → connected components → cluster ids ----
    // Pair lists alone don't dedup a corpus; Hash-Min label propagation
    // forms the clusters. Oracle = DuckDB recursive CTE over the same
    // all-pairs-jaccard ground truth.
    Q("q_dedup_clusters",
      raw"""WITH RECURSIVE ${SynthText.duckCte},
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
         |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
         |  FROM sdocs),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.v, reach.label FROM reach JOIN e ON reach.id = e.u),
        |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster
        |FROM sdocs d LEFT JOIN comp ON d.doc_id = comp.id""".stripMargin) { (s, d) =>
      Dedup.dedupClusters(SynthText.docs(s, d), "doc_id", "text",
        threshold = 0.8, k = 3, numHashes = 64, bands = 32)
    }.atScale("ppjoin-replay+cc",
      raw"""WITH RECURSIVE ${SynthText.duckCte},
         |${ScaleOracles.wordShingleCte("sdocs")},
         |${ScaleOracles.ppjoinPairCtes(4, 5)},
         |e AS (SELECT id_a AS u, id_b AS v FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(id, label) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT e.v, reach.label FROM reach JOIN e ON reach.id = e.u),
         |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster
         |FROM sdocs d LEFT JOIN comp ON d.doc_id = comp.id""".stripMargin),

    // ---- near-dup cluster CANONICAL SELECTION: clusters → one keeper ------
    // The step that actually shrinks a corpus: after clustering, keep ONE
    // representative per near-dup cluster (longest text, ties to the
    // smallest id — the q_dedup_keep_best policy lifted from exact-hash
    // groups to LSH clusters). Selection is a single max(struct) agg per
    // cluster — no window, no second shuffle beyond the cluster key; the
    // survivors table + per-cluster member/char counts is the audit a
    // dedup run publishes. Oracle = the cluster recursive CTE + the same
    // deterministic rank pick.
    Q("q_dedup_cluster_keep_best",
      raw"""WITH RECURSIVE ${SynthText.duckCte},
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
         |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
         |  FROM sdocs),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, label) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.v, reach.label FROM reach JOIN e ON reach.id = e.u),
        |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
        |cl AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster,
        |    length(d.text) AS tl
        |  FROM sdocs d LEFT JOIN comp ON d.doc_id = comp.id),
        |r AS (SELECT cluster, doc_id, tl,
        |    row_number() OVER (PARTITION BY cluster ORDER BY tl DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY cluster) AS n_members,
        |    sum(tl) OVER (PARTITION BY cluster) AS total_chars
        |  FROM cl)
        |SELECT cluster, doc_id AS keep_id, CAST(tl AS BIGINT) AS keep_len,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  CAST(total_chars AS BIGINT) AS total_chars
        |FROM r WHERE rn = 1""".stripMargin) { (s, d) =>
      Dedup.clusterKeepBest(SynthText.docs(s, d), "doc_id", "text",
        threshold = 0.8, k = 3, numHashes = 64, bands = 32)
    }.atScale("ppjoin-replay+cc",
      raw"""WITH RECURSIVE ${SynthText.duckCte},
         |${ScaleOracles.wordShingleCte("sdocs")},
         |${ScaleOracles.ppjoinPairCtes(4, 5)},
         |e AS (SELECT id_a AS u, id_b AS v FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(id, label) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT e.v, reach.label FROM reach JOIN e ON reach.id = e.u),
         |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
         |cl AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS cluster,
         |    length(d.text) AS tl
         |  FROM sdocs d LEFT JOIN comp ON d.doc_id = comp.id),
         |r AS (SELECT cluster, doc_id, tl,
         |    row_number() OVER (PARTITION BY cluster ORDER BY tl DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS n_members,
         |    sum(tl) OVER (PARTITION BY cluster) AS total_chars
         |  FROM cl)
         |SELECT cluster, doc_id AS keep_id, CAST(tl AS BIGINT) AS keep_len,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(total_chars AS BIGINT) AS total_chars
         |FROM r WHERE rn = 1""".stripMargin),

    // ---- per-language quality gate (CCNet-shape): median cut by lang ------
    // Quality thresholds are NOT comparable across languages (stopword
    // density, script, tokenization all shift the distribution), so the
    // production filter buckets per language and cuts at a per-language
    // statistic — here the exact LOWER MEDIAN of an integer stopword-
    // density score (basis points; the value at rank ceil(n/2) is
    // order-independent even with ties). Report per language: doc count,
    // survivors at score >= median, surviving mass, and the cut used.
    // Two shuffles total (per-doc score is map-side; median pick + final
    // rollup key on `lang`). At 100 TB the median comes from the same
    // exact rank pick over a per-language sort — or approx_percentile if
    // a 1e-3 cut tolerance is acceptable.
    Q("q_lang_quality_filter",
      s"""WITH q AS (SELECT doc_id, lang, length(text) AS nc,
         |    CAST((len(list_filter($oToks, t -> t IN ${inList(StopwordsEn)})) * 10000)
         |      // greatest(len($oToks), 1) AS BIGINT) AS score_bp
         |  FROM documents),
         |m AS (SELECT lang, score_bp AS med_bp FROM (
         |    SELECT lang, score_bp,
         |      row_number() OVER (PARTITION BY lang ORDER BY score_bp, doc_id) AS rn,
         |      count(*) OVER (PARTITION BY lang) AS n
         |    FROM q) WHERE rn = (n + 1) // 2)
         |SELECT q.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN score_bp >= med_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN score_bp >= med_bp THEN nc ELSE 0 END) AS BIGINT) AS kept_chars,
         |  CAST(min(med_bp) AS BIGINT) AS med_bp
         |FROM q JOIN m ON q.lang = m.lang GROUP BY q.lang""".stripMargin) { (s, d) =>
      val q = Tables(s, d, "documents").select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("nc"),
        (wordListHits(col("text"), StopwordsEn).cast("long") * 10000L).as("_hits_sc"),
        greatest(tokenCount(col("text")).cast("long"), lit(1L)).as("_ntok"))
        .select(col("doc_id"), col("lang"), col("nc"),
          expr("CAST(_hits_sc div _ntok AS BIGINT)").as("score_bp"))
      val wMed = Window.partitionBy("lang").orderBy("score_bp", "doc_id")
      val m = q.withColumn("rn", row_number().over(wMed))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .where(col("rn") === expr("(n + 1) div 2")) // lower median rank, exact
        .select(col("lang"), col("score_bp").as("med_bp"))
      q.join(m, "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score_bp") >= col("med_bp"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("score_bp") >= col("med_bp"), col("nc")).otherwise(0L)).as("kept_chars"),
          min(col("med_bp")).as("med_bp"))
    },

    // ---- sequence-packing efficiency: naive vs packed, per source ---------
    // The budgeting report before a packing run (q_seq_pack does the
    // packing itself): per source, how many 256-subword training
    // sequences does naive one-doc-per-sequence padding cost vs
    // concat-and-chunk packing, and the ppm saved. Pure per-doc map +
    // one groupBy(source) — integer ceilings only.
    Q("q_pack_efficiency",
      s"""WITH t AS (SELECT source,
         |    coalesce(list_sum(list_transform($oToks,
         |      t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INT)))), 0) AS sw
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(sw) AS BIGINT) AS total_subwords,
         |  CAST(sum((sw + 255) // 256) AS BIGINT) AS naive_seqs,
         |  CAST((sum(sw) + 255) // 256 AS BIGINT) AS packed_seqs,
         |  CAST(((sum((sw + 255) // 256) - (sum(sw) + 255) // 256) * 1000000)
         |    // sum((sw + 255) // 256) AS BIGINT) AS saved_ppm
         |FROM t GROUP BY source""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("source"),
          coalesce(subwordCount(col("text")).cast("long"), lit(0L)).as("sw"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("sw")).as("total_subwords"),
          sum(expr("(sw + 255) div 256")).as("naive_seqs"),
          expr("(sum(sw) + 255) div 256").as("packed_seqs"))
        .withColumn("saved_ppm",
          expr("((naive_seqs - packed_seqs) * 1000000) div naive_seqs"))
    },

    // ---- SimHash near-dup: banding is provably lossless at Hamming≤3, so
    // the check is set EQUALITY against the all-pairs ground truth --------
    Q("q_dedup_simhash",
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS sets_match FROM documents") { (s, d) =>
      Dedup.simhashRecallCheck(Tables(s, d, "documents"), "doc_id", "text", maxHamming = 3)
    },

    // ---- char-3-gram Jaccard near-dup (MinHash-LSH over char n-grams) -----
    Q("q_dedup_ngram",
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 2, 1)),
        |    i -> text[i:i+2])) AS g
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
        |FROM g a, g b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8""".stripMargin) { (s, d) =>
      // char-3-grams of random docs share j≈0.46 at the median, so the
      // banding must be far steeper than the word-shingle case: 8 rows per
      // band keeps the random-pair candidate rate ~3% while missing a
      // true j≥0.93 pair with P≈2e-6 (measured on the sf0.01 corpus).
      Dedup.nearDupCharNgram(Tables(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, n = 3, numHashes = 128, bands = 16)
    }.atScale("bitset-replay",
      // char-3-grams defeat the prefix filter (vocab ~1000 at sf1, so
      // prefix tokens collide massively: Σdf² ≈ 3.7e9 candidates) — but
      // that same tiny vocabulary makes an exact BITSET encoding cheap:
      // one bit per vocabulary gram, |∩| = bit_count(a & b) natively.
      // All-pairs survives only the integer length filter; 426 s at sf1
      // vs intractable list_intersect all-pairs. The 16384-slot bound is
      // a loud error if a corpus ever exceeds it, never a wrong answer.
      """WITH g0 AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 2, 1)),
        |    i -> text[i:i+2])) AS g
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(g) AS gram FROM g0),
        |vocab AS (SELECT gram, CAST(row_number() OVER (ORDER BY gram) - 1 AS INTEGER) AS vid
        |  FROM (SELECT DISTINCT gram FROM tok)),
        |bits AS (SELECT doc_id, len(any_value(g0.g)) AS n,
        |    bitstring_agg(vid, 0, 16383) AS bs
        |  FROM tok JOIN vocab USING (gram) JOIN g0 USING (doc_id)
        |  GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(a.bs & b.bs) AS DOUBLE)
        |      / (a.n + b.n - bit_count(a.bs & b.bs)) AS jaccard
        |  FROM bits a JOIN bits b
        |    ON a.doc_id < b.doc_id
        |   AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8""".stripMargin),

    // ---- embedding-cosine near-dup, GROUND-TRUTH companion ----------------
    // All-pairs by definition (broadcast-NLJ is the point): this is the
    // oracle/validation variant, never the recommended operator — the scale
    // path is q_dedup_embed_lsh below, whose recall is gated against this.
    Q("q_dedup_embed_groundtruth",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i])))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]))))
        |    >= 0.45""".stripMargin) { (s, d) =>
      Dedup.nearDupEmbedding(Tables(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.45)
    }.atScale("native-cosine",
      // same all-pairs scan, but through DuckDB's vectorized cosine
      // kernel instead of per-element SQL lambdas (16 s vs hours at
      // 20k×64; double math either way)
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin),

    // ---- embedding-cosine near-dup, LSH scale path + recall gate ----------
    // Parameters auto-size from (corpus count, threshold) — Dedup.lshParams
    // targets ~16 random vectors per bucket and then buys tables back up
    // to the recall floor, so the candidate volume tracks the
    // sub-quadratic LSH curve at every scale point.
    // Output: (n_exact, recall_ok) — n_exact recomputed by the oracle's
    // all-pairs SQL, recall_ok asserts the LSH path recovers ≥90% of it.
    Q("q_dedup_embed_lsh",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*a.v[i])))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(b.v)), i -> b.v[i]*b.v[i]))))
        |    >= 0.45""".stripMargin) { (s, d) =>
      // exact all-pairs ground truth, Staged per source dir (the
      // annTruth license): the gate then costs the LSH probe plus a
      // pair-set join, not an O(n²) rescan per measured pass.
      // TRUTH SAMPLING past 20k vectors: the ground-truth side is
      // all-pairs by definition, so at 200k vectors (the sf10e gate) it
      // alone cost >600 s while the operational LSH path stayed linear —
      // the recall ESTIMATE doesn't need the full truth, only an unbiased
      // pair sample. vec_id % m == 0 with m = ceil(n/20000) caps the
      // truth at ~20k vectors (so ~sf1 cost at ANY corpus size) and keeps
      // >=150 true pairs for the 0.9 gate (binomial sd ~2%). m == 1 at
      // every graded scale — bit-identical results there; the LSH path
      // itself ALWAYS runs on the full corpus (pairs outside the sample
      // simply don't intersect the sampled truth).
      val exact = Staged.table(s, d, "graft_embed_truth") {
        val emb = Tables(s, d, "embeddings")
        val m = math.max(1L, math.ceil(emb.count() / 20000.0).toLong)
        Dedup.nearDupEmbedding(emb.filter(col("vec_id") % m === 0),
            "vec_id", "embedding", threshold = 0.45)
          .coalesce(1)
      }
      // bits/tables auto-size from the corpus count (Dedup.lshParams):
      // the old 4-bit/24-table pin was a measured scale cliff — 1.7 s at
      // 2 k vectors, 23 s at 20 k (candidates ~ n²/2^bits at fixed bits)
      Dedup.embedLshRecallFrom(exact,
        Tables(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, dim = 64, bits = 0, tables = 0, minRecall = 0.9)
    }.atScale("native-cosine-sampled",
      // mirrors the engine's truth-sampling rule (m = ceil(n/20000),
      // m == 1 at graded scales) with the vectorized cosine kernel
      """WITH mm AS (SELECT greatest(1, CAST(ceil(count(*) / 20000.0) AS BIGINT)) AS m
        |  FROM embeddings),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings, mm WHERE vec_id % mm.m = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin),

    // ---- ANN: brute-force cosine top-5 (ids only → float-robust) ----------
    Q("q_ann_bruteforce",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS nid, q.embedding AS qe, c.embedding AS ce
        |          FROM q, embeddings c WHERE c.vec_id <> q.vec_id),
        |dots AS (SELECT qid, nid,
        |  list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(ce[i] AS DOUBLE))) AS dot,
        |  list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) AS qq,
        |  list_sum(list_transform(generate_series(1, len(ce)), i -> CAST(ce[i] AS DOUBLE)*CAST(ce[i] AS DOUBLE))) AS cc
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT qid AS query_id, nid AS neighbor_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, nid) AS rank
        |  FROM dots)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
        .select("query_id", "rank", "neighbor_id")
    },

    // ---- filtered vector search: label-constrained top-k ------------------
    // The vector-DB "metadata filter" semantics: each query retrieves
    // only among candidates with ITS OWN label (same-language /
    // same-tenant retrieval). The filter is an equi-join key, so it
    // prunes the candidate stream BEFORE any dot product — at 100 TB
    // this turns a corpus scan per query into a label-partition scan
    // (and composes with the IVF cell pruning the indexed path uses).
    // Output ids only (float-robust, the q_ann_bruteforce device).
    Q("q_ann_filtered",
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 8),
        |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    q.embedding AS qe, c.embedding AS ce
        |  FROM q, embeddings c WHERE c.label = q.label AND c.vec_id <> q.vec_id),
        |dots AS (SELECT qid, nid,
        |  list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(ce[i] AS DOUBLE))) AS dot,
        |  list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) AS qq,
        |  list_sum(list_transform(generate_series(1, len(ce)), i -> CAST(ce[i] AS DOUBLE)*CAST(ce[i] AS DOUBLE))) AS cc
        |  FROM pairs)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT qid AS query_id, nid AS neighbor_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, nid) AS rank
        |  FROM dots)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label"))
      val pairs = emb.select(col("vec_id").as("nid"),
          col("embedding").as("ce"), col("label"))
        .join(broadcast(q), "label")
        .filter(col("nid") =!= col("qid"))
      val scored = pairs.select(col("qid"), col("nid"),
        expr("""aggregate(zip_with(qe, ce,
              |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, e) -> a + e)
              |/ (sqrt(aggregate(qe, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              | * sqrt(aggregate(ce, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"""
          .stripMargin).as("cos"))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))))
        .where(col("rank") <= 5)
        .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
          col("nid").as("neighbor_id"))
    },

    // ---- embedding int8 quantization: per-vector symmetric codes ----------
    // The 4x compression lever for an embedding corpus. Emitted as exact
    // integer code statistics (sum, squared norm, saturation count) plus
    // the fixed-point reconstruction error, so the oracle proves the full
    // code vector without hash-comparing array serialization.
    Q("q_embed_quantize",
      """WITH z AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, embedding, maxabs,
        |    CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INTEGER))
        |    END AS qv
        |  FROM z)
        |SELECT vec_id, maxabs,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS q_norm2,
        |  CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_sat,
        |  CAST(list_sum(list_transform(generate_series(1, len(qv)),
        |    i -> CAST(floor(abs(CAST(embedding[i] AS DOUBLE) - qv[i] * (maxabs / 127.0))
        |      * 10000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS err_fp
        |FROM qz""".stripMargin) { (s, d) =>
      Ann.quantizeInt8(Tables(s, d, "embeddings"), "vec_id", "embedding")
        .join(Tables(s, d, "embeddings").select("vec_id", "embedding"), "vec_id")
        .select(col("vec_id"), col("maxabs"),
          expr("aggregate(qvec, 0L, (acc, x) -> acc + x)").as("q_sum"),
          expr("aggregate(qvec, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)")
            .as("q_norm2"),
          expr("CAST(size(filter(qvec, x -> abs(x) >= 127)) AS BIGINT)").as("n_sat"),
          expr("""aggregate(zip_with(embedding, qvec,
                |  (x, q) -> CAST(floor(abs(CAST(x AS DOUBLE) - q * (maxabs / 127.0))
                |    * 10000000.0D + 0.5D) AS BIGINT)), 0L, (acc, e) -> acc + e)"""
            .stripMargin).as("err_fp"))
    },

    // ---- ANN in the quantized domain: exact BIGINT dot products -----------
    // Same broadcast-queries/stream-corpus plan as q_ann_bruteforce; the
    // kernel is an int8 dot (4x the SIMD width of float32 on a real
    // cluster), rescaled by the two per-vector scales. Deterministic and
    // oracle-exact; ranking fidelity vs float cosine is gated separately
    // in q_ann_int8_gate, not benched here.
    Q("q_ann_int8",
      """WITH z AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, maxabs,
        |    CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INTEGER))
        |    END AS qv
        |  FROM z),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
        |      i -> CAST(q.qv[i] AS BIGINT) * c.qv[i])) AS DOUBLE)
        |      * (q.maxabs / 127.0) * (c.maxabs / 127.0) AS score
        |  FROM qz q, qz c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |SELECT query_id, rank, neighbor_id FROM (
        |  SELECT qid AS query_id, nid AS neighbor_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
        |  FROM pairs)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
      Ann.bruteForceTopKInt8(emb, emb.filter(col("vec_id") < 8), k = 5)
        .select("query_id", "rank", "neighbor_id")
    },

    // ---- int8 ANN fidelity gate (Verify-only tier, like the LSH gates) ----
    // Measured overlap vs float cosine top-5 is 4-5 of 5 at sf0.001 and
    // sf0.01; the gate asserts >= 3 per query so quantization regressions
    // fail Verify without the bench paying the double ranking.
    Q("q_ann_int8_gate",
      "SELECT vec_id AS query_id, true AS overlap_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
      Ann.int8RecallGate(emb, emb.filter(col("vec_id") < 8), k = 5, minOverlap = 3)
    },

    // ---- ANN: LSH-bucketed approximate top-5, recall-gated ----------------
    // Output: (query_id, recall_ok) per query — recall@5 vs the in-Spark
    // brute-force ground truth must reach the gate for every query.
    Q("q_ann_lsh",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.lshTopK(emb, queries, k = 5, dim = 64)
      Ann.recallAtKFrom(annTruth(s, d, "raw", emb), approx, minRecall = 0.8)
    },

    // ---- ANN: IVF coarse-quantized top-5, recall-gated --------------------
    // The raw sf fixtures are UNclustered random vectors (neighbor cos≈0.4
    // is extreme-value noise), where no coarse quantizer can probe few
    // cells — so the gate runs on a CLUSTERED fixture derived
    // deterministically from the same table: each vector is mixed with its
    // cluster anchor (vec_id % 8, anchors = vecs 0..7), giving 8 real
    // clusters (in-cluster cos ≈ 0.9, cross ≈ 0). annTruth computes the
    // brute-force ground truth on the SAME transformed vectors in-Spark,
    // so the oracle booleans stay exact. Ann's trained spherical k-means
    // quantizer then passes at nProbe=4 of 16 — the realistic
    // probe ratio for clustered embeddings.
    Q("q_ann_ivf",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.ivfTopK(emb, queries, k = 5, nCells = 16, nProbe = 4)
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- ANN: product quantization + exact re-rank, recall-gated ----------
    // The 32×-compression tier: corpus vectors become m=8 codebook indices
    // (Ann.pqTopK — seeded-deterministic per-subspace Euclidean k-means,
    // codegen'd HOF encode, per-query ADC lookup tables), ADC prunes the
    // corpus to a 50-candidate shortlist per query, and exact cosine
    // re-ranks only the shortlist (Ann.pqTopKReranked — the FAISS-style
    // recipe; raw ADC cannot order in-cluster near-ties, measured ≈0.3
    // recall@5 vs 1.0 re-ranked). Gated like the other approximate tiers
    // on the clustered fixture (PQ on pure-noise vectors would gate
    // nothing — same rationale as q_ann_ivf).
    Q("q_ann_pq",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.pqTopKReranked(emb, queries, k = 5, dim = 64,
        m = 8, ksub = 32)  // shortlist auto-sized from corpus count
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- ANN: IVF-PQ (cells × codes — the composed billion-vector index) --
    // IVF pruning bounds WHICH rows are scored (nProbe=4 of 16 cells), PQ
    // codes bound WHAT each row costs (8 bytes + 8 lookups, no floats in
    // the scan), exact cosine re-ranks the 50-candidate shortlist. Same
    // recall gate as the component tiers on the clustered fixture.
    Q("q_ann_ivfpq",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.ivfPqTopK(emb, queries, k = 5, dim = 64,
        nCells = 16, nProbe = 4, m = 8, ksub = 32)  // auto shortlist
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- ANN: PERSISTED PQ index (build once, probe many) -----------------
    // The buildIvfIndex split applied to the PQ tier: codebook fit +
    // encode paid at build time, probes scan only m-byte code rows and
    // re-rank against stored vectors for the shortlist alone. Recall
    // gated like the in-line PQ.
    Q("q_ann_pq_indexed",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val path = Staged.dir(d, "graft_pq") { w =>
        Ann.buildPqIndex(emb, w, dim = 64, m = 8, ksub = 32)
      }
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.pqTopKIndexed(s, path, queries, k = 5)
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- ANN: PERSISTED IVF index (build once, probe many) ----------------
    // The production split: quantizer fit + cell assignment paid at build
    // time, the corpus laid out PARTITIONED BY cell so a probe batch reads
    // ~nProbe/nCells of the bytes (partition pruning through the broadcast
    // join on the partition column). Recall gated exactly like the
    // in-line IVF query.
    Q("q_ann_ivf_indexed",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val path = Staged.dir(d, "graft_ivf") { w =>
        Ann.buildIvfIndex(emb, w, nCells = 16)
      }
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.ivfTopKIndexed(s, path, queries, k = 5, nProbe = 4)
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- ANN: IVF index APPEND-MERGE (ingest between refits) --------------
    // Completes the index family's symmetry: like the dedup LSH index,
    // the IVF index takes deltas without a rebuild — a base index over
    // vec_id % 3 ≠ 0, a delta of the rest assigned with the EXISTING
    // centroids (no refit — that is the production ingest contract) and
    // appended into the cell partitions; probes of the merged index are
    // recall-gated against the full-corpus exact truth, same gate as
    // q_ann_ivf_indexed.
    Q("q_ann_index_update",
      "SELECT vec_id AS query_id, true AS recall_ok FROM embeddings WHERE vec_id < 8") { (s, d) =>
      val emb = clusteredEmb(s, d)
      val merged = Staged.dir(d, "graft_ivf_v2") { out =>
        val base = TempDirs.tempDir("graft_ivf_base")
        Ann.buildIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), base, nCells = 16)
        Ann.mergeIvfIndex(s, base, emb.filter(col("vec_id") % 3 === 0), out)
      }
      val queries = emb.filter(col("vec_id") < 8)
      val approx = Ann.ivfTopKIndexed(s, merged, queries, k = 5, nProbe = 4)
      Ann.recallAtKFrom(annTruth(s, d, "clustered", clusteredEmb(s, d)),
        approx, minRecall = 0.8)
    },

    // ---- gap-based sessionization (1h gap) --------------------------------
    Q("q_sessionize",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |m AS (SELECT user_id, t,
        |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |      OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 3600000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS session_start, max(t) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Sessionize.sessionStats(
        Tables(s, d, "events").select(col("user_id"), unix_micros(col("ts")).as("t")),
        "user_id", "t", gap = 3600000000L)
    },

    // ---- vocabulary building: token document/corpus frequencies -----------
    Q("q_vocab",
      s"""SELECT tok, count(DISTINCT doc_id) AS doc_freq, count(*) AS corpus_freq
         |FROM (SELECT doc_id, unnest($oToks) AS tok FROM documents)
         |GROUP BY tok""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("doc_freq"),
          count(lit(1)).as("corpus_freq"))
    },

    // ---- as-of join (SQL:2023; no native Spark operator) ------------------
    // For every event, the most recent click by the same user at or before
    // its timestamp. Oracle = DuckDB's native ASOF LEFT JOIN; values pass
    // through unmodified so the float compare is exact.
    Q("q_asof_join",
      """WITH c2 AS (SELECT user_id, ts, event_id, value FROM events
        |            WHERE event_type = 'click')
        |SELECT e.event_id, c2.event_id AS prior_click, c2.value AS prior_value
        |FROM events e ASOF LEFT JOIN c2
        |  ON e.user_id = c2.user_id AND c2.ts <= e.ts""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      AsofJoin.asofJoin(
          ev.select("event_id", "user_id", "ts"), clicks,
          key = "user_id", ts = "ts", rightCols = Seq("event_id", "value"))
        .select(col("event_id"), col("asof_event_id").as("prior_click"),
          col("asof_value").as("prior_value"))
    },

    // ---- bucketized range join (interval containment without a BNLJ) ------
    // Events inside the hour after any signup: the interval side explodes
    // into 1h buckets, the point side probes its single bucket — a hash
    // equi-join, where `BETWEEN` alone would plan a nested-loop join.
    Q("q_range_join",
      """WITH s AS (SELECT epoch_us(ts) AS s0, epoch_us(ts) + 3600000000 AS s1
        |           FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, count(*) AS n_windows
        |FROM events e JOIN s ON epoch_us(e.ts) BETWEEN s.s0 AND s.s1
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "events")
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(unix_micros(col("ts")).as("s0"),
          (unix_micros(col("ts")) + 3600000000L).as("s1"))
      Scale.rangeJoin(points, windows, "t", "s0", "s1", width = 3600000000L)
        .groupBy("event_id").agg(count(lit(1)).as("n_windows"))
    },

    // ---- the SAME range join written naively, fixed by the injected rule --
    // The BETWEEN predicate alone would plan a BroadcastNestedLoopJoin;
    // with RangeJoinBucketRule active (session-local conf on a cloned
    // session) the optimizer rewrites it to the bucketized hash equi-join
    // automatically — same oracle as q_range_join, zero manual bucketing.
    Q("q_range_join_auto",
      """WITH s AS (SELECT epoch_us(ts) AS s0, epoch_us(ts) + 3600000000 AS s1
        |           FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, count(*) AS n_windows
        |FROM events e JOIN s ON epoch_us(e.ts) BETWEEN s.s0 AND s.s1
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val s2 = s.newSession() // conf isolation: rule on, width set
      graft.GraftExtensions.register(s2)
      s2.conf.set(graft.plans.RangeJoinBucketRule.WidthConf, "3600000000")
      val ev = Tables(s2, d, "events")
      val points = ev.select(col("event_id"), unix_micros(col("ts")).as("t"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(unix_micros(col("ts")).as("s0"),
          (unix_micros(col("ts")) + 3600000000L).as("s1"))
      points.join(windows, col("t") >= col("s0") && col("t") <= col("s1"))
        .groupBy("event_id").agg(count(lit(1)).as("n_windows"))
    },

    // ---- window functions over events (superset; SURVEY §2.5) -------------
    Q("q_window",
      """SELECT event_id, user_id, rn FROM (
        |  SELECT event_id, user_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("event_id", "user_id", "rn")
    },

    // ---- tumbling daily window aggregation --------------------------------
    Q("q_window_day",
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n, ${Tables.oSum("value")} AS total
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total"))
    },

    // ---- JSON property extraction + aggregation ---------------------------
    Q("q_events_json",
      """SELECT event_type, sum(CAST(props->>'k' AS BIGINT)) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Tables(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    },

    // ---- bloom-pre-filtered delta-vs-corpus exact dedup -------------------
    // Re-ingest scenario: corpus = docs with id%3!=0, delta = every doc.
    // The corpus's content-hash bloom prunes the delta map-side (no false
    // negatives), the exact-confirm join removes the fpp — so the result
    // equals the plain semi-join the oracle states, by construction.
    Q("q_dedup_bloom",
      raw"""WITH ${SynthText.duckCte}
         |SELECT d.doc_id,
         |  md5(lower(regexp_replace(trim(d.text), '\s+', ' ', 'g'))) AS content_hash
         |FROM sdocs d
         |WHERE EXISTS (SELECT 1 FROM sdocs c WHERE c.doc_id % 3 <> 0
         |  AND lower(regexp_replace(trim(c.text), '\s+', ' ', 'g'))
         |    = lower(regexp_replace(trim(d.text), '\s+', ' ', 'g')))""".stripMargin) { (s, d) =>
      val docs = SynthText.docs(s, d)
      Dedup.exactDeltaBloom(docs, docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
    },

    // ---- inverted index (token -> sorted posting list) --------------------
    // Postings serialize as a comma-joined string so the compare harness
    // sorts rows on scalar columns; the library shape is the sorted array.
    Q("q_inverted_index",
      s"""SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
         |FROM (SELECT doc_id, unnest($oToks) AS tok FROM documents)
         |GROUP BY tok HAVING count(DISTINCT doc_id) <= 100""".stripMargin) { (s, d) =>
      invertedIndex(Tables(s, d, "documents"), "doc_id", "text", maxDf = 100)
        .select(col("tok"), col("doc_freq"),
          array_join(col("postings"), ",").as("postings"))
    },

    // ---- BPE subword tokenizer: train on the corpus, encode, round-trip ---
    // Training fits 16 merges on the distinct-word table (deterministic
    // count-then-lexicographic tie-break); encoding is a pure map. The
    // oracle checks the verifiable contract: word counts are exact SQL,
    // and the round-trip/bounds booleans must be uniformly true — BPE
    // tokens partition each word's characters, so re-concatenation MUST
    // recover the text (a lost or reordered symbol flips the gate).
    Q("q_bpe_tokenize",
      s"""SELECT doc_id, CAST(len($oToks) AS BIGINT) AS n_words,
         |  true AS roundtrip_ok, true AS bounds_ok
         |FROM documents""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents")
      val merges = Bpe.trainMerges(docs, "text", numMerges = 16)
      Bpe.encodeStats(docs, "doc_id", "text", merges)
        .select("doc_id", "n_words", "roundtrip_ok", "bounds_ok")
    },

    // ---- compression-ratio quality signal (deflate entropy proxy) ---------
    // n_bytes is exact SQL; the deflate output itself is gated by the
    // inflate round-trip plus size bounds (1 <= n_deflate <= n_bytes+64).
    Q("q_compress_quality",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  true AS roundtrip_ok, true AS bounds_ok
        |FROM documents""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"),
          deflateStats(col("text")).as("_z"))
        .select(col("doc_id"), col("n_bytes"), col("_z.roundtrip_ok"),
          (col("_z.n_deflate") >= 1 &&
            col("_z.n_deflate") <= col("n_bytes") + 64).as("bounds_ok"))
    },

    // ---- skew-salted join == plain join (Scale.saltedJoin) ----------------
    // The production salting shape: the (potentially hot-keyed) fact side
    // is salted into 16 sub-keys and only the DIMENSION side replicates —
    // never a fact-sized table. Result must equal the unsalted join.
    Q("q_salted_join",
      s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         |  ${Tables.oSum("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin) { (s, d) =>
      Scale.saltedJoin(
          Tables(s, d, "orders").select("o_custkey", "o_totalprice"),
          Tables(s, d, "customer").select("c_custkey", "c_mktsegment"),
          "o_custkey", "c_custkey", salts = 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("total"))
    },

    // ---- skew-salted two-phase aggregation == plain aggregation -----------
    // The aggregation twin of q_salted_join: the hot key's rows spread
    // over 16 (key, salt) partials, then combine — equal to the direct
    // group-by because (count, fixed-point sum) partials are
    // associative. See Scale.saltedCountSum for when this two-shuffle
    // shape beats map-side combine.
    Q("q_salted_agg",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS s_fp
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      Scale.saltedCountSum(
        Tables(s, d, "events").select("event_type", "event_id", "value"),
        "event_type", "event_id",
        expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)"), salts = 16)
        .select(col("event_type"), col("n"), col("s_fp"))
    },

    // ---- OOV rate vs the corpus top-256 vocabulary ------------------------
    // Tokenizer-fit diagnostic: what share of each document's tokens
    // fall outside the corpus's 256 most frequent types? High OOV docs
    // are the ones a fixed vocab (or a small BPE) will fragment. Plan:
    // one token-keyed count (the q_vocab shuffle), a 256-row broadcast
    // membership join, one doc-keyed agg. Rank ties break on the token
    // string so the vocab cut is deterministic on both engines.
    Q("q_oov_rate",
      s"""WITH w AS (SELECT doc_id, unnest($oToks) AS tok FROM documents),
         |cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM w GROUP BY 1),
         |v AS (SELECT tok FROM (SELECT tok,
         |      row_number() OVER (ORDER BY cf DESC, tok) AS rn FROM cf)
         |  WHERE rn <= 256)
         |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 10000
         |       // count(*) AS BIGINT) AS oov_bp
         |FROM w LEFT JOIN v USING (tok) GROUP BY 1""".stripMargin) { (s, d) =>
      // raw split (NOT TextFunctions.tokens): an empty/whitespace-only
      // text must yield the same [''] single token the oracle's
      // regexp_split_to_array produces, so the doc appears on both
      // sides — tokens() would drop it from the Spark side only
      val w = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      val cf = w.groupBy("tok").agg(count(lit(1)).as("cf"))
      // top-256 via distributed sort+limit (TakeOrderedAndProject: each
      // partition keeps 256, driver merges 256·P rows) — NOT a global
      // row_number window, which would sort the full token-type frame on
      // one partition (billions of types at 100 TB)
      val v = cf.orderBy(col("cf").desc, col("tok")).limit(256)
        .select(col("tok"), lit(1).as("_inv"))
      w.join(broadcast(v), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          expr("(n_oov * 10000) div n_tok").as("oov_bp"))
    },

    // ---- pairwise-similarity histogram (threshold tuning report) ----------
    // Before picking a near-dup threshold you need the corpus's actual
    // similarity DISTRIBUTION: pairs sharing ≥1 8-gram, bucketed by
    // exact Jaccard decile ((inter·10) div union — all integer). The
    // pair generation is the inverted-index blocking of q_setsim_join;
    // the exact confirm is the native sorted-intersect kernel. This is
    // the validation/tuning tier (gram-blocked all-pairs) — run it on a
    // SAMPLE at 100 TB, read the histogram, then set the production
    // LSH/banding threshold where the dup mass actually separates.
    // Hashed and string grams agree on counts unless XXH64 collides
    // (which would fail the compare loudly — the q_source_overlap
    // contract).
    Q("q_sim_histogram",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS g
         |      FROM t, unnest(CASE WHEN len(toks) >= 8
         |                     THEN generate_series(1, len(toks) - 7)
         |                     ELSE [] END) AS u(i)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |p AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id),
         |iv AS (SELECT p.ida, p.idb, CAST(count(*) AS BIGINT) AS inter
         |       FROM p JOIN g ga ON ga.doc_id = p.ida
         |       JOIN g gb ON gb.doc_id = p.idb AND gb.g = ga.g
         |       GROUP BY 1, 2),
         |j AS (SELECT (inter * 10) // (sa.n + sb.n - inter) AS bucket
         |      FROM iv JOIN sz sa ON sa.doc_id = iv.ida
         |      JOIN sz sb ON sb.doc_id = iv.idb)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
      val g = Tables(s, d, "documents").select(col("doc_id"),
        graft.dedup.Dedup.shingleHashes(col("text"), 8).as("hs"))
      val inv = g.select(col("doc_id"), explode(col("hs")).as("h"))
      val p = inv.as("a").join(inv.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .distinct()
      val withSets = p
        .join(g.select(col("doc_id").as("ida"), col("hs").as("ha")), "ida")
        .join(g.select(col("doc_id").as("idb"), col("hs").as("hb")), "idb")
      val inter = graft.dedup.Dedup
        .sortedIntersectCount(col("ha"), col("hb")).cast("long")
      withSets
        .select(inter.as("inter"),
          (size(col("ha")).cast("long") + size(col("hb")) - inter).as("uni"))
        .select(expr("(inter * 10) div uni").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    },

    // ---- small-file compaction (streaming-sink hygiene) -------------------
    // A 64-small-file layout (what a micro-batching sink leaves behind)
    // bin-packs to 4 files; the oracle recomputes the row count and the
    // files_ok contract asserts the layout actually changed.
    Q("q_compact",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS files_ok
        |FROM events""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{count => fcount}
      val frag = Staged.dir(d, "graft_frag") { w =>
        Tables(s, d, "events").repartition(64)
          .write.mode("overwrite").parquet(s"$w/small")
      }
      val nFiles = Scale.compact(s, s"$frag/small", s"$frag/compacted", 4)
      s.read.parquet(s"$frag/compacted")
        .agg(fcount(lit(1)).as("n_rows"))
        .select(col("n_rows"), lit(nFiles == 4).as("files_ok"))
    },

    // ---- hive-style partition pruning (layout primitive) ------------------
    // Events laid out PARTITIONED BY event_type; a single-partition
    // predicate must read ONLY that partition's directory. prune_ok
    // asserts the physical property the oracle can't see: every scanned
    // file path lives under event_type=click/ — at 100 TB this is the
    // difference between scanning one partition and the whole table.
    Q("q_partition_prune",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, true AS prune_ok
        |FROM events WHERE event_type = 'click'""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{count => fcount}
      // partitioned at write time, as production tables are; read
      // with partition discovery, which is what the query measures
      val root = Staged.dir(d, "graft_part") { w =>
        Tables(s, d, "events").write.mode("overwrite")
          .partitionBy("event_type").parquet(w)
      }
      val clicks = s.read.parquet(root).filter(col("event_type") === "click")
      // the prune assert must inspect the SCAN's selected partitions:
      // Dataset.inputFiles lists the whole unfiltered relation, and
      // input_file_name() over surviving rows can't see over-scanned
      // files (their rows are filtered before the agg). The scan's
      // pruned listing is the ground truth.
      val scans = clicks.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val pruned = scans.nonEmpty && scans.forall(_.selectedPartitions
        .toPartitionArray.forall(_.filePath.toString.contains("event_type=click")))
      clicks.agg(fcount(lit(1)).as("n_rows"))
        .select(col("n_rows"), lit(pruned).as("prune_ok"))
    },

    // ---- dynamic partition overwrite (the backfill primitive) -------------
    // Re-processing day N must rewrite ONLY day N's directory:
    // partitionOverwriteMode=dynamic replaces exactly the partitions the
    // write produces and leaves every other partition's files untouched
    // (STATIC mode would truncate the whole table first). The query
    // rewrites the 'click' partition with corrected values (value + 1000)
    // and returns per-type aggregates over the resulting table — the
    // oracle recomputes the same correction; untouched_ok asserts the
    // OTHER partitions' files were not rewritten (same names + mtimes).
    Q("q_partition_overwrite",
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  ${Tables.oSum("CASE WHEN event_type = 'click' THEN value + 1000.0 ELSE value END")} AS total,
         |  true AS untouched_ok
         |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{count => fcount}
      val root = TempDirs.tempDir("graft_dynpart")
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      Tables(s2, d, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(root)
      def listing(skip: String) = {
        val fs = new java.io.File(root).listFiles().toSeq
          .filter(f => f.isDirectory && !f.getName.contains(skip))
        fs.flatMap(dir => dir.listFiles().toSeq.map(f =>
          f.getPath -> f.lastModified())).sortBy(_._1)
      }
      val before = listing("event_type=click")
      // the backfill: rewrite ONLY the click partition, corrected values
      s2.read.parquet(root).filter(col("event_type") === "click")
        .withColumn("value", col("value") + 1000.0)
        .write.mode("overwrite").partitionBy("event_type").parquet(root)
      val untouched = listing("event_type=click") == before
      s2.read.parquet(root)
        .groupBy("event_type")
        .agg(fcount(lit(1)).as("n"), Tables.dsum(col("value")).as("total"))
        .select(col("event_type"), col("n"), col("total"),
          lit(untouched).as("untouched_ok"))
    },

    // ---- per-document Jaccard top-k similarity (text ANN) -----------------
    // "Most similar k documents for every document" — the text analogue
    // of ANN top-k: MinHash banding proposes candidates, the native
    // sorted-intersect confirms exact Jaccard, and the bounded
    // TopKByScore partial aggregate keeps ≤k rows per doc pre-shuffle.
    // The fixture corpus has no true near-dups, so candidates are ranked
    // at a 0 threshold and the oracle replays all-pairs with the same
    // (jaccard DESC, id ASC) total order over docs 0..39 — small enough
    // for the oracle's O(n²), while the Spark side runs the banded plan.
    Q("q_text_topk_sim",
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
        |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
        |  FROM documents WHERE doc_id < 40),
        |p AS (SELECT a.doc_id AS doc_id, b.doc_id AS nbr,
        |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
        |  FROM t a, t b WHERE a.doc_id <> b.doc_id
        |    AND len(list_intersect(a.g, b.g)) > 0)
        |SELECT doc_id, rank, nbr FROM (
        |  SELECT doc_id, nbr,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jaccard DESC, nbr ASC) AS rank
        |  FROM p) WHERE rank <= 3""".stripMargin) { (s, d) =>
      Dedup.textTopKSim(Tables(s, d, "documents").filter(col("doc_id") < 40),
        "doc_id", "text", k = 3)
    },

    // ---- heavy-hitter detection (the input to salting decisions) ----------
    // Exact top-10 keys by frequency: one map-side-combined count shuffle
    // of (key, count) pairs + a bounded global top-k — the primitive that
    // tells a pipeline WHICH keys need Scale.saltedJoin treatment.
    Q("q_heavy_hitters",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, user_id LIMIT 10""".stripMargin) { (s, d) =>
      Tables(s, d, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10)
    },

    // ---- approximate heavy hitters (Misra-Gries sketch) -------------------
    // The bounded-memory counterpart of q_heavy_hitters: O(m) state per
    // partition regardless of key-space size. A skewed key is derived so
    // the guarantee tier is non-empty at every fixture SF (5 hot keys
    // carry 2/3 of the stream; the rest is a user-id long tail). The MG
    // invariants are merge-order-independent, so the gates are
    // deterministic even though the summary's tail contents are
    // partitioning-dependent: every key with exact > N/(m+1) must be
    // present, and every estimate must satisfy exact-N/(m+1) <= est <=
    // exact (integer cross-multiplications only). The oracle recomputes
    // n_total / n_guaranteed exactly; the booleans must be uniformly true.
    Q("q_heavy_hitters_approx",
      """WITH k AS (SELECT CASE WHEN event_id % 3 <> 0 THEN event_id % 5
        |    ELSE user_id + 1000 END AS k FROM events),
        |e AS (SELECT k, CAST(count(*) AS BIGINT) AS exact FROM k GROUP BY k),
        |t AS (SELECT CAST(sum(exact) AS BIGINT) AS n_total FROM e)
        |SELECT t.n_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e WHERE e.exact * 17 > t.n_total)
        |    AS n_guaranteed,
        |  true AS all_guaranteed_present, true AS bounds_ok
        |FROM t""".stripMargin) { (s, d) =>
      val m = 16
      val keyed = Tables(s, d, "events").select(
        when(col("event_id") % 3 =!= 0, col("event_id") % 5)
          .otherwise(col("user_id") + 1000).cast("long").as("k"))
      val agg = GraftBridge.column(graft.functions.MisraGriesTopK(
        GraftBridge.expression(col("k")), m).toAggregateExpression())
      val summary = keyed.agg(agg.as("_mg"))
        .select(explode(col("_mg")).as("e"))
        .select(col("e.key").as("k"), col("e.est").as("est"))
      val exact = keyed.groupBy("k").agg(count(lit(1)).as("exact"))
      val tot = exact.agg(sum(col("exact")).as("n_total"))
      exact.join(summary, Seq("k"), "left")
        .crossJoin(broadcast(tot)) // 1-row scalar: intentional
        .agg(
          max(col("n_total")).as("n_total"),
          sum(when(col("exact") * (m + 1) > col("n_total"), 1L).otherwise(0L))
            .as("n_guaranteed"),
          coalesce(min(when(col("exact") * (m + 1) > col("n_total"),
            col("est").isNotNull)), lit(true)).as("all_guaranteed_present"),
          coalesce(min(when(col("est").isNotNull,
            col("est") <= col("exact") &&
              (col("exact") - col("est")) * (m + 1) <= col("n_total"))),
            lit(true)).as("bounds_ok"))
    },

    // ---- z-order (Morton) clustering key ----------------------------------
    // The 2-D data-layout primitive behind Scale.writeZordered: files
    // written range-partitioned + sorted on this key cover compact (x, y)
    // boxes, so parquet footer stats prune 2-D box predicates (ScaleSpec
    // asserts real file-level skipping). The oracle replays the identical
    // bit interleave.
    Q("q_zorder", {
      val zexpr = (0 until 8).flatMap(i => Seq(
        s"((((l_partkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 256) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""SELECT l_orderkey, l_linenumber, $zexpr AS zkey
         |FROM lineitem""".stripMargin
    }) { (s, d) =>
      Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        Scale.zorderKey(col("l_partkey"), col("l_suppkey"), 8).as("zkey"))
    },

    // ---- grouped top-k via the bounded partial aggregate ------------------
    // Top-3 documents per source by length: the native TopKByScore
    // TypedImperativeAggregate reduces every partition to <=k entries per
    // group BEFORE the shuffle, where the window-function formulation the
    // oracle uses would shuffle every scored row — same answers, scale-safe
    // plan (tie-break (score desc, id asc) matches the window's ORDER BY).
    Q("q_topk_per_group",
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 3""".stripMargin) { (s, d) =>
      val agg = GraftBridge.column(graft.functions.TopKByScore(
        GraftBridge.expression(col("n_chars").cast("double")),
        GraftBridge.expression(col("doc_id")), 3).toAggregateExpression())
      Tables(s, d, "documents").groupBy("source").agg(agg.as("_nn"))
        .select(col("source"), posexplode(col("_nn")))
        .select(col("source"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("int").as("rn"))
    },

    // ---- bucketed co-located join (shuffle paid at write, not per query) --
    // Both sides persist hash-bucketed on the key; the join then plans
    // with NO exchange on either side (ScaleSpec asserts the plan; this
    // entry verifies the answers survive the bucketed round-trip).
    Q("q_bucketed_join",
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
         |  ${Tables.oSum("l_quantity")} AS qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1""".stripMargin) { (s, d) =>
      // bucketed layout staged ONCE per source dir (shuffle paid at write
      // is the operator's whole premise — production tables are written
      // bucketed once and joined many times, they aren't re-bucketed per
      // query; same memoization license as the PNG payload fixture)
      val (liTbl, ordTbl) = bucketedFixture(s, d)
      Scale.readBucketedTable(s, liTbl)
        .join(Scale.readBucketedTable(s, ordTbl),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("qty"))
    }
  )
}
