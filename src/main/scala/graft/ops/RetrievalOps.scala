package graft.ops

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Corpus, Retrieval}

/** Round-5 additions to the LLM-pipeline tier: full-text retrieval,
  * exact-substring span dedup, and temperature-based mixture weights.
  * Each query's oracle replays the identical arithmetic in DuckDB (the
  * fixed-point / correctly-rounded-ops-only recipe — see Tables.dsum),
  * so every compare is bit-exact, never tolerance-based. */
object RetrievalOps {

  private def documents(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "documents")

  // mirror of Retrieval.bm25TopK's tokenizer on the DuckDB side
  private val oToks = "regexp_split_to_array(trim(text), '\\s+')"

  val all: Seq[Q] = Seq(

    // ---- BM25 top-k retrieval --------------------------------------------
    // Round 8: runs on the long-tail SynthText corpus — the Zipf-shaped
    // df spectrum is the textbook BM25 setting. Query = {w26, w100,
    // w1005}: w26 is a head near-stopword (df ~26% of docs), w100
    // mid-frequency, w1005 the rare discriminative term whose idf
    // carries the ranking. Scoring arithmetic is identical
    // expression-for-expression on both sides; the per-doc sum is over
    // ×10⁶ fixed-point bigints (exact, order-free).
    Q("q_bm25", {
      val idf = "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
      val denom = "(CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      val w = s"($idf * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) / $denom))"
      s"""WITH ${SynthText.duckCte},
         |t AS (SELECT doc_id, $oToks AS toks FROM sdocs),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |w AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM w WHERE term IN ('w26', 'w100', 'w1005')
         |       GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id,
         |         SUM(CAST(floor($w * 1000000 + 0.5) AS BIGINT)) AS score_fp,
         |         CAST(count(*) AS BIGINT) AS n_terms
         |       FROM tf JOIN df USING (term), s GROUP BY doc_id)
         |SELECT doc_id, CAST(score_fp / 1000000.0 AS DOUBLE) AS score, n_terms
         |FROM sc ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      Retrieval.bm25TopK(SynthText.docs(s, d), "doc_id", "text",
        Seq("w26", "w100", "w1005"), k = 10)
    },

    // ---- PERSISTED full-text index: BM25 probes, zero corpus rescans ------
    // The retrieval member of the build-once/probe-many family: the
    // complete inverted postings are term-range-sorted once per source
    // dir; a probe's `term IN (...)` prunes to the matching row groups,
    // joins doc lengths, and scores with the identical BM25 arithmetic.
    // The oracle recomputes the whole ranking from the raw text, so the
    // hash match proves the index round trip lossless. Different query
    // terms than q_bm25 so both paths carry independent evidence.
    Q("q_bm25_indexed", {
      val idf = "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
      val denom = "(CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      val w = s"($idf * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) / $denom))"
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |w AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM w WHERE term IN ('index', 'stream', 'cache')
         |       GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id,
         |         SUM(CAST(floor($w * 1000000 + 0.5) AS BIGINT)) AS score_fp,
         |         CAST(count(*) AS BIGINT) AS n_terms
         |       FROM tf JOIN df USING (term), s GROUP BY doc_id)
         |SELECT doc_id, CAST(score_fp / 1000000.0 AS DOUBLE) AS score, n_terms
         |FROM sc ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val path = Staged.dir(d, "graft_text_idx") { w =>
        Retrieval.buildTextIndex(documents(s, d), "doc_id", "text", w)
      }
      Retrieval.bm25TopKIndexed(s, path, Seq("index", "stream", "cache"), k = 10)
    },

    // ---- exact-substring span dedup (Lee et al. keep-first signal) --------
    // 1015 naturally-duplicated 8-grams exist in the sf0.01 fixture, so
    // both the shared and shared-with-earlier branches are exercised
    // without any injection. All counts integer → bit-exact.
    Q("q_dedup_span",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |g AS (SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS g
         |      FROM t, unnest(CASE WHEN len(toks) >= 8
         |                     THEN generate_series(1, len(toks) - 7)
         |                     ELSE [] END) AS u(i)),
         |pg AS (SELECT DISTINCT doc_id, g FROM g),
         |st AS (SELECT g, CAST(count(*) AS BIGINT) AS nd, min(doc_id) AS first_doc
         |       FROM pg GROUP BY g),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |         CAST(sum(CASE WHEN nd >= 2 AND first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_earlier
         |       FROM pg JOIN st USING (g) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_shared, 0) AS n_shared,
         |  coalesce(n_shared_earlier, 0) AS n_shared_earlier,
         |  coalesce(n_shared_earlier, 0) * 5 >= coalesce(n_grams, 0)
         |    AND coalesce(n_grams, 0) > 0 AS is_dup
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin) { (s, d) =>
      Dedup.spanStats(documents(s, d), "doc_id", "text", k = 8)
    },

    // ---- DIRECTIONAL containment dedup (asymmetric near-dup) --------------
    // Pairs where ≥80% of a's word-8-grams appear in b — the metric that
    // catches a doc CONTAINED in a longer republication, which symmetric
    // Jaccard misses as the size ratio grows. Complete gram inverted
    // index proposes candidates (MinHash banding bounds Jaccard, not
    // containment), native sorted-intersect confirms, and the threshold
    // is an exact integer cross-multiplication. The oracle replays string
    // grams; counts agree unless XXH64 collides (the q_dedup_span
    // contract — a collision fails the compare, never passes).
    Q("q_dedup_containment",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS g
         |      FROM t, unnest(CASE WHEN len(toks) >= 8
         |                     THEN generate_series(1, len(toks) - 7)
         |                     ELSE [] END) AS u(i)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      CAST(count(*) AS BIGINT) AS n_inter
         |      FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter, n AS n_a
         |FROM p JOIN sz ON sz.doc_id = id_a
         |WHERE n_inter * 5 >= n * 4""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        kShingle = 8, num = 4, den = 5)
    },

    // ---- hybrid retrieval: BM25 ⊕ embedding cosine via RRF ----------------
    // Both legs are independently proven oracle-exact (q_bm25, the
    // q_ann_bruteforce cosine fold); the fusion adds only integer rank
    // arithmetic — floor(1e9/(60+rank)) per leg, summed as bigints.
    // vec_id aligns with doc_id in the fixture (0..N-1 both).
    Q("q_hybrid_rank", {
      val idf = "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
      val denom = "(CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      val w = s"($idf * ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) / $denom))"
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |w AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM w WHERE term IN ('dup', 'vector', 'merge')
         |       GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT doc_id,
         |         SUM(CAST(floor($w * 1000000 + 0.5) AS BIGINT)) AS score_fp
         |       FROM tf JOIN df USING (term), s GROUP BY doc_id),
         |tr AS (SELECT doc_id, trank FROM (
         |         SELECT doc_id, CAST(row_number() OVER (
         |           ORDER BY score_fp DESC, doc_id) AS BIGINT) AS trank FROM sc)
         |       WHERE trank <= 20),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dots AS (SELECT c.vec_id AS nid,
         |    list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(c.embedding[i] AS DOUBLE))) AS dot,
         |    list_sum(list_transform(generate_series(1, len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) AS qq,
         |    list_sum(list_transform(generate_series(1, len(c.embedding)), i -> CAST(c.embedding[i] AS DOUBLE)*CAST(c.embedding[i] AS DOUBLE))) AS cc
         |  FROM embeddings c, q WHERE c.vec_id <> 0),
         |vr AS (SELECT nid AS doc_id, vrank FROM (
         |         SELECT nid, CAST(row_number() OVER (
         |           ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, nid) AS BIGINT) AS vrank
         |         FROM dots)
         |       WHERE vrank <= 20),
         |fu AS (SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, trank, vrank,
         |         coalesce(CAST(floor(1000000000.0 / (60 + trank)) AS BIGINT), 0) +
         |         coalesce(CAST(floor(1000000000.0 / (60 + vrank)) AS BIGINT), 0) AS score_fp
         |       FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
         |SELECT doc_id, trank, vrank, score_fp FROM fu
         |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      Retrieval.hybridTopK(documents(s, d),
        Tables(s, d, "embeddings").select("vec_id", "embedding"),
        "doc_id", "text", Seq("dup", "vector", "merge"),
        queryVecId = 0L, k = 10)
    },

    // ---- exact-substring span REMOVAL (the cut half of Lee et al.) --------
    // Tokens covered by any 8-gram an earlier doc contains are dropped;
    // overlapping spans union. Both engines run the same nested-lambda
    // cover test over the same md5 gram fingerprints; output is strings +
    // integers → bit-exact.
    Q("q_dedup_span_rm",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |g AS (SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS g
         |      FROM t, unnest(CASE WHEN len(toks) >= 8
         |                     THEN generate_series(1, len(toks) - 7)
         |                     ELSE [] END) AS u(i)),
         |st AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
         |cov AS (SELECT g.doc_id AS cdoc, list_sort(list(g.i)) AS starts
         |        FROM g JOIN st USING (g) WHERE st.first_doc < g.doc_id
         |        GROUP BY g.doc_id),
         |j AS (SELECT t.doc_id, t.toks, coalesce(cov.starts, []) AS starts
         |      FROM t LEFT JOIN cov ON t.doc_id = cov.cdoc),
         |k AS (SELECT doc_id, toks,
         |        list_filter(generate_series(1, len(toks)),
         |          p -> len(list_filter(starts, s -> s <= p AND p < s + 8)) = 0) AS keep
         |      FROM j)
         |SELECT doc_id,
         |  coalesce(array_to_string(list_transform(keep, p -> toks[p]), ' '), '') AS clean,
         |  CAST(len(toks) - len(keep) AS BIGINT) AS n_removed
         |FROM k""".stripMargin) { (s, d) =>
      // (oracle coalesce: DuckDB array_to_string over an empty list is
      // NULL while Spark's array_join is '' — the fully-removed-doc edge)
      Dedup.removeSharedSpans(documents(s, d), "doc_id", "text", k = 8)
    },

    // ---- cross-source contamination matrix (corpus provenance forensics) --
    // Which sources copy from which: for every source pair, the count of
    // word-8-grams present in BOTH sources' distinct gram sets, and the
    // overlap as ppm of the smaller set (the containment normalization —
    // a small feed fully scraped by a big aggregator shows ~1e6 here but
    // a tiny Jaccard). Shape: one distinct (source, gram-hash) pass via
    // the native shingle kernel, then a gram-keyed self-join whose
    // per-gram work is bounded by S² (a gram appears in at most S
    // sources — the hot-key ceiling is the source count, not the corpus)
    // and a source-pair-sized rollup; zero-overlap pairs come back via a
    // tiny totals×totals cross so the matrix is complete and
    // deterministic. Grams never leave the hash domain (16-byte keys,
    // the Dedup rule).
    Q("q_contamination_matrix",
      s"""WITH t AS (SELECT source, $oToks AS toks FROM documents),
         |g AS (SELECT DISTINCT source,
         |    md5(array_to_string(toks[i:i+7], ' ')) AS g
         |  FROM t, unnest(CASE WHEN len(toks) >= 8
         |    THEN generate_series(1, len(toks) - 7) ELSE [] END) AS u(i)),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM g GROUP BY source),
         |p AS (SELECT a.source AS sa, b.source AS sb,
         |    CAST(count(*) AS BIGINT) AS ns
         |  FROM g a JOIN g b USING (g) WHERE a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT ta.source AS src_a, tb.source AS src_b,
         |  coalesce(ns, 0) AS n_shared, ta.n AS grams_a, tb.n AS grams_b,
         |  (coalesce(ns, 0) * 1000000) // least(ta.n, tb.n) AS overlap_ppm
         |FROM tot ta JOIN tot tb ON ta.source < tb.source
         |LEFT JOIN p ON p.sa = ta.source AND p.sb = tb.source"""
        .stripMargin) { (s, d) =>
      val sg = documents(s, d)
        .select(col("source"),
          explode(Dedup.shingleHashes(col("text"), 8)).as("g"))
        .distinct()
      val tot = sg.groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = sg.toDF("sa", "g")
        .join(sg.toDF("sb", "g2"), col("g") === col("g2"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("ns"))
      val ta = broadcast(tot.toDF("src_a", "grams_a"))
      val tb = broadcast(tot.toDF("src_b", "grams_b"))
      ta.join(tb, col("src_a") < col("src_b"))
        .join(pairs, col("src_a") === col("sa") && col("src_b") === col("sb"),
          "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("ns"), lit(0L)).as("n_shared"),
          col("grams_a"), col("grams_b"),
          expr("(coalesce(ns, 0) * 1000000) div least(grams_a, grams_b)")
            .as("overlap_ppm"))
    },

    // ---- temperature mixture weights (α = 0.5 over char mass) ------------
    // Doc counts are uniform across sources in the fixture, so the mass
    // basis (total chars per source) is what makes the smoothing
    // observable: weight ∝ sqrt(mass), normalized in exact fixed-point.
    Q("q_mix_temperature",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS mass
        |           FROM documents GROUP BY source),
        |f AS (SELECT source, n_docs, mass,
        |        CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS w_fp
        |      FROM c)
        |SELECT source, n_docs, mass,
        |  CAST(w_fp AS DOUBLE) / CAST(SUM(w_fp) OVER () AS DOUBLE) AS weight,
        |  CAST(floor((CAST(w_fp AS DOUBLE) / CAST(SUM(w_fp) OVER () AS DOUBLE))
        |    * CAST(SUM(n_docs) OVER () AS DOUBLE) + 0.5) AS BIGINT) AS target_docs
        |FROM f""".stripMargin) { (s, d) =>
      Corpus.temperatureMix(documents(s, d), "source",
        massCol = Some("n_chars"))
    },

    // ---- deterministic corpus sharding (training-order shuffle) ----------
    // (shard, pos) from md5 nibbles + hash-ordered rank: reproducible
    // across runs/engines/cluster sizes. instr/substr/md5 behave
    // identically in Spark SQL and DuckDB, so the oracle replays the
    // exact expression.
    Q("q_shard_shuffle",
      """WITH h AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || 'shard') AS hh FROM documents),
        |s AS (SELECT doc_id,
        |    ((instr('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(hh, 2, 1)) - 1)) % 16 AS shard,
        |    hh FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS pos
        |FROM s""".stripMargin) { (s, d) =>
      Scale.shardShuffle(documents(s, d).select("doc_id"), "doc_id",
        nShards = 16)
    },

    // ---- exact-n-per-group sampling (hash reservoir) ----------------------
    Q("q_sample_per_group",
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'sample'), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin) { (s, d) =>
      Corpus.sampleExactPerGroup(documents(s, d).select("doc_id", "source"),
        "source", "doc_id", n = 5)
    }
  )
}
