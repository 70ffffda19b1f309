package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.Corpus
import graft.text.Corpus._
import graft.text.TextFunctions.{langId, tokenCount, tokenCharCount,
  wordListHits, LangWordlists, StopwordsEn}

/** Corpus-curation registry queries: repetition-based quality signals,
  * PII redaction, deterministic split/mix, and benchmark decontamination
  * — each with a DuckDB oracle built from the SAME constants (regexes,
  * hash-bucket boundaries) as the Spark path. */
object CorpusOps {

  private val oToks = "regexp_split_to_array(trim(text), '\\s+')"

  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  // md5-bucket expression, DuckDB side; must mirror Corpus.bucket exactly
  private def oBucket(id: String, salt: String) =
    s"substr(md5(CAST($id AS VARCHAR) || '$salt'), 1, 2)"

  /** Train/val/test fractions shared by the Spark query and its oracle. */
  private val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Per-source keep rates for the mixing query: curated sources kept
    * whole, mid tiers sampled, the crawl tail heavily downsampled. */
  private val MixRates: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> (if (i < 4) 1.0 else if (i < 12) 0.5 else 0.125))

  /** Exact all-pairs cross-set Jaccard (3-word shingles, j ≥ 0.8) of the
    * %10=0 "delta" against the %10≠0 "corpus" — shared by q_dedup_delta
    * and q_dedup_index_update (probing the append-merged index must give
    * the same answers as probing the whole corpus directly). */
  private val DeltaOracle: String =
    raw"""WITH ${SynthText.duckCte},
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
       |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
       |  FROM sdocs)
      |SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
      |FROM sh a, sh b
      |WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      |  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8""".stripMargin

  /** sf1+ variant of [[DeltaOracle]]: the same delta×corpus pair set via
    * the lossless prefix-filtered join (candidates pre-restricted to
    * mixed delta/corpus pairs, then reoriented so the %10==0 side is the
    * delta). See [[ScaleOracles]]. */
  private val DeltaScaleOracle: String =
    raw"""WITH ${SynthText.duckCte},
       |${ScaleOracles.wordShingleCte("sdocs")},
       |${ScaleOracles.ppjoinPairCtes(4, 5,
           where = "(a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0)")}
       |SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS delta_id,
       |  CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS corpus_id,
       |  jaccard
       |FROM p""".stripMargin

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003)
    * over a `(doc_id, text)` frame: k=3-token gram hashes (first 8 md5
    * hex digits), window w=4, rightmost-min-per-window selection.
    * Returns `(doc_id, n_grams, fps)` where each fingerprint packs
    * hash·10⁷ + (10⁷−1−pos) into one BIGINT (so min-key ≡ min-hash with
    * rightmost tie-break; docs bounded at 10M tokens, keys < 2^63).
    * One native kernel call per doc — a map-only pass with ZERO
    * shuffles at any corpus scale. */
  def winnowing(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    // Native kernel (functions/Winnowing.scala) — one md5 + long
    // arithmetic per gram inside WholeStageCodegen. The HOF spelling it
    // replaced needed a let-bound lambda to dodge an O(n²) optimizer
    // inline and still ran its per-element lambdas interpreted; the
    // committed expected hashes pin the two spellings bit-identical.
    docs.select(col("doc_id"),
      greatest(graft.text.TextFunctions.tokenCount(col("text")) - 2, lit(0))
        .cast("long").as("n_grams"),
      org.apache.spark.sql.GraftBridge.column(graft.functions.WinnowingFps(
        org.apache.spark.sql.GraftBridge.expression(col("text")))).as("fps"))

  /** MOSS-style winnowing overlap join (the q_winnow_dedup body): docs
    * sharing >= `minShared` selected fingerprint HASHES, with a
    * stop-fingerprint df cap pruning hot trigrams BEFORE the pair join.
    * `checkpoint = false` keeps the logical pipeline inspectable for
    * plan tests; production callers checkpoint so the fingerprint cache
    * releases eagerly. */
  private[graft] def winnowOverlapPairs(docs: org.apache.spark.sql.DataFrame,
      dfCap: Long, minShared: Long,
      checkpoint: Boolean = true): org.apache.spark.sql.DataFrame = {
    val hs = winnowing(docs)
      .select(col("doc_id"),
        expr("array_distinct(transform(fps, x -> x div 10000000L))").as("hs"))
      .persist()
    val e = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val df = e.groupBy("h").agg(count(lit(1)).as("c"))
    val e2 = e.join(df.where(col("c") <= dfCap), "h").select("doc_id", "h")
    val sz = hs.select(col("doc_id"), size(col("hs")).cast("long").as("nh"))
    val p = e2.as("a").join(e2.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val joined = p
      .join(sz.withColumnRenamed("doc_id", "a_id").withColumnRenamed("nh", "nh_a"), "a_id")
      .join(sz.withColumnRenamed("doc_id", "b_id").withColumnRenamed("nh", "nh_b"), "b_id")
      .select(col("a_id"), col("b_id"), col("n_shared"), col("nh_a"), col("nh_b"),
        expr("(n_shared * 1000000L) div least(nh_a, nh_b)").as("overlap_ppm"))
    if (!checkpoint) { hs.unpersist(); return joined }
    Par.materializeThenRelease(joined, hs) // bounds hs's persist to this call
  }

  /** Persist the corpus side of incremental winnowing dedup at `path`:
    * `postings/` = (doc_id, h) fingerprint postings with stop-
    * fingerprints (corpus df > `dfCap`) pruned at BUILD time and rows
    * clustered by h so probe joins read hash-clustered files; `sizes/` =
    * (doc_id, nh) for containment scoring. The 100 TB amortization of
    * the LSH-index family applied to the winnowing family: the corpus is
    * fingerprinted ONCE; every delta ingest pays only its own map-only
    * winnowing plus a postings-sized equi-join — never a corpus rescan. */
  def buildWinnowIndex(corpus: org.apache.spark.sql.DataFrame, path: String,
      dfCap: Long): Unit = {
    val hs = winnowing(corpus)
      .select(col("doc_id"),
        expr("array_distinct(transform(fps, x -> x div 10000000L))").as("hs"))
      .persist()
    val post = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val cdf = post.groupBy("h").agg(count(lit(1)).as("c"))
    post.join(cdf.where(col("c") <= dfCap), "h").select("doc_id", "h")
      .repartition(col("h"))
      .write.mode("overwrite").parquet(s"$path/postings")
    hs.select(col("doc_id"), size(col("hs")).cast("long").as("nh"))
      .write.mode("overwrite").parquet(s"$path/sizes")
    hs.unpersist()
  }

  /** Probe a [[buildWinnowIndex]] output with a delta batch: map-only
    * winnowing of the delta, one hash-keyed equi-join against the
    * persisted postings (index-sized I/O), shared-count gate at
    * `minShared`, containment ppm against the smaller side. */
  def winnowProbeIndexed(delta: org.apache.spark.sql.DataFrame, path: String,
      minShared: Long): org.apache.spark.sql.DataFrame = {
    val spark = delta.sparkSession
    val hs = winnowing(delta)
      .select(col("doc_id"),
        expr("array_distinct(transform(fps, x -> x div 10000000L))").as("hs"))
      .persist()
    val dpost = hs.select(col("doc_id").as("delta_id"), explode(col("hs")).as("h"))
    val cpost = spark.read.parquet(s"$path/postings")
      .select(col("doc_id").as("corpus_id"), col("h"))
    val csz = spark.read.parquet(s"$path/sizes")
      .select(col("doc_id").as("corpus_id"), col("nh").as("nh_corpus"))
    val dsz = hs.select(col("doc_id").as("delta_id"),
      size(col("hs")).cast("long").as("nh_delta"))
    val out = dpost.join(cpost, "h")
      .groupBy("delta_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(dsz, "delta_id")
      .join(csz, "corpus_id")
      .select(col("delta_id"), col("corpus_id"), col("n_shared"),
        col("nh_delta"), col("nh_corpus"),
        expr("(n_shared * 1000000L) div least(nh_delta, nh_corpus)")
          .as("overlap_ppm"))
    Par.materializeThenRelease(out, hs) // bounds hs's persist to this call
  }

  val all: Seq[Q] = Seq(

    // ---- Gopher-style repetition quality signals --------------------------
    // Duplicate-bigram and top-bigram fractions derive from these integer
    // counts; documents dominated by few repeated n-grams are boilerplate.
    Q("q_quality_repetition",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |c AS (SELECT doc_id, bg, count(*) AS n FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |        CAST(count(*) AS BIGINT) AS n_uniq_bigrams,
         |        CAST(max(n) AS BIGINT) AS top_count
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
         |  coalesce(a.n_uniq_bigrams, 0) AS n_uniq_bigrams,
         |  coalesce(a.top_count, 0) AS top_count
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), repetitionStats(col("text"), 2).as("r"))
        .select(col("doc_id"),
          col("r.n_ngrams").cast("long").as("n_bigrams"),
          col("r.n_uniq_ngrams").cast("long").as("n_uniq_bigrams"),
          col("r.top_count").cast("long").as("top_count"))
    },

    // ---- Gopher-style rule battery: per-source pass/fail report -----------
    // The classic pre-filter a crawl corpus runs before anything
    // expensive: token-count bounds, mean-word-length bounds, a minimum
    // stopword signal (natural-language evidence), and a top-bigram
    // repetition cap — all INTEGER predicates over one-pass token stats
    // (cross-multiplied, no division), rolled up per source with
    // per-rule failure counts so curation can see WHY a feed loses mass.
    // One doc-local map + one groupBy(source). Thresholds are engine
    // config (20..100k tokens, mean word length 3..10 via
    // 3n ≤ chars ≤ 10n, ≥2 stopword hits, top bigram ≤ 20% once ≥10
    // bigrams exist).
    Q("q_gopher_rules",
      s"""WITH t AS (SELECT doc_id, source, $oToks AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |    len(toks) AS ntok,
         |    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS ntc,
         |    len(list_filter(toks, t -> t IN ${inList(StopwordsEn)})) AS nstop
         |  FROM t),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |c AS (SELECT doc_id, bg, count(*) AS n FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nbg,
         |        CAST(max(n) AS BIGINT) AS topc FROM c GROUP BY doc_id),
         |j AS (SELECT s.*, coalesce(a.nbg, 0) AS nbg, coalesce(a.topc, 0) AS topc
         |  FROM s LEFT JOIN a USING (doc_id)),
         |r AS (SELECT source,
         |    (ntok BETWEEN 20 AND 100000) AS ok_len,
         |    (3 * ntok <= ntc AND ntc <= 10 * ntok) AS ok_wordlen,
         |    (nstop >= 2) AS ok_stop,
         |    (nbg < 10 OR topc * 5 <= nbg) AS ok_rep
         |  FROM j)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN ok_len AND ok_wordlen AND ok_stop AND ok_rep
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
         |  CAST(sum(CASE WHEN NOT ok_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
         |  CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
         |  CAST(sum(CASE WHEN NOT ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep
         |FROM r GROUP BY source""".stripMargin) { (s, d) =>
      val stats = Tables(s, d, "documents").select(col("source"),
        tokenCount(col("text")).cast("long").as("ntok"),
        tokenCharCount(col("text")).cast("long").as("ntc"),
        wordListHits(col("text"), StopwordsEn).cast("long").as("nstop"),
        repetitionStats(col("text"), 2).as("r"))
        .select(col("source"), col("ntok"), col("ntc"), col("nstop"),
          col("r.n_ngrams").cast("long").as("nbg"),
          col("r.top_count").cast("long").as("topc"))
      val okLen = col("ntok").between(20L, 100000L)
      val okWordlen = lit(3L) * col("ntok") <= col("ntc") &&
        col("ntc") <= lit(10L) * col("ntok")
      val okStop = col("nstop") >= 2L
      val okRep = col("nbg") < 10L || col("topc") * 5L <= col("nbg")
      stats.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(okLen && okWordlen && okStop && okRep, 1L).otherwise(0L)).as("n_pass"),
        sum(when(!okLen, 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(!okWordlen, 1L).otherwise(0L)).as("n_fail_wordlen"),
        sum(when(!okStop, 1L).otherwise(0L)).as("n_fail_stop"),
        sum(when(!okRep, 1L).otherwise(0L)).as("n_fail_rep"))
    },

    // ---- cross-split near-dup LEAKAGE audit --------------------------------
    // The QA step after splitting: near-duplicate pairs straddling the
    // train/val/test boundary leak training signal into evaluation. The
    // ground-truth near-dup pairs (the q_dedup_minhash relation) join to
    // the deterministic md5-bucket split labels; pairs group by their
    // NORMALIZED split pair (least/greatest) with is_leak marking
    // cross-split groups. At 100 TB the pair side comes from the LSH
    // path and the split label is a map-side hash — one pair-sized join,
    // never a corpus-sized one.
    Q("q_split_leakage", {
      val cases = Corpus.splitBounds(Splits)
        .map { case (l, hx) => s"WHEN ${oBucket("doc_id", "")} < '$hx' THEN '$l'" }
        .mkString(" ")
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len($oToks) - 2, 0)),
         |    i -> array_to_string(($oToks)[i:i+2], ' '))) AS g
         |  FROM documents),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.8),
         |sp AS (SELECT doc_id,
         |    CASE $cases ELSE '${Splits.last._1}' END AS split
         |  FROM documents)
         |SELECT least(sa.split, sb.split) AS split_a,
         |  greatest(sa.split, sb.split) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  (least(sa.split, sb.split) <> greatest(sa.split, sb.split)) AS is_leak
         |FROM p JOIN sp sa ON p.id_a = sa.doc_id
         |       JOIN sp sb ON p.id_b = sb.doc_id
         |GROUP BY 1, 2, 4""".stripMargin
    }) { (s, d) =>
      val docs = Tables(s, d, "documents")
      val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
        threshold = 0.8, k = 3, numHashes = 64, bands = 32)
        .select("id_a", "id_b")
      val sp = docs.select(col("doc_id"),
        splitAssign(col("doc_id"), Splits).as("split"))
      pairs
        .join(sp.toDF("id_a", "split_a0"), "id_a")
        .join(sp.toDF("id_b", "split_b0"), "id_b")
        .select(least(col("split_a0"), col("split_b0")).as("split_a"),
          greatest(col("split_a0"), col("split_b0")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", col("split_a") =!= col("split_b"))
    }.atScale("ppjoin-replay", {
      val cases = Corpus.splitBounds(Splits)
        .map { case (l, hx) => s"WHEN ${oBucket("doc_id", "")} < '$hx' THEN '$l'" }
        .mkString(" ")
      s"""WITH ${ScaleOracles.wordShingleCte("documents")},
         |${ScaleOracles.ppjoinPairCtes(4, 5)},
         |sp AS (SELECT doc_id,
         |    CASE $cases ELSE '${Splits.last._1}' END AS split
         |  FROM documents)
         |SELECT least(sa.split, sb.split) AS split_a,
         |  greatest(sa.split, sb.split) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  (least(sa.split, sb.split) <> greatest(sa.split, sb.split)) AS is_leak
         |FROM p JOIN sp sa ON p.id_a = sa.doc_id
         |       JOIN sp sb ON p.id_b = sb.doc_id
         |GROUP BY 1, 2, 4""".stripMargin
    }),

    // ---- PII redaction ----------------------------------------------------
    // The synthetic corpus carries no PII, so both sides inject a
    // deterministic email+phone suffix into every third document, then
    // scrub; counts are over the pre-scrub text.
    // ---- Luhn-validated card-number detection -----------------------------
    // Regex alone over-redacts: any 16-digit run looks like a card. The
    // production PII pass validates candidates with the Luhn mod-10
    // checksum first — pure integer digit arithmetic both engines spell
    // identically (a 16-term doubled-digit fold over substr; no UDF).
    // Each doc gets a deterministic candidate injected (15 pseudo-random
    // digits + a doc_id-parity check digit, so ~10% validate), the
    // candidate is re-EXTRACTED from the text by regex, then classified.
    Q("q_pii_luhn", {
      def luhnSql(card: String) =
        s"""list_sum(list_transform(range(0, 16), i ->
           |  CASE WHEN i % 2 = 1 THEN
           |    CASE WHEN 2 * CAST(substr($card, 16 - i, 1) AS INT) > 9
           |      THEN 2 * CAST(substr($card, 16 - i, 1) AS INT) - 9
           |      ELSE 2 * CAST(substr($card, 16 - i, 1) AS INT) END
           |  ELSE CAST(substr($card, 16 - i, 1) AS INT) END)) % 10 = 0"""
          .stripMargin.replace("\n", " ").replaceAll(" +", " ")
      s"""WITH x AS (SELECT doc_id, text || ' card ' ||
         |    lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR), 15, '0')
         |    || CAST(doc_id % 10 AS VARCHAR) AS t
         |  FROM documents),
         |c AS (SELECT doc_id, regexp_extract(t, '[0-9]{16}') AS card FROM x)
         |SELECT doc_id, card,
         |  ${luhnSql("card")} AS luhn_valid
         |FROM c""".stripMargin
    }) { (s, d) =>
      def luhnExpr(card: String) =
        s"""aggregate(transform(sequence(0, 15), i ->
           |  CASE WHEN i % 2 = 1 THEN
           |    CASE WHEN 2 * CAST(substr($card, 16 - i, 1) AS INT) > 9
           |      THEN 2 * CAST(substr($card, 16 - i, 1) AS INT) - 9
           |      ELSE 2 * CAST(substr($card, 16 - i, 1) AS INT) END
           |  ELSE CAST(substr($card, 16 - i, 1) AS INT) END),
           |  0, (a, v) -> a + v) % 10 = 0""".stripMargin.replace("\n", " ")
      Tables(s, d, "documents")
        .withColumn("t", concat(col("text"), lit(" card "),
          lpad(expr("CAST((doc_id * 7919) % 1000000000000000 AS STRING)"), 15, "0"),
          (col("doc_id") % 10).cast("string")))
        .withColumn("card", regexp_extract(col("t"), "[0-9]{16}", 0))
        .select(col("doc_id"), col("card"),
          expr(luhnExpr("card")).as("luhn_valid"))
    },

    Q("q_pii_scrub",
      s"""WITH x AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |           '@example.com or 555-867-5309'
         |      ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS clean,
         |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones
         |FROM x""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .withColumn("t", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-867-5309"))).otherwise(col("text")))
        .select(col("doc_id"), scrubPii(col("t")).as("p"))
        .select(col("doc_id"), col("p.clean").as("clean"),
          col("p.n_emails").cast("long").as("n_emails"),
          col("p.n_phones").cast("long").as("n_phones"))
    },

    // ---- deterministic train/val/test assignment --------------------------
    // Same md5-bucket arithmetic on both sides; the assignment is stable
    // under corpus growth (a doc's split never changes as others arrive).
    Q("q_split_assign", {
      val cases = Corpus.splitBounds(Splits)
        .map { case (l, hx) => s"WHEN ${oBucket("doc_id", "")} < '$hx' THEN '$l'" }
        .mkString(" ")
      s"""SELECT doc_id, source,
         |  CASE $cases ELSE '${Splits.last._1}' END AS split
         |FROM documents""".stripMargin
    }) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          splitAssign(col("doc_id"), Splits).as("split"))
    },

    // ---- weighted source mixing -------------------------------------------
    Q("q_mix_sources", {
      val keep = MixRates.map { case (src, rate) =>
        if (rate >= 1.0) s"source = '$src'"
        else s"(source = '$src' AND ${oBucket("doc_id", "mix")} < '${Corpus.hexBound(rate)}')"
      }.mkString(" OR ")
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents WHERE $keep GROUP BY source""".stripMargin
    }) { (s, d) =>
      Corpus.mixSources(Tables(s, d, "documents"), "source", "doc_id", MixRates)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
    },

    // ---- benchmark decontamination ----------------------------------------
    // Held-out "benchmark" = every 97th document; a corpus doc is
    // contaminated when it shares any word 5-gram with the benchmark set.
    // Spark counts distinct 64-bit gram hashes, the oracle distinct gram
    // strings — equal barring astronomically unlikely collisions.
    Q("q_decontaminate",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i, toks
         |      FROM t),
         |grams AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram FROM g),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
         |hits AS (SELECT g2.doc_id, CAST(count(DISTINCT g2.gram) AS BIGINT) AS n_shared
         |         FROM grams g2 JOIN bench USING (gram) GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
         |  h.doc_id IS NOT NULL AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents")
      Corpus.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5)
    },

    // ---- incremental dedup: delta batch vs existing corpus ----------------
    // Every 10th document plays the "newly ingested" delta; the rest is
    // the standing corpus. LSH banding probes corpus buckets only — no
    // delta-delta or corpus-corpus pairs — then exact Jaccard confirms.
    Q("q_dedup_delta", DeltaOracle) { (s, d) =>
      val docs = SynthText.docs(s, d)
      // 2-row bands (64/32): P(a true j>=0.8 pair misses every band) =
      // (1-0.8^2)^32 ~ 5e-15, so the exact all-pairs oracle match is
      // guaranteed by construction (not fixture luck); precision is exact
      // via the Jaccard confirm, so wider candidate sets only cost compute.
      graft.dedup.Dedup.nearDupDelta(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", threshold = 0.8, k = 3, numHashes = 64, bands = 32)
    }.atScale("ppjoin-replay", DeltaScaleOracle),

    // ---- incremental index UPDATE: build → append-merge → probe -----------
    // The full ingest loop: index built over doc_id%10 ∉ {0,5}, the %10=5
    // batch append-merged in (updateCorpusIndex — original corpus text
    // never rescanned), then the %10=0 batch probes the MERGED index. The
    // answers must equal probing the whole %10≠0 corpus directly, which
    // is exactly q_dedup_delta's oracle.
    Q("q_dedup_index_update", DeltaOracle) { (s, d) =>
      val docs = SynthText.docs(s, d)
      val path = Staged.dir(d, "graft_idxup") { w =>
        graft.dedup.Dedup.buildCorpusIndex(
          docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
          "doc_id", "text", s"$w/v1", k = 3, numHashes = 64, bands = 32)
        graft.dedup.Dedup.updateCorpusIndex(
          docs.filter(col("doc_id") % 10 === 5), s"$w/v1", s"$w/v2",
          "doc_id", "text", k = 3, numHashes = 64, bands = 32)
      }
      graft.dedup.Dedup.nearDupDeltaIndexed(
        docs.filter(col("doc_id") % 10 === 0), s"$path/v2",
        "doc_id", "text", threshold = 0.8, k = 3, numHashes = 64, bands = 32)
    }.atScale("ppjoin-replay", DeltaScaleOracle),

    // ---- GOLDEN corpus-curation pipeline ----------------------------------
    // The full selection cascade a pretraining corpus goes through, as ONE
    // query: language-ID plausibility → token-count band → lexical-
    // diversity and repetition (Gopher) filters → exact dedup (keep min
    // id) → benchmark decontamination → deterministic split assignment →
    // per-(split, source) corpus stats. All thresholds are integer
    // cross-multiplications, so the oracle compare is exact.
    Q("q_corpus_golden", {
      val hits = LangWordlists.map { case (l, ws) =>
        s"len(list_filter(toks, t -> t IN ${inList(ws)})) AS hits_$l"
      }.mkString(", ")
      val langs = LangWordlists.map(_._1)
      val m = s"greatest(${langs.map("hits_" + _).mkString(", ")})"
      val firstMax = langs.map(l => s"WHEN hits_$l = $m THEN '$l'").mkString(" ")
      val splitCases = Corpus.splitBounds(Splits)
        .map { case (l, hx) => s"WHEN ${oBucket("doc_id", "")} < '$hx' THEN '$l'" }
        .mkString(" ")
      s"""WITH t AS (SELECT doc_id, source, lang, text, $oToks AS toks FROM documents),
         |lp AS (SELECT doc_id, CASE WHEN $m = 0 THEN 'und' $firstMax END AS lang_pred
         |       FROM (SELECT doc_id, $hits FROM t)),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g FROM b),
         |bc AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2),
         |rep AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |        CAST(max(n) AS BIGINT) AS top_count FROM bc GROUP BY 1),
         |q AS (SELECT t.doc_id, t.source, t.text, len(t.toks) AS n_tokens
         |      FROM t JOIN lp USING (doc_id) LEFT JOIN rep USING (doc_id)
         |      WHERE lp.lang_pred = t.lang
         |        AND len(t.toks) BETWEEN 20 AND 1000
         |        AND len(list_distinct(t.toks)) * 10 >= len(t.toks) * 3
         |        AND coalesce(rep.top_count, 0) * 5 <= coalesce(rep.n_bigrams, 0)),
         |dd AS (SELECT *, row_number() OVER (
         |         PARTITION BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
         |         ORDER BY doc_id) AS rn FROM q),
         |g5 AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i, toks FROM t),
         |grams AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram FROM g5),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
         |contam AS (SELECT DISTINCT g2.doc_id FROM grams g2 JOIN bench USING (gram)),
         |kept AS (SELECT dd.doc_id, dd.source, dd.n_tokens FROM dd
         |         WHERE dd.rn = 1 AND dd.doc_id NOT IN (SELECT doc_id FROM contam)),
         |asn AS (SELECT source, CASE $splitCases ELSE '${Splits.last._1}' END AS split,
         |        n_tokens FROM kept)
         |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
         |FROM asn GROUP BY 1, 2""".stripMargin
    }) { (s, d) =>
      // documents.parquet at test SFs is ONE file → one scan partition;
      // the tokenize/langID/repetition cascade is CPU-bound per row, so
      // under-splitting serializes it on a single core (no-op at scale)
      val docs = Par.ensureMin(Tables(s, d, "documents"))
      // token count + distinct count from ONE native pass (TokenStats)
      // instead of two split()+array_distinct() evaluations per row
      val stats = docs.select(col("doc_id"), col("source"), col("lang"), col("text"),
        graft.text.TextFunctions.tokenStats(col("text")).as("ts"),
        repetitionStats(col("text"), 2).as("rep"),
        langId(col("text")).as("lang_pred"))
        .withColumn("n_tokens", col("ts.n_tokens"))
        .withColumn("n_uniq", col("ts.n_uniq_tokens"))
      // filterOnce: the quality predicates reference every expensive
      // kernel; plain .filter would push through the projection and
      // re-evaluate each kernel per predicate (profiled 2.2 s vs 0.5 s
      // at sf0.1 — see Par.filterOnce)
      val q = Par.filterOnce(stats, col("lang_pred") === col("lang") &&
        col("n_tokens").between(20, 1000) &&
        col("n_uniq") * 10 >= col("n_tokens") * 3 &&
        col("rep.top_count") * 5 <= col("rep.n_ngrams"))
      // Exact dedup keyed on md5(norm_text) — NOT the normalized text
      // itself: the shuffle key is 16 bytes instead of the whole document
      // (same license as Dedup.contentHash/keepBest; md5 collisions are
      // negligible). min(struct(doc_id, ...)) replaces the row_number
      // window: map-side partial min, one row per group per partition
      // pre-shuffle, keeps the smallest doc_id deterministically.
      // persist the surviving slice: both the decontamination gram scan
      // and the final join-back reference it — without this the whole
      // tokenize/langID/repetition cascade re-evaluates per reference.
      // MEMORY_AND_DISK; released by the harness's clearCache (a builder
      // cannot unpersist before its lazy result is materialized).
      val dd = q.groupBy(
          md5(graft.dedup.Dedup.normalizeText(col("text")).cast("binary")).as("_h"))
        .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"),
          col("text"))).as("_keep"))
        .select(col("_keep.doc_id").as("doc_id"), col("_keep.source").as("source"),
          col("_keep.n_tokens").as("n_tokens"), col("_keep.text").as("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val clean = Corpus.decontaminate(dd.select("doc_id", "text"),
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
        .filter(!col("contaminated")).select("doc_id")
      dd.join(clean, "doc_id")
        .select(Corpus.splitAssign(col("doc_id"), Splits).as("split"),
          col("source"), col("n_tokens"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens_total"))
    },

    // ---- count-based LM fluency scoring (KenLM-style lookup) --------------
    // Bigram counts trained on the %10≠0 split; each held-out (%10=0)
    // document scores as the SUM of its bigrams' training counts plus its
    // OOV-bigram count — the integer-exact count-based proxy for LM
    // perplexity (monotone in the add-one-smoothed log-prob for fixed
    // length; no float log crosses the engine boundary). Scale shape:
    // one bigram-keyed shuffle builds the count table, one
    // vocabulary-sized join scores the held-out side.
    Q("q_lm_score",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |train AS (SELECT bg, CAST(count(*) AS BIGINT) AS c
         |          FROM g WHERE doc_id % 10 <> 0 GROUP BY 1)
         |SELECT g.doc_id,
         |  CAST(sum(coalesce(train.c, 0)) AS BIGINT) AS fluency,
         |  CAST(count(*) FILTER (WHERE train.c IS NULL) AS BIGINT) AS oov_bigrams
         |FROM g LEFT JOIN train ON g.bg = train.bg
         |WHERE g.doc_id % 10 = 0
         |GROUP BY g.doc_id""".stripMargin) { (s, d) =>
      val toks = Par.filterOnce(
        Tables(s, d, "documents")
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("_t")),
        size(col("_t")) >= 2)
      val grams = toks.select(col("doc_id"), explode(
          expr("transform(sequence(0, size(_t) - 2), i -> concat(_t[i], ' ', _t[i + 1]))"))
        .as("bg"))
      val train = grams.filter(col("doc_id") % 10 =!= 0)
        .groupBy("bg").agg(count(lit(1)).as("c"))
      grams.filter(col("doc_id") % 10 === 0)
        .join(train, Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("c"), lit(0L))).as("fluency"),
          count(when(col("c").isNull, 1)).as("oov_bigrams"))
    },

    // ---- CCNet-style head/middle/tail LM-quality buckets ------------------
    // The CCNet recipe: score documents with a cheap LM, rank within a
    // stratum, and cut the corpus into head (most fluent) / middle /
    // tail thirds — training mixes then oversample the head. Here the
    // count-LM fluency (q_lm_score's train/held-out split) normalizes to
    // an integer per-bigram ppm score; exact rank tertiles per source
    // ((3·(rn−1)) div n over a deterministic (score, doc_id) order — no
    // ntile, whose tie behavior differs across engines); report mass per
    // (source, bucket). Scale shape: one bigram shuffle for the LM, one
    // vocabulary-sized join, one source-keyed window.
    Q("q_ccnet_buckets",
      s"""WITH t AS (SELECT doc_id, source, $oToks AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |train AS (SELECT bg, CAST(count(*) AS BIGINT) AS c
         |          FROM g WHERE doc_id % 10 <> 0 GROUP BY 1),
         |held AS (SELECT g.doc_id,
         |    CAST(sum(coalesce(train.c, 0)) AS BIGINT) AS fluency,
         |    CAST(count(*) AS BIGINT) AS nbg
         |  FROM g LEFT JOIN train ON g.bg = train.bg
         |  WHERE g.doc_id % 10 = 0 GROUP BY g.doc_id),
         |sc AS (SELECT t.source, held.doc_id,
         |    CAST((fluency * 1000000) // greatest(nbg, 1) AS BIGINT) AS score_ppm,
         |    len(t.toks) AS ntok
         |  FROM held JOIN t ON held.doc_id = t.doc_id),
         |rk AS (SELECT source, doc_id, score_ppm, ntok,
         |    row_number() OVER (PARTITION BY source ORDER BY score_ppm, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM sc)
         |SELECT source,
         |  CASE (3 * (rn - 1)) // n WHEN 2 THEN 'head' WHEN 1 THEN 'middle'
         |    ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(min(score_ppm) AS BIGINT) AS min_ppm,
         |  CAST(max(score_ppm) AS BIGINT) AS max_ppm
         |FROM rk GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), split(trim(col("text")), "\\s+").as("toks"))
      val grams = Par.filterOnce(t.select(col("doc_id"), col("toks")),
          size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("bg"))
      val train = grams.filter(col("doc_id") % 10 =!= 0)
        .groupBy("bg").agg(count(lit(1)).as("c"))
      val held = grams.filter(col("doc_id") % 10 === 0)
        .join(train, Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(sum(coalesce(col("c"), lit(0L))).as("fluency"),
          count(lit(1)).as("nbg"))
      val sc = held.join(t.select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("ntok")), "doc_id")
        .select(col("source"), col("doc_id"), col("ntok"),
          expr("CAST((fluency * 1000000) div greatest(nbg, 1) AS BIGINT)").as("score_ppm"))
      val w = Window.partitionBy("source").orderBy("score_ppm", "doc_id")
      sc.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .withColumn("bucket", expr(
          "CASE (3 * (rn - 1)) div n WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
          min(col("score_ppm")).as("min_ppm"), max(col("score_ppm")).as("max_ppm"))
    },

    // ---- per-source length profile: exact p10/p50/p90 token counts --------
    // The first chart any curation review asks for — are a feed's
    // documents the right SIZE? Exact rank picks ((n·q) div 100 with a
    // (ntok, doc_id) total order — the q_interarrival device, immune to
    // engine percentile-interpolation differences), one source-keyed
    // window + rollup.
    Q("q_length_profile",
      s"""WITH t AS (SELECT doc_id, source, len($oToks) AS ntok FROM documents),
         |r AS (SELECT source, doc_id, ntok,
         |    row_number() OVER (PARTITION BY source ORDER BY ntok, doc_id) AS rn,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM t),
         |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS total_tokens FROM t GROUP BY 1)
         |SELECT m.source, m.n_docs, m.total_tokens,
         |  CAST(p10.ntok AS BIGINT) AS p10_tokens,
         |  CAST(p50.ntok AS BIGINT) AS p50_tokens,
         |  CAST(p90.ntok AS BIGINT) AS p90_tokens
         |FROM m
         |JOIN r p10 ON p10.source = m.source
         |  AND p10.rn = greatest((p10.n * 10) // 100, 1)
         |JOIN r p50 ON p50.source = m.source AND p50.rn = (p50.n + 1) // 2
         |JOIN r p90 ON p90.source = m.source
         |  AND p90.rn = greatest((p90.n * 90) // 100, 1)""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents").select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("ntok"))
      val r = t.select(col("source"), col("doc_id"), col("ntok"),
        row_number().over(Window.partitionBy("source")
          .orderBy("ntok", "doc_id")).as("rn"),
        count(lit(1)).over(Window.partitionBy("source")).as("n"))
      val m = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"))
      val p10 = r.filter(col("rn") === expr("greatest((n * 10) div 100, 1L)"))
        .select(col("source"), col("ntok").as("p10_tokens"))
      val p50 = r.filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("source"), col("ntok").as("p50_tokens"))
      val p90 = r.filter(col("rn") === expr("greatest((n * 90) div 100, 1L)"))
        .select(col("source"), col("ntok").as("p90_tokens"))
      m.join(p10, "source").join(p50, "source").join(p90, "source")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("p10_tokens"), col("p50_tokens"), col("p90_tokens"))
    },

    // ---- tokenizer fertility by language ----------------------------------
    // Subwords-per-token (ppm) per language — THE multilingual tokenizer
    // diagnostic: high fertility means a language pays more sequence
    // budget per word (and trains worse at a fixed context). Pure
    // map-side per-doc stats + one lang-keyed rollup.
    Q("q_tok_fertility",
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($oToks)) AS BIGINT) AS n_tokens,
         |  CAST(sum(coalesce(list_sum(list_transform($oToks,
         |    t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INT)))), 0)) AS BIGINT) AS n_subwords,
         |  CAST((sum(coalesce(list_sum(list_transform($oToks,
         |    t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INT)))), 0)) * 1000000)
         |    // greatest(sum(len($oToks)), 1) AS BIGINT) AS fertility_ppm
         |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("lang"), tokenCount(col("text")).cast("long").as("ntok"),
          coalesce(graft.text.TextFunctions.subwordCount(col("text")).cast("long"),
            lit(0L)).as("nsw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"),
          sum(col("nsw")).as("n_subwords"))
        .withColumn("fertility_ppm",
          expr("CAST((n_subwords * 1000000) div greatest(n_tokens, 1) AS BIGINT)"))
    },

    // ---- collocation extraction (PMI lift, restated log-free) -------------
    // PMI(w1,w2) > ln 1.25  ⟺  4·n_ab·N² > 5·M·n_a·n_b with unigram total N,
    // bigram total M — the log never evaluates, so the test is exact
    // BIGINT cross-multiplication (same no-float-log device as q_keywords
    // and q_lm_score; products stay < 2^62 up to ~10⁹ tokens, beyond that
    // promote to DECIMAL). One token-keyed and one bigram-keyed shuffle;
    // the two corpus totals ride along as labeled 1-row broadcasts.
    Q("q_collocations",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM b),
         |u0 AS (SELECT unnest(toks) AS w FROM t),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM u0 GROUP BY w),
         |nn AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM uni),
         |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab FROM g
         |       GROUP BY w1, w2 HAVING count(*) >= 5),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_tot FROM g)
         |SELECT w1, w2, n_ab, ua.n AS n_w1, ub.n AS n_w2
         |FROM bg JOIN uni ua ON w1 = ua.w JOIN uni ub ON w2 = ub.w, nn, mm
         |WHERE 4 * n_ab * n_tot * n_tot > 5 * m_tot * ua.n * ub.n""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      val g = Par.filterOnce(t, size(col("toks")) >= 2)
        .select(posexplode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")))
        .select(col("col.w1"), col("col.w2"))
        .persist() // feeds bigram counts AND the M total; harness-released
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .persist() // joined twice + the N total; harness-released
      val nTot = uni.agg(sum(col("n")).as("n_tot"))
      val mTot = g.agg(count(lit(1)).as("m_tot"))
      g.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
        .join(uni.toDF("w", "n_w1"), col("w1") === col("w"))
        .drop("w")
        .join(uni.toDF("w", "n_w2"), col("w2") === col("w"))
        .drop("w")
        .join(broadcast(nTot)) // 1-row scalar: intentional cross join
        .join(broadcast(mTot)) // 1-row scalar: intentional cross join
        .filter(lit(4L) * col("n_ab") * col("n_tot") * col("n_tot") >
          lit(5L) * col("m_tot") * col("n_w1") * col("n_w2"))
        .select("w1", "w2", "n_ab", "n_w1", "n_w2")
    },

    // ---- corpus-frequency boilerplate line removal ------------------------
    // The synthetic corpus is single-line, so both sides append the same
    // deterministic footer lines first (two site-wide footers in 1/2 and
    // 1/3 of docs, a 10-doc "editor note" family in 1/5): lines shared by
    // ≥20 distinct docs are cut, the rarer notes and the body survive.
    Q("q_boilerplate",
      """WITH x AS (SELECT doc_id, concat(coalesce(text, ''),
        |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Read more at our site' ELSE '' END,
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'All rights reserved 2024' ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 AND doc_id < 500 THEN chr(10) || 'Editor note ' || CAST(doc_id % 50 AS VARCHAR) ELSE '' END) AS t
        |  FROM documents),
        |s AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM x),
        |l AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM s),
        |ln AS (SELECT doc_id, i, ls[i] AS line FROM l),
        |f AS (SELECT line FROM ln GROUP BY line HAVING count(DISTINCT doc_id) >= 20),
        |m AS (SELECT ln.doc_id, ln.i, ln.line, f.line IS NOT NULL AS boiler
        |      FROM ln LEFT JOIN f ON ln.line = f.line)
        |SELECT doc_id,
        |  coalesce(string_agg(line, chr(10) ORDER BY i) FILTER (WHERE NOT boiler), '') AS clean,
        |  count(*) FILTER (WHERE boiler) AS n_removed
        |FROM m GROUP BY doc_id""".stripMargin) { (s, d) =>
      // the note family is capped to doc_id < 500 so each 'Editor note k'
      // line stays a 10-doc family at EVERY scale factor (without the cap
      // it grows with the corpus and crosses the >=20 threshold at sf0.1,
      // silently un-exercising the survive branch); the oracle coalesce
      // mirrors removeBoilerplate's '' for an all-boilerplate document
      // (string_agg over zero rows is NULL, array_join over [] is '')
      // coalesce on BOTH sides: DuckDB's concat ignores NULL args while
      // Spark's returns NULL — a null-text doc would otherwise get
      // clean='' in the oracle but vanish from the Spark output entirely
      // (split(NULL) → posexplode emits no rows)
      val injected = Tables(s, d, "documents").select(col("doc_id"), concat(
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 2 === 0, lit("\nRead more at our site")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("\nAll rights reserved 2024")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0 && col("doc_id") < 500,
          concat(lit("\nEditor note "), (col("doc_id") % 50).cast("string")))
          .otherwise(lit(""))).as("t"))
      Corpus.removeBoilerplate(injected, "doc_id", "t", minDocs = 20)
    },

    // ---- keyword extraction: tf-idf-style ranking, engine-exact -----------
    // Top-3 tokens per document ranked by (tf DESC, df ASC, token ASC) —
    // the tf-idf ordering restated over integer sort keys only, so the
    // ranking is bit-exact across engines (no float log in the compare).
    Q("q_keywords",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
         |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, token, tf, df, rank FROM (
         |  SELECT doc_id, token, tf, df,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df ASC, token ASC) AS rank
         |  FROM tf JOIN df USING (token))
         |WHERE rank <= 3""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // document frequency over the tf frame (already distinct per doc);
      // token-keyed shuffle join — vocabulary-sized, not corpus-sized
      val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("token").asc)
      tf.join(dfq, "token")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "token", "tf", "df", "rank")
    },

    // ---- template dedup (variable-span normalization) ---------------------
    // Templated documents — receipts, log lines, boilerplate mail —
    // differ only in numbers and spacing, so exact dedup misses them and
    // MinHash wastes near-dup budget on them. Canonicalize FIRST (lower,
    // digit runs → '0', whitespace runs → one space, trim), then
    // exact-group on the md5 of the canonical form: one 16-byte-key
    // shuffle, the q_dedup_exact scale shape, catching an entire
    // duplicate class structural hashing gets for free. Both engines
    // spell the same two regexes (global flag explicit in DuckDB, whose
    // regexp_replace is first-match by default — the classic drift
    // trap). Output: doc → canonical representative + template size.
    Q("q_dedup_template",
      """WITH c AS (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[0-9]+', '0', 'g'), '\s+', ' ', 'g'))) AS tkey
        |  FROM documents),
        |g AS (SELECT tkey, CAST(min(doc_id) AS BIGINT) AS canon_id,
        |    CAST(count(*) AS BIGINT) AS n_in_template
        |  FROM c GROUP BY 1)
        |SELECT c.doc_id, g.canon_id, g.n_in_template,
        |  CAST(c.doc_id = g.canon_id AS BOOLEAN) AS is_canonical
        |FROM c JOIN g USING (tkey)""".stripMargin) { (s, d) =>
      val tkey = md5(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[0-9]+", "0"), "\\s+", " ")))
      val c = Tables(s, d, "documents").select(col("doc_id"), tkey.as("tkey"))
      val g = c.groupBy("tkey")
        .agg(min(col("doc_id")).as("canon_id"),
          count(lit(1)).as("n_in_template"))
      c.join(g, "tkey")
        .select(col("doc_id"), col("canon_id"), col("n_in_template"),
          (col("doc_id") === col("canon_id")).as("is_canonical"))
    },

    // ---- bag-of-words dedup (order-insensitive exact) ---------------------
    // Shuffled-sentence / reordered-list duplicates: same token MULTISET,
    // different order — invisible to exact dedup, expensive for MinHash
    // (identical shingle profiles only if order matches). Key = md5 of
    // the sorted token sequence; same 16-byte-key shuffle as exact
    // dedup. Both engines sort with plain string collation over
    // whitespace tokens.
    Q("q_dedup_bow",
      """WITH c AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(
        |      regexp_split_to_array(trim(text), '\s+')), ' ')) AS bkey
        |  FROM documents),
        |g AS (SELECT bkey, CAST(min(doc_id) AS BIGINT) AS canon_id,
        |    CAST(count(*) AS BIGINT) AS n_in_group
        |  FROM c GROUP BY 1)
        |SELECT c.doc_id, g.canon_id, g.n_in_group,
        |  CAST(c.doc_id = g.canon_id AS BOOLEAN) AS is_canonical
        |FROM c JOIN g USING (bkey)""".stripMargin) { (s, d) =>
      val bkey = md5(concat_ws(" ",
        array_sort(split(trim(col("text")), "\\s+"))))
      val c = Tables(s, d, "documents")
        .select(col("doc_id"), bkey.as("bkey"))
      val g = c.groupBy("bkey")
        .agg(min(col("doc_id")).as("canon_id"),
          count(lit(1)).as("n_in_group"))
      c.join(g, "bkey")
        .select(col("doc_id"), col("canon_id"), col("n_in_group"),
          (col("doc_id") === col("canon_id")).as("is_canonical"))
    },

    // ---- the full dedup cascade as ONE pipeline (golden) ------------------
    // How production dedup actually runs: cheap exact stages first, the
    // expensive near-dup pass LAST over the already-thinned survivors —
    // exact (md5 text) → template (digit/space-normalized) → bag-of-
    // words (sorted multiset) → MinHash-LSH near-dup (J ≥ 0.8, exact-
    // confirmed). Each stage keeps the min-id representative; the funnel
    // report (n_in → n_out per stage) is what a curation run publishes.
    // Ordering is the scale lever: every 16-byte-key stage shrinks the
    // candidate set before the banding join pays its shuffle. The
    // oracle replays all four stages as chained CTEs, with stage 4 on
    // TRUE all-pairs Jaccard — deliberately inheriting q_dedup_minhash's
    // recall contract (64 hashes × 16 bands leaves ~2e-4 miss odds per
    // threshold-0.8 pair; empty shingle sets are excluded on BOTH sides
    // so sub-3-token docs can never pair). At corpora where the expected
    // miss count approaches 1, verify the funnel against a banding
    // REPLAY instead of ground truth.
    Q("q_dedup_golden",
      """WITH d0 AS (SELECT doc_id, text FROM documents),
        |e1 AS (SELECT doc_id, text, md5(text) AS k FROM d0),
        |s1 AS (SELECT min(doc_id) AS doc_id FROM e1 GROUP BY k),
        |d1 AS (SELECT e1.doc_id, e1.text FROM e1 JOIN s1 USING (doc_id)),
        |e2 AS (SELECT doc_id, text,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[0-9]+', '0', 'g'), '\s+', ' ', 'g'))) AS k FROM d1),
        |s2 AS (SELECT min(doc_id) AS doc_id FROM e2 GROUP BY k),
        |d2 AS (SELECT e2.doc_id, e2.text FROM e2 JOIN s2 USING (doc_id)),
        |e3 AS (SELECT doc_id, text, md5(array_to_string(list_sort(
        |    regexp_split_to_array(trim(text), '\s+')), ' ')) AS k FROM d2),
        |s3 AS (SELECT min(doc_id) AS doc_id FROM e3 GROUP BY k),
        |d3 AS (SELECT e3.doc_id, e3.text FROM e3 JOIN s3 USING (doc_id)),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1,
        |      greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0)),
        |    i -> array_to_string(
        |      regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS g
        |  FROM d3),
        |p AS (SELECT b.doc_id AS id_b FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(a.g) > 0 AND len(b.g) > 0
        |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
        |      >= 0.8),
        |dr AS (SELECT DISTINCT id_b FROM p)
        |SELECT t.stage, t.n_in, t.n_out, t.n_in - t.n_out AS n_removed
        |FROM (VALUES
        |  ('1_exact', (SELECT count(*) FROM d0), (SELECT count(*) FROM d1)),
        |  ('2_template', (SELECT count(*) FROM d1),
        |    (SELECT count(*) FROM d2)),
        |  ('3_bow', (SELECT count(*) FROM d2), (SELECT count(*) FROM d3)),
        |  ('4_neardup', (SELECT count(*) FROM d3),
        |    (SELECT count(*) FROM d3) - (SELECT count(*) FROM dr)))
        |  t(stage, n_in, n_out)""".stripMargin) { (s, d) =>
      // r15: Scale.fanOutScan at d0 was A/B'd and REJECTED (isolated
      // bench leg 2.42 → 2.67 s, calibration-matched): the cascade's
      // wall is the serial checkpoint barriers plus many SHORT stages,
      // and 32-way fan-out adds an exchange plus per-stage task overhead
      // without shortening the barrier chain.
      val d0 = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      def keep(df: org.apache.spark.sql.DataFrame,
          key: org.apache.spark.sql.Column) = {
        val surv = df.select(col("doc_id"), key.as("k"))
          .groupBy("k").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        df.join(surv, "doc_id")
      }
      // each stage feeds BOTH the next stage and its own funnel count
      // (and d3 additionally feeds the banding join) — pin each once as
      // a GC-managed local checkpoint so the md5/regex normalizations
      // and groupBys run once, not once per downstream count
      val d1 = keep(d0, md5(col("text"))).localCheckpoint()
      val d2 = keep(d1, md5(trim(regexp_replace(regexp_replace(
        lower(col("text")), "[0-9]+", "0"), "\\s+", " "))))
        .localCheckpoint()
      val d3 = keep(d2, md5(concat_ws(" ",
        array_sort(split(trim(col("text")), "\\s+")))))
        .localCheckpoint()
      val drop = graft.dedup.Dedup
        .nearDupMinhash(d3, "doc_id", "text",
          threshold = 0.8, k = 3, numHashes = 64, bands = 32)
        .select(col("id_b").as("doc_id")).distinct()
      val d4 = d3.join(drop, Seq("doc_id"), "left_anti")
      val counts = d0.agg(count(lit(1)).as("n0"))
        .crossJoin(d1.agg(count(lit(1)).as("n1")))
        .crossJoin(d2.agg(count(lit(1)).as("n2")))
        .crossJoin(d3.agg(count(lit(1)).as("n3")))
        .crossJoin(d4.agg(count(lit(1)).as("n4")))
      counts.select(expr(
        """stack(4,
          |  '1_exact', n0, n1,
          |  '2_template', n1, n2,
          |  '3_bow', n2, n3,
          |  '4_neardup', n3, n4) AS (stage, n_in, n_out)""".stripMargin))
        .withColumn("n_removed", col("n_in") - col("n_out"))
    }.atScale("linear-stages+ppjoin-replay",
      // stages 1-3 are linear hash dedups (unchanged); only stage 4's
      // all-pairs neardup enumeration is replaced by the lossless
      // prefix-filtered join over the SAME d3 shingles
      raw"""WITH d0 AS (SELECT doc_id, text FROM documents),
        |e1 AS (SELECT doc_id, text, md5(text) AS k FROM d0),
        |s1 AS (SELECT min(doc_id) AS doc_id FROM e1 GROUP BY k),
        |d1 AS (SELECT e1.doc_id, e1.text FROM e1 JOIN s1 USING (doc_id)),
        |e2 AS (SELECT doc_id, text,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[0-9]+', '0', 'g'), '\s+', ' ', 'g'))) AS k FROM d1),
        |s2 AS (SELECT min(doc_id) AS doc_id FROM e2 GROUP BY k),
        |d2 AS (SELECT e2.doc_id, e2.text FROM e2 JOIN s2 USING (doc_id)),
        |e3 AS (SELECT doc_id, text, md5(array_to_string(list_sort(
        |    regexp_split_to_array(trim(text), '\s+')), ' ')) AS k FROM d2),
        |s3 AS (SELECT min(doc_id) AS doc_id FROM e3 GROUP BY k),
        |d3 AS (SELECT e3.doc_id, e3.text FROM e3 JOIN s3 USING (doc_id)),
        |${ScaleOracles.wordShingleCte("d3")},
        |${ScaleOracles.ppjoinPairCtes(4, 5)},
        |dr AS (SELECT DISTINCT id_b FROM p)
        |SELECT t.stage, t.n_in, t.n_out, t.n_in - t.n_out AS n_removed
        |FROM (VALUES
        |  ('1_exact', (SELECT count(*) FROM d0), (SELECT count(*) FROM d1)),
        |  ('2_template', (SELECT count(*) FROM d1),
        |    (SELECT count(*) FROM d2)),
        |  ('3_bow', (SELECT count(*) FROM d2), (SELECT count(*) FROM d3)),
        |  ('4_neardup', (SELECT count(*) FROM d3),
        |    (SELECT count(*) FROM d3) - (SELECT count(*) FROM dr)))
        |  t(stage, n_in, n_out)""".stripMargin),

    // ---- per-source language composition ----------------------------------
    // The corpus-mix report a multilingual pipeline publishes per ingest:
    // how many languages each source carries and which dominates (mode
    // with lexicographic tiebreak — deterministic, never hash luck),
    // with the dominant share in basis points. Grid-sized aggregation
    // throughout.
    Q("q_lang_mix",
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, sum(n) AS total,
        |    CAST(count(*) AS BIGINT) AS n_langs FROM c GROUP BY 1),
        |r AS (SELECT source, lang, n,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, lang) AS rn FROM c)
        |SELECT t.source, CAST(t.total AS BIGINT) AS n_docs, t.n_langs,
        |  r.lang AS top_lang,
        |  CAST((r.n * 10000) // t.total AS BIGINT) AS top_share_bp
        |FROM t JOIN r ON r.source = t.source AND r.rn = 1""".stripMargin) {
      (s, d) =>
      val c = Tables(s, d, "documents").groupBy("source", "lang")
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy("source")
        .agg(sum(col("n")).as("total"), count(lit(1)).as("n_langs"))
      val r = c.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("n").desc, col("lang"))))
        .filter(col("rn") === 1)
      t.join(r, "source")
        .select(col("source"), col("total").cast("long").as("n_docs"),
          col("n_langs"), col("lang").as("top_lang"),
          expr("(n * 10000) div total").as("top_share_bp"))
    },

    // ---- type-token ratio (lexical richness) ------------------------------
    // Distinct-token share per document in basis points — low TTR flags
    // repetitive/templated text (the cheap cousin of the Gopher
    // repetition gate), high TTR at short length flags word salad. Both
    // engines split identically; the ratio is one floor division.
    Q("q_ttr",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         |  CAST(CASE WHEN len(toks) = 0 THEN NULL
         |    ELSE (len(list_distinct(toks)) * 10000) // len(toks)
         |  END AS BIGINT) AS ttr_bp
         |FROM t""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_types"))
        .withColumn("ttr_bp",
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr("(n_types * 10000) div n_tokens")))
    },

    // ---- per-source duplication rate ---------------------------------------
    // Which ingest sources are polluting the corpus with copies? Exact
    // text-dup rate segmented by source: docs, distinct texts, and the
    // redundancy in basis points — the report that decides which feeds
    // get a dedup pass FIRST. One (source, md5) aggregation.
    Q("q_dup_by_source",
      """WITH g AS (SELECT source, md5(text) AS k,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(((sum(n) - count(*)) * 10000) // sum(n) AS BIGINT)
        |    AS dup_rate_bp
        |FROM g GROUP BY 1""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(col("source"), md5(col("text")).as("k"))
        .agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          expr("((n_docs - n_unique) * 10000) div n_docs")
            .as("dup_rate_bp"))
    },

    // ---- homoglyph normalization (dedup-evasion counter) ------------------
    // Adversarial near-dup evasion swaps Latin letters for identical-
    // looking Cyrillic/Greek codepoints; exact and MinHash dedup both
    // miss the swap because the BYTES differ. Counter: translate() the
    // common confusable set back to Latin before keying — both engines
    // define translate identically over 1:1 codepoint maps. The fixture
    // carries no Cyrillic, so both sides INJECT the evasion
    // deterministically (every 5th doc gets its 'a'/'e'/'o' swapped to
    // а/е/о) and the query proves the normalized key re-unites evaded
    // docs with their originals. Same 16-byte-key scale shape as exact
    // dedup.
    Q("q_homoglyph",
      """WITH x AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN translate(text, 'aeo', 'аео') ELSE text END AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |    translate(t, 'аео', 'aeo') AS norm FROM x),
        |g AS (SELECT md5(norm) AS k, CAST(min(doc_id) AS BIGINT)
        |      AS canon_id, CAST(count(*) AS BIGINT) AS n_in_group
        |  FROM n GROUP BY 1)
        |SELECT n.doc_id, g.canon_id, g.n_in_group,
        |  CAST(n.t <> n.norm AS BOOLEAN) AS was_evaded
        |FROM n JOIN g ON md5(n.norm) = g.k""".stripMargin) { (s, d) =>
      val t = when(col("doc_id") % 5 === 0,
        translate(col("text"), "aeo", "аео")).otherwise(col("text"))
      val n = Tables(s, d, "documents")
        .select(col("doc_id"), t.as("t"))
        .withColumn("norm", translate(col("t"), "аео", "aeo"))
      val g = n.groupBy(md5(col("norm")).as("k"))
        .agg(min(col("doc_id")).as("canon_id"),
          count(lit(1)).as("n_in_group"))
      n.join(g, md5(col("norm")) === col("k"))
        .select(col("doc_id"), col("canon_id"), col("n_in_group"),
          (col("t") =!= col("norm")).as("was_evaded"))
    },

    // ---- PPS sampling (probability proportional to size) ------------------
    // Length-biased corpus subsampling with unbiased reweighting. The
    // inclusion scale is 2^20 (1048576), which DIVIDES the 6-nibble hash
    // space 2^24 — so the md5 draw is EXACTLY uniform over [0, 2^20) and
    // the stated inclusion probability p/2^20 is the true one (a 10^6
    // modulus would carry a ~6% residue bias; the same divisibility rule
    // Scale.shardShuffle enforces for shards). p is floored at 1 so every
    // document is reachable — Horvitz-Thompson requires p > 0 — and the
    // HT weight 2^20/p is emitted in ppm by floor division. Pure map
    // over a 1-row broadcast; bit-reproducible: the oracle replays the
    // exact draw.
    Q("q_pps_sample", {
      val u = Tables.hexUniform("md5(CAST(doc_id AS VARCHAR) || 'pps')",
        1048576L)
      s"""WITH m AS (SELECT max(n_chars) AS mx FROM documents),
         |p AS (SELECT doc_id, source, n_chars,
         |    greatest(1, least(1048576, (n_chars * 1048576) // mx))
         |      AS p_meg, $u AS u
         |  FROM documents CROSS JOIN m)
         |SELECT doc_id, source, CAST(p_meg AS BIGINT) AS p_meg,
         |  CAST(u < p_meg AS BOOLEAN) AS included,
         |  CAST((CAST(1048576 AS BIGINT) * 1000000) // p_meg AS BIGINT)
         |    AS ht_ppm
         |FROM p""".stripMargin
    }) { (s, d) =>
      val u = expr(
        Tables.hexUniform("md5(CAST(doc_id AS STRING) || 'pps')", 1048576L))
      val m = Tables(s, d, "documents").agg(max(col("n_chars")).as("mx"))
      Tables(s, d, "documents").crossJoin(broadcast(m))
        .select(col("doc_id"), col("source"),
          greatest(lit(1L), least(lit(1048576L),
            expr("(n_chars * 1048576L) div mx"))).as("p_meg"), u.as("u"))
        .select(col("doc_id"), col("source"), col("p_meg"),
          (col("u") < col("p_meg")).as("included"),
          expr("(1048576L * 1000000L) div p_meg").as("ht_ppm"))
    },

    // ---- winnowing fingerprints (Schleimer et al., SIGMOD 2003) -----------
    // The MOSS document-fingerprinting guarantee the rolling-hash picks
    // of q_fingerprint lack: every shared substring of >= w+k-1 tokens
    // is DETECTED (some fingerprint of it is selected in both copies),
    // yet only ~2/(w+1) of gram hashes survive — a provable
    // detect-vs-store tradeoff. k=3-token grams, window w=4, rightmost
    // min per window. The hash (first 8 md5 hex digits as an integer)
    // and the argmin are engine-identical: each gram packs into ONE
    // BIGINT  h·10^7 + (10^7-1-pos)  so "min key" IS "min hash, ties to
    // the RIGHTMOST position" — no struct comparisons, no floats. The
    // 10^7 position base bounds docs at 10M tokens (far beyond any
    // training document; keys stay < 2^63). Entirely doc-local
    // higher-order functions: ZERO shuffles at any corpus scale — the
    // ideal 100 TB shape (a map-only pass), unlike a posexplode+window
    // formulation that would shuffle every gram on doc_id.
    Q("q_winnowing",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |k AS (SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         |      i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8)) AS BIGINT)
         |             * 10000000 + (9999999 - i)) AS keys
         |  FROM t),
         |w AS (SELECT doc_id, CAST(len(keys) AS BIGINT) AS n_grams,
         |    list_distinct(list_transform(generate_series(4, len(keys)),
         |      i -> list_min(keys[i-3:i]))) AS fps
         |  FROM k)
         |SELECT doc_id, n_grams, CAST(len(fps) AS BIGINT) AS n_fp,
         |  CAST(coalesce(list_sum(list_transform(fps, x -> x // 10000000)), 0)
         |    AS BIGINT) AS fp_hash_sum
         |FROM w""".stripMargin) { (s, d) =>
      winnowing(Tables(s, d, "documents"))
        .select(col("doc_id"), col("n_grams"),
          size(col("fps")).cast("long").as("n_fp"),
          expr("aggregate(fps, 0L, (acc, x) -> acc + x div 10000000L)")
            .as("fp_hash_sum"))
    },

    // ---- winnowing near-dup candidates (MOSS-style overlap join) ----------
    // The dedup operator winnowing exists FOR: docs sharing >= 3
    // selected fingerprint HASHES are near-dup/plagiarism candidates,
    // scored by shared count and containment ppm against the smaller
    // side. Selection already shrinks each doc to ~2/(w+1) of its grams,
    // and a document-frequency cap (df <= 20) drops stop-fingerprints
    // BEFORE the pair join — the same posting-cap device as the inverted
    // index, keeping the hash-keyed equi-join linear at 100 TB (a hot
    // trigram never fans out). All counts integer; non-negative `div`.
    Q("q_winnow_dedup",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |k AS (SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         |      i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8)) AS BIGINT)
         |             * 10000000 + (9999999 - i)) AS keys
         |  FROM t),
         |w AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      list_distinct(list_transform(generate_series(4, len(keys)),
         |        i -> list_min(keys[i-3:i]))), x -> x // 10000000)) AS hs
         |  FROM k),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM w),
         |df AS (SELECT h, count(*) AS c FROM e GROUP BY h),
         |e2 AS (SELECT e.doc_id, e.h FROM e JOIN df USING (h) WHERE df.c <= 20),
         |sz AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS nh FROM w),
         |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT a_id, b_id, n_shared, sa.nh AS nh_a, sb.nh AS nh_b,
         |  CAST((n_shared * 1000000) // least(sa.nh, sb.nh) AS BIGINT) AS overlap_ppm
         |FROM p JOIN sz sa ON a_id = sa.doc_id
         |       JOIN sz sb ON b_id = sb.doc_id""".stripMargin) { (s, d) =>
      winnowOverlapPairs(Tables(s, d, "documents"), dfCap = 20L, minShared = 3L)
    },

    // ---- content-defined chunking: storage-dedup savings report -----------
    // The FastCDC/LBFS primitive at word granularity: a chunk boundary
    // falls AFTER any token whose hash ≡ 0 (mod 16) — boundaries depend
    // only on LOCAL content, so an insertion re-chunks one neighborhood
    // instead of shifting every fixed-size block (the whole point vs
    // fixed windows). Chunks keyed by md5; each ckey's first occurrence
    // (doc_id, seg order) is stored, later ones are dedup savings.
    // Report per source: chunk counts, duplicate chunks, token mass and
    // saved ppm. Shape: one doc-keyed window for segment ids, one chunk
    // groupBy, one ckey window — all 16-byte-ish keys; the segment pass
    // could go fully map-side with a per-doc fold when the explode ever
    // dominates.
    Q("q_cdc_chunking",
      s"""WITH t AS (SELECT doc_id, source, $oToks AS toks FROM documents),
         |w AS (SELECT doc_id, source, i, toks[i] AS tok,
         |    CASE WHEN CAST(('0x' || substr(md5(toks[i]), 1, 8)) AS BIGINT) % 16 = 0
         |      THEN 1 ELSE 0 END AS brk
         |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
         |s AS (SELECT doc_id, source, i, tok,
         |    coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
         |  FROM w),
         |c AS (SELECT doc_id, source, seg,
         |    md5(string_agg(tok, ' ' ORDER BY i)) AS ckey,
         |    CAST(count(*) AS BIGINT) AS n_tok
         |  FROM s GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY ckey
         |    ORDER BY doc_id, seg) AS rn FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_dup,
         |  CAST((sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) * 1000000)
         |    // sum(n_tok) AS BIGINT) AS saved_ppm
         |FROM r GROUP BY source""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents").select(col("doc_id"), col("source"),
        posexplode(graft.text.TextFunctions.tokens(col("text"))).as(Seq("i0", "tok")))
        .select(col("doc_id"), col("source"), (col("i0") + 1).as("i"), col("tok"),
          when(expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) % 16 = 0"),
            1L).otherwise(0L).as("brk"))
      val wSeg = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
      val seg = t.withColumn("seg", coalesce(sum(col("brk")).over(wSeg), lit(0L)))
      val c = seg.groupBy("doc_id", "source", "seg")
        .agg(md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(i, tok))), x -> x.tok)"))
          .cast("binary")).as("ckey"),
          count(lit(1)).as("n_tok"))
      val r = c.withColumn("rn", row_number().over(
        Window.partitionBy("ckey").orderBy("doc_id", "seg")))
      r.groupBy("source").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_tok")).as("tok_total"),
        sum(when(col("rn") > 1, col("n_tok")).otherwise(0L)).as("tok_dup"))
        .withColumn("saved_ppm", expr("(tok_dup * 1000000L) div tok_total"))
    },

    // ---- persisted winnowing fingerprint index: build once, probe delta ---
    // The incremental-ingest shape of q_winnow_dedup: the %10≠0 corpus
    // is fingerprinted and df-capped ONCE into a persisted postings
    // index; the %10=0 delta pays only its own map-only winnowing plus
    // one hash-keyed join against the index — zero corpus rescans at any
    // scale. The oracle recomputes the whole relation from scratch
    // (corpus df cap on the corpus side only), so a match proves the
    // index round-trip loses nothing.
    Q("q_winnow_index",
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
         |k AS (SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         |      i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8)) AS BIGINT)
         |             * 10000000 + (9999999 - i)) AS keys
         |  FROM t),
         |w AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      list_distinct(list_transform(generate_series(4, len(keys)),
         |        i -> list_min(keys[i-3:i]))), x -> x // 10000000)) AS hs
         |  FROM k),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM w),
         |cdf AS (SELECT h, count(*) AS c FROM e WHERE doc_id % 10 <> 0 GROUP BY h),
         |cpost AS (SELECT e.doc_id, e.h FROM e JOIN cdf USING (h)
         |  WHERE e.doc_id % 10 <> 0 AND cdf.c <= 20),
         |dpost AS (SELECT doc_id, h FROM e WHERE doc_id % 10 = 0),
         |sz AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS nh FROM w),
         |p AS (SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM dpost d JOIN cpost c ON d.h = c.h GROUP BY 1, 2
         |  HAVING count(*) >= 3)
         |SELECT delta_id, corpus_id, n_shared,
         |  sd.nh AS nh_delta, sc.nh AS nh_corpus,
         |  CAST((n_shared * 1000000) // least(sd.nh, sc.nh) AS BIGINT)
         |    AS overlap_ppm
         |FROM p JOIN sz sd ON delta_id = sd.doc_id
         |       JOIN sz sc ON corpus_id = sc.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents")
      val index = Staged.dir(d, "graft_widx") { w =>
        buildWinnowIndex(docs.filter(col("doc_id") % 10 =!= 0), s"$w/v1",
          dfCap = 20L)
      }
      winnowProbeIndexed(docs.filter(col("doc_id") % 10 === 0), s"$index/v1",
        minShared = 3L)
    },

    // ---- model-based quality gate: fixed linear classifier head -----------
    // The FineWeb/DCLM-style companion to q_gopher_rules' hard rules: a
    // WEIGHTED score over the same one-pass signals (stopword density,
    // top-bigram repetition, mean-word-length deviation, capped length),
    // gated at a threshold, reported per source with the exact score
    // range. Every feature is an exact integer ratio (ppm / centi-deci
    // fixed point, non-negative numerators so Spark `div` ≡ DuckDB `//`)
    // and the head is an integer dot product — bit-identical across
    // engines, no sigmoid needed for a threshold gate. One map-side pass
    // + one source-keyed rollup; at 100 TB the score is free on top of
    // the token stats the battery already computes.
    Q("q_quality_ensemble",
      s"""WITH t AS (SELECT doc_id, source, $oToks AS toks FROM documents),
         |s AS (SELECT doc_id, source, len(toks) AS ntok,
         |    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS ntc,
         |    len(list_filter(toks, t -> t IN ${inList(StopwordsEn)})) AS nstop
         |  FROM t),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |c AS (SELECT doc_id, bg, count(*) AS n FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nbg,
         |        CAST(max(n) AS BIGINT) AS topc FROM c GROUP BY doc_id),
         |j AS (SELECT s.*, coalesce(a.nbg, 0) AS nbg, coalesce(a.topc, 0) AS topc
         |  FROM s LEFT JOIN a USING (doc_id)),
         |f AS (SELECT source,
         |    2 * ((nstop * 1000000) // greatest(ntok, 1))
         |  - 3 * ((topc * 1000000) // greatest(nbg, 1))
         |  - 400 * abs((ntc * 100) // greatest(ntok, 1) - 500)
         |  + 1000 * least(ntok, 500) AS score
         |  FROM j)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN score >= 50000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST((sum(CASE WHEN score >= 50000 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS pass_ppm,
         |  CAST(min(score) AS BIGINT) AS score_min,
         |  CAST(max(score) AS BIGINT) AS score_max,
         |  CAST(sum(score) AS BIGINT) AS score_sum
         |FROM f GROUP BY source""".stripMargin) { (s, d) =>
      val stats = Tables(s, d, "documents").select(col("source"),
        tokenCount(col("text")).cast("long").as("ntok"),
        tokenCharCount(col("text")).cast("long").as("ntc"),
        wordListHits(col("text"), StopwordsEn).cast("long").as("nstop"),
        repetitionStats(col("text"), 2).as("r"))
        .select(col("source"), col("ntok"), col("ntc"), col("nstop"),
          col("r.n_ngrams").cast("long").as("nbg"),
          col("r.top_count").cast("long").as("topc"))
      val scored = stats.withColumn("score", expr(
        """  2L * ((nstop * 1000000L) div greatest(ntok, 1L))
          |- 3L * ((topc * 1000000L) div greatest(nbg, 1L))
          |- 400L * abs((ntc * 100L) div greatest(ntok, 1L) - 500L)
          |+ 1000L * least(ntok, 500L)""".stripMargin))
      scored.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 50000L, 1L).otherwise(0L)).as("n_pass"),
        min(col("score")).as("score_min"),
        max(col("score")).as("score_max"),
        sum(col("score")).as("score_sum"))
        .withColumn("pass_ppm", expr("(n_pass * 1000000L) div n_docs"))
        .select(col("source"), col("n_docs"), col("n_pass"), col("pass_ppm"),
          col("score_min"), col("score_max"), col("score_sum"))
    },

    // ---- quality-head calibration curve -----------------------------------
    // The eval loop behind any quality classifier: bin the ensemble
    // score into fixed 100k-wide buckets (clamped to [-10, 10]) and
    // report each bin's rate of a trusted proxy label (metadata
    // lang = 'en') in exact ppm — a well-calibrated head shows the rate
    // rising with the bin. Same one-scan feature battery as
    // q_quality_ensemble; binning and rates are integer arithmetic
    // (score may be negative, so the bin uses the sign-safe
    // floor spelling `(s - pmod(s, w)) / w`, NOT truncating div).
    Q("q_quality_calibration",
      s"""WITH t AS (SELECT doc_id, lang, $oToks AS toks FROM documents),
         |s AS (SELECT doc_id, lang, len(toks) AS ntok,
         |    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS ntc,
         |    len(list_filter(toks, t -> t IN ${inList(StopwordsEn)})) AS nstop
         |  FROM t),
         |b AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
         |      FROM t WHERE len(toks) >= 2),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg FROM b),
         |c AS (SELECT doc_id, bg, count(*) AS n FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nbg,
         |        CAST(max(n) AS BIGINT) AS topc FROM c GROUP BY doc_id),
         |j AS (SELECT s.*, coalesce(a.nbg, 0) AS nbg, coalesce(a.topc, 0) AS topc
         |  FROM s LEFT JOIN a USING (doc_id)),
         |f AS (SELECT lang,
         |    2 * ((nstop * 1000000) // greatest(ntok, 1))
         |  - 3 * ((topc * 1000000) // greatest(nbg, 1))
         |  - 400 * abs((ntc * 100) // greatest(ntok, 1) - 500)
         |  + 1000 * least(ntok, 500) AS score
         |  FROM j),
         |k AS (SELECT lang, greatest(-10, least(10,
         |    (score - ((score % 100000 + 100000) % 100000)) // 100000)) AS bin
         |  FROM f)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS en_ppm
         |FROM k GROUP BY 1""".stripMargin) { (s, d) =>
      val stats = Tables(s, d, "documents").select(col("lang"),
        tokenCount(col("text")).cast("long").as("ntok"),
        tokenCharCount(col("text")).cast("long").as("ntc"),
        wordListHits(col("text"), StopwordsEn).cast("long").as("nstop"),
        repetitionStats(col("text"), 2).as("r"))
        .select(col("lang"), col("ntok"), col("ntc"), col("nstop"),
          col("r.n_ngrams").cast("long").as("nbg"),
          col("r.top_count").cast("long").as("topc"))
      stats.withColumn("score", expr(
        """  2L * ((nstop * 1000000L) div greatest(ntok, 1L))
          |- 3L * ((topc * 1000000L) div greatest(nbg, 1L))
          |- 400L * abs((ntc * 100L) div greatest(ntok, 1L) - 500L)
          |+ 1000L * least(ntok, 500L)""".stripMargin))
        .withColumn("bin", expr(
          "greatest(-10L, least(10L, (score - pmod(score, 100000L)) div 100000L))"))
        .groupBy("bin").agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        .withColumn("en_ppm", expr("(n_en * 1000000L) div n_docs"))
    }
  )
}
