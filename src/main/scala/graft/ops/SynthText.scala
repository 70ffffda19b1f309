package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Long-tail synthetic text fixture, deterministic from `doc_id` plus a
  * SCALE-DEPENDENT corpus salt — the text twin of the PNG/WAV
  * pixel-formula fixtures.
  *
  * Why it exists: the natural documents fixture draws from a ~31-word
  * vocabulary, which makes word-level SET similarity degenerate (every
  * unigram set is near-identical; COVERAGE.md documents the Σdf² blowup
  * that forced q_setsim_join onto 3-word shingles and q_er_join onto a
  * conjunctive 2-token blocking key). This fixture gives the word-level
  * operators a realistic long-tail corpus: ~16 k distinct words (at the
  * driver test scales) with an octave-bucketed Zipf-ish frequency profile
  * (word id `2^e + m` with octave `e` uniform on 4..13 — each octave
  * carries equal probability mass split over `2^e` words, so head words
  * appear in most documents and the tail is rare, like real text). Past
  * the sf0.1-sized salt the octave range grows by one per corpus
  * doubling (Heaps'-law vocabulary growth — see the `extra` arm in
  * [[textExpr]]), keeping tail-word dfs scale-invariant like real text,
  * instead of letting a closed vocabulary drive similarity self-joins
  * quadratic as a fixture artifact.
  *
  * Planted structure (what makes dedup/similarity answers non-trivial):
  * documents come in groups of 5 sharing a base word sequence
  * (18–30 words, length keyed to the group):
  *   - members 0 and 4 are VERBATIM IDENTICAL — every group plants an
  *     exact-duplicate pair for the exact/hash/keep-best/delta family;
  *   - members 1..3 override exactly ONE position (12−3r) with a
  *     doc-keyed word — unigram Jaccard to the base ≈ (u−1)/(u+1) ≈ 0.9
  *     (near-dup), while 3-word-shingle Jaccard (s−3)/(s+3) straddles
  *     the 0.8 threshold with document length, exercising both sides of
  *     the MinHash cut;
  *   - cross-group similarity is the head-word floor (~0.1).
  *
  * Everything is the md5-hex-digit integer device (the `feistelSlot`
  * pattern): both engines evaluate the IDENTICAL arithmetic text modulo
  * `div` vs `//`, `STRING` vs `VARCHAR`, `shiftleft` vs `<<`, and the
  * transform/sequence spellings — so the DuckDB oracle regenerates the
  * corpus bit-identically and replays each query on it.
  *
  * The corpus salt (ADVICE r8): the documents table carries the SAME
  * doc_id set at every test scale factor, so a fixture keyed on doc_id
  * alone is byte-identical across SFs and the dual-scale oracle gate
  * degenerates to running the same data twice for every consumer. Every
  * md5 seed therefore also folds in `salt` = `count(*)` of the LINEITEM
  * table at the source dir — a corpus statistic both engines compute
  * identically that DOES grow with SF — so word draws, document lengths
  * and perturbation words all differ per scale while the planted
  * group/dup/near-dup structure (positional, salt-independent) is
  * preserved. */
object SynthText {

  /** The text-generating expression over `doc_id` and `salt` columns
    * (salt = lineitem row count, see object doc), in the given engine's
    * SQL dialect ("spark" | "duck"). */
  def textExpr(engine: String): String = {
    val duck = engine == "duck"
    val vc = if (duck) "VARCHAR" else "STRING"
    def idiv(a: String, b: String) =
      if (duck) s"(($a) // ($b))" else s"(($a) div ($b))"
    def shl(e: String) =
      if (duck) s"(1 << ($e))" else s"shiftleft(1, CAST($e AS INT))"
    val xform = if (duck) "list_transform" else "transform"
    val seqf = if (duck) "generate_series" else "sequence"
    val ajoin = if (duck) "array_to_string" else "array_join"
    // uniform in [0, 16^6) from the first 6 hex digits of a hash string
    def hex6(h: String): String = (1 to 6).map { k =>
      val p = Seq(1048576L, 65536L, 4096L, 256L, 16L, 1L)(k - 1)
      s"(instr('0123456789abcdef', substr($h, $k, 1)) - 1) * $p"
    }.mkString("(", " + ", ")")

    val g = idiv("doc_id", "5")        // 5-doc group sharing a base text
    val r = "(doc_id % 5)"             // member within the group
    val z = s"CAST(salt AS $vc)"       // scale-dependent corpus salt
    val n = s"(18 + (${hex6(s"md5('ln:' || $z || ':' || CAST($g AS $vc))")} % 13))"
    // Heaps'-law octave growth: a REAL corpus grows vocabulary with size,
    // keeping rare-word document frequencies roughly scale-invariant; a
    // closed vocabulary instead grows every df linearly, which turns any
    // exact similarity self-join quadratic as a FIXTURE artifact (found
    // live: q_setsim_join's prefix-filter candidates grew ~100x from
    // sf0.1 to the 10x-staged sf1 point — Σdf² over the same 16k words).
    // One extra octave per doubling of the corpus past the sf0.1-sized
    // salt keeps tail-octave dfs ~constant, the way real text behaves.
    // Integer CASE arms (not float log2) so both engines agree bit-exactly;
    // salts <= 600001 (every driver test scale) take extra=0, keeping the
    // corpus BYTE-IDENTICAL to the pre-growth fixture at sf0.001/0.01/0.1.
    val sx = idiv("salt", "600001")
    val extra = "(CASE " + (10 to 1 by -1).map(b =>
      s"WHEN $sx >= ${1L << b} THEN $b").mkString(" ") + " ELSE 0 END)"
    // members 1..3 override exactly one position each (9, 6, 3 resp.)
    val ovr = s"(($r) BETWEEN 1 AND 3 AND i = 12 - 3 * ($r))"
    val hashAt =
      s"""CASE WHEN $ovr
         | THEN md5('pz:' || $z || ':' || CAST(doc_id AS $vc) || ':' || CAST(i AS $vc))
         | ELSE md5('zf:' || $z || ':' || CAST($g AS $vc) || ':' || CAST(i AS $vc)) END"""
        .stripMargin.replace("\n", "")
    val u = hex6("h")
    // octave-bucketed long-tail word id in [16, 2^(14+extra))
    val e = s"(4 + (u % (10 + $extra)))"
    val wid = s"(${shl(e)} + (${idiv("u", "10")} % ${shl(e)}))"
    val word = s"'w' || CAST($wid AS $vc)"
    // three nested transforms bind (position -> hash -> uniform -> word)
    // so md5 runs ONCE per position and the digit sum once per word
    s"$ajoin($xform($xform($xform($seqf(1, $n), i -> $hashAt), h -> $u), u -> $word), ' ')"
  }

  /** The synthetic corpus as a Spark frame: (doc_id, text). `doc_id`
    * comes from the documents table so both engines share the id set;
    * the scale salt is a 1-row lineitem count broadcast-cross-joined in.
    * The generator runs ~40 md5+digit extractions per word, and several
    * consumers evaluate the docs frame more than once per query (both
    * sides of a delta join, clean+dirty ER legs), so the corpus is
    * [[Staged]] to parquet per source dir: generation is a fixed setup
    * cost and every query a columnar read, exactly how a real corpus
    * would exist as data. */
  def docs(s: SparkSession, d: String): DataFrame =
    Staged.table(s, d, "graft_synth_text") {
      Tables(s, d, "documents")
        .crossJoin(Tables(s, d, "lineitem").agg(count(lit(1)).as("salt")))
        .select(col("doc_id"), expr(textExpr("spark")).as("text"))
        .repartition(8)
    }

  /** DuckDB CTE body regenerating the identical corpus: splice as
    * `WITH sdocs AS (<this>), ...` and read FROM sdocs. */
  val duckCte: String =
    s"sdocs AS (SELECT doc_id, ${textExpr("duck")} AS text " +
      "FROM documents, (SELECT count(*) AS salt FROM lineitem))"
}
