package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling and similarity/graph analytics beyond the reference's
  * operator surface: one-scan column profiling, an exact set-similarity
  * join (prefix filter — the lossless complement to the MinHash-LSH
  * paths in [[graft.dedup.Dedup]]), a distributed Pareto skyline, fuzzy
  * entity-resolution (block → verify → best-match), calendar gap-fill
  * with forward fill, and triangle counting on a co-occurrence graph.
  *
  * Every query keeps the established exactness discipline: integer /
  * fixed-point arithmetic only in comparisons and outputs, so the DuckDB
  * oracle replays the identical algorithm bit-for-bit.
  */
object AnalyticsOps {

  private def customer(s: SparkSession, d: String)  = Tables(s, d, "customer")
  private def part(s: SparkSession, d: String)      = Tables(s, d, "part")
  private def lineitem(s: SparkSession, d: String)  = Tables(s, d, "lineitem")
  private def events(s: SparkSession, d: String)    = Tables(s, d, "events")
  private def documents(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Historical note (rounds 5–7): set-similarity originally ran over
    * 3-word shingle hashes because the NATURAL documents fixture draws
    * from a ~31-word vocabulary, making unigram sets near-identical
    * corpus-wide (Σdf² ≈ 4.5·10⁸ at sf0.1 — every pair a candidate).
    * Round 8 re-pointed q_setsim_join at the long-tail [[SynthText]]
    * corpus (~16k Zipf-ish vocabulary), where plain unigram sets are the
    * realistic, discriminative form and the rarity-ordered prefix filter
    * does its intended work; the shingle device remains in the dedup
    * family (q_dedup_minhash etc.) where shingling IS the operator. */

  // =========================================================================
  // 1. One-scan column profiler
  // =========================================================================

  /** Per-column stats over a full table in ONE scan: a single wide
    * aggregate computes row count, non-null count, exact NDV and min/max
    * for every column at once (Catalyst plans the multi-distinct via one
    * Expand — still a single pass over the data), then the row of
    * aggregates is unpivoted driver-free with `explode(array(struct…))`.
    * Numeric extremes are fixed-point BIGINTs (min/max commute with the
    * monotone floor-scale), string extremes compare under binary collation
    * on both engines — everything hash-exact. At 100 TB this is the
    * canonical "profile a table you've never seen" primitive: one scan,
    * no shuffle except the final aggregate.
    */
  def profile(df: DataFrame, numScale: Int = 10000): DataFrame = {
    val scale = lit(numScale.toDouble)
    def num(c: Column)  = floor(c.cast("double") * scale + lit(0.5d)).cast("long")
    val fields = df.schema.fields
    val isStr  = fields.map(_.dataType.typeName == "string")
    val aggs: Seq[Column] = count(lit(1)).as("n") +: fields.zipWithIndex.flatMap {
      case (f, i) =>
        val c = col(f.name)
        Seq(count(c).as(s"nn$i"), count_distinct(c).as(s"ndv$i")) ++
          (if (isStr(i)) Seq(min(c).as(s"mn$i"), max(c).as(s"mx$i"))
           else Seq(min(num(c)).as(s"mn$i"), max(num(c)).as(s"mx$i")))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.zipWithIndex.map { case (f, i) =>
      struct(
        lit(f.name).as("col_name"),
        col("n").as("n_rows"),
        col(s"nn$i").as("n_nonnull"),
        col(s"ndv$i").as("ndv"),
        (if (isStr(i)) col(s"mn$i") else lit(null).cast("string")).as("min_str"),
        (if (isStr(i)) col(s"mx$i") else lit(null).cast("string")).as("max_str"),
        (if (isStr(i)) lit(null).cast("long") else col(s"mn$i")).as("min_num"),
        (if (isStr(i)) lit(null).cast("long") else col(s"mx$i")).as("max_num"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  private val ProfileOracle: String = {
    val cols = Seq(
      ("c_custkey", false), ("c_name", true), ("c_nationkey", false),
      ("c_acctbal", false), ("c_mktsegment", true))
    val aggs = cols.zipWithIndex.map { case ((c, str), i) =>
      val mm =
        if (str) s"min($c) AS mn$i, max($c) AS mx$i"
        else s"CAST(min(floor(CAST($c AS DOUBLE) * 10000 + 0.5)) AS BIGINT) AS mn$i, " +
          s"CAST(max(floor(CAST($c AS DOUBLE) * 10000 + 0.5)) AS BIGINT) AS mx$i"
      s"CAST(count($c) AS BIGINT) AS nn$i, CAST(count(DISTINCT $c) AS BIGINT) AS ndv$i, $mm"
    }
    val arms = cols.zipWithIndex.map { case ((c, str), i) =>
      val (ms, mn) =
        if (str) (s"mn$i, mx$i", "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)")
        else ("CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)", s"mn$i, mx$i")
      s"SELECT '$c' AS col_name, n AS n_rows, nn$i AS n_nonnull, ndv$i AS ndv, " +
        s"$ms, $mn FROM a"
    }
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n, ${aggs.mkString(", ")} FROM customer)
       |SELECT col_name, n_rows, n_nonnull, ndv,
       |  mn AS min_str, mx AS max_str, mnn AS min_num, mxn AS max_num
       |FROM (${arms.mkString(" UNION ALL ")}) t(col_name, n_rows, n_nonnull, ndv, mn, mx, mnn, mxn)"""
      .stripMargin
  }

  // =========================================================================
  // 2. Exact set-similarity join (prefix filter / PPJoin-lite)
  // =========================================================================

  /** All document pairs with token-set Jaccard ≥ t (integer percent).
    * Exact and lossless: order each record's distinct tokens by global
    * rarity (document frequency, then token — a total order), emit only
    * the first `|r| - ceil(t·|r|) + 1` rarest tokens as join keys (any
    * pair meeting the threshold MUST share one of them — the classic
    * prefix-filter guarantee), equi-join on those prefix tokens, then
    * verify candidates with an exact intersection count. All comparisons
    * are integer cross-multiplications — zero float drift.
    *
    * Scale shape: one token-frequency shuffle, one groupBy to re-sort
    * token arrays, a prefix equi-join whose fan-out is bounded by the
    * RAREST tokens of each record (the point of the ordering), and a
    * verify join on doc ids. No O(n²) stage anywhere; at 100 TB the
    * prefix join is the only super-linear risk and it shrinks as t rises.
    * The rarity-ordered frame feeds the prefix emit AND both verify
    * sides, so it is persisted for the call and released before return
    * (result survives as a GC-managed local checkpoint — the library
    * cache-hygiene contract).
    */
  def setSimJoin(docs: DataFrame, tPct: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = tok.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col("doc_id"), expr("transform(st, x -> x.tok)").as("toks"),
        size(col("st")).cast("long").as("l"))
      .persist()
    val plen = (col("l") - expr(s"(l * $tPct + 99) div 100") + lit(1)).cast("int")
    // prefix entries carry the token's POSITION and the record length so
    // the candidate join can apply the full PPJoin pruning stack, not
    // just the prefix filter:
    //  - length filter: Jaccard >= t forces min(la,lb) >= t*max(la,lb)
    //    (inter <= min, uni >= max) — prunes cross-length pairs;
    //  - positional filter: both arrays are sorted by the SAME global
    //    rarity order, so common values appear in the same relative
    //    order in both — at the FIRST shared token (0-based positions
    //    pa, pb) every remaining common value lies strictly after it in
    //    both arrays, bounding overlap by min(la-pa, lb-pb); Jaccard
    //    >= t needs inter >= ceil(t/(1+t)*(la+lb)) — integer
    //    cross-multiplied, so the bound is exact, never float. Keeping
    //    a pair when ANY of its shared prefix tokens passes is safe:
    //    the first shared token has the LARGEST bound.
    // Both prune CANDIDATES only (the exact-intersect verify is
    // unchanged), so they cannot change the answer; they cut the
    // verify-stage fan-out, which dominates at scale. The remaining
    // cost driver is corpus statistics: Σdf² over prefix tokens, which
    // stays near-linear exactly when vocabulary grows with the corpus
    // (see SynthText's Heaps-law octaves).
    val pref = ordered.select(col("doc_id"), col("l"),
      posexplode(slice(col("toks"), lit(1), plen)).as(Seq("pos", "tok")))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id") &&
        least(col("x.l"), col("y.l")) * 100 >=
          greatest(col("x.l"), col("y.l")) * tPct &&
        least(col("x.l") - col("x.pos"), col("y.l") - col("y.pos")) *
          (100 + tPct) >= (col("x.l") + col("y.l")) * tPct)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val a = ordered.select(col("doc_id").as("a_id"), col("toks").as("a_toks"), col("l").as("la"))
    val b = ordered.select(col("doc_id").as("b_id"), col("toks").as("b_toks"), col("l").as("lb"))
    val out = cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))).cast("long"))
      .withColumn("uni", col("la") + col("lb") - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tPct)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        expr("(inter * 10000) div uni").as("jacc_bp"))
    Par.materializeThenRelease(out, ordered) // bounds ordered's persist to this call
  }

  private val SetSimOracle: String =
    raw"""WITH ${SynthText.duckCte},
       |t AS (SELECT doc_id,
       |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
       |  FROM sdocs),
       |w AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS l FROM t),
      |pair AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS inter
      |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT a_id, b_id, inter, sa.l + sb.l - inter AS uni
      |  FROM pair JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id)
      |SELECT a_id, b_id, inter, uni, (inter * 10000) // uni AS jacc_bp
      |FROM j WHERE inter * 100 >= uni * 80""".stripMargin

  // =========================================================================
  // 3. Distributed Pareto skyline
  // =========================================================================

  /** Skyline of `part` under (minimize p_size, maximize p_retailprice):
    * a part survives iff no other part is ≤ in size AND ≥ in price with
    * one strict. Scale trick: dominance only depends on the per-size
    * MAXIMUM price, so first reduce to one row per distinct size (one
    * map-side-combining shuffle, output ≤ |distinct sizes| rows), run a
    * running-max window over that TINY frame (the single-partition window
    * is deliberate — it sees at most a few hundred rows regardless of
    * input scale), then join survivors back to recover every tied part.
    * Never materializes an O(n²) dominance test.
    */
  def skyline(p: DataFrame): DataFrame = {
    val pts = p.select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
      floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_c"))
    val perSize = pts.groupBy("p_size").agg(max(col("price_c")).as("best"))
    val w = Window.orderBy(col("p_size").asc).rangeBetween(Window.unboundedPreceding, -1)
    val sky = perSize.withColumn("prev", max(col("best")).over(w))
      .where(col("prev").isNull || col("best") > col("prev"))
      .select(col("p_size").as("sk_size"), col("best"))
    pts.join(sky, pts("p_size") === col("sk_size") && col("price_c") === col("best"))
      .select(col("p_partkey"), col("p_size"), col("price_c"))
  }

  private val SkylineOracle: String =
    """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
      |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c FROM part),
      |s AS (SELECT p_size, max(price_c) AS best FROM p GROUP BY p_size),
      |w AS (SELECT p_size, best, max(best) OVER
      |    (ORDER BY p_size ASC RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      |  FROM s),
      |sky AS (SELECT p_size, best FROM w WHERE prev IS NULL OR best > prev)
      |SELECT p.p_partkey, p.p_size, p.price_c
      |FROM p JOIN sky ON p.p_size = sky.p_size AND p.price_c = sky.best""".stripMargin

  // =========================================================================
  // 4. Fuzzy entity-resolution join (block → verify → best match)
  // =========================================================================

  /** Match a deterministically-dirtied title table back to its clean
    * source: titles are the first 6 tokens of each document; the dirty
    * variant (every 3rd doc) drops token 3 and strips vowels from token 2
    * — so tokens 1 and 4 always survive verbatim at known positions.
    * Blocking uses a CONJUNCTIVE positional key (clean tokens 1+4 ==
    * dirty tokens 1+3), the structured-key blocking pattern (zip +
    * birth-year style): with the fixture's ~31-word vocabulary a single
    * shared token blocks almost everything (every word has df in the
    * thousands — measured 11 s at sf0.1), while the two-token key has
    * ~10³ distinct values, so candidate fan-out is |R|·avg-key-df, never
    * |L|×|R|. Verify with exact Levenshtein, keep the best match per
    * dirty record via a deterministic (dist, id) row_number.
    */
  def erJoin(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dd = docs.select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .where(size(col("toks")) >= 6)
    val clean = dd.select(col("doc_id"),
      concat_ws(" ", (1 to 6).map(i => element_at(col("toks"), i)): _*).as("title"))
    val dirty = dd.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000).as("did"),
        concat_ws(" ",
          element_at(col("toks"), 1),
          regexp_replace(element_at(col("toks"), 2), "[aeiou]", ""),
          element_at(col("toks"), 4), element_at(col("toks"), 5),
          element_at(col("toks"), 6)).as("dtitle"))
    // blocking keys derived from each side's OWN title string: the
    // operator never peeks at the shared ancestry
    def key(title: Column, i: Int, j: Int): Column = {
      val t = split(title, " ")
      concat_ws("|", element_at(t, i), element_at(t, j))
    }
    val ct = clean.select(col("doc_id"), key(col("title"), 1, 4).as("bkey"))
    val dt = dirty.select(col("did"), key(col("dtitle"), 1, 3).as("bkey"))
    val cand = dt.join(ct, "bkey").select("did", "doc_id").distinct()
    (clean, dirty, cand)
  }

  private val ErOracle: String =
    raw"""WITH ${SynthText.duckCte},
       |d AS (SELECT doc_id,
       |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM sdocs),
      |clean AS (SELECT doc_id, array_to_string(toks[1:6], ' ') AS title
      |  FROM d WHERE len(toks) >= 6),
      |dirty AS (SELECT doc_id + 100000 AS did,
      |    concat_ws(' ', toks[1], regexp_replace(toks[2], '[aeiou]', '', 'g'),
      |              toks[4], toks[5], toks[6]) AS dtitle
      |  FROM d WHERE len(toks) >= 6 AND doc_id % 3 = 0),
      |ct AS (SELECT doc_id, concat_ws('|', regexp_split_to_array(title, ' ')[1],
      |    regexp_split_to_array(title, ' ')[4]) AS bkey FROM clean),
      |dt AS (SELECT did, concat_ws('|', regexp_split_to_array(dtitle, ' ')[1],
      |    regexp_split_to_array(dtitle, ' ')[3]) AS bkey FROM dirty),
      |cand AS (SELECT DISTINCT dt.did, ct.doc_id FROM dt JOIN ct ON dt.bkey = ct.bkey),
      |v AS (SELECT c.did, c.doc_id, CAST(levenshtein(dirty.dtitle, clean.title) AS BIGINT) AS dist
      |  FROM cand c JOIN dirty ON dirty.did = c.did JOIN clean ON clean.doc_id = c.doc_id),
      |best AS (SELECT did, doc_id, dist,
      |    row_number() OVER (PARTITION BY did ORDER BY dist, doc_id) AS rn FROM v)
      |SELECT did, doc_id AS matched_id, dist FROM best WHERE rn = 1""".stripMargin

  // =========================================================================
  // 5. Time-series gap-fill + forward fill
  // =========================================================================

  /** Per-user daily activity with every calendar day of the user's active
    * span present: missing days get cnt=0 and the last observed value
    * forward-filled. The day spine comes from each user's own min/max day
    * (`sequence` + explode — no cross join, no driver collect), so spine
    * size is Σ user-spans, not |users|×|global days|. `filled` is a raw
    * double passthrough — picked by a deterministic (ts, event_id)
    * row_number, never arithmetic — so it hash-matches bit-exactly.
    */
  def gapFill(ev: DataFrame): DataFrame = {
    val e = ev.select(col("user_id"), col("ts").cast("date").as("day"),
      col("value"), col("ts"), col("event_id"))
    val lastv = e.withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "day").orderBy(col("ts").desc, col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("day_last"))
    val cnts = e.groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
    val spine = e.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    spine.join(cnts, Seq("user_id", "day"), "left")
      .join(lastv, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        last(col("day_last"), ignoreNulls = true).over(
          Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("filled"))
  }

  private val GapFillOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value, ts, event_id FROM events),
      |r AS (SELECT user_id, day, value, row_number() OVER
      |    (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn FROM e),
      |lastv AS (SELECT user_id, day, value AS day_last FROM r WHERE rn = 1),
      |cnts AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
      |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1),
      |spine AS (SELECT user_id,
      |    d0 + CAST(unnest(generate_series(0, d1 - d0)) AS INTEGER) AS day FROM span),
      |j AS (SELECT s.user_id, s.day, coalesce(c.cnt, 0) AS cnt, l.day_last
      |  FROM spine s LEFT JOIN cnts c ON s.user_id = c.user_id AND s.day = c.day
      |  LEFT JOIN lastv l ON s.user_id = l.user_id AND s.day = l.day)
      |SELECT user_id, day, cnt, last_value(day_last IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |  AS filled
      |FROM j""".stripMargin

  // =========================================================================
  // 6. Triangle counting (part co-purchase graph)
  // =========================================================================

  /** Each node's k strongest undirected affinity edges by co-occurrence
    * weight, ties broken by partner id: the bounded-degree graph-
    * construction step that makes downstream triangle / community mining
    * tractable regardless of how dense the raw co-occurrence graph is
    * (the raw part graph at sf0.1 has 1.2M edges, near-uniform degree
    * ~120, and 49M length-2 paths — measured 80 s of triangle join; the
    * top-8 graph has 151k edges and 0.6M paths). One per-node window
    * sort does the selection: an A/B against the bounded `TopKByScore`
    * partial aggregate measured the window FASTER here (4.0 s vs 6.3 s
    * per pass at sf0.1) — with ~10⁴·nodes groups of only ~deg rows each,
    * per-group heap-buffer serialization costs more than shuffling the
    * directed rows; the bounded agg wins in the opposite regime
    * (few groups, huge fan-in — the ANN top-k shape). An edge survives
    * if EITHER endpoint ranks it. `co` columns: (s, d, w) with s < d. */
  def topKAffinity(co: DataFrame, k: Int): DataFrame = {
    val dir = co.select(col("s").as("n"), col("d").as("m"), col("w"))
      .unionAll(co.select(col("d").as("n"), col("s").as("m"), col("w")))
    dir.withColumn("rn", row_number().over(
        Window.partitionBy("n").orderBy(col("w").desc, col("m"))))
      .where(col("rn") <= k)
      .select(least(col("n"), col("m")).as("s"), greatest(col("n"), col("m")).as("d"))
      .distinct()
  }

  /** Bounded k-core peel: `rounds` synchronous rounds each dropping
    * nodes of degree < `k` (and the edges touching them) from the
    * undirected edge set `(s, d)`. Each round is one grouped degree
    * count plus two semi-join filters on the small survivor set (one
    * shared exchange); each round checkpoints its edge set so lineage
    * stays linear (the BFS-loop device). Returns the surviving
    * `(node, deg)` table — degrees measured IN the peeled subgraph. A fixed round budget is
    * the scale-honest contract: full convergence is a driver-side loop
    * over the same primitive, and most graphs stabilize in a few
    * rounds. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    var e = edges
    for (_ <- 1 to rounds) {
      val deg = e.select(col("s").as("n")).unionAll(e.select(col("d").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      // keep's two semi-joins share deg's exchange by reuse: no barrier
      val keep = deg.where(col("deg") >= k).select("n")
      e = e.join(keep.select(col("n").as("s")), Seq("s"))
        .join(keep.select(col("n").as("d")), Seq("d"))
        .select("s", "d")
        .localCheckpoint(true) // e is read three times a round: cut the growing lineage
    }
    e.select(col("s").as("n")).unionAll(e.select(col("d").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .select(col("n").as("node"), col("deg"))
  }

  /** Synchronous label propagation over an undirected `(s, d)` edge set:
    * labels start as node ids; each of `rounds` rounds every node adopts
    * the most frequent label among its neighbours, ties toward the
    * SMALLEST label (the determinism that makes an engine-exact oracle
    * replay possible — classic async LPA is order-dependent). Each round
    * is one edge-keyed join + two grouped aggregations, and all rounds
    * run as one lazy adaptive query with no barrier (see the loop).
    * Returns (node, community, community_size). */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val dir = edges.select(col("s").as("n"), col("d").as("m"))
      .unionAll(edges.select(col("d").as("n"), col("s").as("m")))
    var lab = dir.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (_ <- 1 to rounds) {
      val cnt = dir
        .join(lab.select(col("n").as("m"), col("lbl")), Seq("m"))
        .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
      // argmax count, tie toward the SMALLEST label: max(struct(c, -lbl))
      lab = cnt.groupBy("n")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("b"))
        .select(col("n"), (-col("b.neg")).as("lbl"))
      // No per-round checkpoint: unlike the BFS loop (dist referenced
      // TWICE per hop — join + carry-forward union — so the lazy lineage
      // doubles per round), `lab` is referenced exactly ONCE per round,
      // so the chain stays LINEAR left lazy. One adaptive query then runs
      // all rounds: the three serial driver sync points disappear and the
      // per-round re-exchange of `dir` dedupes via exchange reuse (r15
      // profile: wall 2.28 s -> 1.54 s, the three 0.19 s dir exchanges
      // collapse into overlapped query stages).
    }
    lab.select(col("n").as("node"), col("lbl").cast("long").as("community"),
      count(lit(1)).over(Window.partitionBy("lbl")).cast("long")
        .as("community_size"))
  }

  /** Top-8 co-purchase affinity edge set, memoized per data dir as an
    * eager local checkpoint: q_triangle and q_clustering_coeff run the
    * same lineitem group-collect + per-node window to build it, so the
    * second query (and every warmed bench pass) reads the edge-sized
    * checkpoint blocks instead of re-scanning the fact table — the
    * bridgeCache pattern (GraphOps.scala:94). Keyed by application id so
    * an entry never outlives the context that built it. */
  private val affinityCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def affinityEdges(s: SparkSession, d: String): DataFrame =
    affinityCache.computeIfAbsent(s"${s.sparkContext.applicationId}|$d", _ => {
      val co = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS s, y AS d))))"))
          .as("pr"))
        .groupBy(col("pr.s").as("s"), col("pr.d").as("d"))
        .agg(count(lit(1)).as("w"))
      topKAffinity(co, k = 8)
        .localCheckpoint(true) // memo read by four graph queries and every pass
    })

  /** Per-node triangle counts. Edges must arrive oriented low-id →
    * high-id, so each triangle a<b<c is enumerated exactly once by the
    * classic two-join: paths (a→b→c) ⋈ closing edge (a→c). Both joins
    * are hash equi-joins; feed a bounded-degree graph ([[topKAffinity]])
    * so the path fan-out stays linear in nodes, not Σdeg². The edge set
    * is read three times, by joins on different keys, so pass a
    * materialized one (the graph queries pass the [[affinityEdges]]
    * memo): the call adds no barrier of its own.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val paths = edges.as("e1").join(edges.as("e2"), col("e1.d") === col("e2.s"))
      .select(col("e1.s").as("a"), col("e1.d").as("b"), col("e2.d").as("c"))
    val tri = paths.join(edges.as("e3"), col("a") === col("e3.s") && col("c") === col("e3.d"))
      .select("a", "b", "c")
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  private val TriangleOracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |co AS (SELECT a.p AS s, b.p AS d, CAST(count(*) AS BIGINT) AS w
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      |dir AS (SELECT s AS n, d AS m, w FROM co UNION ALL SELECT d, s, w FROM co),
      |rk AS (SELECT n, m, row_number() OVER (PARTITION BY n ORDER BY w DESC, m) AS rn FROM dir),
      |e AS (SELECT DISTINCT least(n, m) AS s, greatest(n, m) AS d FROM rk WHERE rn <= 8),
      |t AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
      |  FROM e e1 JOIN e e2 ON e1.d = e2.s JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
      |u AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
      |SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt FROM u GROUP BY node""".stripMargin

  // =========================================================================
  // 7. Functional-dependency discovery (profiling tier 2)
  // =========================================================================

  /** Test candidate functional dependencies A→B in ONE scan: A→B holds
    * iff ndv(A) == ndv(A,B) (every A value maps to exactly one B). All
    * the distinct counts land in a single wide aggregate (one Expand
    * pass — the same one-scan contract as [[profile]]); the row-per-test
    * unpivot is executor-side. The Metanome-style primitive for schema
    * discovery on tables you didn't design. */
  def fdDiscovery(df: DataFrame, tests: Seq[(String, String)]): DataFrame = {
    val cols = tests.flatMap(t => Seq(t._1, t._2)).distinct
    val aggs =
      cols.map(c => count_distinct(col(c)).as(s"d_$c")) ++
        tests.map { case (a, b) =>
          count_distinct(struct(col(a), col(b))).as(s"d_${a}_$b")
        }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = tests.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs"),
        col(s"d_$a").as("ndv_lhs"), col(s"d_${a}_$b").as("ndv_pair"),
        (col(s"d_$a") === col(s"d_${a}_$b")).as("holds"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  private val FdOracle: String =
    """WITH a AS (SELECT
      |    CAST(count(DISTINCT p_partkey) AS BIGINT) AS d_pk,
      |    CAST(count(DISTINCT p_name) AS BIGINT) AS d_nm,
      |    CAST(count(DISTINCT p_brand) AS BIGINT) AS d_br,
      |    CAST(count(DISTINCT p_type) AS BIGINT) AS d_ty,
      |    CAST(count(DISTINCT (p_partkey, p_name)) AS BIGINT) AS d_pk_nm,
      |    CAST(count(DISTINCT (p_name, p_brand)) AS BIGINT) AS d_nm_br,
      |    CAST(count(DISTINCT (p_brand, p_type)) AS BIGINT) AS d_br_ty,
      |    CAST(count(DISTINCT (p_type, p_brand)) AS BIGINT) AS d_ty_br
      |  FROM part)
      |SELECT lhs, rhs, ndv_lhs, ndv_pair, ndv_lhs = ndv_pair AS holds
      |FROM (
      |  SELECT 'p_partkey' AS lhs, 'p_name' AS rhs, d_pk AS ndv_lhs, d_pk_nm AS ndv_pair FROM a
      |  UNION ALL SELECT 'p_name', 'p_brand', d_nm, d_nm_br FROM a
      |  UNION ALL SELECT 'p_brand', 'p_type', d_br, d_br_ty FROM a
      |  UNION ALL SELECT 'p_type', 'p_brand', d_ty, d_ty_br FROM a)""".stripMargin

  // =========================================================================
  // 8. Referential-integrity audit
  // =========================================================================

  /** Orphan audit across parent→child foreign keys: per FK, child row
    * count, distinct child keys, and rows with no matching parent (an
    * ANTI join — broadcast when the parent key set is small, hash
    * otherwise; never a subquery-per-row). The cross-table counterpart
    * of [[Expectations]]' single-table constraints. */
  def fkAudit(fks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    fks.map { case (name, child, ck, parent, pk) =>
      val orphans = child.join(parent.select(col(pk).as(ck)).distinct(),
        Seq(ck), "left_anti")
      child.agg(count(lit(1)).as("n_child"),
          count_distinct(col(ck)).as("n_keys"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("fk"), col("n_child"), col("n_keys"), col("n_orphans"))
    }.reduce(_ unionAll _)
  }

  private val FkOracle: String =
    """SELECT 'lineitem.l_orderkey->orders' AS fk,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
      |  (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem) AS n_keys,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
      |UNION ALL SELECT 'lineitem.l_partkey->part',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(DISTINCT l_partkey) FROM lineitem),
      |  (SELECT count(*) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |UNION ALL SELECT 'lineitem.l_suppkey->supplier',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(DISTINCT l_suppkey) FROM lineitem),
      |  (SELECT count(*) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |UNION ALL SELECT 'orders.o_custkey->customer',
      |  (SELECT count(*) FROM orders),
      |  (SELECT count(DISTINCT o_custkey) FROM orders),
      |  (SELECT count(*) FROM orders x
      |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = x.o_custkey))
      |UNION ALL SELECT 'customer.c_nationkey->nation',
      |  (SELECT count(*) FROM customer),
      |  (SELECT count(DISTINCT c_nationkey) FROM customer),
      |  (SELECT count(*) FROM customer c
      |    WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))"""
      .stripMargin

  val all: Seq[Q] = Seq(

    // ---- one-scan column profiler ----------------------------------------
    Q("q_profile", ProfileOracle) { (s, d) => profile(customer(s, d)) },

    // ---- functional-dependency discovery over part ------------------------
    Q("q_fd_discovery", FdOracle) { (s, d) =>
      fdDiscovery(part(s, d), Seq(
        "p_partkey" -> "p_name", "p_name" -> "p_brand",
        "p_brand" -> "p_type", "p_type" -> "p_brand"))
    },

    // ---- referential-integrity audit across the star schema ---------------
    Q("q_fk_audit", FkOracle) { (s, d) =>
      fkAudit(Seq(
        ("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
          Tables(s, d, "orders"), "o_orderkey"),
        ("lineitem.l_partkey->part", lineitem(s, d), "l_partkey",
          part(s, d), "p_partkey"),
        ("lineitem.l_suppkey->supplier", lineitem(s, d), "l_suppkey",
          Tables(s, d, "supplier"), "s_suppkey"),
        ("orders.o_custkey->customer", Tables(s, d, "orders"), "o_custkey",
          customer(s, d), "c_custkey"),
        ("customer.c_nationkey->nation", customer(s, d), "c_nationkey",
          Tables(s, d, "nation"), "n_nationkey")))
    },

    // ---- exact set-similarity self-join, UNIGRAM Jaccard >= 0.8 -----------
    // Round 8: runs on the long-tail SynthText corpus, which is what lets
    // set similarity use plain unigram token sets — the form the natural
    // fixture's ~31-word vocabulary made degenerate (see [[shingleSet]]'s
    // note; the shingle workaround now lives on only where char-level
    // similarity is the point). With a Zipf-ish 16k vocabulary the
    // rarity-ordered prefix filter does real work: head words are shared
    // corpus-wide but never enter a prefix, and candidate fan-out tracks
    // each doc's RAREST tokens exactly as PPJoin intends.
    Q("q_setsim_join", SetSimOracle) { (s, d) =>
      setSimJoin(SynthText.docs(s, d).select(col("doc_id"),
        array_distinct(split(trim(col("text")), "\\s+")).as("toks")), tPct = 80)
    },

    // ---- Pareto skyline: min size, max price ------------------------------
    Q("q_skyline", SkylineOracle) { (s, d) => skyline(part(s, d)) },

    // ---- fuzzy entity resolution: dirty titles -> source docs -------------
    // Round 8: titles come from the long-tail SynthText corpus, so the
    // conjunctive blocking key has realistic selectivity (group-keyed
    // words, ~1 group per key) instead of the natural fixture's
    // thousands-deep token dfs.
    Q("q_er_join", ErOracle) { (s, d) =>
      val (clean, dirty, cand) = erJoin(SynthText.docs(s, d))
      cand.join(dirty, "did").join(clean, "doc_id")
        .select(col("did"), col("doc_id"),
          levenshtein(col("dtitle"), col("title")).cast("long").as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("did").orderBy(col("dist"), col("doc_id"))))
        .where(col("rn") === 1)
        .select(col("did"), col("doc_id").as("matched_id"), col("dist"))
    },

    // ---- calendar gap-fill + forward fill ---------------------------------
    Q("q_gapfill", GapFillOracle) { (s, d) => gapFill(events(s, d)) },

    // ---- triangle counting on the top-8 co-purchase affinity graph --------
    // Co-occurrence WITHOUT a fact-table self-join: group each order's
    // distinct parts into one sorted array (collect_set — the only
    // orderkey shuffle), emit its 2-combinations map-side with an indexed
    // transform, count pairs. Groups are order-sized (~4 parts), so the
    // explode is linear — the 600k×600k self-join this replaces sorted
    // the fact table twice for the same pairs.
    Q("q_triangle", TriangleOracle) { (s, d) =>
      triangleCounts(affinityEdges(s, d))
    },

    // ---- local clustering coefficient on the same affinity graph ----------
    // Per node: degree, triangles through it, and the local clustering
    // coefficient 2·tri / (deg·(deg−1)) in exact ppm (integer floor-div;
    // deg ≥ 2 rows only, so the denominator is never 0). Degrees are one
    // grouped count over the directed edge view; triangles reuse
    // [[triangleCounts]]; nodes with no triangle coalesce to 0 via the
    // left join. Shares the memoized affinity edge set with q_triangle —
    // the fact-table work is paid once per data dir.
    Q("q_clustering_coeff", {
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |co AS (SELECT a.p AS s, b.p AS d, CAST(count(*) AS BIGINT) AS w
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |dir AS (SELECT s AS n, d AS m, w FROM co UNION ALL SELECT d, s, w FROM co),
        |rk AS (SELECT n, m, row_number() OVER (PARTITION BY n ORDER BY w DESC, m) AS rn FROM dir),
        |e AS (SELECT DISTINCT least(n, m) AS s, greatest(n, m) AS d FROM rk WHERE rn <= 8),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT s AS n FROM e UNION ALL SELECT d FROM e) GROUP BY n),
        |t AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
        |  FROM e e1 JOIN e e2 ON e1.d = e2.s JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
        |u AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t),
        |tri AS (SELECT node, CAST(count(*) AS BIGINT) AS tri_cnt FROM u GROUP BY node)
        |SELECT deg.n AS node, deg.deg, coalesce(tri.tri_cnt, 0) AS tri_cnt,
        |  (coalesce(tri.tri_cnt, 0) * 2 * 1000000) // (deg.deg * (deg.deg - 1))
        |    AS coeff_ppm
        |FROM deg LEFT JOIN tri ON deg.n = tri.node WHERE deg.deg >= 2""".stripMargin
    }) { (s, d) =>
      val e = affinityEdges(s, d)
      val deg = e.select(col("s").as("n")).unionAll(e.select(col("d").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      deg.join(triangleCounts(e), col("n") === col("node"), "left")
        .where(col("deg") >= 2)
        .select(col("n").as("node"), col("deg"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
        .withColumn("coeff_ppm",
          expr("(tri_cnt * 2 * 1000000) div (deg * (deg - 1))"))
    },

    // ---- bounded k-core peel (k=3, 3 rounds) ------------------------------
    // Iterative degeneracy peeling on the same memoized affinity graph:
    // each round drops nodes of degree < k and the edges touching them —
    // the dense-subgraph extraction step community mining and spam-farm
    // detection start from. Each round is one grouped degree count plus
    // two semi-join filters (broadcastable survivor sets); rounds are
    // checkpointed like the BFS loop so lineage stays linear. The oracle
    // replays the identical rounds as CTEs. Output: surviving nodes and
    // their degree in the peeled subgraph.
    {
      def peel(prev: String, out: String) =
        s"""dg$out AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
           |  (SELECT s AS n FROM e$prev UNION ALL SELECT d FROM e$prev) GROUP BY n),
           |k$out AS (SELECT n FROM dg$out WHERE deg >= 3),
           |e$out AS (SELECT s, d FROM e$prev
           |  WHERE s IN (SELECT n FROM k$out) AND d IN (SELECT n FROM k$out))"""
          .stripMargin
      val sql =
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |co AS (SELECT a.p AS s, b.p AS d, CAST(count(*) AS BIGINT) AS w
           |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
           |dir AS (SELECT s AS n, d AS m, w FROM co UNION ALL SELECT d, s, w FROM co),
           |rk AS (SELECT n, m, row_number() OVER (PARTITION BY n ORDER BY w DESC, m) AS rn FROM dir),
           |e0 AS (SELECT DISTINCT least(n, m) AS s, greatest(n, m) AS d FROM rk WHERE rn <= 8),
           |${peel("0", "1")},
           |${peel("1", "2")},
           |${peel("2", "3")}
           |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM
           |  (SELECT s AS n FROM e3 UNION ALL SELECT d FROM e3) GROUP BY n""".stripMargin
      // each peel level references its edge CTE twice — DuckDB's default
      // CTE INLINING re-evaluates the whole upstream chain 3^levels times
      // (70 GB spill at sf1); materialization alone makes it 10 s
      Q("q_kcore", sql) { (s, d) => kCorePeel(affinityEdges(s, d), k = 3, rounds = 3) }
        .atScale("materialized-cte", ScaleOracles.materializeCtes(sql))
    },

    // ---- label-propagation community detection (3 synchronous rounds) -----
    // The community-mining counterpart of the k-core peel, on the same
    // memoized affinity graph: labels start as node ids; each round every
    // node adopts the MOST FREQUENT label among its neighbours (ties →
    // smallest label — synchronous LPA made deterministic, so both
    // engines replay bit-identically). A fixed round budget is the
    // scale-honest contract (the kCorePeel argument); each round is one
    // edge-keyed join plus two grouped aggregations, checkpointed so
    // lineage stays linear. Output: (node, community, community_size).
    Q("q_label_prop", {
      def round(prev: String, out: String) =
        s"""c$out AS (SELECT dir.n, l.lbl, CAST(count(*) AS BIGINT) AS c
           |  FROM dir JOIN l$prev l ON dir.m = l.n GROUP BY 1, 2),
           |l$out AS (SELECT n, min(lbl) AS lbl FROM (
           |    SELECT n, lbl, c, max(c) OVER (PARTITION BY n) AS mx FROM c$out)
           |  WHERE c = mx GROUP BY n)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |co AS (SELECT a.p AS s, b.p AS d, CAST(count(*) AS BIGINT) AS w
         |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |dir0 AS (SELECT s AS n, d AS m, w FROM co UNION ALL SELECT d, s, w FROM co),
         |rk AS (SELECT n, m, row_number() OVER (PARTITION BY n ORDER BY w DESC, m) AS rn FROM dir0),
         |e0 AS (SELECT DISTINCT least(n, m) AS s, greatest(n, m) AS d FROM rk WHERE rn <= 8),
         |dir AS (SELECT s AS n, d AS m FROM e0 UNION ALL SELECT d, s FROM e0),
         |l0 AS (SELECT DISTINCT n, n AS lbl FROM dir),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT n AS node, CAST(lbl AS BIGINT) AS community,
         |  CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
         |FROM l3""".stripMargin
    }) { (s, d) => labelPropagate(affinityEdges(s, d), rounds = 3) },

    // ---- power-of-two size histogram --------------------------------------
    // Log-scale size distributions (document lengths here; file sizes,
    // group sizes, payload bytes in production) without any float log:
    // bucket = length(bin(x)) = ⌊log₂ x⌋ + 1, a STRING-length of the
    // binary rendering both engines define identically for positive
    // integers. One group-by on a ≤64-value key.
    Q("q_size_histogram",
      """WITH b AS (SELECT length(bin(n_chars)) AS bucket, n_chars
        |  FROM documents WHERE n_chars > 0)
        |SELECT CAST(bucket AS INT) AS log2_bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin) { (s, d) =>
      documents(s, d).filter(col("n_chars") > 0)
        .select(length(bin(col("n_chars"))).cast("int").as("log2_bucket"),
          col("n_chars"))
        .groupBy("log2_bucket")
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
    },

    // ---- key-skew audit (the evidence before salting) ---------------------
    // The report you read BEFORE reaching for q_salted_join/q_salted_agg:
    // the per-key group-size distribution of a join/aggregation key —
    // hottest key's share, exact lower-median and p99 group size, and
    // their ratio. All integers (share/ratio in basis points by floor
    // division); the median/p99 picks use the exact row_number device on
    // the key-size frame, which is CARDINALITY-sized, not corpus-sized —
    // the audit costs one group-by even at 100 TB.
    Q("q_skew_report",
      """WITH sz AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, o_custkey)
        |    AS rn FROM sz),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt FROM sz)
        |SELECT st.n_keys, st.n_rows, st.max_cnt,
        |  CAST((st.max_cnt * 10000) // st.n_rows AS BIGINT)
        |    AS top_share_bp,
        |  CAST((SELECT cnt FROM r WHERE rn = (st.n_keys + 1) // 2)
        |    AS BIGINT) AS p50_cnt,
        |  CAST((SELECT cnt FROM r WHERE rn =
        |      greatest((st.n_keys * 99) // 100, 1)) AS BIGINT) AS p99_cnt,
        |  CAST(((SELECT cnt FROM r WHERE rn =
        |      greatest((st.n_keys * 99) // 100, 1)) * 10000)
        |    // (SELECT cnt FROM r WHERE rn = (st.n_keys + 1) // 2)
        |    AS BIGINT) AS skew_ratio_bp
        |FROM st""".stripMargin) { (s, d) =>
      val sz = Tables(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"))
      // two-pass distributed rank — no single-partition window over the
      // customer-cardinality frame (Scale.globalRank)
      val r = Scale.globalRank(sz, Seq(col("cnt"), col("o_custkey")), "rn")
      val st = sz.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      // ONE pass over the ranked frame picks both percentiles (p50 may
      // equal p99 on tiny key sets — the two whens then read one row)
      val picks = r.crossJoin(broadcast(st))
        .filter(col("rn") === expr("(n_keys + 1) div 2") ||
          col("rn") === expr("greatest((n_keys * 99) div 100, 1L)"))
        .agg(min(when(col("rn") === expr("(n_keys + 1) div 2"),
            col("cnt"))).as("p50_cnt"),
          min(when(col("rn") === expr("greatest((n_keys * 99) div 100, 1L)"),
            col("cnt"))).as("p99_cnt"))
      st.crossJoin(broadcast(picks))
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          expr("(max_cnt * 10000) div n_rows").as("top_share_bp"),
          col("p50_cnt"), col("p99_cnt"),
          expr("(p99_cnt * 10000) div p50_cnt").as("skew_ratio_bp"))
    },

    // ---- bitmap audience intersections ------------------------------------
    // The audience-engine pattern: per-segment user sets compressed to
    // bitmap WORDS (user_id div 32 → word index, bit_or of 1<<bit — 32
    // bits per word so the shift can never hit a BIGINT sign bit, which
    // DuckDB rejects), so segment-pair overlap is a word-keyed join of
    // bitmap fragments + popcount — the shuffle carries |users|/32
    // words per segment instead of every (user, segment) row, and
    // AND/OR/NOT compose audiences without ever re-touching the fact
    // table. The oracle computes the same overlaps INDEPENDENTLY via
    // distinct-user self-join — a semantic check, not a replay.
    Q("q_bitmap_audience",
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS seg_a, b.event_type AS seg_b,
        |  CAST((SELECT count(*) FROM u x WHERE x.event_type = a.event_type)
        |    AS BIGINT) AS n_a,
        |  CAST((SELECT count(*) FROM u x WHERE x.event_type = b.event_type)
        |    AS BIGINT) AS n_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        |FROM u a JOIN u b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      // pmod + floor-consistent word index: `%` would hand shiftleft a
      // NEGATIVE bit position for user_id < 0 and truncating `div` would
      // misalign that row's word. pmod keeps the bit in [0, 32) and
      // `(id - pmod(id, 32)) div 32` is floor(id/32) for any sign, so the
      // (word, bit) decomposition stays a bijection over all BIGINT ids
      // (identical to the old spelling for the fixture's id >= 0).
      val words = events(s, d)
        .select(col("event_type"), col("user_id"))
        .groupBy(col("event_type"),
          expr("(user_id - pmod(user_id, 32)) div 32").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT)," +
          " CAST(pmod(user_id, 32) AS INT)))").as("bits"))
      val sizes = words.groupBy("event_type")
        .agg(sum(bit_count(col("bits"))).as("n_users"))
      val a = words.select(col("event_type").as("seg_a"), col("w"),
        col("bits").as("ba"))
      val b = words.select(col("event_type").as("seg_b"), col("w"),
        col("bits").as("bb"))
      a.join(b, Seq("w")).filter(col("seg_a") < col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(sum(bit_count(expr("ba & bb"))).as("n_common"))
        // pairs sharing a 32-user WORD but zero actual users would emit
        // n_common = 0 here while the oracle's user-level join emits no
        // row at all — drop them so both engines report overlapping
        // pairs only
        .filter(col("n_common") > 0)
        .join(broadcast(sizes.select(col("event_type").as("seg_a"),
          col("n_users").as("n_a"))), "seg_a")
        .join(broadcast(sizes.select(col("event_type").as("seg_b"),
          col("n_users").as("n_b"))), "seg_b")
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          col("n_common"))
    },

    // ---- time-decayed engagement score ------------------------------------
    // Recency-weighted activity with a 1-day half-life, kept EXACT: the
    // weight 2^(−days_ago) in ppm is an integer floor-division by a
    // power of two (1000000 div 1<<days; days ≥ 20 truncates to 0 — the
    // same on both engines by the same spelling), so scores are exact
    // integer sums — no pow(), no float decay drift between engines.
    // One user-keyed aggregation after a 1-row broadcast of the corpus
    // horizon.
    Q("q_decay_engagement",
      """WITH h AS (SELECT max(ts) AS ref FROM events),
        |e AS (SELECT user_id,
        |    (epoch_us(ref) - epoch_us(ts)) // 86400000000 AS days_ago
        |  FROM events CROSS JOIN h)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN days_ago < 20
        |      THEN 1000000 // (CAST(1 AS BIGINT) << CAST(days_ago AS INT))
        |      ELSE 0 END) AS BIGINT) AS decay_score_ppm
        |FROM e GROUP BY 1""".stripMargin) { (s, d) =>
      val h = events(s, d).agg(max(col("ts")).as("ref"))
      events(s, d).crossJoin(broadcast(h))
        .select(col("user_id"),
          expr("(unix_micros(ref) - unix_micros(ts)) div 86400000000")
            .as("days_ago"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("days_ago") < 20,
            expr("1000000L div shiftleft(CAST(1 AS BIGINT)," +
              " CAST(days_ago AS INT))")).otherwise(0L))
            .as("decay_score_ppm"))
    }
  )
}
