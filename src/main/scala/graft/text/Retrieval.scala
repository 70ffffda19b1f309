package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus — the "find training docs
  * about X" / eval-set mining primitive that rides on the same tokenized
  * view the dedup and quality operators use.
  *
  * BM25 here uses the Robertson idf WITHOUT the log:
  * `idf = (N - df + 0.5) / (df + 0.5)` — a strictly monotone transform of
  * the classic `log` form, so rankings for single-term queries are
  * identical and multi-term rankings weight rare terms more aggressively.
  * The reason is engine exactness: `+ - * /` and `sqrt` are IEEE
  * correctly-rounded everywhere, `ln` is only ≤1 ulp per libm — a log in
  * the scoring path would make the DuckDB oracle flaky at score-boundary
  * ties. Per-term weights are fixed-pointed (×10⁶ bigint) before the
  * per-document sum, so accumulation is exact and order-free.
  *
  * Scale design: the corpus token stream is filtered to query-term hits
  * BEFORE any shuffle (the explode feeds a codegen'd `IN` filter), so the
  * aggregation shuffles at most |queryTerms| rows per document. Corpus
  * stats (N, Σdl) and the df table are 1-row / |queryTerms|-row broadcast
  * sides. Top-k is TakeOrderedAndProject (per-partition heaps, no global
  * sort), deterministically tie-broken on doc id.
  */
object Retrieval {

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of the
    * BM25 text leg and the embedding-cosine leg — the standard "hybrid
    * search" recipe for RAG / eval-set mining. Each leg contributes
    * `1/(rrfK + rank)` for its top `kPerLeg` hits; fused score is the sum,
    * kept in ×10⁹ fixed-point so the compare is integer-exact (rank inputs
    * are integers, the division is one IEEE op per leg).
    *
    * `emb` must be a 2-column (id, vector) frame whose ids align with
    * `docs`' id column. Both legs end in bounded top-k (TakeOrdered /
    * bounded partial agg), so the fusion join runs over ≤2·kPerLeg rows
    * regardless of corpus size.
    * Output: (doc_id, trank, vrank, score_fp) — null rank = the leg
    * didn't surface the doc. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], queryVecId: Long, k: Int,
      kPerLeg: Int = 20, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unpartitioned window is safe: the frame is the ≤kPerLeg-row top set
    val text = bm25TopK(docs, idCol, textCol, queryTerms, kPerLeg)
      .withColumn("trank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("trank"))
    val qv = emb.toDF("vec_id", "embedding")
      .filter(col("vec_id") === queryVecId)
    val vec = graft.similarity.Ann.bruteForceTopK(emb, qv, kPerLeg)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("vrank"))
    def rrf(r: Column) = coalesce(
      floor(lit(1000000000.0) / (lit(rrfK) + r)).cast("long"), lit(0L))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("score_fp", rrf(col("trank")) + rrf(col("vrank")))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "trank", "vrank", "score_fp")
  }

  /** Top-k documents by BM25(ish) score for a bag-of-words query.
    * Output: (doc_id, score, n_terms) where n_terms counts the distinct
    * query terms the document hit. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    // ONE corpus text scan: project each doc down to (id, dl, query-term
    // hits) and persist that — doc-count-sized longs + a ≤|terms| array,
    // not text. The stats / tf / df legs all derive from it (naively each
    // leg re-scans the corpus — 3 full text reads at 100 TB). Released
    // before returning (materialize-then-release, the library-wide cache
    // hygiene contract).
    val terms = queryTerms.map(t => "'" + t.replace("'", "\\'") + "'")
      .mkString(", ")
    val base = docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        expr(s"filter(toks, t -> t IN ($terms))").as("hits"))
      .persist()
    // corpus stats: one 1-row aggregate, broadcast (labeled scalar cross)
    val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val idf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val denom = tfD + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * (col("dl").cast("double") / avgdl))
    // k1 + 1 as an explicit IEEE add (not a Scala-side constant): the
    // oracle mirrors `(CAST(k1 AS DOUBLE) + 1.0)` so both engines round
    // the sum identically instead of each parsing a "2.2" literal
    val w = idf * ((tfD * (lit(k1) + lit(1.0))) / denom)
    val out = tf.join(broadcast(dfTbl), "term")
      .join(broadcast(stats)) // 1-row scalar: intentional cross join
      .withColumn("w_fp", floor(w * 1000000d + 0.5d).cast("long"))
      .groupBy("doc_id")
      .agg(sum("w_fp").as("score_fp"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        (col("score_fp") / 1000000.0).cast("double").as("score"),
        col("n_terms"))
    // ≤k rows; bounds base's persist to this call
    graft.ops.Par.materializeThenRelease(out, base)
  }

  /** Persist the full-text index layers at `path`: the complete inverted
    * postings (term, doc_id, tf) RANGE-SORTED BY TERM so a probe's
    * `term IN (...)` pushes into parquet row-group stats and reads only
    * the matching term ranges; per-term document frequencies (computed
    * from the written postings — one index-sized read, no second corpus
    * scan); doc lengths; and the 1-row corpus stats. The corpus TEXT is
    * scanned exactly once at build; every later query is index-sized
    * I/O — the retrieval member of the build-once/probe-many family
    * (LSH/winnowing/IVF/grid/image-hash). */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        col("toks"))
      .persist()
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .repartitionByRange(8, col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings")
    spark.read.parquet(s"$path/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .repartitionByRange(4, col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/df")
    toks.select("doc_id", "dl").write.mode("overwrite").parquet(s"$path/doclens")
    toks.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    toks.unpersist()
  }

  /** BM25 top-k against a persisted [[buildTextIndex]] layout: the term
    * filter lands on the sorted postings scan (row-group pruning), the
    * query-term posting slice BROADCASTS onto the doc-length join, and
    * the scoring arithmetic is expression-for-expression the inline
    * [[bm25TopK]] formula — RetrievalSpec asserts byte-equal results.
    * Zero corpus text reads at probe time. */
  def bm25TopKIndexed(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(queryTerms: _*))
    val dfTbl = spark.read.parquet(s"$path/df")
      .filter(col("term").isin(queryTerms: _*))
    val stats = spark.read.parquet(s"$path/stats")
    val dl = spark.read.parquet(s"$path/doclens")
    val tf = broadcast(post).join(dl, "doc_id")
    val nD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val idf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val denom = tfD + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * (col("dl").cast("double") / avgdl))
    val w = idf * ((tfD * (lit(k1) + lit(1.0))) / denom)
    tf.join(broadcast(dfTbl), "term")
      .join(broadcast(stats)) // 1-row scalar: intentional cross join
      .withColumn("w_fp", floor(w * 1000000d + 0.5d).cast("long"))
      .groupBy("doc_id")
      .agg(sum("w_fp").as("score_fp"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        (col("score_fp") / 1000000.0).cast("double").as("score"),
        col("n_terms"))
  }
}
