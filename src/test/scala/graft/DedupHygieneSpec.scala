package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.Ann

/** Library cache hygiene: every dedup/ANN entry point that persists a
  * corpus-sized intermediate must release it before returning — a
  * consumer running many calls per session must accumulate NOTHING in
  * the SQL cache (round-4 finding: hashedDocs' persist leaked until the
  * harness's clearCache). The entry points either return a lazy plan
  * that persists nothing (the near-dup families — LazyEntrySpec) or
  * materialize their bounded result as a local checkpoint (RDD blocks
  * outside the cache manager, freed on GC) and then release the persist
  * (`Par.materializeThenRelease`), so the assert is simply: the cache
  * manager is empty after the call returns. */
class DedupHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "completely different content about spark query engines and columnar formats"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "unrelated short text snippet")
    ).toDF("doc_id", "text")
  }

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
  }

  private def assertCacheEmpty(label: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$label left entries in the SQL cache manager")

  test("near-dup and delta paths leave the SQL cache empty") {
    spark.sqlContext.clearCache()
    val delta = docs.filter(col("doc_id") >= 2)

    Dedup.nearDupMinhash(docs, "doc_id", "text", 0.8).count()
    assertCacheEmpty("nearDupMinhash")

    Dedup.nearDupCharNgram(docs, "doc_id", "text", 0.8).count()
    assertCacheEmpty("nearDupCharNgram")

    Dedup.lshCandidates(docs, "doc_id", "text").count()
    assertCacheEmpty("lshCandidates")

    Dedup.nearDupDelta(delta, docs, "doc_id", "text", 0.8).count()
    assertCacheEmpty("nearDupDelta")

    Dedup.dedupClusters(docs, "doc_id", "text", 0.8).count()
    assertCacheEmpty("dedupClusters")

    Dedup.exactDeltaBloom(docs, delta, "doc_id", "text").count()
    assertCacheEmpty("exactDeltaBloom")

    Dedup.simhashRecallCheck(docs, "doc_id", "text").count()
    assertCacheEmpty("simhashRecallCheck")

    Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding",
      threshold = 0.9, dim = 4).count()
    assertCacheEmpty("nearDupEmbeddingLsh")

    Ann.lshTopK(vecs.toDF("id", "vec"), vecs.toDF("id", "vec").limit(2),
      k = 2, dim = 4).count()
    assertCacheEmpty("lshTopK")
  }

  test("clusterKeepBest keeps the longest member per cluster, cache stays empty") {
    spark.sqlContext.clearCache()
    val out = Dedup.clusterKeepBest(docs, "doc_id", "text", threshold = 0.8).collect()
    assertCacheEmpty("clusterKeepBest")
    // (cluster, keep_id, keep_len, n_members, total_chars)
    val byCluster = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // docs {0,1,3} near-dup (jaccard 10/12): keeper is doc 1 ("tonight" —
    // the longest text); 2 and 4 are singletons keeping themselves
    assert(byCluster(0L) == ((1L, 3L)), s"got $byCluster")
    assert(byCluster(2L) == ((2L, 1L)) && byCluster(4L) == ((4L, 1L)))
    assert(out.length == 3)
  }

  test("containment pairs release their gram-set cache and find the exact dup") {
    spark.sqlContext.clearCache()
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      kShingle = 8, num = 4, den = 5).collect()
    assertCacheEmpty("containmentPairs")
    // docs 0 and 3 are verbatim-identical: containment 1.0 both directions
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((3L, 0L)))
    // every surviving pair satisfies the integer threshold it claims
    assert(out.forall(r => r.getInt(2).toLong * 5 >= r.getLong(3) * 4))
  }

  test("indexed delta probes leave the SQL cache empty") {
    spark.sqlContext.clearCache()
    val idx = java.nio.file.Files.createTempDirectory("graft_hyg_idx").toString
    Dedup.buildCorpusIndex(docs, "doc_id", "text", idx)
    assertCacheEmpty("buildCorpusIndex")
    val delta = docs.filter(col("doc_id") >= 2)
    Dedup.nearDupDeltaIndexed(delta, idx, "doc_id", "text", 0.8).count()
    assertCacheEmpty("nearDupDeltaIndexed")
    val hits = Dedup.exactDeltaIndexed(delta, idx, "doc_id", "text")
    // id 3 is a verbatim copy of id 0 (in the index); id 2/4 are unique
    assert(hits.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    assertCacheEmpty("exactDeltaIndexed")
  }

  test("native bloom probe keeps the delta scan in whole-stage codegen") {
    // exactDeltaBloom's result is an eager checkpoint (plan truncated), so
    // inspect the lazy indexed probe, which shares the same native
    // mightContainNative filter shape on the delta scan
    val delta = docs.filter(col("doc_id") >= 2)
    val idx = java.nio.file.Files.createTempDirectory("graft_hyg_cg").toString
    Dedup.buildCorpusIndex(delta, "doc_id", "text", idx)
    // parquet-backed delta: a Seq-local relation would be folded by
    // ConvertToLocalRelation, evaluating the probe at optimization time
    docs.write.mode("overwrite").parquet(s"$idx/delta_in")
    val probe = Dedup.exactDeltaIndexed(
      spark.read.parquet(s"$idx/delta_in"), idx, "doc_id", "text")
    probe.collect() // AQE only marks codegen stages (*) in the FINAL plan
    // the AQE printout repeats the plan under "== Initial Plan ==" WITHOUT
    // codegen marks — assert on the final section only
    val p = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("might_contain"), s"native bloom probe missing:\n$p")
    assert(!p.contains("UDF"), "bloom probe fell back to a boxed UDF")
    // codegen'd operators print with a *(stageId) prefix — every Filter
    // carrying the probe must be one of them
    val filterLines = p.linesIterator.filter(_.contains("might_contain")).toSeq
    assert(filterLines.nonEmpty && filterLines.forall(_.contains("*(")),
      s"bloom filter outside WholeStageCodegen:\n$p")
  }

  test("winnowing overlap and indexed probe leave the SQL cache empty") {
    spark.sqlContext.clearCache()
    val pairs = graft.ops.CorpusOps.winnowOverlapPairs(docs, dfCap = 20L,
      minShared = 1L).collect()
    assertCacheEmpty("winnowOverlapPairs")
    // docs 0 and 3 are byte-identical — every fingerprint is shared
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 3L &&
      r.getAs[Long]("overlap_ppm") == 1000000L),
      s"exact duplicate pair not found: ${pairs.mkString(";")}")
    val idx = java.nio.file.Files.createTempDirectory("graft_widx_spec").toString
    graft.ops.CorpusOps.buildWinnowIndex(docs.filter(col("doc_id") =!= 0L),
      s"$idx/v1", dfCap = 20L)
    assertCacheEmpty("buildWinnowIndex")
    val probe = graft.ops.CorpusOps.winnowProbeIndexed(
      docs.filter(col("doc_id") === 0L), s"$idx/v1", minShared = 1L).collect()
    assertCacheEmpty("winnowProbeIndexed")
    // the delta (doc 0) must hit its exact twin (doc 3) through the index
    assert(probe.exists(r => r.getAs[Long]("delta_id") == 0L &&
      r.getAs[Long]("corpus_id") == 3L &&
      r.getAs[Long]("overlap_ppm") == 1000000L),
      s"indexed probe missed the exact duplicate: ${probe.mkString(";")}")
  }
}
