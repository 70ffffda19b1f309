package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.similarity.{Ann, KMeans}

/** The near-dup entry points and LSH top-k return lazy plans: the call itself submits
  * no Spark job (apart from the bounded sizing/model-fit jobs named per
  * case), the returned plan holds no checkpointed `LogicalRDD`, and the
  * SQL cache manager is empty both after the call and after the action. */
class LazyEntrySpec extends AnyFunSuite {

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
      (3L, Array(0f, 0f, 1f, 0f)),
      (4L, Array(0f, 0.05f, 1f, 0f))
    ).toDF("vec_id", "embedding")
  }

  private var group = 0

  /** Runs `build` under a fresh job group; returns its frame and the
    * number of jobs the call submitted. */
  private def jobsOf(build: => DataFrame): (DataFrame, Int) = {
    group += 1
    val g = s"lazy-entry-$group"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    val df = try build finally sc.clearJobGroup()
    (df, sc.statusTracker.getJobIdsForGroup(g).length)
  }

  /** The lazy contract around one entry point: `expectedJobs` at call
    * time, no checkpoint in the plan, an empty cache before and after
    * the action. Returns the collected rows. */
  private def checkLazy(label: String, expectedJobs: Int)(build: => DataFrame) = {
    spark.sqlContext.clearCache()
    val (df, jobs) = jobsOf(build)
    assert(jobs == expectedJobs, s"$label submitted $jobs jobs before an action")
    val rdds = df.queryExecution.analyzed.collect { case r: LogicalRDD => r }
    assert(rdds.isEmpty, s"$label returned a checkpointed plan:\n${df.queryExecution.analyzed}")
    assert(spark.sharedState.cacheManager.isEmpty, s"$label left a cache entry")
    val rows = df.collect()
    assert(spark.sharedState.cacheManager.isEmpty, s"$label's action left a cache entry")
    rows
  }

  private def pairs(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash and char-n-gram near-dup submit no job before the action") {
    val mh = checkLazy("nearDupMinhash", 0)(
      Dedup.nearDupMinhash(docs, "doc_id", "text", 0.8))
    assert(pairs(mh).contains((0L, 3L)), mh.mkString(";"))
    val ng = checkLazy("nearDupCharNgram", 0)(
      Dedup.nearDupCharNgram(docs, "doc_id", "text", 0.8))
    assert(pairs(ng).contains((0L, 3L)), ng.mkString(";"))
  }

  test("embedding LSH runs only its sizing count, and none with fixed parameters") {
    // one count action can be more than one job (AQE runs its exchange
    // as a map-stage job first): measure the bare count the same way
    val (_, countJobs) = jobsOf { vecs.count(); spark.emptyDataFrame }
    val sized = checkLazy("nearDupEmbeddingLsh(auto)", countJobs)(
      Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding", threshold = 0.9, dim = 4))
    val fixed = checkLazy("nearDupEmbeddingLsh(fixed)", 0)(
      Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding", threshold = 0.9, dim = 4,
        bits = 4, tables = 8))
    assert(pairs(sized).contains((0L, 1L)) && pairs(fixed).contains((0L, 1L)))
  }

  test("semDedup runs only the k-means fit before the action") {
    // the centroids are fitted eagerly and enter the plan as literals:
    // the call may run exactly the jobs of that fit and nothing more
    val (_, fitJobs) = jobsOf(KMeans.assignClusters(vecs, "vec_id", "embedding", 2))
    assert(fitJobs > 0)
    val rows = checkLazy("semDedup", fitJobs)(
      KMeans.semDedup(vecs, "vec_id", "embedding", k = 2, threshold = 0.95))
    // drop rule over the returned clusters: a lower-id cluster-mate within
    // cosine 0.95 (the only such pairs are 0~1 and 3~4)
    val cluster = rows.map(r => r.getLong(0) -> r.get(1)).toMap
    val mates = Map(1L -> 0L, 4L -> 3L)
    assert(rows.length == 5)
    for (r <- rows) {
      val id = r.getLong(0)
      val drop = mates.get(id).exists(m => cluster(m) == cluster(id))
      assert(r.getBoolean(2) == !drop, s"vec $id: ${rows.mkString(";")}")
    }
  }

  test("image index probe submits no job before the action") {
    import spark.implicits._
    val imgs = Multimodal.withPngPayload((0L until 40L).toDF("doc_id"), "doc_id")
    val idx = java.nio.file.Files.createTempDirectory("graft_lazy_img").toString
    Multimodal.buildImageHashIndex(imgs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "payload", idx)
    val delta = imgs.filter(col("doc_id") % 5 === 0)
    val rows = checkLazy("imageNearDupProbeIndexed", 0)(
      Multimodal.imageNearDupProbeIndexed(spark, idx, delta, "doc_id", "payload"))
    assert(rows.forall(r => r.getLong(0) % 5 == 0 && r.getLong(1) % 5 != 0 &&
      r.getInt(2) <= 3))
  }

  test("LSH top-k submits no job before the action") {
    val rows = checkLazy("lshTopK", 0)(Ann.lshTopK(vecs, vecs.limit(2), k = 2, dim = 4))
    assert(rows.exists(r => r.getLong(0) == 0L && r.getInt(1) == 1 && r.getLong(2) == 1L),
      rows.mkString(";"))
  }
}
