package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{PipelineOps, Tables, TempDirs}
import graft.similarity.Ann

/** Golden values for every `graft.similarity.Ann` search path at sf0.001:
  * the `ResultHash` of the q_ann_* registry queries; because those
  * queries mostly return `recall_ok` booleans, also the raw top-k frames
  * (query_id, rank, neighbor_id, cos) of each entry point at the
  * registry's parameters on the raw and the clustered fixture; and an md5
  * of the trained IVF centroid and PQ codebook doubles, read back from
  * the persisted index models. A candidate generator, rerank or trainer
  * whose answer drifts by one bit fails here. */
class AnnGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val dir = "/root/testdata/sf0.001"

  private val registry: Seq[(String, (Long, String, String))] = Seq(
    "q_ann_bruteforce" -> ((40L,
      "neighbor_id,query_id,rank",
      "23e42f540755e981e22fc9a3d61cafea")),
    "q_ann_filtered" -> ((40L,
      "neighbor_id,query_id,rank",
      "d6cc2b62d32e159b2229e4b858ad228f")),
    "q_ann_int8" -> ((40L,
      "neighbor_id,query_id,rank",
      "590703d33874538175df113aad8b138c")),
    "q_ann_int8_gate" -> ((8L,
      "overlap_ok,query_id",
      "d10d178c344af3b5452857d50f0220ca")),
    "q_ann_lsh" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_ivf" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_pq" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_ivfpq" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_pq_indexed" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_ivf_indexed" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")),
    "q_ann_index_update" -> ((8L,
      "query_id,recall_ok",
      "87d9ec646e39551bf3bfc803753f59f9")))

  /** Row count and `ResultHash` md5 of each (fixture, entry point) frame. */
  private val frames: Map[String, String] = Map(
    "raw/bruteForceTopK" -> "40:a046e2e0666cfeefa661e172ca644bf4",
    "raw/bruteForceTopKInt8" -> "40:a7de8418146068dd9e80d1f3078f1c15",
    "raw/lshTopK" -> "40:9789cde6e2d88e50accc47749c90a4cb",
    "raw/ivfTopK" -> "40:be58d87608f5eef239bf483735d21f77",
    "raw/ivfTopKIndexed" -> "40:be58d87608f5eef239bf483735d21f77",
    "raw/mergeIvfIndex" -> "40:a6f3787635066aed3dbe5316568733c9",
    "raw/pqTopK" -> "40:4f35fd45202e3f83afbbc71d8bdf25ff",
    "raw/pqTopKReranked" -> "40:a1f53d365786c248593d5986384e7129",
    "raw/ivfPqTopK" -> "40:dc19152d23144827e73d112a9f71c5d3",
    "raw/pqTopKIndexed" -> "40:a1f53d365786c248593d5986384e7129",
    "clustered/bruteForceTopK" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/bruteForceTopKInt8" -> "40:6c630021d7ce798009a39f1882ef899a",
    "clustered/lshTopK" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/ivfTopK" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/ivfTopKIndexed" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/mergeIvfIndex" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/pqTopK" -> "40:3c3d433b8fa12e43363bf28e7419c318",
    "clustered/pqTopKReranked" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/ivfPqTopK" -> "40:cfd30c7a6686335c65d617a1e7e67d43",
    "clustered/pqTopKIndexed" -> "40:cfd30c7a6686335c65d617a1e7e67d43")

  /** md5 of the trained model doubles, per fixture. */
  private val models: Map[String, String] = Map(
    "raw/centroids" -> "7553ae51dbf9d441b422b515aa628486",
    "raw/codebooks" -> "9d0b0989106df413941046a7351824d8",
    "clustered/centroids" -> "3ff8370d2edb9dff16f0ee4066bb9ed9",
    "clustered/codebooks" -> "3e2d8e261b2ee6ae53980c770e22164f")

  private lazy val fixtures: Map[String, DataFrame] = Map(
    "raw" -> Tables(spark, dir, "embeddings").select("vec_id", "embedding"),
    "clustered" -> PipelineOps.clusteredEmb(spark, dir))

  private def tmp(p: String) = TempDirs.tempDir(p)

  /** Each entry point at the registry's parameters. */
  private def topK(emb: DataFrame): Seq[(String, () => DataFrame)] = {
    val q = emb.filter(col("vec_id") < 8)
    Seq(
      "bruteForceTopK" -> (() => Ann.bruteForceTopK(emb, q, k = 5)),
      "bruteForceTopKInt8" -> (() => Ann.bruteForceTopKInt8(emb, q, k = 5)),
      "lshTopK" -> (() => Ann.lshTopK(emb, q, k = 5, dim = 64)),
      "ivfTopK" -> (() => Ann.ivfTopK(emb, q, k = 5, nCells = 16, nProbe = 4)),
      "ivfTopKIndexed" -> { () =>
        val p = tmp("graft_golden_ivf")
        Ann.buildIvfIndex(emb, p, nCells = 16)
        Ann.ivfTopKIndexed(spark, p, q, k = 5, nProbe = 4)
      },
      "mergeIvfIndex" -> { () =>
        val base = tmp("graft_golden_ivf_base")
        Ann.buildIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), base, nCells = 16)
        val out = tmp("graft_golden_ivf_v2")
        Ann.mergeIvfIndex(spark, base, emb.filter(col("vec_id") % 3 === 0), out)
        Ann.ivfTopKIndexed(spark, out, q, k = 5, nProbe = 4)
      },
      "pqTopK" -> (() => Ann.pqTopK(emb, q, k = 5, dim = 64, m = 8, ksub = 32)),
      "pqTopKReranked" -> (() =>
        Ann.pqTopKReranked(emb, q, k = 5, dim = 64, m = 8, ksub = 32)),
      "ivfPqTopK" -> (() => Ann.ivfPqTopK(emb, q, k = 5, dim = 64,
        nCells = 16, nProbe = 4, m = 8, ksub = 32)),
      "pqTopKIndexed" -> { () =>
        val p = tmp("graft_golden_pq")
        Ann.buildPqIndex(emb, p, dim = 64, m = 8, ksub = 32)
        Ann.pqTopKIndexed(spark, p, q, k = 5)
      })
  }

  private def md5(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Raw IEEE bits of a model table's vectors, in key order. */
  private def bits(df: DataFrame, keys: String*): Seq[String] =
    df.orderBy(keys.map(col): _*).collect().toSeq.map { r =>
      (0 until keys.length).map(r.get).mkString(",") + ":" +
        r.getSeq[Double](keys.length)
          .map(d => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
          .mkString(",")
    }

  for ((name, want) <- registry) test(s"$name result hash is unchanged") {
    val got = ResultHash.of(SparkEntry.queries(name)(spark, dir))
    assert(got == want, s"$name -> $got")
  }

  for (fx <- Seq("raw", "clustered")) {
    test(s"$fx top-k frames of every entry point are unchanged") {
      val emb = fixtures(fx)
      val got = topK(emb).map { case (n, run) =>
        val df = run()
        assert(df.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cos"), n)
        val (rows, _, hash) = ResultHash.of(df)
        s"$fx/$n" -> s"$rows:$hash"
      }
      val drift = got.filterNot { case (k, v) => frames.get(k).contains(v) }
      assert(drift.isEmpty, drift.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
    }

    test(s"$fx trained centroids and codebooks are bit-identical") {
      val emb = fixtures(fx)
      val ivf = tmp("graft_golden_model_ivf")
      Ann.buildIvfIndex(emb, ivf, nCells = 16)
      val pq = tmp("graft_golden_model_pq")
      Ann.buildPqIndex(emb, pq, dim = 64, m = 8, ksub = 32)
      val got = Seq(
        s"$fx/centroids" -> md5(bits(spark.read.parquet(s"$ivf/centroids"), "cell_id")),
        s"$fx/codebooks" -> md5(bits(spark.read.parquet(s"$pq/codebooks"),
          "subspace", "codeword")))
      val drift = got.filterNot { case (k, v) => models.get(k).contains(v) }
      assert(drift.isEmpty, drift.map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
    }
  }
}
