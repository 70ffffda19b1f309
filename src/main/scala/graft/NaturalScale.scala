package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run the embedding-confirm operators at scale with their default
  * parameters and validate the answers against a SAMPLED exact ground
  * truth computed independently of the operators' group-local confirm
  * (graft.similarity.PairConfirm).
  *
  * Usage:
  *   run_main.sh graft.NaturalScale <dir> semdedup <k> <threshold> [mod]
  *   run_main.sh graft.NaturalScale <dir> neardup <threshold> [mod]
  *
  * `mod` picks the deterministic sample (vec_id % mod == 0).
  *
  * semdedup gate: for every sampled vector, recompute the EXACT drop
  * predicate (∃ lower-id cluster-mate with cos ≥ t — the operator's
  * definition, evaluated via the same native cosine on a broadcast of
  * the sample only) and count disagreements with the operator's
  * kept/dropped answer. Exactness target: 0 violations.
  *
  * neardup gate: brute-force the sample's TRUE pairs (sample ×
  * full corpus, exact cosine — the all-pairs definition restricted to
  * sampled endpoints) and measure recall of the LSH path against them,
  * plus precision of the found sampled pairs (re-scored exactly).
  * Recall floor: lshParams sizes tables for ≤3% per-pair miss. */
object NaturalScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val op = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def j(v: Double): String = (math.rint(v * 1000) / 1000).toString

    op match {
      case "semdedup" =>
        val k = args(2).toInt
        val t = args(3).toDouble
        val mod = args.lift(4).map(_.toInt).getOrElse(997)
        val t0 = System.nanoTime()
        val res = graft.similarity.KMeans
          .semDedup(emb, "vec_id", "embedding", k, t)
          .localCheckpoint(true) // read by four count jobs: confirm once
        val dropped = res.filter(!col("kept")).count()
        val total = res.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // sampled exact re-check of the drop predicate
        val members = res.join(emb, "vec_id")
        val sample = members.filter(pmod(col("vec_id"), lit(mod)) === 0)
          .select(col("vec_id").as("s_id"), col("cluster").as("s_c"),
            col("kept").as("s_kept"), col("embedding").as("s_v"))
        val truth = members
          .join(broadcast(sample), col("cluster") === col("s_c") &&
            col("vec_id") < col("s_id"))
          .withColumn("_hit",
            graft.similarity.Ann.cosine(col("embedding"), col("s_v")) >= t)
          .groupBy("s_id").agg(max(col("_hit")).as("should_drop"))
        val checked = sample.join(truth, Seq("s_id"), "left")
          .select(col("s_id"), col("s_kept"),
            coalesce(col("should_drop"), lit(false)).as("should_drop"))
        val nSample = checked.count()
        val violations = checked
          .filter(col("s_kept") === col("should_drop")).count()
        println(s"""{"op":"semdedup","dir":"$dir","k":$k,"threshold":$t,"n":$total,"dropped":$dropped,"wall_sec":${j(wall)},"sampled":$nSample,"violations":$violations}""")

      case "neardup" =>
        val t = args(2).toDouble
        val mod = args.lift(3).map(_.toInt).getOrElse(3989)
        val t0 = System.nanoTime()
        val found = graft.dedup.Dedup
          .nearDupEmbeddingLsh(emb, "vec_id", "embedding", t, dim = 64)
          .localCheckpoint(true) // read by the count and the sample join: confirm once
        val nFound = found.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val sample = emb.filter(pmod(col("vec_id"), lit(mod)) === 0)
          .select(col("vec_id").as("s_id"), col("embedding").as("s_v"))
        // exact sampled truth: every true pair with a sampled endpoint
        val truth = emb.join(broadcast(sample), col("vec_id") =!= col("s_id"))
          .filter(graft.similarity.Ann.cosine(col("embedding"), col("s_v")) >= t)
          .select(least(col("vec_id"), col("s_id")).as("id_a"),
            greatest(col("vec_id"), col("s_id")).as("id_b"))
          .distinct()
        val sampleIds = sample.select(col("s_id"))
        val foundS = found
          .join(broadcast(sampleIds),
            col("id_a") === col("s_id") || col("id_b") === col("s_id"))
          .select("id_a", "id_b").distinct()
        val nTruth = truth.count()
        val hit = truth.join(foundS, Seq("id_a", "id_b")).count()
        // precision on the sampled found pairs: re-score exactly
        val falsePos = foundS
          .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("_va")), "id_a")
          .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("_vb")), "id_b")
          .filter(graft.similarity.Ann.cosine(col("_va"), col("_vb")) < t)
          .count()
        val recall = if (nTruth == 0) 1.0 else hit.toDouble / nTruth
        println(s"""{"op":"neardup","dir":"$dir","threshold":$t,"pairs_found":$nFound,"wall_sec":${j(wall)},"sampled_true_pairs":$nTruth,"recalled":$hit,"recall":${j(recall)},"sampled_false_pos":$falsePos}""")
    }
    spark.stop()
  }
}
