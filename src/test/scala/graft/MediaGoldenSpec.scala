package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.ops.Tables

/** Golden result hashes for every media kernel and every 64-bit Hamming
  * band join, at sf0.001: the 13 multimodal registry queries (between
  * them they run 12 of the 13 `graft.multimodal` payload kernels and both
  * image band joins), `Multimodal.extractFeatures` (the 13th) over the
  * documents' text bytes, and `Dedup.nearDupSimhash` on the documents.
  * Each value is the (row count, columns, md5) `ResultHash` the kernels
  * produced before they shared one map-only pass and one band join; a
  * kernel whose per-row body, schema or row set drifts fails here. */
class MediaGoldenSpec extends AnyFunSuite {

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

  private val golden: Seq[(String, (Long, String, String))] = Seq(
    "q_audio_decode" -> ((500L,
      "doc_id,duration_ms,n_samples,peak,sample_rate,sum_sq,zero_cross",
      "f6e65cb77ee2136f2e0989e8aa89c623")),
    "q_audio_resample" -> ((500L,
      "doc_id,duration_ms,n_samples,peak,sample_rate,sum_sq,zero_cross",
      "24705eb7dbab231eb5b270e2ab7b539a")),
    "q_audio_quality" -> ((500L,
      "dc_sum,doc_id,n_clipped,n_samples,ok,peak",
      "0a32ad57e913c9f02ca53310f94c466c")),
    "q_multimodal_meta" -> ((500L,
      "doc_id,height,p00,pwh,width",
      "9810578a645fa5b15421e9929a9aee87")),
    "q_multimodal_features" -> ((8000L,
      "cell,doc_id,mean_val",
      "aa7068d3ea7262ea52c80cb8ab10b39d")),
    "q_multimodal_resize" -> ((500L,
      "doc_id,height,p00,pwh,width",
      "780195e351be5fb0431f224032d2546a")),
    "q_multimodal_crop" -> ((500L,
      "doc_id,height,p00,pwh,width",
      "9a0ec10018b92feda2bf28e9a3b2b89e")),
    "q_image_channel_stats" -> ((500L,
      "doc_id,n_px,sum_b,sum_g,sum_r",
      "47e654b2de503cff4931f0230aa90d57")),
    "q_image_neardup" -> ((77L,
      "hamming,id_a,id_b",
      "e0986657eb68987e2236ebadc2c329c2")),
    "q_image_index_probe" -> ((28L,
      "corpus_id,hamming,probe_id",
      "33798254b2d79edb056d98420b911201")),
    "q_video_decode" -> ((1750L,
      "doc_id,frame_id,height,p00,pwh,sum_rgb,width",
      "f4fd586ca63952cd1bca17128a13fee6")),
    "q_video_sample" -> ((1000L,
      "doc_id,frame_id,height,p00,pwh,sum_rgb,width",
      "9d5eedb61ef90366d0643e8dccaf6a88")),
    "q_video_scene_cut" -> ((1250L,
      "diff_sum,doc_id,frame_id,is_cut,n_px",
      "5e30475d09d45e2e9f9a21bc7a5db751")),
    "extractFeatures" -> ((500L,
      "features,id",
      "3fd69d79fce30db9b63fce5eaa52bd62")),
    "nearDupSimhash" -> ((27L,
      "hamming,id_a,id_b",
      "8b26bf11c64e55ea38d5968b9cb300f9")))

  private def run(name: String): DataFrame = name match {
    case "extractFeatures" =>
      Multimodal.extractFeatures(Multimodal.withBinaryPayload(
        Tables(spark, dir, "documents"), "text", "image"), "doc_id", "payload")
    case "nearDupSimhash" =>
      Dedup.nearDupSimhash(Tables(spark, dir, "documents"), "doc_id", "text", maxHamming = 3)
    case q => SparkEntry.queries(q)(spark, dir)
  }

  for ((name, want) <- golden) test(s"$name result hash is unchanged") {
    val got = ResultHash.of(run(name))
    assert(got == want, s"$name -> $got")
  }
}
