package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one Hamming band join behind graft's 64-bit fingerprint near-dup
  * paths: SimHash text ([[graft.dedup.Dedup.nearDupSimhash]]) and dHash
  * images ([[graft.multimodal.Multimodal.imageNearDupDHash]],
  * [[graft.multimodal.Multimodal.imageNearDupProbeIndexed]]).
  *
  * Lossless pigeonhole banding (Manku et al., "Detecting Near-Duplicates
  * for Web Crawling", WWW 2007): two 64-bit hashes within Hamming distance
  * 3 differ in at most 3 of their four 16-bit chunks, so they agree on at
  * least one. Candidates therefore come from one equi-join on
  * (chunk, value) — a shuffle on small integer keys, never an all-pairs
  * compare — and the exact `bit_count(xor)` confirm runs on candidates
  * only. Past distance 3 a true pair can differ in every chunk, which is
  * why the bound is enforced rather than documented. */
private[graft] object HammingBand {

  /** Pairs of rows of `a` and `b` whose hashes are within `maxHamming`
    * bits. Each side is an (id, 64-bit hash) frame, by position. A pair
    * found in several chunks collapses in one `distinct`. With
    * `selfJoin` (`a` and `b` the same frame) only id_a < id_b is kept.
    * Output: (id_a, id_b, hamming), ids in their input types. */
  def pairs(a: DataFrame, b: DataFrame, maxHamming: Int, selfJoin: Boolean): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is lossless only for maxHamming <= 3, got $maxHamming")
    def banded(fp: DataFrame, side: String) = {
      val h = col(s"h_$side")
      fp.toDF(s"id_$side", s"h_$side")
        .select(col(s"id_$side"), h, posexplode(array((0 until 4).map(i =>
          shiftrightunsigned(h, i * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq(s"chunk_$side", s"v_$side")))
    }
    val band = col("chunk_a") === col("chunk_b") && col("v_a") === col("v_b")
    banded(a, "a").join(banded(b, "b"),
        if (selfJoin) band && col("id_a") < col("id_b") else band)
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
