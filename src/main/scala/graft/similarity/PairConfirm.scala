package graft.similarity

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one pairwise confirm behind graft's near-dup families: MinHash and
  * char-n-gram Jaccard ([[graft.dedup.Dedup.nearDupMinhash]],
  * [[graft.dedup.Dedup.nearDupCharNgram]]), embedding LSH
  * ([[graft.dedup.Dedup.nearDupEmbeddingLsh]]) and SemDeDup
  * ([[KMeans.semDedup]]). A caller hands over (group key, id, payload)
  * rows; they are shuffled ONCE on the group key and every group is
  * scored pairwise in place by a [[TiledConfirm]] kernel — the candidate
  * pair stream is never materialized, shuffled or joined (REPOSE's
  * score-inside-the-partition shape), each payload moves once per group
  * it belongs to, and a skewed group costs one tile of heap plus
  * task-local spill I/O, never a whole group. There is no size-based
  * regime: the same plan runs at every scale.
  *
  * Ids must be integral (int or long): they travel through the kernels
  * as longs and come back in the input's type. Pair identity is strict
  * by id — rows sharing an id are never compared with each other. */
private[graft] object PairConfirm {

  /** Fail fast unless `idCol` of `df` is an integral column. */
  def requireIntegralId(df: DataFrame, idCol: String): Unit =
    df.select(col(idCol)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"id column '$idCol' has type ${t.simpleString}; near-dup " +
          "confirms need an integral id (int or long)")
    }

  /** Confirmed pairs of LSH-banded rows. Each row of `df` joins one group
    * per element of the array column `buckets` (element position = band,
    * element value = bucket), carrying `payload` along; each group is
    * scored by [[TiledConfirm.pairs]]. A true pair re-found in several
    * bands collapses in the closing distinct. Rows with a null id pair
    * with nothing. Output: (id_a, id_b, `score`) with id_a < id_b and
    * score >= threshold, ids in the type of `df(idCol)`. */
  def bandPairs[V: TypeTag](df: DataFrame, idCol: String, payload: Column,
      buckets: Column, kernel: (V, V) => Double, threshold: Double,
      io: TiledConfirm.VecIO[V], score: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idType = df.select(col(idCol)).schema.head.dataType
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("_3"), payload.as("_4"),
        posexplode(buckets).as(Seq("_1", "_2")))
      .select(col("_1").cast("long").as("_1"), col("_2").cast("long").as("_2"),
        col("_3"), col("_4"))
      .as[(Long, Long, Long, V)]
      .groupByKey(t => (t._1, t._2))
      .flatMapSortedGroups(col("_3")) { (_, it) =>
        TiledConfirm.pairs(it.map(t => (t._3, t._4)), kernel, threshold, io)
      }
      .toDF("id_a", "id_b", score)
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col(score))
      .distinct()
  }

  /** SemDeDup drop decisions inside groups: a row is dropped iff a row of
    * its group with a strictly lower id has kernel score >= threshold
    * ([[TiledConfirm.semDedup]]). Id and group must be non-null longs.
    * Output: one (`idCol`, `groupCol`, kept) row per input row. */
  def groupDrops[V: TypeTag](df: DataFrame, idCol: String, groupCol: String,
      payload: Column, kernel: (V, V) => Double, threshold: Double,
      io: TiledConfirm.VecIO[V]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).as("_1"), col(groupCol).as("_2"), payload.as("_3"))
      .as[(Long, Long, V)]
      .groupByKey(_._2)
      .flatMapSortedGroups(col("_1")) { (g, it) =>
        TiledConfirm.semDedup(it.map(t => (t._1, t._3)), kernel, threshold, io)
          .map { case (id, kept) => (id, g, kept) }
      }
      .toDF(idCol, groupCol, "kept")
  }
}
