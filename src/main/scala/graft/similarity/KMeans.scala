package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means over an embedding column plus the SemDeDup
  * (Abbas et al. 2023, arXiv:2303.09540) within-cluster semantic dedup
  * built on it — the clustering layer of a training-data pipeline.
  *
  * Built for engine-exact verification: deterministic seed centroids (the
  * k smallest md5(id) digests — a seeded pseudo-random draw that works on
  * ANY id domain, dense or sparse, and is replayable in the DuckDB oracle
  * because md5 is bit-identical across engines), ONE Lloyd update whose
  * component means use the exact
  * fixed-point scheme of [[graft.ops.Tables.dsum]] (quantize ×10⁴ → exact
  * long sums → one double division), and cosine folded left-to-right in
  * double ([[cosD]]) so every comparison is bit-identical to the DuckDB
  * oracle's `list_sum(list_transform(...))`.
  *
  * Scale shape: assignment is a pure per-row expression over broadcast
  * centroid literals — no join, no shuffle, survives codegen. The update
  * step shuffles only (cluster, dim) partial sums: k×dim groups,
  * map-side combined. Driver-side state is the centroid set alone (k
  * rows + k×dim component means collected as PRIMITIVE double arrays —
  * the same bounded model-fit license as [[Ann.ivfTopK]]'s trained
  * quantizer; boxed Rows at production k = √n were a measured ~10×
  * driver-memory overhead, VERDICT r12 #2). Reference analogue: the
  * reference has no clustering operator; this is part of the
  * LLM-pipeline capability superset (SURVEY.md §6).
  */
object KMeans {

  /** Cosine of two `array<double>` columns via builtin HOFs: sequential
    * left-to-right accumulation in double, matching the oracle's
    * `list_sum` fold order term for term (sqrt/division are IEEE
    * correctly-rounded, so the whole expression is bit-exact across
    * engines). */
  def cosD(a: Column, b: Column): Column = {
    def s(c: Column) = aggregate(c, lit(0.0), (acc, x) => acc + x)
    s(zip_with(a, b, (x, y) => x * y)) /
      (sqrt(s(transform(a, x => x * x))) * sqrt(s(transform(b, x => x * x))))
  }

  /** Argmax-cosine cluster id over centroid literals, ties to the SMALLER
    * centroid id (mirrors the oracle's `ORDER BY cos DESC, cid ASC`).
    * One fused native expression ([[graft.functions.CentroidArgmax]],
    * bit-exact with [[argmaxCosHof]] — spec'd): the per-centroid HOF
    * struct-max was the measured wall of the whole operator at
    * production k ≈ √n (k=450 at 200k vectors: ~400 s of interpreted
    * per-centroid evals, 2686cb5:BENCH_semdedup_ab_r12.json). */
  private def argmaxCos(vec: Column, cents: Seq[(Long, Array[Double])]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.CentroidArgmax(
      org.apache.spark.sql.GraftBridge.expression(vec),
      cents.map(_._1).toArray, cents.map(_._2).toArray))

  /** The original HOF formulation (struct-max over (cosD, -cid)) — kept
    * as the semantic reference the native kernel is spec'd bit-equal
    * against (ClusterSpec). */
  private[graft] def argmaxCosHof(vec: Column,
      cents: Seq[(Long, Seq[Double])]): Column = {
    val scored = cents.map { case (cid, cv) =>
      struct(cosD(vec, typedLit(cv)).as("cos"), lit(-cid).as("ncid"))
    }
    (array_max(array(scored: _*)).getField("ncid") * -1).cast("long")
  }

  private def asDouble(emb: DataFrame, idCol: String, vecCol: String,
      extra: Column*) =
    emb.select(Seq(col(idCol).cast("long").as(idCol),
      transform(col(vecCol), x => x.cast("double")).as("_v")) ++ extra: _*)

  /** Exact per-cluster component means of an assigned frame
    * `(_c, _v: array<double>)`, collected as O(k·dim) PRIMITIVE doubles:
    * one (cluster, dim) partial-sum shuffle (k×dim groups, map-side
    * combined), then the per-cluster mean vectors are packed server-side
    * (`array_sort(collect_list(struct(dim, mean)))` → field extraction)
    * so the driver receives k rows each holding one `Array[Double]` —
    * not k×dim boxed three-field Rows (at 1B vectors / k = √n / dim 640
    * that was 20M Row objects for a 160 MB model, VERDICT r12 #2). */
  private[graft] def componentMeans(a1: DataFrame): Map[Long, Array[Double]] = {
    val spark = a1.sparkSession
    import spark.implicits._
    a1.select(col("_c"), posexplode(col("_v")).as(Seq("_dim", "_x")))
      .groupBy("_c", "_dim")
      .agg(sum(floor(col("_x") * 10000d + 0.5d).cast("long")).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("_c"), col("_dim"),
        ((col("_s") / 10000.0).cast("double") / col("_n")).as("_m"))
      .groupBy(col("_c"))
      .agg(array_sort(collect_list(struct(col("_dim"), col("_m")))).as("_p"))
      .select(col("_c").as("_1"), col("_p._m").as("_2"))
      .as[(Long, Array[Double])]
      .collect().toMap
  }

  /** Cluster every vector: seeds = the k rows with the smallest
    * md5(id-as-string) digest (id tie-break) — a deterministic
    * pseudo-random draw that needs no dense/contiguous id space (`id < k`
    * silently under-seeds any real corpus) and costs one bounded top-k
    * collect (k rows — the [[Ann]] quantizer model-fit license); at
    * 100 TB the top-k runs as a partial-agg, never a full sort. One exact
    * Lloyd update, final assignment. Output: (idCol, cluster). Empty
    * clusters keep their seed centroid. */
  def assignClusters(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    asDouble(emb, idCol, vecCol)
      .select(col(idCol), clusterOf(emb, idCol, vecCol, k).as("cluster"))

  /** The final assignment of [[assignClusters]] as a column over the
    * double vector `_v` of [[asDouble]]; fitting it (seed draw + one
    * Lloyd update) runs the bounded model-fit jobs here. */
  private def clusterOf(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): Column = {
    val e = asDouble(emb, idCol, vecCol)
    val seeds: Seq[(Long, Array[Double])] =
      e.orderBy(md5(col(idCol).cast("string").cast("binary")).asc,
          col(idCol).asc)
        .limit(k).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    val a1 = e.withColumn("_c", argmaxCos(col("_v"), seeds))
    val means = componentMeans(a1)
    val updated = seeds.map { case (cid, cv) => cid -> means.getOrElse(cid, cv) }
    argmaxCos(col("_v"), updated)
  }

  /** Exact cosine over primitive float arrays — arithmetic-identical to
    * the native [[graft.functions.CosineSim]] expression (`Ann.cosine`,
    * `VectorUtil.cosineF`): sequential double accumulation over
    * float→double casts, 0.0 on a zero norm. */
  private[graft] def cosArrF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact cosine over primitive double arrays — term-for-term the same
    * left-to-right IEEE fold as [[cosD]]'s HOF chain (so bit-equal on
    * every defined input). Divergence, documented: a zero-norm vector
    * yields 0.0 here where the HOF chain's ANSI division raises
    * DIVIDE_BY_ZERO — the raw-IEEE kernel is strictly more defined (the
    * same contract as [[graft.functions.CentroidArgmax]], ClusterSpec's
    * zero-norm case). */
  private[graft] def cosArrD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** SemDeDup: within each k-means cluster, drop every vector whose
    * cosine to a cluster-mate with a strictly LOWER id reaches
    * `threshold`. Pairs are scored inside clusters only — O(n²/k)
    * instead of O(n²), which is the operator's entire point at scale
    * (production runs pick k ≈ √n so cluster sizes stay bounded).
    *
    * The confirm is the one group-local confirm
    * ([[PairConfirm.groupDrops]]): the corpus is shuffled ONCE on
    * `cluster` with its vectors attached and each cluster's pairs are
    * scored inside the group, id-sorted, through byte-budgeted tiles —
    * heap holds one tile + one streamed vector however large a cluster
    * grows (a mega duplicate cluster costs O(m²) local cosines plus
    * O(m²/tile) bytes re-streamed from a task-local spill file), and the
    * pair stream is never materialized. Vectors keep their SOURCE
    * element type: float inputs score with [[cosArrF]], double inputs
    * with [[cosArrD]] — a float downcast could flip near-threshold
    * pairs relative to the oracle's double fold. Null elements score as
    * 0, a null vector as a zero vector. `idCol` must be integral (int or
    * long). The call runs only the bounded model-fit jobs of the cluster
    * assignment; the centroids enter the plan as literals, and the
    * confirm is a lazy plan that runs at the caller's action. Output:
    * (idCol: long, cluster, kept), one row per input row. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double): DataFrame = {
    PairConfirm.requireIntegralId(emb, idCol)
    val isFloat = emb.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val payload =
      if (isFloat) coalesce(transform(col(vecCol), x => coalesce(x, lit(0f))),
        array().cast("array<float>"))
      else coalesce(transform(col(vecCol), x => coalesce(x.cast("double"), lit(0d))),
        array().cast("array<double>"))
    val rows = asDouble(emb, idCol, vecCol, payload.as("_p"))
      .withColumn("cluster", clusterOf(emb, idCol, vecCol, k))
    if (isFloat) PairConfirm.groupDrops[Array[Float]](rows, idCol, "cluster",
      col("_p"), cosArrF, threshold, TiledConfirm.FloatIO)
    else PairConfirm.groupDrops[Array[Double]](rows, idCol, "cluster",
      col("_p"), cosArrD, threshold, TiledConfirm.DoubleIO)
  }
}
