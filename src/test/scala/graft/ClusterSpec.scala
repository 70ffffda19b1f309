package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.KMeans

/** k-means / SemDeDup invariants + the plan properties that carry to
  * scale (assignment must be a pure map-side expression). */
class ClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val dir = "/root/testdata/sf0.001"

  test("k-means final assignment is map-side: no join/exchange in the plan") {
    val df = SparkEntry.queries("q_kmeans_embed")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("k-means: every vector assigned, cluster ids are seed vec_ids") {
    val a = SparkEntry.queries("q_kmeans_embed")(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(a.count() == emb.count())
    // seeds are the k smallest md5(id) draws, so cluster ids are real
    // vec_ids (not 0..k-1) and there are at most k of them
    val ids = a.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.size <= 8, ids.mkString(","))
    val vecIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(vecIds), s"cluster ids not drawn from vec_ids: $ids")
  }

  test("k-means seeds from sparse non-contiguous ids (no id<k assumption)") {
    import spark.implicits._
    val emb = Seq(
      (1000L, Array(1f, 0f, 0f, 0f)),
      (2500L, Array(0.95f, 0.05f, 0f, 0f)),
      (4200L, Array(0f, 1f, 0f, 0f)),
      (7777L, Array(0f, 0.9f, 0.1f, 0f)),
      (9001L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val a = KMeans.assignClusters(emb, "vec_id", "embedding", k = 3)
    assert(a.count() == 5, "every vector must be assigned")
    val clusters = a.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(clusters.nonEmpty && clusters.size <= 3)
    assert(clusters.subsetOf(Set(1000L, 2500L, 4200L, 7777L, 9001L)))
    val sd = KMeans.semDedup(emb, "vec_id", "embedding", k = 3, threshold = 0.99)
    assert(sd.count() == 5)
    assert(sd.filter(col("kept")).count() >= 3, "only true near-dups drop")
  }

  test("componentMeans collects the model as O(k·dim) primitive doubles") {
    import spark.implicits._
    // VERDICT r12 #2: at production k = √n the k×dim means came back as
    // boxed three-field Rows (~10× driver overhead on a 160 MB model);
    // the collect must be k entries, each ONE primitive double array.
    val a1 = Seq(
      (1L, Seq(1.0, 2.0, 3.0), 10L),
      (2L, Seq(3.0, 4.0, 5.0), 10L),
      (3L, Seq(0.0, 0.5, 1.0), 20L)
    ).toDF("vec_id", "_v", "_c")
    val means = KMeans.componentMeans(a1)
    assert(means.keySet === Set(10L, 20L))
    means.values.foreach { v =>
      assert(v.getClass === classOf[Array[Double]], v.getClass.toString)
      assert(v.length === 3)
    }
    // exact fixed-point means, dims in order
    assert(means(10L).toSeq === Seq(2.0, 3.0, 4.0))
    assert(means(20L).toSeq === Seq(0.0, 0.5, 1.0))
  }

  test("native centroid_argmax is bit-equal to the HOF struct-max form") {
    import spark.implicits._
    // the gates replay the assignment in DuckDB, so the fused kernel
    // must reproduce the HOF fold exactly — including ties, NaN from
    // zero norms (NaN sorts LARGEST in Spark SQL), null vectors and
    // null elements (HOF cosine goes NULL → array_max nulls-first →
    // smallest cid), and length mismatches.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base: Seq[(Long, Seq[Double])] =
      Seq(3L, 11L, 42L, 99L).map(cid =>
        cid -> Seq.fill(dim)(rnd.nextGaussian()))
    // duplicate centroid under a LARGER id: every row ties between cid 3
    // and 101, and both forms must resolve the tie to the smaller cid
    val cents = base :+ (101L -> base.head._2)
    val rows: Seq[(Long, Array[java.lang.Double])] =
      (0L until 200L).map { i =>
        i -> Array.fill[java.lang.Double](dim)(rnd.nextGaussian())
      } ++ Seq(
        201L -> null,                                    // null vector
        202L -> { val a = Array.fill[java.lang.Double](dim)(1.0); a(3) = null; a }, // null element
        203L -> Array.fill[java.lang.Double](dim - 2)(1.0), // short vector
        204L -> cents.head._2.map(java.lang.Double.valueOf).toArray, // exact centroid hit (tied with the 101 duplicate)
        205L -> cents(2)._2.map(x => java.lang.Double.valueOf(-x)).toArray, // cos = -1
        206L -> { val a = Array.fill[java.lang.Double](dim)(1.0); a(0) = Double.NaN; a }, // NaN element → all-NaN cos ties
        207L -> { val a = Array.fill[java.lang.Double](dim)(1.0); a(1) = Double.PositiveInfinity; a }) // Inf arithmetic (divisor Inf, no ANSI throw)
    val df = rows.toDF("id", "v")
    val both = df.select(col("id"),
      graft.similarity.KMeans.argmaxCosHof(col("v"), cents).as("hof"),
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.CentroidArgmax(
          org.apache.spark.sql.GraftBridge.expression(col("v")),
          cents.map(_._1).toArray, cents.map(_._2.toArray).toArray))
        .as("native"))
    val diff = both.filter(col("hof") =!= col("native")).collect()
    assert(diff.isEmpty, s"kernel diverges from HOF: ${diff.take(5).mkString(", ")}")
    // the invalid-input rows resolve to the SMALLEST cid, like the HOF
    val inv = both.filter(col("id").isin(201L, 202L, 203L))
      .select("native").collect().map(_.getLong(0)).toSet
    assert(inv === Set(3L), inv.mkString(","))
    // zero-norm vectors: under ANSI mode (Spark 4 default) the HOF form
    // THROWS (DIVIDE_BY_ZERO); the kernel is strictly more defined —
    // every cosine is NaN, all-equal ties resolve to the smallest cid.
    val zero = Seq((200L, Array.fill[java.lang.Double](dim)(0.0)))
      .toDF("id", "v")
      .select(org.apache.spark.sql.GraftBridge.column(
        graft.functions.CentroidArgmax(
          org.apache.spark.sql.GraftBridge.expression(col("v")),
          cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)))
      .collect().head.getLong(0)
    assert(zero === 3L)
  }

  /** The broadcast form of the SemDeDup drop rule: the whole corpus and
    * its cluster assignment collected in one place, every vector dropped
    * whose cosine to a lower-id cluster-mate reaches `t` (null elements
    * as 0, float vectors scored as floats). */
  private def broadcastSemDedup(emb: org.apache.spark.sql.DataFrame, k: Int,
      t: Double): Seq[(Long, Long, Boolean)] = {
    val isFloat = emb.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val cluster = KMeans.assignClusters(emb, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect().map { r =>
      val v = if (r.isNullAt(1)) Seq.empty[Any] else r.getSeq[Any](1)
      r.getLong(0) -> v.map(x => if (x == null) 0.0 else x.asInstanceOf[Number].doubleValue)
        .toArray
    }.toSeq
    def cos(a: Array[Double], b: Array[Double]) =
      if (isFloat) KMeans.cosArrF(a.map(_.toFloat), b.map(_.toFloat))
      else KMeans.cosArrD(a, b)
    vecs.map { case (id, v) =>
      val c = cluster(id)
      val dropped = vecs.exists { case (i, u) =>
        i < id && cluster(i) == c && cos(u, v) >= t
      }
      (id, c, !dropped)
    }.sorted
  }

  private def clusterLocal(emb: org.apache.spark.sql.DataFrame, k: Int,
      t: Double): Seq[(Long, Long, Boolean)] =
    KMeans.semDedup(emb, "vec_id", "embedding", k = k, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted

  test("semDedup cluster-local fallback equals the broadcast path") {
    // The confirm must not broadcast an unbounded corpus: it shuffles the
    // corpus once on `cluster` and scores pairs inside each group. Its
    // answer must be identical to the drop rule evaluated with the whole
    // corpus in view, which is what a broadcast confirm computes.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val viaBroadcast = broadcastSemDedup(emb, k = 8, t = 0.95)
    val viaShuffle = clusterLocal(emb, k = 8, t = 0.95)
    assert(viaShuffle == viaBroadcast,
      s"diff: ${viaShuffle.diff(viaBroadcast).take(5)} vs ${viaBroadcast.diff(viaShuffle).take(5)}")
    assert(viaBroadcast.length > 0)
  }

  test("semDedup null vector elements: broadcast and cluster-local confirms agree") {
    import spark.implicits._
    // A HOF cosine fold yields NULL on a null element, which would KEEP a
    // near-dup pair that a nulls-as-0 confirm drops. The cluster-local
    // confirm must make the broadcast drop rule's decision, and the pair
    // must be DROPPED (null scores as 0, matching the float kernel).
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.0, 0.0, 0.0)),
      (2L, Seq[java.lang.Double](1.0, null, 0.0, 0.0)), // near-dup of 1 modulo the null
      (3L, Seq[java.lang.Double](0.0, 1.0, 0.0, 0.0)),
      (4L, Seq[java.lang.Double](0.0, 0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val broad = broadcastSemDedup(rows, k = 2, t = 0.9).map(r => r._1 -> r._3).toMap
    val local = clusterLocal(rows, k = 2, t = 0.9).map(r => r._1 -> r._3).toMap
    assert(broad === local,
      s"confirm regimes disagree on null elements: broadcast=$broad local=$local")
    assert(broad(2L) === false,
      "the null-element near-dup must be dropped (null scores as 0)")
  }

  test("TiledConfirm.semDedup: multi-tile decisions equal the buffered reference") {
    import graft.similarity.TiledConfirm
    val rnd = new scala.util.Random(7)
    val noise = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // dense near-dup blob interleaved across the id range, so a tiled
    // pass must drop members against mates living in EARLIER tiles
    val base = Array.fill(8)(rnd.nextFloat() + 0.5f)
    val blob = (0 until 200).map(i =>
      ((400 + i * 2).toLong, base.map(x => x + rnd.nextFloat() * 1e-3f)))
    val all = (noise ++ blob).sortBy(_._1).toArray
    val t = 0.92
    val ref = all.indices.map { j =>
      var dropped = false
      var i = 0
      while (i < j && !dropped) {
        if (KMeans.cosArrF(all(i)._2, all(j)._2) >= t) dropped = true
        i += 1
      }
      (all(j)._1, !dropped)
    }
    assert(ref.count(!_._2) >= 150, "fixture must actually force drops")
    // tileBytes 1 = one member per tile (maximal spill-file traffic);
    // MaxValue = single tile (the untiled fast case)
    for (tileBytes <- Seq(1L, 300L, 5000L, Long.MaxValue)) {
      val got = TiledConfirm.semDedup(all.iterator, KMeans.cosArrF, t,
        TiledConfirm.FloatIO, tileBytes).toSeq
      assert(got == ref, s"tileBytes=$tileBytes")
    }
  }

  test("TiledConfirm.pairs: multi-tile pair set equals the buffered reference") {
    import graft.similarity.TiledConfirm
    val rnd = new scala.util.Random(11)
    val noise = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val base = Array.fill(8)(rnd.nextFloat() + 0.5f)
    val blob = (0 until 120).map(i =>
      ((300 + i * 3).toLong, base.map(x => x + rnd.nextFloat() * 1e-3f)))
    val all = (noise ++ blob).sortBy(_._1).toArray
    val t = 0.9
    val ref = (for {
      j <- all.indices.iterator
      i <- (0 until j).iterator
      c = KMeans.cosArrF(all(i)._2, all(j)._2)
      if c >= t
    } yield (all(i)._1, all(j)._1, c)).toSeq.sorted
    assert(ref.size >= 5000, "fixture must produce a dense pair set")
    for (tileBytes <- Seq(1L, 300L, 5000L, Long.MaxValue)) {
      val got = TiledConfirm.pairs(all.iterator, KMeans.cosArrF, t,
        TiledConfirm.FloatIO, tileBytes).toSeq.sorted
      assert(got == ref, s"tileBytes=$tileBytes")
    }
  }

  test("semDedup keeps double embeddings double in the confirm (no float downcast)") {
    import spark.implicits._
    // A silent float downcast can flip near-threshold pairs vs the
    // oracle's double fold. The threshold sits EXACTLY on the double
    // cosine of vectors 1 and 2, and the fixture is chosen so the float
    // cosine of the same vectors falls below it: the double confirm must
    // drop 2, a float one would keep it.
    val v1 = Array(1.0, 0.0, 0.0, 0.0)
    val v2 = Array(1.0, 0.1, 0.0, 0.0)
    val t = KMeans.cosArrD(v1, v2)
    assert(KMeans.cosArrF(v1.map(_.toFloat), v2.map(_.toFloat)) < t,
      "fixture must make a float downcast flip the decision")
    val embD = Seq((1L, v1), (2L, v2)).toDF("vec_id", "embedding")
    // k = 1: both vectors share the one cluster
    val kept = KMeans.semDedup(embD, "vec_id", "embedding", k = 1, threshold = t)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept == Map(1L -> true, 2L -> false), s"got $kept")
  }

  test("persisted IVF index probes equal the in-line IVF answers") {
    import graft.similarity.Ann
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 6)
    val inline = Ann.ivfTopK(emb, queries, k = 4, nCells = 8, nProbe = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(_.toString).sorted
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Ann.buildIvfIndex(emb, path, nCells = 8)
    val indexed = Ann.ivfTopKIndexed(spark, path, queries, k = 4, nProbe = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(_.toString).sorted
    assert(indexed.sameElements(inline))
  }

  test("IVF index append-merge: centroids frozen, rows unioned, in-place refused") {
    import graft.similarity.Ann
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val p1 = java.nio.file.Files.createTempDirectory("graft_ivf_m1").toString
    Ann.buildIvfIndex(base, p1, nCells = 8)
    val p2 = java.nio.file.Files.createTempDirectory("graft_ivf_m2").toString
    Ann.mergeIvfIndex(spark, p1, delta, p2)
    // centroid model must be byte-identical (no refit on ingest)
    val c1 = spark.read.parquet(s"$p1/centroids").collect().map(_.toString).sorted
    val c2 = spark.read.parquet(s"$p2/centroids").collect().map(_.toString).sorted
    assert(c1.sameElements(c2), "merge must not retrain the quantizer")
    // merged corpus = exactly the union of ids
    val ids = spark.read.parquet(s"$p2/corpus").select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == emb.select("vec_id").collect().map(_.getLong(0)).toSet)
    // a probe of the merged index sees delta vectors as neighbors
    val probe = Ann.ivfTopKIndexed(spark, p2, emb.filter(col("vec_id") < 4),
      k = 4, nProbe = 8)
    assert(probe.filter(col("neighbor_id") % 3 === 0).count() > 0,
      "delta vectors must be probe-visible after the merge")
    for (same <- Seq(p1, s"file://$p1", s"$p1/../${new java.io.File(p1).getName}"))
      intercept[IllegalArgumentException] {
        Ann.mergeIvfIndex(spark, p1, delta, same)
      }
  }

  test("semdedup: no kept pair within a cluster reaches the threshold, " +
    "and every drop is justified by a lower-id cluster-mate") {
    val t = 0.42
    val out = SparkEntry.queries("q_semdedup")(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val x = out.join(emb, "vec_id")
    val pairs = x.select(col("vec_id").as("ida"), col("cluster"),
        col("kept").as("ka"), col("v").as("va"))
      .join(x.select(col("vec_id").as("idb"), col("cluster"),
        col("kept").as("kb"), col("v").as("vb")), "cluster")
      .filter(col("ida") < col("idb"))
      .withColumn("cos", KMeans.cosD(col("va"), col("vb")))
    // kept ∧ kept ∧ cos ≥ t is a contradiction: the higher id would drop
    assert(pairs.filter(col("ka") && col("kb") && col("cos") >= t).count() == 0)
    // every dropped id has at least one lower-id cluster-mate within t
    val justified = pairs.filter(col("cos") >= t)
      .select(col("idb").as("vec_id")).distinct()
    val dropped = out.filter(!col("kept")).select("vec_id")
    assert(dropped.exceptAll(justified).count() == 0)
  }
}
