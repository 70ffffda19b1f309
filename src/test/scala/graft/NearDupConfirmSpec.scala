package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.{KMeans, TiledConfirm}

/** The three near-dup families — MinHash / char-n-gram Jaccard, embedding
  * LSH and SemDeDup — all confirm through one group-local operator
  * (graft.similarity.PairConfirm). Each family is pinned here against a
  * brute-force Scala reference over every row pair, on fixtures with the
  * adversarial shapes: duplicate ids (identical and differing payloads),
  * null elements / null payloads / null ids, and a mega bucket whose
  * members all collide. LSH parameters are steep enough that a true pair
  * is missed with probability < 1e-9, so the approximate families must
  * equal the exact all-pairs answer row for row. */
class NearDupConfirmSpec extends AnyFunSuite {

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

  /** Float cosine the way the engine defines it: null elements as 0,
    * float→double left-to-right fold, 0.0 on a zero norm. */
  private def cosine(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Double = {
    def d(x: java.lang.Float): Double = if (x == null) 0.0 else x.toDouble
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until math.min(a.length, b.length)) {
      val x = d(a(i)); val y = d(b(i))
      dot += x * y; na += x * x; nb += y * y
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every row pair with a strictly lower id on the left, scored. */
  private def allPairs[P](rows: Seq[(Long, P)], score: (P, P) => Double,
      t: Double): Set[(Long, Long, Double)] =
    (for {
      (i, p) <- rows.iterator
      (j, q) <- rows.iterator
      if i < j
      s = score(p, q)
      if s >= t
    } yield (i, j, s)).toSet

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // ---- documents: near-dup groups, a mega bucket, adversarial rows ----
  private val docRows: Seq[(java.lang.Long, String)] = {
    val rnd = new scala.util.Random(53)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    def sentence(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def perturb(s: Vector[String]) =
      s.updated(rnd.nextInt(s.size), vocab(rnd.nextInt(vocab.size)))
    val groups = (0 until 25).flatMap { g =>
      val base = sentence(18 + rnd.nextInt(8))
      Seq((g * 3L, base), (g * 3L + 1, perturb(base)), (g * 3L + 2, sentence(20)))
    }
    val mega = sentence(24)
    val text = groups.toMap
    (groups ++ (0 until 30).map(i => (500L + i, mega)) ++ Seq(
      (1L, perturb(text(6L))), // duplicate id, different text
      (3L, text(3L)), // duplicate id, identical text
      (901L, Vector("too", "short")) // fewer than k tokens: no shingles
    )).map { case (id, ws) => (java.lang.Long.valueOf(id), ws.mkString(" ")) } ++ Seq(
      (java.lang.Long.valueOf(900L), null), // null text
      (null, text(0L).mkString(" ")) // null id: pairs with nothing
    )
  }

  private def docs: DataFrame = {
    import spark.implicits._
    docRows.toDF("doc_id", "text")
  }

  /** Brute-force Jaccard over the engine's own gram-hash sets. */
  private def jaccardReference(grams: org.apache.spark.sql.Column,
      t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.select(col("doc_id"), grams).collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getSeq[Long](1).nonEmpty)
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet))
    allPairs[Set[Long]](sets, (a, b) => (a & b).size.toDouble / (a | b).size, t)
  }

  test("TiledConfirm pairs and drops are strict by id, never by position") {
    val v = Array(1f, 0f, 0f)
    val w = Array(1f, 0.01f, 0f)
    // id 1 twice, then id 2: the two id-1 members must never pair or
    // drop each other — also when they land in different tiles
    val members = Seq((1L, v), (1L, w), (2L, v))
    for (tileBytes <- Seq(1L, Long.MaxValue)) {
      val pairs = TiledConfirm.pairs(members.iterator, KMeans.cosArrF, 0.9,
        TiledConfirm.FloatIO, tileBytes).map(p => (p._1, p._2)).toSeq.sorted
      assert(pairs == Seq((1L, 2L), (1L, 2L)), s"tileBytes=$tileBytes")
      val kept = TiledConfirm.semDedup(members.iterator, KMeans.cosArrF, 0.9,
        TiledConfirm.FloatIO, tileBytes).toSeq
      assert(kept == Seq((1L, true), (1L, true), (2L, false)), s"tileBytes=$tileBytes")
    }
  }

  test("MinHash and char-n-gram near-dup equal the brute-force Jaccard reference") {
    val minhash = triples(Dedup.nearDupMinhash(docs, "doc_id", "text",
      threshold = 0.7, k = 3, numHashes = 64, bands = 32))
    val minhashRef = jaccardReference(Dedup.shingleHashes(col("text"), 3), 0.7)
    assert(minhashRef.count(_._3 == 1.0) >= 30 * 29 / 2, "fixture must plant a mega bucket")
    assert(minhashRef.exists(p => p._1 == 1L && p._2 == 6L),
      "fixture must pair the duplicate-id row")
    assert(minhash == minhashRef,
      s"missing ${(minhashRef -- minhash).take(5)}; extra ${(minhash -- minhashRef).take(5)}")

    val ngram = triples(Dedup.nearDupCharNgram(docs, "doc_id", "text",
      threshold = 0.8, n = 3, numHashes = 64, bands = 32))
    val ngramRef = jaccardReference(Dedup.charNgramHashes(col("text"), 3), 0.8)
    assert(ngram == ngramRef,
      s"missing ${(ngramRef -- ngram).take(5)}; extra ${(ngram -- ngramRef).take(5)}")
  }

  // ---- vectors: planted near-dups, a mega bucket, adversarial rows ----
  private val dim = 16
  private val vecRows: Seq[(java.lang.Long, Seq[java.lang.Float])] = {
    val rnd = new scala.util.Random(59)
    def random() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def near(v: Array[Float]) = v.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-3f)
    val base = (0 until 40).map(i => i.toLong -> random())
    val vec = base.toMap
    val withNull = near(vec(10L)).map(java.lang.Float.valueOf)
    withNull(withNull.indices.minBy(i => math.abs(vec(10L)(i)))) = null
    val mega = random()
    val rows = base ++ (0 until 10).map(i => (100L + i, near(vec(i.toLong)))) ++
      (0 until 25).map(i => (200L + i, mega)) ++ Seq(
        (5L, near(vec(5L))), // duplicate id, a near-dup of the first id-5 row
        (7L, vec(7L)) // duplicate id, identical vector
      )
    rows.map { case (id, v) =>
      (java.lang.Long.valueOf(id), v.toSeq.map(java.lang.Float.valueOf)) } ++ Seq(
      (java.lang.Long.valueOf(300L), withNull.toSeq), // null element
      (java.lang.Long.valueOf(301L), null), // null vector: no signature
      (null, vec(0L).toSeq.map(java.lang.Float.valueOf)) // null id
    )
  }

  private def vecs: DataFrame = {
    import spark.implicits._
    vecRows.toDF("vec_id", "embedding")
  }

  test("embedding LSH near-dup equals the brute-force cosine reference") {
    val got = triples(Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding",
      threshold = 0.95, dim = dim, bits = 6, tables = 48))
    val ref = allPairs[Seq[java.lang.Float]](
      vecRows.collect { case (id, v) if id != null && v != null => (id.longValue, v) },
      cosine, 0.95)
    assert(ref.count(p => p._1 >= 200L && p._2 < 225L) == 25 * 24 / 2,
      "fixture must plant a mega bucket")
    assert(ref.exists(p => p._1 == 10L && p._2 == 300L), "null-element near-dup must pair")
    assert(ref.count(p => p._1 == 5L && p._2 == 105L) == 2,
      "both id-5 rows must pair with their near-dup")
    assert(got == ref, s"missing ${(ref -- got).take(5)}; extra ${(got -- ref).take(5)}")
  }

  test("semDedup equals the brute-force drop-rule reference") {
    // SemDeDup ids come from its k-means seeding, which needs non-null ids
    val rows = vecRows.filter(_._1 != null)
    import spark.implicits._
    val emb = rows.toDF("vec_id", "embedding")
    val t = 0.95
    val got = KMeans.semDedup(emb, "vec_id", "embedding", k = 3, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    // reference clusters: the same assignment, one cluster per id (the
    // fixture's duplicate-id rows are near-identical, so they must share it)
    val clusterRows = KMeans.assignClusters(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cluster = clusterRows.groupBy(_._1).map { case (id, cs) =>
      assert(cs.map(_._2).distinct.length == 1, s"id $id straddles clusters")
      id -> cs.head._2
    }
    val ref = rows.map { case (id, v) =>
      val c = cluster(id.longValue)
      val dropped = rows.exists { case (i, u) =>
        i.longValue < id.longValue && cluster(i.longValue) == c &&
          cosine(Option(u).getOrElse(Nil), Option(v).getOrElse(Nil)) >= t
      }
      (id.longValue, c, !dropped)
    }.sorted
    assert(ref.count(!_._3) >= 24 + 10, "fixture must force drops (mega cluster + near-dups)")
    assert(got == ref, s"diff: ${got.diff(ref).take(5)} vs ${ref.diff(got).take(5)}")
  }

  test("integral ids round-trip: int ids keep their type, pairs unchanged") {
    val intDocs = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val byLong = Dedup.nearDupMinhash(docs, "doc_id", "text", 0.7, 3, 64, 32)
    val byInt = Dedup.nearDupMinhash(intDocs, "doc_id", "text", 0.7, 3, 64, 32)
    assert(byLong.schema("id_a").dataType == LongType)
    assert(byInt.schema("id_a").dataType == IntegerType)
    assert(byInt.schema("id_b").dataType == IntegerType)
    assert(triples(byInt.select(col("id_a").cast("long"), col("id_b").cast("long"),
      col("jaccard"))) == triples(byLong))

    val intVecs = vecs.withColumn("vec_id", col("vec_id").cast("int"))
    val lsh = Dedup.nearDupEmbeddingLsh(intVecs, "vec_id", "embedding",
      threshold = 0.95, dim = dim, bits = 6, tables = 48)
    assert(lsh.schema("id_a").dataType == IntegerType)
    assert(triples(lsh.select(col("id_a").cast("long"), col("id_b").cast("long"),
      col("cos"))) == triples(Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding",
      threshold = 0.95, dim = dim, bits = 6, tables = 48)))

    val emb = vecs.filter(col("vec_id").isNotNull)
    val sd = KMeans.semDedup(emb.withColumn("vec_id", col("vec_id").cast("int")),
      "vec_id", "embedding", k = 3, threshold = 0.95)
    assert(sd.schema("vec_id").dataType == LongType) // SemDeDup emits long ids
    assert(sd.collect().map(_.toString).sorted.toSeq == KMeans.semDedup(emb, "vec_id",
      "embedding", k = 3, threshold = 0.95).collect().map(_.toString).sorted.toSeq)
  }

  test("non-integral ids fail up front, naming the column") {
    val strDocs = docs.withColumn("doc_key", col("doc_id").cast("string"))
    val strVecs = vecs.withColumn("vec_key", col("vec_id").cast("string"))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "doc_key" -> (() => Dedup.nearDupMinhash(strDocs, "doc_key", "text", 0.7)),
      "doc_key" -> (() => Dedup.nearDupCharNgram(strDocs, "doc_key", "text", 0.8)),
      "vec_key" -> (() => Dedup.nearDupEmbeddingLsh(strVecs, "vec_key", "embedding",
        threshold = 0.95, dim = dim)),
      "vec_key" -> (() => KMeans.semDedup(strVecs, "vec_key", "embedding", k = 3,
        threshold = 0.95)))
    for ((column, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"'$column'"), e.getMessage)
    }
  }
}
