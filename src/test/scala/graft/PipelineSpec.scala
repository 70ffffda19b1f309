package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.TextFunctions

/** Semantics tests for the training-data-pipeline modules on crafted
  * fixtures (the driver testdata has no true near-dups, so recall is
  * exercised here). */
class PipelineSpec extends AnyFunSuite {

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
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
      (2L, "completely different content about spark query engines and columnar formats"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (4L, "unrelated short text")
    ).toDF("doc_id", "text")
  }

  test("Misra-Gries summary: guarantee + bounds hold under any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    val rnd = new scala.util.Random(11)
    // 3 hot keys with 400 occurrences each over a ~500-key tail: the hot
    // keys exceed N/(m+1) at m=8, so the guarantee tier is non-empty
    val rows = rnd.shuffle(
      Seq.fill(400)(1L) ++ Seq.fill(400)(2L) ++ Seq.fill(400)(3L) ++
        (1 to 700).map(_ => 1000L + rnd.nextInt(500)))
    val n = rows.size
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("k").repartition(parts)
      val agg = GraftBridge.column(graft.functions.MisraGriesTopK(
        GraftBridge.expression(col("k")), 8).toAggregateExpression())
      val summary = df.agg(agg.as("mg")).select(explode(col("mg")).as("e"))
        .select(col("e.key"), col("e.est")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(summary.size <= 8)
      for ((k, c) <- exact if c * 9 > n)
        assert(summary.contains(k), s"guaranteed key $k missing at parts=$parts")
      for ((k, est) <- summary) {
        val ex = exact(k)
        assert(est <= ex && (ex - est) * 9 <= n,
          s"bounds violated for $k: est=$est exact=$ex n=$n parts=$parts")
      }
    }
  }

  test("property: textTopKSim equals the all-pairs ranking on a seeded corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (1L to 30L).map { i =>
      (i, (0 until 8 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val got = graft.dedup.Dedup.textTopKSim(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute-force reference: distinct 3-shingles, jaccard, (j desc, id asc)
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = corpus.map { case (i, t) => i -> sh(t) }.toMap
    val want = corpus.flatMap { case (a, _) =>
      val nbrs = corpus.collect { case (b, _) if b != a &&
          (sets(a) & sets(b)).nonEmpty =>
        val j = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
        (b, j)
      }.sortBy { case (b, j) => (-j, b) }.take(2)
      nbrs.zipWithIndex.map { case ((b, _), r) => (a, r + 1) -> b }
    }.toMap
    assert(got == want, s"mismatch:\n got=$got\nwant=$want")
  }

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs, "doc_id", "text")
    assert(got.count() == 4)
    val dup = got.filter(col("n_copies") === 2).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("doc_id") == 0L)
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
        threshold = 0.5, k = 3, numHashes = 64, bands = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // exact dup certainly caught
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash: identical docs same print; near-dups within hamming 3") {
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(3L))
    assert(SimHashTestHelper.hamming(fp(0L), fp(1L)) <= 6)
    assert(SimHashTestHelper.hamming(fp(0L), fp(2L)) > 10)
    val nd = Dedup.nearDupSimhash(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 3L)))
  }

  test("simhash near-dup rejects a Hamming bound its banding cannot keep lossless") {
    // 4 flipped bits can touch all four 16-bit chunks, so a pair at
    // distance 4 may share no chunk and never become a candidate
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupSimhash(docs, "doc_id", "text", maxHamming = 4)
    }
    assert(e.getMessage.contains("maxHamming <= 3"), e.getMessage)
  }

  test("indexed delta near-dup equals the self-contained path") {
    import spark.implicits._
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 0
      (11L, "a wholly unrelated delta document about streaming state stores")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    Dedup.buildCorpusIndex(docs, "doc_id", "text", dir,
      k = 3, numHashes = 64, bands = 32)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = asSet(Dedup.nearDupDelta(delta, docs, "doc_id", "text",
      threshold = 0.8, k = 3, numHashes = 64, bands = 32))
    val indexed = asSet(Dedup.nearDupDeltaIndexed(delta, dir, "doc_id", "text",
      threshold = 0.8, k = 3, numHashes = 64, bands = 32))
    assert(indexed == direct)
    assert(indexed.exists { case (d, c, j) => d == 10L && c == 0L && j == 1.0 })
    assert(!indexed.exists(_._1 == 11L))

    // exact-dedup leg of the same index: verbatim re-ingest found with
    // zero corpus scans, same answers as the self-contained bloom path
    val exDelta = Seq(
      (20L, docs.select("text").head().getString(0)), // verbatim dup of 0
      (21L, "never seen before")).toDF("doc_id", "text")
    val viaIndex = Dedup.exactDeltaIndexed(exDelta, dir, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val viaBloom = Dedup.exactDeltaBloom(exDelta, docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(viaIndex == viaBloom && viaIndex == Set(20L))
  }

  test("char n-gram jaccard") {
    import spark.implicits._
    val df = Seq(("abcdef", "abcdeg")).toDF("a", "b")
      .select(Dedup.charNgramJaccard(col("a"), col("b"), 3).as("j"))
    val j = df.head().getDouble(0)
    assert(j > 0.3 && j < 1.0)
  }

  test("char n-gram MinHash-LSH near-dup agrees with string-based jaccard") {
    val pairs = Dedup.nearDupCharNgram(docs, "doc_id", "text",
        threshold = 0.8, n = 3, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet.contains((0L, 3L)) && pairs((0L, 3L)) == 1.0)
    assert(pairs.keySet.contains((0L, 1L))) // near-dup: one word differs
    assert(!pairs.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // hash-set jaccard equals string-set jaccard (no collisions expected)
    import spark.implicits._
    val want = docs.as("a").join(docs.as("b"),
        col("a.doc_id") === 0L && col("b.doc_id") === 1L)
      .select(Dedup.charNgramJaccard(col("a.text"), col("b.text"), 3))
      .head().getDouble(0)
    assert(math.abs(pairs((0L, 1L)) - want) < 1e-12)
  }

  test("embedding near-dup: exact finds planted pair; LSH recalls it") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f // cosine ~ 1
    val far = Array.tabulate(64)(i => math.cos(i * 1.3).toFloat)
    val vecs = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val exact = Dedup.nearDupEmbedding(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((0L, 1L)))
    val lsh = Dedup.nearDupEmbeddingLsh(vecs, "vec_id", "embedding", 0.95,
        dim = 64, bits = 8, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((0L, 1L)))
  }

  test("lshParams: sub-quadratic candidate sizing that never sells the recall floor") {
    def recall(threshold: Double, bits: Int, tables: Int): Double = {
      val p = 1.0 - math.acos(threshold) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, bits), tables)
    }
    val (b1, t1) = Dedup.lshParams(2000L, 0.45)
    val (b2, t2) = Dedup.lshParams(20000L, 0.45)
    // bits grow with the corpus so buckets stay bounded...
    assert(b2 > b1)
    // ...and the worst-case (exactly-at-threshold) recall stays high at
    // every size — tables absorb the selectivity the extra bits cost
    assert(recall(0.45, b1, t1) >= 0.95)
    assert(recall(0.45, b2, t2) >= 0.95)
    // candidate-volume proxy (tables · n² / 2^bits) grows SUB-quadratically
    // across a 10× corpus step — the scale cliff the auto-sizing removes
    val cand1 = t1.toDouble * 2000.0 * 2000.0 / (1L << b1)
    val cand2 = t2.toDouble * 20000.0 * 20000.0 / (1L << b2)
    assert(cand2 / cand1 < 50.0, s"candidates grew ${cand2 / cand1}x for 10x data")
    // the table cap binds bits, never recall (cap raised to 2048 in r11:
    // the old 512 forced bits down into the random-collision cliff at
    // 200k vectors — candidate volume T·n²·(p₂/p₁)^bits is strictly
    // decreasing in bits, so the cap should bind as late as memory allows)
    val (b3, t3) = Dedup.lshParams(10000000L, 0.45)
    assert(t3 <= 2048 && recall(0.45, b3, t3) >= 0.95)
    // selective thresholds stay cheap (real dedup runs at >= 0.9 cosine)
    val (b4, t4) = Dedup.lshParams(20000L, 0.92)
    assert(b4 === b2 && t4 < 30)
  }

  test("connectedComponents: chains, stars, and singletons") {
    import spark.implicits._
    // chain 1-2-3-4 (3 hops), star 10-{11,12,13}, pair (20,21)
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(10L,11L),(10L,12L),(10L,13L),(21L,20L))
      .toDF("id_a","id_b")
    val want = Map(1L->1L, 2L->1L, 3L->1L, 4L->1L,
      10L->10L, 11L->10L, 12L->10L, 13L->10L, 20L->20L, 21L->20L)
    // both paths: driver union-find (small graph) and the Hash-Min loop
    for (threshold <- Seq(200000L, 0L)) {
      val got = Dedup.connectedComponents(pairs, smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"threshold=$threshold")
    }
  }

  test("asofJoin: inclusive/strict tie rules and atomic struct carry") {
    import spark.implicits._
    import graft.ops.AsofJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    // right row at t=10 has a NULL v: the carried pair must still come
    // from one row (m from the same row as the null), not mix rows
    val right = Seq((1L, 10L, null.asInstanceOf[java.lang.Double], "m10"),
        (1L, 15L, java.lang.Double.valueOf(1.5), "m15"),
        (2L, 9L, java.lang.Double.valueOf(9.0), "m9"))
      .toDF("k", "t", "v", "m")
    val inc = AsofJoin.asofJoin(left, right, "k", "t", Seq("v", "m"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)), Option(r.get(4)))).toSet
    assert(inc == Set(
      (1L, 10L, None, Some("m10")),      // t=10 inclusive: sees the null-v row
      (1L, 20L, Some(1.5), Some("m15")), // latest = t=15, both fields from it
      (2L, 5L, None, None)))             // no prior right row
    val strict = AsofJoin.asofJoin(left, right, "k", "t", Seq("v", "m"),
        strict = true)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)), Option(r.get(4)))).toSet
    assert(strict.contains((1L, 10L, None, None))) // t=10 excluded under <
  }

  test("language id picks the wordlist with most hits") {
    import spark.implicits._
    val df = Seq(
      ("the cat is on the mat", "en"),
      ("der hund ist nicht da und die katze", "de"),
      ("le chat est sur la table et les chiens", "fr"),
      ("el perro y los gatos en la casa", "es"),
      ("xyzzy plugh", "und")
    ).toDF("text", "expect")
    val got = df.select(TextFunctions.langId(col("text")).as("got"), col("expect"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("token metrics") {
    import spark.implicits._
    val df = Seq("  hello   world hello  ").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")),
      TextFunctions.uniqTokenCount(col("text")),
      TextFunctions.tokenCharCount(col("text")),
      TextFunctions.subwordCount(col("text"))).head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 2 && r.getInt(2) == 15)
    assert(r.getInt(3) == 6) // ceil(5/4)=2 per token
  }

  test("brute-force ANN: self-similar vectors rank first; LSH recalls them") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    // vec 100 = vec 0 + tiny noise → must be vec 0's top neighbor
    val noisy = (100L, base.head._2.map(x => x + 0.01f))
    val corpus = spark.createDataset(base :+ noisy).toDF("id", "vec")
    val queries = corpus.filter(col("id") === 0L)
    val bf = Ann.bruteForceTopK(corpus, queries, k = 3).collect()
    assert(bf.head.getAs[Long]("neighbor_id") == 100L)
    val lsh = Ann.lshTopK(corpus, queries, k = 3, dim = 16, bits = 4, tables = 8)
      .collect()
    assert(lsh.head.getAs[Long]("neighbor_id") == 100L)
  }

  test("IVF ANN recalls the planted near-duplicate vector") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0L until 60L).map(i => (i, vec()))
    val noisy = (200L, base.head._2.map(x => x + 0.01f))
    val corpus = spark.createDataset(base :+ noisy).toDF("id", "vec")
    val queries = corpus.filter(col("id") === 0L)
    val ivf = Ann.ivfTopK(corpus, queries, k = 3, nCells = 8, nProbe = 3)
      .collect()
    // vec 200 ≈ vec 0 lands in the same cell, so it must be recalled first
    assert(ivf.head.getAs[Long]("neighbor_id") == 200L)
  }

  test("IVF quantizer is deterministic; probing all cells equals brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpus = spark.createDataset((0L until 80L).map(i => (i, vec()))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 3L)
    def run() = Ann.ivfTopK(corpus, queries, k = 4, nCells = 8, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    // same (corpus, seed) → bit-identical model → identical results
    assert(run() == run())
    // nProbe == nCells degrades gracefully to the exact answer
    val bf = Ann.bruteForceTopK(corpus, queries, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(run() == bf)
  }

  test("top_k_by_score agg equals sort-take oracle, incl. score ties") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    val rnd = new scala.util.Random(3)
    // few distinct scores → many ties exercising the id tie-break
    val rows = (0L until 200L).map(i => (i % 4, rnd.nextInt(10) / 10.0, i))
    val df = rows.toDF("g", "score", "id").repartition(7)
    val agg = GraftBridge.column(graft.functions.TopKByScore(
      GraftBridge.expression(col("score")),
      GraftBridge.expression(col("id")), 5).toAggregateExpression())
    val got = df.groupBy("g").agg(agg.as("nn")).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1)))).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(t => (t._2, t._3)).sortBy(t => (-t._1, t._2)).take(5)
    }
    assert(got == want)
  }

  test("shingles produce k-grams in order") {
    import spark.implicits._
    val r = Seq("a b c d").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3).as("s")).head()
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
  }

  test("bloom delta dedup finds exactly the verbatim re-ingests") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma  delta"), (3L, "epsilon"),
      (4L, null)).toDF("doc_id", "text")
    // 11 dups whitespace/case-normalize onto corpus docs; 12 is new;
    // null text is never a duplicate (and must not NPE the bloom probe)
    val delta = Seq((11L, "  ALPHA   beta "), (12L, "zeta"), (13L, "Gamma delta"),
      (14L, null)).toDF("doc_id", "text")
    val got = Dedup.exactDeltaBloom(delta, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L, 13L))
  }

  test("property: BPE round-trips any seeded random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcxyz 爱ß-"
    val docs = (1L to 60L).map { i =>
      val n = rnd.nextInt(40)
      (i, (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val merges = graft.text.Bpe.trainMerges(docs, "text", numMerges = 12)
    val bad = graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
      .filter(!col("roundtrip_ok") || !col("bounds_ok"))
    assert(bad.isEmpty, s"round-trip violated: ${bad.collect().mkString(",")}")
  }

  test("BPE round-trips non-BMP text (surrogate pairs stay whole)") {
    import spark.implicits._
    // emoji + astral-plane math letters: every symbol is a surrogate PAIR
    // in Java chars; per-char splitting would produce lone surrogates that
    // UTF8String mangles, silently flipping roundtrip_ok
    val docs = Seq(
      (1L, "hello 🌍🌍 world 🌍world"),
      (2L, "𝕙𝕖𝕝𝕝𝕠 " +
        "𝕙𝕖𝕝𝕝𝕠 mixed ascii"),
      (3L, "plain bmp text with 爱 and ß only")
    ).toDF("doc_id", "text")
    val merges = graft.text.Bpe.trainMerges(docs, "text", numMerges = 10)
    val bad = graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
      .filter(!col("roundtrip_ok") || !col("bounds_ok"))
    assert(bad.isEmpty, s"non-BMP round-trip violated: ${bad.collect().mkString(",")}")
  }

  test("BPE merges survive the save/load model round-trip") {
    import spark.implicits._
    val df = Seq("aa ab aa ab aa ac ac").toDF("text")
    val trained = graft.text.Bpe.trainMerges(df, "text", numMerges = 3)
    val path = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    graft.text.Bpe.saveMerges(spark, trained, path)
    val loaded = graft.text.Bpe.loadMerges(spark, path)
    assert(loaded.pairs == trained.pairs) // order = priority, must be exact
    val docs = Seq((1L, "aa ab ac zz")).toDF("doc_id", "text")
    val a = graft.text.Bpe.encodeStats(docs, "doc_id", "text", trained).collect()
    val b = graft.text.Bpe.encodeStats(docs, "doc_id", "text", loaded).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("null text: deflate and BPE stats go null, not NPE") {
    import spark.implicits._
    val df = Seq((1L, "some text"), (2L, null)).toDF("doc_id", "text")
    val z = df.select(col("doc_id"), TextFunctions.deflateStats(col("text")).as("z"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!z(1L) && z(2L))
    val merges = graft.text.Bpe.trainMerges(df, "text", numMerges = 2)
    val st = graft.text.Bpe.encodeStats(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(!st(1L) && st(2L)) // roundtrip_ok null for the null doc
  }

  test("BPE training matches an exact reference implementation") {
    import spark.implicits._
    val text = "low low low low low lower lower newest newest newest " +
      "newest newest newest widest widest widest"
    val df = Seq(text).toDF("text")
    val got = graft.text.Bpe.trainMerges(df, "text", numMerges = 6).pairs

    // independent naive BPE over the word-frequency map, same tie-break
    // (count desc, then (l, r) lexicographic asc) and the same stop rule
    // (no pair with count >= 2 left -> done)
    var words: Map[Vector[String], Long] = text.split(" ")
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    val want = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 0 until 6) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val repeating = counts.filter(_._2 >= 2)
      if (repeating.isEmpty) throw new AssertionError(
        "fixture exhausted before 6 merges — extend the fixture")
      val (l, r) = repeating.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
      want += ((l, r))
      words = words.map { case (syms, f) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toVector -> f
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    assert(got == want.toSeq)
  }

  test("BPE encode round-trips and handles unseen words") {
    import spark.implicits._
    val train = Seq("aa ab aa ab aa").toDF("text")
    val merges = graft.text.Bpe.trainMerges(train, "text", numMerges = 2)
    val docs = Seq((1L, "aa ab"), (2L, "zzz qq aa")).toDF("doc_id", "text")
    val stats = graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(stats(1L)._3 && stats(1L)._4)
    assert(stats(2L)._3 && stats(2L)._4)
    assert(stats(1L)._1 == 2L)            // two words
    assert(stats(1L)._2 == 2L)            // 'aa' and 'ab' each one merged token
    assert(stats(2L)._2 >= stats(2L)._1)  // unseen words split to >= 1 token
  }

  test("deflate stats: round-trip, determinism, boilerplate compresses better") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over seventeen lazy dogs near a riverbank"
    val boiler = "spam spam spam spam spam spam spam spam spam spam spam spam"
    val df = Seq((1L, prose), (2L, boiler)).toDF("id", "text")
      .select(col("id"), octet_length(col("text")).as("nb"),
        TextFunctions.deflateStats(col("text")).as("z"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getStruct(2).getLong(0), r.getStruct(2).getBoolean(1))).toMap
    assert(rows.values.forall(_._3))                    // inflate == original
    assert(rows(1L)._2.toDouble / rows(1L)._1 >
      rows(2L)._2.toDouble / rows(2L)._1)               // prose ratio higher
    val again = Seq((1L, prose)).toDF("id", "text")
      .select(TextFunctions.deflateStats(col("text"))("n_deflate")).head().getLong(0)
    assert(again == rows(1L)._2)                        // deterministic
  }

  test("inverted index postings are sorted, distinct, df-capped") {
    import spark.implicits._
    val docs = Seq((3L, "b a b"), (1L, "a c"), (2L, "a"))
      .toDF("doc_id", "text")
    val idx = TextFunctions.invertedIndex(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(idx("a") == ((3L, Seq(1L, 2L, 3L))))
    assert(idx("b") == ((1L, Seq(3L)))) // duplicate token, one posting
    assert(idx("c") == ((1L, Seq(1L))))
    val capped = TextFunctions.invertedIndex(docs, "doc_id", "text", maxDf = 2)
    assert(!capped.collect().map(_.getString(0)).contains("a"))
  }
}

object SimHashTestHelper {
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
