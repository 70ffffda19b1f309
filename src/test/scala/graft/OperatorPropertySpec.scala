package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsofJoin, Scale, Sessionize}
import graft.text.TextFunctions

/** Property-style cross-checks: each structured operator must equal its
  * naive (obviously-correct, unscalable) formulation on seeded random
  * data — the same validate-against-brute-force tier the reference's
  * benchmarks use, but as fast unit properties. */
class OperatorPropertySpec extends AnyFunSuite {

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

  test("rangeJoin equals the naive BETWEEN join on random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val points = Seq.tabulate(300)(i => (i.toLong, rnd.nextLong(10000)))
      .toDF("pid", "t")
    val ivals = Seq.tabulate(80) { i =>
      val s0 = rnd.nextLong(10000); (i.toLong, s0, s0 + rnd.nextLong(700))
    }.toDF("iid", "s0", "s1")
    val naive = points.join(ivals, col("t") >= col("s0") && col("t") <= col("s1"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(100L, 500L, 5000L)) {
      val got = Scale.rangeJoin(points, ivals, "t", "s0", "s1", width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == naive, s"width=$width")
    }
  }

  test("asofJoin equals the naive max-prior lookup on random events") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // distinct ts per key to keep the naive argmax unambiguous
    val lts = rnd.shuffle((0 until 3000).toList).take(250)
    val rts = rnd.shuffle((0 until 3000).toList).take(120)
    val left = lts.zipWithIndex.map { case (t, i) => (i.toLong % 5, t.toLong, i.toLong) }
      .toDF("k", "t", "lid")
    val right = rts.zipWithIndex.map { case (t, i) => (i.toLong % 5, t.toLong, i.toLong) }
      .toDF("k", "t", "rid")
    val rightRows = right.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val naive = left.collect().map { r =>
      val (k, t, lid) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val prior = rightRows.filter(x => x._1 == k && x._2 <= t)
      (lid, if (prior.isEmpty) None else Some(prior.maxBy(_._2)._3))
    }.toMap
    val got = AsofJoin.asofJoin(left, right, "k", "t", Seq("rid"))
      .collect().map(r => (r.getAs[Long]("lid"),
        Option(r.getAs[Any]("asof_rid")).map(_.asInstanceOf[Long]))).toMap
    assert(got == naive)
  }

  test("sessionize: gaps within sessions <= gap, gaps across sessions > gap") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val events = Seq.tabulate(400)(i => (i.toLong % 7, rnd.nextLong(100000)))
      .toDF("k", "t").distinct()
    val gap = 1500L
    val ss = Sessionize.sessionize(events, "k", "t", gap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    for ((_, rows) <- ss) {
      val byTs = rows.sortBy(_._2)
      byTs.sliding(2).foreach {
        case Array((_, t1, s1), (_, t2, s2)) =>
          if (s1 == s2) assert(t2 - t1 <= gap, s"gap inside session: $t1 -> $t2")
          else {
            assert(s2 == s1 + 1, "session ids must be consecutive ordinals")
            assert(t2 - t1 > gap, s"session split without a gap: $t1 -> $t2")
          }
        case _ =>
      }
      assert(byTs.head._3 == 1L, "first session id must be 1")
    }
  }

  test("removeBoilerplate equals the naive line-frequency reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // 120 docs of 3-8 lines drawn from a small shared pool (so real
    // cross-doc frequency structure emerges) plus unique body lines
    val pool = Seq.tabulate(12)(i => s"shared line $i")
    val docs = Seq.tabulate(120) { id =>
      val lines = Seq.fill(3 + rnd.nextInt(5))(
        if (rnd.nextBoolean()) pool(rnd.nextInt(pool.length))
        else s"unique $id ${rnd.nextInt(1000)}")
      (id.toLong, lines.mkString("\n"))
    }
    val df = docs.toDF("id", "text")
    val minDocs = 15L
    // naive reference: count distinct docs per line, filter, reassemble
    val freq = docs.flatMap { case (id, t) => t.split("\n", -1).distinct.map((_, id)) }
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).distinct.size) }
    val boiler = freq.filter(_._2 >= minDocs).keySet
    val want = docs.map { case (id, t) =>
      val ls = t.split("\n", -1)
      (id, ls.filterNot(boiler).mkString("\n"), ls.count(boiler).toLong)
    }.toSet
    val got = graft.text.Corpus.removeBoilerplate(df, "id", "text", minDocs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(boiler.nonEmpty, "fixture produced no boilerplate lines")
    assert(got == want)
  }

  test("spanStats + removeSharedSpans equal the naive reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d") // tiny vocab forces gram collisions
    val k = 4
    val corpus = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(4))).mkString(" "))
    }
    // naive reference: materialize every k-gram with positions in memory
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    def gramsOf(ts: Seq[String]) =
      if (ts.length < k) Seq.empty
      else (0 to ts.length - k).map(i => (i + 1, ts.slice(i, i + k).mkString(" ")))
    val owner = corpus.flatMap { case (id, _) => gramsOf(toks(id)).map(_._2 -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expStats = corpus.map { case (id, _) =>
      val gs = gramsOf(toks(id)).map(_._2).distinct
      val shared = gs.count(g => corpus.exists { case (o, _) =>
        o != id && gramsOf(toks(o)).exists(_._2 == g) })
      val earlier = gs.count(g => owner(g) < id)
      (id, gs.length.toLong, shared.toLong, earlier.toLong,
        earlier * 5 >= gs.length && gs.nonEmpty)
    }.toSet
    val df = corpus.toDF("doc_id", "text")
    val gotStats = dedup.Dedup.spanStats(df, "doc_id", "text", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(gotStats === expStats)
    // removal: drop tokens covered by any gram owned by an earlier doc
    val expClean = corpus.map { case (id, _) =>
      val ts = toks(id)
      val starts = gramsOf(ts).collect { case (i, g) if owner(g) < id => i }
      val keep = (1 to ts.length).filterNot(p => starts.exists(s => s <= p && p < s + k))
      id -> ((keep.map(p => ts(p - 1)).mkString(" "), (ts.length - keep.length).toLong))
    }.toMap
    val gotClean = dedup.Dedup.removeSharedSpans(df, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(gotClean === expClean)
  }

  test("zorderKey round-trips: de-interleaving recovers both coordinates") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val pts = Seq.tabulate(500)(i =>
      (i.toLong, rnd.nextInt(1 << 8).toLong, rnd.nextInt(1 << 8).toLong))
      .toDF("id", "x", "y")
    val rows = pts.withColumn("z", Scale.zorderKey(col("x"), col("y"), 8))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    def unbits(z: Long, off: Int): Long =
      (0 until 8).map(i => ((z >> (2 * i + off)) & 1L) << i).reduce(_ | _)
    for ((x, y, z) <- rows) {
      assert(unbits(z, 0) == x && unbits(z, 1) == y, s"z=$z x=$x y=$y")
      assert(z >= 0 && z < (1L << 16))
    }
    // locality: identical high coordinate bits ⇒ identical high z bits
    val grouped = rows.groupBy { case (x, y, _) => (x >> 4, y >> 4) }
    for ((_, g) <- grouped if g.length > 1)
      assert(g.map(_._3 >> 8).distinct.length == 1,
        "points in one 16x16 cell must share the high z byte")
  }

  test("chunkText covers the text: stripped overlaps reconstruct it") {
    import spark.implicits._
    val texts = Seq("", "ab", "a" * 255, "a" * 256, "héllo wörld " * 40,
      "你好" * 200)
    val df = texts.toDF("text")
    val rows = df.select(col("text"),
        TextFunctions.chunkText(col("text"), size = 64, overlap = 16).as("chunks"))
      .collect()
    for (r <- rows) {
      val text = r.getString(0)
      val chunks = r.getSeq[String](1)
      // drop each chunk's first `overlap` chars except the first chunk
      val rebuilt = chunks.head + chunks.tail.map(c => c.drop(16)).mkString
      assert(rebuilt == text, s"len=${text.length}")
      assert(chunks.forall(_.length <= 64))
    }
  }

  test("pqTopKIndexed equals the in-line reranked PQ at equal parameters") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
    val inline = graft.similarity.Ann.pqTopKReranked(emb, queries, k = 5,
      dim = 64, m = 8, ksub = 32, candidates = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_spec").toString
    graft.similarity.Ann.buildPqIndex(emb, dir, dim = 64, m = 8, ksub = 32)
    val indexed = graft.similarity.Ann.pqTopKIndexed(spark, dir, queries,
      k = 5, candidates = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(inline == indexed)
  }

  test("clusterKeepBest conserves membership and keeps only real members") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // Random corpus with planted duplicate families: base sentences plus
    // verbatim copies and single-word-perturbed near-copies.
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val bases = Seq.tabulate(12)(i =>
      Seq.fill(10 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "))
    val docs0 = bases.zipWithIndex.flatMap { case (t, i) =>
      val copies = Seq.tabulate(rnd.nextInt(3)) { c =>
        if (c == 0) t else t + " " + words(rnd.nextInt(words.length))
      }
      (t +: copies)
    }.zipWithIndex.map { case (t, id) => (id.toLong, t) }
    val docs = docs0.toDF("doc_id", "text")
    val out = graft.dedup.Dedup.clusterKeepBest(docs, "doc_id", "text",
      threshold = 0.8).collect()
    // conservation: every doc counted exactly once across clusters
    assert(out.map(_.getLong(3)).sum == docs0.length)
    assert(out.map(_.getLong(4)).sum == docs0.map(_._2.length.toLong).sum)
    // keeper is a member with the cluster's maximal length
    val byId = docs0.toMap
    out.foreach { r =>
      val (keepId, keepLen) = (r.getLong(1), r.getLong(2))
      assert(byId(keepId).length.toLong == keepLen)
    }
    // exact-duplicate family: the verbatim copy of bases(0) must share a
    // cluster with its original (ids 0 and any copy-of-0 map together)
    val cl = graft.dedup.Dedup.dedupClusters(docs, "doc_id", "text", 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs0.groupBy(_._2).values.filter(_.size > 1).foreach { grp =>
      val cs = grp.map(g => cl(g._1)).distinct
      assert(cs.size == 1, s"verbatim copies split across clusters: $grp")
    }
  }

  test("prefixSum equals the sequential fold on random integers") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = rnd.shuffle((0 until 500).toList)
      .map(k => (k.toLong, rnd.nextLong(2000) - 1000))
    val df = rows.toDF("ord", "v").repartition(7)
    val got = Scale.prefixSum(df, "ord", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    var acc = 0L
    rows.sortBy(_._1).foreach { case (k, v) =>
      assert(got(k) == acc, s"ord=$k"); acc += v
    }
  }

  test("Unicode normalization laws: idempotence, accent-free fixpoint, length order") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.UnicodeNormUtil.{nfc, stripAccents}
    // BMP strings mixing ASCII, precomposed and decomposed accents
    val accenty = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const("\u00e9"), Gen.const("e\u0301"),
      Gen.const("\u00f1"), Gen.const("n\u0303"), Gen.const("\u03ad"),
      Gen.const("\u03b5\u0301"), Gen.const(" "))).map(_.mkString)
    val prop = forAll(accenty) { s0 =>
      val u = UTF8String.fromString(s0)
      val n1 = nfc(u).toString
      val n2 = nfc(UTF8String.fromString(n1)).toString
      val a1 = stripAccents(u).toString
      val a2 = stripAccents(UTF8String.fromString(a1)).toString
      Prop.all(
        Prop(n2 == n1) :| "nfc idempotent",
        Prop(a2 == a1) :| "stripAccents idempotent",
        Prop(stripAccents(UTF8String.fromString(n1)).toString == a1)
          :| "strip after nfc == strip",
        Prop(n1.codePointCount(0, n1.length) <= s0.codePointCount(0, s0.length))
          :| "nfc never grows code points")
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("winnowing detection guarantee: shared >= w+k-1 token runs share a fingerprint") {
    import spark.implicits._
    // Seeded random docs; half the pairs get a common 6..12-token run
    // planted at random offsets. Schleimer et al.'s theorem: with k=3,
    // w=4, any shared substring of >= w+k-1 = 6 tokens is detected — the
    // two documents select at least one identical gram HASH (positions
    // differ, so compare the hash part of the packed key only).
    val rnd = new scala.util.Random(41)
    def words(n: Int): Seq[String] = Seq.fill(n)("w" + rnd.nextInt(50))
    val shared = Seq.tabulate(20)(i => words(6 + rnd.nextInt(7)))
    val docs = shared.zipWithIndex.flatMap { case (run, i) =>
      Seq(
        (2L * i, (words(rnd.nextInt(20)) ++ run ++ words(rnd.nextInt(20))).mkString(" ")),
        (2L * i + 1, (words(rnd.nextInt(20)) ++ run ++ words(rnd.nextInt(20))).mkString(" ")))
    }.toDF("doc_id", "text")
    val fps = graft.ops.CorpusOps.winnowing(docs)
      .select(col("doc_id"), expr("transform(fps, x -> x div 10000000L)").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    for (i <- shared.indices) {
      val (a, b) = (fps(2L * i), fps(2L * i + 1))
      assert((a & b).nonEmpty, s"pair $i shares a ${shared(i).size}-token run but no fingerprint")
    }
    // Density sanity: expected fraction of selected grams is ~2/(w+1) = 0.4;
    // allow a generous band (tiny docs, boundary effects).
    val stats = graft.ops.CorpusOps.winnowing(docs)
      .agg(sum(size(col("fps"))).cast("double").as("fp"),
        sum(col("n_grams")).cast("double").as("g"))
      .head()
    val density = stats.getDouble(0) / stats.getDouble(1)
    assert(density > 0.25 && density < 0.6, s"winnowing density $density out of band")
  }

  test("applyCdcLog equals the naive sequential replay on random logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // ~30 keys, 400 ops, ~25% deletes, unique seq; duplicate-heavy keys
    val log = Seq.tabulate(400) { i =>
      val k = rnd.nextInt(30).toLong
      val op = if (rnd.nextInt(4) == 0) "D" else "U"
      (k, i.toLong, op, s"v$i")
    }
    // naive reference: replay in seq order into a mutable map
    val want = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String)]
      val nOps = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      log.sortBy(_._2).foreach { case (k, _, op, v) =>
        nOps(k) += 1
        if (op == "D") m.remove(k) else m(k) = (op, v)
      }
      m.map { case (k, (_, v)) => k -> ((v, nOps(k))) }.toMap
    }
    val got = Scale.applyCdcLog(log.toDF("k", "seq", "op", "v"),
        Seq("k"), "op", "D", Seq("seq"))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), r.getAs[Long]("n_ops")))).toMap
    assert(got == want)
  }

  test("kCorePeel equals the naive iterative peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges0 = (0 until 260).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    def naive(k: Int, rounds: Int): Map[Long, Long] = {
      var es = edges0
      for (_ <- 1 to rounds) {
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val keep = deg.filter(_._2 >= k).keySet
        es = es.filter(e => keep(e._1) && keep(e._2))
      }
      es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
    }
    for (k <- Seq(2, 3, 4)) {
      val got = graft.ops.AnalyticsOps.kCorePeel(edges0.toDF("s", "d"), k, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive(k, 3), s"k=$k mismatch")
    }
  }

  // -------------------------------------------------------------------------
  // Partitioning invariance (VERDICT r9 #5): operators whose correctness
  // rests on order-free partial/merge splits must produce BIT-IDENTICAL
  // output under any input partition layout — on a 1000-executor cluster
  // the layout is whatever the previous stage left behind, never the test
  // default. Each case replays the operator under >= 3 layouts (single
  // partition, a prime that misaligns every key boundary, and more
  // partitions than rows for some inputs) and compares the full canonical
  // row rendering, not just row counts.
  // -------------------------------------------------------------------------

  /** Canonical full-precision rendering of a result: every cell via
    * toString (doubles keep all bits), rows sorted. Layout-sensitive
    * float summation or lost rows both show up as a diff. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq

  private val invarianceLayouts = Seq(1, 7, 32)

  test("nearDupMinhash is bit-identical under 1/7/32-partition inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector.tabulate(220)(i => s"w$i")
    def sentence(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    // 40 groups: a base doc, a 1-word-perturbed near-dup, and an unrelated doc
    val docs = (0 until 40).flatMap { g =>
      val base = sentence(18 + rnd.nextInt(8))
      val nd = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
      Seq((g * 3L, base.mkString(" ")), (g * 3L + 1, nd.mkString(" ")),
        (g * 3L + 2, sentence(20).mkString(" ")))
    }
    val results = invarianceLayouts.map { p =>
      canon(graft.dedup.Dedup.nearDupMinhash(
        docs.toDF("doc_id", "text").repartition(p), "doc_id", "text", 0.7))
    }
    assert(results(0).nonEmpty, "fixture must plant confirmable near-dups")
    assert(results.distinct.size == 1,
      s"layouts ${invarianceLayouts} disagree: sizes ${results.map(_.size)}")
  }

  test("spanStats is bit-identical under 1/7/32-partition inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vocab = Vector.tabulate(60)(i => s"t$i")
    val shared = Vector.fill(12)(vocab(rnd.nextInt(vocab.size))) // planted span
    val docs = (0 until 90).map { i =>
      val own = Vector.fill(10 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      val text = if (i % 4 == 0) (own.take(5) ++ shared ++ own.drop(5)) else own
      (i.toLong, text.mkString(" "))
    }
    val results = invarianceLayouts.map { p =>
      canon(graft.dedup.Dedup.spanStats(
        docs.toDF("doc_id", "text").repartition(p), "doc_id", "text", k = 8))
    }
    assert(results(0).exists(_.contains("true")), "fixture must plant shared spans")
    assert(results.distinct.size == 1,
      s"layouts ${invarianceLayouts} disagree: sizes ${results.map(_.size)}")
  }

  test("prefixSum is bit-identical under input layouts x device partition counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val rows = rnd.shuffle((0 until 500).toList)
      .map(o => (o.toLong, rnd.nextInt(1000).toLong - 300))
    // both axes: how the INPUT arrives (repartition) and how the device
    // itself ranges (partitions param; 64 > #rows/10, 400 ~ near-empty
    // ranges) — every combination must agree with the sequential fold
    val sortedRows = rows.sortBy(_._1)
    val seqFold = sortedRows.scanLeft(0L)(_ + _._2).init
    val expect = sortedRows.zip(seqFold)
      .map(t => t._1._1 + "\u0001" + t._1._2 + "\u0001" + t._2).sorted
    for (inP <- invarianceLayouts; devP <- Seq(0, 1, 7, 64, 400)) {
      val got = canon(Scale.prefixSum(
        rows.toDF("o", "v").repartition(inP), "o", "v", partitions = devP))
      assert(got == expect, s"inP=$inP devP=$devP")
    }
  }

  test("FoldAgg partial/final split is bit-identical under 1/7/32-partition inputs") {
    import spark.implicits._
    import graft.api.Context
    val rnd = new scala.util.Random(53)
    val rows = Seq.tabulate(400)(i => (s"k${rnd.nextInt(5)}", rnd.nextInt(2000) - 500))
    val ctx = new Context(spark)
    val global = invarianceLayouts.map { p =>
      canon(ctx.fromDataFrame(rows.toDF("k", "v").repartition(p))
        .aggregate[(Long, Long, Long)]((0L, 0L, Long.MinValue))(
          (b, r) => (b._1 + 1, b._2 + r.getInt(1), math.max(b._3, r.getInt(1).toLong)),
          (x, y) => (x._1 + y._1, x._2 + y._2, math.max(x._3, y._3)))
        .toDF)
    }
    assert(global.distinct.size == 1, "global fold differs across layouts")
    val byKey = invarianceLayouts.map { p =>
      canon(ctx.fromDataFrame(rows.toDF("k", "v").repartition(p))
        .aggregateByKey[(Long, Long)](Seq("k"), (0L, 0L))(
          (b, r) => (b._1 + 1, b._2 + r.getInt(1)),
          (x, y) => (x._1 + y._1, x._2 + y._2))
        .toDF)
    }
    assert(byKey(0).size == 5, "one row per key expected")
    assert(byKey.distinct.size == 1, "grouped fold differs across layouts")
  }
}
