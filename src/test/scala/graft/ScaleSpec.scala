package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Scale

/** Shuffle-shaping helpers: salted joins must be result-identical to plain
  * joins; bucketed tables must join with no exchange. */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("saltedJoin equals plain join on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows share key 0 — the pathological case salting exists for
    val skewed = (0L until 2000L)
      .map(i => (if (i % 10 == 0) i % 7 else 0L, i)).toDF("k", "v")
    val dim = (0L until 7L).map(i => (i, s"name_$i")).toDF("id", "name")

    for (jt <- Seq("inner", "left")) {
      val want = skewed.join(dim, skewed("k") === dim("id"), jt)
        .select("k", "v", "name").collect().map(_.toString).sorted
      val got = Scale.saltedJoin(skewed, dim, "k", "id", jt, salts = 8)
        .select("k", "v", "name").collect().map(_.toString).sorted
      assert(got.toSeq == want.toSeq, s"$jt join mismatch")
    }
  }

  test("bucketed tables join with no shuffle exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bkt").toString
    val fact = (0L until 1000L).map(i => (i % 50, i)).toDF("k", "v")
    val dim = (0L until 50L).map(i => (i, s"d_$i")).toDF("k", "d")
    Scale.writeBucketed(fact, "bkt_fact", s"$dir/fact", "k", 8)
    Scale.writeBucketed(dim, "bkt_dim", s"$dir/dim", "k", 8)

    val joined = Scale.readBucketedTable(spark, "bkt_fact")
      .join(Scale.readBucketedTable(spark, "bkt_dim")
        .withColumnRenamed("k", "k2"), col("k") === col("k2"))
      // avoid broadcast so the bucketing (not BHJ) is what removes shuffles
      .hint("merge")
    assert(joined.count() == 1000)

    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"expected no shuffle exchange, got:\n${plan.treeString}")
  }

  test("z-ordered layout: a 2-D box predicate touches few files") {
    // both dimensions need full 8-bit domains for the quadrant math
    // (l_suppkey only spans [0,99] at this SF — too narrow for y)
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(pmod(col("l_partkey"), lit(256)).as("x"),
        pmod(col("l_orderkey"), lit(256)).as("y"))
    val out = Files.createTempDirectory("graft_zorder").toString
    Scale.writeZordered(li, "x", "y", bits = 8, numFiles = 8, out)
    // per-file bounding boxes, exactly what parquet footer min/max gives
    val boxes = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect()
    assert(boxes.length == 8, s"expected 8 files, got ${boxes.length}")
    // box predicate x<64 AND y<64 = the lowest z quadrant: z-clustering
    // must confine it to a fraction of files (an unsorted layout would
    // intersect every file; a single-column sort every y)
    val touched = boxes.count(b =>
      b.getAs[Long]("x0") < 64 && b.getAs[Long]("y0") < 64)
    // the quadrant covers 1/4 of the z range → 2 of 8 files, plus at
    // most one boundary straddle: range partitioning SAMPLES its split
    // points (seeded per RDD id, so file boundaries shift slightly with
    // suite execution order) — ≤3 still proves file-level clustering
    // (an unsorted layout intersects all 8, a y-only sort every file
    // with x<64 rows)
    assert(touched <= 3,
      s"2-D box intersects $touched of 8 files; layout not z-clustered")
  }

  test("prefixSum equals the single-partition window on adversarial shapes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    // non-contiguous, unsorted ids; zero-valued rows; duplicates of value
    val rows = rnd.shuffle(Seq.tabulate(257) { i =>
      (i.toLong * 7 + (i % 3), if (i % 11 == 0) 0L else rnd.nextLong(50))
    }.toList)
    val df = rows.toDF("id", "v")
    val expect = df.withColumn("prefix_sum",
        coalesce(sum("v").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // p > rows (mostly-empty partitions), p = 1 (degenerate), odd p
    for (p <- Seq(1, 7, 64, 400)) {
      val got = graft.ops.Scale.prefixSum(df, "id", "v", partitions = p)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == expect, s"partitions=$p")
    }
  }

  test("prefixSum auto-sizing: small stats-known frames take the 1-partition fast path") {
    import spark.implicits._
    // parquet-backed frame so Catalyst has a real bytes estimate
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_auto").toString
    Seq.tabulate(100)(i => (i.toLong, (i % 5).toLong)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(graft.ops.Scale.sizedRangePartitions(df, explicit = 0) === 1,
      "a KB-sized frame must not pay the session shuffle width")
    // explicit request is always honored verbatim
    assert(graft.ops.Scale.sizedRangePartitions(df, explicit = 7) === 7)
    // unknown stats (RDD-backed) fall back to the session width — never
    // undersize a frame that might be huge
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(graft.ops.Scale.sizedRangePartitions(rddBacked, explicit = 0) === conf)
    // and the auto-sized result still matches the window reference
    import org.apache.spark.sql.expressions.Window
    val expect = df.withColumn("prefix_sum",
        coalesce(sum("v").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val got = graft.ops.Scale.prefixSum(df, "id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == expect)
  }

  test("auto-sizing floors by measured leaf bytes when a multiplier is present") {
    import spark.implicits._
    // Size-only stats can UNDERSTATE through row-multiplying operators
    // (explode/join), so the estimate is floored by summed leaf bytes x4
    // whenever one is in the plan (ADVICE r8: no single-task sort cliff).
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_floor").toString
    Seq.tabulate(500)(i => (i.toLong, Seq.fill(8)(i.toLong))).toDF("id", "vs")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val leafBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(leafBytes > 0)
    val exploded = df.select(col("id"), explode(col("vs")).as("v"))
      // narrow projection whose width-ratio estimate could undercount
      .select((col("id") + col("v")).as("k"))
    // a target just under 4x the leaf bytes: a width-preserving plan
    // would round to 1, the multiplier floor must force > 1
    val tgt = leafBytes * 2
    assert(graft.ops.Scale.sizedRangePartitions(df.select("id"), 0, tgt) === 1,
      "no multiplier in the plan: the plain estimate stands")
    assert(graft.ops.Scale.sizedRangePartitions(exploded, 0, tgt) >= 2,
      "explode in the plan: leaf-byte floor must veto the single range")
    // a roomy target keeps the fast path even with the floor applied
    assert(graft.ops.Scale.sizedRangePartitions(exploded, 0, leafBytes * 100) === 1)

    // an UNmaterialized cache hides its inner operators behind
    // child-derived stats -> session width until measured; after
    // materialization the cache leaf carries real batch bytes and the
    // small frame takes the fast path again. NOTE: a fresh plan — a
    // Dataset whose queryExecution was already forced BEFORE persist()
    // keeps its memoized cache-free plan (Dataset.persist returns the
    // same object), which is also why the device sees the cache only
    // when callers persist before handing the frame over.
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val cached = df.select(col("id"), explode(col("vs")).as("v"))
      .select((col("id") * 2 + col("v")).as("k"))
      .persist()
    try {
      assert(graft.ops.Scale.sizedRangePartitions(cached, 0, leafBytes * 100) === conf,
        "unmeasured cache stats must never take the fast path")
      cached.count()
      assert(graft.ops.Scale.sizedRangePartitions(cached, 0, leafBytes * 100) === 1,
        "materialized cache carries measured bytes")
    } finally { cached.unpersist(): Unit }
  }

  test("sink part counts: unknown stats fall back to cores, never to the cap") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_parts").toString
    spark.range(100).write.mode("overwrite").parquet(s"$dir/t")
    val known = spark.read.parquet(s"$dir/t")
    // a KB-sized frame: one gzip member per core, the csv sink's floor of 4
    assert(Scale.unsplittableParts(known) == cores)
    assert(Scale.sinkParts(known) == 4)
    // RDD-backed: the optimizer reports the Long.MaxValue-ish sentinel
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    assert(rddBacked.queryExecution.optimizedPlan.stats.sizeInBytes > (BigInt(1) << 50))
    assert(Scale.unsplittableParts(rddBacked) == cores)
    assert(Scale.sinkParts(rddBacked) == math.max(4, cores))
    // input sizing through the Hadoop FileSystem: the parquet parts' bytes
    // (Hadoop's checksum files are not counted), 0 for a missing path
    val onDisk = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(onDisk > 0 && Scale.pathBytes(spark, s"$dir/t") == onDisk)
    assert(Scale.pathBytes(spark, s"$dir/missing") == 0L)
  }

  test("fanOutScan parity: the fanned-out and the as-is scan give identical rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    spark.range(0, 3000).select(col("id"), (col("id") % 13).as("k"),
        concat(lit("t"), col("id")).as("s"))
      .coalesce(1).write.parquet(s"$dir/t")
    // one file, one row group: a one-task scan
    val scan = spark.read.parquet(s"$dir/t")
    val target = spark.sparkContext.defaultParallelism
    assert(scan.rdd.getNumPartitions == 1 && target > 1)
    val fanned = Scale.fanOutScan(scan)
    assert(fanned.rdd.getNumPartitions == target, "the fan-out side was not taken")
    // the as-is side: a scan already at the target width passes through
    val wide = scan.repartition(target)
    assert(Scale.fanOutScan(wide) eq wide)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(fanned) == rows(scan))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("t"), max("s").as("m"))
    assert(rows(agg(fanned)) == rows(agg(scan)))
  }

  test("sink part counts parity: known stats and the unknown sentinel write identical rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_parity").toString
    spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.parquet(s"$dir/in")
    val known = spark.read.parquet(s"$dir/in")
    // the same rows behind an RDD leaf: the optimizer reports the sentinel
    val unknown = spark.createDataFrame(known.rdd, known.schema)
    assert(unknown.queryExecution.optimizedPlan.stats.sizeInBytes > (BigInt(1) << 50))
    def written(df: org.apache.spark.sql.DataFrame, parts: Int, at: String) = {
      df.repartition(parts).write.option("compression", "gzip").csv(s"$dir/$at")
      val files = new java.io.File(s"$dir/$at").listFiles().count(_.getName.endsWith(".csv.gz"))
      assert(files == parts, s"$at: $files parts, want $parts")
      spark.read.schema(known.schema).csv(s"$dir/$at").collect().map(_.toString).sorted.toSeq
    }
    val sides = Seq[(String, org.apache.spark.sql.DataFrame => Int)](
      "sinkParts" -> (df => Scale.sinkParts(df, floor = 1)),
      "unsplittableParts" -> (df => Scale.unsplittableParts(df)))
    for ((name, parts) <- sides) {
      val (pk, pu) = (parts(known), parts(unknown))
      assert(written(known, pk, s"$name-known") == written(unknown, pu, s"$name-unknown"))
    }
    // the sink sizing really differs between the two sides
    assert(Scale.sinkParts(known, floor = 1) == 1 &&
      Scale.sinkParts(unknown, floor = 1) == spark.sparkContext.defaultParallelism)
  }

  test("mergeUpsert: updates win, inserts land, NULL data columns stay honest") {
    import spark.implicits._
    val base = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
      .toDF("k", "v")
    // update 2 -> NULL (a real update TO null, not a missing row);
    // update 3 -> "c"; insert 4
    val upd = Seq((2L, None: Option[String]), (3L, Some("c")), (4L, Some("d")))
      .toDF("k", "v")
    val m = graft.ops.Scale.mergeUpsert(base, upd, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getString(2)))).toMap
    assert(m(1L) == ((Some("a"), "kept")))
    assert(m(2L) == ((None, "updated")), "an update TO NULL must not fall back to base")
    assert(m(3L) == ((Some("c"), "updated")), "a NULL base value must still classify as updated")
    assert(m(4L) == ((Some("d"), "inserted")))
  }

  test("applyCdcLog: last writer wins, trailing delete drops the key, resurrect works") {
    import spark.implicits._
    // key 1: U,U            -> survives with the later value
    // key 2: U,D            -> absent (trailing delete)
    // key 3: U,D,U          -> resurrected by the post-delete upsert
    // key 4: D              -> absent (delete of a never-seen key is a no-op)
    val log = Seq(
      (1L, 1L, "U", "a"), (1L, 2L, "U", "b"),
      (2L, 3L, "U", "x"), (2L, 4L, "D", "x"),
      (3L, 5L, "U", "p"), (3L, 6L, "D", "p"), (3L, 7L, "U", "q"),
      (4L, 8L, "D", "z")
    ).toDF("k", "seq", "op", "v")
    val snap = Scale.applyCdcLog(log, Seq("k"), "op", "D", Seq("seq"))
      .collect().map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), r.getAs[Long]("n_ops")))).toMap
    assert(snap.keySet == Set(1L, 3L))
    assert(snap(1L) == (("b", 2L)), "later seq must win")
    assert(snap(3L) == (("q", 3L)), "an upsert after a delete must resurrect; n_ops counts the delete too")
  }

  test("snapshotDiff: delta-only output, null-safe change detection") {
    import spark.implicits._
    val oldS = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]),
      (5L, Some("e"))).toDF("k", "v")
    val newS = Seq((1L, Some("a")), (2L, None: Option[String]), (3L, None: Option[String]),
      (4L, Some("d"))).toDF("k", "v")
    val m = graft.ops.Scale.snapshotDiff(oldS, newS, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getString(2)))).toMap
    assert(!m.contains(1L), "identical rows must not appear in the delta")
    assert(m(2L) == ((None, "changed")), "value→NULL is a change, carrying the NEW value")
    assert(!m.contains(3L), "NULL <=> NULL is not a change")
    assert(m(4L) == ((Some("d"), "added")))
    assert(m(5L) == ((Some("e"), "removed")), "removed rows carry the OLD value")
  }

  test("scdType2: no-change collapse, NULL-attr first event, open current row") {
    import spark.implicits._
    // key 1: a@1, a@2 (re-delivery, collapses), b@3 → two versions
    // key 2: single all-NULL-attr first event → must survive as current
    val ev = Seq(
      (1L, Some("a"), 1L, 10L), (1L, Some("a"), 2L, 11L), (1L, Some("b"), 3L, 12L),
      (2L, None: Option[String], 1L, 13L)
    ).toDF("k", "attr", "ts", "seq")
    val out = graft.ops.Scale.scdType2(ev, Seq("k"), Seq("attr"), "ts", "seq")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1L, Some("a"), 1L, Some(3L), false),  // span covers the re-delivery
      (1L, Some("b"), 3L, None, true),
      (2L, None, 1L, None, true)))
  }

  test("packSequences spans: contiguous, gap-free sequence coverage") {
    import spark.implicits._
    val docs = Seq.tabulate(100)(i => (i.toLong, s"d$i"))
      .toDF("doc_id", "text")
    val toks = (col("doc_id") % 7 + 1) // 1..7 tokens per doc
    val out = graft.ops.Scale.packSequences(docs, "doc_id", toks, seqLen = 10L)
      .orderBy("doc_id").collect()
    var expectedOffset = 0L
    for (r <- out) {
      assert(r.getAs[Long]("tok_offset") == expectedOffset)
      val first = r.getAs[Long]("seq_id_first")
      val last = r.getAs[Long]("seq_id_last")
      assert(first == r.getAs[Long]("tok_offset") / 10)
      assert(last == (r.getAs[Long]("tok_offset") + r.getAs[Long]("n_tok") - 1) / 10)
      expectedOffset += r.getAs[Long]("n_tok")
    }
  }
  test("globalRank equals a window row_number over the same composite order") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // duplicate score values force the tiebreak column to matter; ids
    // are unique so the composite order is total
    val df = (1 to 500).map(i => (i.toLong, rnd.nextInt(20).toLong))
      .toDF("id", "score").repartition(7)
    val got = graft.ops.Scale.globalRank(
        df, Seq(col("score").desc, col("id")), "rk")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val want = df.withColumn("rk",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      .collect().map(r => (r.getLong(0), r.getInt(2).toLong)).toMap
    assert(got === want)
    // ranks are a permutation of 1..n
    assert(got.values.toSeq.sorted === (1L to 500L))
  }

  test("globalRank on empty input returns empty with the rank column") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id", "score")
    val out = graft.ops.Scale.globalRank(empty, Seq(col("score"), col("id")))
    assert(out.columns.contains("rk"))
    assert(out.count() === 0L)
  }

}
