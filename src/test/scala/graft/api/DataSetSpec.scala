package graft.api

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator + dual-mode semantics tests, mirroring the reference's
  * `python/tests/test_exceptions.py` (merge order :37-268), `test_resolve.py`
  * and `test/core/DataFrameOperations.cc` coverage. */
class DataSetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val ctx = new Context(spark)
  def imp = { val s = spark; s.implicits }

  test("parallelize + collect preserves order") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(3, 1, 2), Seq("x"))
    assert(ds.collect().map(_.getInt(0)).toSeq == Seq(3, 1, 2))
  }

  test("map (full-row) with schema change") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq((1, "a"), (2, "b")), Seq("n", "s"))
      .mapRows(StructType(Seq(StructField("twice", IntegerType), StructField("up", StringType)))) { r =>
        Row(r.getInt(0) * 2, r.getString(1).toUpperCase)
      }
    assert(ds.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((2, "A"), (4, "B")))
  }

  test("failing rows divert, resolve merges back in original order") {
    import spark.implicits._
    // mirror of test_exceptions.py: x -> 10/x over [2,0,5,0,1]
    val ds = ctx.parallelize(Seq(2, 0, 5, 0, 1), Seq("x"))
      .withColumnUdf[Int, Int]("y", col("x"))(x => 10 / x)
    // unresolved: errors dropped from output, order of the rest preserved
    assert(ds.collect().map(_.getInt(1)).toSeq == Seq(5, 2, 10))
    assert(ds.exceptionCounts == Map("java.lang.ArithmeticException" -> 2L))
    // resolved: merged back in original row order
    val res = ds.resolve[Int, Int](classOf[ArithmeticException])(_ => -1)
    assert(res.collect().map(_.getInt(1)).toSeq == Seq(5, -1, 2, -1, 10))
    assert(res.exceptionCounts.isEmpty)
  }

  test("exceptionCounts over a 3-failable-op pipeline is ONE Spark job") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(-2, 0, 3, 7, 10), Seq("x"))
      .withColumnUdf[Int, Int]("a", col("x"))(x => 10 / x)                  // fails x=0
      // a chained resolve whose steps both fire and leave x=0 failed as before
      .resolve[Int, Int](classOf[ArithmeticException])(_ => throw new IllegalStateException("r1"))
      .resolve[Int, Int](classOf[IllegalStateException])(_ => throw new ArithmeticException("r2"))
      .withColumnUdf[Int, Int]("b", col("x")) { x =>
        if (x < 0) throw new IllegalStateException("neg") else x + 1 }      // fails x=-2
      .withColumnUdf[Int, Int]("c", col("x")) { x =>
        if (x == 7) throw new IllegalArgumentException("seven") else x }    // fails x=7
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE (on by default) materializes the groupBy's shuffle stage as its
    // own job, which would read as 2 here regardless of batching — turn
    // it off so the assertion counts exactly what it claims: one action
    // for N bad batches instead of the old N actions.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val counts = ds.exceptionCounts
      // listener events are async; a short bounded wait lets the job-start
      // event land before the assertion (private listenerBus is sealed off)
      val deadline = System.nanoTime() + 5_000_000_000L
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200) // allow any EXTRA job-start events to land too
      assert(counts == Map(
        "java.lang.ArithmeticException" -> 1L,
        "java.lang.IllegalStateException" -> 1L,
        "java.lang.IllegalArgumentException" -> 1L))
      assert(jobs.get() == 1, s"expected ONE job for 3 bad batches, saw ${jobs.get()}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("ignore drops matching error rows") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(1, 0, 4), Seq("x"))
      .mapColumnUdf[Int, Int]("x")(x => 100 / x)
      .ignore(classOf[ArithmeticException])
    assert(ds.collect().map(_.getInt(0)).toSeq == Seq(100, 25))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("resolver that itself throws chains to next resolver") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(4, 0, -1), Seq("x"))
      .withColumnUdf[Int, Int]("y", col("x")) { x =>
        if (x < 0) throw new IllegalArgumentException("neg") else 10 / x
      }
      .resolve[Int, Int](classOf[ArithmeticException]) { x =>
        if (x == 0) throw new IllegalArgumentException("still bad") else 1
      }
    assert(ds.exceptionCounts == Map("java.lang.IllegalArgumentException" -> 2L))
    val fin = ds.resolve[Int, Int](classOf[IllegalArgumentException])(_ => -99)
    assert(fin.collect().map(_.getInt(1)).toSeq == Seq(2, -99, -99))
  }

  test("filterUdf with exception capture") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq("5", "x", "12"), Seq("s"))
      .filterUdf[String](col("s"))(s => s.toInt > 6)
    assert(ds.collect().map(_.getString(0)).toSeq == Seq("12"))
    assert(ds.exceptionCounts.keys.toSeq == Seq("java.lang.NumberFormatException"))
    val res = ds.resolve[String, Boolean](classOf[NumberFormatException])(_ => true)
    assert(res.collect().map(_.getString(0)).toSeq == Seq("x", "12"))
  }

  test("selectColumns by name and negative index, rename") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq((1, "a", 2.0)), Seq("x", "y", "z"))
    assert(ds.selectColumnsAt(Seq(-1, 0)).columns == Seq("z", "x"))
    assert(ds.renameColumnAt(-1, "w").columns == Seq("x", "y", "w"))
    assert(ds.selectColumns(Seq("y")).collect().head.getString(0) == "a")
  }

  test("join disambiguates overlapping columns with suffixes") {
    import spark.implicits._
    val l = ctx.parallelize(Seq((1, "x"), (2, "y")), Seq("k", "v"))
    val r = ctx.parallelize(Seq((1, "X"), (3, "Z")), Seq("k2", "v"))
    val j = l.join(r, "k", "k2")
    assert(j.columns == Seq("k", "v", "v_r"))
    assert(j.toDF.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "x", "X")))
    val lj = l.leftJoin(r, "k", "k2")
    assert(lj.count() == 2)
  }

  test("inner join matches null keys (reference null-bucket semantics)") {
    // mirror of test/core/JoinTest.cc InnerJoinNullBucket: None joins None
    import spark.implicits._
    val a = ctx.parallelize(
      Seq((Option("abc"), 42), (None: Option[String], 84), (Option("xyz"), 100)),
      Seq("a", "b"))
    val bSide = ctx.parallelize(
      Seq((None: Option[String], -1), (None: Option[String], -2)), Seq("x", "y"))
    val got = a.join(bSide, "a", "x").toDF
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((84, -1), (84, -2)))
  }

  test("aggregate global fold (treeAggregate semantics)") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(1, 2, 3, 4), Seq("x"))
    val agg = ds.aggregate[Long](0L)((b, r) => b + r.getInt(0), _ + _)
    assert(agg.collect().head.getLong(0) == 10L)
  }

  test("aggregateByKey fold with product buffer") {
    import spark.implicits._
    val ds = ctx.parallelize(
      Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)), Seq("k", "v"))
    val agg = ds.aggregateByKey[(Long, Double)](Seq("k"), (0L, 0.0))(
      (b, r) => (b._1 + 1, b._2 + r.getDouble(1)),
      (x, y) => (x._1 + y._1, x._2 + y._2))
    val got = agg.toDF.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 2L, 4.0), ("b", 1L, 2.0)))
  }

  test("fold aggregates on empty input: global returns zero, grouped is empty") {
    import spark.implicits._
    val empty = ctx.parallelize(Seq(1), Seq("x")).filter(col("x") > 99)
    val agg = empty.aggregate[Long](7L)((b, _) => b + 1, _ + _)
    assert(agg.collect().head.getLong(0) == 7L)
    val byKey = empty.aggregateByKey[Long](Seq("x"), 0L)((b, _) => b + 1, _ + _)
    assert(byKey.count() == 0)
  }

  test("unique / union / intersect / except / orderBy / limit") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(3, 1, 3, 2), Seq("x"))
    assert(ds.unique().count() == 3)
    assert(ds.union(ds).count() == 8)
    val other = ctx.parallelize(Seq(3, 9), Seq("x"))
    assert(ds.intersect(other).collect().map(_.getInt(0)).toSet == Set(3))
    assert(ds.except(other).collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(ds.orderBy(col("x").desc).toDF.head().getInt(0) == 3)
    assert(ds.limit(2).collect().map(_.getInt(0)).toSeq == Seq(3, 1))
  }

  test("csv round-trip with sniffed dialect + tocsv sink") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    ctx.parallelize(Seq((1, "a"), (2, "b")), Seq("num", "name"))
      .tocsv(s"$dir/out", numParts = 1)
    val back = ctx.csv(s"$dir/out/*.csv")
    assert(back.columns == Seq("num", "name"))
    assert(back.count() == 2)
    assert(back.schema.fields.head.dataType == IntegerType)
  }

  test("csv sniffing survives a header-only first part file (empty partition)") {
    // At scale an empty shuffle partition writes a header-only csv part;
    // when the glob lists it FIRST, the sniffer must keep probing later
    // files for its sample (found live at the sf1 scale point: header
    // detection bailed on a 1-line first file and every column came back
    // _c0/_c1/_c2). part files are globbed in name order, so aa < bb.
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_empty").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-aa.csv"), "num,name\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-bb.csv"), "num,name\n1,a\n2,b\n")
    val back = ctx.csv(s"$dir/*.csv")
    assert(back.columns == Seq("num", "name"))
    assert(back.count() == 2)
    assert(back.schema.fields.head.dataType == IntegerType)
  }

  test("csv rows unparseable against the sampled schema enter the error channel") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    // sample (first 2 data rows) infers int,int; row 4 has a non-int cell
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "a,b\n1,2\n3,4\n5,oops\n7,8\n")
    // detection rows count DATA lines (the header is never in the sample)
    val ctx2 = new Context(spark, Map("csv.maxDetectionRows" -> "2"))
    val ds = ctx2.csv(s"$dir/in.csv")
    assert(ds.schema.fields.map(_.dataType).toSeq == Seq(IntegerType, IntegerType))
    // the corrupt row is diverted, not silently nulled; count agrees
    assert(ds.collect().length == 3)
    assert(ds.count() == 3)
    assert(ds.exceptionCounts == Map(DataSet.ParseErrorClass -> 1L))
    assert(ds.ignore(classOf[CsvParseError]).exceptionCounts.isEmpty)
    // a type hint that makes the cell valid rescues the row entirely
    val hintedDs = ctx2.csv(s"$dir/in.csv", typeHints = Map("b" -> StringType))
    assert(hintedDs.collect().length == 4)
    assert(hintedDs.exceptionCounts.isEmpty)
    // blank lines are skipped by both scans — no phantom errors
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/blank.csv"),
      "a,b\n1,2\n\n3,4\n")
    val blank = ctx2.csv(s"$dir/blank.csv")
    assert(blank.collect().length == 2 && blank.exceptionCounts.isEmpty)
  }

  test("resolve() repairs csv parse errors from the all-string reparse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvres").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "a,b\n1,2\n3,4\n5,oops\n7,8\n9,nope\n")
    val ctx2 = new Context(spark, Map("csv.maxDetectionRows" -> "2"))
    // resolver repairs "oops" but rethrows on "nope" → chains to ignore
    val ds = ctx2.csv(s"$dir/in.csv")
      .resolve[Row, Row](classOf[CsvParseError]) { cells =>
        if (cells.getString(1) == "nope") throw new IllegalArgumentException("bad")
        Row(cells.getString(0).toInt, -1)
      }
    assert(ds.exceptionCounts == Map("java.lang.IllegalArgumentException" -> 1L))
    // ORDERED merge: the repaired (5,-1) sits at its original position
    // (both channels share one scan's row-id space)
    val got = ds.ignore(classOf[IllegalArgumentException])
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((1, 2), (3, 4), (5, -1), (7, 8)))
  }

  test("multi-file glob: every file's header line is stripped per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvglob").toString
    // second file's header text differs from the first's — per-file
    // offset-0 stripping must handle it (no header-text comparison)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f1.csv"),
      "a,b\n1,2\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f2.csv"),
      "A,B\n3,4\na,b\n5,6\n")
    // typed hints force int columns: f2's mid-file "a,b" DATA line (it
    // genuinely is data — byte-identical to a header) cannot parse
    val ds = new Context(spark).csv(s"$dir/*.csv",
      typeHintsAt = Map(0 -> IntegerType, 1 -> IntegerType))
    // it must surface in the channel, not be silently dropped as a header
    assert(ds.exceptionCounts == Map(DataSet.ParseErrorClass -> 1L))
    assert(ds.ignore(classOf[CsvParseError]).collect().length == 3)

    // clean multi-file glob: other files' divergent header lines no longer
    // pollute the inference sample (types stay int without hints, names
    // come from the first file's header)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_csvglob2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir2/g1.csv"),
      "a,b\n1,2\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir2/g2.csv"),
      "A,B\n3,4\n")
    val clean = new Context(spark).csv(s"$dir2/*.csv")
    assert(clean.columns == Seq("a", "b"))
    assert(clean.schema.fields.map(_.dataType).toSeq ==
      Seq(IntegerType, IntegerType))
    assert(clean.collect().length == 2 && clean.exceptionCounts.isEmpty)
  }

  test("non-existent csv/text inputs yield empty datasets, not crashes") {
    // reference parity: test_csv.py test_non_existent_file shows nothing
    assert(ctx.csv("/nonexistent/graft_test.ccc").count() == 0)
    assert(ctx.text("/nonexistent/graft_test.txt").count() == 0)
  }

  test("csv type hints by name and by (negative) index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_th").toString
    ctx.parallelize(Seq((1, "2", "3.5")), Seq("a", "b", "c")).tocsv(s"$dir/out")
    val ds = ctx.csv(s"$dir/out/*.csv",
      typeHints = Map("b" -> LongType),
      typeHintsAt = Map(-1 -> StringType))
    val f = ds.schema.fields
    assert(f(1).dataType == LongType && f(2).dataType == StringType)
  }

  test("parallelizeAny unifies mixed types; parallelizeMaps auto-unpacks") {
    // [1, None, 4] ⇒ nullable long (the reference's unifyTypes example)
    val ds = ctx.parallelizeAny(Seq(Seq(1, null), Seq(null, 2.5), Seq(4, 3)),
      Seq("a", "b"))
    val f = ds.schema.fields
    assert(f(0).dataType == LongType && f(0).nullable)
    assert(f(1).dataType == DoubleType && f(1).nullable) // int+double → double
    val rows = ds.collect()
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).getDouble(1) == 2.5)
    assert(rows(2).getLong(0) == 4L && rows(2).getDouble(1) == 3.0)
    intercept[IllegalArgumentException] {
      ctx.parallelizeAny(Seq(Seq(1), Seq("x")))
    }
    val m = ctx.parallelizeMaps(Seq(
      Map("x" -> 1, "y" -> "a"), Map("y" -> "b", "z" -> 2)))
    assert(m.columns == Seq("x", "y", "z"))
    val mr = m.collect()
    assert(mr(0).getLong(0) == 1L && mr(0).getString(1) == "a" && mr(0).isNullAt(2))
    assert(mr(1).isNullAt(0) && mr(1).getString(1) == "b" && mr(1).getLong(2) == 2L)
  }

  test("toorc part name generator renames parts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_opn").toString
    ctx.parallelize((1 to 10).map(i => (i, s"r$i")), Seq("num", "name"))
      .toorc(s"$dir/out", numParts = 2,
        partNameGenerator = Some(i => f"orcpart_$i%02d.orc"))
    val names = ctx.ls(s"$dir/out/orcpart_*.orc").map(_.split('/').last).sorted
    assert(names == Seq("orcpart_00.orc", "orcpart_01.orc"))
    assert(ctx.orc(s"$dir/out/orcpart_*.orc").count() == 10)
  }

  test("tocsv part name generator renames parts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pn").toString
    ctx.parallelize((1 to 10).map(i => (i, s"r$i")), Seq("num", "name"))
      .tocsv(s"$dir/out", numParts = 2,
        partNameGenerator = Some(i => f"chunk_$i%03d.csv"))
    val names = ctx.ls(s"$dir/out/chunk_*.csv").map(_.split('/').last).sorted
    assert(names == Seq("chunk_000.csv", "chunk_001.csv"))
    assert(ctx.csv(s"$dir/out/chunk_*.csv").count() == 10)
  }

  test("tocsv byte-based part sizing lands parts within 2x of target") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_psz").toString
    // 2000 fixed-width rows (~16 bytes rendered each), 8 KiB parts
    val target = 8192L
    ctx.parallelize((1 to 2000).map(i => (f"$i%06d", f"v$i%07d")), Seq("k", "v"))
      .tocsv(s"$dir/out", numParts = 1, header = false, partSizeBytes = target)
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length > 1, "byte cap did not split the single partition")
    parts.foreach(p => assert(p.length <= 2 * target,
      s"${p.getName} is ${p.length} B — over 2x the $target B target"))
    // all but the trailing remainder should be at least half the target
    val sizes = parts.map(_.length).sorted.reverse
    sizes.dropRight(1).foreach(s =>
      assert(s >= target / 2, s"non-final part only $s B for $target B target"))
    assert(ctx.csv(s"$dir/out/part-*.csv", header = Some(false)).count() == 2000)
  }

  test("toorc byte-based part sizing lands parts within the documented bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_osz").toString
    // Documented contract (DataSet.toorc): the textual row estimate is an
    // UPPER bound for a compressed columnar sink — every part lands AT OR
    // UNDER target (+ a fixed allowance for the ORC footer/postscript,
    // which the textual estimate cannot see). Incompressible-ish payloads
    // (md5 hex of the row id) keep the compression ratio near 1 so the
    // test is meaningful, not trivially satisfied by a 100:1 squeeze.
    val target = 64 * 1024L
    val footerAllowance = 4 * 1024L
    val rows = (1 to 4000).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map(b => f"$b%02x").mkString
      (i.toLong, h * 3) // ~96 chars of hex payload per row
    }
    ctx.parallelize(rows, Seq("id", "payload"))
      .toorc(s"$dir/out", numParts = 1, partSizeBytes = target)
    val parts = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc"))
    assert(parts.length > 1, "byte cap did not split the single partition")
    parts.foreach(p => assert(p.length <= target + footerAllowance,
      s"${p.getName} is ${p.length} B — over the documented $target B upper bound"))
    assert(ctx.orc(s"$dir/out").count() == 4000)
  }

  test("nested flatMapRows keeps lexicographic expansion order; resolve slots in place") {
    import spark.implicits._
    val out = StructType(Seq(StructField("y", IntegerType)))
    // row 10 → (10,20); each → (v, v+1); second level throws on v == 20
    val ds = ctx.parallelize(Seq(10), Seq("x"))
      .flatMapRows(out)(r => Seq(Row(r.getInt(0)), Row(r.getInt(0) * 2)))
      .flatMapRows(out) { r =>
        val v = r.getInt(0)
        if (v == 20) throw new IllegalStateException("boom")
        Seq(Row(v), Row(v + 1))
      }
    assert(ds.collect().map(_.getInt(0)).toSeq == Seq(10, 11))
    // the repaired expansion of the SECOND parent lands after the first's
    // flatMap resolvers re-expand: Row => IterableOnce[Row]
    val fixed = ds.resolve[Row, IterableOnce[Row]](classOf[IllegalStateException])(
      (r: Row) => Seq(Row(-r.getInt(0))))
    assert(fixed.collect().map(_.getInt(0)).toSeq == Seq(10, 11, -20))
  }

  test("flatMapRows expands rows and captures per-row errors") {
    import spark.implicits._
    val out = StructType(Seq(StructField("y", IntegerType)))
    val ds = ctx.parallelize(Seq(2, 0, 3), Seq("x"))
      .flatMapRows(out) { r =>
        val x = r.getInt(0)
        if (x == 0) throw new IllegalArgumentException("zero")
        (1 to x).map(Row(_))
      }
    assert(ds.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 1, 2, 3))
    assert(ds.exceptionCounts == Map("java.lang.IllegalArgumentException" -> 1L))
    val resolved = ctx.parallelize(Seq(2, 0), Seq("x"))
      .flatMapRows(out) { r =>
        val x = r.getInt(0)
        if (x == 0) throw new IllegalArgumentException("zero")
        (1 to x).map(Row(_))
      }
      .resolve(classOf[IllegalArgumentException]) { (_: Row) => Seq(Row(-1)) }
    assert(resolved.collect().map(_.getInt(0)).toSeq == Seq(1, 2, -1))
  }

  test("explodeColumn rejects nesting too deep for ordered merge") {
    import spark.implicits._
    // 4 chained explodes; the first level's position 4 composes a sub-id of
    // 4<<40 = 2^42 by the fourth explode, which must fail loudly (the shift
    // would silently drop the high bits and corrupt collect()'s merge order)
    val nested: Seq[Seq[Seq[Seq[Int]]]] = Seq.fill(5)(Seq(Seq(Seq(1))))
    val ds = ctx.parallelize(Seq(nested), Seq("a"))
      .explodeColumn("a", "b").selectColumns(Seq("b"))
      .explodeColumn("b", "c").selectColumns(Seq("c"))
      .explodeColumn("c", "d").selectColumns(Seq("d"))
      .explodeColumn("d", "e").selectColumns(Seq("e"))
    val e = intercept[Exception](ds.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("nesting too deep")))
  }

  test("orc round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    ctx.parallelize(Seq((1.5, "a")), Seq("d", "s")).toorc(s"$dir/out")
    assert(ctx.orc(s"$dir/out").count() == 1)
  }

  test("ls/cp/rm file utilities") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"), "hi")
    assert(ctx.ls(s"$dir/*.txt").size == 1)
    ctx.cp(s"$dir/a.txt", s"$dir/b.txt")
    assert(ctx.ls(s"$dir/*.txt").size == 2)
    ctx.rm(s"$dir/*.txt")
    assert(ctx.ls(s"$dir/*.txt").isEmpty)
  }
}
