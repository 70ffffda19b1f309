package graft.api

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Context.csv` detection and its parse-error channel:
  *  - the schema detected from the one driver-side head sample equals the
  *    schema Spark's own `inferSchema` reader gives on the same sample
  *    lines (built here independently from the files the test writes),
  *    for every csv shape the suite reads;
  *  - the call submits no Spark job;
  *  - a csv read without a resolve parses each line once, even when its
  *    row id is pruned;
  *  - a resolved csv reads its input once, with no `Union`, and a repeated
  *    q_csv_resolve call compiles no new codegen class. */
class CsvDetectionSpec extends AnyFunSuite {
  import CsvDetectionSpec.nodes

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private var group = 0

  /** Runs `build` under a fresh job group; returns its value and the
    * number of jobs the call submitted. */
  private def jobsOf[T](build: => T): (T, Int) = {
    group += 1
    val g = s"csv-detect-$group"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    val out = try build finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(g).length)
  }

  /** A fresh directory holding `files` (name → text); names ending in
    * `.gz` are written gzip-compressed. */
  private def stage(files: Seq[(String, String)]): Path = {
    val dir = Files.createTempDirectory("graft_csv_detect")
    for ((name, text) <- files) {
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      val f = dir.resolve(name)
      if (name.endsWith(".gz")) {
        val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
        try out.write(bytes) finally out.close()
      } else Files.write(f, bytes)
    }
    dir
  }

  private def lines(text: String): Seq[String] =
    if (text.isEmpty) Nil else text.stripSuffix("\n").split("\n", -1).toSeq

  /** The detection sample the test expects: files in name order, each
    * file's first line dropped when there is a header, blank lines dropped,
    * at most `n`. */
  private def expectedSample(files: Seq[(String, String)], header: Boolean, n: Int) =
    files.sortBy(_._1).flatMap { case (_, t) =>
      if (header) lines(t).drop(1) else lines(t)
    }.filter(_.nonEmpty).take(n)

  /** Spark's schema for those sample lines (header line prepended when
    * there is one, so Spark names the columns too). */
  private def sparkSchema(headerLine: Option[String], sample: Seq[String],
      sep: String): StructType = {
    import spark.implicits._
    spark.read.option("inferSchema", "true")
      .option("header", headerLine.isDefined.toString)
      .option("sep", sep).option("quote", "\"").option("nullValue", "")
      .csv((headerLine.toSeq ++ sample).toDS()).schema
  }

  /** Detection parity plus the zero-job contract for one csv shape. */
  private def parity(label: String, files: Seq[(String, String)], glob: String,
      header: Boolean, sep: String, options: Map[String, String] = Map.empty,
      typeHints: Map[String, DataType] = Map.empty,
      typeHintsAt: Map[Int, DataType] = Map.empty): StructType = {
    val dir = stage(files)
    val ctx = new Context(spark, options)
    val (ds, jobs) = jobsOf(ctx.csv(s"$dir/$glob", typeHints = typeHints,
      typeHintsAt = typeHintsAt))
    assert(jobs == 0, s"$label: ctx.csv submitted $jobs jobs")
    val n = options.getOrElse("csv.maxDetectionRows", "10000").toInt
    val headerLine =
      if (header) files.sortBy(_._1).flatMap(f => lines(f._2)).headOption else None
    val want = sparkSchema(headerLine, expectedSample(files, header, n), sep)
    val hinted = StructType(want.fields.zipWithIndex.map { case (f, i) =>
      val at = typeHintsAt.collectFirst {
        case (j, t) if j == i || j == i - want.length => t
      }
      f.copy(dataType = at.orElse(typeHints.get(f.name)).getOrElse(f.dataType))
    })
    assert(ds.schema == hinted, s"$label: detected ${ds.schema} vs Spark's $hinted")
    ds.schema
  }

  test("header and no header, every delimiter: schema equals Spark's inference") {
    val withHeader = parity("header ,", Seq("in.csv" ->
      ("id,score,name,flag,at\n1,2.5,x,true,2024-01-01 10:00:00\n" +
        "2,3.5,y,false,2024-01-02 11:30:00\n3,,z,true,2024-01-03 00:00:00\n")),
      "in.csv", header = true, sep = ",")
    assert(withHeader.fieldNames.toSeq == Seq("id", "score", "name", "flag", "at"))
    val noHeader = parity("no header ;", Seq("in.csv" ->
      "1;2.5;x\n2;3.5;y\n10000000000;4;z\n"), "in.csv", header = false, sep = ";")
    assert(noHeader.fieldNames.toSeq == Seq("_c0", "_c1", "_c2"))
    assert(noHeader.fields.head.dataType == LongType)
    parity("header tab", Seq("in.tsv" -> "a\tb\n1\t2\n3\t4\n"), "in.tsv",
      header = true, sep = "\t")
    parity("header pipe", Seq("in.txt" -> "a|b|c\n1|x|2.5\n2|y|3\n"), "in.txt",
      header = true, sep = "|")
  }

  test("quoted header fields keep the delimiter inside quotes") {
    val s = parity("quoted header", Seq("in.csv" ->
      "\"id\",\"full, name\",score\n1,\"Doe, J\",2.5\n2,\"Roe, K\",3\n"),
      "in.csv", header = true, sep = ",")
    assert(s.fieldNames.toSeq == Seq("id", "full, name", "score"))
  }

  test("gzip input is sampled decompressed") {
    parity("gzip", Seq("a.csv.gz" -> "a,b\n1,x\n2,y\n", "b.csv.gz" -> "a,b\n3,z\n"),
      "*.csv.gz", header = true, sep = ",")
  }

  test("multi-file glob whose first part is header-only or empty") {
    val headerOnly = parity("header-only first part",
      Seq("part-aa.csv" -> "num,name\n", "part-bb.csv" -> "num,name\n1,a\n2,b\n"),
      "*.csv", header = true, sep = ",")
    assert(headerOnly.fieldNames.toSeq == Seq("num", "name"))
    assert(headerOnly.fields.head.dataType == IntegerType)
    parity("empty first part",
      Seq("part-aa.csv" -> "", "part-bb.csv" -> "num,name\n1,a\n2,b\n",
        "part-cc.csv" -> "num,name\n3,c\n"),
      "*.csv", header = true, sep = ",")
    // a directory pattern samples its visible files in name order
    parity("directory input",
      Seq("_SUCCESS" -> "", "part-aa.csv" -> "num,name\n", "part-bb.csv" -> "num,name\n1,a\n2,b\n"),
      "", header = true, sep = ",")
  }

  test("csv.maxDetectionRows bounds the sample") {
    val s = parity("maxDetectionRows=2", Seq("in.csv" -> "a,b\n1,2\n3,4\n5,oops\n7,8\n"),
      "in.csv", header = true, sep = ",", options = Map("csv.maxDetectionRows" -> "2"))
    // the third data line is past the sample, so b stays int
    assert(s.fields.map(_.dataType).toSeq == Seq(IntegerType, IntegerType))
  }

  test("type hints by name and by negative index; full hints skip typing") {
    val s = parity("hints", Seq("in.csv" -> "a,b,c\n1,2,3.5\n4,5,6\n"), "in.csv",
      header = true, sep = ",", typeHints = Map("b" -> LongType),
      typeHintsAt = Map(-1 -> StringType))
    assert(s.fields.map(_.dataType).toSeq == Seq(IntegerType, LongType, StringType))
    // every field pinned: the hints are the schema, in field order
    val all = parity("all hinted", Seq("in.csv" -> "a,b\nx,2\n"), "in.csv",
      header = true, sep = ",", typeHints = Map("a" -> DoubleType),
      typeHintsAt = Map(1 -> StringType))
    assert(all.fields.map(_.dataType).toSeq == Seq(DoubleType, StringType))
  }

  // ------------------------------------------- parse-error resolve: one scan

  private def dirtyCsv(shape: Seq[String]): String = {
    val dir = stage(Seq("in.csv" -> shape.mkString("", "\n", "\n")))
    s"$dir/in.csv"
  }

  private def typed(ctx: Context, path: String) =
    ctx.csv(path, columns = Seq("k", "amt"), header = Some(false),
      delimiter = Some(","), typeHintsAt = Map(0 -> LongType, 1 -> LongType))

  test("a resolved csv reads its input once, with no Union") {
    val path = dirtyCsv(Seq("0,0", "1,USD10", "2,20", "3,USD30"))
    val df = typed(new Context(spark), path)
      .resolve[Row, Row](classOf[CsvParseError]) { cells =>
        Row(cells.getString(0).toLong, cells.getString(1).stripPrefix("USD").toLong)
      }.toDF
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L)))
    val plan = nodes(df.queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[ExternalRDDScanExec[_]]) == 1,
      s"input scanned more than once:\n${df.queryExecution.executedPlan}")
    assert(!plan.exists(_.isInstanceOf[UnionExec]),
      s"resolve planned a Union:\n${df.queryExecution.executedPlan}")
  }

  test("a csv read through toDF with its row id pruned parses each line once") {
    import org.apache.spark.sql.catalyst.expressions.CsvToStructs
    val path = dirtyCsv(Seq("0,0", "1,USD10", "2,20"))
    val df = typed(new Context(spark), path).toDF
    val plan = df.queryExecution.optimizedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case c: CsvToStructs => c }))
    assert(parses.length == 1, s"from_csv planned ${parses.length} times:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (2L, 20L)))
  }

  test("rows the fused resolver throws on carry its class; a chained resolver repairs them in order") {
    val path = dirtyCsv(Seq("0,0", "1,USD10", "2,20", "3,EUR30", "4,USD40", "5,EUR50", "6,60"))
    val first = typed(new Context(spark), path)
      .resolve[Row, Row](classOf[CsvParseError]) { cells =>
        val amt = cells.getString(1)
        if (!amt.startsWith("USD")) throw new IllegalArgumentException(amt)
        Row(cells.getString(0).toLong, amt.stripPrefix("USD").toLong)
      }
    assert(first.exceptionCounts == Map(classOf[IllegalArgumentException].getName -> 2L))
    assert(first.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 4L, 6L))
    val second = first.resolve[Row, Row](classOf[IllegalArgumentException]) { cells =>
      Row(cells.getString(0).toLong, cells.getString(1).stripPrefix("EUR").toLong)
    }
    assert(second.exceptionCounts.isEmpty)
    assert(second.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0 to 6).map(i => (i.toLong, i * 10L)))
    // a resolver for a class no parse error carries leaves both channels as they were
    val other = typed(new Context(spark), path)
      .resolve[Row, Row](classOf[ArithmeticException])(identity)
    assert(other.collect().map(_.getLong(0)).toSeq == Seq(0L, 2L, 6L))
    assert(other.exceptionCounts == Map(DataSet.ParseErrorClass -> 4L))
  }

  test("a repeated q_csv_resolve call compiles no codegen class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = Files.createTempDirectory("graft_csv_codegen").toString
    spark.range(1, 300)
      .select(col("id").as("o_orderkey"), (col("id") * 1.25).as("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val q = graft.SparkEntry.queries("q_csv_resolve")
    def run(): Row = {
      val df: DataFrame = q(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      df.collect().head
    }
    val warm = run()
    assert(warm.getLong(0) == 299L && warm.getLong(2) == 299L / 7)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run() == warm)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the repeated call compiled new codegen classes")
  }
}

object CsvDetectionSpec {
  /** Every physical node, through adaptive plans and their query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
