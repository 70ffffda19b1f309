package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entry point of the graft pipeline API: wraps a SparkSession the way the
  * reference's `Context` wraps its runtime (`python/tuplex/context.py:50`),
  * exposing sources (`parallelize`, `csv`, `text`, `orc`, + parquet as a
  * superset) and VFS utilities (`ls`/`cp`/`rm`, `context.py:437-477`).
  *
  * Options mirror the `tuplex.*` config surface where meaningful on Spark
  * (e.g. `csv.maxDetectionRows` for schema-inference sampling); everything
  * execution-related (memory, partitions, spill) is deliberately left to
  * Spark's own configuration — Tungsten already owns those concerns.
  */
final class Context(val spark: SparkSession, val options: Map[String, String] = Map.empty) {

  private def opt(key: String, default: String): String = options.getOrElse(key, default)

  /** Local/in-memory rows → DataSet (`context.py:246-286`). Column names
    * default to _1.._n like the reference's auto-generated tuple columns. */
  def parallelize[T: Encoder](values: Seq[T], columns: Seq[String] = Nil): DataSet = {
    var df = spark.createDataset(values).toDF()
    if (columns.nonEmpty) df = df.toDF(columns: _*)
    DataSet.fromDataFrame(this, df)
  }

  def fromDataFrame(df: DataFrame): DataSet = DataSet.fromDataFrame(this, df)

  /** Heterogeneous rows — the reference's mixed-type `parallelize`
    * (`context.py:251-261`) with type unification (`TypeSystem.h:417`,
    * `unifyTypes`/`combineToNullableType`): per column, Int/Long widen to
    * Long, any numeric mix widens to Double (the autoUpcast rule), nulls
    * make the column nullable (`[1, None, 4]` ⇒ nullable long). A column
    * mixing incompatible kinds (string + number, bool + number) is
    * rejected up front — the reference's PYOBJECT fallback is a CPython
    * escape hatch with no JVM analogue worth faking. */
  def parallelizeAny(values: Seq[Seq[Any]], columns: Seq[String] = Nil): DataSet = {
    require(values.nonEmpty, "parallelizeAny needs at least one row")
    val n = values.head.length
    require(values.forall(_.length == n), "rows must have equal arity")
    val names =
      if (columns.nonEmpty) { require(columns.length == n, "column count"); columns }
      else (1 to n).map("_" + _)
    val colTypes = (0 until n).map { i =>
      val vs = values.map(_(i)).filter(_ != null)
      val nullable = vs.length != values.length
      val t = vs.foldLeft(NullType: DataType) { (acc, v) =>
        val vt: DataType = v match {
          case _: Int | _: Long => LongType
          case _: Float | _: Double => DoubleType
          case _: Boolean => BooleanType
          case _: String => StringType
          case other => throw new IllegalArgumentException(
            s"column ${names(i)}: unsupported value ${other.getClass.getName}")
        }
        (acc, vt) match {
          case (NullType, x) => x
          case (x, y) if x == y => x
          case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType // autoUpcast
          case (x, y) => throw new IllegalArgumentException(
            s"column ${names(i)}: cannot unify $x with $y")
        }
      }
      StructField(names(i), if (t == NullType) StringType else t, nullable || t == NullType)
    }
    val schema = StructType(colTypes)
    val rows = values.map { vs =>
      org.apache.spark.sql.Row.fromSeq(vs.zipWithIndex.map {
        case (null, _) => null
        case (v: Int, i) if colTypes(i).dataType == LongType => v.toLong
        case (v: Int, i) if colTypes(i).dataType == DoubleType => v.toDouble
        case (v: Long, i) if colTypes(i).dataType == DoubleType => v.toDouble
        case (v: Float, _) => v.toDouble
        case (v, _) => v
      })
    }
    DataSet.fromDataFrame(this,
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
  }

  /** Dict auto-unpack (`parallelize(..., auto_unpack=True)`,
    * `context.py:251-261`): maps become columns keyed by first-seen key
    * order; missing keys are null. Values unify per [[parallelizeAny]]. */
  def parallelizeMaps(values: Seq[Map[String, Any]]): DataSet = {
    require(values.nonEmpty, "parallelizeMaps needs at least one row")
    val keys = values.foldLeft(Vector.empty[String]) { (acc, m) =>
      acc ++ m.keys.filterNot(acc.contains)
    }
    parallelizeAny(values.map(m => keys.map(k => m.getOrElse(k, null))), keys)
  }

  /** CSV source with sample-based inference (`FileInputOperator.cc:47-98`):
    * ONE driver-side head sample per call ([[CsvSniffer.sample]], at most
    * `csv.maxDetectionRows` data lines) yields the delimiter (our own
    * sniffer — Spark has no delimiter inference), the header decision and
    * names, and the per-column types, which Spark's own `CSVInferSchema`
    * computes on the driver over univocity-tokenized sample lines — the
    * computation `spark.read.csv(Dataset[String])` runs inside its jobs,
    * so the call submits no Spark job. `typeHints`/`typeHintsAt` override
    * inferred types (`python/tuplex/context.py:321,344-346`); when they fix
    * every field, typing is skipped. Multiple null-value strings are
    * honored. Rows that don't parse against the schema divert to the
    * dual-mode error channel (`exceptionCounts`/`ignore`/`resolve`), and
    * repaired rows merge back at their original input positions (both
    * channels split one scan and share a row-id space; a first `resolve`
    * runs inside that same scan). Line-based: quoted fields with embedded
    * newlines are not supported. */
  def csv(
      pattern: String,
      columns: Seq[String] = Nil,
      header: Option[Boolean] = None,
      delimiter: Option[String] = None,
      quotechar: String = "\"",
      nullValues: Seq[String] = Seq(""),
      typeHints: Map[String, DataType] = Map.empty,
      typeHintsAt: Map[Int, DataType] = Map.empty): DataSet = {
    // reference parity: a pattern matching nothing yields an empty dataset
    // (ErrorDataSet semantics — actions succeed with no rows), not a crash
    if (ls(pattern).isEmpty) {
      System.err.println(s"[graft] csv: no input matches $pattern")
      return DataSet.fromDataFrame(this, spark.emptyDataFrame)
    }
    // schema detection from a BOUNDED sample (`csv.maxDetectionRows`,
    // mirroring `FileInputOperator.cc:47-98`): inferring over the whole
    // input would parse every byte twice — untenable when the glob is
    // 100 TB. The sample holds DATA lines only (each file's first line is
    // stripped when there is a header): other files' header lines in the
    // sample would silently widen every column to string in a multi-file
    // glob. Column names come from the sniffed header text instead.
    val detectionRows = opt("csv.maxDetectionRows", "10000").toInt
    val sample = CsvSniffer.sample(spark, pattern, detectionRows)
    val delim = delimiter.getOrElse(CsvSniffer.sniffDelimiter(sample))
    val hasHeader = header.getOrElse(CsvSniffer.sniffHeader(sample, delim))
    val typer = new CsvSniffer.Typer(spark, delim, quotechar, nullValues.headOption.orNull)
    val lines = sample.dataLines(hasHeader, detectionRows)
    val width = typer.width(lines)
    // `columns` renames FIRST (the reference's order: columns= names are
    // what the user knows), then type hints override the sampled types IN
    // THE PARSE SCHEMA (not as post-read casts): a value that is valid
    // under the hinted type must parse, not fall into the error channel
    // because the sample guessed a narrower type. Baking the final names
    // into the read schema keeps the good frame, the error channel, and
    // the resolvers on one consistent naming (csv schema matching is
    // positional under enforceSchema, so names never affect parsing).
    val names = {
      // the first line of the first file with a line, tokenized like the data
      val headerNames =
        if (!hasHeader) Array.empty[String]
        else sample.files.iterator.flatten.nextOption().fold(Array.empty[String])(typer.header)
      if (columns.nonEmpty) {
        require(columns.length == width,
          s"columns has ${columns.length} names for $width csv fields")
        columns.toIndexedSeq
      } else (0 until width).map(i => if (i < headerNames.length) headerNames(i) else s"_c$i")
    }
    val hintAt = typeHintsAt.map { case (i, t) => (if (i < 0) width + i else i) -> t }
    val pinned = names.indices.map(i => hintAt.get(i).orElse(typeHints.get(names(i))))
    val types =
      if (pinned.forall(_.isDefined)) pinned.map(_.get)
      else pinned.zip(typer.infer(lines, width)).map { case (p, t) => p.getOrElse(t) }
    val hinted = StructType(names.zip(types).map { case (n, t) => StructField(n, t, nullable = true) })
    // Rows that don't parse against the (hinted) schema — malformed line,
    // or a type the bounded sample never saw — are INPUT EXCEPTIONS, not
    // silent nulls, mirroring the reference's parse-errors-as-exceptions
    // path (`PhysicalPlan.cc:202-208`). SINGLE-SCAN dual channel: every
    // data line is parsed once under the hinted schema with a
    // corrupt-record column by a `from_csv` expression (Spark forbids
    // corrupt-record-only scans); the good and error channels are two
    // filters over the SAME plan, so the row ids assigned before the
    // split are one consistent space — resolve()'d parse repairs merge
    // back at their true input positions (two independent scans would
    // number good and bad rows separately and interleave them arbitrarily
    // on collect()). Known cost of this ordered-merge design: from_csv
    // parses EVERY cell of every line (OptimizeCsvJsonExprs only prunes
    // option-free from_csv calls), where the native csv source converted
    // only required columns — on very wide CSVs where order and the error
    // channel don't matter, read through spark.read.csv/parquet instead.
    // Limitation (line-based): quoted fields with EMBEDDED NEWLINES are not
    // supported (the reference's parser is line-based too).
    val parseOpts = Map(
      "sep" -> delim, "quote" -> quotechar,
      "nullValue" -> nullValues.headOption.getOrElse(""),
      "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> DataSet.CorruptCol)
    val parseSchema = StructType(hinted.fields :+
      StructField(DataSet.CorruptCol, StringType, nullable = true))
    val parsed = dataLines(pattern, hasHeader).toDF("value")
      .select(col("value").as(DataSet.RawLine),
        from_csv(col("value"), parseSchema, parseOpts).as(DataSet.Parsed))
      .withColumn(DataSet.RowId, monotonically_increasing_id())
    DataSet.fromCsvParse(this, parsed, hinted, parseOpts, nullValues.drop(1))
  }

  /** Non-blank DATA lines of a csv glob: with a header, the first line of
    * EVERY file is dropped — exactly the csv reader's line discipline.
    * TextInputFormat keys each line with its byte offset in its file, so
    * "first line" is simply offset == 0: per file, distributed, and free
    * of header-text comparison (a data line byte-identical to the header
    * stays, and multi-file globs with divergent header text are handled). */
  private def dataLines(pattern: String, hasHeader: Boolean): org.apache.spark.sql.Dataset[String] = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapred.TextInputFormat
    val raw = spark.sparkContext
      .hadoopFile[LongWritable, Text, TextInputFormat](
        pattern, spark.sparkContext.defaultMinPartitions)
    val kept = (if (hasHeader) raw.filter(_._1.get != 0L) else raw)
      .map(_._2.toString) // copy out: TextInputFormat reuses Writables
    spark.createDataset(kept)(org.apache.spark.sql.Encoders.STRING)
      .filter(length(col("value")) > 0)
  }

  /** Text source: one string column per line (`context.py:367-387`). */
  def text(pattern: String, nullValues: Seq[String] = Nil): DataSet = {
    if (ls(pattern).isEmpty) {
      System.err.println(s"[graft] text: no input matches $pattern")
      return DataSet.fromDataFrame(this, spark.emptyDataFrame)
    }
    var df = spark.read.text(pattern)
    for (nv <- nullValues)
      df = df.withColumn("value", when(col("value") === nv, lit(null)).otherwise(col("value")))
    DataSet.fromDataFrame(this, df)
  }

  /** ORC source (`context.py:389-405`). */
  def orc(pattern: String, columns: Seq[String] = Nil): DataSet = {
    var df = spark.read.orc(pattern)
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    DataSet.fromDataFrame(this, df)
  }

  /** Parquet source — capability superset (reference has no parquet). */
  def parquet(pattern: String, columns: Seq[String] = Nil): DataSet = {
    var df = spark.read.parquet(pattern)
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    DataSet.fromDataFrame(this, df)
  }

  /** JSON-lines source — capability superset (the reference compiles no
    * JSON at all, SURVEY §2.8 "JSON functions: none"). Schema is inferred
    * from the data unless given; pass `schema` in production so the scan
    * skips the inference pass over the input. */
  def json(pattern: String, columns: Seq[String] = Nil,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataSet = {
    val reader = spark.read
    schema.foreach(reader.schema)
    var df = reader.json(pattern)
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    DataSet.fromDataFrame(this, df)
  }

  // ---- VFS utilities (context.py:437-477) — Hadoop FS covers file://, s3a://, hdfs:// .

  private def fs(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def ls(pattern: String): Seq[String] = {
    val p = new Path(pattern)
    Option(fs(p).globStatus(p)).map(_.toSeq.map(_.getPath.toString)).getOrElse(Nil)
  }

  def cp(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    org.apache.hadoop.fs.FileUtil.copy(fs(s), s, fs(d), d, false, spark.sparkContext.hadoopConfiguration)
  }

  def rm(pattern: String): Unit =
    ls(pattern).foreach { f => val p = new Path(f); fs(p).delete(p, true) }
}

/** Driver-side CSV detection — the capability analogue of the
  * reference's `CSVStatistic` sampling (`utils/include/CSVStatistic.h:37-88`):
  * one bounded head sample of the glob ([[sample]]) answers every question
  * `Context.csv` asks before it plans the scan. The delimiter is the
  * candidate whose per-line count is most consistent, header presence
  * compares first-line vs body numeric-ness, and the column types come from
  * Spark's `CSVInferSchema` run over the sample on the driver ([[Typer]]). */
object CsvSniffer {
  private val Candidates = Seq(',', ';', '\t', '|')
  /** Raw lines the delimiter and header sniffers look at. */
  private val SniffLines = 64

  /** Raw lines of the glob's files in name order, one entry per file that
    * yielded any line. */
  final case class Sample(files: Seq[Seq[String]]) {
    /** The first [[SniffLines]] raw lines (headers included), non-blank. */
    private[api] def sniffLines: Seq[String] =
      files.iterator.flatten.take(SniffLines).filter(_.nonEmpty).toSeq

    /** The sample's data lines: each file's first line dropped when there
      * is a header — the same line discipline as the scan — and blank
      * lines dropped, at most `n`. */
    def dataLines(hasHeader: Boolean, n: Int): Seq[String] =
      files.iterator.flatMap(f => if (hasHeader) f.drop(1) else f)
        .filter(_.nonEmpty).take(n).toSeq
  }

  /** One driver-side head sample of a csv glob, like the reference's
    * maxDetectionMemory read — accumulated ACROSS glob files in name order:
    * at scale an empty shuffle partition routinely writes a header-only (or
    * fully empty) part file, and a glob whose FIRST file is one of those
    * must not blind detection to the real data behind it (found live: the
    * sf1-staged 311 fixture wrote part-00000 as a lone header line, and
    * every column came back _c0/_c1/_c2). Zero-byte parts are skipped from
    * the glob listing's lengths without an open; compressed inputs
    * (.gz/.bz2/…) are read DECOMPRESSED through the same codec resolution
    * Spark's line reader applies per file. Reading stops once the sample
    * holds `maxData` non-blank data lines under either header answer and
    * at least [[SniffLines]] raw lines. */
  def sample(spark: SparkSession, pattern: String, maxData: Int): Sample = {
    val p = new Path(pattern)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    // a matched directory contributes its visible files, as in the scan's
    // FileInputFormat listing
    def visible(st: org.apache.hadoop.fs.FileStatus) =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val n = c.getPath.getName
        c.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
    val files = Option(fs.globStatus(p)).map(_.toSeq) match {
      case Some(Nil) | None => Seq(p) // no glob expansion — try the literal
      case Some(matched) => matched.flatMap(visible).filter(_.getLen > 0).map(_.getPath)
    }
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val out = Seq.newBuilder[Seq[String]]
    var raw = 0
    var data = 0 // non-blank lines past each file's first line
    def enough = data >= maxData && raw >= SniffLines
    for (f <- files.iterator.takeWhile(_ => !enough)) {
      val in0 = fs.open(f)
      val codec = codecs.getCodec(f)
      val in: java.io.InputStream =
        if (codec == null) in0
        else try codec.createInputStream(in0) catch {
          case e: Throwable => in0.close(); throw e // don't leak the handle
        }
      // InputStreamReader replaces malformed UTF-8 like Hadoop's Text does
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      try {
        val lines = Seq.newBuilder[String]
        var line = reader.readLine()
        var first = true
        while (line != null) {
          lines += line
          raw += 1
          if (!first && line.nonEmpty) data += 1
          first = false
          line = if (enough) null else reader.readLine()
        }
        val got = lines.result()
        if (got.nonEmpty) out += got
      } finally reader.close()
    }
    Sample(out.result())
  }

  /** Header names and column typing over sample lines with Spark's own
    * CSV tokenizer and inference: the
    * options `spark.read.option("inferSchema", "true")` would build from
    * the same dialect, univocity tokenization, then `CSVInferSchema`'s
    * `inferRowType` folded over the lines and `toStructFields` — the
    * aggregate the reader runs as Spark jobs (there `mergeRowTypes` joins
    * the per-partition folds; one driver-side fold needs none), computed
    * here under the session's SQL conf. */
  final class Typer(spark: SparkSession, delim: String, quote: String, nullValue: String) {
    import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
    import org.apache.spark.sql.internal.SQLConf

    private val conf = spark.sessionState.conf
    private def withConf[T](f: => T): T = SQLConf.withExistingConf(conf)(f)
    private val options = withConf(new CSVOptions(
      Map("inferSchema" -> "true", "mode" -> "PERMISSIVE", "header" -> "false",
        "sep" -> delim, "quote" -> quote, "nullValue" -> nullValue),
      conf.csvColumnPruning, conf.sessionLocalTimeZone))
    private lazy val parser = new com.univocity.parsers.csv.CsvParser(options.asParserSettings)

    /** The reader's filter: blank (after trim) lines never reach inference. */
    private def kept(lines: Seq[String]): Seq[String] = lines.filter(_.trim.nonEmpty)

    /** Field count: the tokens of the first kept line (0 when none). */
    def width(lines: Seq[String]): Int =
      kept(lines).headOption.flatMap(l => Option(parser.parseLine(l))).map(_.length).getOrElse(0)

    /** Column names from a header line: its tokens trimmed, `_c<i>` for
      * a null (empty) token. */
    def header(line: String): Array[String] =
      Option(parser.parseLine(line)).getOrElse(Array.empty[String]).zipWithIndex.map {
        case (null, i) => s"_c$i"
        case (f, _) => f.trim
      }

    /** Inferred type of each of the `width` fields. */
    def infer(lines: Seq[String], width: Int): Seq[DataType] = withConf {
      val inference = new CSVInferSchema(options)
      val types = kept(lines).iterator.map(parser.parseLine).filter(_ != null)
        .foldLeft(Array.fill[DataType](width)(NullType))(inference.inferRowType)
      inference.toStructFields(types, Array.tabulate(width)(i => s"_c$i")).map(_.dataType).toSeq
    }
  }

  def sniffDelimiter(sample: Sample): String = {
    val lines = sample.sniffLines
    if (lines.isEmpty) return ","
    val best = Candidates.maxBy { d =>
      val counts = lines.map(_.count(_ == d))
      if (counts.head == 0) -1.0
      else counts.head.toDouble - counts.map(c => math.abs(c - counts.head)).sum
    }
    best.toString
  }

  def sniffHeader(sample: Sample, delim: String): Boolean = {
    val lines = sample.sniffLines
    if (lines.size < 2) return false
    def numericCells(l: String) =
      l.split(java.util.regex.Pattern.quote(delim), -1)
        .count(c => scala.util.Try(c.trim.toDouble).isSuccess)
    // header ⇔ first line has no numeric cells while the body does
    numericCells(lines.head) == 0 && lines.tail.exists(numericCells(_) > 0)
  }
}
