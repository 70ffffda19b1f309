package graft.api

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One `resolve`/`ignore` attached to a failable operator's error channel:
  * a resolver for class `cls` (its function takes what the operator's
  * function takes) or an ignore of `cls`. */
private[api] sealed trait Step
private[api] final case class Resolve(cls: String, fn: AnyRef) extends Step
private[api] final case class Ignore(cls: String) extends Step

/** One batch of rows that raised inside a failable operator, pending
  * `resolve`/`ignore` (reference semantics: `core/src/logical/
  * ResolveOperator.cc`, `python/tuplex/dataset.py:162-199`).
  *
  * `rows` are the still-failed rows with their bookkeeping: `_g_rowid`
  * (stable merge-in-order id), `_g_cls` (exception class name), `_g_msg`.
  * `steps` are the handlers attached so far, in call order. `rebuild`
  * plans the operator over its pristine input with a given handler chain
  * and returns the (good, still-failed) frames; it is defined only while
  * this is the most recent operator — Tuplex resolvers bind to the
  * immediately preceding op (`dataset.py:163-167`); any further transform
  * retires the batch. */
private[api] final case class BadBatch(
    rows: DataFrame,
    rebuild: Option[List[Step] => (DataFrame, DataFrame)],
    steps: List[Step] = Nil)

/** Immutable, lazily-evaluated pipeline node with Tuplex's operator
  * surface (SURVEY.md §2) re-expressed on Spark DataFrames.
  *
  * Dual-mode processing (SURVEY §7.4): UDF-bearing operators are
  * `try`-wrapped per row; failing rows divert to an error channel
  * (`bad` batches) instead of failing the job, exactly the capability of
  * the reference's normal-case/exception-path split
  * (`core/src/ee/local/LocalBackend.cc:957`, `ResolveTask.cc:268`) —
  * minus speculative compilation, which the JVM makes unnecessary.
  * Every `resolve`/`ignore`, first or chained, extends the failing
  * operator's handler chain, and the operator is re-planned with the whole
  * chain inside its own scan — as the reference compiles one resolve path
  * per stage with every resolver in it (`StageBuilder.cc:1105-1340`).
  * `collect()` merges resolved rows back in original row order via the
  * stable `_g_rowid`, matching `mergeExceptionsInOrder`
  * (`LocalBackend.cc:841-852`); order is intentionally not guaranteed
  * after joins/aggregates, the reference's own limitation.
  *
  * Scale note: the error channel is plan-level (two filtered branches of
  * the same scan), so Catalyst still pushes filters/pruning into the scan;
  * nothing is materialized on the driver.
  */
final class DataSet private (
    val ctx: Context,
    private val good: DataFrame,
    private val bad: List[BadBatch]) {

  import DataSet._

  // ------------------------------------------------------------------ meta

  def columns: Seq[String] = good.columns.toSeq.filterNot(HiddenCols)
  def schema: StructType = StructType(good.schema.fields.filterNot(f => HiddenCols(f.name)))

  /** The public DataFrame view (no bookkeeping columns). */
  def toDF: DataFrame = good.drop(HiddenCols.toSeq: _*)

  private def retired: List[BadBatch] = bad.map(_.copy(rebuild = None))
  private def next(df: DataFrame): DataSet = new DataSet(ctx, df, retired)
  /** Rebuild row ids after an order-destroying op (join/agg/set op); a
    * stale per-expansion sub-id would misorder, so it goes too. */
  private def reid(df: DataFrame): DataFrame =
    df.drop(SubId).withColumn(RowId, monotonically_increasing_id())
  /** collect/take order: stable row id, then the per-expansion sequence
    * number when a flatMap emitted one — Spark's sort gives no tie order,
    * so intra-expansion order needs its own key. */
  private def orderCols: Seq[Column] =
    col(RowId) +: (if (good.columns.contains(SubId)) Seq(col(SubId)) else Nil)

  // ------------------------------------------- projections (dataset.py §2.2)

  def selectColumns(names: Seq[String]): DataSet =
    next(good.select(
      (names ++ good.columns.filter(HiddenCols)).map(col): _*))

  /** Select by (possibly negative) position, like the reference. */
  def selectColumnsAt(indices: Seq[Int]): DataSet = {
    val cs = columns
    selectColumns(indices.map(i => cs(if (i < 0) cs.length + i else i)))
  }

  def renameColumn(from: String, to: String): DataSet =
    next(good.withColumnRenamed(from, to))

  def renameColumnAt(index: Int, to: String): DataSet =
    renameColumn(columns(if (index < 0) columns.length + index else index), to)

  def withColumn(name: String, expr: Column): DataSet = next(good.withColumn(name, expr))

  def mapColumn(name: String, f: Column => Column): DataSet =
    next(good.withColumn(name, f(col(name))))

  def filter(cond: Column): DataSet = next(good.filter(cond))

  // ------------------------------------- failable UDF ops (error channel)

  /** A failable operator: `build(steps)` plans it over this node's frame
    * with the handler chain `steps` and returns (good, still-failed). The
    * batch keeps `build`, so each later `resolve`/`ignore` re-plans the
    * operator from the same input with the longer chain. */
  private def failable(build: List[Step] => (DataFrame, DataFrame)): DataSet = {
    val (ok, failed) = build(Nil)
    new DataSet(ctx, ok, BadBatch(failed, Some(build)) :: retired)
  }

  /** The op's function and its handler chain as ONE UDF returning
    * `(value, errClass, errMsg)` ([[runChain]]): a row a resolver repairs
    * never materializes its error class/message into a Catalyst row and
    * never pays a second ScalaUDF round-trip (normal-case specialization,
    * the reference's StageBuilder technique). Marked NONDETERMINISTIC on
    * purpose (the function itself is pure): Catalyst freely duplicates
    * deterministic expressions — predicate pushdown substitutes the UDF
    * into every filter that references `_g_res`, and project collapsing
    * inlines it per extracted field, so a throwing UDF was re-executed
    * (with exception construction) up to 5× per row. The nondeterministic
    * mark pins ONE evaluation per row in its own projection; filters above
    * it reference the materialized attribute. Cost: predicates no longer
    * migrate below the UDF projection — which also matches the reference's
    * semantics, where the exception set is fixed by pipeline position, not
    * plan-dependent. */
  private def chainUdf[A: TypeTag, B: TypeTag](f: A => B, steps: List[Step]) =
    udf((a: A) => runChain(f, steps, g => g.asInstanceOf[A => B](a)))
      .asNondeterministic()

  /** Two-argument [[chainUdf]]. */
  private def chainUdf2[A1: TypeTag, A2: TypeTag, B: TypeTag](
      f: (A1, A2) => B, steps: List[Step]) =
    udf((a1: A1, a2: A2) => runChain(f, steps, g => g.asInstanceOf[(A1, A2) => B](a1, a2)))
      .asNondeterministic()

  /** Split a frame that has a `_g_res = (value, cls, msg)` struct into
    * (ok-with-column-set, failed-with-original-input) halves; rows an
    * ignore dropped are in neither. */
  private def split(tmp: DataFrame, name: String): (DataFrame, DataFrame) = {
    val ok = tmp.filter(col("_g_res._2").isNull)
      .withColumn(name, col("_g_res._1")).drop("_g_res")
    val failed = tmp.filter(col("_g_res._2") =!= Dropped)
      .withColumn(ErrCls, col("_g_res._2"))
      .withColumn(ErrMsg, col("_g_res._3"))
      .drop("_g_res")
    (ok, failed)
  }

  /** `withColumn(column, ftor)` with per-row exception capture
    * (`dataset.py:201-229`). `in` selects the ftor's input column(s) —
    * pass a struct for multi-column UDFs. */
  def withColumnUdf[A: TypeTag, B: TypeTag](name: String, in: Column)(f: A => B): DataSet =
    failable(steps => split(good.withColumn("_g_res", chainUdf(f, steps).apply(in)), name))

  /** `mapColumn(column, ftor)` — in-place single-column transform with
    * exception capture (`dataset.py:231-260`). */
  def mapColumnUdf[A: TypeTag, B: TypeTag](name: String)(f: A => B): DataSet =
    withColumnUdf(name, col(name))(f)

  /** Two-argument variant of [[withColumnUdf]] for UDFs over two input
    * columns (scala UDFs receive struct inputs as Row, so explicit
    * arities are the type-safe route). */
  def withColumnUdf2[A1: TypeTag, A2: TypeTag, B: TypeTag](
      name: String, in1: Column, in2: Column)(f: (A1, A2) => B): DataSet =
    failable(steps => split(good.withColumn("_g_res", chainUdf2(f, steps).apply(in1, in2)), name))

  /** The one `mapPartitions` core of [[mapRows]] and [[flatMapRows]]
    * (opaque lambda — Catalyst can't see into it, same as the reference's
    * compiled UDFs). `body(steps)` maps rows of (`_g_in` = the visible
    * input columns as a struct, row id, sub-id) to output rows of
    * `outSchema`'s fields followed by `_g_in`, row id, sub-id, error class
    * and message. */
  private def rowOp(outSchema: StructType)(
      body: List[Step] => Iterator[Row] => Iterator[Row]): DataSet = {
    // error rows carry nulls in the out fields — the internal encoder must
    // allow that even when the caller declared them non-nullable. Side
    // effect: the visible output schema is nullable-widened too (standard
    // Spark behavior for map-style operators).
    val outNullable = outSchema.fields.toSeq.map(_.copy(nullable = true))
    val full = StructType(outNullable ++ Seq(
      StructField("_g_in", schema, nullable = false),
      StructField(RowId, LongType, nullable = false),
      StructField(SubId, LongType, nullable = false),
      StructField(ErrCls, StringType, nullable = true),
      StructField(ErrMsg, StringType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(full)
    // carry an upstream flatMap's per-expansion sub-id through (0 when
    // absent) so a map after a flatMap keeps intra-expansion order
    val withSub = if (good.columns.contains(SubId)) good else good.withColumn(SubId, lit(0L))
    val pre = withSub.select(struct(columns.map(col): _*).as("_g_in"), col(RowId), col(SubId))
    failable { steps =>
      val mapped = pre.mapPartitions(body(steps))(enc)
      val ok = mapped.filter(col(ErrCls).isNull)
        .select(outSchema.fieldNames.map(col) ++ Seq(col(RowId), col(SubId)): _*)
      val failed = mapped.filter(col(ErrCls) =!= Dropped)
        .select(col("_g_in.*") +: Seq(col(RowId), col(SubId), col(ErrCls), col(ErrMsg)): _*)
      (ok, failed)
    }
  }

  /** Full-row `map(ftor)` (`dataset.py:49-81`): arbitrary Row → Row
    * transform with a new output schema, per-row exception capture, and
    * resolver support. This is the reference's most general operator; it
    * deliberately uses mapPartitions, so prefer the Column-based ops when
    * the transform is expressible. */
  def mapRows(outSchema: StructType)(f: Row => Row): DataSet = {
    val nOut = outSchema.length
    rowOp(outSchema)(steps => _.map { r =>
      val in = r.getStruct(0)
      val (out, cls, msg) = runChain(f, steps, g => g.asInstanceOf[Row => Row](in).toSeq)
      // the parent's sub-id passes through unshifted
      Row.fromSeq(out.getOrElse(Seq.fill[Any](nOut)(null)) ++
        Seq(in, r.getLong(1), r.getLong(2), cls, msg))
    })
  }

  /** Row → many rows with exception capture — UDTF-style superset (the
    * reference has no flatMap at all, SURVEY §2.9); same error-channel and
    * resolver semantics as [[mapRows]] (resolvers re-expand:
    * `Row => IterableOnce[Row]`). */
  def flatMapRows(outSchema: StructType)(f: Row => IterableOnce[Row]): DataSet = {
    val nOut = outSchema.length
    rowOp(outSchema)(steps => _.flatMap { r =>
      val in = r.getStruct(0); val id = r.getLong(1); val parentSub = r.getLong(2)
      // materialize inside the chain: lazy iterators would throw outside
      // the per-row exception scope. ONLY the user functions are tried —
      // the sort-key bounds checks below must fail loudly, not divert
      // into the error channel as if the user's UDF threw.
      runChain(f, steps, g => g.asInstanceOf[Row => IterableOnce[Row]](in).iterator.toVector) match {
        case (Some(v), _, _) =>
          // the per-expansion index is the secondary sort key — all
          // expanded rows share the parent's row id, and Spark's sort
          // gives no tie order. A nested flatMap composes the parent's
          // sub-id lexicographically (20 bits per level).
          require(v.size <= (1 << 20),
            s"flatMapRows: more than ${1 << 20} expansions for one row")
          require(parentSub < (1L << 42),
            "flatMapRows: nesting too deep for ordered merge")
          v.zipWithIndex.map { case (o, sub) =>
            Row.fromSeq(o.toSeq ++ Seq(in, id, (parentSub << 20) | sub.toLong, null, null))
          }
        case (_, cls, msg) =>
          Seq(Row.fromSeq(Seq.fill[Any](nOut)(null) ++ Seq(in, id, parentSub, cls, msg)))
      }
    })
  }

  /** `filter(ftor)` with exception capture (`dataset.py:83-111`): rows
    * where the predicate throws divert to the error channel; a resolver
    * supplies the predicate's value for the rows it repairs. */
  def filterUdf[A: TypeTag](in: Column)(f: A => Boolean): DataSet =
    failable { steps =>
      val (ok, failed) = split(good.withColumn("_g_res", chainUdf(f, steps).apply(in)), "_g_keep")
      (ok.filter(col("_g_keep")).drop("_g_keep"), failed)
    }

  // ------------------------------------- resolve / ignore (dataset.py §2.7)

  /** Attach a resolver for `errClass` exceptions raised by the preceding
    * operator (`dataset.py:162-199`). The resolver gets the same input the
    * failing UDF got; it may itself throw (chaining into further
    * resolvers). Matching is by exact exception class name. */
  def resolve[A, B](errClass: Class[_ <: Throwable])(f: A => B): DataSet =
    handle(Resolve(errClass.getName, f), "resolve")

  /** Resolve rows that failed with one specific [[GraftErr]] code — the
    * reference's native resolution granularity (resolvers bind to an
    * ExceptionCode, not a host-language class). `resolve(classOf[
    * GraftErr])` remains the catch-all over every code. */
  def resolveCode[A, B](code: Long)(f: A => B): DataSet =
    handle(Resolve(GraftErr.clsName(code), f), "resolve")

  /** Silently drop rows that raised `errClass` in the preceding operator
    * (`dataset.py:319-344`). */
  def ignore(errClass: Class[_ <: Throwable]): DataSet =
    handle(Ignore(errClass.getName), "ignore")

  /** Drop rows that failed with one specific [[GraftErr]] code. */
  def ignoreCode(code: Long): DataSet = handle(Ignore(GraftErr.clsName(code)), "ignore")

  /** Append `step` to the preceding operator's handler chain and re-plan
    * that operator with the whole chain: ONE projection over ONE pass of
    * its input, where a union of `good` and a re-executed `bad` would
    * duplicate the whole upstream subtree (scans, joins) per handler. */
  private def handle(step: Step, what: String): DataSet = bad match {
    case head :: rest if head.rebuild.isDefined =>
      val steps = head.steps :+ step
      val (merged, failed) = head.rebuild.get(steps)
      new DataSet(ctx, merged, BadBatch(failed, head.rebuild, steps) :: rest)
    case _ =>
      throw new IllegalStateException(
        s"$what() must directly follow a UDF operator (or another resolve/ignore)")
  }

  /** Exception-class → count of unresolved rows (`dataset.py:706-715`).
    * ONE Spark job regardless of how many failable operators contributed
    * batches: each batch's single-column `(ErrCls)` projection is
    * unioned, then one groupBy+count+collect — a pipeline with N
    * failable ops previously paid N jobs for one dict. */
  def exceptionCounts: Map[String, Long] = bad match {
    case Nil => Map.empty
    case batches =>
      batches.map(_.rows.select(col(ErrCls)))
        .reduce(_ unionAll _)
        .groupBy(col(ErrCls)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // --------------------------------------------- joins (dataset.py §2.3)

  /** Equi-join with Tuplex's name disambiguation: overlapping non-key
    * columns get the given suffixes (`dataset.py:384-440`). Key equality
    * is NULL-SAFE (`<=>`): the reference routes null keys through a
    * dedicated null bucket so None joins None (Python semantics,
    * `test/core/JoinTest.cc:21` InnerJoinNullBucket) — unlike SQL's `=`,
    * which silently drops null-keyed rows. EqualNullSafe is still an
    * equi-condition, so the plan stays a hash join. Small right sides
    * should be marked broadcastable by the caller via
    * `broadcast(other.toDF)` upstream; Spark AQE otherwise picks the
    * strategy from runtime stats. */
  def join(other: DataSet, leftOn: String, rightOn: String,
      how: String = "inner", lsuffix: String = "", rsuffix: String = "_r"): DataSet = {
    val l = toDF
    val r = other.toDF
    val overlap = l.columns.toSet.intersect(r.columns.toSet) - leftOn - rightOn
    val lRen = overlap.foldLeft(l)((d, c) => d.withColumnRenamed(c, c + lsuffix))
    val rRen = overlap.foldLeft(r)((d, c) => d.withColumnRenamed(c, c + rsuffix))
    val joined = lRen.join(rRen, lRen(leftOn) <=> rRen(rightOn), how)
    next(reid(joined.drop(rRen(rightOn))))
  }

  def leftJoin(other: DataSet, leftOn: String, rightOn: String): DataSet =
    join(other, leftOn, rightOn, "left_outer")

  def rightJoin(other: DataSet, leftOn: String, rightOn: String): DataSet =
    join(other, leftOn, rightOn, "right_outer")

  // ----------------------------------------- aggregates (dataset.py §2.4)

  def unique(): DataSet = next(reid(toDF.distinct()))

  /** The user fold as a Tungsten-resident aggregate column over `df`'s
    * visible columns (round-1 verdict #9: the RDD formulation lost
    * partial aggregation inside the SQL engine). */
  private def foldColumn[B: Encoder](df: DataFrame, zero: B,
      agg: (B, Row) => B, combine: (B, B) => B): Column = {
    import org.apache.spark.sql.GraftBridge
    val enc = org.apache.spark.sql.catalyst.encoders.encoderFor(
      implicitly[Encoder[B]])
    GraftBridge.column(graft.functions.FoldAgg[B](
      df.columns.toSeq.map(c => GraftBridge.expression(df(c))),
      StructType(df.schema.fields), zero, agg, combine, enc)
      .toAggregateExpression())
  }

  private def isProductEncoder[B: Encoder]: Boolean =
    classOf[Product].isAssignableFrom(
      implicitly[Encoder[B]].clsTag.runtimeClass)

  /** Global fold — the reference's `aggregate(combine, aggregate,
    * initial_value)` (`dataset.py:593-642`) is exactly a distributed fold:
    * per-partition `agg`, cross-partition `combine`, here as a single
    * ObjectHashAggregate (partial buffers fold map-side, only buffers
    * cross the wire). Returns a 1-row DataSet. */
  def aggregate[B: Encoder: scala.reflect.ClassTag](zero: B)(agg: (B, Row) => B, combine: (B, B) => B): DataSet = {
    val df = toDF
    val enc = implicitly[Encoder[B]]
    val folded = df.agg(foldColumn(df, zero, agg, combine).as("_g_fold"))
    val out =
      if (isProductEncoder[B])
        folded.select(enc.schema.fieldNames.map(n =>
          col("_g_fold").getField(n).as(n)).toSeq: _*)
      else folded.select(col("_g_fold")
        .getField(enc.schema.fields.head.name).as("value"))
    ctx.fromDataFrame(out)
  }

  /** Grouped fold (`aggregateByKey`, `dataset.py:644-704`): hash-partition
    * by key, per-partition map-side combine, shuffle only partial buffers —
    * the same partial/final split Spark's aggregates do, staying inside
    * the SQL engine (ObjectHashAggregate; no RDD conversion). Output: key
    * columns + the fold result columns (struct fields flattened when B is
    * a Product). */
  def aggregateByKey[B: Encoder: scala.reflect.ClassTag](keys: Seq[String], zero: B)(
      agg: (B, Row) => B, combine: (B, B) => B): DataSet = {
    val df = toDF
    val enc = implicitly[Encoder[B]]
    val folded = df.groupBy(keys.map(col): _*)
      .agg(foldColumn(df, zero, agg, combine).as("_g_fold"))
    val out =
      if (isProductEncoder[B])
        folded.select(keys.map(col) ++ enc.schema.fieldNames.map(n =>
          col("_g_fold").getField(n).as(n)): _*)
      else folded.select(keys.map(col) :+ col("_g_fold")
        .getField(enc.schema.fields.head.name).as("agg"): _*)
    next(reid(out))
  }

  // --------------------------- order/limit/set ops (SURVEY §2.5/2.6 superset)

  def orderBy(cols: Column*): DataSet = next(reid(toDF.orderBy(cols: _*)))
  def limit(n: Int): DataSet = next(good.orderBy(orderCols: _*).limit(n))
  def union(other: DataSet): DataSet = next(reid(toDF.unionByName(other.toDF)))
  def intersect(other: DataSet): DataSet = next(reid(toDF.intersect(other.toDF)))
  def except(other: DataSet): DataSet = next(reid(toDF.except(other.toDF)))

  /** flatMap/explode superset (absent in the reference, SURVEY §2.9).
    * posexplode, not explode: all exploded rows share the parent's RowId,
    * so the element position must fold into the SubId (same 20-bits-per-
    * level composition as [[flatMapRows]]) or collect()'s ordered merge
    * would be nondeterministic across one parent's expansions. */
  def explodeColumn(name: String, out: String): DataSet = {
    val src = if (good.columns.contains(SubId)) good
      else good.withColumn(SubId, lit(0L))
    val pos = "_g_pos"
    val exploded = src
      .select(col("*"), posexplode(col(name)).as(Seq(pos, out)))
      .withColumn(SubId,
        when(col(SubId) >= (1L << 42), raise_error(
            lit("explodeColumn: nesting too deep for ordered merge")))
          .when(col(pos) < (1 << 20), shiftleft(col(SubId), 20) + col(pos))
          .otherwise(raise_error(
            lit(s"explodeColumn: more than ${1 << 20} elements in one row"))))
      .drop(pos)
    next(exploded)
  }

  def cache(): DataSet = { good.persist(); this }

  // --------------------------------------------------------------- actions

  /** Rows in original order (merge-in-order semantics). */
  def collect(): Array[Row] = good.orderBy(orderCols: _*).drop(HiddenCols.toSeq: _*).collect()
  def take(n: Int): Array[Row] = good.orderBy(orderCols: _*).drop(HiddenCols.toSeq: _*).take(n)
  /** Row count. The good channel is always a filter over the parsed/
    * evaluated plan (single-scan csv split, UDF result split), so a plain
    * count evaluates the parse/UDF and excludes diverted rows. */
  def count(): Long = good.count()
  def show(n: Int = 20): Unit = toDF.show(n)

  // ------------------------------------------------------ sinks (§2.1)

  private def writer(numParts: Int, numRows: Long, maxRecordsPerPart: Long = 0) = {
    var df = toDF
    if (numRows > 0) df = df.limit(numRows.toInt)
    val w = if (numParts > 0) df.repartition(numParts).write else df.write
    // record-count part sizing — the capability analogue of the reference's
    // byte-based part_size (`dataset.py:504`)
    if (maxRecordsPerPart > 0) w.option("maxRecordsPerFile", maxRecordsPerPart) else w
  }

  /** Rename written `part-*` files via the user's generator, mirroring the
    * reference's `part_name_generator` UDF (`dataset.py:506,516-518`). */
  private def renameParts(path: String, gen: Int => String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val names = parts.indices.map(gen)
    require(names.distinct.length == names.length,
      s"part name generator produced colliding names: $names")
    parts.zip(names).foreach { case (src, name) =>
      val dst = new org.apache.hadoop.fs.Path(p, name)
      require(fs.rename(src, dst), s"rename $src -> $dst failed")
    }
  }

  /** Translate a byte-based part size into a record cap using an
    * average-rendered-row-bytes estimate from a BOUNDED sample (first
    * 1024 rows — driver-side, documented license; the reference's
    * `part_size`, `dataset.py:504`, sizes parts in bytes too). The
    * estimate is textual (CSV rendering: fields + separators + newline),
    * so it is accurate for text sinks and a rough upper bound for
    * columnar ones. */
  private def recordsForPartBytes(partSizeBytes: Long, nullValue: String): Long = {
    require(partSizeBytes > 0, s"partSizeBytes must be > 0, got $partSizeBytes")
    val sample = toDF.limit(1024).collect()
    if (sample.isEmpty) 1L
    else {
      // Long accumulation: 1024 multi-MB text rows overflow an Int sum,
      // which would clamp the average to ~1 byte and explode the cap.
      val totalBytes = sample.iterator.map { r =>
        var n = r.length.toLong // N-1 separators + newline
        var i = 0
        while (i < r.length) {
          n += (if (r.isNullAt(i)) nullValue.length else r.get(i).toString.length)
          i += 1
        }
        n
      }.sum.toDouble
      math.max(1L, math.round(partSizeBytes / math.max(totalBytes / sample.length, 1.0)))
    }
  }

  def tocsv(path: String, numParts: Int = 0, numRows: Long = 0,
      header: Boolean = true, nullValue: String = "",
      maxRecordsPerPart: Long = 0, partSizeBytes: Long = 0,
      partNameGenerator: Option[Int => String] = None): Unit = {
    val cap = if (partSizeBytes > 0) recordsForPartBytes(partSizeBytes, nullValue)
              else maxRecordsPerPart
    writer(numParts, numRows, cap)
      .option("header", header.toString)
      .option("nullValue", nullValue).mode("overwrite").csv(path)
    partNameGenerator.foreach(renameParts(path, _))
  }

  def toorc(path: String, numParts: Int = 0, numRows: Long = 0,
      partSizeBytes: Long = 0,
      partNameGenerator: Option[Int => String] = None): Unit = {
    // byte-based sizing reuses the textual row estimate — an UPPER bound
    // for a compressed columnar sink (parts land at or under target)
    val cap = if (partSizeBytes > 0) recordsForPartBytes(partSizeBytes, "") else 0L
    writer(numParts, numRows, cap).mode("overwrite").orc(path)
    partNameGenerator.foreach(renameParts(path, _))
  }

  def toparquet(path: String, numParts: Int = 0, numRows: Long = 0,
      partNameGenerator: Option[Int => String] = None): Unit = {
    writer(numParts, numRows).mode("overwrite").parquet(path)
    partNameGenerator.foreach(renameParts(path, _))
  }

  /** JSON-lines sink — superset counterpart of [[graft.api.Context.json]]. */
  def tojson(path: String, numParts: Int = 0, numRows: Long = 0,
      partNameGenerator: Option[Int => String] = None): Unit = {
    writer(numParts, numRows).mode("overwrite").json(path)
    partNameGenerator.foreach(renameParts(path, _))
  }
}

object DataSet {
  /** Error-channel class tag for a throwable: the JVM class name, except
    * [[GraftErr]] records the code-qualified `graft.api.GraftErr:<code>`
    * so resolution and counts are per-code — the reference's
    * per-ExceptionCode accounting (ExceptionCodes.h), not one merged
    * JVM-class bucket. */
  private[api] def errName(e: Throwable): String = e match {
    case g: GraftErr => g.clsTag // instance-cached, no per-row concat
    case _ => e.getClass.getName
  }

  private val GraftErrPrefix = GraftErr.ClassName + ":"

  /** Does a handler for class `cls` take a row failed with class `name`?
    * Exact name, except the bare [[GraftErr]] class takes every code — so
    * `resolve(classOf[GraftErr])` is the catch-all and `resolveCode` the
    * precise form. */
  private def clsMatch(cls: String, name: String): Boolean =
    name == cls || (cls == GraftErr.ClassName && name.startsWith(GraftErrPrefix))

  /** Error class of a row an ignore dropped: it leaves both the good and
    * the failed channel (no exception class has an empty name). */
  private val Dropped = ""

  /** One row through a failable operator and its handler chain: `call(fn)`
    * applies `fn` — the operator's function `f` or a resolver — to the
    * row's input. Returns `(Some(value), null, null)`, or `(None, class,
    * message)` for a row that stays failed ([[Dropped]] as the class when
    * an ignore took it). */
  private def runChain[B](f: AnyRef, steps: List[Step],
      call: AnyRef => B): (Option[B], String, String) =
    try (Option(call(f)), null, null)
    catch { case e: Throwable => walk(steps, errName(e), String.valueOf(e.getMessage), call) }

  /** A failed row's way through the handler chain (the reference's
    * resolve order, `ResolveTask.cc:248-300`): from the class and message
    * the operator raised, each step in call order whose class matches the
    * current one drops the row (ignore) or runs its resolver; a resolver
    * that throws hands its own class and message to the steps after it. */
  private def walk[B](steps: List[Step], cls0: String, msg0: String,
      call: AnyRef => B): (Option[B], String, String) = {
    var cls = cls0
    var msg = msg0
    var rest = steps
    while (rest.nonEmpty) {
      rest.head match {
        case Ignore(c) if clsMatch(c, cls) => return (None, Dropped, null)
        case Resolve(c, g) if clsMatch(c, cls) =>
          try return (Option(call(g)), null, null)
          catch { case e: Throwable => cls = errName(e); msg = String.valueOf(e.getMessage) }
        case _ =>
      }
      rest = rest.tail
    }
    (None, cls, msg)
  }

  private[api] val RowId = "_g_rowid"
  private[api] val SubId = "_g_subid"
  private[api] val ErrCls = "_g_cls"
  private[api] val ErrMsg = "_g_msg"
  private[api] val RawLine = "_g_raw"
  private[api] val HiddenCols: Set[String] = Set(RowId, SubId, ErrCls, ErrMsg, RawLine)

  private[api] def fromDataFrame(ctx: Context, df: DataFrame): DataSet =
    new DataSet(ctx, df.withColumn(RowId, monotonically_increasing_id()), Nil)

  /** Corrupt-record column of a csv source's `from_csv` parse struct. */
  private[api] val CorruptCol = "_g_corrupt"
  /** The `from_csv` parse struct of a csv source's one projection. */
  private[api] val Parsed = "_p"

  /** Csv source over its ONE parse projection `parsed` (columns [[RawLine]],
    * the [[Parsed]] struct of `schema` plus [[CorruptCol]], and a shared
    * [[RowId]]): the good channel and the input-exception rows are two
    * filters of it. Parse errors are resolvable like UDF exceptions — the
    * reference feeds both through one resolver path (`PhysicalPlan.cc:202-208`,
    * `ResolveTask.cc:268`): the resolver gets a `Row` of string cells
    * re-parsed from the raw line under the relaxed all-string schema and
    * returns a row of the typed `schema` (or throws, chaining into further
    * handlers). Every `resolve`/`ignore`, first or chained, re-plans the
    * same projection: a `CaseWhen` runs the whole handler chain
    * ([[csvChainUdf]]) only on rows whose corrupt column is set, and the
    * result splits into ok/still-failed with the UDF ops' filters — no
    * `Union`, no second scan and parse of the input, repairs merge in file
    * order. `extraNulls` (null-value strings beyond the first — Spark
    * parses only one natively) are substituted on the good channel only —
    * for typed columns a row whose cell holds a secondary null token cannot
    * parse and diverts to the error channel instead. */
  private[api] def fromCsvParse(ctx: Context, parsed: DataFrame, schema: StructType,
      parseOpts: Map[String, String], extraNulls: Seq[String]): DataSet = {
    val p = col(Parsed)
    val corrupt = p.getField(CorruptCol)
    def cell(n: String): Column =
      extraNulls.foldLeft(p.getField(n))((c, nv) => when(c === nv, lit(null)).otherwise(c))
    val build = (steps: List[Step]) => {
      // with no handler the parse alone splits the rows: no UDF in the plan
      val (src, value, cls, msg) =
        if (steps.isEmpty)
          (parsed, cell _, when(corrupt.isNotNull, lit(ParseErrorClass)), corrupt)
        else {
          val fix = col(Fix)
          (parsed.withColumn(Fix, when(corrupt.isNotNull,
              csvChainUdf(schema, steps)(relaxedCells(schema, parseOpts), corrupt))),
            (n: String) => when(corrupt.isNull, cell(n)).otherwise(fix.getField(n)),
            fix.getField(ErrCls), fix.getField(ErrMsg))
        }
      // Each channel filter is gated on the row id (a CASE, as in
      // Par.filterOnce): the id stays referenced even when the caller
      // prunes it, and its nondeterministic projection keeps the filter
      // from being pushed below the parse — `from_csv` runs once a line.
      def gated(pred: Column) = when(col(RowId) >= 0, pred).otherwise(false)
      (src.filter(gated(cls.isNull))
          .select(schema.fieldNames.map(n => value(n).as(n)) :+ col(RowId): _*),
        src.filter(gated(cls =!= Dropped)).select(col(RowId), cls.as(ErrCls), msg.as(ErrMsg)))
    }
    val (good, failed) = build(Nil)
    new DataSet(ctx, good, List(BadBatch(failed, Some(build))))
  }

  /** The [[csvChainUdf]] result column of a resolved csv source. */
  private val Fix = "_g_fix"

  /** The relaxed re-parse a csv resolver sees: every cell of the raw line
    * as a string, no failure mode. */
  private def relaxedCells(schema: StructType, parseOpts: Map[String, String]): Column =
    from_csv(col(RawLine),
      StructType(schema.fields.map(x => StructField(x.name, StringType, nullable = true))),
      parseOpts - "mode" - "columnNameOfCorruptRecord")

  /** A csv source's handler chain as one UDF over (relaxed cells, parse
    * error): [[walk]] from [[ParseErrorClass]] and that message; the
    * result is the typed row a resolver returned, or null fields, plus
    * the [[runChain]] class and message. Nondeterministic like the UDF
    * ops' chains: one evaluation per row, pinned in its projection. */
  private def csvChainUdf(schema: StructType, steps: List[Step]) = {
    val n = schema.length
    val out = StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField(ErrCls, StringType, nullable = true),
      StructField(ErrMsg, StringType, nullable = true)))
    udf(new org.apache.spark.sql.api.java.UDF2[Row, String, Row] {
      def call(cells: Row, parseError: String): Row = {
        val (v, cls, msg) = walk(steps, ParseErrorClass, parseError,
          g => g.asInstanceOf[Row => Row](cells).toSeq)
        Row.fromSeq(v.getOrElse(Seq.fill[Any](n)(null)) ++ Seq(cls, msg))
      }
    }, out).asNondeterministic()
  }

  /** Exception class used for input parse failures (exact-name matched by
    * `ignore`/`resolve`, like every other error-channel class). */
  val ParseErrorClass: String = classOf[CsvParseError].getName
}

/** Marker exception for rows that failed input parsing (bad CSV cell /
  * malformed line) — the input-exception analogue of the reference's
  * parse-error path (`PhysicalPlan.cc:202-208`). */
class CsvParseError(msg: String) extends RuntimeException(msg)
