package graft.api

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One batch of rows that raised inside a failable operator, pending
  * `resolve`/`ignore` (reference semantics: `core/src/logical/
  * ResolveOperator.cc`, `python/tuplex/dataset.py:162-199`).
  *
  * `rows` carries the operator's *input* columns (what a resolver function
  * receives) plus bookkeeping: `_g_rowid` (stable merge-in-order id),
  * `_g_cls` (exception class name), `_g_msg`. `reapply` re-runs a resolver
  * over matching rows and is defined only while this is the most recent
  * operator — Tuplex resolvers bind to the immediately preceding op
  * (`dataset.py:163-167`); any further transform retires the batch.
  * `fuse` builds the FIRST resolve inside the operator's own scan (UDF ops
  * and the csv source's parse): it returns the merged good frame and the
  * still-failed rows, and is dropped once the batch's row set changes. */
private[api] final case class BadBatch(
    opId: Int,
    rows: DataFrame,
    reapply: Option[(AnyRef, DataFrame) => (DataFrame, DataFrame)],
    fuse: Option[(String, AnyRef) => (DataFrame, DataFrame)] = None)

/** Immutable, lazily-evaluated pipeline node with Tuplex's operator
  * surface (SURVEY.md §2) re-expressed on Spark DataFrames.
  *
  * Dual-mode processing (SURVEY §7.4): UDF-bearing operators are
  * `try`-wrapped per row; failing rows divert to an error channel
  * (`bad` batches) instead of failing the job, exactly the capability of
  * the reference's normal-case/exception-path split
  * (`core/src/ee/local/LocalBackend.cc:957`, `ResolveTask.cc:268`) —
  * minus speculative compilation, which the JVM makes unnecessary.
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
    private val bad: List[BadBatch],
    private val opId: Int) {

  import DataSet._

  // ------------------------------------------------------------------ meta

  def columns: Seq[String] = good.columns.toSeq.filterNot(HiddenCols)
  def schema: StructType = StructType(good.schema.fields.filterNot(f => HiddenCols(f.name)))

  /** The public DataFrame view (no bookkeeping columns). */
  def toDF: DataFrame = good.drop(HiddenCols.toSeq: _*)

  private def retired: List[BadBatch] = bad.map(_.copy(reapply = None, fuse = None))
  private def next(df: DataFrame): DataSet = new DataSet(ctx, df, retired, opId + 1)
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

  /** Try-wrapped UDF returning `(value, errClass, errMsg)`. Marked
    * NONDETERMINISTIC on purpose (the function itself is pure): Catalyst
    * freely duplicates deterministic expressions — predicate pushdown
    * substitutes the UDF into every filter that references `_g_res`, and
    * project collapsing inlines it per extracted field, so a throwing UDF
    * was re-executed (with exception construction) up to 5× per row.
    * The nondeterministic mark pins ONE evaluation per row in its own
    * projection; filters above it reference the materialized attribute.
    * Cost: predicates no longer migrate below the UDF projection — which
    * also matches the reference's semantics, where the exception set is
    * fixed by pipeline position, not plan-dependent. */
  private def tryUdf[A: TypeTag, B: TypeTag](f: A => B) =
    udf((a: A) =>
      try (Option(f(a)), null: String, null: String)
      catch { case e: Throwable => (None: Option[B], errName(e), String.valueOf(e.getMessage)) })
      .asNondeterministic()

  /** Composed try-resolve UDF: the op's function and its resolver fused
    * into ONE closure (normal-case specialization, the reference's
    * StageBuilder technique). A row the resolver repairs never
    * materializes its error class/message into a Catalyst row and never
    * pays a second ScalaUDF round-trip — the throw is caught and resolved
    * inside the same invocation. Only rows that stay failed (non-matching
    * class, or the resolver itself threw) encode error strings. */
  private def tryResolveUdf[A: TypeTag, B: TypeTag](
      f: A => B, cls: String, g: A => B) = {
    val hit = clsHit(cls)
    udf((a: A) =>
      try (Option(f(a)), null: String, null: String)
      catch {
        case e: Throwable if hit(e) =>
          try (Option(g(a)), null: String, null: String)
          catch { case e2: Throwable =>
            (None: Option[B], errName(e2), String.valueOf(e2.getMessage)) }
        case e: Throwable =>
          (None: Option[B], errName(e), String.valueOf(e.getMessage))
      }).asNondeterministic() // see tryUdf: pin one evaluation per row
  }

  /** Split a frame that has a `_g_res = (value, cls, msg)` struct into
    * (ok-with-column-set, bad-with-original-input) halves. */
  private def split(tmp: DataFrame, name: String): (DataFrame, DataFrame) = {
    val ok = tmp.filter(col("_g_res._2").isNull)
      .withColumn(name, col("_g_res._1")).drop("_g_res")
    val failed = tmp.filter(col("_g_res._2").isNotNull)
      .withColumn(ErrCls, col("_g_res._2"))
      .withColumn(ErrMsg, col("_g_res._3"))
      .drop("_g_res")
    (ok, failed)
  }

  private def failableColumnOp[A: TypeTag, B: TypeTag](
      name: String, in: Column, f: A => B): DataSet = {
    val u = tryUdf(f)
    val tmp = good.withColumn("_g_res", u(in))
    val (ok, failed) = split(tmp, name)
    val reapply = (fn: AnyRef, rows: DataFrame) => {
      val ug = tryUdf(fn.asInstanceOf[A => B])
      split(rows.drop(ErrCls, ErrMsg).withColumn("_g_res", ug(in)), name)
    }
    // Single-scan resolve, COMPOSED (r14): one UDF whose closure runs the
    // op's function and, on a matching throw, the resolver — replacing the
    // previous two-UDF CaseWhen merge (plan nodes: 2 UDF evals + CASE
    // projection + keep-filter → 1 UDF eval + null-filter). Built from
    // `good`, not `tmp`: the op's own split plan is discarded when the
    // fused path fires, so nothing evaluates twice.
    val fuse = (cls: String, fn: AnyRef) =>
      split(good.withColumn("_g_res",
        tryResolveUdf(f, cls, fn.asInstanceOf[A => B]).apply(in)), name)
    new DataSet(ctx, ok,
      BadBatch(opId + 1, failed, Some(reapply), Some(fuse)) :: retired, opId + 1)
  }

  /** `withColumn(column, ftor)` with per-row exception capture
    * (`dataset.py:201-229`). `in` selects the ftor's input column(s) —
    * pass a struct for multi-column UDFs. */
  def withColumnUdf[A: TypeTag, B: TypeTag](name: String, in: Column)(f: A => B): DataSet =
    failableColumnOp(name, in, f)

  /** `mapColumn(column, ftor)` — in-place single-column transform with
    * exception capture (`dataset.py:231-260`). */
  def mapColumnUdf[A: TypeTag, B: TypeTag](name: String)(f: A => B): DataSet =
    failableColumnOp(name, col(name), f)

  /** Two-argument variant of [[withColumnUdf]] for UDFs over two input
    * columns (scala UDFs receive struct inputs as Row, so explicit
    * arities are the type-safe route). */
  def withColumnUdf2[A1: TypeTag, A2: TypeTag, B: TypeTag](
      name: String, in1: Column, in2: Column)(f: (A1, A2) => B): DataSet = {
    def tryUdf2(g: (A1, A2) => B) = udf((a1: A1, a2: A2) =>
      try (Option(g(a1, a2)), null: String, null: String)
      catch { case e: Throwable => (None: Option[B], errName(e), String.valueOf(e.getMessage)) })
      .asNondeterministic() // see tryUdf: pin one evaluation per row
    def tryResolveUdf2(cls: String, g: (A1, A2) => B) = {
      val hit = clsHit(cls)
      udf((a1: A1, a2: A2) =>
        try (Option(f(a1, a2)), null: String, null: String)
        catch {
          case e: Throwable if hit(e) =>
            try (Option(g(a1, a2)), null: String, null: String)
            catch { case e2: Throwable =>
              (None: Option[B], errName(e2), String.valueOf(e2.getMessage)) }
          case e: Throwable =>
            (None: Option[B], errName(e), String.valueOf(e.getMessage))
        }).asNondeterministic()
    }
    val tmp = good.withColumn("_g_res", tryUdf2(f)(in1, in2))
    val (ok, failed) = split(tmp, name)
    val reapply = (fn: AnyRef, rows: DataFrame) => {
      val ug = tryUdf2(fn.asInstanceOf[(A1, A2) => B])
      split(rows.drop(ErrCls, ErrMsg).withColumn("_g_res", ug(in1, in2)), name)
    }
    // composed single-UDF fused resolve — see failableColumnOp
    val fuse = (cls: String, fn: AnyRef) =>
      split(good.withColumn("_g_res",
        tryResolveUdf2(cls, fn.asInstanceOf[(A1, A2) => B])(in1, in2)), name)
    new DataSet(ctx, ok,
      BadBatch(opId + 1, failed, Some(reapply), Some(fuse)) :: retired, opId + 1)
  }

  /** Full-row `map(ftor)` (`dataset.py:49-81`): arbitrary Row → Row
    * transform with a new output schema, per-row exception capture, and
    * resolver support. This is the reference's most general operator; it
    * deliberately uses mapPartitions (opaque lambda — Catalyst can't see
    * into it, same as the reference's compiled UDFs), so prefer the
    * Column-based ops when the transform is expressible. */
  def mapRows(outSchema: StructType)(f: Row => Row): DataSet = {
    val inSchema = schema
    val inCols = columns
    val nOut = outSchema.length
    // error rows carry nulls in the out fields — the internal encoder must
    // allow that even when the caller declared them non-nullable. Side
    // effect: the visible output schema is nullable-widened too (standard
    // Spark behavior for map-style operators).
    val outNullable = outSchema.fields.toSeq.map(_.copy(nullable = true))
    val full = StructType(outNullable ++ Seq(
      StructField("_g_in", inSchema, nullable = false),
      StructField(RowId, LongType, nullable = false),
      StructField(SubId, LongType, nullable = false),
      StructField(ErrCls, StringType, nullable = true),
      StructField(ErrMsg, StringType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(full)
    def run(g: Row => Row, src: DataFrame): (DataFrame, DataFrame) = {
      // carry an upstream flatMap's per-expansion sub-id through (0 when
      // absent) so a map after a flatMap keeps intra-expansion order
      val withSub = if (src.columns.contains(SubId)) src
        else src.withColumn(SubId, lit(0L))
      val pre = withSub.select(struct(inCols.map(col): _*).as("_g_in"),
        col(RowId), col(SubId))
      val mapped = pre.mapPartitions { it =>
        it.map { r =>
          val in = r.getStruct(0); val id = r.getLong(1); val sub = r.getLong(2)
          try {
            val o = g(in)
            Row.fromSeq(o.toSeq ++ Seq(in, id, sub, null, null))
          } catch {
            case e: Throwable =>
              Row.fromSeq(Seq.fill[Any](nOut)(null) ++
                Seq(in, id, sub, errName(e), String.valueOf(e.getMessage)))
          }
        }
      }(enc)
      val ok = mapped.filter(col(ErrCls).isNull)
        .select(outSchema.fieldNames.map(col) ++ Seq(col(RowId), col(SubId)): _*)
      val failed = mapped.filter(col(ErrCls).isNotNull)
        .select(col("_g_in.*") +: Seq(col(RowId), col(SubId), col(ErrCls), col(ErrMsg)): _*)
      (ok, failed)
    }
    val (ok, failed) = run(f, good)
    val reapply = (fn: AnyRef, rows: DataFrame) =>
      run(fn.asInstanceOf[Row => Row], rows.drop(ErrCls, ErrMsg))
    new DataSet(ctx, ok,
      BadBatch(opId + 1, failed, Some(reapply)) :: retired, opId + 1)
  }

  /** Row → many rows with exception capture — UDTF-style superset (the
    * reference has no flatMap at all, SURVEY §2.9); same error-channel and
    * resolver semantics as [[mapRows]]. */
  def flatMapRows(outSchema: StructType)(f: Row => IterableOnce[Row]): DataSet = {
    val inSchema = schema
    val inCols = columns
    val nOut = outSchema.length
    // error rows carry nulls in the out fields — the internal encoder must
    // allow that even when the caller declared them non-nullable. Side
    // effect: the visible output schema is nullable-widened too (standard
    // Spark behavior for map-style operators).
    val outNullable = outSchema.fields.toSeq.map(_.copy(nullable = true))
    val full = StructType(outNullable ++ Seq(
      StructField("_g_in", inSchema, nullable = false),
      StructField(RowId, LongType, nullable = false),
      StructField(SubId, LongType, nullable = false),
      StructField(ErrCls, StringType, nullable = true),
      StructField(ErrMsg, StringType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(full)
    def run(g: Row => IterableOnce[Row], src: DataFrame): (DataFrame, DataFrame) = {
      val withSub = if (src.columns.contains(SubId)) src
        else src.withColumn(SubId, lit(0L))
      val pre = withSub.select(struct(inCols.map(col): _*).as("_g_in"),
        col(RowId), col(SubId))
      val mapped = pre.mapPartitions { it =>
        it.flatMap { r =>
          val in = r.getStruct(0); val id = r.getLong(1); val parentSub = r.getLong(2)
          // materialize inside the try: lazy iterators would throw outside
          // the per-row exception scope. ONLY the user function is tried —
          // the sort-key bounds checks below must fail loudly, not divert
          // into the error channel as if the user's UDF threw.
          val expanded =
            try Right(g(in).iterator.toVector)
            catch { case e: Throwable => Left(e) }
          expanded match {
            case Right(v) =>
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
            case Left(e) =>
              // failed rows keep the PARENT's sub-id unshifted: on resolve
              // the reapply uses it as parentSub again, so repaired
              // expansions slot in exactly where the original would have
              Seq(Row.fromSeq(Seq.fill[Any](nOut)(null) ++
                Seq(in, id, parentSub, errName(e), String.valueOf(e.getMessage))))
          }
        }
      }(enc)
      val ok = mapped.filter(col(ErrCls).isNull)
        .select(outSchema.fieldNames.map(col) ++ Seq(col(RowId), col(SubId)): _*)
      val failed = mapped.filter(col(ErrCls).isNotNull)
        .select(col("_g_in.*") +: Seq(col(RowId), col(SubId), col(ErrCls), col(ErrMsg)): _*)
      (ok, failed)
    }
    val (ok, failed) = run(f, good)
    val reapply = (fn: AnyRef, rows: DataFrame) =>
      run(fn.asInstanceOf[Row => IterableOnce[Row]], rows.drop(ErrCls, ErrMsg))
    new DataSet(ctx, ok,
      BadBatch(opId + 1, failed, Some(reapply)) :: retired, opId + 1)
  }

  /** `filter(ftor)` with exception capture (`dataset.py:83-111`): rows
    * where the predicate throws divert to the error channel. */
  def filterUdf[A: TypeTag](in: Column)(f: A => Boolean): DataSet = {
    val u = tryUdf(f)
    val tmp = good.withColumn("_g_res", u(in))
    val (ok0, failed) = split(tmp, "_g_keep")
    val ok = ok0.filter(col("_g_keep")).drop("_g_keep")
    val reapply = (fn: AnyRef, rows: DataFrame) => {
      val ug = tryUdf(fn.asInstanceOf[A => Boolean])
      val (rok, rbad) = split(rows.drop(ErrCls, ErrMsg).withColumn("_g_res", ug(in)), "_g_keep")
      (rok.filter(col("_g_keep")).drop("_g_keep"), rbad.drop("_g_keep"))
    }
    // composed single-UDF fused resolve — see failableColumnOp; the kept
    // rows additionally need the (possibly resolver-supplied) predicate
    // to be true
    val fuse = (cls: String, fn: AnyRef) => {
      val (ok2, failed2) = split(good.withColumn("_g_res",
        tryResolveUdf(f, cls, fn.asInstanceOf[A => Boolean]).apply(in)), "_g_keep")
      (ok2.filter(col("_g_keep")).drop("_g_keep"), failed2)
    }
    new DataSet(ctx, ok,
      BadBatch(opId + 1, failed, Some(reapply), Some(fuse)) :: retired, opId + 1)
  }

  // ------------------------------------- resolve / ignore (dataset.py §2.7)

  /** Attach a resolver for `errClass` exceptions raised by the preceding
    * operator (`dataset.py:162-199`). The resolver gets the same input the
    * failing UDF got; it may itself throw (chaining into further
    * resolvers). Matching is by exact exception class name. */
  def resolve[A, B](errClass: Class[_ <: Throwable])(f: A => B): DataSet =
    resolveName(errClass.getName)(f)

  /** Resolve rows that failed with one specific [[GraftErr]] code — the
    * reference's native resolution granularity (resolvers bind to an
    * ExceptionCode, not a host-language class). `resolve(classOf[
    * GraftErr])` remains the catch-all over every code. */
  def resolveCode[A, B](code: Long)(f: A => B): DataSet =
    resolveName(GraftErr.clsName(code))(f)

  private def resolveName[A, B](cls: String)(f: A => B): DataSet = bad match {
    // Pristine batch (first resolve after the failing op or csv parse):
    // SINGLE-SCAN COMPOSED merge — op function (or parse) and resolver run
    // in ONE projection (normal-case specialization), so the merged good
    // frame is one plan over one pass of the input instead of
    // `good ∪ re-executed(bad)`, which duplicates the whole upstream
    // subtree (scans, joins) per resolver — and a repaired row never
    // materializes error strings or pays a second ScalaUDF round-trip.
    // Chained resolves/ignores mutate the batch and fall back to the union
    // path below (fuse is only valid against the untouched split).
    case head :: rest if head.fuse.isDefined =>
      val (merged, newBad) = head.fuse.get(cls, f)
      new DataSet(ctx, merged,
        head.copy(rows = newBad, fuse = None) :: rest, opId)
    case head :: rest if head.reapply.isDefined =>
      val matching = head.rows.filter(clsMatch(col(ErrCls), cls))
      val nonMatching = head.rows.filter(!clsMatch(col(ErrCls), cls))
      val (ok, stillBad) = head.reapply.get(f, matching)
      val merged = good.unionByName(ok.select(good.columns.map(col): _*))
      new DataSet(ctx, merged,
        head.copy(rows = nonMatching.unionByName(stillBad), fuse = None) :: rest, opId)
    case _ =>
      throw new IllegalStateException(
        "resolve() must directly follow a UDF operator (or another resolve/ignore)")
  }

  /** Silently drop rows that raised `errClass` in the preceding operator
    * (`dataset.py:319-344`). */
  def ignore(errClass: Class[_ <: Throwable]): DataSet =
    ignoreName(errClass.getName)

  /** Drop rows that failed with one specific [[GraftErr]] code. */
  def ignoreCode(code: Long): DataSet = ignoreName(GraftErr.clsName(code))

  private def ignoreName(cls: String): DataSet = bad match {
    // head.opId == opId ⇒ the batch belongs to the immediately preceding
    // operator (incl. input parse errors, which carry no resolver reapply)
    case head :: rest if head.opId == opId =>
      // the batch's row set changes ⇒ a later fuse against the pristine
      // split would resurrect the ignored rows; drop it (reapply stays
      // valid — it operates on the filtered rows themselves)
      new DataSet(ctx, good,
        head.copy(rows = head.rows.filter(!clsMatch(col(ErrCls), cls)),
          fuse = None) :: rest, opId)
    case _ =>
      throw new IllegalStateException(
        "ignore() must directly follow a UDF operator (or another resolve/ignore)")
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

  /** Closure-side analogue of [[clsMatch]] — same semantics, evaluated on
    * the Throwable itself so a composed try-resolve UDF can route the
    * exception without materializing the error-class string at all. */
  private[api] def clsHit(cls: String): Throwable => Boolean =
    e => (cls == GraftErr.ClassName && e.isInstanceOf[GraftErr]) ||
      errName(e) == cls

  /** Match predicate over an error-class column: exact name, except the
    * bare [[GraftErr]] class matches every code (prefix match) — so
    * `resolve(classOf[GraftErr])` is the catch-all and `resolveCode` the
    * precise form. */
  private[api] def clsMatch(c: Column, cls: String): Column =
    if (cls == GraftErr.ClassName) c.startsWith(GraftErr.ClassName + ":")
    else c === cls

  private[api] val RowId = "_g_rowid"
  private[api] val SubId = "_g_subid"
  private[api] val ErrCls = "_g_cls"
  private[api] val ErrMsg = "_g_msg"
  private[api] val RawLine = "_g_raw"
  private[api] val HiddenCols: Set[String] = Set(RowId, SubId, ErrCls, ErrMsg, RawLine)

  private[api] def fromDataFrame(ctx: Context, df: DataFrame): DataSet =
    new DataSet(ctx, df.withColumn(RowId, monotonically_increasing_id()), Nil, 0)

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
    * resolvers). The first `resolve` is FUSED into the same scan: a
    * `CaseWhen` runs [[csvFixUdf]] only on rows whose corrupt column is
    * set, and the result splits into ok/still-failed with the UDF ops'
    * filters — no `Union`, no second scan and parse of the input. Still-
    * failed rows keep [[RawLine]] and [[RowId]], so a chained resolver (the
    * reapply, on the union path) retries from the original line and merges
    * in file order. `extraNulls` (null-value strings beyond the first —
    * Spark parses only one natively) are substituted on the good channel
    * only — for typed columns a row whose cell holds a secondary null
    * token cannot parse and diverts to the error channel instead. */
  private[api] def fromCsvParse(ctx: Context, parsed: DataFrame, schema: StructType,
      parseOpts: Map[String, String], extraNulls: Seq[String]): DataSet = {
    val p = col(Parsed)
    val corrupt = p.getField(CorruptCol)
    def cell(n: String): Column =
      extraNulls.foldLeft(p.getField(n))((c, nv) => when(c === nv, lit(null)).otherwise(c))
    val good = parsed.filter(corrupt.isNull)
      .select(schema.fieldNames.map(n => cell(n).as(n)) :+ col(RowId): _*)
    val failed = parsed.filter(corrupt.isNotNull)
      .select(schema.fieldNames.map(n => p.getField(n).as(n)) ++ Seq(col(RawLine),
        col(RowId), lit(ParseErrorClass).as(ErrCls), corrupt.as(ErrMsg)): _*)
    def fix(fn: AnyRef): Column =
      csvFixUdf(schema, fn.asInstanceOf[Row => Row])(relaxedCells(schema, parseOpts))
    val reapply = (fn: AnyRef, rows: DataFrame) =>
      splitFixed(rows.withColumn(Fix, fix(fn)), schema, n => col(Fix).getField(n))
    val fuse = (cls: String, fn: AnyRef) =>
      if (cls != ParseErrorClass) (good, failed) // the resolver matches no parse error
      else splitFixed(parsed.withColumn(Fix, when(corrupt.isNotNull, fix(fn))), schema,
        n => when(corrupt.isNull, cell(n)).otherwise(col(Fix).getField(n)))
    new DataSet(ctx, good, List(BadBatch(0, failed, Some(reapply), Some(fuse))), 0)
  }

  /** The [[csvFixUdf]] result column of a csv resolve. */
  private val Fix = "_g_fix"

  /** The relaxed re-parse a csv resolver sees: every cell of the raw line
    * as a string, no failure mode. */
  private def relaxedCells(schema: StructType, parseOpts: Map[String, String]): Column =
    from_csv(col(RawLine),
      StructType(schema.fields.map(x => StructField(x.name, StringType, nullable = true))),
      parseOpts - "mode" - "columnNameOfCorruptRecord")

  /** Try-UDF of a csv resolve: relaxed cells → the resolver's typed row
    * plus null class/message, or null fields plus the resolver's own
    * exception class/message (which replace the parse error's for matching
    * and reporting). Nondeterministic like [[tryUdf]]: one evaluation per
    * row, pinned in its projection. */
  private def csvFixUdf(schema: StructType, f: Row => Row) = {
    val n = schema.length
    val out = StructType(schema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField(ErrCls, StringType, nullable = true),
      StructField(ErrMsg, StringType, nullable = true)))
    udf(new org.apache.spark.sql.api.java.UDF1[Row, Row] {
      def call(cells: Row): Row =
        try Row.fromSeq(f(cells).toSeq ++ Seq(null, null))
        catch { case e: Throwable =>
          Row.fromSeq(Seq.fill[Any](n)(null) ++ Seq(errName(e), String.valueOf(e.getMessage)))
        }
    }, out).asNondeterministic()
  }

  /** Split a frame carrying the [[Fix]] column into the ok rows (`value`
    * of each field, plus the row id) and the still-failed rows (raw line
    * and row id kept, the resolver's class and message). */
  private def splitFixed(fixed: DataFrame, schema: StructType,
      value: String => Column): (DataFrame, DataFrame) = {
    val fix = col(Fix)
    val ok = fixed.filter(fix.getField(ErrCls).isNull)
      .select(schema.fieldNames.map(n => value(n).as(n)) :+ col(RowId): _*)
    val stillBad = fixed.filter(fix.getField(ErrCls).isNotNull)
      .select(schema.fieldNames.map(n => fix.getField(n).as(n)) ++ Seq(col(RawLine),
        col(RowId), fix.getField(ErrCls).as(ErrCls), fix.getField(ErrMsg).as(ErrMsg)): _*)
    (ok, stillBad)
  }

  /** Exception class used for input parse failures (exact-name matched by
    * `ignore`/`resolve`, like every other error-channel class). */
  val ParseErrorClass: String = classOf[CsvParseError].getName
}

/** Marker exception for rows that failed input parsing (bad CSV cell /
  * malformed line) — the input-exception analogue of the reference's
  * parse-error path (`PhysicalPlan.cc:202-208`). */
class CsvParseError(msg: String) extends RuntimeException(msg)
