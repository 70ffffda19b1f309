package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's exception-interleaving matrix, ported case by case
  * with its LITERAL fixtures and documented expected outputs
  * (`/root/reference/tuplex/python/tests/test_exceptions.py:37-268`).
  *
  * Scope note (typed-JVM divergence, documented on
  * [[graft.api.Context.parallelizeAny]]): the reference's mixed
  * string+number fixtures (e.g. `[1, 2, "a", ...]`) ride its PYOBJECT
  * interpreter fallback — a CPython escape hatch a typed DataFrame
  * engine deliberately does not reproduce. Every case below is the
  * reference's own fixture restricted to its typed subset; the
  * dual-mode semantics under test (failed rows divert, resolvers repair
  * or re-raise, unresolved rows drop, survivors merge at their ORIGINAL
  * positions) are identical.
  */
class ReferenceExceptionMatrixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val ctx = new Context(spark)
  import spark.implicits._

  /** Python's `1 // x`: floor division, raising on zero like the JVM. */
  private def pyFloorDiv(a: Long, b: Long): Long = Math.floorDiv(a, b)

  // --- test_merge_with_filter (float fixture, test_exceptions.py:46-47) ---
  test("filter keeps [-1.1,-2.2,4,5,-6.6] of the mixed-sign float fixture in order") {
    val out = ctx.parallelize(Seq(-1.1, 1.0, 2.0, -2.2, 4.0, 5.0, -6.6), Seq("x"))
      .filter(col("x") < 0 || col("x") > 3)
      .collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(-1.1, -2.2, 4.0, 5.0, -6.6))
  }

  // --- test_merge_runtime_only (test_exceptions.py:127-129) ---------------
  test("[1,0,0,4].map(1//x).resolve(->-1) == [1,-1,-1,0] (reference literal)") {
    val out = ctx.parallelize(Seq(1L, 0L, 0L, 4L), Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x => pyFloorDiv(1L, x))
      .resolve(classOf[ArithmeticException])((_: Long) => -1L)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, -1L, -1L, 0L))
  }

  test("all-zero column resolves everywhere (test_exceptions.py:131-132, n=10000)") {
    val n = 10000
    val out = ctx.parallelize(Seq.fill(n)(0L), Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x => pyFloorDiv(1L, x))
      .resolve(classOf[ArithmeticException])((_: Long) => -1L)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq.fill(n)(-1L))
  }

  test("every-100th-zero fixture merges resolved rows in place (test_exceptions.py:134-149)") {
    val n = 10000
    val input = (0 until n).map(i => if (i % 100 == 0) 0L else i.toLong)
    val expected = (0 until n).map(i =>
      if (i % 100 == 0) -1L else pyFloorDiv(1L, i.toLong))
    val out = ctx.parallelize(input, Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x => pyFloorDiv(1L, x))
      .resolve(classOf[ArithmeticException])((_: Long) => -1L)
      .collect().map(_.getLong(0)).toSeq
    assert(out === expected)
  }

  // --- test_merge_some_fail (test_exceptions.py:151-160) ------------------
  // map raises for {-1,-2,-3}; the resolver RE-RAISES for -2 (stays
  // unresolved, drops from collect) and returns x for -1/-3 — the
  // resolver-raises interleaving, with the reference's exact fixture.
  test("resolver that re-raises for -2 drops exactly the -2 rows (reference literal)") {
    val input = Seq(1L, 2L, -1L, 5L, 6L, 7L, -2L, 10L, 11L, 12L, -3L, 15L)
    val out = ctx.parallelize(input, Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x =>
        if (x == -1L || x == -2L || x == -3L) pyFloorDiv(1L, x - x) else x)
      .resolve(classOf[ArithmeticException])((x: Long) =>
        if (x == -2L) pyFloorDiv(1L, x - x) else x)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 2L, -1L, 5L, 6L, 7L, 10L, 11L, 12L, -3L, 15L))
  }

  // --- process() / test_everything (test_exceptions.py:64-113) ------------
  // The 4-marker density matrix: -1 filtered, "schema" markers stand in
  // as -4 (typed subset; the reference uses strings via PYOBJECT),
  // -2 resolved, -3 resolver-raises (drops). Expected output is the
  // reference's formula: every input except the filtered and the
  // unresolved, in original order. Scatter positions come from a SEEDED
  // shuffle — the reference shuffles unseeded; semantics don't depend on
  // which rows carry markers, only that all four classes interleave.
  private def processCase(n: Int): Unit = {
    val rnd = new scala.util.Random(42)
    val inds = rnd.shuffle((0 until n).toVector).iterator
    val input = Array.tabulate(n)(i => (i + 1).toLong)
    val q = n / 4
    (1 to q).foreach(_ => input(inds.next()) = -1L)
    (1 to q).foreach(_ => input(inds.next()) = -4L)
    (1 to q).foreach(_ => input(inds.next()) = -2L)
    (1 to q).foreach(_ => input(inds.next()) = -3L)

    val out = ctx.parallelize(input.toSeq, Seq("x"))
      .filter(col("x") =!= -1L)
      .mapColumnUdf[Long, Long]("x")(x =>
        if (x == -2L || x == -3L) pyFloorDiv(1L, x - x) else x)
      .resolve(classOf[ArithmeticException])((x: Long) =>
        if (x == -3L) pyFloorDiv(1L, x - x) else x)
      .collect().map(_.getLong(0)).toSeq
    val expected = input.toSeq.filter(x => x != -3L && x != -1L)
    assert(out === expected, s"process($n) diverged from the reference formula")
  }

  test("process(100, .25/.25/.25/.25) matches the reference's expected formula") {
    processCase(100)
  }
  test("process(1000, .25/.25/.25/.25) matches the reference's expected formula") {
    processCase(1000)
  }
  test("process(10000, .25/.25/.25/.25) matches the reference's expected formula") {
    processCase(10000)
  }

  // --- test_empty_result / test_no_normal_rows (test_exceptions.py:233-242)
  test("filter to empty result stays empty through the error machinery") {
    val out = ctx.parallelize(Seq(1L, 3L, 4L), Seq("x"))
      .filter(col("x") === -1L)
      .mapColumnUdf[Long, Long]("x")(x => x)
      .collect()
    assert(out.isEmpty)
  }

  // --- ignore-then-resolve interleaving ------------------------------------
  // The reference composes ignore() and resolve() freely
  // (dataset.py ignore/resolve chains); the pinned ordering: an ignore
  // BEFORE a resolver swallows its class first, the later resolver only
  // sees the remaining class — survivors still merge in input order.
  test("ignore(A) then resolve(B): A-rows drop in place, B-rows repair in place") {
    val input = Seq(1L, -2L, 2L, -3L, 3L, -2L, 4L)
    val out = ctx.parallelize(input, Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x =>
        if (x == -2L) throw new ArithmeticException("a")
        else if (x == -3L) throw new IllegalStateException("b")
        else x)
      .ignore(classOf[ArithmeticException])
      .resolve(classOf[IllegalStateException])((_: Long) => 99L)
      .collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 2L, 99L, 3L, 4L))
  }

  // Step order: each handler sees the class the row carries when the chain
  // reaches it — an ignore never sees a class a LATER resolver throws, and
  // an ignore AFTER a resolver sees what that resolver threw.
  test("ignore(A) then a resolve(B) that throws A: the row stays failed as A") {
    val ds = ctx.parallelize(Seq(1L, -2L, -3L, 4L), Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x =>
        if (x == -2L) throw new ArithmeticException("a")
        else if (x == -3L) throw new IllegalStateException("b")
        else x)
      .ignore(classOf[ArithmeticException])
      .resolve[Long, Long](classOf[IllegalStateException])(_ =>
        throw new ArithmeticException("from the resolver"))
    assert(ds.collect().map(_.getLong(0)).toSeq === Seq(1L, 4L))
    assert(ds.exceptionCounts === Map(classOf[ArithmeticException].getName -> 1L))
  }

  test("resolve(A) whose resolver throws B, then ignore(B): the row is dropped") {
    val ds = ctx.parallelize(Seq(1L, -2L, -3L, 4L), Seq("x"))
      .mapColumnUdf[Long, Long]("x")(x =>
        if (x < 0L) throw new ArithmeticException("a") else x)
      .resolve(classOf[ArithmeticException])((x: Long) =>
        if (x == -3L) throw new IllegalStateException("b") else -x)
      .ignore(classOf[IllegalStateException])
    assert(ds.collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    assert(ds.exceptionCounts.isEmpty)
  }
}
