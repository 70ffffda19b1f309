package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stackless code-classed errors (reference parity: ExceptionCodes.h i64
  * codes with no stack traces). Covers: zero-cost construction contract,
  * per-code resolution (first and chained resolves alike run as one
  * handler chain inside the failing operator's scan), catch-all class
  * resolution, per-code ignore, per-code exceptionCounts, and coexistence
  * with plain JVM exceptions in one pipeline. */
class GraftErrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val ctx = new Context(spark)

  private def mixed = {
    import spark.implicits._
    // x%3==0 → code 7; x%3==1 → code 8; x%3==2 → ok
    ctx.parallelize(Seq(0, 1, 2, 3, 4, 5), Seq("x"))
      .withColumnUdf[Int, Int]("y", col("x")) { x =>
        if (x % 3 == 0) GraftErr.fail(7)
        else if (x % 3 == 1) GraftErr.fail(8, s"odd one: $x")
        else x * 10
      }
  }

  test("GraftErr is stackless and code-carrying") {
    val e = GraftErr(42, "boom")
    assert(e.getStackTrace.isEmpty)
    assert(e.code == 42L && e.getMessage == "boom")
    assert(GraftErr(5).getMessage == "code 5")
    // cached message-less throw reuses one instance per code
    val i1 = intercept[GraftErr](GraftErr.fail(9))
    val i2 = intercept[GraftErr](GraftErr.fail(9))
    assert(i1 eq i2)
  }

  test("exceptionCounts reports per-code classes") {
    assert(mixed.exceptionCounts == Map(
      GraftErr.clsName(7) -> 2L, GraftErr.clsName(8) -> 2L))
  }

  test("resolveCode resolves only its code (fused single-scan path)") {
    val r = mixed.resolveCode[Int, Int](7L)(_ => -7)
    assert(r.collect().map(_.getInt(1)).toSeq == Seq(-7, 20, -7, 50))
    assert(r.exceptionCounts == Map(GraftErr.clsName(8) -> 2L))
  }

  test("resolveCode chains per code (union path after first resolve)") {
    val r = mixed
      .resolveCode[Int, Int](7L)(_ => -7)
      .resolveCode[Int, Int](8L)(x => -x)
    assert(r.collect().map(_.getInt(1)).toSeq == Seq(-7, -1, 20, -7, -4, 50))
    assert(r.exceptionCounts.isEmpty)
  }

  test("resolve(classOf[GraftErr]) is the catch-all over every code") {
    val r = mixed.resolve[Int, Int](classOf[GraftErr])(_ => 0)
    assert(r.collect().map(_.getInt(1)).toSeq == Seq(0, 0, 20, 0, 0, 50))
    assert(r.exceptionCounts.isEmpty)
  }

  test("ignoreCode drops only its code") {
    val r = mixed.ignoreCode(8L)
    assert(r.exceptionCounts == Map(GraftErr.clsName(7) -> 2L))
    assert(r.collect().map(_.getInt(1)).toSeq == Seq(20, 50))
  }

  test("GraftErr and JVM exceptions coexist; class matching stays exact") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(1, 2, 3, 4), Seq("x"))
      .withColumnUdf[Int, Int]("y", col("x")) { x =>
        if (x % 2 == 0) GraftErr.fail(1)
        else if (x == 3) throw new IllegalStateException("jvm")
        else x
      }
    assert(ds.exceptionCounts == Map(
      GraftErr.clsName(1) -> 2L, "java.lang.IllegalStateException" -> 1L))
    // resolving the JVM class must not touch GraftErr rows and vice versa
    val r1 = ds.resolve[Int, Int](classOf[IllegalStateException])(_ => -3)
    assert(r1.exceptionCounts == Map(GraftErr.clsName(1) -> 2L))
    val r2 = r1.resolveCode[Int, Int](1L)(_ => 0)
    assert(r2.collect().map(_.getInt(1)).toSeq == Seq(1, 0, -3, 0))
  }

  test("resolver itself may throw a GraftErr, chaining into the next resolver") {
    import spark.implicits._
    val ds = ctx.parallelize(Seq(1, 2, 3), Seq("x"))
      .withColumnUdf[Int, Int]("y", col("x")) { x =>
        if (x == 2) GraftErr.fail(10) else x
      }
      .resolveCode[Int, Int](10L)(_ => GraftErr.fail(11))
    assert(ds.exceptionCounts == Map(GraftErr.clsName(11) -> 1L))
    val r = ds.resolveCode[Int, Int](11L)(_ => 99)
    assert(r.collect().map(_.getInt(1)).toSeq == Seq(1, 99, 3))
  }
}
