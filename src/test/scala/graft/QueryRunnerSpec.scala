package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The failure status `QueryRunner.timed` records for a query. */
class QueryRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("a message-less exception is named by its class, not recorded as null") {
    val r = QueryRunner.timed(spark, "npe") { throw new NullPointerException() }
    assert(r.isLeft)
    assert(r.swap.exists(_.contains("NullPointerException")), s"got $r")
  }

  test("an exception with a message keeps the message") {
    val r = QueryRunner.timed(spark, "iae") { throw new IllegalArgumentException("bad k") }
    assert(r.swap.exists(m => m.contains("IllegalArgumentException") && m.contains("bad k")),
      s"got $r")
  }
}
