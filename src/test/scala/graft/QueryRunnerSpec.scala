package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The failure status `QueryRunner.timed` records for a query, and the
  * cancellation of a timed-out query's jobs. */
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

  test("a timed-out stream drain leaves no job of the query running") {
    val name = "slow-drain"
    val tag = QueryRunner.jobTag(name)
    val dir = java.nio.file.Files.createTempDirectory("graft_slow_drain").toString
    val slow = udf { (x: Long) => Thread.sleep(50); x }
    def drain(rows: Int, at: String): Unit = {
      spark.range(0, rows).coalesce(1).write.parquet(s"$dir/$at/in")
      val q = spark.readStream.schema("id long").parquet(s"$dir/$at/in")
        .select(slow(col("id")).as("id"))
        .writeStream.format("noop").option("checkpointLocation", s"$dir/$at/chk").start()
      try q.processAllAvailable() finally q.stop()
    }
    // a warm drain first, so the timed drain's micro-batch job is running
    // well before its 1 s deadline
    drain(4, "warm")
    val tagged = new ConcurrentHashMap[Int, Boolean]()
    val running = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        tagged.put(e.jobId, tags.exists(_.split(',').contains(tag)))
        running.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId): Unit
    }
    spark.sparkContext.addSparkListener(jobs)
    try {
      // one micro-batch of one 200-row task at 50 ms a row: ~10 s of work
      val r = QueryRunner.timed(spark, name, timeoutSec = 1)(drain(200, "timed"))
      assert(r == Left("timeout"))
      val deadline = System.nanoTime() + 4000000000L
      while ((tagged.isEmpty || !running.isEmpty) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(!tagged.isEmpty, "the drain ran no job")
      assert(running.isEmpty, s"jobs still running 4 s after the timeout: $running")
      assert(tagged.asScala.forall(_._2), s"jobs without the tag $tag: $tagged")
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.active.foreach(_.stop())
    }
  }
}
