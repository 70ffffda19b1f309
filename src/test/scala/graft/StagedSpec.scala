package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Staged

/** The one staging memo: one build per key under concurrent first
  * calls, nested staging, no memo of a failed build, and a staged table
  * read back with the inferred schema and no inference job. */
class StagedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A key no other case or module uses (the memo lives for the JVM). */
  private def fresh(name: String) = ("staged-spec", name, java.util.UUID.randomUUID())

  test("concurrent first calls for one key run the build once") {
    val key = fresh("concurrent")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        Staged.once(key) { builds.incrementAndGet(); Thread.sleep(200); "v" }
      })
      start.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(got.forall(_ == "v"))
      assert(builds.get == 1, s"${builds.get} builds")
      assert(Staged.once[String](key)(sys.error("built twice")) == "v")
    } finally pool.shutdownNow(): Unit
  }

  test("a build that stages another key completes, and blocks no other key") {
    val outer = fresh("outer")
    val inner = fresh("inner")
    assert(Staged.once(outer)(Staged.once(inner)(1) + 1) == 2)
    assert(Staged.once[Int](inner)(sys.error("rebuilt")) == 1)
    // a build in progress on one key does not hold up a build of another
    val slow = fresh("slow")
    val release = new CountDownLatch(1)
    val t = new Thread(() => { Staged.once(slow) { release.await(); 0 }; () })
    t.start()
    try assert(Staged.once(fresh("other"))(7) == 7)
    finally release.countDown()
    t.join(TimeUnit.SECONDS.toMillis(30))
    assert(!t.isAlive)
  }

  test("a failing build is not memoized; the next call builds again") {
    val key = fresh("failing")
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Staged.once[Int](key) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(Staged.once(key) { builds.incrementAndGet(); 5 } == 5)
    assert(builds.get == 2)
  }

  test("a staged table reads back with the inferred schema and no job before the action") {
    import spark.implicits._
    val key = fresh("table")
    def src = spark.range(0, 50).select(col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
      array(col("id"), lit(1L)).as("a"))
    val sc = spark.sparkContext
    def jobsOf[T](g: String)(f: => T): (T, Int) = {
      sc.setJobGroup(g, g)
      val r = try f finally sc.clearJobGroup()
      (r, sc.statusTracker.getJobIdsForGroup(g).length)
    }
    val (_, stagingJobs) = jobsOf("staged-first")(Staged.table(spark, key, "graft_staged_spec")(src))
    assert(stagingJobs > 0)
    val (df, jobs) = jobsOf("staged-again")(
      Staged.table(spark, key, "graft_staged_spec")(sys.error("restaged")))
    assert(jobs == 0, s"the staged read submitted $jobs jobs")
    val dir = new org.apache.hadoop.fs.Path(df.inputFiles.head).getParent.toString
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.as[(Long, Option[String], Seq[Long])].collect().sortBy(_._1).toSeq ==
      src.as[(Long, Option[String], Seq[Long])].collect().toSeq)
  }
}
