package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Metrics` attributes layer counters to the query that caused
  * them: shuffle bytes follow the executed plan, concurrent queries
  * record what each records alone, and a stream drain's micro-batch jobs
  * (which run under StreamExecution's own job group) count toward the
  * query that started the drain. */
class MetricsSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val metrics = Metrics.attach(spark, codegen = false)
  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    metrics.detach()
    super.afterAll()
  }

  private def run(name: String): Metrics.Run = {
    val r = metrics.timed(name) {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    assert(r.result.isRight, s"$name: ${r.result}")
    r
  }

  test("exchange.write_mb is > 0 with a ShuffleExchangeExec in the plan, 0 without") {
    def shuffles(name: String): Boolean =
      collect(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }.nonEmpty
    val (withExchange, without) =
      Seq("q_filter", "q_map_project", "q_agg_bykey", "q1_agg").partition(shuffles)
    assert(withExchange.nonEmpty && without.nonEmpty,
      s"need both plan shapes: with=$withExchange without=$without")
    withExchange.foreach(n => assert(run(n).layers("exchange.write_mb") > 0, n))
    without.foreach { n =>
      val l = run(n).layers
      assert(l("exchange.write_mb") === 0.0, n)
      assert(l("exchange.read_mb") === 0.0, n)
    }
  }

  test("two concurrent queries record the jobs, stages and input rows each records alone") {
    val names = Seq("q_agg_bykey", "q_join_inner")
    def key(r: Metrics.Run): Seq[Double] =
      Seq("scheduler.jobs", "scheduler.stages", "scan.input_records").map(r.layers)
    names.foreach(run) // warm file indexes and codegen first
    val alone = names.map(n => n -> key(run(n))).toMap
    val pool = Executors.newFixedThreadPool(names.size)
    try {
      val concurrent = names.map(n => n -> pool.submit(new Callable[Seq[Double]] {
        def call(): Seq[Double] = key(run(n))
      }))
      concurrent.foreach { case (n, f) =>
        assert(f.get(5, TimeUnit.MINUTES) === alone(n), n)
      }
    } finally pool.shutdown()
    assert(alone.values.forall(_.head > 0))
  }

  test("a stream drain's micro-batch jobs count toward the query that ran it") {
    val name = "q_stream_window"
    run(name) // warm
    val inGroup = new AtomicInteger
    val byGroup = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == name) inGroup.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(byGroup)
    val r = try run(name) finally spark.sparkContext.removeSparkListener(byGroup)
    assert(r.layers("scheduler.jobs") > inGroup.get,
      s"micro-batch jobs were not attributed: ${r.layers("scheduler.jobs")} jobs, ${inGroup.get} in the job group")
  }
}
