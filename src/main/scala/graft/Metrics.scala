package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-query layer counters for the Bench and Verify run records. One
  * SparkListener attributes every job, and the stages and tasks of that
  * job, to the query that started it, so the counters stay per query
  * under Verify's concurrent pool. [[timed]] runs a query through
  * `QueryRunner.timed`, which tags the query's jobs with
  * `QueryRunner.jobTag`. Attribution goes by that tag, not by the job
  * group `QueryRunner.timed` also sets: a stream drain's micro-batch jobs
  * run under StreamExecution's own job group (its run id), but they
  * inherit the tag. The layer names
  * are `BENCHMARK.json`'s `per_layer` names.
  *
  * With `codegen = true` each query also gets the JVM-wide codegen
  * compile count and compile time taken around it; those counters are
  * only the query's own when queries run one at a time (Bench).
  *
  * Only Bench and Verify attach it; the benchmark harness never does. */
final class Metrics private (spark: SparkSession, codegen: Boolean)
    extends SparkListener {

  private final class Acc {
    val startNs: Long = System.nanoTime()
    val startMs: Long = System.currentTimeMillis()
    val compiles0: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0: Long = CodeGenerator.compileTime
    val jobs, stages, tasks, failedTasks, writeB, readB, spillB = new AtomicLong
    val inputB, inputRecs, outputB, cpuNs, runMs, gcMs = new AtomicLong
    val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  }

  private val running = new ConcurrentHashMap[String, Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(',').iterator.map(running.get).find(_ != null)).foreach { a =>
        a.jobs.incrementAndGet()
        e.stageIds.foreach(stageOwner.putIfAbsent(_, a))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { a =>
      a.stages.incrementAndGet()
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        a.stageSpans.add((s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { a =>
      a.tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) a.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spillB.addAndGet(m.diskBytesSpilled)
        a.inputB.addAndGet(m.inputMetrics.bytesRead)
        a.inputRecs.addAndGet(m.inputMetrics.recordsRead)
        a.outputB.addAndGet(m.outputMetrics.bytesWritten)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
      }
    }

  /** Runs query `name`'s `body` through `QueryRunner.timed` and returns
    * its outcome, its wall in seconds and its layer counters. The
    * listener bus is drained after the wall is taken. */
  def timed(name: String)(body: => Unit): Metrics.Run = {
    val tag = QueryRunner.jobTag(name)
    val a = new Acc
    running.put(tag, a)
    val result = QueryRunner.timed(spark, name)(body)
    val secs = (System.nanoTime() - a.startNs) / 1e9
    val endMs = System.currentTimeMillis()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - a.compiles0
    val compileS = (CodeGenerator.compileTime - a.compileNs0) / 1e9
    GraftBridge.drainListenerBus(spark.sparkContext)
    running.remove(tag, a)
    stageOwner.values.removeIf(_ eq a)
    val mb = 1048576.0
    val layers = Map(
      "scheduler.jobs" -> a.jobs.get.toDouble,
      "scheduler.stages" -> a.stages.get.toDouble,
      "scheduler.tasks" -> a.tasks.get.toDouble,
      "scheduler.failed_tasks" -> a.failedTasks.get.toDouble,
      "scheduler.driver_gap_s" -> driverGapS(a, endMs),
      "exchange.write_mb" -> a.writeB.get / mb,
      "exchange.read_mb" -> a.readB.get / mb,
      "spill.disk_mb" -> a.spillB.get / mb,
      "scan.input_mb" -> a.inputB.get / mb,
      "scan.input_records" -> a.inputRecs.get.toDouble,
      "sink.output_mb" -> a.outputB.get / mb,
      "executor.cpu_s" -> a.cpuNs.get / 1e9,
      "executor.run_s" -> a.runMs.get / 1000.0,
      "executor.gc_s" -> a.gcMs.get / 1000.0) ++
      (if (codegen) Map("codegen.compiles" -> compiles.toDouble,
        "codegen.compile_s" -> compileS) else Map.empty)
    Metrics.Run(result, secs, layers)
  }

  /** Time in the query's own span covered by none of its stages. */
  private def driverGapS(a: Acc, endMs: Long): Double = {
    import scala.jdk.CollectionConverters._
    val spans = a.stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, a.startMs), math.min(c, endMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var end = a.startMs
    spans.foreach { case (s, c) =>
      if (c > end) { covered += c - math.max(s, end); end = c }
    }
    (endMs - a.startMs - covered) / 1000.0
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Metrics {
  final case class Run(result: Either[String, Unit], secs: Double,
      layers: Map[String, Double])

  def attach(spark: SparkSession, codegen: Boolean): Metrics = {
    val m = new Metrics(spark, codegen)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
