package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

/** Per-layer counters for one pass, from a SparkListener (scheduler,
  * exchange, spill, scan, sink and executor task metrics) and a
  * QueryExecutionListener (Catalyst analysis, optimization and planning
  * phases). Both are attached only between `start()` and `stop()`, so
  * untraced passes run with no benchmark listener at all. */
final class Trace(spark: SparkSession, cores: Int) {

  private val jobs, stages, tasks, failedTasks = new AtomicLong
  private val writeB, readB, spillB = new AtomicLong
  private val inputB, inputRecs, outputB = new AtomicLong
  private val cpuNs, runMs, gcMs = new AtomicLong
  private val planS = new DoubleAdder
  private val stageSpans =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var passStartMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime) stageSpans.add((s, c))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillB.addAndGet(m.diskBytesSpilled)
        inputB.addAndGet(m.inputMetrics.bytesRead)
        inputRecs.addAndGet(m.inputMetrics.recordsRead)
        outputB.addAndGet(m.outputMetrics.bytesWritten)
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => planS.add((p.endTimeMs - p.startTimeMs) / 1000.0))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  /** Drain events of earlier queries first, so none is counted here. */
  def start(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    Seq(jobs, stages, tasks, failedTasks, writeB, readB, spillB,
      inputB, inputRecs, outputB, cpuNs, runMs, gcMs).foreach(_.set(0L))
    planS.reset()
    stageSpans.clear()
    passStartMs = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach, drain the listener bus, and return this pass's layer metrics. */
  def stop(wallS: Double): Map[String, Double] = {
    val passEndMs = System.currentTimeMillis()
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val mb = 1048576.0
    val runS = runMs.get / 1000.0
    Map(
      "catalyst.plan_s" -> planS.sum,
      "scheduler.jobs" -> jobs.get.toDouble,
      "scheduler.stages" -> stages.get.toDouble,
      "scheduler.tasks" -> tasks.get.toDouble,
      "scheduler.failed_tasks" -> failedTasks.get.toDouble,
      "scheduler.driver_gap_s" -> driverGapS(passStartMs, passEndMs),
      "exchange.write_mb" -> writeB.get / mb,
      "exchange.read_mb" -> readB.get / mb,
      "spill.disk_mb" -> spillB.get / mb,
      "scan.input_mb" -> inputB.get / mb,
      "scan.input_records" -> inputRecs.get.toDouble,
      "sink.output_mb" -> outputB.get / mb,
      "executor.cpu_s" -> cpuNs.get / 1e9,
      "executor.run_s" -> runS,
      "executor.gc_s" -> gcMs.get / 1000.0,
      "executor.busy_frac" -> runS / (wallS * cores))
  }

  /** Time within [from, to] covered by no stage's submit-to-complete span. */
  private def driverGapS(from: Long, to: Long): Double = {
    import scala.jdk.CollectionConverters._
    val spans = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var end = from
    spans.foreach { case (s, c) =>
      if (c > end) { covered += c - math.max(s, end); end = c }
    }
    (to - from - covered) / 1000.0
  }
}
