package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

/** Shared per-query timeout harness for the driver-contract mains: each
  * query runs in its own Spark job group, with its own job tag
  * ([[jobTag]]), under a deadline; on expiry every job of the run is
  * cancelled and the caller gets the failure back instead of the whole
  * run stalling. Cancelling goes by a tag, not the group: a stream
  * drain's micro-batch jobs run under StreamExecution's own job group but
  * inherit the tag. The futures use a cached daemon pool so a zombie
  * (driver-side-hung) query thread cannot starve later queries the way a
  * fixed-size global pool would. */
object QueryRunner {

  val DefaultTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong

  private lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-query")
      t.setDaemon(true)
      t
    })

  /** The tag every Spark job of query `name` carries. */
  def jobTag(name: String): String = s"graft-query-$name"

  private val runs = new java.util.concurrent.atomic.AtomicLong

  /** Run `body` under `timeoutSec`; Left(status) on timeout/error. On
    * timeout the run stays cancelled until `body` returns: a job it
    * starts after the deadline (a drain whose micro-batch was still
    * planning) is cancelled as it starts. That goes by a tag of this run
    * alone, so a later run of the same query is not cancelled. */
  def timed(spark: SparkSession, name: String,
      timeoutSec: Long = DefaultTimeoutSec)(body: => Unit): Either[String, Unit] = {
    val sc = spark.sparkContext
    val tag = jobTag(name)
    val runTag = s"$tag-run${runs.incrementAndGet()}"
    val work = Future {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      sc.addJobTag(tag)
      sc.addJobTag(runTag)
      try body finally { sc.removeJobTag(runTag); sc.removeJobTag(tag); sc.clearJobGroup() }
    }(ec)
    try {
      Await.result(work, timeoutSec.seconds)
      Right(())
    } catch {
      case _: TimeoutException =>
        val late = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
                .exists(_.split(',').contains(runTag)))
              sc.cancelJob(e.jobId, s"query $name timed out")
        }
        sc.addSparkListener(late)
        sc.cancelJobsWithTag(runTag)
        work.onComplete(_ => sc.removeSparkListener(late))(ec)
        Left("timeout")
      case e: Throwable =>
        // Throwable.toString names the class, so a message-less exception
        // (a bare NullPointerException) is not recorded as "error: null"
        Left(s"error: $e")
    }
  }
}
