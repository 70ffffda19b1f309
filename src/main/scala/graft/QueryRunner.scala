package graft

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

/** Shared per-query timeout harness for the driver-contract mains: each
  * query runs in its own Spark job group, with its own job tag
  * ([[jobTag]]), under a deadline; on expiry every job carrying the tag
  * is cancelled and the caller gets the failure back instead of the whole
  * run stalling. Cancelling goes by the tag, not the group: a stream
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

  /** Run `body` under `timeoutSec`; Left(status) on timeout/error. */
  def timed(spark: SparkSession, name: String,
      timeoutSec: Long = DefaultTimeoutSec)(body: => Unit): Either[String, Unit] = {
    val sc = spark.sparkContext
    val tag = jobTag(name)
    try {
      val work = Future {
        sc.setJobGroup(name, name, interruptOnCancel = true)
        sc.addJobTag(tag)
        try body finally { sc.removeJobTag(tag); sc.clearJobGroup() }
      }(ec)
      Await.result(work, timeoutSec.seconds)
      Right(())
    } catch {
      case _: TimeoutException =>
        sc.cancelJobsWithTag(tag)
        Left("timeout")
      case e: Throwable =>
        // Throwable.toString names the class, so a message-less exception
        // (a bare NullPointerException) is not recorded as "error: null"
        Left(s"error: $e")
    }
  }
}
