package graft

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

/** Shared per-query timeout harness for the driver-contract mains: each
  * query runs in its own Spark job group under a deadline; on expiry the
  * group is cancelled and the caller gets the failure back instead of the
  * whole run stalling (a mid-run kill is how a round's official signal
  * goes to zero). The futures use a cached daemon pool so a zombie
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

  /** Run `body` under `timeoutSec`; Left(status) on timeout/error. */
  def timed(spark: SparkSession, name: String,
      timeoutSec: Long = DefaultTimeoutSec)(body: => Unit): Either[String, Unit] =
    try {
      val work = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }(ec)
      Await.result(work, timeoutSec.seconds)
      Right(())
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(name)
        Left("timeout")
      case e: Throwable =>
        // Throwable.toString names the class, so a message-less exception
        // (a bare NullPointerException) is not recorded as "error: null"
        Left(s"error: $e")
    }
}
