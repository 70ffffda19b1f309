package graft

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent stream drains give sequential answers. `graft.Verify` runs
  * the registry through an 8-wide pool, so several `q_stream_*` drains
  * overlap on one SparkContext. Each query owns a cloned session and its
  * scratch and checkpoint dirs; a shared-state leak between concurrent
  * drains would show up here as a row diff. */
class StreamTierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val dir = "/root/testdata/sf0.001"
  // one stateful-agg, one session-window, one join-shaped query — the
  // three state-store shapes most likely to collide if isolation broke
  private val names =
    Seq("q_stream_window", "q_stream_session", "q_stream_join")

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).sorted.toSeq

  test("concurrent tier answers equal sequential answers") {
    val sequential = names.map(n => n -> rows(n)).toMap
    val concurrent = new ConcurrentHashMap[String, Seq[String]]()
    val pool = Executors.newFixedThreadPool(names.size)
    names.foreach { n =>
      pool.submit(new Runnable {
        def run(): Unit = concurrent.put(n, rows(n)): Unit
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(10, TimeUnit.MINUTES), "tier pool timed out")
    names.foreach { n =>
      val c = concurrent.get(n)
      assert(c != null, s"$n produced no concurrent result")
      assert(c.nonEmpty, s"$n returned zero rows")
      assert(c === sequential(n), s"$n: concurrent != sequential")
    }
  }
}
