package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tables
import graft.streaming.Streams

/** Micro-batch counts of the streaming drains: the dedup drains, whose
  * operator emits each row on arrival, finish in one micro-batch with no
  * flush batch; the window drain keeps the flush batch its Append output
  * needs. Every drain still equals its batch table. */
class StreamDrainSpec extends AnyFunSuite {

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

  /** A small events table in the layout `Tables.events` reads: 400 events
    * 1000 s apart (about 4.6 days), three event types. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_stream_drain").toString
    spark.range(0, 400).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000000L).as("ts"),
        (col("id") % 13).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("buy")),
          (col("id") % 3 + 1).cast("int")).as("event_type"),
        (col("id") * 0.5).as("value"),
        lit(null).cast("string").as("props"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  /** Runs one drain on `session` and returns its sorted rows and the ids
    * of the micro-batches the drain's query executed. */
  private def drain(session: SparkSession)(run: => DataFrame): (Seq[String], Set[Long]) = {
    val batches = ConcurrentHashMap.newKeySet[Long]()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(e.progress.batchId): Unit
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    session.streams.addListener(listener)
    try {
      val rows = run.collect().map(_.toString).sorted.toSeq
      assert(done.await(60, TimeUnit.SECONDS), "the drain's query never terminated")
      (rows, batches.asScala.toSet)
    } finally session.streams.removeListener(listener)
  }

  private def batchEvents: Seq[String] =
    Tables.events(spark, dir).collect().map(_.toString).sorted.toSeq

  test("dedupStream runs one micro-batch and equals the batch table") {
    val (rows, batches) = drain(Streams.drainSession(spark, 2, flush = false)) {
      Streams.dedupStream(spark, dir, keyCols = Seq("event_id"), replays = 2)
    }
    assert(batches == Set(0L))
    assert(rows == batchEvents)
  }

  test("dedupWithinWatermarkStream runs one micro-batch and equals the batch table") {
    val (rows, batches) = drain(Streams.drainSession(spark, 2, flush = false)) {
      Streams.dedupWithinWatermarkStream(spark, dir, keyCols = Seq("event_id"), replays = 2)
    }
    assert(batches == Set(0L))
    assert(rows == batchEvents)
  }

  test("q_stream_window keeps its flush batch and equals the batch aggregate") {
    val (rows, batches) = drain(Streams.drainSession(spark, 2)) {
      SparkEntry.queries("q_stream_window")(spark, dir)
    }
    assert(batches.size >= 2, s"window drain ran batches $batches: no flush batch")
    val want = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total"))
      .select(to_date(col("window.start")).as("day"), col("event_type"),
        col("n"), col("total"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty && rows == want)
  }

  test("drains with the same configuration share one cloned session") {
    val a = Streams.drainSession(spark, 2, flush = false)
    assert(Streams.drainSession(spark, 2, flush = false) eq a)
    assert(!(Streams.drainSession(spark, 2) eq a))
    assert(a.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
    assert(a.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(!(a eq spark))
  }
}
