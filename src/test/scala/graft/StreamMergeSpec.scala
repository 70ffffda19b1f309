package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftTestFileSystem
import graft.streaming.Streams

/** The upsert and CDC drains' merge-into-table runs on any Hadoop
  * filesystem: two batches merged into a `BatchTable` under a
  * `graftfs://` root (a scheme Spark has never heard of) give the merged
  * rows, and each swap leaves neither an `old` nor a `swap` dir behind. */
class StreamMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // on the live Hadoop conf, as VfsSchemeSpec registers it: the session
    // may already exist
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    s
  }

  private def root(): String =
    "graftfs://localhost" + java.nio.file.Files.createTempDirectory("graft_merge").toString

  /** Merges each batch in turn into a table under a fresh graftfs root;
    * returns the final table's sorted rows after checking that no swap
    * leftovers remain. */
  private def mergeAll(batches: Seq[DataFrame])(
      f: (DataFrame, Option[DataFrame]) => DataFrame): Seq[String] = {
    val r = root()
    val table = new Streams.BatchTable(r)
    batches.foreach(b => table.merge(spark, b)(f))
    val fs = new Path(r).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(r, "table")))
    assert(!fs.exists(new Path(r, "old")), "the old table dir was left behind")
    assert(!fs.exists(new Path(r, "swap")), "the swap dir was left behind")
    table.read(spark).collect().map(_.toString).sorted.toSeq
  }

  test("upsert merge on a graftfs root keeps existing rows on key conflict") {
    import spark.implicits._
    val got = mergeAll(Seq(
      Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("event_id", "event_type"),
      Seq((2L, "x"), (3L, "c")).toDF("event_id", "event_type")))(
      Streams.upsertMerge(Seq("event_id")))
    assert(got == Seq("[1,a]", "[2,b]", "[3,c]"))
  }

  test("CDC merge on a graftfs root keeps the last write per key with tombstones") {
    import spark.implicits._
    def log(rows: (Long, Long, Long, String, Double)*) =
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
    // user 1: upsert, then a later delete (event_id 19) in batch 2;
    // user 2: a delete (29) in batch 1, then a later upsert in batch 2
    val got = mergeAll(Seq(
      log((1L, 10L, 100L, "view", 1.0), (2L, 29L, 100L, "view", 2.0)),
      log((1L, 19L, 200L, "buy", 3.0), (2L, 20L, 300L, "click", 4.0))))(
      Streams.cdcMerge)
    assert(got == Seq("[1,19,200,buy,3.0,D,2]", "[2,20,300,click,4.0,U,2]"))
  }
}
