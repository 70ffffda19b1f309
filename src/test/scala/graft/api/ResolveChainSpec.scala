package graft.api

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Chained `resolve`/`ignore` run as ONE handler chain inside the failing
  * operator's own scan. For each chained form, on a fixture where every
  * step takes at least one row, the collected rows are the ones the step
  * order gives, and the executed plan of the result reads its input
  * exactly once, with no `Union`. */
class ResolveChainSpec extends AnyFunSuite {
  import CsvDetectionSpec.nodes

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val ctx = new Context(spark)

  /** A one-file parquet fixture of column `x`, read back in row order. */
  private def input(xs: Seq[Int]): DataSet = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resolve_chain").toString + "/in"
    xs.toDF("x").coalesce(1).write.parquet(dir)
    ctx.parquet(dir)
  }

  /** The rows of `ds` in order, after checking that the executed plan of
    * its frame has exactly one node matching `scan` and no `UnionExec`. */
  private def oneScan(label: String, ds: DataSet,
      scan: SparkPlan => Boolean = _.isInstanceOf[FileSourceScanExec]): Seq[Row] = {
    val df = ds.toDF
    df.collect()
    val plan = df.queryExecution.executedPlan
    val all = nodes(plan)
    assert(all.count(scan) == 1, s"$label: input scanned ${all.count(scan)} times:\n$plan")
    assert(!all.exists(_.isInstanceOf[UnionExec]), s"$label: planned a Union:\n$plan")
    ds.collect().toSeq
  }

  /** `100 / x` that throws IllegalStateException on negatives and
    * ArithmeticException on 0. */
  private def divide(ds: DataSet): DataSet =
    ds.withColumnUdf[Int, Int]("y", col("x")) { x =>
      if (x < 0) throw new IllegalStateException("neg") else 100 / x
    }

  /** The first resolver: negates negatives, but throws
    * ArithmeticException on -2 (which the next step then sees). */
  private val negate: Int => Int = x =>
    if (x == -2) throw new ArithmeticException("still -2") else -x

  private val xs = Seq(4, 0, -1, 5, 0, -2)

  private def pairs(rows: Seq[Row]): Seq[(Int, Int)] = rows.map(r => (r.getInt(0), r.getInt(1)))

  test("resolve then resolve: one scan, the second resolver sees the first one's throw") {
    val ds = divide(input(xs))
      .resolve(classOf[IllegalStateException])(negate)
      .resolve(classOf[ArithmeticException])((_: Int) => 0)
    assert(pairs(oneScan("resolve→resolve", ds)) ==
      Seq((4, 25), (0, 0), (-1, 1), (5, 20), (0, 0), (-2, 0)))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("resolve then ignore: one scan, the ignore drops the resolver's throw") {
    val ds = divide(input(xs))
      .resolve(classOf[IllegalStateException])(negate)
      .ignore(classOf[ArithmeticException])
    assert(pairs(oneScan("resolve→ignore", ds)) == Seq((4, 25), (-1, 1), (5, 20)))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("ignore then resolve: one scan, the resolver repairs the other class in place") {
    val ds = divide(input(xs))
      .ignore(classOf[ArithmeticException])
      .resolve(classOf[IllegalStateException])((x: Int) => -x)
    assert(pairs(oneScan("ignore→resolve", ds)) == Seq((4, 25), (-1, 1), (5, 20), (-2, 2)))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("csv resolve then resolve: one scan of the file, repairs merge in file order") {
    val dir = Files.createTempDirectory("graft_resolve_chain_csv")
    Files.write(dir.resolve("in.csv"),
      Seq("0,0", "1,USD10", "2,20", "3,EUR30", "4,USD40", "5,EUR50", "6,60")
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val ds = ctx.csv(s"$dir/in.csv", columns = Seq("k", "amt"), header = Some(false),
        delimiter = Some(","), typeHintsAt = Map(0 -> LongType, 1 -> LongType))
      .resolve[Row, Row](classOf[CsvParseError]) { cells =>
        val amt = cells.getString(1)
        if (!amt.startsWith("USD")) throw new IllegalArgumentException(amt)
        Row(cells.getString(0).toLong, amt.stripPrefix("USD").toLong)
      }
      .resolve[Row, Row](classOf[IllegalArgumentException]) { cells =>
        Row(cells.getString(0).toLong, cells.getString(1).stripPrefix("EUR").toLong)
      }
    val rows = oneScan("csv resolve→resolve", ds, _.isInstanceOf[ExternalRDDScanExec[_]])
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) == (0 to 6).map(i => (i.toLong, i * 10L)))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("mapRows then resolve: one scan, repaired rows in place") {
    val ds = input(Seq(3, 0, 6, 0))
      .mapRows(StructType(Seq(StructField("y", IntegerType))))(r => Row(6 / r.getInt(0)))
      .resolve[Row, Row](classOf[ArithmeticException])(_ => Row(-1))
    assert(oneScan("mapRows→resolve", ds).map(_.getInt(0)) == Seq(2, -1, 1, -1))
    assert(ds.exceptionCounts.isEmpty)
  }

  test("flatMapRows resolve then resolve: one scan, re-expansions in place") {
    val ds = input(Seq(2, 0, -1, 1))
      .flatMapRows(StructType(Seq(StructField("y", IntegerType)))) { r =>
        val x = r.getInt(0)
        if (x < 0) throw new IllegalStateException("neg")
        if (x == 0) throw new ArithmeticException("zero")
        (1 to x).map(Row(_))
      }
      .resolve[Row, IterableOnce[Row]](classOf[ArithmeticException])(_ => Seq(Row(100), Row(101)))
      .resolve[Row, IterableOnce[Row]](classOf[IllegalStateException])(r => Seq(Row(r.getInt(0))))
    assert(oneScan("flatMapRows resolve→resolve", ds).map(_.getInt(0)) ==
      Seq(1, 2, 100, 101, -1, 1))
    assert(ds.exceptionCounts.isEmpty)
  }
}
