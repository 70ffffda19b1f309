package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Golden result hashes of every `q_stream_*` registry query at sf0.001:
  * each (row count, columns, md5) `ResultHash` must equal its line of the
  * committed `expected_hashes_sf0.001.tsv` resource, read through
  * `Verify.expectedFor`. A drain, watched source, merge-into-table or
  * band join whose answer drifts fails here. */
class StreamGoldenSpec extends AnyFunSuite {

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

  val dir = "/root/testdata/sf0.001"

  private val queries = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted

  private lazy val expected = Verify.expectedFor(dir)

  test("the registry holds the 16 stream queries") {
    assert(queries.size == 16, queries.mkString(", "))
  }

  for (q <- queries) test(s"$q result hash matches the committed expected hash") {
    val want = expected.get(q)
    assert(want.isDefined, s"no expected hash for $q at $dir")
    val got = ResultHash.of(SparkEntry.queries(q)(spark, dir))
    assert(got == want.get, s"$q -> $got")
  }
}
