package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure helpers behind the Bench and Verify run records (no Spark
  * session): the `SPARK_GRAFT_ONLY` filter and the git `head`/`dirty`
  * stamps every record carries. */
class BenchRecordSpec extends AnyFunSuite {

  test("gitDirty answers false on garbage roots instead of throwing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirty_spec").toFile
    assert(!Bench.gitDirty(dir)) // not a repo: git fails => unprovable => clean
  }

  test("gitHead resolves this checkout to a 40-hex commit") {
    val head = Bench.gitHead(new java.io.File("."))
    assert(head.exists(_.matches("[0-9a-f]{40}")), s"got $head")
  }

  test("SPARK_GRAFT_ONLY parsing trims names; unknown names are flagged") {
    val only = Bench.parseOnly(Some(" q1_agg , q6_filter_agg ,, q_ann_lsh "))
    assert(only.contains(Set("q1_agg", "q6_filter_agg", "q_ann_lsh")))
    assert(Bench.unknownOnly(only) === Set.empty,
      "trimmed real names must all resolve (the r11 silent-drop shape)")
    val typo = Bench.parseOnly(Some("q1_agg,q_no_such_query"))
    assert(Bench.unknownOnly(typo) === Set("q_no_such_query"))
    assert(Bench.unknownOnly(None) === Set.empty)
  }
}
