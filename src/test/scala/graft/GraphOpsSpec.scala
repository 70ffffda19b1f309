package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphOps

class GraphOpsSpec extends AnyFunSuite {

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

  private def ranks(edges: Seq[(Long, Long, Long)], iters: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    val out = GraphOps.pageRank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sqlContext.clearCache() // release the harness-licensed persist
    out
  }

  test("symmetric regular graph converges to equal ranks") {
    // 4-cycle, unit weights, symmetric: perfect symmetry -> equal ranks
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val edges = cyc.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    val r = ranks(edges)
    assert(r.values.toSet.size == 1, s"asymmetric ranks on a symmetric graph: $r")
    // total mass conserved up to floor losses (< 1 unit per edge+node per iter)
    val total = r.values.sum
    assert(total > 999999990000L && total <= 1000000000000L, s"mass drifted: $total")
  }

  test("a hub attracts more rank than leaves in a star graph") {
    // star: center 0 <-> leaves 1..5 (symmetric, unit weights)
    val edges = (1L to 5L).flatMap(l => Seq((0L, l, 1L), (l, 0L, 1L)))
    val r = ranks(edges)
    assert((1L to 5L).forall(l => r(0L) > r(l)),
      s"hub must outrank every leaf: $r")
    assert((1L to 5L).map(r).toSet.size == 1, "leaves are symmetric")
  }

  test("heavier edges pull proportionally more rank") {
    // two targets off one source; one edge 9x the weight of the other
    val edges = Seq((0L, 1L, 9L), (1L, 0L, 9L), (0L, 2L, 1L), (2L, 0L, 1L))
    val r = ranks(edges)
    assert(r(1L) > r(2L), s"heavier-edge node must rank higher: $r")
  }

  test("bfsHops: exact hop distances on a path + branch, unreached absent") {
    import spark.implicits._
    // 0-1-2-3-4 path with a branch 1-5; undirected via symmetric edges;
    // node 9 is isolated (edge 9-10 in its own component)
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (9L, 10L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = GraphOps.bfsHops(edges, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sqlContext.clearCache()
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 5L -> 2L, 3L -> 3L),
      s"wrong distances: $got") // 4 is 4 hops away -> absent at iters=3
  }

  test("r15 bcastIfSmall: ranks identical with the broadcast hint disabled") {
    // the r15 loop broadcasts the node-sized side when its EXACT count
    // fits autoBroadcastJoinThreshold; -1 disables the hint entirely
    // (sort-merge fallback) — results must be bit-identical either way
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (1L, 3L))
    val edges = cyc.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 2L)) }
    val withB = ranks(edges)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val noB = ranks(edges)
      assert(withB == noB, s"broadcast hint changed results: $withB vs $noB")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("bcastIfSmall cutover: bfs, sssp and pagerank rows identical at threshold -1 and default") {
    import spark.implicits._
    // two weighted triangles bridged by one edge, plus a pendant chain
    val und = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 3L), (5L, 6L, 1L), (4L, 6L, 2L), (6L, 7L, 4L), (7L, 8L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def run(): Seq[Set[String]] = {
      val out = Seq(GraphOps.bfsHops(edges, seeds, iters = 4),
          GraphOps.ssspBounded(edges, seeds, iters = 4), GraphOps.pageRank(edges, iters = 3))
        .map(_.collect().map(_.toString).toSet)
      spark.sqlContext.clearCache()
      out
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val thr = spark.conf.get(key)
    spark.conf.unset(key)
    val withB = try run() finally spark.conf.set(key, thr)
    assert(GraphOps.broadcastBudget(spark) > 0)
    spark.conf.set(key, "-1")
    try {
      assert(GraphOps.broadcastBudget(spark) == 0L)
      // a disabled broadcast never evaluates the by-name frontier count
      val df = edges.select("src")
      assert(GraphOps.bcastIfSmall(df, throw new AssertionError("counted"), 0L) eq df)
      assert(run() == withB)
    } finally spark.conf.set(key, thr)
    assert(withB.map(_.size) == Seq(7, 7, 8)) // node 8 is five hops out
  }
}
