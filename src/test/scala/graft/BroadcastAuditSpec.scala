package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level broadcast audit ratchet (VERDICT r11 #3 "done" clause:
  * no unconditional `broadcast()` of an unbounded input anywhere in main
  * source). Every `broadcast(` call site in src/main/scala must be
  * consciously audited: the map below records the audited per-file site
  * count with the one-line license that makes each file's broadcasts
  * bounded. Adding a NEW broadcast site fails this spec until the site
  * is audited and the count bumped — the same ratchet shape as the BNLJ
  * plan audits in PlanSpec, applied at the source level where a
  * size-unguarded broadcast hides from any one query's plan.
  *
  * Audit classes seen below (each file's sites fall in one):
  *  - dim/filtered-dim tables (region/nation/part-slice, TPC-H shape);
  *  - 1-row scalar aggregates (intentional cross joins);
  *  - bounded model state (centroids, quantizers, vocab, anchor tables,
  *    per-key stats keyed on enum-sized domains);
  *  - query-side of ANN probes (queries ≪ corpus by contract);
  *  - size-GUARDED broadcasts with an exact row-count check and a
  *    shuffle fallback (GraphOps.bcastIfSmall);
  *  - capped exact-pair sides (the all-pairs ground-truth operators,
  *    whose inputs are bounded by contract). */
class BroadcastAuditSpec extends AnyFunSuite {

  // file -> audited broadcast( call-site count (comment lines excluded)
  private val audited: Map[String, Int] = Map(
    "graft/ops/AnalyticsOps.scala" -> 5, // enum-keyed segment sizes + 1-row scalars
    "graft/ops/ClusterOps.scala" -> 2, // k centroids (bounded model state)
    "graft/ops/CorpusOps.scala" -> 3, // 1-row scalars + bounded mix table
    "graft/ops/CoverageOps.scala" -> 1, // per-event_type moments (enum-sized)
    "graft/ops/FeatureOps.scala" -> 11, // bounded vocab/index/sketch/scalar tables
    "graft/ops/GraphOps.scala" -> 1, // size-GUARDED bcastIfSmall: EXACT row count vs autoBroadcastJoinThreshold, sort-merge fallback (r15)
    "graft/ops/JourneyOps.scala" -> 4, // 1-row totals / horizon scalars
    "graft/ops/LogsOps.scala" -> 2, // 1-row scalar counts
    "graft/ops/MiningOps.scala" -> 6, // item-count dims (vocab-bounded) + scalars
    "graft/ops/PipelineOps.scala" -> 4, // anchor/vocab/label dims + 1-row scalar
    "graft/ops/Relational.scala" -> 15, // TPC-H dims (nation/region/part slices)
    "graft/ops/RetrievalOps.scala" -> 2, // per-source gram totals (source-enum-sized)
    "graft/ops/Scale.scala" -> 2, // sparkContext.broadcast of partition-count arrays
    "graft/ops/SpatialOps.scala" -> 1, // grid-cell lookup table (bounded)
    "graft/ops/StatsOps.scala" -> 6, // 1-row scalar test statistics
    "graft/ops/TpchOps.scala" -> 19, // TPC-H dims + 1-row scalars
    "graft/ops/TrainPrepOps.scala" -> 5, // eval sets / 1-row chunk scalars
    "graft/streaming/Streams.scala" -> 1, // static dim side of stream-static join
    "graft/text/Corpus.scala" -> 2, // benchmark gram set (eval-sized) + frequent lines
    "graft/text/Retrieval.scala" -> 5, // df table/postings (vocab-bounded) + scalars
    "graft/dedup/Dedup.scala" -> 2, // 2 capped exact-pair sides
    "graft/similarity/Ann.scala" -> 11, // query side of ANN probes (queries << corpus by contract)
    "graft/NaturalScale.scala" -> 3 // sampled-gate tables: rows = n/mod, bounded by the sampling modulus
  )

  test("every broadcast() call site in main source is audited") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the sbt project root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val found: Map[String, Int] = walk(root).flatMap { f =>
      val rel = f.getPath.replace("src/main/scala/", "")
      val n = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .map(_.trim)
        .filterNot(t => t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
        .count(_.contains("broadcast("))
      if (n > 0) Some(rel -> n) else None
    }.toMap
    val newSites = found.toSeq.filter { case (f, n) => audited.getOrElse(f, 0) < n }
    assert(newSites.isEmpty,
      s"UNAUDITED broadcast() sites (audit the input's bound — or add an " +
      s"exact-size check + shuffle fallback like GraphOps.bcastIfSmall — then bump the " +
      s"count): ${newSites.map { case (f, n) => s"$f ($n, audited ${audited.getOrElse(f, 0)})" }.mkString("; ")}")
    val gone = audited.toSeq.filter { case (f, n) => found.getOrElse(f, 0) < n }
    assert(gone.isEmpty,
      s"audited counts are stale (sites removed — ratchet DOWN): " +
      s"${gone.map { case (f, n) => s"$f (audited $n, found ${found.getOrElse(f, 0)})" }.mkString("; ")}")
  }
}
