package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in graft.ops.* as `Q` entries (Spark impl + DuckDB oracle);
  * this object just assembles the registry. */
object SparkEntry {

  /** Full verifiable-query registry (one per operator, SURVEY.md §2).
    * Names must be unique: `queries`/`oracleSql` are maps, so a duplicate
    * would silently SHADOW an existing operator (later tranche wins) —
    * the guard turns that into a loud failure at first registry touch. */
  lazy val registry: Seq[Q] = {
    val all =
      Relational.all ++ TpchOps.all ++ ApiOps.all ++ PipelineOps.all ++ StreamMediaOps.all ++
        CoverageOps.all ++ ZillowOps.all ++ CorpusOps.all ++ LogsOps.all ++
        ClusterOps.all ++ RetrievalOps.all ++ GraphOps.all ++ AnalyticsOps.all ++
        JourneyOps.all ++ MiningOps.all ++ FeatureOps.all ++ StatsOps.all ++
        SpatialOps.all ++ TrainPrepOps.all
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate registry query names: ${dups.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_inner")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Validation gates: all-pairs ground-truth / recall-check queries that
    * certify an approximate operator's quality (LSH vs exact cosine,
    * int8 vs float scores, simhash banding losslessness). They stay in
    * the Verify registry — they ARE correctness evidence — but Bench
    * excludes them: they measure the deliberately-quadratic ground
    * truth, not an operator a production pipeline would run. */
  val validationOnly: Set[String] =
    Set("q_dedup_embed_groundtruth", "q_ann_int8_gate", "q_dedup_simhash")
}
