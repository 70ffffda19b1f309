package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

/** Parallelism guard for CPU-bound per-row operators (shingling, vector
  * scoring, fingerprinting). A small parquet input — one file, one row
  * group — scans as a single partition, serializing the whole operator on
  * one core. At real scale the scan has thousands of row-group splits and
  * this is a no-op; no shuffle is added unless the input is under-split. */
object Par {
  /** Under-split detection via the optimizer's size estimate, NOT
    * `df.rdd.getNumPartitions`: the RDD probe forces a full physical
    * planning of the frame on every call (pure waste when invoked per
    * operator). `optimizedPlan.stats.sizeInBytes` stops at the logical
    * layer and is what the file scan's split count derives from anyway:
    * an input smaller than target × maxPartitionBytes cannot scan as
    * `target` full splits, so repartition it; anything bigger already
    * splits at least that wide and passes through untouched. */
  def ensureMin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxSplit) * target) df.repartition(target) else df
  }

  /** Filter over EXPENSIVE projected columns without re-evaluating them:
    * a filter above a deterministic projection is pushed through it
    * (PushPredicateThroughNonJoin), substituting each referenced alias
    * with its defining expression — a per-row kernel referenced by N
    * predicates then evaluates N+1 times (once per predicate plus the
    * projection; struct-field predicates re-evaluate the WHOLE struct
    * expression each). Anchoring the filter to a non-deterministic gate
    * column makes the projection ineligible for pushdown — the rule
    * requires every project alias to be deterministic — and the gate
    * reference in the predicate keeps column pruning from deleting the
    * gate and re-enabling it. The kernels then run exactly once and the
    * filter reads their output inside the same codegen stage; the gate
    * (monotonically_increasing_id, always ≥ 0 — semantically a no-op
    * conjunct) costs 8 bytes a row and is dropped on return. Measured on
    * q_corpus_golden's tokenStats/repetition/langId cascade: 2.2 s →
    * 0.5 s at sf0.1 (the filter had been re-running each kernel 2-4×). */
  def filterOnce(df: DataFrame, pred: Column): DataFrame =
    // The gate must be fused INTO the predicate (a CASE, not an AND):
    // an AND splits into conjuncts and the optimizer pushes each
    // deterministic conjunct through the projection individually —
    // only a single inseparable conjunct referencing the
    // non-deterministic gate is held above it.
    df.withColumn("_graft_once", monotonically_increasing_id())
      .filter(org.apache.spark.sql.functions
        .when(col("_graft_once") >= 0, pred).otherwise(false))
      .drop("_graft_once")

  /** The one barrier shape for a result built from persisted inputs:
    * materialize `result` as an eager local checkpoint, then unpersist
    * `toRelease`, so the persist lives for the call and never the
    * session. The checkpoint holds the result as executor RDD blocks
    * outside the SQL cache (`sharedState.cacheManager` stays empty —
    * DedupHygieneSpec) that the context cleaner frees once the returned
    * frame is garbage-collected. Use it only when the result is bounded
    * and something was persisted for it; a lazy plan with one consumer
    * needs no barrier. */
  def materializeThenRelease(result: DataFrame, toRelease: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    toRelease.foreach(_.unpersist())
    out
  }
}
