package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-out helpers: the shuffle-shaping tools a 100 TB deployment needs
  * beyond what AQE does automatically.
  *
  *  - [[saltedJoin]] — explicit key salting for pathologically skewed join
  *    keys (one key = a double-digit % of the table). AQE's skew-join
  *    splitting handles moderate skew; salting removes the hot-key straggler
  *    entirely by splitting each skewed key into `salts` sub-keys and
  *    replicating the other (smaller) side per sub-key.
  *  - [[writeBucketed]] / [[readBucketedTable]] — hash-bucketed tables:
  *    two tables bucketed on the same key with the same bucket count join
  *    with NO exchange on either side (verified by ScaleSpec against the
  *    physical plan). This is the persisted analogue of co-partitioning:
  *    pay the shuffle once at write time, never again per query.
  */
object Scale {

  /** Range-partition count for the two-pass rank devices when the caller
    * does not pin one: sized from the OPTIMIZER'S size estimate instead
    * of blindly taking `spark.sql.shuffle.partitions`. At a 100 TB input
    * the estimate clamps to the session width (the device's whole point);
    * at the small key-cardinality frames most callers feed (a group-by
    * result of a few thousand rows) the session default meant 32
    * near-empty range partitions — 2 RDD passes × 32 tasks + a 32-file
    * localCheckpoint of pure fixed cost per call (the round-7
    * q_power_curve/q_skew_report/q_split_assign regression). Unknown
    * stats (e.g. an RDD-backed frame, where Catalyst reports the
    * defaultSizeInBytes sentinel) fall back to the session width —
    * never undersize what might be huge.
    *
    * A low estimate funnels the frame through one (or few) sort tasks, and
    * size-only estimation can UNDERSTATE non-linearly through
    * row-MULTIPLYING operators — a Generate (explode) can emit 100× its
    * input bytes, an inner join likewise — because it propagates leaf
    * bytes by row-width ratios (ADVICE r8). Width-preserving operators
    * (project/filter/aggregate/sort) only ever overstate relative to
    * their input, and LEAF stats are measured, not derived (a file scan
    * reports actual file bytes, a materialized cache its batch bytes).
    * So when a multiplying operator is present, the estimate is FLOORED
    * by the plan's summed leaf bytes × a 4× expansion allowance: a frame
    * read from N bytes of files cannot be claimed tiny by a width ratio
    * alone, while genuinely small inputs (every caller at test SF) keep
    * the single-range fast path. An A/B of the stricter alternative —
    * falling back to the session width whenever a Generate/Join is
    * present — cost the nine rank-device queries 10–22% at sf0.1 for no
    * correctness gain (2686cb5:PLAN_r9.md). */
  private[graft] def sizedRangePartitions(df: DataFrame, explicit: Int,
      targetBytes: Long = 64L << 20): Int = {
    if (explicit > 0) explicit
    else {
      val conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val plan = df.queryExecution.optimizedPlan
      val sz = plan.stats.sizeInBytes
      import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      // An UNmaterialized cache leaf reports child-DERIVED stats (the
      // same width-ratio estimation the floor exists to distrust) while
      // hiding whatever multiplying operators sit inside it — the one
      // way a frame could still sneak under the floor. Unmeasured cache
      // ⇒ session width; once materialized (every rank-device caller
      // counts its persist first) the leaf carries measured batch bytes
      // and sizing proceeds normally.
      val unloadedCache = plan.collectLeaves().exists {
        case imr: InMemoryRelation => !imr.cacheBuilder.isCachedColumnBuffersLoaded
        case _ => false
      }
      if (unloadedCache) conf
      else {
        // Only genuinely row-multiplying operators trigger the floor:
        // semi/anti joins emit AT MOST their probe side (width-preserving
        // in the only direction that matters — they can't understate
        // through multiplication), so flooring them at 4× summed leaf
        // bytes would strip the single-range fast path from small
        // filtered results read out of large files (ADVICE r9).
        import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
        val multiplying = plan.exists {
          case _: Generate => true
          case j: Join => j.joinType match {
            case LeftSemi | LeftAnti => false
            case _ => true
          }
          case _ => false
        }
        val eff =
          if (multiplying) sz.max(plan.collectLeaves().map(_.stats.sizeInBytes).sum * 4)
          else sz
        if (eff <= 0 || eff > (BigInt(1) << 50)) conf
        else ((eff + targetBytes - 1) / targetBytes).toInt.max(1).min(conf)
      }
    }
  }

  /** Spread a kernel-heavy pass over the session's cores when the source
    * cannot: a single-row-group parquet file (or an unsplittable codec)
    * yields a one-task scan no matter what `maxPartitionBytes` asks for,
    * and every downstream per-row kernel (tokenize, langId, BPE encode,
    * md5 normalization) then runs serially while the other cores idle —
    * guide §2.5's "input skew: one huge unsplittable file … repartition
    * immediately after the read". Keyless round-robin repartition to the
    * session default parallelism, applied ONLY when the scan's natural
    * split count is below it: at real scale (many files / row groups) the
    * condition is false and this is the identity, so nothing here is
    * tuned to local mode. The shuffle moves the projected columns exactly
    * once, has no key (no skew), and is retry-deterministic via Spark's
    * sort-before-repartition. Row order within partitions changes — only
    * order-insensitive consumers (aggregations, joins, equality keys) may
    * sit downstream. */
  def fanOutScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Csv-sink part count from the optimizer's size estimate: one writer
    * per session core once each core has ≥16 MB of input to format
    * (below that, extra parts are pure per-file overhead — measured at
    * sf0.1, a cores-count floor cost q_csv_roundtrip 1.59 → 2.09 s), and
    * ~256 MB of input per part past cores×256 MB (guide §6 output
    * sizing). `floor` keeps the small-SF fixture shape; unknown stats
    * (the Long.MaxValue-ish sentinel) fall back to cores — never
    * undersize what might be huge, never explode the part count on a
    * sentinel. */
  def sinkParts(df: DataFrame, floor: Int = 4): Int =
    knownSize(df) match {
      case Some(sz) => sinkPartsOf(df.sparkSession, sz, floor)
      case None => math.max(floor, df.sparkSession.sparkContext.defaultParallelism)
    }

  /** Member count of an UNSPLITTABLE (gzip) sink: the member count is the
    * scan parallelism of every later read, so at least one member per
    * session core at any size and ~256 MB of input per member beyond
    * that. Unknown stats fall back to cores, never to the 10k cap. */
  def unsplittableParts(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    knownSize(df).fold(cores)(sz =>
      math.min(10000L, math.max(sz / (256L << 20), cores.toLong)).toInt)
  }

  /** The optimizer's size estimate of `df`, or None when the statistics
    * are unknown: the Long.MaxValue-ish `defaultSizeInBytes` sentinel a
    * row-mapping UDF or an RDD leaf reports (its /256 MiB still wraps
    * negative through `toInt`). */
  private def knownSize(df: DataFrame): Option[Long] = {
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz <= 0 || sz > (BigInt(1) << 50)) None else Some(sz.toLong)
  }

  /** Bytes stored under `path` on its Hadoop filesystem (0 when absent) —
    * sizing through `FileSystem`, so non-local paths do not size to 0. */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** [[sinkParts]] from a KNOWN input byte count (for sinks whose plan
    * runs through row-mapping UDFs — their optimizer estimate is the
    * unknown sentinel, while the caller often knows the real input
    * bytes, which upper-bound the output). */
  def sinkPartsOf(spark: SparkSession, bytes: Long, floor: Int = 4): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val bySize = bytes / (256L << 20)
    val byCores = math.min(cores, bytes / (16L << 20))
    math.min(10000L, math.max(floor.toLong, math.max(bySize, byCores))).toInt
  }

  /** Skew-safe equi join. The skewed (big) side is salted into `salts`
    * sub-keys; the other side is replicated `salts`× so every sub-key finds
    * its match. Result equals `skewed.join(other, key, joinType)` exactly;
    * only the shuffle distribution changes. Supports inner/left joins (the
    * replicated side must be the non-preserved side). */
  def saltedJoin(skewed: DataFrame, other: DataFrame, skewedKey: String,
      otherKey: String, joinType: String = "inner", salts: Int = 16): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val jt = joinType.toLowerCase.replace("outer", "").replace("_", "")
    require(Seq("inner", "left").contains(jt),
      s"saltedJoin supports inner/left joins, got $joinType")
    // any deterministic ~uniform routing works; hash of the per-row id
    // spreads a hot key across `salts` reducers
    val se = skewed.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val oe = other.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    se.join(oe,
        se(skewedKey) === oe(otherKey) && se("_salt") === oe("_salt"), joinType)
      .drop("_salt")
  }

  /** Persist `df` hash-bucketed (and sorted) by `key` into `numBuckets`
    * buckets as a catalog table at `path`. Joins/aggregations on `key`
    * between tables with identical bucketing then need no shuffle. */
  def writeBucketed(df: DataFrame, table: String, path: String, key: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  def readBucketedTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Bucketized interval (range) join: left rows at point `leftTs` against
    * right rows carrying `[rightStart, rightEnd]` intervals (inclusive,
    * non-negative numeric, e.g. epoch micros). The naive formulation —
    * `l.join(r, ts BETWEEN start AND end)` — has no equi-key, so Spark
    * plans a broadcast-NLJ or cartesian product: quadratic at scale. Here
    * each interval explodes into the fixed-width time buckets it overlaps
    * and each point probes its single bucket, so the join is a plain
    * hash equi-join on the bucket id; exact containment filters after.
    * Shuffle volume = rows + intervals × (span/width + 1); pick `width`
    * near the typical interval span so most intervals land in ≤2 buckets.
    * A point matches an interval in exactly one bucket (its own), so no
    * dedup is needed. */
  /** 2-D Morton (z-order) key: interleaves the low `bits` bits of two
    * non-negative integral columns. Z-order is locality-preserving, so
    * range-partitioning + sorting by the key clusters rows close in BOTH
    * dimensions into the same files; parquet min/max footer stats then
    * prune files for 2-D box predicates that a single-column sort could
    * only prune in one dimension. Pure bit arithmetic — codegen'd, no
    * UDF. */
  def zorderKey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xs = pmod(x.cast("long"), lit(1L << bits))
    val ys = pmod(y.cast("long"), lit(1L << bits))
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-clustered on (x, y): range-partition into `numFiles`
    * by the z key, sort within partitions, drop the key. Each output file
    * then covers one compact z-range — i.e. a small (x, y) box —
    * which is what makes 2-D predicate file-skipping work (asserted by
    * ScaleSpec on real footer-level min/max). */
  def writeZordered(df: DataFrame, x: String, y: String, bits: Int,
      numFiles: Int, path: String): Unit = {
    val z = "_g_z"
    df.withColumn(z, zorderKey(col(x), col(y), bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Bin-pack compaction: rewrite a directory of many small parquet files
    * into `targetFiles` larger ones — the operational fix for the
    * small-files problem streaming sinks and over-parallel writes create
    * (every file costs a footer read + task schedule per query; at 100 TB
    * a 10⁶-file table is unscannable). Content is unchanged; only the
    * layout improves. Returns the number of data files written. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): Int = {
    spark.read.parquet(inPath)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(outPath)
    val p = new org.apache.hadoop.fs.Path(outPath)
    // the path's OWN filesystem, not the default one — outPath may live
    // on a different scheme (file:// vs hdfs:// vs s3a://) than fs.defaultFS
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Deterministic training-order shuffle: assign every row a shard
    * (uniform, from an md5 nibble pair — engine-portable, no RNG state)
    * and a position within its shard (hash order, id tie-break). This is
    * the "globally shuffle the corpus, then write N shards" step of a
    * pretraining data pipeline, made reproducible: a row's (shard, pos)
    * never depends on partitioning, cluster size, or run order.
    *
    * Scale: the per-shard window is ONE shuffle keyed on shard + a
    * within-partition sort — physically identical to
    * `repartition(shard).sortWithinPartitions(hash)`. Choose nShards at
    * least the cluster's write parallelism; it must divide 256 so the
    * nibble-pair modulo stays unbiased. */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shard"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1 && 256 % nShards == 0,
      s"nShards must divide 256 for an unbiased nibble modulo, got $nShards")
    // hex chars -> 0..255 via instr position arithmetic: instr/substr have
    // identical 1-based semantics in Spark SQL and DuckDB, so the oracle
    // replays this expression verbatim
    val shard = expr(
      s"""((instr('0123456789abcdef', substring(_h, 1, 1)) - 1) * 16 +
         |  (instr('0123456789abcdef', substring(_h, 2, 1)) - 1)) % $nShards"""
        .stripMargin)
    df.withColumn("_h", md5(concat(col(idCol).cast("string"), lit(salt))))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("_h"), col(idCol))))
      .drop("_h")
  }

  def rangeJoin(left: DataFrame, right: DataFrame, leftTs: String,
      rightStart: String, rightEnd: String, width: Long): DataFrame = {
    require(width > 0, s"bucket width must be > 0, got $width")
    val b = "_g_bkt"
    // Integral `div`, not floor(col/width): `/` promotes to double, and
    // beyond 2^53 (epoch NANOSECONDS — this repo's events table) the
    // rounding can bucket a point and its containing interval differently,
    // silently dropping true matches. Inputs are non-negative (doc'd), so
    // truncating div == floor div.
    def bkt(c: String) = expr(s"cast(`$c` as long) div $width")
    val rb = right.withColumn(b, explode(sequence(bkt(rightStart), bkt(rightEnd))))
    val lb = left.withColumn(b, bkt(leftTs))
    lb.join(rb, b)
      .filter(col(leftTs) >= col(rightStart) && col(leftTs) <= col(rightEnd))
      .drop(b)
  }

  /** Distributed EXCLUSIVE prefix sum over a global order — the building
    * block for sequence packing and any "position in the concatenated
    * corpus" computation. A window `SUM() OVER (ORDER BY ...)` forces the
    * whole table through ONE partition (Spark plans an un-keyed window as
    * a single-reducer sort) — the classic 100 TB scale killer. This is the
    * textbook two-pass alternative: range-partition + in-partition sort
    * gives the global order across `p` reducers; pass 1 reduces each
    * partition to one subtotal (`p` rows to the driver — bounded license);
    * the exclusive per-partition offsets broadcast back; pass 2 streams
    * each partition once, accumulating locally from its offset. The
    * partitioned frame is persisted so both passes see the SAME sampled
    * range boundaries, and released eagerly before returning.
    *
    * Output: the input columns plus `prefixCol` = sum of `valueCol` over
    * all rows strictly before this one in `orderCol` order. `orderCol`
    * must be unique (it defines the total order); `valueCol` must be
    * integral — the accumulation is exact bigint, engine-identical. */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      prefixCol: String = "prefix_sum", partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val p = sizedRangePartitions(df, partitions)
    val proj = df.select(col(orderCol), col(valueCol).cast("long").as(valueCol))
    val schema = StructType(Seq(
      df.schema(orderCol), StructField(valueCol, LongType),
      StructField(prefixCol, LongType)))
    if (p == 1) {
      // Single-range fast path (the stats sizing picks 1 exactly for the
      // small key-cardinality frames most callers feed): no range
      // boundaries to sample, and the lone partition's exclusive offset
      // is 0 by definition — so the sampling job, the pass-1 subtotal
      // job, the offset broadcast AND the eager localCheckpoint (which
      // only exists to outlive bc.destroy()) all drop away. One shuffle,
      // one in-partition sort, one streaming map — the same job count as
      // the single-partition window this device replaces, without its
      // unbounded-frame scale hazard at real partition counts.
      val sorted1 = proj.repartition(1).sortWithinPartitions(orderCol)
      val rdd = sorted1.rdd.mapPartitions { it =>
        var acc = 0L
        it.map { r =>
          val v = r.getLong(1); val o = acc; acc += v
          Row(r.get(0), v, o)
        }
      }
      return spark.createDataFrame(rdd, schema)
    }
    val sorted = proj
      .repartitionByRange(p, col(orderCol))
      .sortWithinPartitions(orderCol)
      .persist()
    // pass 1: one subtotal per partition (genuine per-partition imperative
    // logic — the sanctioned RDD case; empty partitions still emit a row)
    val perPart = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = 0L
      it.foreach(r => acc += r.getLong(1))
      Iterator.single(pid -> acc)
    }.collect()
    val offsets = {
      val m = new scala.collection.mutable.HashMap[Int, Long]
      var acc = 0L
      for ((pid, s0) <- perPart.sortBy(_._1)) { m(pid) = acc; acc += s0 }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: stream each partition from its broadcast offset
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r =>
        val v = r.getLong(1); val o = acc; acc += v
        Row(r.get(0), v, o)
      }
    }
    val out = spark.createDataFrame(rdd, schema)
      .localCheckpoint(true) // bounds sorted's persist and bc to this call
    sorted.unpersist()
    bc.destroy()
    out
  }

  /** Distributed 1-based row number over a TOTAL order given by
    * `orderCols` (a unique composite; sort-direction Columns like
    * `col("n").desc` are honored): range-repartition on the order
    * columns, sort within partitions, count rows per partition (a
    * partition-count-sized driver array), then stream each partition
    * from its exclusive offset. The [[prefixSum]] two-pass device
    * generalized to ranks over composite orders — it replaces the
    * single-partition window a global row_number()/ntile() otherwise
    * forces, which is the one window shape that cannot survive a
    * key-cardinality frame at 100 TB. Appends `rankCol` to the input
    * columns. */
  def globalRank(df: DataFrame, orderCols: Seq[Column],
      rankCol: String = "rk", partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    require(orderCols.nonEmpty, "globalRank needs at least one order column")
    val spark = df.sparkSession
    val p = sizedRangePartitions(df, partitions)
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ StructField(rankCol, LongType, nullable = false))
    if (p == 1) {
      // Single-range fast path — see prefixSum: no sampling job, no
      // pass-1 count job, no broadcast, no eager checkpoint; ranks start
      // at the lone partition's exclusive offset 0.
      val sorted1 = df.repartition(1).sortWithinPartitions(orderCols: _*)
      val rdd = sorted1.rdd.mapPartitions { it =>
        var r = 0L
        it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
      }
      return spark.createDataFrame(rdd, schema)
    }
    val sorted = df
      .repartitionByRange(p, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .persist()
    val perPart = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; it.foreach(_ => n += 1); Iterator.single(pid -> n)
    }.collect()
    val offsets = {
      val m = new scala.collection.mutable.HashMap[Int, Long]
      var acc = 0L
      for ((pid, n) <- perPart.sortBy(_._1)) { m(pid) = acc; acc += n }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val rdd = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = bc.value(pid)
      it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
    }
    val out = spark.createDataFrame(rdd, schema)
      .localCheckpoint(true) // bounds sorted's persist and bc to this call
    sorted.unpersist()
    bc.destroy()
    out
  }

  /** Ordered CDC-log replay with deletes — the half of `MERGE INTO`
    * [[mergeUpsert]] doesn't cover: the log carries upserts AND deletes
    * per key, ordered by `orderCols`; the final table state is
    * last-writer-wins, and a key whose LAST op is a delete is absent.
    * One key-partitioned window (no join at all): at scale this is the
    * standard snapshot-compaction shape a Debezium/Delta CDC sink runs,
    * and it composes with [[mergeUpsert]] for snapshot+log layouts.
    * `n_ops` (every applied op, deletes included) rides along for audit. */
  def applyCdcLog(log: DataFrame, keyCols: Seq[String], opCol: String,
      deleteOp: String, orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty,
      "applyCdcLog needs key and order columns")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    log.withColumn("_rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(wAll))
      .where(col("_rn") === 1 && col(opCol) =!= deleteOp)
      .drop("_rn", opCol)
  }

  /** Batch MERGE-upsert: the lakehouse `MERGE INTO` semantics as one full
    * outer join — matched keys take the update's columns, unmatched base
    * rows persist, update-only keys insert; `action` labels each row
    * (updated/inserted/kept) for audit sinks. Both sides shuffle once on
    * the key (or zero times if pre-bucketed on it — [[writeBucketed]]);
    * at scale this is exactly the shuffle a Delta/Iceberg MERGE pays,
    * minus the transaction log. `base` and `updates` must share the
    * schema; non-key columns are taken whole-row from the winning side. */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    val dataCols = base.columns.filterNot(keyCols.contains).toSeq
    require(updates.columns.sorted.sameElements(base.columns.sorted),
      "base and updates must share a schema")
    // explicit presence markers, not IS NULL on data columns — a data
    // column may be legitimately NULL on either side
    val b = base.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"_b_$c"))
        :+ lit(true).as("_in_b"): _*)
    val u = updates.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"_u_$c"))
        :+ lit(true).as("_in_u"): _*)
    b.join(u, keyCols, "full_outer")
      .select(keyCols.map(col) ++ dataCols.map(c =>
        when(col("_in_u").isNotNull, col(s"_u_$c"))
          .otherwise(col(s"_b_$c")).as(c)) :+
        when(col("_in_u").isNotNull && col("_in_b").isNotNull, "updated")
          .when(col("_in_b").isNull, "inserted")
          .otherwise("kept").as("action"): _*)
  }

  /** CDC snapshot diff: compare two snapshots of the same table keyed on
    * `keyCols` and emit ONLY the delta — rows labeled `added` (key only in
    * `newSnap`), `removed` (key only in `oldSnap`), or `changed` (key in
    * both, any non-key column differs under null-safe compare). Unchanged
    * rows are dropped, so the output is delta-sized, not table-sized. Data
    * columns carry the NEW side's values (the old values for `removed`).
    * One key-keyed shuffle per side — the same cost as [[mergeUpsert]];
    * at 100 TB, prune unchanged partitions first with per-partition
    * [[graft.ops.PipelineOps q_table_checksum]]-style checksums and diff
    * only the partitions whose checksums moved. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(newSnap.columns.sorted.sameElements(oldSnap.columns.sorted),
      "snapshots must share a schema")
    val dataCols = oldSnap.columns.filterNot(keyCols.contains).toSeq
    val o = oldSnap.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"_o_$c"))
        :+ lit(true).as("_in_o"): _*)
    val n = newSnap.select(
      keyCols.map(col) ++ dataCols.map(c => col(c).as(s"_n_$c"))
        :+ lit(true).as("_in_n"): _*)
    // null-safe (<=>): a NULL→value or value→NULL flip IS a change,
    // NULL→NULL is not
    val changed = dataCols.map(c => !(col(s"_o_$c") <=> col(s"_n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("_in_o").isNull, "added")
          .when(col("_in_n").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) ++ dataCols.map(c =>
        when(col("_in_n").isNotNull, col(s"_n_$c"))
          .otherwise(col(s"_o_$c")).as(c)) :+ col("change"): _*)
  }

  /** SCD Type-2 dimension history: turn a change-event stream
    * (key, attrs, event time) into versioned dimension rows
    * `keyCols ++ attrCols ++ (eff_from, eff_to, is_current)` — each
    * version effective from its event until the next CHANGE for that key
    * (open-ended for the latest). Consecutive events whose attrs are
    * null-safe-identical are collapsed first (re-delivered no-change
    * events are the norm in CDC feeds), so a version's span covers all
    * its duplicate re-deliveries. `tsCol` must be non-null; `tieCol`
    * breaks same-timestamp ties deterministically. Plan shape: ONE
    * shuffle on the key; the collapse lag, the filter, and the
    * effective-range lead all reuse the same (key, ts, tie) sort —
    * Spark elides the second sort because filter preserves ordering. */
  def scdType2(events: DataFrame, keyCols: Seq[String], attrCols: Seq[String],
      tsCol: String, tieCol: String): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "scdType2 needs keys and attrs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(tsCol), col(tieCol))
    // first-row detection rides the non-null ts, NOT the attrs — a key
    // whose first event carries all-NULL attrs must still survive
    val first  = lag(col(tsCol), 1).over(w).isNull
    val prevEq = attrCols.map(c => lag(col(c), 1).over(w) <=> col(c)).reduce(_ && _)
    events
      .withColumn("_keep", first || !prevEq)
      .filter(col("_keep"))
      .withColumn("eff_from", col(tsCol))
      .withColumn("eff_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("eff_to").isNull)
      .select(keyCols.map(col) ++ attrCols.map(col)
        :+ col("eff_from") :+ col("eff_to") :+ col("is_current"): _*)
  }

  /** GPT-style sequence packing: documents are conceptually concatenated
    * in `idCol` order and chunked into fixed `seqLen`-token training
    * sequences; each document's placement is fully determined by its
    * token offset in the virtual concatenation. Emits per document:
    * token count, exclusive token offset, and the ids of the first and
    * last training sequence the document lands in (a long document spans
    * `seq_id_first..seq_id_last`). The offset comes from [[prefixSum]] —
    * no single-partition window anywhere — so the packing plan holds at
    * corpus scale; the sequence assembly itself is then a
    * partition-by-`seq_id_first` write, embarrassingly parallel. */
  def packSequences(docs: DataFrame, idCol: String, nTok: Column,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be > 0, got $seqLen")
    prefixSum(docs.select(col(idCol), nTok.cast("long").as("n_tok")),
      idCol, "n_tok", prefixCol = "tok_offset")
      .withColumn("seq_id_first", expr(s"tok_offset div ${seqLen}L"))
      .withColumn("seq_id_last",
        expr(s"(tok_offset + greatest(n_tok, 1L) - 1L) div ${seqLen}L"))
  }

  /** Two-phase salted aggregation: a hot GROUP BY key is spread across
    * `salts` sub-keys (deterministic hash of `idCol`), partially
    * aggregated, then combined — (count, exact fixed-point sum) partials
    * are associative, so the result EQUALS the direct aggregation while
    * no single reducer ever owns a hot key's full row stream. For plain
    * algebraic aggregates Spark's map-side combine usually suffices; the
    * two-shuffle shape is the one that matters when per-key reducer
    * STATE is the bottleneck (collect-style, exact-distinct, sketch
    * merges) or when AQE's skew handling is unavailable mid-pipeline —
    * this entry keeps the pattern verified and plan-checkable. */
  def saltedCountSum(df: DataFrame, key: String, idCol: String,
      valueFp: Column, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    df.withColumn("_salt", pmod(xxhash64(col(idCol)), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(valueFp).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("s_fp"))
  }
}
