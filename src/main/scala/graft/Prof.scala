package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Scratch profiling main (dev only, not part of the library surface).
  * Current focus: break down the streaming tier's ~1.0-2.2 s per-query
  * fixed cost at sf0.1 (round-6 task: q_stream_* total ≤15 s) — how much
  * is query start, batch execution, no-data flush, stop, read-back.
  */
object Prof {

  /** Stage-level breakdown of registry queries (round-9 task: commit the
    * "this is irreducible" record for the top-3 genuine-cost queries).
    * `runMain graft.Prof stages q_a q_b ...` — one warmup run, then one
    * measured run per query with a stage listener; prints per-stage
    * wall, task count, shuffle read/write so a reviewer can see WHERE
    * the seconds go (scan vs shuffle vs iteration rounds). */
  private def profileStages(queries: Seq[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    final case class St(id: Int, name: String, ms: Long, tasks: Int,
        shufReadMb: Double, shufWriteMb: Double, spillMb: Double,
        submitMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n'), dur, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.memoryBytesSpilled / 1048576.0,
          si.submissionTime.getOrElse(-1L))): Unit
      }
    }
    queries.foreach { name =>
      SparkEntry.queries(name)(spark, d).count() // warmup (JIT, codegen, file index)
      spark.sqlContext.clearCache()
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d).count(): Unit
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are posted async (the bus drain API is
      // private[spark]); a short settle is enough for completed stages
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      spark.sqlContext.clearCache()
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"%n== $name: wall ${wall}%.2f s, ${ss.size} stages, stage-time sum ${ss.map(_.ms).sum / 1000.0}%.2f s ==")
      println(f"${"ms"}%7s ${"tasks"}%5s ${"shufR"}%8s ${"shufW"}%8s ${"spill"}%7s  stage")
      ss.take(14).foreach { s =>
        println(f"${s.ms}%7d ${s.tasks}%5d ${s.shufReadMb}%7.1fM ${s.shufWriteMb}%7.1fM ${s.spillMb}%6.1fM  [${s.id}] ${s.name.take(90)}")
      }
      // Timeline: submission offsets expose DRIVER-SIDE gaps (planning,
      // AQE re-optimization, checkpoint bookkeeping) that per-stage
      // durations can't show — a wall >> stage-sum query is losing its
      // time BETWEEN stages, and this names exactly where.
      val t0Wall = ss.map(_.submitMs).filter(_ > 0).minOption.getOrElse(0L)
      val timeline = ss.filter(_.submitMs > 0).sortBy(_.submitMs)
      println("timeline (start+dur, gaps are driver time):")
      var lastEnd = 0L
      timeline.foreach { s =>
        val rel = s.submitMs - t0Wall
        val gap = rel - lastEnd
        val gapTag = if (gap > 200) f" <- gap ${gap / 1000.0}%.1fs" else ""
        println(f"  +${rel / 1000.0}%6.2fs ${s.ms / 1000.0}%6.2fs [${s.id}]$gapTag")
        lastEnd = math.max(lastEnd, rel + s.ms)
      }
    }
    spark.stop()
  }

  /** PQ recall probe (dev tool): sweep (ksub, candidates) on the
    * clustered ANN fixture at SPARK_GRAFT_SF_DIR and print raw recall@5
    * per config — the measurement behind the auto-sizing constants in
    * [[graft.similarity.Ann]] (booleans from the gate can't show HOW
    * far off a config is). */
  private def profileAnnRecall(): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import graft.similarity.Ann
    import graft.ops.Tables
    val emb0 = Tables(spark, d, "embeddings").select("vec_id", "embedding")
    val anchors = emb0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("_g"), col("embedding").as("_anchor"))
    val emb = emb0.withColumn("_g", col("vec_id") % 8)
      .join(org.apache.spark.sql.functions.broadcast(anchors), "_g")
      .select(col("vec_id"),
        zip_with(col("_anchor"), col("embedding"),
          (a, e) => a * lit(1.0) + e * lit(0.35)).as("embedding"))
      .localCheckpoint(true) // read by the exact top-k, the count and every sweep job
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Ann.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true) // read by every sweep job
    val n = emb.count()
    println(s"corpus n=$n dir=$d")
    for (ksub <- Seq(32, 256); cand <- Seq(50, 1000, 5000, 20000)) {
      val approx = Ann.pqTopKReranked(emb, queries, k = 5, dim = 64,
        m = 8, ksub = ksub, candidates = cand)
        .select("query_id", "neighbor_id")
      val hits = approx.join(exact, Seq("query_id", "neighbor_id")).count()
      println(f"ksub=$ksub%4d cand=$cand%6d recall@5=${hits / 40.0}%.3f")
    }
    spark.stop()
  }

  /** Driver-phase attribution (VERDICT r12 task 4): where do the
    * seconds of a wall >> stage-sum query actually go on the DRIVER?
    * Per query: warmup, then a measured pass split into BUILD (the
    * `queries(name)` builder call — every intermediate Dataset the API
    * chain creates is analyzed eagerly here) and ACTION (`count()` —
    * final analysis/optimization/physical planning/codegen + execution),
    * plus the final plan's QueryPlanningTracker phase summary and a
    * SECOND count() on the SAME DataFrame (what a reused plan costs). */
  private def profilePhases(queries: Seq[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries.foreach { name =>
      SparkEntry.queries(name)(spark, d).count() // warmup
      spark.sqlContext.clearCache()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, d)
      val t1 = System.nanoTime()
      df.count(): Unit
      val t2 = System.nanoTime()
      df.count(): Unit
      val t3 = System.nanoTime()
      // split the COUNT's own QueryExecution into optimize / physical-plan
      // / execute — count() builds a fresh QueryExecution per call, so
      // the reused-DF number above still pays all three
      val cnt = df.groupBy().count()
      val qe = cnt.queryExecution
      val p0 = System.nanoTime()
      qe.optimizedPlan
      val p1 = System.nanoTime()
      qe.executedPlan
      val p2 = System.nanoTime()
      cnt.collect(): Unit
      val p3 = System.nanoTime()
      println(f"%n== $name ==")
      println(f"build ${(t1 - t0) / 1e9}%.3fs  first-count ${(t2 - t1) / 1e9}%.3fs  second-count(same DF) ${(t3 - t2) / 1e9}%.3fs")
      println(f"count-QE: optimize ${(p1 - p0) / 1e9}%.3fs  physical-plan ${(p2 - p1) / 1e9}%.3fs  execute(incl AQE+codegen) ${(p3 - p2) / 1e9}%.3fs")
      qe.tracker.phases.foreach { case (phase, s) =>
        println(f"  phase $phase%-16s ${(s.endTimeMs - s.startTimeMs) / 1000.0}%.3fs")
      }
      qe.tracker.topRulesByTime(8).foreach { case (rn, rs) =>
        println(f"  rule ${rn.split('.').last}%-40s ${rs.totalTimeNs / 1e9}%.3fs (${rs.numInvocations} invocations)")
      }
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }

  /** Ablation decomposition of q_flights_golden (r14: WHERE does the big
    * reduce stage's CPU go?). Variants share the exact join chain through
    * the graft api; each adds one cost layer:
    *   joins+native-agg        — the Spark join/scan/agg floor
    *   joins+udfs+native-agg   — adds the two error-channel UDF ops
    *   joins+native-rev+fold   — adds the FoldAgg (no UDF ops)
    *   full                    — the registered query
    * Each: 1 warmup + min-of-2 measured counts. */
  private def profileFlightsAblate(): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import graft.api.{Context, GraftErr}
    import graft.ops.Tables
    def joined(s: SparkSession) = {
      val ctx = new Context(s)
      ctx.fromDataFrame(Tables(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"))
        .join(ctx.fromDataFrame(Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey")), "l_orderkey", "o_orderkey")
        .join(ctx.fromDataFrame(Tables(s, d, "customer")
          .select("c_custkey", "c_nationkey")), "o_custkey", "c_custkey")
        .join(ctx.fromDataFrame(Tables(s, d, "nation")
          .select("n_nationkey", "n_name")), "c_nationkey", "n_nationkey")
        .renameColumn("n_name", "cust_nation")
        .join(ctx.fromDataFrame(Tables(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")), "l_suppkey", "s_suppkey")
        .leftJoin(ctx.fromDataFrame(Tables(s, d, "nation")
          .select("n_nationkey", "n_name")), "s_nationkey", "n_nationkey")
        .renameColumn("n_name", "supp_nation")
    }
    val nativeRev = when(col("l_orderkey") % 5 === 0, 0.0)
      .otherwise(col("l_extendedprice") * (lit(1) - col("l_discount")))
    def nativeAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("cust_nation", "supp_nation")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("revenue") * 10000d + 0.5d).cast("long")).as("rfp"))
    def withUdfs(ds: graft.api.DataSet) = ds
      .withColumnUdf2[Double, Double, Double]("revenue",
        col("l_extendedprice"), col("l_discount"))((p, disc) => p * (1 - disc))
      .mapColumnUdf[Long, Long]("l_orderkey") { k =>
        if (k % 5 == 0) GraftErr.fail(5) else k }
      .resolveCode[Long, Long](5L)(identity)
      .withColumn("revenue",
        when(col("l_orderkey") % 5 === 0, 0.0).otherwise(col("revenue")))
    import spark.implicits._
    def fold(ds: graft.api.DataSet) = ds
      .selectColumns(Seq("cust_nation", "supp_nation", "revenue"))
      .aggregateByKey[(Long, Long)](Seq("cust_nation", "supp_nation"), (0L, 0L))(
        (b, r) => (b._1 + 1,
          b._2 + math.floor(r.getAs[Double]("revenue") * 10000d + 0.5d).toLong),
        (x, y) => (x._1 + y._1, x._2 + y._2))
    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("joins+native-agg", () => nativeAgg(joined(spark).toDF.withColumn("revenue", nativeRev))),
      ("joins+udfs+native-agg", () => nativeAgg(withUdfs(joined(spark)).toDF)),
      ("joins+native-rev+fold", () => fold(joined(spark).withColumn("revenue", nativeRev)).toDF),
      ("full(q_flights_golden)", () => SparkEntry.queries("q_flights_golden")(spark, d)))
    variants.foreach { case (name, mk) =>
      mk().count() // warmup
      spark.sqlContext.clearCache()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk().count(): Unit
        val t = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        t
      }
      println(f"ABLATE $name%-24s min ${times.min}%.2fs  (draws ${times.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("stages")) { profileStages(args.toSeq.drop(1)); return }
    if (args.headOption.contains("phases")) { profilePhases(args.toSeq.drop(1)); return }
    if (args.headOption.contains("ann")) { profileAnnRecall(); return }
    if (args.headOption.contains("flights")) { profileFlightsAblate(); return }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"

    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

    // stage once (memoized in real Streams)
    import spark.implicits._
    def stage(parts: Int): String = {
      val watch = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "prof_in").toString
      val ev = graft.ops.Tables.events(spark, d)
        .withColumn("ts", unix_micros(col("ts"))).repartition(parts)
      ev.write.mode("append").parquet(watch)
      Seq((-1L, 4102444800L * 1000000L, -1L, "_g_sentinel", 0.0, null: String))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(watch)
      watch
    }
    val watch = stage(8)

    // config A/B matrix: mode x variant, 3 runs each (first discarded).
    // Round-7 conclusions (committed numbers in the round log): drain is
    // addBatch-dominated; staged file count (1/8/16), async progress
    // tracking, wholeStage codegen off, and formatValidation off were all
    // within noise; known-schema readback saves ~50ms/query.
    for (mode <- Seq("filesink", "async", "schemaread", "filesink", "async",
           "schemaread");
         i <- 1 to 3) {
      val t0 = System.nanoTime()
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
      if (mode == "async") {
        s.conf.set("spark.sql.streaming.asyncProgressTrackingEnabled", "true")
        s.conf.set("spark.sql.streaming.asyncProgressTrackingCheckpointIntervalMs", "0")
      }
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "prof_out").toString

      var t = System.nanoTime()
      val src = s.readStream.schema(schema).parquet(watch)
        .withColumn("ts", timestamp_micros(col("ts")))
      val agg = src
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      val w0 = agg.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$root/chk")
      val q = w0.format("parquet").option("path", s"$root/data").start()
      val tStart = ms(t)

      t = System.nanoTime()
      q.processAllAvailable()
      val tDrain = ms(t)
      // java.util.Map#get returns null for absent keys (no-data batches)
      val batchInfo = q.recentProgress.map(p =>
        s"b${p.batchId}:${Option(p.durationMs.get("triggerExecution")).getOrElse("-")}")
        .mkString(" ")

      t = System.nanoTime()
      q.stop()
      t = System.nanoTime()
      val n = (if (mode == "schemaread")
          spark.read.schema(agg.schema).parquet(s"$root/data")
        else spark.read.parquet(s"$root/data"))
        .filter(col("event_type") =!= "_g_sentinel").count()
      val tRead = ms(t)
      println(s"PROF mode=$mode run=$i start=$tStart drain=$tDrain [$batchInfo] read=$tRead rows=$n total=${ms(t0)}")
    }
    spark.stop()
  }
}
