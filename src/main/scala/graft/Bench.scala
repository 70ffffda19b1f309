package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Benchmark main: one warmup pass over every registry query (JIT,
  * codegen cache, file-index warm — the reference's warmup-then-measure
  * methodology, sigmod21-reproducibility/README.md:164), then two measured
  * passes keeping each query's faster one (GC/JIT jitter otherwise
  * dominates sub-second queries). Each query is timed through a full
  * no-op write of its result, the plan Verify checks: `count()` would let
  * Catalyst prune the UDF and projection work out of the timed plan.
  *
  * Writes one run record, `records/bench_<sfName>.json` (see
  * [[RunRecord]]): per query `status`, `secs` and `layers` ([[Metrics]],
  * with codegen compile count and time, from the kept pass), plus the
  * host's `calibration_sec`. Prints the record's path. */
object Bench {

  /** Resolved git HEAD of `root` (follows one level of `ref:`), None when
    * not a git checkout — no `git` subprocess, the two files are enough. */
  private[graft] def gitHead(root: java.io.File): Option[String] =
    try {
      val head = new java.io.File(root, ".git/HEAD")
      if (!head.isFile) None
      else {
        val line = Files.readString(head.toPath).trim
        if (line.startsWith("ref: ")) {
          val ref = new java.io.File(root, s".git/${line.stripPrefix("ref: ")}")
          if (ref.isFile) Some(Files.readString(ref.toPath).trim)
          else { // packed refs
            val packed = new java.io.File(root, ".git/packed-refs")
            if (!packed.isFile) None
            else Files.readAllLines(packed.toPath).stream()
              .filter(l => l.endsWith(" " + line.stripPrefix("ref: ")))
              .findFirst()
              .map[Option[String]](l => Some(l.split(' ').head))
              .orElse(None)
          }
        } else Some(line)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Is the working tree dirty (tracked files differ from HEAD)? `gitHead`
    * alone names the clean commit even when the tree carries uncommitted
    * engine edits. False when git cannot answer. */
  private[graft] def gitDirty(root: java.io.File): Boolean =
    try {
      val p = new ProcessBuilder("git", "status", "--porcelain",
        "--untracked-files=no").directory(root).start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      p.waitFor() == 0 && out.trim.nonEmpty
    } catch { case scala.util.control.NonFatal(_) => false }

  /** SPARK_GRAFT_ONLY parsing shared by Bench and Verify: names are
    * trimmed and empties dropped — VERDICT r11 #4: an untrimmed
    * " q_ann_lsh" token silently dropped the query from a judge's
    * filtered run (6 of 7 requested queries ran, nothing said so). */
  private[graft] def parseOnly(raw: Option[String]): Option[Set[String]] =
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Requested names matching no registry query — the caller must fail
    * loudly on a non-empty result BEFORE running anything. */
  private[graft] def unknownOnly(only: Option[Set[String]]): Set[String] =
    only.map(_.diff(SparkEntry.queries.keySet)).getOrElse(Set.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (an iteration aid; the
    // record's `only` field says so). Unknown names fail loudly before
    // anything runs: a solo protocol must never silently measure less
    // than it was asked to.
    val only = parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val unknown = unknownOnly(only)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    // validation gates (ground-truth/recall checks) are Verify-only:
    // they time the deliberately-quadratic oracle, not an operator.
    // An EXPLICIT SPARK_GRAFT_ONLY request overrides the exclusion —
    // asking to time one gate and silently benching nothing would be
    // worse than timing it.
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(n => only.isEmpty && SparkEntry.validationOnly(n))
    val metrics = Metrics.attach(spark, codegen = true)

    /** One timed run of `name` through a full no-op write of its result. */
    def once(name: String): Metrics.Run = {
      val run = metrics.timed(name) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      run.result.swap.foreach(why => System.err.println(s"[bench] $name failed: $why"))
      // Per-query isolation, outside the timed region: a query's
      // persisted intermediates must not pressure every later query's
      // storage memory.
      spark.sqlContext.clearCache()
      run
    }

    // Host-speed yardstick: one fixed single-thread CPU loop (xorshift64
    // mix, 4e8 steps), sampled before, between and after the measured
    // passes; the record keeps the median.
    def calibrate(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        var x = 88172645463325252L; var acc = 0L; var i = 0L
        while (i < 400000000L) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
        }
        if (acc == 42L) System.err.print("") // keep the loop live
        (System.nanoTime() - t0) / 1e9
      }
      math.min(one(), one())
    }

    names.foreach(once) // warmup (discarded)
    val calibBefore = calibrate()
    val pass1 = names.map(once)
    val calibMid = calibrate()
    val pass2 = names.map(once)
    val calib = Seq(calibBefore, calibMid, calibrate()).sorted.apply(1)

    // each query's faster successful pass; a query that failed twice
    // keeps its second failure
    val queries = names.zip(pass1.zip(pass2)).map { case (n, (a, b)) =>
      val kept = Seq(a, b).filter(_.result.isRight).minByOption(_.secs).getOrElse(b)
      n -> Map("status" -> kept.result.fold(identity, _ => "ok"),
        "secs" -> kept.secs, "layers" -> kept.layers)
    }.toMap
    val record = new RunRecord("bench", sfDir, cpus, only)
    record.write(Seq("calibration_sec" -> calib), queries)
    spark.stop()
    println(record.path)
  }
}
