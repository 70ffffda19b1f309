package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{QueryRunner, ResultHash, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark harness: drives the graft query registry from outside.
  *
  * One process, one closed-loop client: the workload's queries run one
  * after another, each on its own job group, in an order drawn from the
  * seed afresh for every pass. A query is one call to its registry
  * function (`build`) followed by writing the returned DataFrame in full
  * to the `noop` sink (`action`); the two spans are timed separately.
  * The first pass is the cold pass. In it, each result is also hashed
  * with [[graft.ResultHash]] right after its action and compared with a
  * committed table; hashing is timed apart and left out of the pass time.
  * Timed warm passes follow, one per `NominalPassS` of `--seconds` and at
  * least two.
  *
  * With `--trace 1`, some timed passes carry the [[Trace]] listeners and
  * the others none, so the difference between the two kinds of pass is
  * the tracing overhead.
  *
  * Arguments (all `--key value`): mode (`run`, `check` or `probe`), data,
  * queries (`name:module,...`), seed, seconds, trace, cores, expected
  * (hash tsv), out (raw JSON record).
  * The line `READY` goes to stdout as soon as the SparkSession exists, so
  * the caller can time set-up from process start; `probe` exits there,
  * and `check` runs a single hashing pass. */
object Main {

  /** Per-query deadline; a query past it is cancelled and counted failed. */
  private val TimeoutSec = 120L

  /** Seconds of `--seconds` that buy one timed warm pass. */
  private val NominalPassS = 5.0

  final case class Query(name: String, module: String)

  final case class Span(query: String, module: String, build_s: Double,
      action_s: Double, hash_s: Double, error: Option[String])

  final case class Pass(index: Int, traced: Boolean, wall_s: Double,
      spans: Seq[Span], layers: Map[String, Double])

  final case class Check(query: String, rows: Long, hash: String,
      expected: Option[String], ok: Boolean, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = opts.getOrElse("cores", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("READY")
    System.out.flush()
    if (opts.getOrElse("mode", "run") == "probe") Runtime.getRuntime.halt(0)

    val data = opts("data")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val queries = opts("queries").split(",").toSeq.map { s =>
      val Array(n, m) = s.split(":"); Query(n, m)
    }
    val unknown = queries.map(_.name).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")

    def order(pass: Int): Seq[Query] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    val expected = opts.get("expected").filter(p => Files.exists(Paths.get(p)))
      .map(readHashes).getOrElse(Map.empty)

    /** One query; with `hash`, the returned DataFrame is also hashed after
      * the timed action. */
    def runOne(q: Query, hash: Boolean): (Span, Option[Check]) = {
      var build = -1.0
      var action = -1.0
      var hashS = 0.0
      var got: Option[(Long, String, String)] = None
      val r = QueryRunner.timed(spark, q.name, TimeoutSec) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q.name)(spark, data)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        build = (t1 - t0) / 1e9
        action = (t2 - t1) / 1e9
        if (hash) {
          got = Some(ResultHash.of(df))
          hashS = (System.nanoTime() - t2) / 1e9
        }
      }
      // cached intermediates of one query must not pressure the next
      spark.sqlContext.clearCache()
      val check = if (!hash) None else {
        val (rows, cols, md5) = got.getOrElse((-1L, "", ""))
        val h = s"$rows\t$cols\t$md5"
        val want = expected.get(q.name)
        Some(Check(q.name, rows, h, want, r.isRight && want.contains(h), r.left.toOption))
      }
      (Span(q.name, q.module, build, action, hashS, r.left.toOption), check)
    }

    val trace = if (traced) Some(new Trace(spark, cores.toInt)) else None
    val checks = Seq.newBuilder[Check]
    def runPass(index: Int, withTrace: Boolean, hash: Boolean = false): Pass = {
      val t = trace.filter(_ => withTrace)
      t.foreach(_.start())
      val t0 = System.nanoTime()
      val runs = order(index).map(runOne(_, hash))
      val wall = (System.nanoTime() - t0) / 1e9 - runs.map(_._1.hash_s).sum
      checks ++= runs.flatMap(_._2)
      Pass(index, withTrace, wall, runs.map(_._1), t.map(_.stop(wall)).getOrElse(Map.empty))
    }

    val checkOnly = opts.getOrElse("mode", "run") == "check"
    val calibBefore = if (checkOnly) 0.0 else Calibrate.xorshift()
    val passes = Seq.newBuilder[Pass]
    passes += runPass(0, withTrace = false, hash = true)
    val timed = if (checkOnly) 0.0 else {
      // The timed passes. Their number depends on --seconds only, not on
      // how fast the host is: warm passes still speed up pass after pass,
      // so a time-bounded loop would run more of them on a fast host and
      // take its median further down that curve. Traced runs take at least
      // five: an untraced warm-up, whose pass is the slowest by far, then
      // untraced and traced in the order U T T U, so the rest of the
      // warm-up trend cancels out of the overhead.
      val timedPasses = math.max(if (traced) 5 else 2, math.round(seconds / NominalPassS).toInt)
      val start = System.nanoTime()
      for (index <- 1 to timedPasses)
        passes += runPass(index, withTrace = traced && Set(3, 0)(index % 4))
      (System.nanoTime() - start) / 1e9
    }
    val checked = checks.result()
    val calibAfter = if (checkOnly) 0.0 else Calibrate.xorshift()

    val record = Map(
      "timed_s" -> timed,
      "passes" -> passes.result(),
      "checks" -> checked,
      "calibration_s" -> Map("before" -> calibBefore, "after" -> calibAfter),
      "vmhwm_kb" -> vmHwmKb(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(record))
    Runtime.getRuntime.halt(0)
  }

  /** `name -> "rows\tcols\tmd5"` from a hash tsv (`#` lines are notes). */
  private def readHashes(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }
      .toMap

  /** The process's resident-set high-water mark (VmHWM), -1 off Linux. */
  private def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }
}

/** The xorshift64 host-speed loop graft.Bench samples (4e8 steps, one
  * thread): a host-noise note taken before and after a run, not a metric. */
object Calibrate {
  def xorshift(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var acc = 0L; var i = 0L
    while (i < 400000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
    }
    if (acc == 42L) System.err.print("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }
}
