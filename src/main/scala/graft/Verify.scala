package graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable

/** Correctness dump: each `SparkEntry.queries` result lands as
  * `<outDir>/<name>.parquet`, next to `oracle_sql.json` and
  * `scale_oracle_sql.json` for the DuckDB compare in `scripts/check.py`.
  * The oracle files are written first, so a run killed midway still
  * leaves them.
  *
  * Queries run concurrently through a fixed pool (default 8,
  * `SPARK_GRAFT_VERIFY_PAR` overrides): Spark's scheduler interleaves
  * independent jobs on one local[N] context, and the known-slow tier is
  * submitted first to shorten the makespan. Each query runs under
  * QueryRunner's job group and timeout, so one hang costs its slot, not
  * the run.
  *
  * Verify also self-checks: it hashes each written parquet
  * ([[ResultHash]]) and compares it with the committed expected-hash
  * resource for the data drop (generated by a run that `scripts/check.py`
  * verified against DuckDB). Fresh hashes land in
  * `<outDir>/verify_hashes.tsv`, the file to copy into
  * src/main/resources/graft/ to regenerate the expecteds after a data
  * drop. The run record, `records/verify_<sfName>.json` ([[RunRecord]]),
  * is rewritten after every query: per query `status`, `secs`, `rows`,
  * `hash_match` and `layers` ([[Metrics]]). The process exits 1 when any
  * query fails, times out, is left pending or mismatches its hash. */
object Verify {

  /** Slow tier from bench history, submitted first so the pool's tail is
    * short queries instead of a 4 s golden starting at minute N. */
  private val slowFirst = Seq(
    "q_audio_decode", "q_audio_resample", "q_pagerank", "q_triangle",
    "q_assoc_rules", "q_setsim_join", "q_dedup_span", "q_bfs_hops",
    "q_ann_int8_gate", "q_ann_int8", "q_stream_dedup_ingest",
    "q_stream_chained", "q_stream_sliding",
    "q_stream_upsert", "q_stream_stream_join", "q_stream_left_join",
    "q_stream_session", "q_corpus_golden", "q_dedup_ngram",
    "q_zillow_golden", "q_flights_golden",
    "q_dedup_embed_lsh", "q_bucketed_join", "q_salted_join",
    "q_multimodal_resize", "q_stream_join", "q_stream_dedup",
    "q_stream_user_counts", "q_stream_window", "q_csv_roundtrip",
    "q_partition_overwrite", "q_ann_lsh", "q_semdedup", "q_kmeans_embed",
    "q_ann_ivf_indexed", "q_dedup_embed_groundtruth", "q_dedup_minhash",
    "q_dedup_clusters", "q_dedup_cluster_keep_best", "q_split_leakage",
    "q_ccnet_buckets", "q_pipeline_golden", "q_dedup_delta",
    // round-6 additions that build shared memoized assets (affinity
    // graph, image-hash index, IVF v2, CDC staging) — submit first so
    // their build cost overlaps the rest of the pool
    "q_clustering_coeff", "q_kcore", "q_image_index_probe",
    "q_stream_cdc", "q_ann_index_update",
    // round-7 additions: the iterative LPA rounds and the two-pass
    // prefix-sum/rank queries submit first for the same overlap reason
    "q_label_prop", "q_seq_packing", "q_pack_curve", "q_curriculum")

  /** Fingerprint of a data drop: md5 over the sorted (name, byte-size)
    * list of the sf dir's parquet tables. Identical generator output ⇒
    * identical bytes ⇒ identical sizes; a re-seeded drop shifts sizes
    * almost surely. Cheap (pure metadata) and good enough to refuse
    * stale expected hashes instead of reporting false mismatches. */
  private[graft] def dataFingerprint(sfDir: String): String = {
    val files = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    files.foreach(f => md.update(s"${f.getName}:${f.length}\n".getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Expected (rows, sortedCols, hash) per query for a scale-factor dir,
    * from the committed classpath resource. Empty when the resource is
    * absent OR its recorded `#fingerprint=` header does not match the
    * current data drop (stale hashes must not read as wrong answers).
    * `fp` short-circuits recomputing the drop fingerprint when the
    * caller already has it. Malformed lines are SKIPPED, not fatal —
    * the resource is hand-copied after data drops, and one stray tab
    * must not kill the whole verify run at startup. */
  private[graft] def expectedFor(sfDir: String,
      fp: Option[String] = None): Map[String, (Long, String, String)] = {
    val sfName = sfDir.replaceAll("/+$", "").split('/').last
    val res = getClass.getResourceAsStream(s"/graft/expected_hashes_$sfName.tsv")
    if (res == null) Map.empty
    else {
      val src = scala.io.Source.fromInputStream(res, "UTF-8")
      try {
        val lines = src.getLines().filter(_.nonEmpty).toList
        val recorded = lines.collectFirst {
          case l if l.startsWith("#fingerprint=") => l.stripPrefix("#fingerprint=")
        }
        val actual = fp.getOrElse(dataFingerprint(sfDir))
        if (recorded.exists(_ != actual)) {
          // Say WHY the selfcheck is about to be skipped (VERDICT r12 #6:
          // a silent empty map after a data drop looks exactly like the
          // driver-side empty-CORRECTNESS defect)
          System.err.println(s"[verify] expected-hash resource for $sfName " +
            s"is stamped for fingerprint ${recorded.get} but the data drop " +
            s"is $actual — selfcheck SKIPPED; re-generate the resource if " +
            "the driver data changed")
          Map.empty
        }
        else lines.filterNot(_.startsWith("#")).flatMap { line =>
          line.split('\t') match {
            case Array(name, rows, cols, hash) if rows.forall(_.isDigit) =>
              Some(name -> ((rows.toLong, cols, hash)))
            case _ =>
              System.err.println(s"[verify] skipping malformed expected-hash line: $line")
              None
          }
        }.toMap
      } finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    // Lenient argv: the first two args win, missing ones fall back to
    // env/defaults, and the resolved paths are echoed to stderr.
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outDir = args.lift(1).getOrElse("/tmp/graft_verify")
    new java.io.File(outDir).mkdirs()
    System.err.println(s"[verify] sfDir=$sfDir outDir=$outDir")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run, as in Bench; unknown
    // names fail loudly before any query runs.
    val only = Bench.parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val unknownOnly = Bench.unknownOnly(only)
    if (unknownOnly.nonEmpty) {
      System.err.println(
        s"[verify] SPARK_GRAFT_ONLY names not in the registry: ${unknownOnly.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val json = RunRecord.json

    // Oracle SQL first: it is pure metadata, and the compare needs it even
    // if a later query hangs and the process is killed.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql.filter(x => wanted(x._1))))
    // Scale-point oracle variants (tractable equivalents of the quadratic
    // ground truths — scripts/check.py swaps them in under
    // GRAFT_SCALE_ORACLES=1 for sf1+ gates; never used at graded scales)
    Files.writeString(Paths.get(s"$outDir/scale_oracle_sql.json"),
      json.writeValueAsString(SparkEntry.registry
        .filter(x => x.scaleOracle.isDefined && wanted(x.name))
        .map(x => x.name -> Map("method" -> x.scaleOracle.get.method,
          "sql" -> x.scaleOracle.get.sql)).toMap))

    val all = SparkEntry.queries.filter(x => wanted(x._1))
    val order = slowFirst.filter(all.contains) ++
      all.keys.toSeq.filterNot(slowFirst.contains).sorted

    val fingerprint = dataFingerprint(sfDir)
    val expected = expectedFor(sfDir, Some(fingerprint))
    System.err.println(s"[verify] expected-hash resource for $sfDir: " +
      s"${expected.size} entries (data fingerprint $fingerprint)")

    val record = new RunRecord("verify", sfDir, cpus, only)
    val metrics = Metrics.attach(spark, codegen = false)
    val entries = mutable.Map.empty[String, Map[String, Any]]
    // (rows, sortedCols, hash) per completed query
    val fresh = mutable.Map.empty[String, (Long, String, String)]
    order.foreach(entries(_) = Map("status" -> "pending"))
    def flush(): Unit = {
      record.write(Nil, entries.toMap)
      // name-sorted so expected-hash regenerations diff minimally
      val tsv = fresh.toSeq.sortBy(_._1).map { case (name, (rows, cols, hash)) =>
        s"$name\t$rows\t$cols\t$hash"
      }.mkString(s"#fingerprint=$fingerprint\n", "\n", "\n")
      Files.writeString(Paths.get(s"$outDir/verify_hashes.tsv"), tsv)
    }
    flush()

    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    val pool = Executors.newFixedThreadPool(par, (r: Runnable) => {
      val t = new Thread(r, "graft-verify"); t.setDaemon(true); t
    })
    order.foreach { name =>
      val fn = all(name)
      pool.submit(new Runnable {
        def run(): Unit = {
          // AtomicReference: QueryRunner runs the body on ITS pool and
          // this thread reads after Await — on the timeout path the
          // abandoned body may still be writing concurrently, so the
          // read needs a happens-before edge, and the value is only
          // TRUSTED when the query finished ok (a timed-out query must
          // not count as hash-verified even if its zombie body completed
          // later).
          val hashed = new java.util.concurrent.atomic.AtomicReference[
            Option[(Long, String, String)]](None)
          val run = metrics.timed(name) {
            // The result must land at outDir/<name>.parquet. Spark can
            // only write a directory, so write to a scratch dir and move
            // the single coalesced part file to the exact path.
            val tmp = s"$outDir/.tmp_$name"
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = new java.io.File(tmp).listFiles()
              .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
              .getOrElse(sys.error(s"no part file in $tmp"))
            val dest = Paths.get(s"$outDir/$name.parquet")
            Files.deleteIfExists(dest)
            Files.move(part.toPath, dest)
            new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
            // Self-check hash over the WRITTEN file (exactly what the
            // DuckDB compare reads) — one tiny extra scan at sf0.01.
            hashed.set(Some(ResultHash.of(spark.read.parquet(dest.toString))))
          }
          val st = run.result.fold(identity, _ => "ok")
          val trusted = if (st == "ok") hashed.get() else None
          val hashMatch = trusted.flatMap(h => expected.get(name).map(_ == h))
          val mark = hashMatch.fold("")(m => if (m) " hash=ok" else " hash=MISMATCH")
          System.err.println(f"[verify] $name%-28s $st%-8s ${run.secs}%6.1fs$mark")
          entries.synchronized {
            entries(name) = Map("status" -> st, "secs" -> run.secs,
              "rows" -> trusted.map(_._1), "hash_match" -> hashMatch,
              "layers" -> run.layers)
            trusted.foreach(fresh(name) = _)
            flush()
          }
        }
      })
    }
    pool.shutdown()
    // Drain ceiling: every query carries its own job-group timeout, so a
    // pool that has not drained well past it is a genuine hang.
    val drained = pool.awaitTermination(
      math.max(600L, 2L * QueryRunner.DefaultTimeoutSec), TimeUnit.SECONDS)
    spark.stop()
    val (failed, mismatched, nHashOk) = entries.synchronized {
      (entries.collect { case (n, e) if e("status") != "ok" => n }.toSeq.sorted,
        fresh.collect { case (n, h) if expected.get(n).exists(_ != h) => n }.toSeq.sorted,
        fresh.count { case (n, h) => expected.get(n).contains(h) })
    }
    System.err.println(s"[verify] done: ok=${order.size - failed.size}/${order.size} " +
      s"hash_ok=$nHashOk/${order.count(expected.contains)}")
    if (!drained) System.err.println("[verify] pool did not drain in time")
    if (failed.nonEmpty) System.err.println(s"[verify] not ok: ${failed.mkString(", ")}")
    if (mismatched.nonEmpty)
      System.err.println(s"[verify] hash=MISMATCH: ${mismatched.mkString(", ")}")
    println(record.path)
    System.out.flush()
    if (!drained || failed.nonEmpty || mismatched.nonEmpty) sys.exit(1)
  }
}

/** Deterministic canonical hash of a query result, language-internal
  * (never compared across engines — the DuckDB oracle remains the
  * cross-engine gate; this certifies run-over-run identity against a
  * committed DuckDB-verified snapshot). Columns sorted by name, every
  * value rendered canonically, rows sorted lexicographically, md5 over
  * the joined matrix. All registry queries are exact (integer/decimal
  * fixed-point or IEEE-exact arithmetic — the repo-wide no-float-drift
  * design), so the hash is stable across partition counts and thread
  * schedules. */
object ResultHash {

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => "x" + b.map(x => f"$x%02x").mkString
    case s: String => s"${s.length}:$s"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.underlying.stripTrailingZeros.toPlainString
    // Temporal values canonicalize to epoch numbers: java.sql types
    // render via toString in the JVM DEFAULT timezone, so a committed
    // hash would silently depend on the machine's TZ otherwise.
    case t: java.sql.Timestamp => s"ts:${t.getTime * 1000 + t.getNanos / 1000 % 1000}"
    case d: java.sql.Date => s"d:${d.toLocalDate.toEpochDay}"
    case i: java.time.Instant =>
      s"ts:${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case d: java.time.LocalDate => s"d:${d.toEpochDay}"
    case dt: java.time.LocalDateTime =>
      s"ts:${dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt.getNano / 1000}"
    case dur: java.time.Duration =>
      s"dur:${dur.getSeconds * 1000000L + dur.getNano / 1000}"
    case f: Float => render(f.toDouble)
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d == 0.0) "0.0" // normalize -0.0
      else d.toString
    case r: Row => r.toSeq.map(render).mkString("(", "\u0002", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, vv) => render(k) + "\u0003" + render(vv) }
        .toSeq.sorted.mkString("{", "\u0002", "}")
    case it: Iterable[_] => it.map(render).mkString("[", "\u0002", "]")
    case other => other.toString
  }

  /** (rowCount, comma-joined sorted column names, md5 hex). */
  def of(df: DataFrame): (Long, String, String) = {
    val cols = df.columns.sorted
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rows = proj.collect()
    val lines = rows.map(r => r.toSeq.map(render).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, cols.mkString(","), md.digest().map(b => f"$b%02x").mkString)
  }
}
