package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CosineSim, HyperplaneSig, NearestCells, TopKByScore}
import graft.ops.Par

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Scale design: brute force is the exact baseline — a broadcast of the
  * (small) query set against the corpus scan, cosine evaluated by a native
  * codegen expression, top-k per query via a bounded partial aggregate
  * (only ≤k rows per partition per query ever reach the shuffle). The
  * LSH variant prunes the corpus with random-hyperplane sign buckets so
  * the per-query work drops from O(corpus) to O(bucket); IVF-style
  * coarse quantization would slot into the same bucket-join shape.
  */
object Ann {

  /** Normalize the vector column to `array<float>` (no-op when already
    * float) so callers with `array<double>` embeddings keep working. */
  private def asFloatVec(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, col(c).cast("array<float>"))

  /** Cosine similarity of two float-array columns, accumulated in double
    * (sequential fold → deterministic; native codegen expression). */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Exact top-k neighbors for each query vector (brute force).
    * `queries`/`corpus`: (id, vec). Output: (query_id, neighbor_id, rank,
    * cos). Broadcast the query side — at 100 TB the corpus streams once. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec"))
    val c = Par.ensureMin(asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(scored, k)
  }

  /** Random-hyperplane signature: one bit per plane = sign of dot(v, h).
    * Planes are generated once on the driver (seeded) and shipped with the
    * plan; the per-row work is one fused native loop. */
  def lshSignature(vec: Column, dim: Int, nBits: Int = 16, seed: Long = 42L): Column =
    GraftBridge.column(HyperplaneSig(GraftBridge.expression(vec), dim, nBits, seed))

  /** All `nTables` signatures at once (table t seeded `seed + t`) — one
    * expression for the whole banding instead of a per-table array();
    * bit-identical to `nTables` [[lshSignature]] calls but without the
    * driver-side analysis/codegen cost of hundreds of expressions. */
  def lshSignatures(vec: Column, dim: Int, nBits: Int, nTables: Int,
      seed: Long): Column =
    GraftBridge.column(graft.functions.HyperplaneSigs(
      GraftBridge.expression(vec), dim, nBits, nTables, seed))

  /** Spherical k-means quantizer trained on a bounded, deterministic
    * sample of the corpus — the IVF "model fit". Sample = the first
    * min(max(32·k, 256), 4096) vectors in xxhash64(id, seed) order (a
    * seeded pseudo-random draw that needs no sort of the full corpus at
    * scale: at 100 TB this becomes a TABLESAMPLE + top-N). Init is
    * seeded k-means++ and assignment is by cosine (matching
    * [[NearestCells]]); centroids are renormalized means; an emptied
    * cell deterministically reseeds from the worst-assigned point. All
    * driver-side arithmetic is sequential, so the model — and every
    * query built on it — is bit-deterministic for a given (corpus, seed). */
  private def trainCentroids(c: DataFrame, nCells: Int, seed: Long,
      iters: Int = 10): Array[Array[Double]] = {
    def unit(v: Array[Double]): Array[Double] = {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      if (n == 0.0) v else { val s = 1.0 / math.sqrt(n); v.map(_ * s) }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      val d = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < d) { s += a(i) * b(i); i += 1 }
      s
    }
    val sampleN = math.min(math.max(nCells * 32, 256), 4096)
    val pts = c.orderBy(xxhash64(col("neighbor_id"), lit(seed)).asc,
        col("neighbor_id").asc).limit(sampleN).collect()
      .map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray))
    val kk = math.min(nCells, pts.length)
    val rnd = new scala.util.Random(seed)
    // k-means++ (cosine distance = 1 - dot on unit vectors)
    val centers = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(pts.length)))
    while (centers.length < kk) {
      val d2 = pts.map(p => {
        val best = centers.map(dot(p, _)).max
        val dd = math.max(0.0, 1.0 - best); dd * dd
      })
      val total = d2.sum
      if (total == 0.0) centers += pts(rnd.nextInt(pts.length))
      else {
        var r = rnd.nextDouble() * total; var i = 0
        while (i < d2.length - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
        centers += pts(i)
      }
    }
    var cents = centers.toArray
    var it = 0
    while (it < iters) {
      val assign = pts.map(p => {
        var best = 0; var bs = Double.MinValue; var ci = 0
        while (ci < cents.length) {
          val s = dot(p, cents(ci)); if (s > bs) { bs = s; best = ci }; ci += 1
        }
        best
      })
      // worst-assigned points in order, each consumed by ONE empty cell —
      // reseeding several empties with the same point would leave
      // permanently duplicate centroids
      val worstOrder = pts.indices.sortBy(i => dot(pts(i), cents(assign(i)))).iterator
      cents = Array.tabulate(cents.length) { ci =>
        val members = pts.indices.filter(assign(_) == ci)
        if (members.isEmpty) pts(worstOrder.next())
        else {
          val m = new Array[Double](pts(members.head).length)
          members.foreach { i =>
            val p = pts(i); var j = 0
            while (j < m.length && j < p.length) { m(j) += p(j); j += 1 }
          }
          unit(m)
        }
      }
      it += 1
    }
    cents
  }

  /** IVF approximate top-k: coarse-quantize the corpus against `nCells`
    * TRAINED centroids (spherical k-means on a bounded deterministic
    * sample — see `trainCentroids`), then each query probes only its
    * `nProbe` nearest cells. The centroids are the quantizer "model":
    * fit once on the driver (like k-means centers) and shipped with the
    * plan, so cell assignment is a shuffle-free native map over the
    * corpus scan — no crossJoin, no window. At 100 TB the assignment is
    * computed once and persisted/bucketed by cell so queries touch
    * ~nProbe/nCells of the data. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    val c = Par.ensureMin(asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec"))
    val cents = trainCentroids(c, nCells, seed)
    val cellIds = Array.tabulate(cents.length)(_.toLong)
    def nearest(vec: Column, n: Int) = GraftBridge.column(
      NearestCells(GraftBridge.expression(vec), cellIds, cents, n))
    val cellC = c.withColumn("cell_id", element_at(nearest(col("c_vec"), 1), 1))
    val cellQ = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec")
      .withColumn("cell_id", explode(nearest(col("q_vec"), nProbe))))
    // pairs are unique (1 cell per corpus vector, nProbe distinct cells per
    // query) — no distinct needed
    val scored = cellQ.join(cellC, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(scored, k)
  }

  /** Build and PERSIST an IVF index at `path`: the trained centroids as a
    * versioned parquet model artifact plus the corpus laid out
    * PARTITIONED BY its cell assignment. This is the production shape —
    * quantizer fit + assignment are paid once at build time; every later
    * query batch reads ~nProbe/nCells of the corpus BYTES because the
    * cell_id partition filter prunes whole directories (the same
    * build-once/probe-many split as `Dedup.buildCorpusIndex`). */
  def buildIvfIndex(corpus: DataFrame, path: String, nCells: Int = 16,
      seed: Long = 42L): Unit = {
    val c = asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec")
    val cents = trainCentroids(c, nCells, seed)
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val cellIds = Array.tabulate(cents.length)(_.toLong)
    def nearest(vec: Column, n: Int) = GraftBridge.column(
      NearestCells(GraftBridge.expression(vec), cellIds, cents, n))
    Par.ensureMin(c)
      .withColumn("cell_id", element_at(nearest(col("c_vec"), 1), 1))
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$path/corpus")
  }

  /** Append a delta of vectors into a persisted IVF index, writing the
    * merged index to `outPath` (versioned — refuses to write in place,
    * mirroring the dedup index contract: a reader mid-probe must never
    * see a half-merged layout). The quantizer is NOT refit: delta
    * vectors are assigned with the EXISTING centroids — the production
    * ingest contract between periodic refits (a refit is a rebuild);
    * the merge is assign (delta-sized compute) + a parquet-level
    * copy-union of corpus rows, with no vector re-encoding and no
    * centroid retraining. On a table format the copy becomes a
    * metadata-only append into the cell partitions. */
  def mergeIvfIndex(spark: SparkSession, indexPath: String, delta: DataFrame,
      outPath: String): Unit = {
    require(normPath(outPath) != normPath(indexPath),
      "write the merged index to a NEW path (versioned), never in place")
    val centRows = spark.read.parquet(s"$indexPath/centroids")
      .orderBy("cell_id").collect()
    val cellIds = centRows.map(_.getLong(0))
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    def nearest(vec: Column, n: Int) = GraftBridge.column(
      NearestCells(GraftBridge.expression(vec), cellIds, cents, n))
    spark.read.parquet(s"$indexPath/centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/centroids")
    val d = asFloatVec(delta.toDF("neighbor_id", "c_vec"), "c_vec")
      .withColumn("cell_id", element_at(nearest(col("c_vec"), 1), 1))
    spark.read.parquet(s"$indexPath/corpus")
      .withColumn("cell_id", col("cell_id").cast("long"))
      .unionByName(d)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$outPath/corpus")
  }

  private def normPath(p: String): String =
    new java.io.File(p).getAbsolutePath.replaceAll("/+$", "")

  /** Probe a persisted IVF index built by [[buildIvfIndex]]: rehydrate the
    * centroid model (k rows), broadcast the probe cells, and join against
    * the partitioned corpus — the broadcast equi-join on the partition
    * column lets dynamic partition pruning skip the non-probed cell
    * directories entirely. Same answers as [[ivfTopK]] at equal
    * parameters (asserted by ClusterSpec). */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val centRows = spark.read.parquet(s"$path/centroids")
      .orderBy("cell_id").collect()
    val cellIds = centRows.map(_.getLong(0))
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    def nearest(vec: Column, n: Int) = GraftBridge.column(
      NearestCells(GraftBridge.expression(vec), cellIds, cents, n))
    val cellQ = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec")
      .withColumn("cell_id", explode(nearest(col("q_vec"), nProbe))))
    val c = spark.read.parquet(s"$path/corpus")
      .withColumn("cell_id", col("cell_id").cast("long"))
    val scored = cellQ.join(c, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(scored, k)
  }

  /** Approximate top-k via multi-table hyperplane LSH (AND within a table,
    * OR across tables — same construction as embedding near-dup): a corpus
    * vector is a candidate when it shares ANY table's `bits`-bit signature
    * with the query; candidates are reranked by exact cosine. Per-neighbor
    * recall at angular similarity p = 1-(1-p^bits)^tables, so recall is
    * tuned by `tables` without growing bucket sizes. The banded corpus is
    * (id, table, sig) — 16 bytes a row, `tables`× replicated — and the
    * candidate join touches only matching buckets, never the cross
    * product; vectors are joined back ONLY for the candidate rerank.
    * (The previous single-table multi-probe variant measured recall ≈ 0
    * on the sf0.01 corpus — 1-bit probes cannot rescue a 12-bit AND.)
    *
    * NOTE — the corpus vectors are persisted because both the banded
    * candidate join and the rerank join read them, and the two shuffle
    * differently, so exchange reuse cannot share them. The persist must
    * not outlive the call, so the result (at most k rows per query) is
    * materialized and the persist released before returning
    * ([[Par.materializeThenRelease]]); nothing needs a manual release. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 4, tables: Int = 24, seed: Long = 42L): DataFrame = {
    val c = Par.ensureMin(asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec"))
      .persist()
    def banded(df: DataFrame, vecCol: String) =
      df.select(col("*"), posexplode(array((0 until tables).map(t =>
          lshSignature(col(vecCol), dim, bits, seed + t)): _*)))
        .withColumnRenamed("pos", "_table").withColumnRenamed("col", "_sig")
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec"))
    val cands = banded(q.select("query_id", "q_vec"), "q_vec")
      .select(col("query_id"), col("_table"), col("_sig"))
      .join(banded(c.select("neighbor_id", "c_vec"), "c_vec")
        .select(col("neighbor_id"), col("_table"), col("_sig")),
        Seq("_table", "_sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cands
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    Par.materializeThenRelease(rankTopK(scored, k), c) // bounds c's persist to this call
  }

  /** Recall gate for an approximate top-k result: per query, does `approx`
    * recover at least ceil(minRecall·k') of the exact brute-force top-k
    * (k' = the query's true neighbor count, ≤ k)? Output: (query_id,
    * recall_ok) — deterministic (seeded hashes, exact ground truth), so a
    * DuckDB oracle can assert every query id is `true`. Ground truth is
    * re-computed here (all-pairs over the query sample) — the validation
    * pattern for a 100 TB corpus is exactly this with a sampled query set,
    * mirroring the reference's validate-across-configs tier
    * (benchmarks/zillow/Z1/validate_all.py). */
  def recallAtK(corpus: DataFrame, queries: DataFrame, k: Int,
      approx: DataFrame, minRecall: Double): DataFrame =
    recallAtKFrom(bruteForceTopK(corpus, queries, k), approx, minRecall)

  /** [[recallAtK]] against a PRE-COMPUTED exact top-k (query_id,
    * neighbor_id[, …]) — the amortized validation shape: ground truth for
    * a sampled query set is computed once per corpus snapshot and reused
    * across every index/config evaluation, so each gate costs a
    * ground-truth-sized join (k rows per query), not an all-pairs scan. */
  def recallAtKFrom(exact0: DataFrame, approx: DataFrame,
      minRecall: Double): DataFrame = {
    val exact = exact0.select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)) >=
          ceil(col("n_true") * minRecall)).as("recall_ok"))
  }

  /** Rank the scored candidates to (query_id, rank, neighbor_id, cos).
    * Long ids go through the native bounded top-k aggregate: map-side
    * partial aggregation reduces every partition to ≤k entries per query
    * BEFORE the shuffle, where a row_number window would shuffle the whole
    * scored set. Other id types fall back to the window. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    if (scored.schema("neighbor_id").dataType == LongType) {
      val agg = GraftBridge.column(TopKByScore(
        GraftBridge.expression(col("cos")),
        GraftBridge.expression(col("neighbor_id")), k).toAggregateExpression())
      scored.groupBy("query_id").agg(agg.as("_nn"))
        .select(col("query_id"), posexplode(col("_nn")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").as("cos"))
    } else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    }
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth lever
    * for a 100 TB embedding corpus (4× smaller than float32, and integer
    * dot products downstream). q = floor(x·(127/maxabs) + 0.5), so the
    * max-magnitude element maps to ±127; a zero vector quantizes to
    * zeros. Every step is either integer or the SAME IEEE expression an
    * oracle replays — bit-exact cross-engine (the division is computed
    * once as 127.0/maxabs, then multiplied; operand order matters and is
    * part of the contract). Output: (vec_id, maxabs, qvec array<int>). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    asFloatVec(df.select(col(idCol).as("vec_id"), col(vecCol).as("_vec")), "_vec")
      .withColumn("maxabs",
        array_max(transform(col("_vec"), x => abs(x.cast("double")))))
      .withColumn("qvec", when(col("maxabs") === 0.0,
          transform(col("_vec"), _ => lit(0)))
        .otherwise(expr(
          "transform(_vec, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS INT))")))
      .select(col("vec_id"), col("maxabs"), col("qvec"))

  /** Brute-force top-k in the QUANTIZED domain: the dot product is an
    * exact BIGINT accumulation over int8 codes (the cheap kernel a SIMD
    * runtime vectorizes 4× wider than float32), rescaled by the two
    * per-vector scales for the final ranking score. Same plan shape as
    * [[bruteForceTopK]]: broadcast quantized queries, stream the corpus
    * once, bounded [[graft.functions.TopKByScore TopKByScore]] partial agg. Ranking is approximate
    * versus float cosine (that's the point — [[int8RecallGate]] measures
    * it); the OUTPUT itself is deterministic and oracle-exact. */
  def bruteForceTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(quantizeInt8(queries.toDF("id", "v"), "id", "v")
      .toDF("query_id", "q_max", "q_q"))
    val c = Par.ensureMin(quantizeInt8(corpus.toDF("id", "v"), "id", "v")
      .toDF("neighbor_id", "c_max", "c_q"))
    val dotInt = expr(
      "aggregate(zip_with(q_q, c_q, (a, b) -> CAST(a AS BIGINT) * b), 0L, (acc, x) -> acc + x)")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotInt.cast("double") * (col("q_max") / 127.0) * (col("c_max") / 127.0))
          .as("cos"))
    rankTopK(scored, k)
  }

  /** Per-subspace PQ codebooks: the vector is split into `m` contiguous
    * subvectors and each subspace gets `ksub` centroids from a EUCLIDEAN
    * k-means on the same bounded deterministic sample as
    * `trainCentroids` (xxhash64-ordered limit — no full-corpus sort at
    * scale). All driver arithmetic is sequential with deterministic
    * tie-breaks (strict < keeps the lowest index), so codebooks — and
    * every code derived from them — are bit-stable for a (corpus, seed).
    * Returns cb(s)(j) = centroid j of subspace s. */
  private[graft] def trainPqCodebooks(c: DataFrame, dim: Int, m: Int,
      ksub: Int, seed: Long, iters: Int = 10): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val sampleN = math.min(math.max(ksub * 32, 256), 4096)
    val pts = c.orderBy(xxhash64(col("neighbor_id"), lit(seed)).asc,
        col("neighbor_id").asc).limit(sampleN).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    Array.tabulate(m) { s0 =>
      val sub = pts.map(_.slice(s0 * dsub, (s0 + 1) * dsub))
      def l2(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var i = 0
        while (i < dsub) { val t = a(i) - b(i); d += t * t; i += 1 }
        d
      }
      val kk = math.min(ksub, sub.length)
      val rnd = new scala.util.Random(seed * 31 + s0)
      val centers = scala.collection.mutable.ArrayBuffer(sub(rnd.nextInt(sub.length)))
      while (centers.length < kk) {
        val d2 = sub.map(p => centers.map(l2(p, _)).min)
        val total = d2.sum
        if (total == 0.0) centers += sub(rnd.nextInt(sub.length))
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < d2.length - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
          centers += sub(i)
        }
      }
      var cents = centers.toArray
      var it = 0
      while (it < iters) {
        val assign = sub.map { p =>
          var best = 0; var bd = Double.MaxValue; var ci = 0
          while (ci < cents.length) {
            val d0 = l2(p, cents(ci)); if (d0 < bd) { bd = d0; best = ci }; ci += 1
          }
          best
        }
        // distinct worst-assigned reseeds (same rationale as trainCentroids:
        // one shared reseed point would duplicate codewords permanently)
        val worstOrder = sub.indices
          .sortBy(i => -l2(sub(i), cents(assign(i)))).iterator
        cents = Array.tabulate(cents.length) { ci =>
          val members = sub.indices.filter(assign(_) == ci)
          if (members.isEmpty) sub(worstOrder.next())
          else {
            val mvec = new Array[Double](dsub)
            members.foreach { i =>
              val p = sub(i); var j = 0
              while (j < dsub) { mvec(j) += p(j); j += 1 }
            }
            mvec.map(_ / members.length)
          }
        }
        it += 1
      }
      cents
    }
  }

  /** PQ re-rank shortlist depth. A FIXED depth is a scale cliff: the
    * number of candidates whose TRUE score falls within one
    * ADC-quantization-noise band of the k-th best grows linearly with
    * the scored row count (near-tie density is proportional to corpus
    * size for a fixed score distribution), so recall@k at fixed depth
    * decays as the corpus grows — found live at the 10× (sf1) scale
    * point, where depth 50 (n/4 at the 200-vector sf0.01 gate that
    * tuned it) dropped the per-query recall gate from pass to 0/8 at a
    * 20k-vector corpus. Auto depth = n/4 of the SCORED row count —
    * measured on the clustered fixture with the `Prof ann` PQ recall
    * sweep of commit 2686cb5 (m=8,
    * ksub=32, 20k vectors: recall@5 = 0.225 at depth 50, 0.95 at
    * 1000 ≈ n/20, 1.000 at 5000 = n/4 — and n/4 is exactly the
    * historical tuning point, so the constant is scale-stable) —
    * floored for tiny corpora and capped: past the cap the right tools
    * are IVF-PQ (shrinks the SCORED count by nProbe/nCells, and this
    * auto rule keys off that shrunk count) or a larger (m, ksub)
    * budget, not an unbounded exact re-rank. Explicit `candidates > 0`
    * is honored untouched; `n` is a thunk so explicit callers never
    * pay the count job. */
  private def autoCandidates(explicit: Int, k: Int, n: () => Long): Int =
    if (explicit > 0) {
      require(explicit >= k, s"candidates $explicit must be >= k $k")
      explicit
    } else
      // outer max(k, ·): the 50k cap must never shrink the shortlist
      // below k itself (a k > 50000 caller would otherwise silently get
      // fewer than k results; the explicit path already requires >= k)
      math.max(k.toLong,
        math.min(50000L, math.max(math.max(50L, 10L * k), n() / 4L))).toInt

  /** Product-quantization ANN (ADC): the 32×-compression scale path for a
    * 100 TB embedding corpus. The corpus is ENCODED once — per subspace,
    * the L2-nearest codeword index (an argmin fold over codegen'd
    * higher-order functions on broadcast codebook literals; `m` bytes
    * replace `4·dim` — here 8 codes for 256 float bytes), and queries
    * score candidates by Asymmetric Distance Computation: each query
    * precomputes a `m×ksub` lookup table of exact subvector dots (on its
    * own 1-row broadcast side), and a corpus row's score is `m` table
    * lookups — no float vector ever leaves the scan. Same plan shape as
    * [[bruteForceTopK]]: broadcast queries, one corpus-code scan, bounded
    * [[graft.functions.TopKByScore TopKByScore]] partial agg. Ranking is approximate vs float cosine
    * (the recall gate measures it); the output is deterministic: codebook
    * training is seeded-sequential, argmin ties keep the lowest codeword
    * (strict <), and ranking ties break on neighbor_id. At scale the code
    * table is materialized next to the corpus (the [[buildIvfIndex]]
    * split) and composes with IVF cells for IVF-PQ. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L): DataFrame = {
    val c = Par.ensureMin(asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec"))
    val cb = trainPqCodebooks(c, dim, m, ksub, seed)
    val coded = c.select(col("neighbor_id"), pqEncode(cb, col("c_vec")).as("codes"))
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec")
      .select(col("query_id"), pqLut(cb, col("q_vec")).as("lut")))
    val scored = q.join(coded, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcScore(cb.length).as("cos"))
    rankTopK(scored, k)
  }

  /** PQ building blocks shared by [[pqTopK]] and [[ivfPqTopK]]: codebook
    * literal arrays ship with the plan; encode/LUT/score are codegen'd
    * higher-order functions (no UDFs, no driver loops at query time). */
  private def pqCbLit(cb: Array[Array[Array[Double]]], s0: Int): Column =
    array(cb(s0).map(row => array(row.map(lit): _*)): _*)

  private def pqDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  /** Per-subspace argmin_j L2(sub, cb(s)(j)) over the vector column —
    * strict < keeps the lowest index on exact ties, matching the
    * driver-side trainer. Output: array<int> of m codes. */
  private def pqEncode(cb: Array[Array[Array[Double]]], vec: Column): Column = {
    val m = cb.length; val dsub = cb(0)(0).length; val ksub = cb(0).length
    def one(s0: Int): Column = {
      val sub = slice(vec, s0 * dsub + 1, dsub)
      def d2(j: Column): Column =
        aggregate(zip_with(sub, element_at(pqCbLit(cb, s0), (j + 1).cast("int")),
          (x, cc) => { val t = x.cast("double") - cc; t * t }),
          lit(0.0), (acc, x) => acc + x)
      // distances materialize ONCE into (j, d) candidates before the
      // argmin fold — folding over when(d2(j) < …, struct(j, d2(j)))
      // would expand the O(dsub) distance expression twice per codeword
      // and double the corpus-wide encode cost
      val cands = transform(sequence(lit(0), lit(ksub - 1)),
        j => struct(j.cast("int").as("j"), d2(j).as("d")))
      aggregate(cands,
        struct(lit(-1).as("j"), lit(Double.MaxValue).as("d")),
        (acc, c) => when(c.getField("d") < acc.getField("d"), c).otherwise(acc))
        .getField("j")
    }
    array((0 until m).map(one): _*)
  }

  /** ADC lookup table for a query vector: lut(s)(j) = dot(q_sub_s, cb(s)(j)). */
  private def pqLut(cb: Array[Array[Array[Double]]], vec: Column): Column = {
    val m = cb.length; val dsub = cb(0)(0).length; val ksub = cb(0).length
    def one(s0: Int): Column = {
      val sub = slice(vec, s0 * dsub + 1, dsub)
      transform(sequence(lit(0), lit(ksub - 1)),
        j => pqDot(sub, element_at(pqCbLit(cb, s0), (j + 1).cast("int"))))
    }
    array((0 until m).map(one): _*)
  }

  /** ADC score = Σ_s lut(s)(codes(s)) over the joined (lut, codes) row. */
  private def pqAdcScore(m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, s0) => acc + element_at(
        element_at(col("lut"), (s0 + 1).cast("int")),
        (element_at(col("codes"), (s0 + 1).cast("int")) + 1).cast("int")))

  /** IVF-PQ: the composed production index for billion-vector corpora —
    * IVF coarse cells bound WHICH rows are scored (each query probes
    * `nProbe` of `nCells` cells, pruning ~(1 − nProbe/nCells) of the
    * corpus), PQ codes bound WHAT each scored row costs (m bytes + m
    * table lookups, no float vector in the scan), and the exact re-rank
    * restores ordering on the shortlist (the [[pqTopKReranked]] recipe).
    * Both models are seeded-deterministic bounded fits; at scale the
    * (cell_id, codes) table is what gets persisted — partitioned by cell
    * like [[buildIvfIndex]] — so a probe reads nProbe cell directories
    * of m-byte codes: the two pruning axes multiply. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 32,
      candidates: Int = 0, seed: Long = 42L): DataFrame = {
    val c = Par.ensureMin(asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec"))
    // shortlist depth scales with the PROBED row count (nProbe/nCells of
    // the corpus) — see autoCandidates for why fixed depth is a cliff
    val cand = autoCandidates(candidates, k,
      () => c.count() * nProbe / nCells)
    val cents = trainCentroids(c, nCells, seed)
    val cellIds = Array.tabulate(cents.length)(_.toLong)
    def nearest(vec: Column, n: Int) = GraftBridge.column(
      NearestCells(GraftBridge.expression(vec), cellIds, cents, n))
    val cb = trainPqCodebooks(c, dim, m, ksub, seed)
    val coded = c.select(col("neighbor_id"),
      element_at(nearest(col("c_vec"), 1), 1).as("cell_id"),
      pqEncode(cb, col("c_vec")).as("codes"))
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec")
      .select(col("query_id"), pqLut(cb, col("q_vec")).as("lut"),
        explode(nearest(col("q_vec"), nProbe)).as("cell_id")))
    val scored = q.join(coded, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcScore(m).as("cos"))
    val shortlist = rankTopK(scored, cand)
      .select("query_id", "neighbor_id")
    val qv = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec"))
    val rescored = shortlist.join(qv, "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(rescored, k)
  }

  /** PQ candidate generation + EXACT re-rank — the production PQ recipe:
    * ADC over the compressed codes prunes the corpus to `candidates`
    * rows per query (the only stage that scans all N vectors, touching m
    * bytes each), then exact cosine re-scores just the shortlist (an
    * equi-join point lookup of candidate float vectors — k·|queries|
    * rows, negligible at any corpus size). PQ alone cannot ORDER
    * near-ties (reconstruction error exceeds the score gaps between
    * close neighbors — measured: raw ADC@5 ≈ 0.3 recall on the clustered
    * fixture vs 1.0 after re-rank), which is exactly why FAISS-style
    * systems always re-rank a shortlist; the shortlist's recall is the
    * quantity PQ actually controls via (m, ksub, candidates). */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, ksub: Int = 32, candidates: Int = 0,
      seed: Long = 42L): DataFrame = {
    val cand = autoCandidates(candidates, k,
      () => corpus.count())
    val shortlist = pqTopK(corpus, queries, cand, dim, m, ksub, seed)
      .select("query_id", "neighbor_id")
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec"))
    val c = asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec")
    val rescored = shortlist.join(q, "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(rescored, k)
  }

  /** Build and PERSIST a PQ index at `path`: the trained codebooks as a
    * versioned model artifact (m·ksub rows), the corpus as m-byte code
    * rows, and the float vectors kept beside them for shortlist re-rank
    * fetches. The [[buildIvfIndex]] split applied to the PQ tier: encode
    * is paid ONCE at build; every probe batch scans only the code table
    * (m ints per row instead of dim floats — the bandwidth the index
    * exists to save) and joins float vectors back for just the
    * ≤ candidates·|queries| re-rank rows. At scale the code and vector
    * tables are bucketed on the id so the re-rank fetch is co-located. */
  def buildPqIndex(corpus: DataFrame, path: String, dim: Int, m: Int = 8,
      ksub: Int = 32, seed: Long = 42L): Unit = {
    val c = asFloatVec(corpus.toDF("neighbor_id", "c_vec"), "c_vec")
    val cb = trainPqCodebooks(c, dim, m, ksub, seed)
    val spark = corpus.sparkSession
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (rows, s0) =>
      rows.zipWithIndex.map { case (v, j) => (s0, j, v.toSeq) }
    }.toSeq.toDF("subspace", "codeword", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val enc = Par.ensureMin(c)
      .select(col("neighbor_id"), pqEncode(cb, col("c_vec")).as("codes"),
        col("c_vec"))
    enc.select("neighbor_id", "codes")
      .write.mode("overwrite").parquet(s"$path/codes")
    enc.select("neighbor_id", "c_vec")
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Probe a persisted PQ index built by [[buildPqIndex]]: rehydrate the
    * codebooks (m·ksub rows, driver-side model load), ADC-score the CODE
    * table only, then re-rank the shortlist against the stored float
    * vectors. Same answers as [[pqTopKReranked]] at equal parameters. */
  def pqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, candidates: Int = 0): DataFrame = {
    val cand = autoCandidates(candidates, k,
      () => spark.read.parquet(s"$path/codes").count())
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("subspace", "codeword").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val cb = Array.tabulate(m, ksub) { (s0, j) =>
      rows.find(r => r.getInt(0) == s0 && r.getInt(1) == j).get
        .getSeq[Double](2).toArray
    }
    val q = broadcast(asFloatVec(queries.toDF("query_id", "q_vec"), "q_vec")
      .select(col("query_id"), col("q_vec"), pqLut(cb, col("q_vec")).as("lut")))
    val coded = spark.read.parquet(s"$path/codes")
    val scored = q.select(col("query_id"), col("lut"))
      .join(coded, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pqAdcScore(m).as("cos"))
    val shortlist = rankTopK(scored, cand).select("query_id", "neighbor_id")
    val vecs = spark.read.parquet(s"$path/vectors")
    val rescored = shortlist
      .join(q.select(col("query_id"), col("q_vec")), "query_id")
      .join(vecs, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    rankTopK(rescored, k)
  }

  /** Overlap gate for int8 ANN: |top-k(int8) ∩ top-k(float)| ≥ minOverlap
    * per query — the quantization-quality check, run in Verify (not
    * benched with the operator). */
  def int8RecallGate(corpus: DataFrame, queries: DataFrame, k: Int,
      minOverlap: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val got = bruteForceTopKInt8(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      .select(col("query_id"),
        (col("n_overlap") >= minOverlap).as("overlap_ok"))
  }
}
