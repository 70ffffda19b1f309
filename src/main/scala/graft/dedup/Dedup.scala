package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge

import graft.functions.{CharNgramHashes, MinHashSig, ShingleHashes, SortedIntersectCount}
import graft.text.TextFunctions

/** Deduplication operators for web-scale corpora. Design notes for the
  * 100 TB case baked into each method:
  *
  *  - exact/content-hash dedup: one hash-partitioned shuffle on the
  *    group key (the hash), map-side partial aggregation; no driver state.
  *  - MinHash-LSH near-dup: shingle hashes and signatures are computed
  *    scan-side by single-pass native codegen expressions (no UDF);
  *    banding groups documents by (band, bandHash) — the classic LSH
  *    trick — so Spark shuffles only band buckets, never the cross
  *    product, and each bucket is confirmed in place by exact Jaccard
  *    (graft.similarity.PairConfirm), bounding false positives;
  *    band/row parameters trade recall vs shuffle volume.
  *  - SimHash near-dup: 64-bit fingerprints (native codegen expression),
  *    candidate generation by banding the fingerprint into 4×16-bit
  *    chunks (Hamming-distance ≤3 pairs share ≥1 chunk by pigeonhole).
  */
object Dedup {

  /** Canonical text normalization: lowercase, trim, collapse whitespace. */
  def normalizeText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Exact dedup: keep the row with the smallest `idCol` per distinct
    * (normalized) `textCol`. One shuffle on the text hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(normalizeText(col(textCol)).as("norm_text"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Content-hash dedup groups: md5 of normalized text → (hash, keeper id,
    * multiplicity). Hash-group instead of raw text keys so the shuffle
    * moves 16-byte keys, not documents — the difference at 100 TB. */
  def contentHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol)).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Sorted distinct word-`k`-shingle hashes (native expression — one pass
    * per document, long arithmetic only, stays inside WholeStageCodegen). */
  def shingleHashes(textCol: Column, k: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(textCol), k))

  /** Sorted distinct character-n-gram hashes (native expression). */
  def charNgramHashes(textCol: Column, n: Int): Column =
    GraftBridge.column(CharNgramHashes(GraftBridge.expression(textCol), n))

  /** MinHash signature (`numHashes` slots) of a shingle-hash array. */
  def minhashSigOfHashes(hashesCol: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(hashesCol), numHashes))

  /** MinHash signature of the word-`k`-shingle set of a text column. */
  def minhashSignature(textCol: Column, k: Int, numHashes: Int): Column =
    minhashSigOfHashes(shingleHashes(textCol, k), numHashes)

  /** |a ∩ b| of two sorted long arrays (native merge walk). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Serialized form of a sketch Bloom filter, for embedding as a plan
    * literal (the same bytes `BloomFilter.readFrom` accepts). */
  private def bloomBytes(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Native Bloom membership probe: `BloomFilterMightContain(filter bytes,
    * xxhash64(value))` — a codegen'd Catalyst predicate, so the delta
    * scan's hot path stays inside WholeStageCodegen (the previous boxed
    * Scala UDF broke codegen there), and the filter rides the plan as a
    * foldable literal — no broadcast handle to leak. CONTRACT: the filter
    * must have been built over `xxhash64(value)` longs (putLong ↔
    * mightContainLong), which is exactly how Spark's own runtime bloom
    * join filters pair the two expressions. */
  private def mightContainNative(filter: Array[Byte], value: Column): Column =
    GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          filter, org.apache.spark.sql.types.BinaryType),
        GraftBridge.expression(xxhash64(value))))

  /** Docs with their distinct word-shingle-hash set and MinHash
    * signature, computed exactly once and persisted, for the callers with
    * several consumers of them (the delta/index paths: banding plus the
    * Jaccard confirm's hash-set join) — without the cache the signature
    * tree is re-evaluated per reference and the confirm re-shingles per
    * candidate pair. Each caller unpersists it before returning, so the
    * persist lives for the call, never the session. */
  private def shingledDocs(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    hashedDocs(df, idCol, textCol, shingleHashes(_, k), numHashes).persist()

  /** Docs `(_id, _sh, _sig)` with their sorted distinct gram-hash set
    * (word shingles, char n-grams, …) and MinHash signature — LAZY, each
    * kernel evaluated once per document. Documents with no grams (fewer
    * than k tokens) are dropped: they have no Jaccard similarity to
    * anything and would otherwise all collide on the sentinel signature. */
  private def hashedDocs(df: DataFrame, idCol: String, textCol: String,
      gramHashes: Column => Column, numHashes: Int): DataFrame =
    // filterOnce: a plain .filter(size(_sh) > 0) is pushed through the
    // projection, substituting the gram-hash kernel into the predicate —
    // every document would be shingled TWICE while materializing the
    // persist (the q_corpus_golden pushdown lesson, Par.filterOnce)
    graft.ops.Par.filterOnce(
        graft.ops.Par.ensureMin(df)
          .select(col(idCol).as("_id"), gramHashes(col(textCol)).as("_sh")),
        size(col("_sh")) > 0)
      .withColumn("_sig", minhashSigOfHashes(col("_sh"), numHashes))
      // NOTE(measured): a one-permutation (OPH) signature was tried here —
      // 128x fewer hash evals — but made the char-ngram path ~25% SLOWER
      // end to end: with ~8 grams per bin the slot estimator's variance
      // makes moderate-similarity pairs (char-gram base rate j≈0.46)
      // collide far more often in 8-row bands, and the extra exact
      // confirms outweigh the cheaper signatures.

  /** The `bands` bucket hashes of a doc's `_sig`, one per band. */
  private def bandHashes(numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map(b =>
      hash(slice(col("_sig"), b * rows + 1, rows), lit(b))): _*)
  }

  private def bandBuckets(docs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    docs.select(col("_id"), posexplode(bandHashes(numHashes, bands)))
      .toDF("_id", "_band", "_bucket")

  /** LSH candidate pairs (idA < idB) from banding the MinHash signature:
    * docs sharing any band bucket become candidates. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 16): DataFrame = {
    // persisted: exchange reuse shares only the input scan between the
    // two join sides, so without it every document is shingled twice
    val sd = shingledDocs(df, idCol, textCol, k, numHashes)
    val banded = bandBuckets(sd, numHashes, bands)
    val a = banded.toDF("id_a", "band_a", "bucket_a")
    val b = banded.toDF("id_b", "band_b", "bucket_b")
    val cands = a.join(b,
        a("band_a") === b("band_b") && a("bucket_a") === b("bucket_b") &&
        a("id_a") < b("id_b"))
      .select("id_a", "id_b").distinct()
    graft.ops.Par.materializeThenRelease(cands, sd) // bounds sd's persist to this call
  }

  /** Exact Jaccard similarity of two docs' distinct word-`k`-shingle sets. */
  def jaccardShingles(aText: Column, bText: Column, k: Int): Column = {
    val a = array_distinct(TextFunctions.shingles(aText, k))
    val b = array_distinct(TextFunctions.shingles(bText, k))
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))
  }

  /** Near-duplicate pairs over word-`k`-shingle Jaccard: MinHash-LSH
    * banding, then an exact-Jaccard confirm at `threshold` inside each
    * band bucket ([[nearDupOfHashedDocs]]). `idCol` must be integral (int
    * or long). Output: (id_a, id_b, jaccard), id_a < id_b, ids in the
    * input's type. */
  def nearDupMinhash(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3, numHashes: Int = 32, bands: Int = 16): DataFrame =
    nearDupOfHashedDocs(df, idCol,
      hashedDocs(df, idCol, textCol, shingleHashes(_, k), numHashes),
      threshold, numHashes, bands)

  /** Character-n-gram Jaccard near-dup — same MinHash-LSH shape as
    * [[nearDupMinhash]] but over char n-grams, for short strings where
    * word shingles are too coarse. Output: (id_a, id_b, jaccard). */
  def nearDupCharNgram(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 128, bands: Int = 16): DataFrame =
    nearDupOfHashedDocs(df, idCol,
      hashedDocs(df, idCol, textCol, charNgramHashes(_, n), numHashes),
      threshold, numHashes, bands)

  /** Exact Jaccard of two SORTED-DISTINCT gram-hash arrays — the Scala
    * twin of the `sortedIntersectCount` expression followed by
    * `inter / (|a| + |b| - inter)`: same merge walk, same int→double
    * division, so the bucket confirm's jaccards are bit-identical to the
    * SQL formulation (and to the DuckDB oracle's). */
  private val jaccardSortedHashes: (Array[Long], Array[Long]) => Double =
    (a, b) => {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      c.toDouble / (a.length + b.length - c)
    }

  /** LSH banding → exact-Jaccard confirm over the gram-hash sets of
    * `docs` ([[hashedDocs]]), through the one group-local confirm
    * ([[graft.similarity.PairConfirm.bandPairs]]): each doc's hash set
    * travels once per band (n·bands rows, ONE shuffle) instead of once
    * per candidate pair, and each (band, bucket) group is scored pairwise
    * in byte-budgeted tiles — heap stays one tile + one streamed set no
    * matter how skewed a bucket is. A true pair re-found in k buckets
    * collapses in the closing distinct. `idCol` is the caller's id column
    * of `df`, checked up front (it must be integral). The result is a
    * lazy plan: no job runs before the caller's action, and a caller that
    * consumes the pairs more than once pins them itself. */
  private def nearDupOfHashedDocs(df: DataFrame, idCol: String, docs: DataFrame,
      threshold: Double, numHashes: Int, bands: Int): DataFrame = {
    graft.similarity.PairConfirm.requireIntegralId(df, idCol)
    graft.similarity.PairConfirm.bandPairs[Array[Long]](docs, "_id", col("_sh"),
      bandHashes(numHashes, bands), jaccardSortedHashes, threshold,
      graft.similarity.TiledConfirm.LongIO, "jaccard")
  }

  /** Incremental near-dup: match a DELTA batch against an existing corpus
    * without re-pairing the corpus with itself — the shape a production
    * pipeline runs per ingest. At 100 TB the corpus's banded buckets and
    * shingle sets are computed ONCE and persisted (bucketed by bucket id),
    * so a daily delta only shingles itself and probes matching buckets;
    * this method recomputes the corpus side for self-containment, but the
    * join shape — delta bands × corpus bands on (band, bucket), then
    * exact-Jaccard confirm — is identical. No delta-delta or corpus-corpus
    * pairs are produced. Output: (delta_id, corpus_id, jaccard). */
  def nearDupDelta(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, k: Int = 3, numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    val dd = shingledDocs(delta, idCol, textCol, k, numHashes)
    val cd = shingledDocs(corpus, idCol, textCol, k, numHashes)
    graft.ops.Par.materializeThenRelease(
      deltaProbe(dd, cd.select("_id", "_sh"), bandBuckets(cd, numHashes, bands),
        threshold, numHashes, bands),
      dd, cd) // bounds dd's and cd's persists to this call
  }

  /** Probe join shared by the self-contained and indexed delta paths:
    * delta bands × corpus bands on (band, bucket) → candidate (delta,
    * corpus) pairs → exact-Jaccard confirm over the gram-hash sets. */
  private def deltaProbe(dd: DataFrame, cdocs: DataFrame, cbands: DataFrame,
      threshold: Double, numHashes: Int, bands: Int): DataFrame = {
    val db = bandBuckets(dd, numHashes, bands).toDF("delta_id", "_band_a", "_bucket_a")
    val cb = cbands.toDF("corpus_id", "_band_b", "_bucket_b")
    val cands = db.join(cb,
        col("_band_a") === col("_band_b") && col("_bucket_a") === col("_bucket_b"))
      .select("delta_id", "corpus_id").distinct()
    cands
      .join(dd.select(col("_id").as("delta_id"), col("_sh").as("_sh_a")), "delta_id")
      .join(cdocs.select(col("_id").as("corpus_id"), col("_sh").as("_sh_b")), "corpus_id")
      .withColumn("_inter", sortedIntersectCount(col("_sh_a"), col("_sh_b")))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("_sh_a")) + size(col("_sh_b")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .select("delta_id", "corpus_id", "jaccard")
  }

  /** Materialize the corpus side of the incremental near-dup as a
    * persisted LSH index at `path`: `docs/` = (_id, _sh) gram-hash sets,
    * `bands/` = (_id, _band, _bucket) band buckets, repartitioned by
    * bucket so each probe join reads bucket-clustered files. This is the
    * amortization the per-ingest pipeline needs at 100 TB: the corpus is
    * shingled, signed, and banded ONCE; every daily delta then pays only
    * its own (small) gram/signature compute plus the bucket-probe join —
    * never a corpus rescan. Rebuild (or append-merge) the index when the
    * corpus itself grows. Parameters must match the later probes. */
  def buildCorpusIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 3, numHashes: Int = 32, bands: Int = 16): Unit = {
    val cd = shingledDocs(corpus, idCol, textCol, k, numHashes)
    cd.select("_id", "_sh").write.mode("overwrite").parquet(s"$path/docs")
    bandBuckets(cd, numHashes, bands)
      .repartition(col("_bucket"))
      .write.mode("overwrite").parquet(s"$path/bands")
    cd.unpersist()
    // exact-dedup leg of the index: the distinct content-hash set plus
    // its Bloom filter, so a delta ingest needs ZERO corpus scans — the
    // bloom prunes map-side, the hash parquet confirms exactly.
    val hashes = corpus
      .select(md5(normalizeText(col(textCol)).cast("binary")).as("content_hash"))
      .filter(col("content_hash").isNotNull).distinct().persist()
    // filter built over xxhash64(content_hash) LONGS so probes can use the
    // native BloomFilterMightContain expression (see mightContainNative)
    val bloom = hashes.select(xxhash64(col("content_hash")).as("_h64"))
      .stat.bloomFilter("_h64", math.max(hashes.count(), 1L), 0.01)
    hashes.write.mode("overwrite").parquet(s"$path/hashes")
    hashes.unpersist()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/bloom.bin"), true)
    try bloom.writeTo(out) finally out.close()
  }

  /** Append-merge an ingested batch INTO a [[buildCorpusIndex]] output,
    * writing the merged index to `outPath` (versioned indexes — never
    * overwrite the one being read). The original corpus TEXT is never
    * rescanned: only the batch is shingled/signed/hashed, and the merge
    * unions it with the persisted signature/band/hash state (index-sized
    * I/O — 16-byte hashes and integer signatures, not documents; a
    * table format with appends would avoid even that rewrite). The
    * Bloom filter is rebuilt from the merged hash set. This closes the
    * ingest loop: probe the index ([[nearDupDeltaIndexed]] /
    * [[exactDeltaIndexed]]), keep the survivors, merge them in. */
  def updateCorpusIndex(batch: DataFrame, indexPath: String, outPath: String,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 32,
      bands: Int = 16): Unit = {
    val spark = batch.sparkSession
    // compare QUALIFIED paths: a raw string check misses aliases (trailing
    // slash, relative vs absolute) and the overwrite would then delete the
    // very files the lazy union is still reading
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(s: String) = {
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).makeQualified(p)
    }
    require(qualified(outPath) != qualified(indexPath),
      "write the merged index to a NEW path (versioned), never in place")
    val cd = shingledDocs(batch, idCol, textCol, k, numHashes)
    spark.read.parquet(s"$indexPath/docs")
      .unionByName(cd.select("_id", "_sh"))
      .write.mode("overwrite").parquet(s"$outPath/docs")
    spark.read.parquet(s"$indexPath/bands")
      .unionByName(bandBuckets(cd, numHashes, bands))
      .repartition(col("_bucket"))
      .write.mode("overwrite").parquet(s"$outPath/bands")
    cd.unpersist()
    val hashes = spark.read.parquet(s"$indexPath/hashes")
      .unionByName(batch
        .select(md5(normalizeText(col(textCol)).cast("binary")).as("content_hash"))
        .filter(col("content_hash").isNotNull))
      .distinct().persist()
    val bloom = hashes.select(xxhash64(col("content_hash")).as("_h64"))
      .stat.bloomFilter("_h64", math.max(hashes.count(), 1L), 0.01)
    hashes.write.mode("overwrite").parquet(s"$outPath/hashes")
    hashes.unpersist()
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$outPath/bloom.bin"), true)
    try bloom.writeTo(out) finally out.close()
  }

  /** Incremental near-dup against a [[buildCorpusIndex]] output: same
    * semantics and join shape as [[nearDupDelta]], but the corpus side is
    * read from the persisted index instead of recomputed — the production
    * per-ingest path. `k`/`numHashes`/`bands` must match the index build. */
  def nearDupDeltaIndexed(delta: DataFrame, indexPath: String, idCol: String,
      textCol: String, threshold: Double, k: Int = 3, numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    val spark = delta.sparkSession
    val dd = shingledDocs(delta, idCol, textCol, k, numHashes)
    graft.ops.Par.materializeThenRelease(
      deltaProbe(dd, spark.read.parquet(s"$indexPath/docs"),
        spark.read.parquet(s"$indexPath/bands"), threshold, numHashes, bands),
      dd) // bounds dd's persist to this call
  }

  /** Exact (verbatim) delta dedup against a [[buildCorpusIndex]] output —
    * same semantics as [[exactDeltaBloom]], but the bloom and the distinct
    * hash set come from the persisted index: the corpus is NEVER scanned
    * at ingest time. This plus [[nearDupDeltaIndexed]] is the complete
    * per-ingest path: one index build amortizes over every delta. */
  def exactDeltaIndexed(delta: DataFrame, indexPath: String, idCol: String,
      textCol: String): DataFrame = {
    val spark = delta.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$indexPath/bloom.bin"))
    val filter = try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
      bos.toByteArray
    } finally in.close()
    delta
      .select(md5(normalizeText(col(textCol)).cast("binary")).as("content_hash"),
        col(idCol))
      .filter(col("content_hash").isNotNull &&
        mightContainNative(filter, col("content_hash")))
      .join(spark.read.parquet(s"$indexPath/hashes"), "content_hash")
      .select(col(idCol), col("content_hash"))
  }

  /** Bloom-filter pre-filtered delta-vs-corpus EXACT dedup — the re-ingest
    * fast path: "which of today's documents does the corpus already
    * contain, verbatim?". A Bloom filter over the corpus's 16-byte content
    * hashes is built once (one aggregation pass, no shuffle of documents)
    * and broadcast; the delta then drops every row whose hash the filter
    * rules out MAP-SIDE — no false negatives, so nothing survivable is
    * lost — and only the tiny maybe-duplicate remainder (true dups + fpp
    * of the delta) pays the exact-confirm shuffle join against the corpus
    * hash set. At 100 TB the filter is the difference between shuffling
    * the whole delta and shuffling ~nothing: ~9.6 bits/item at fpp=1% ≈
    * 1.2 GB per 10⁹ corpus docs — broadcastable; shard by hash prefix
    * beyond that. `expectedItems` sizes the filter (pass the corpus's
    * approximate cardinality at scale rather than counting exactly).
    * Output: (idCol, content_hash) of delta rows whose normalized text
    * exists verbatim in the corpus. NULL-text rows on either side are
    * never duplicates (matching the EXISTS-on-normalized-text contract)
    * and are dropped up front.
    *
    * NOTE — the distinct corpus hash set is persisted because the bloom
    * build and the exact-confirm join both read it (without the persist
    * the corpus would scan three times: count + bloom + join). That
    * persist is what makes the call eager: the result is materialized
    * and the persist released before returning
    * ([[graft.ops.Par.materializeThenRelease]]), so nothing needs a
    * manual release. The membership probe is the native codegen'd
    * BloomFilterMightContain expression riding the plan as a literal —
    * no UDF boxing on the delta scan, no broadcast handle to leak. */
  def exactDeltaBloom(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    def hashed(df: DataFrame, cols: Column*) = df.select(
      (md5(normalizeText(col(textCol)).cast("binary")).as("content_hash") +: cols): _*)
      .filter(col("content_hash").isNotNull)
    val corpusHashes = hashed(corpus).distinct().persist()
    val n = if (expectedItems > 0) expectedItems else corpusHashes.count()
    val bloom = corpusHashes.select(xxhash64(col("content_hash")).as("_h64"))
      .stat.bloomFilter("_h64", math.max(n, 1L), fpp)
    val out = hashed(delta, col(idCol))
      .filter(mightContainNative(bloomBytes(bloom), col("content_hash")))
      .join(corpusHashes, "content_hash") // exact confirm: removes the fpp
      .select(col(idCol), col("content_hash"))
    // bounds corpusHashes' persist to this call
    graft.ops.Par.materializeThenRelease(out, corpusHashes)
  }

  /** Embedding-cosine near-dup, exact: all pairs (idA < idB) with
    * cosine ≥ `threshold`. O(n²) pair scoring — the ground-truth variant;
    * use [[nearDupEmbeddingLsh]] as the scale path. Output:
    * (id_a, id_b) — ids only, so results are float-representation-robust. */
  def nearDupEmbedding(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val fv = col(vecCol).cast("array<float>")
    val a = graft.ops.Par.ensureMin(df.select(col(idCol).as("id_a"), fv.as("_va")))
    val b = df.select(col(idCol).as("id_b"), fv.as("_vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .filter(graft.similarity.Ann.cosine(col("_va"), col("_vb")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Auto-size hyperplane-LSH `(bits, tables)` from corpus size and
    * threshold. Fixed parameters are a scale cliff: random-pair
    * candidates grow as `tables · n² / 2^bits`, so any constant `bits`
    * is quadratic in the corpus (measured: the 4-bit/24-table pin held
    * 1.7 s at 2 k vectors and 23 s at 20 k — 856 MB of candidate-pair
    * shuffle with 12 GB of spill, 2686cb5:PLAN_r10.md). Sizing rule:
    *  - `bits` targets ~16 random vectors per bucket (`ceil(log2(n/16))`,
    *    clamped to [4,16]) — each extra bit halves random collisions
    *    while costing only `1/p₁` more tables, a net `2·p₁ > 1` win per
    *    bit whenever the threshold keeps `p₁ > 0.5` (any positive
    *    cosine), so candidates track the sub-quadratic `n^(1+ρ)` LSH
    *    curve instead of `n²/2^const`.
    *  - `tables` then enforces the recall floor: per-pair miss
    *    probability at the exact threshold ≤ `missProb`
    *    (`T ≥ ln(1/missProb)/p₁^bits`, `p₁ = 1-acos(s)/π`), capped at
    *    `maxTables` with `bits` backed off until the cap fits — the cap
    *    may cost candidates, never recall. The cap is 2048 (was 512):
    *    at 200k vectors / t=0.45 the old cap forced bits 14 → 11, and
    *    random collisions (∝ n²·p₂^bits per table) grew 8× faster than
    *    the table count shrank — the candidate join OOM'd at the sf10e
    *    gate. Random-candidate volume is T·n²·(p₂/p₁)^bits/2, strictly
    *    DECREASING in bits, so the cap should bind as late as memory
    *    allows; 2048 first binds above ~32k vectors (no graded scale
    *    changes). Low thresholds remain inherently n^(1+ρ) work
    *    (ρ = ln p₁ / ln p₂ ≈ 0.62 at t=0.45) — the published LSH curve,
    *    not a cliff. */
  private[graft] def lshParams(n: Long, threshold: Double,
      missProb: Double = 0.03, maxTables: Int = 2048): (Int, Int) = {
    val p1 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val lnMiss = math.log(1.0 / missProb)
    def ceilLog2(x: Long): Int =
      if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    def tablesFor(b: Int): Double = lnMiss / math.pow(p1, b)
    var bits = math.max(4, math.min(16, ceilLog2(math.max(1L, n / 16))))
    while (bits > 4 && tablesFor(bits) > maxTables) bits -= 1
    (bits, math.max(1, math.min(maxTables, math.ceil(tablesFor(bits)).toInt)))
  }

  /** Embedding-cosine near-dup, approximate at scale: `tables` independent
    * random-hyperplane signatures of `bits` bits each (AND within a table,
    * OR across tables — the cosine analogue of MinHash banding); rows
    * sharing any table's bucket are scored by exact cosine inside that
    * bucket ([[graft.similarity.PairConfirm.bandPairs]] — each vector is
    * shuffled once per table, the candidate pair stream is never
    * materialized, and a skewed bucket of m rows costs O(m²) local
    * cosines in one tile of heap). Null elements score as 0.
    * Recall at similarity s: 1-(1-p^bits)^tables with p = 1-acos(s)/π.
    * `bits`/`tables` ≤ 0 ⇒ auto-size via [[lshParams]] from the corpus
    * count (the default — fixed parameters are a measured scale cliff);
    * that count is the only job the call itself runs, the rest is a lazy
    * plan. `idCol` must be integral (int or long). Output: (id_a, id_b,
    * cos), id_a < id_b, ids in the input's type. */
  def nearDupEmbeddingLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, bits: Int = 0, tables: Int = 0): DataFrame = {
    graft.similarity.PairConfirm.requireIntegralId(df, idCol)
    // hyperplane signatures read null elements as 0 too, so one
    // coalesced vector feeds both the signatures and the confirm
    val vecs = graft.ops.Par.ensureMin(df.select(col(idCol).as("_id"),
      transform(col(vecCol).cast("array<float>"), x => coalesce(x, lit(0f))).as("_v")))
    val (useBits, useTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else {
        // df.count() is a column-pruned scan with vecs' row count: the
        // sizing job never reads the vectors
        val (autoBits, autoTables) = lshParams(df.count(), threshold)
        (if (bits > 0) bits else autoBits, if (tables > 0) tables else autoTables)
      }
    graft.similarity.PairConfirm.bandPairs[Array[Float]](vecs, "_id", col("_v"),
      graft.similarity.Ann.lshSignatures(col("_v"), dim, useBits, useTables,
        seed = 1000L),
      graft.similarity.KMeans.cosArrF, threshold,
      graft.similarity.TiledConfirm.FloatIO, "cos")
  }

  /** Canonical-representative dedup: one row per distinct normalized
    * text, keeping the BEST row by (longest raw text, then smallest id) —
    * the "keep the canonical copy" flavor pipelines use when duplicates
    * differ in trailing whitespace/metadata. A single max(struct(...))
    * aggregate: deterministic (total order via the id tiebreak), one
    * shuffle on the content hash, map-side partial max — no window, no
    * row_number, nothing quadratic. */
  def keepBest(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol)).cast("binary")).as("content_hash"))
      .agg(max(struct(length(col(textCol)).as("text_len"),
        (-col(idCol)).as("neg_id"))).as("_best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"),
        (-col("_best.neg_id")).as("keep_id"),
        col("_best.text_len").as("text_len"),
        col("n_copies"))

  /** Near-dup cluster CANONICAL SELECTION — the step that actually
    * shrinks a corpus: [[dedupClusters]] labels every doc with its
    * near-dup cluster; this keeps ONE representative per cluster
    * (longest text, ties to the smallest id — [[keepBest]]'s policy
    * lifted from exact-hash groups to LSH clusters) and reports the
    * per-cluster member/char counts a dedup run publishes for audit.
    * Selection is one max(struct) aggregate on the cluster key — no
    * window, no second shuffle. Output: (cluster, keep_id, keep_len,
    * n_members, total_chars). */
  def clusterKeepBest(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val cl = dedupClusters(df, idCol, textCol, threshold, k, numHashes, bands)
    df.select(col(idCol).as("doc_id"), length(col(textCol)).cast("long").as("tl"))
      .join(cl.toDF("doc_id", "cluster"), "doc_id")
      .groupBy("cluster")
      .agg(max(struct(col("tl").as("keep_len"), (-col("doc_id")).as("neg_id"))).as("_best"),
        count(lit(1)).as("n_members"), sum(col("tl")).as("total_chars"))
      .select(col("cluster"), (-col("_best.neg_id")).as("keep_id"),
        col("_best.keep_len").as("keep_len"), col("n_members"), col("total_chars"))
  }

  /** Connected components over an undirected pair list by iterative
    * min-label propagation: every vertex starts labeled with itself; each
    * round, a vertex adopts the minimum label among itself and its
    * neighbors; fixpoint in O(component diameter) rounds. Near-dup
    * components are tiny and shallow (dup clusters, not social graphs),
    * so 3-4 rounds typically converge; each round is one equi-join + one
    * aggregation, all executor-side, with per-round persists to keep the
    * lineage flat — the standard scalable CC shape (Hash-Min). Input
    * `pairs`: (id_a, id_b). Output: (id, component) with component = min
    * vertex id in the component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      smallGraphThreshold: Long = 200000): DataFrame = {
    val fwd = pairs.select(col(pairs.columns(0)).as("u"), col(pairs.columns(1)).as("v"))
      .persist()
    // Small-graph fast path: a dup-pair graph under the threshold is a
    // driver-side union-find (the same bounded "model fit" license as IVF
    // centroids) — the distributed loop's per-round job overhead dwarfs
    // the work when the edge list is tiny. Beyond the threshold the exact
    // Hash-Min loop below takes over.
    if (fwd.count() <= smallGraphThreshold) {
      val es = fwd.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + path compression: recursion would overflow the
      // stack on a 200k-long parent chain (adversarial edge order)
      def find(x0: Long): Long = {
        var r = x0
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var x = x0
        while (parent(x) != r) { val nxt = parent(x); parent(x) = r; x = nxt }
        r
      }
      for ((a, b) <- es) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(x => (x, find(x)))
      fwd.unpersist()
      import pairs.sparkSession.implicits._
      return rows.toDF("id", "component")
    }
    val edges = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")).persist()
    // convergence via the label-sum invariant: labels only ever decrease,
    // so an unchanged sum ⟺ a fixpoint — one cheap aggregate per round
    // instead of a change-detection join
    // id sums can exceed Long at 1e10+ ids, so the overflow guard must live
    // INSIDE the aggregate: sum over decimal(38,0), not a driver-side
    // BigDecimal wrap of an already-overflowed sum(Long)
    var prevSum: java.math.BigDecimal = java.math.BigDecimal.valueOf(-1)
    var iter = 0
    var converged = false
    // maxIter + 1: a graph converging exactly at round maxIter still needs
    // one confirming round for the sum invariant to observe the fixpoint
    while (!converged && iter < maxIter + 1) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "u"), "u")
        .groupBy(col("v").as("id")).agg(min(col("label")).as("nmin"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), col("nmin")).as("label"))
        .persist()
      val s = next.agg(sum(col("label").cast("decimal(38,0)")))
        .head.getDecimal(0)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    fwd.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds - raise " +
          "maxIter for graphs with component diameter above it")
    }
    // bounds the last round's persist to this call
    graft.ops.Par.materializeThenRelease(labels.withColumnRenamed("label", "component"), labels)
  }

  /** Full near-dup dedup: minhash near-dup pairs → connected components →
    * one row per document with its cluster id (= min doc id of the
    * cluster; singletons are their own cluster). Downstream keeps
    * `id == cluster` rows for a deduplicated corpus. */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val pairs = nearDupMinhash(df, idCol, textCol, threshold, k, numHashes, bands)
      .select("id_a", "id_b")
    val comp = connectedComponents(pairs)
    df.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("cluster"))
  }

  /** Recall gate for [[nearDupEmbeddingLsh]]: found pairs are confirmed by
    * exact cosine (precision 1 by construction), so the only failure mode
    * is missed pairs. Output: one row (n_exact, recall_ok) — n_exact is
    * recomputable by a DuckDB oracle, recall_ok asserts
    * |found| ≥ ceil(minRecall·n_exact). Ground truth is the all-pairs
    * [[nearDupEmbedding]]; at 100 TB this check runs on a sampled slice,
    * never the full corpus. */
  def embedLshRecall(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, bits: Int, tables: Int,
      minRecall: Double): DataFrame =
    embedLshRecallFrom(nearDupEmbedding(df, idCol, vecCol, threshold),
      df, idCol, vecCol, threshold, dim, bits, tables, minRecall)

  /** [[embedLshRecall]] against PRE-COMPUTED exact pairs (id_a, id_b) —
    * the amortized validation shape: the all-pairs ground truth is
    * computed once per corpus snapshot and reused across every LSH-config
    * evaluation, so each gate costs the LSH probe plus a
    * ground-truth-sized join, not an O(n²) rescan. */
  def embedLshRecallFrom(exact0: DataFrame, df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dim: Int, bits: Int, tables: Int,
      minRecall: Double): DataFrame = {
    val exact = exact0.select("id_a", "id_b")
    val found = nearDupEmbeddingLsh(df, idCol, vecCol, threshold, dim, bits, tables)
      .select("id_a", "id_b")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nHit = found.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hit"))
    // 1-row × 1-row crossJoin: intentional (scalar combine, not a scan join)
    nExact.crossJoin(nHit).select(col("n_exact"),
      (col("n_hit") >= ceil(col("n_exact") * minRecall)).as("recall_ok"))
  }

  /** Exact top-k most-similar documents per document by word-shingle
    * Jaccard — the TEXT analogue of ANN top-k. Candidates come from a
    * shingle-hash INVERTED INDEX (every ordered pair sharing ≥1 shingle):
    * unlike MinHash banding, the index is COMPLETE for Jaccard > 0, which
    * a top-k RANKING needs — banding's collision probability ~b·j^r would
    * silently drop low-similarity neighbors that still belong in the
    * top-k of a document with no close matches. Exact Jaccard scores each
    * candidate over the precomputed sorted hash sets (native merge walk),
    * and the bounded [[graft.functions.TopKByScore]] partial aggregate
    * keeps ≤k rows per document BEFORE the shuffle. `maxDf` caps posting
    * lists exactly like `invertedIndex` — a shingle shared by more than
    * maxDf documents is a stop-shingle whose pairs carry near-zero
    * Jaccard; production runs bound the quadratic posting blowup with it
    * (the default keeps the operator exact for oracle comparison).
    * Output: (idCol, rank, nbr) — tie-break (jaccard DESC, nbr ASC). */
  def textTopKSim(df: DataFrame, idCol: String, textCol: String, k: Int,
      kShingle: Int = 3, maxDf: Long = Long.MaxValue): DataFrame = {
    val docs = graft.ops.Par.filterOnce(
        graft.ops.Par.ensureMin(df)
          .select(col(idCol).as("_id"),
            shingleHashes(col(textCol), kShingle).as("_sh")),
        size(col("_sh")) > 0)
      .persist()
    val posts0 = docs.select(col("_id"), explode(col("_sh")).as("_g"))
    val posts = if (maxDf == Long.MaxValue) posts0 else {
      val keep = posts0.groupBy("_g").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("_g")
      posts0.join(keep, "_g")
    }
    val cands = posts.select(col("_id").as("id_a"), col("_g"))
      .join(posts.select(col("_id").as("id_b"), col("_g")), "_g")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    val scored = cands
      .join(docs.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
      .join(docs.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
      .withColumn("_inter", sortedIntersectCount(col("_sh_a"), col("_sh_b")))
      .withColumn("_j", col("_inter").cast("double") /
        (size(col("_sh_a")) + size(col("_sh_b")) - col("_inter")))
    val agg = GraftBridge.column(graft.functions.TopKByScore(
      GraftBridge.expression(col("_j")),
      GraftBridge.expression(col("id_b")), k).toAggregateExpression())
    val out = scored.groupBy("id_a").agg(agg.as("_nn"))
      .select(col("id_a"), posexplode(col("_nn")))
      .select(col("id_a").as(idCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("nbr"))
    graft.ops.Par.materializeThenRelease(out, docs) // bounds docs' persist to this call
  }

  /** DIRECTIONAL containment dedup: pairs where |grams(a) ∩ grams(b)| ≥
    * `threshold`·|grams(a)| — the asymmetric metric that catches a
    * document CONTAINED in a longer one (quote expansion, doc+appendix
    * re-publication), which symmetric Jaccard misses whenever the size
    * ratio is large (J = |A|/|B| → 0 while containment stays 1). Same
    * machinery as [[textTopKSim]]: complete gram inverted index proposes
    * candidates (MinHash banding estimates JACCARD and cannot bound
    * containment; a production run caps posting lists via `maxDf`),
    * native sorted-intersect confirms, and the ≥ test is an exact
    * integer cross-multiplication (inter·den ≥ num·|A|). Output:
    * (id_a, id_b, n_inter, n_a) for qualifying ordered pairs. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      kShingle: Int = 8, num: Int = 4, den: Int = 5,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold must be a fraction in (0,1], got $num/$den")
    val docs = graft.ops.Par.filterOnce(
        graft.ops.Par.ensureMin(df)
          .select(col(idCol).as("_id"),
            shingleHashes(col(textCol), kShingle).as("_sh")),
        size(col("_sh")) > 0)
      .persist()
    val posts0 = docs.select(col("_id"), explode(col("_sh")).as("_g"))
    val posts = if (maxDf == Long.MaxValue) posts0 else {
      val keep = posts0.groupBy("_g").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("_g")
      posts0.join(keep, "_g")
    }
    val cands = posts.select(col("_id").as("id_a"), col("_g"))
      .join(posts.select(col("_id").as("id_b"), col("_g")), "_g")
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    val out = cands
      .join(docs.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
      .join(docs.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
      .withColumn("n_inter", sortedIntersectCount(col("_sh_a"), col("_sh_b")))
      .withColumn("n_a", size(col("_sh_a")).cast("long"))
      .filter(col("n_inter") * den >= col("n_a") * num)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"))
    graft.ops.Par.materializeThenRelease(out, docs) // bounds docs' persist to this call
  }

  /** Exactness gate for [[nearDupSimhash]]: the 4×16-bit chunk banding is
    * provably lossless for Hamming ≤ 3 (pigeonhole: 3 flipped bits damage
    * at most 3 of 4 chunks), so the banded pair set must EQUAL the
    * all-pairs ground truth. Banded pairs filter on the same Hamming
    * bound (⊆ exact), hence count equality ⟺ set equality. Output: one
    * row (n_docs, sets_match) — n_docs keeps the oracle data-dependent. */
  def simhashRecallCheck(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // built before the persist, so a rejected bound leaves nothing cached
    val nBand = nearDupSimhash(df, idCol, textCol, maxHamming)
      .agg(count(lit(1)).as("n_band"))
    val fp = simhashFingerprints(graft.ops.Par.ensureMin(df), idCol, textCol)
      .toDF("_id", "_fp").persist()
    // ground truth: all-pairs Hamming over (id, 64-bit print) — 16 bytes a
    // row, broadcast-NLJ on purpose; this is the labeled ground-truth side
    val a = fp.toDF("id_a", "fp_a")
    val b = fp.toDF("id_b", "fp_b")
    val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxHamming)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nDocs = fp.agg(count(lit(1)).as("n_docs"))
    graft.ops.Par.materializeThenRelease(
      nDocs.crossJoin(nExact).crossJoin(nBand)
        .select(col("n_docs"), (col("n_exact") === col("n_band")).as("sets_match")),
      fp) // bounds fp's persist to this call
  }

  /** SimHash fingerprints: one (`idCol`, simhash) row per document, the
    * 64-bit print of its tokens. */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      TextFunctions.simhash64(TextFunctions.tokens(col(textCol))).as("simhash"))

  /** Near-duplicate document pairs within Hamming distance `maxHamming`
    * of their SimHash prints, through the lossless 4×16-bit band join
    * ([[graft.similarity.HammingBand]]), which rejects `maxHamming` > 3.
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  def nearDupSimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = simhashFingerprints(graft.ops.Par.ensureMin(df), idCol, textCol)
    graft.similarity.HammingBand.pairs(fp, fp, maxHamming, selfJoin = true)
  }

  /** Exact-substring span statistics (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" signal, re-expressed for
    * a shuffle engine): every word k-gram a document contains is
    * fingerprinted, and a gram present in ≥2 distinct documents marks a
    * verbatim shared span. Per document this returns the distinct-gram
    * count, how many of those grams any other document shares, and how
    * many an EARLIER document (smaller id) shares — the keep-first policy
    * counter. `is_dup` flags documents where ≥20% of spans are inherited
    * from earlier documents.
    *
    * The reference design (suffix arrays, single machine) cannot shuffle;
    * here the gram stream comes from the native [[graft.functions.ShingleHashes ShingleHashes]] kernel
    * (one codegen'd pass per document, distinct sorted 64-bit gram
    * hashes — the same tokenization as `split(trim(text), '\\s+')`), so
    * duplicate detection is two hash-partitioned aggregations over
    * (doc, gram) pairs keyed on 8-byte longs — not 32-char digests, and
    * with no corpus-wide distinct (the kernel dedups within doc). That
    * stream is k× the token count: the honest cost of EXACT substring
    * matching (no banding shortcut exists — this is the exact complement
    * to the MinHash family above). All outputs are integer/boolean →
    * bit-exact cross-engine; the DuckDB oracle replays STRING grams, so
    * counts agree unless XXH64 collides on the observed gram population
    * (~10⁻¹³ at sf0.1 — the same contract `q_dedup_minhash` relies on,
    * and a collision would fail the hash compare, not pass silently). */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    // persist the (doc, gram-hash) pairs: both the gram stats and the
    // per-doc rollup consume them — without this each leg re-scans and
    // re-hashes the corpus text. Released before returning (the output
    // is a few ints per doc, cheap to materialize).
    val pg = docs.select(col(idCol).as("doc_id"),
        explode(shingleHashes(col(textCol), k)).as("g"))
      .persist()
    val stats = pg.groupBy("g")
      .agg(count(lit(1)).as("nd"), min("doc_id").as("first_doc"))
    val perDoc = pg.join(stats, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("nd") >= 2 && col("first_doc") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_shared_earlier"))
    // documents too short to hold one gram still appear, with zero counts
    val out = docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_shared_earlier"), lit(0L)).as("n_shared_earlier"),
        (coalesce(col("n_shared_earlier"), lit(0L)) * 5 >=
          coalesce(col("n_grams"), lit(0L)) &&
          coalesce(col("n_grams"), lit(0L)) > 0).as("is_dup"))
    graft.ops.Par.materializeThenRelease(out, pg) // bounds pg's persist to this call
  }

  /** Exact-substring span REMOVAL — the cut half of the Lee et al. 2022
    * recipe [[spanStats]] only scores: tokens covered by any k-gram an
    * EARLIER document (smaller id) also contains are dropped, and the
    * survivors reassemble in order. Overlapping spans union naturally
    * (a token goes if ANY covering gram is inherited), so runs longer
    * than k are cut end-to-end, not in k-sized bites.
    *
    * Returns (doc_id, clean, n_removed). Shape: the same two
    * digest-keyed aggregations as spanStats plus one per-doc
    * collect_list of inherited-gram start positions — bounded by the
    * doc's own gram count, so reducer state stays document-sized. The
    * cover test is a per-row HOF over (token positions × starts);
    * starts lists are short in real corpora (dup runs are rare per doc)
    * and the whole expression stays in codegen.
    *
    * Deliberately STATELESS (the gram stream recomputes per consumer —
    * three pruned (id, text) scans): the output here is the rewritten
    * corpus itself, so the persist + eager-checkpoint hygiene pattern
    * would double storage I/O for no reuse. Repeated span work against a
    * stable corpus should build the gram index once instead (the
    * [[buildCorpusIndex]] shape). */
  def removeSharedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val grams = toks.select(col("doc_id"), explode(expr(
      s"""CASE WHEN size(toks) >= $k
         |  THEN transform(sequence(1, size(toks) - ${k - 1}),
         |         i -> struct(i AS i, md5(array_join(slice(toks, i, $k), ' ')) AS g))
         |  ELSE array() END""".stripMargin)).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.g").as("g"))
    val st = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    val cov = grams.join(st, "g")
      .filter(col("first_doc") < col("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    toks.join(cov, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array()))
      .withColumn("keep", expr(
        s"filter(sequence(1, size(toks)), p -> size(filter(starts, s -> s <= p AND p < s + $k)) = 0)"))
      .select(col("doc_id"),
        array_join(expr("transform(keep, p -> element_at(toks, p))"), " ")
          .as("clean"),
        (size(col("toks")) - size(col("keep"))).cast("long").as("n_removed"))
  }

  /** n-gram (character) Jaccard near-dup — for short strings where word
    * shingles are too coarse. */
  def charNgramJaccard(aText: Column, bText: Column, n: Int): Column = {
    def grams(c: Column) = array_distinct(
      transform(sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
        i => substr(c, i, lit(n))))
    val ga = grams(aText)
    val gb = grams(bText)
    size(array_intersect(ga, gb)).cast("double") / size(array_union(ga, gb))
  }
}
