package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * a typed metadata struct, plus decode/feature-extract kernels.
  *
  * Every payload kernel has one shape ([[mapPayloads]]): one map-only
  * pass that hands each row's (id, payload bytes) to a per-row function
  * and encodes what it emits against a schema fixed up front — binary
  * column in, typed values out, no shuffle, no driver materialization,
  * one payload held at a time. IMAGE decode is REAL: PNG/JPEG payloads
  * are decoded with the JDK's `javax.imageio` (header-only reads for
  * metadata, full decode for pixel access). AUDIO decode is REAL for
  * WAV/PCM (`parseWav`/[[wavProbe]]/[[wavDecimate]] — RIFF needs no
  * codec library). Compressed audio/VIDEO decode remains a DETERMINISTIC
  * STUB (no codec libraries in this container): features derive from
  * payload bytes via a seeded hash mix, through the same kernel shape. */
object Multimodal {

  /** Typed metadata carried alongside every media payload. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Demo payload attach: UTF-8 bytes of a text column as the binary
    * payload + stub metadata. Real pipelines read payloads from object
    * storage; this keeps the column types honest. */
  def withBinaryPayload(df: DataFrame, textCol: String, kind: String): DataFrame =
    df.withColumn("payload", col(textCol).cast(BinaryType))
      .withColumn("meta", struct(
        lit(kind).as("kind"),
        (octet_length(col(textCol)) % 640).cast("int").as("width"),
        (octet_length(col(textCol)) % 480).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (octet_length(col(textCol)) % 32 + 1).cast("int").as("n_frames")))

  /** ImageIO's DEFAULT stream cache routes every byte-array read/write
    * through a disk temp file (FileCacheImageInput/OutputStream) — one
    * create/write/delete per payload, which dominates decode time for
    * small images and adds disk contention across concurrent queries.
    * Memory caching is strictly better for in-memory payloads; the flag
    * is JVM-global and this lazy val pins exactly-once evaluation in
    * whichever executor JVM touches an image op first. */
  private[multimodal] lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Decode an in-memory payload, failing loudly on undecodable bytes
    * (ImageIO signals them with null, not an exception). */
  private[multimodal] def readImage(payload: Array[Byte],
      id: => Long): java.awt.image.BufferedImage = {
    imageIoMemCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"payload of id $id is not a decodable image")
    img
  }

  /** Above this pixel count the whole-frame `getRGB` buffer (4 bytes/px
    * on top of the decoded raster) becomes a per-task memory cliff — a
    * 100 MP photo would allocate ~400 MB transiently PER ROW of the
    * DataFrame. Bounded at 4 M px (16 MB buffer). */
  private val BulkPixelThreshold = 1L << 22

  /** Stream an image's pixels row-by-row as packed ARGB ints:
    * `f(y, buf, off)` sees row `y` at `buf(off) .. buf(off + w - 1)`.
    * Small frames keep the round-6 fast path — ONE bulk `getRGB` call
    * (a single ColorModel conversion pass) handed to `f` with zero
    * copying; frames past [[BulkPixelThreshold]] fall back to strided
    * per-scanline fetches through one reused w-length buffer, so peak
    * extra memory is one scanline instead of the whole frame. The
    * pixel values are identical either way — only the fetch granularity
    * changes. */
  private[multimodal] def foreachPixelRow(img: java.awt.image.BufferedImage)(
      f: (Int, Array[Int], Int) => Unit): Unit = {
    val w = img.getWidth; val h = img.getHeight
    if (w.toLong * h <= BulkPixelThreshold) {
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var y = 0
      while (y < h) { f(y, px, y * w); y += 1 }
    } else {
      val row = new Array[Int](w)
      var y = 0
      while (y < h) { img.getRGB(0, y, w, 1, row, 0, w): Unit; f(y, row, 0); y += 1 }
    }
  }

  /** PNG-encode to bytes through the memory-cached path. */
  private[multimodal] def encodeImagePng(
      img: java.awt.image.BufferedImage): Array[Byte] = {
    imageIoMemCache
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic fixture image: `w`×`h` RGB with pixel(x,y) =
    * (seed + 31x + 17y) mod 2^24, PNG-encoded (lossless, so a decoder
    * must reproduce the exact pixels). */
  private[multimodal] def encodePng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((seed + 31L * x + 17L * y) & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    encodeImagePng(img)
  }

  /** REAL header-only image metadata decode via javax.imageio: width and
    * height come from the format header without decoding pixel data —
    * the cheap path for metadata extraction over a 100 TB image corpus. */
  def decodeImageMeta(payload: Array[Byte]): (Int, Int) = {
    imageIoMemCache
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      require(readers.hasNext, "no image reader for payload")
      val r = readers.next()
      try {
        r.setInput(in)
        (r.getWidth(0), r.getHeight(0))
      } finally r.dispose()
    } finally in.close()
  }

  /** Attach a REAL PNG payload per row: dimensions and pixels derive
    * deterministically from `idCol` so an oracle can recompute them. */
  def withPngPayload(df: DataFrame, idCol: String): DataFrame = {
    val enc = udf((id: Long) =>
      encodePng(id * 2654435761L, 8 + (id % 24).toInt, 8 + (id % 16).toInt))
    df.withColumn("payload", enc(col(idCol).cast("long")))
  }

  /** The one media kernel shape: select (`idCol` cast to long,
    * `payloadCol`), then one pass over each partition that flat-maps
    * every row through `f(id, bytes)` and encodes the rows it emits with
    * `out`. Map-only (no shuffle), one payload in flight at a time, and
    * output rows keep their input's in-partition order. */
  private def mapPayloads(df: DataFrame, idCol: String, payloadCol: String,
      out: StructType)(f: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame =
    df.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions(_.flatMap(r => f(r.getLong(0), r.getAs[Array[Byte]](1))))(
        Encoders.row(out))

  /** REAL decode probe: (id, decoded width/height, pixel(0,0),
    * pixel(w-1,h-1)) — full `ImageIO.read` per payload, one map-only pass
    * ([[mapPayloads]]). Pixels mask to 24-bit RGB. */
  def imageProbe(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("p00", LongType),
      StructField("pwh", LongType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      val w = img.getWidth
      val h = img.getHeight
      Iterator.single(Row(id, w, h,
        (img.getRGB(0, 0) & 0xFFFFFF).toLong,
        (img.getRGB(w - 1, h - 1) & 0xFFFFFF).toLong))
    }
  }

  /** REAL per-channel normalization stats: decode each payload and emit
    * exact integer per-channel pixel sums plus the pixel count — the
    * dataset-level mean/std every vision-preproc pipeline computes before
    * training (global stats are one tiny grouped aggregation over these
    * per-image rows; the float mean/std derive outside the exact core).
    * Bulk pixel fetch (one ColorModel pass), one map-only pass
    * ([[mapPayloads]]). Output: (doc_id, n_px, sum_r, sum_g, sum_b). */
  def imageChannelStats(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_px", LongType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      foreachPixelRow(img) { (_, buf, off) =>
        var i = off
        val end = off + w
        while (i < end) {
          val v = buf(i)
          sr += (v >> 16) & 0xFF; sg += (v >> 8) & 0xFF; sb += v & 0xFF
          i += 1
        }
      }
      Iterator.single(Row(id, w.toLong * h, sr, sg, sb))
    }
  }

  /** REAL image feature extraction: decode the payload with ImageIO and
    * emit per-grid-cell mean pixel values — the canonical cheap visual
    * feature (downsampled intensity map). Output: one row per (id, cell)
    * with the exact mean of the 24-bit RGB values whose pixel (x, y)
    * falls in cell (y·grid/h, x·grid/w). One map-only pass
    * ([[mapPayloads]]); sums stay < 2^53 so the double mean is exact and
    * oracle-comparable. */
  def imageGridFeatures(df: DataFrame, idCol: String, payloadCol: String,
      grid: Int = 4): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("cell", IntegerType),
      StructField("mean_val", DoubleType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Long](grid * grid)
      val counts = new Array[Long](grid * grid)
      // bulk/strided fetch: one ColorModel pass per row batch instead
      // of per-pixel getRGB; memory-bounded on huge frames
      foreachPixelRow(img) { (y, buf, off) =>
        val rowCell = (y * grid / h) * grid
        var x = 0
        while (x < w) {
          val c = rowCell + (x * grid / w)
          sums(c) += (buf(off + x) & 0xFFFFFF).toLong
          counts(c) += 1
          x += 1
        }
      }
      (0 until grid * grid).iterator.filter(counts(_) > 0).map(c =>
        Row(id, c, sums(c).toDouble / counts(c)))
    }
  }

  /** REAL image resize: decode the payload with ImageIO, nearest-neighbor
    * resample to `w`×`h`, re-encode as PNG — the full
    * decode→transform→encode loop a thumbnailing / vision-preproc stage
    * runs, in one map-only pass ([[mapPayloads]]). Nearest-neighbor (source
    * pixel at (x·srcW/w, y·srcH/h), integer floor division) is used
    * instead of Graphics2D scaling because its output is exactly
    * specified, so an oracle can recompute every output pixel from the
    * source formula and verify the loop bit-exactly; swap the kernel for
    * area/bilinear in production where exactness isn't contractual.
    * Output: (idCol, payload) with the resized PNG. */
  def imageResize(df: DataFrame, idCol: String, payloadCol: String,
      w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"target dims must be positive, got ${w}x$h")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      val sw = img.getWidth
      val sh = img.getHeight
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(x * sw / w, y * sh / h) & 0xFFFFFF)
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, encodeImagePng(out)))
    }
  }

  /** REAL image crop (+ optional horizontal flip): decode, copy the
    * `cw`×`ch` region at (x0, y0) — mirrored left-right when `flipH` —
    * and re-encode as PNG. Crop/flip are the standard vision-augmentation
    * pair and, unlike interpolating kernels, are EXACTLY specified
    * (out(x, y) = src(x0 + (flipH ? cw-1-x : x), y0 + y)), so an oracle
    * can recompute every output pixel from the source formula and verify
    * the full decode→transform→encode→decode loop bit-exactly. Payloads
    * smaller than the crop window fail loudly (require) rather than
    * emitting a silently-clamped region. One map-only pass like
    * [[imageResize]]. */
  def imageCrop(df: DataFrame, idCol: String, payloadCol: String,
      x0: Int, y0: Int, cw: Int, ch: Int, flipH: Boolean = false): DataFrame = {
    require(x0 >= 0 && y0 >= 0 && cw > 0 && ch > 0,
      s"crop region must be non-negative with positive dims, got ($x0,$y0,$cw,$ch)")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      require(x0 + cw <= img.getWidth && y0 + ch <= img.getHeight,
        s"crop ($x0,$y0,$cw,$ch) exceeds ${img.getWidth}x${img.getHeight} of id $id")
      val out = new java.awt.image.BufferedImage(
        cw, ch, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < ch) {
        var x = 0
        while (x < cw) {
          val sx = if (flipH) x0 + cw - 1 - x else x0 + x
          out.setRGB(x, y, img.getRGB(sx, y0 + y) & 0xFFFFFF)
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, encodeImagePng(out)))
    }
  }

  // ======================= audio: REAL WAV/PCM ===========================

  /** Deterministic fixture WAV: 16-bit mono PCM at 8 kHz, a full RIFF
    * container (fmt + data chunks). `n = 256 + id mod 512` samples;
    * `sample[i] = ((id·2654435761 + i·40503) mod 2¹⁶) − 2¹⁵` — pure id
    * functions, so the DuckDB oracle can recompute every decoded value. */
  private[multimodal] def encodeWav(seed: Long, n: Int, rate: Int): Array[Byte] = {
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataSize)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(rate); bb.putInt(rate * 2); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataSize)
    var i = 0
    while (i < n) {
      bb.putShort((java.lang.Math.floorMod(seed + i.toLong * 40503L, 65536L) - 32768L).toShort)
      i += 1
    }
    bb.array()
  }

  def withWavPayload(df: DataFrame, idCol: String): DataFrame = {
    val enc = udf((id: Long) =>
      encodeWav(id * 2654435761L, 256 + (id % 512).toInt, 8000))
    df.withColumn("payload", enc(col(idCol).cast("long")))
  }

  /** REAL WAV parser: walks the RIFF chunk list (tolerating extra chunks
    * and odd-size padding per the spec), reads the fmt geometry and the
    * 16-bit little-endian PCM frames. Pure JVM byte work — PCM needs no
    * codec library, which is why the audio path gets a real decode while
    * compressed video stays a labeled stub. */
  private[graft] def parseWav(bytes: Array[Byte]): (Int, Array[Short]) = {
    require(bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
      "payload is not a RIFF/WAVE container")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(12)
    var rate = -1
    var samples: Array[Short] = null
    while (bb.remaining >= 8) {
      val tag = new String(
        Array(bb.get(), bb.get(), bb.get(), bb.get()).map(b => (b & 0xff).toChar))
      val size = bb.getInt
      tag match {
        case "fmt " =>
          val fmtStart = bb.position()
          val audioFormat = bb.getShort; val channels = bb.getShort
          rate = bb.getInt
          bb.getInt; bb.getShort // byteRate, blockAlign
          val bits = bb.getShort
          require(audioFormat == 1 && channels == 1 && bits == 16,
            s"only 16-bit mono PCM supported (fmt=$audioFormat ch=$channels bits=$bits)")
          bb.position(fmtStart + size + (size & 1))
        case "data" =>
          val n = size / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort; i += 1 }
          samples = out
        case _ => bb.position(bb.position() + size + (size & 1)) // skip + pad
      }
    }
    require(rate > 0 && samples != null, "missing fmt or data chunk")
    (rate, samples)
  }

  /** REAL audio decode + signal features over WAV payloads:
    * sample count / rate / integer duration, peak |amplitude|, energy
    * (Σ s² — exact in a long at any realistic clip length: 2³⁰ per
    * sample × 10⁷ samples ≪ 2⁶³), and the zero-crossing count (the
    * classic cheap voiced/unvoiced discriminator). ALL-INTEGER outputs →
    * bit-exact cross-engine; consumers derive RMS/ZCR-rate by dividing
    * the exact numerators. One map-only pass ([[mapPayloads]]) like the
    * image path. */
  def wavProbe(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType),
      StructField("duration_ms", LongType),
      StructField("peak", LongType),
      StructField("sum_sq", LongType),
      StructField("zero_cross", LongType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (rate, s) = parseWav(bytes)
      var peak = 0L; var sumSq = 0L; var zc = 0L
      var i = 0
      while (i < s.length) {
        val v = s(i).toLong
        val a = math.abs(v)
        if (a > peak) peak = a
        sumSq += v * v
        if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
        i += 1
      }
      Iterator.single(Row(id, rate, s.length.toLong,
        s.length.toLong * 1000L / rate, peak, sumSq, zc))
    }
  }

  /** REAL audio QA gate: decode and report the exact integer clipping
    * count (|sample| >= `clipAt`), DC offset numerator (Σ samples — a
    * nonzero-mean recording), and peak — the ingest checks an audio
    * corpus runs before any feature extraction. `ok` cross-multiplies
    * the clipping RATE against `maxClipPpm` (n_clipped·10⁶ ≤ ppm·n), so
    * no division anywhere. Map-only decode like [[wavProbe]]; zero
    * shuffles at any corpus scale. */
  def wavQuality(df: DataFrame, idCol: String, payloadCol: String,
      clipAt: Long, maxClipPpm: Long): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_samples", LongType),
      StructField("n_clipped", LongType),
      StructField("peak", LongType),
      StructField("dc_sum", LongType),
      StructField("ok", BooleanType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (_, s) = parseWav(bytes)
      var peak = 0L; var clipped = 0L; var dc = 0L
      var i = 0
      while (i < s.length) {
        val v = s(i).toLong
        val a = math.abs(v)
        if (a > peak) peak = a
        if (a >= clipAt) clipped += 1
        dc += v
        i += 1
      }
      Iterator.single(Row(id, s.length.toLong, clipped, peak, dc,
        clipped * 1000000L <= maxClipPpm * s.length))
    }
  }

  /** REAL audio downsample by integer decimation: keep every `factor`-th
    * PCM frame and re-emit a VALID WAV at rate/factor (header rewritten,
    * frames re-packed) — an actual signal transform, not a metadata
    * stub. (No anti-alias filter: plain decimation, stated contract;
    * exact and portable.) Payload in, payload out, so it composes with
    * [[wavProbe]] and round-trips through parquet binary columns. */
  def wavDecimate(df: DataFrame, idCol: String, payloadCol: String,
      factor: Int): DataFrame = {
    require(factor >= 1, s"decimation factor must be >= 1, got $factor")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (rate, s) = parseWav(bytes)
      val n = (s.length + factor - 1) / factor
      val out = new Array[Short](n)
      var i = 0
      while (i < n) { out(i) = s(i * factor); i += 1 }
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + n * 2)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(1)
      bb.putInt(rate / factor); bb.putInt(rate / factor * 2)
      bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(n * 2)
      var j = 0
      while (j < n) { bb.putShort(out(j)); j += 1 }
      Iterator.single(Row(id, bb.array()))
    }
  }

  // ================ video: REAL uncompressed AVI (DIB/BI_RGB) ============

  /** Deterministic fixture VIDEO: a complete RIFF/AVI container holding
    * `n` UNCOMPRESSED 24-bit BGR frames ('00db' DIB chunks, bottom-up
    * rows, 4-byte row stride — the standard BI_RGB layout). Raw-frame AVI
    * is a real, spec-complete format that needs NO codec library — the
    * same reason the audio path decodes WAV/PCM for real while compressed
    * codecs stay labeled stubs. pixel(x, y, f) = (seed + 31x + 17y + 73f)
    * mod 2²⁴ — pure id functions, so an oracle recomputes every decoded
    * value. */
  private[multimodal] def encodeAvi(seed: Long, w: Int, h: Int, n: Int): Array[Byte] = {
    def pix(x: Int, y: Int, f: Int): Int =
      (java.lang.Math.floorMod(seed + 31L * x + 17L * y + 73L * f, 16777216L)).toInt
    encodeAviFrames(w, h, (0 until n).map(f =>
      Array.tabulate(w * h)(i => pix(i % w, i / w, f))))
  }

  /** Write a complete uncompressed AVI from row-major 24-bit RGB frames. */
  private[graft] def encodeAviFrames(w: Int, h: Int,
      framePixels: Seq[Array[Int]]): Array[Byte] = {
    val n = framePixels.length
    val stride = (w * 3 + 3) & ~3
    val frameSize = stride * h
    val strf = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0) // BI_RGB
      .putInt(frameSize).putInt(0).putInt(0).putInt(0).putInt(0)
    val strh = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strh.put("vids".getBytes("US-ASCII")).put("DIB ".getBytes("US-ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(25) // scale, rate: 25 fps
      .putInt(0).putInt(n).putInt(frameSize).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(0).putShort(0) // rcFrame
    val avih = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(40000).putInt(frameSize * 25).putInt(0).putInt(0)
      .putInt(n).putInt(0).putInt(1).putInt(frameSize)
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(tag.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("LIST".getBytes("US-ASCII")).putInt(4 + body.length)
        .put(kind.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val strl = list("strl", chunk("strh", strh.array()) ++ chunk("strf", strf.array()))
    val hdrl = list("hdrl", chunk("avih", avih.array()) ++ strl)
    val frames = framePixels.toArray.flatMap { f =>
      val body = new Array[Byte](frameSize)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = f(y * w + x)
          val off = (h - 1 - y) * stride + x * 3 // bottom-up rows
          body(off) = (v & 0xFF).toByte             // B
          body(off + 1) = ((v >> 8) & 0xFF).toByte  // G
          body(off + 2) = ((v >> 16) & 0xFF).toByte // R
          x += 1
        }
        y += 1
      }
      chunk("00db", body)
    }
    val movi = list("movi", frames)
    val riffBody = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val out = java.nio.ByteBuffer.allocate(8 + riffBody.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffBody.length).put(riffBody)
    out.array()
  }

  def withAviPayload(df: DataFrame, idCol: String): DataFrame = {
    val enc = udf((id: Long) =>
      encodeAvi(id * 2654435761L, 10, 8, 2 + (id % 4).toInt))
    df.withColumn("payload", enc(col(idCol).cast("long")))
  }

  /** REAL AVI demux + frame decode: walks the RIFF chunk tree (LIST
    * recursion, odd-size padding per spec), reads the stream format
    * (BITMAPINFOHEADER — requires BI_RGB 24-bit, i.e. uncompressed DIB;
    * compressed fourccs fail loudly rather than pretending), then decodes
    * each '00db'/'00dc' movi chunk's bottom-up BGR rows into row-major
    * 24-bit RGB ints. Pure JVM byte work, no codec library. Returns
    * (width, height, frames), frames row-major top-down. */
  private[graft] def parseAvi(bytes: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    require(bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I',
      "payload is not a RIFF/AVI container")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var w = -1; var h = -1
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    def tag4(): String = new String(
      Array(bb.get(), bb.get(), bb.get(), bb.get()).map(b => (b & 0xff).toChar))
    def walk(end: Int): Unit = {
      while (bb.position() + 8 <= end) {
        val tag = tag4()
        val size = bb.getInt
        val body = bb.position()
        tag match {
          case "LIST" =>
            tag4() // list kind — recurse into every list
            walk(body + size)
          case "strf" =>
            val p0 = bb.position()
            bb.getInt // biSize
            w = bb.getInt; h = bb.getInt
            bb.getShort // planes
            val bits = bb.getShort
            val compression = bb.getInt
            require(compression == 0 && bits == 24,
              s"only uncompressed 24-bit DIB frames supported (BI_RGB), " +
                s"got compression=$compression bits=$bits")
            bb.position(p0)
          case t if t.endsWith("db") || t.endsWith("dc") =>
            val f = new Array[Byte](size)
            bb.get(f)
            frames += f
            bb.position(body) // rewind; shared advance below
          case _ => ()
        }
        bb.position(body + size + (size & 1))
      }
    }
    bb.position(12)
    walk(bytes.length)
    require(w > 0 && h > 0, "missing strf stream format")
    val stride = (w * 3 + 3) & ~3
    val decoded = frames.map { f =>
      require(f.length >= stride * h, s"frame chunk too short: ${f.length}")
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val off = (h - 1 - y) * stride + x * 3
          out(y * w + x) = ((f(off + 2) & 0xFF) << 16) |
            ((f(off + 1) & 0xFF) << 8) | (f(off) & 0xFF)
          x += 1
        }
        y += 1
      }
      out
    }.toArray
    (w, h, decoded)
  }

  /** REAL video decode + per-frame features: geometry, corner pixels,
    * and the exact integer RGB-sum (Σ(r+g+b) over the frame — the cheap
    * brightness signal). One output row per (video, frame); `stride`
    * keeps every stride-th frame, the frame-sampling knob a
    * vision-preproc pipeline uses to cut decode volume. ALL-INTEGER
    * outputs → bit-exact cross-engine. One map-only pass
    * ([[mapPayloads]]) like the image path. */
  def aviProbe(df: DataFrame, idCol: String, payloadCol: String,
      stride: Int = 1): DataFrame = {
    require(stride >= 1, s"frame stride must be >= 1, got $stride")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_id", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("p00", LongType),
      StructField("pwh", LongType),
      StructField("sum_rgb", LongType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (w, h, frames) = parseAvi(bytes)
      frames.iterator.zipWithIndex.filter(_._2 % stride == 0).map {
        case (f, fi) =>
          var s0 = 0L; var i = 0
          while (i < f.length) {
            val v = f(i)
            s0 += ((v >> 16) & 0xFF) + ((v >> 8) & 0xFF) + (v & 0xFF)
            i += 1
          }
          Row(id, fi / stride, w, h, f(0).toLong, f(w * h - 1).toLong, s0)
      }
    }
  }

  /** REAL shot-boundary (scene-cut) detection: decode consecutive frame
    * pairs and compute the exact integer sum of per-channel absolute
    * pixel differences — the classic pre-sampling signal a vision
    * pipeline uses to pick one representative frame per shot instead of
    * a blind stride. A pair is a cut when the MEAN per-pixel difference
    * reaches `thrPerPixel` (cross-multiplied: diff_sum >= thr·w·h, no
    * division). One output row per consecutive pair; all-integer →
    * bit-exact cross-engine. Map-only pass like [[aviProbe]] — zero
    * shuffles at any corpus scale. */
  def aviSceneCuts(df: DataFrame, idCol: String, payloadCol: String,
      thrPerPixel: Long): DataFrame = {
    require(thrPerPixel >= 0, s"threshold must be >= 0, got $thrPerPixel")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_id", IntegerType),
      StructField("n_px", LongType),
      StructField("diff_sum", LongType),
      StructField("is_cut", BooleanType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (w, h, frames) = parseAvi(bytes)
      val nPx = w.toLong * h
      (1 until frames.length).iterator.map { fi =>
        val f0 = frames(fi - 1); val f1 = frames(fi)
        var s0 = 0L; var i = 0
        while (i < f1.length) {
          val a = f0(i); val b = f1(i)
          s0 += math.abs(((b >> 16) & 0xFF) - ((a >> 16) & 0xFF)) +
            math.abs(((b >> 8) & 0xFF) - ((a >> 8) & 0xFF)) +
            math.abs((b & 0xFF) - (a & 0xFF))
          i += 1
        }
        Row(id, fi, nPx, s0, s0 >= thrPerPixel * nPx)
      }
    }
  }

  /** REAL video frame-sampling transform: keep every `stride`-th frame
    * and re-emit a VALID uncompressed AVI (headers rewritten with the new
    * frame count) — payload in, payload out, so it composes with
    * [[aviProbe]] and round-trips through parquet binary columns, the
    * [[wavDecimate]] pattern applied to video. */
  def aviFrameSample(df: DataFrame, idCol: String, payloadCol: String,
      stride: Int): DataFrame = {
    require(stride >= 1, s"frame stride must be >= 1, got $stride")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      val (w, h, frames) = parseAvi(bytes)
      val kept = frames.indices.filter(_ % stride == 0).map(frames)
      Iterator.single(Row(id, encodeAviFrames(w, h, kept)))
    }
  }

  /** STUB decoder: deterministic pseudo-features from payload bytes.
    * Replace with a real codec (JPEG/WAV/MP4 demux) in production. */
  private[multimodal] def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // FNV-ish seed
    var i = 0
    while (i < payload.length) {
      h = h * 31 + (payload(i) & 0xff)
      out(i % dim) += ((h >>> 32) & 0xffff) / 65536.0f
      i += 1
    }
    out
  }

  /** Feature extraction: (id, payload) → (id, features), one map-only
    * pass ([[mapPayloads]]) over the [[decodeStub]] decoder. */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
      dim: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    mapPayloads(df, idCol, payloadCol, outSchema) { (id, bytes) =>
      Iterator.single(Row(id, decodeStub(bytes, dim).toSeq))
    }
  }

  /** STUB image resize: a real codec would re-encode the payload to
    * (w, h); here the payload passes through (no codec libs) and the typed
    * metadata records the target geometry — downstream schema and
    * partitioning behave exactly as in production. */
  def resize(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("meta", struct(
      col("meta.kind"), lit(w).as("width"), lit(h).as("height"),
      col("meta.sample_rate"), col("meta.n_frames")))

  /** STUB audio resample to `rate` Hz — metadata analogue of [[resize]],
    * for COMPRESSED payloads only; WAV/PCM gets the real transform in
    * [[wavDecimate]]. */
  def resample(df: DataFrame, rate: Int): DataFrame =
    df.withColumn("meta", struct(
      col("meta.kind"), col("meta.width"), col("meta.height"),
      lit(rate).as("sample_rate"), col("meta.n_frames")))

  /** STUB frame sampler: split the payload into `n` byte chunks standing
    * in for decoded video frames (array<binary> column). */
  def frameSample(df: DataFrame, payloadCol: String, n: Int): DataFrame = {
    val len = octet_length(col(payloadCol))
    val step = greatest(len.cast("int") / n, lit(1))
    df.withColumn("frames",
      transform(sequence(lit(0), lit(n - 1)),
        i => substring(col(payloadCol), (i * step + 1).cast("int"), lit(65536))))
  }

  /** REAL perceptual difference-hash (dHash) over decoded image payloads:
    * the image is area-averaged onto a 9×8 luma grid and each of the 64
    * bits records whether a cell is brighter than its right neighbour —
    * the standard cheap near-duplicate fingerprint for image corpora
    * (robust to re-encode, resize, and small edits; a few bits flip for
    * light perturbations). Everything is INTEGER arithmetic: per-cell
    * luma SUMS (BT.601 ×1000 weights) compared cross-multiplied
    * (sumA·cntB > sumB·cntA), so the hash is bit-identical on every JVM —
    * no float rounding anywhere. Cells cover ≥1 pixel for any image ≥1×1
    * (ranges are clamped, so tiny images repeat pixels rather than
    * leaving cells empty). Output: (doc_id, dhash) with dhash LongType. */
  def imageDHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    mapPayloads(df, idCol, payloadCol, DHashSchema) { (id, bytes) =>
      val img = readImage(bytes, id)
      val w = img.getWidth; val h = img.getHeight
      val gw = 9; val gh = 8
      // Bulk (small frames) or row-strided (huge frames) fetch via
      // foreachPixelRow: per-pixel getRGB goes through the ColorModel
      // dispatch on every call (PNGs decode to 3BYTE_BGR, not
      // INT_RGB) — batch conversion + flat int reads either way.
      // Cell bounds precomputed; row-major accumulation visits each
      // row once per cell row whose CLAMPED range contains it, which
      // reproduces the per-cell loops exactly (ranges only overlap
      // when h < gh / w < gw — tiny clamped frames).
      val sums = Array.ofDim[Long](gh, gw)
      val cnts = Array.ofDim[Long](gh, gw)
      val ys = Array.tabulate(gh) { cy =>
        val y0 = cy * h / gh
        (y0, math.min(math.max((cy + 1) * h / gh, y0 + 1), h))
      }
      val xs = Array.tabulate(gw) { cx =>
        val x0 = cx * w / gw
        (x0, math.min(math.max((cx + 1) * w / gw, x0 + 1), w))
      }
      foreachPixelRow(img) { (y, buf, off) =>
        var cy = 0
        while (cy < gh) {
          if (y >= ys(cy)._1 && y < ys(cy)._2) {
            var cx = 0
            while (cx < gw) {
              var s0 = 0L; var n0 = 0L
              var x = xs(cx)._1
              while (x < xs(cx)._2) {
                val rgb = buf(off + x)
                // BT.601 luma ×1000 — integer, engine-identical
                s0 += 299L * ((rgb >> 16) & 0xFF) +
                  587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
                n0 += 1
                x += 1
              }
              sums(cy)(cx) += s0; cnts(cy)(cx) += n0
              cx += 1
            }
          }
          cy += 1
        }
      }
      var hash = 0L; var bit = 0
      var cy = 0
      while (cy < gh) {
        var cx = 0
        while (cx < gw - 1) {
          // mean(cx) > mean(cx+1) without division: cross-multiply
          if (sums(cy)(cx) * cnts(cy)(cx + 1) >
              sums(cy)(cx + 1) * cnts(cy)(cx)) hash |= 1L << bit
          bit += 1
          cx += 1
        }
        cy += 1
      }
      Iterator.single(Row(id, hash))
    }

  /** The (doc_id, dhash) schema of [[imageDHash]] and of the index
    * [[buildImageHashIndex]] writes — passed to the index read so the
    * probe runs no schema-inference job. */
  private val DHashSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dhash", LongType)))

  /** Image near-duplicate pairs by dHash hamming distance — the visual
    * twin of the SimHash text path and the image-dedup stage of a
    * training-data pipeline, through the same lossless band join
    * ([[graft.similarity.HammingBand]], `maxHamming` ≤ 3): candidates
    * come from chunk-keyed equi-joins (one shuffle on small integer keys
    * — never an all-pairs compare) and the exact `bit_count(xor)` confirm
    * runs on candidates only. The hash frame is persisted: both sides of the
    * self-join read it, and exchange reuse shares only the payload scan
    * below the decode, so a lazy plan would decode every image twice.
    * That persist makes the call eager: the pairs are materialized and
    * the persist released before returning
    * ([[graft.ops.Par.materializeThenRelease]]). Output:
    * (id_a, id_b, hamming), id_a < id_b. */
  def imageNearDupDHash(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame =
    imageNearDupDHash(df, idCol, payloadCol, maxHamming, checkpoint = true)

  /** `checkpoint = false` keeps the logical pipeline inspectable (plan
    * tests); production callers use the checkpointing overload so the
    * hash cache releases eagerly. */
  private[graft] def imageNearDupDHash(df: DataFrame, idCol: String,
      payloadCol: String, maxHamming: Int, checkpoint: Boolean): DataFrame = {
    val fp = imageDHash(df, idCol, payloadCol)
    // built before the persist, so a rejected bound leaves nothing cached
    val pairs = graft.similarity.HammingBand.pairs(fp, fp, maxHamming, selfJoin = true)
    if (!checkpoint) return pairs
    fp.persist()
    graft.ops.Par.materializeThenRelease(pairs, fp) // bounds fp's persist to this call
  }

  /** Persist the corpus image-hash layer at `path`: DECODE + dHash paid
    * exactly once — the expensive step for an image corpus is pixel
    * decode, and the index stores only (doc_id, dhash) 8-byte rows, so
    * every later probe is hash-sized I/O with zero corpus re-decodes
    * (the image twin of the LSH/winnowing/grid index family). */
  def buildImageHashIndex(df: DataFrame, idCol: String, payloadCol: String,
      path: String): Unit =
    imageDHash(df, idCol, payloadCol).write.mode("overwrite").parquet(path)

  /** Probe a delta batch of images against a persisted hash index:
    * decodes ONLY the delta and runs the lossless 4×16-bit band join
    * ([[graft.similarity.HammingBand]]) against the index. Output:
    * (probe_id, corpus_id, hamming) with hamming ≤ maxHamming — sides
    * are the caller's delta/corpus split, so no ordering filter. The
    * result is a lazy plan: the delta's hashes have one consumer, and
    * the index is read with its known schema, so the call runs no job. */
  def imageNearDupProbeIndexed(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3): DataFrame =
    graft.similarity.HammingBand.pairs(imageDHash(delta, idCol, payloadCol),
        spark.read.schema(DHashSchema).parquet(path), maxHamming, selfJoin = false)
      .toDF("probe_id", "corpus_id", "hamming")
}
