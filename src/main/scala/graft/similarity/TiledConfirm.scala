package graft.similarity

import java.io._

/** Tiled group-local confirm kernels (VERDICT r13 #2): both embedding
  * confirms previously buffered ONE WHOLE GROUP per task (`it.toArray`)
  * before O(m²) scoring, so a mega duplicate cluster — the common shape
  * of a boilerplate-heavy real corpus — held m·dim·(4|8) B in a single
  * task's heap. These drivers stream an id-sorted group through
  * byte-budgeted tiles instead: heap = one tile + one streamed vector;
  * members of earlier tiles re-stream from a task-local spill file.
  * Answers are pair-for-pair identical — every ordered pair (i, j) with
  * id_i < id_j is still visited exactly once (earlier-tile members never
  * have higher ids than the current tile's by the sorted-input contract),
  * and the semDedup drop rule's early exit only skips js that are
  * already dropped, which cannot change any decision. Pair identity is
  * by ID, never by position: members sharing an id (duplicate ids in
  * the input, possibly straddling a tile boundary) are never compared
  * with each other, so no (id, id) self-pair or self-drop can arise.
  * Cost model: the group's vectors are written to disk once and re-read
  * once per later tile — O(m²/tile) sequential bytes — so the untiled
  * path's OOM risk becomes bounded-heap compute + streaming I/O, the
  * operator's published O(m²) complexity unchanged. */
private[graft] object TiledConfirm {

  /** Per-task tile budget. 32 MB keeps 32 concurrent tasks' tiles ~1 GB
    * total on the bench heap while a dim-64 float corpus still fits ~120k
    * members per tile (groups below that never touch the spill file at
    * all — the normal, unskewed case costs exactly what an untiled pass
    * would). The kernels' `tileBytes` argument overrides it in tests. */
  val DefaultTileBytes: Long = 32L << 20

  trait VecIO[V] extends Serializable {
    def write(o: DataOutputStream, v: V): Unit
    def read(i: DataInputStream): V
    def bytes(v: V): Long
  }
  // Bulk (ByteBuffer) transfers, not per-element readFloat/writeFloat:
  // the re-stream pass is deserialization-bound (measured on the 900k
  // mega-cluster A/B — element-at-a-time streams cost ~3.5× the whole
  // confirm), and a single readFully + asFloatBuffer().get is the cheap
  // fix. The spill format is task-private and ephemeral.
  object FloatIO extends VecIO[Array[Float]] {
    def write(o: DataOutputStream, v: Array[Float]): Unit = {
      o.writeInt(v.length)
      val bb = java.nio.ByteBuffer.allocate(4 * v.length)
      bb.asFloatBuffer().put(v)
      o.write(bb.array())
    }
    def read(in: DataInputStream): Array[Float] = {
      val n = in.readInt()
      val buf = new Array[Byte](4 * n)
      in.readFully(buf)
      val a = new Array[Float](n)
      java.nio.ByteBuffer.wrap(buf).asFloatBuffer().get(a)
      a
    }
    def bytes(v: Array[Float]): Long = 4L * v.length + 16
  }
  object LongIO extends VecIO[Array[Long]] {
    def write(o: DataOutputStream, v: Array[Long]): Unit = {
      o.writeInt(v.length)
      val bb = java.nio.ByteBuffer.allocate(8 * v.length)
      bb.asLongBuffer().put(v)
      o.write(bb.array())
    }
    def read(in: DataInputStream): Array[Long] = {
      val n = in.readInt()
      val buf = new Array[Byte](8 * n)
      in.readFully(buf)
      val a = new Array[Long](n)
      java.nio.ByteBuffer.wrap(buf).asLongBuffer().get(a)
      a
    }
    def bytes(v: Array[Long]): Long = 8L * v.length + 16
  }
  object DoubleIO extends VecIO[Array[Double]] {
    def write(o: DataOutputStream, v: Array[Double]): Unit = {
      o.writeInt(v.length)
      val bb = java.nio.ByteBuffer.allocate(8 * v.length)
      bb.asDoubleBuffer().put(v)
      o.write(bb.array())
    }
    def read(in: DataInputStream): Array[Double] = {
      val n = in.readInt()
      val buf = new Array[Byte](8 * n)
      in.readFully(buf)
      val a = new Array[Double](n)
      java.nio.ByteBuffer.wrap(buf).asDoubleBuffer().get(a)
      a
    }
    def bytes(v: Array[Double]): Long = 8L * v.length + 16
  }

  /** Task-local spill of (id, vector) records; append-only writer kept
    * open across tiles, each re-read flushes then streams the records
    * written so far. Deleted on close (and on JVM exit as a backstop for
    * partially-drained iterators). */
  private final class SpillFile[V](io: VecIO[V]) {
    private val file = File.createTempFile("graft_confirm_", ".bin")
    file.deleteOnExit()
    // A task that stops early (downstream limit, kill, exception mid-group)
    // never drains the output iterator, so close() is never reached and the
    // spill would otherwise live until JVM exit — and deleteOnExit entries
    // accumulate unboundedly in a long-running executor (ADVICE r14). The
    // task-completion listener cleans up on ANY task end; outside a task
    // (unit tests drive the kernels directly) TaskContext.get() is null and
    // close()/deleteOnExit stay the only owners.
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => close()))
    private val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    private var count = 0L
    def append(id: Long, v: V): Unit = { out.writeLong(id); io.write(out, v); count += 1 }
    /** Stream records while `f` returns true — the semDedup file pass
      * stops as soon as every member of the current tile is dropped (in
      * a mega duplicate cluster that is after the FIRST record; without
      * the early stop each tile would no-op-scan the whole file). */
    def foreachWhile(f: (Long, V) => Boolean): Unit = {
      val (in, n) = openRead()
      try {
        var i = 0L
        var go = true
        while (go && i < n) { go = f(in.readLong(), io.read(in)); i += 1 }
      } finally in.close()
    }
    /** Flush the writer and open a fresh sequential reader positioned at
      * record 0; returns (reader, record count at flush time). */
    def openRead(): (DataInputStream, Long) = {
      out.flush()
      (new DataInputStream(
        new BufferedInputStream(new FileInputStream(file), 1 << 20)), count)
    }
    def nonEmpty: Boolean = count > 0
    def close(): Unit = { out.close(); file.delete(): Unit }
  }

  /** One tile of members, loaded from the sorted stream until the byte
    * budget (but always at least one member). */
  private def loadTile[V](it: Iterator[(Long, V)], io: VecIO[V],
      tileBytes: Long, ids: scala.collection.mutable.ArrayBuffer[Long],
      vecs: scala.collection.mutable.ArrayBuffer[V]): Unit = {
    ids.clear(); vecs.clear()
    var b = 0L
    while (it.hasNext && (ids.isEmpty || b < tileBytes)) {
      val (id, v) = it.next()
      ids += id; vecs += v; b += io.bytes(v) + 8
    }
  }

  /** SemDeDup drop decision per member: j is dropped iff ANY member i
    * with a strictly lower id (kept or dropped itself) has
    * cos(i, j) >= threshold.
    * `it` MUST be id-sorted ascending. Returns (id, kept) in id order.
    * Result size is 16 B/member — eager per group is fine even for a
    * mega-cluster (300k members = ~5 MB). */
  def semDedup[V](it: Iterator[(Long, V)], cos: (V, V) => Double,
      threshold: Double, io: VecIO[V],
      tileBytes: Long = DefaultTileBytes): Iterator[(Long, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    val vecs = scala.collection.mutable.ArrayBuffer[V]()
    var spill: SpillFile[V] = null
    try {
      while (it.hasNext) {
        loadTile(it, io, tileBytes, ids, vecs)
        val n = ids.length
        val dropped = new Array[Boolean](n)
        // live-index compaction: the file pass visits only still-live
        // tile members (swap-remove on drop), so a mega cluster costs
        // ~one cosine per file record once the tile has collapsed,
        // instead of an O(tile) scan per record; the pass stops entirely
        // when nothing in the tile is live. Drop decisions are
        // order-independent (any hit drops), so the reordering is safe.
        val liveIdx = Array.tabulate(n)(identity)
        var liveN = n
        if (spill != null && spill.nonEmpty) spill.foreachWhile { (idI, vi) =>
          var p = 0
          while (p < liveN) {
            val j = liveIdx(p)
            if (idI < ids(j) && cos(vi, vecs(j)) >= threshold) {
              dropped(j) = true
              liveN -= 1
              liveIdx(p) = liveIdx(liveN)
            } else p += 1
          }
          liveN > 0
        }
        var j = 0
        while (j < n) {
          if (!dropped(j)) {
            // sorted input: the first i with ids(i) == ids(j) ends the
            // strictly-lower-id prefix
            var i = 0
            while (i < j && ids(i) < ids(j) && !dropped(j)) {
              if (cos(vecs(i), vecs(j)) >= threshold) dropped(j) = true
              i += 1
            }
          }
          out += ((ids(j), !dropped(j)))
          j += 1
        }
        if (it.hasNext) {
          if (spill == null) spill = new SpillFile[V](io)
          var k = 0
          while (k < n) { spill.append(ids(k), vecs(k)); k += 1 }
        }
      }
    } finally if (spill != null) spill.close()
    out.iterator
  }

  /** All pairs (id_i, id_j, cos) with a STRICT id_i < id_j and
    * cos >= threshold. LAZY output — a mega-group emits O(m²) matching
    * pairs and must stream them without buffering. `it` MUST be
    * id-sorted ascending. Pair order within the group is
    * implementation-defined (the caller closes with a distinct()). */
  def pairs[V](it: Iterator[(Long, V)], cos: (V, V) => Double,
      threshold: Double, io: VecIO[V],
      tileBytes: Long = DefaultTileBytes): Iterator[(Long, Long, Double)] =
    new Iterator[(Long, Long, Double)] {
      private val ids = scala.collection.mutable.ArrayBuffer[Long]()
      private val vecs = scala.collection.mutable.ArrayBuffer[V]()
      private var spill: SpillFile[V] = null
      private var cur: Iterator[(Long, Long, Double)] = Iterator.empty

      /** Matches of one earlier member vi against the whole current tile
        * — bounded by the tile row count, so buffering them is safe. */
      private def fileMemberMatches(idI: Long, vi: V): Iterator[(Long, Long, Double)] = {
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        var j = 0
        while (j < ids.length) {
          if (idI < ids(j)) {
            val c = cos(vi, vecs(j))
            if (c >= threshold) buf += ((idI, ids(j), c))
          }
          j += 1
        }
        buf.iterator
      }

      /** Spill records as a lazy single-pass iterator: one (id, vector)
        * record in heap at a time. */
      private def spillIter: Iterator[(Long, V)] =
        if (spill == null || !spill.nonEmpty) Iterator.empty
        else new Iterator[(Long, V)] {
          private var in: DataInputStream = null
          private var remaining = 0L
          private def ensureOpen(): Unit = if (in == null) {
            val (i, c) = spill.openRead()
            in = i; remaining = c
          }
          def hasNext: Boolean = {
            ensureOpen()
            if (remaining <= 0) { in.close(); false } else true
          }
          def next(): (Long, V) = {
            ensureOpen()
            remaining -= 1
            (in.readLong(), io.read(in))
          }
        }

      private def advance(): Unit = {
        while (!cur.hasNext && it.hasNext) {
          loadTile(it, io, tileBytes, ids, vecs)
          val filePass = spillIter.flatMap { case (idI, vi) => fileMemberMatches(idI, vi) }
          val n = ids.length
          val inTile = (1 until n).iterator.flatMap { j =>
            // sorted input: equal ids form the tail of the i range
            (0 until j).iterator.takeWhile(i => ids(i) < ids(j)).flatMap { i =>
              val c = cos(vecs(i), vecs(j))
              if (c >= threshold) Iterator.single((ids(i), ids(j), c)) else Iterator.empty
            }
          }
          // flush AFTER the file pass is fully consumed (lazy ++ tail):
          val flushTail = new Iterator[(Long, Long, Double)] {
            private var done = false
            def hasNext: Boolean = {
              if (!done) {
                done = true
                if (it.hasNext) { // another tile follows — spill this one
                  if (spill == null) spill = new SpillFile[V](io)
                  var k = 0
                  while (k < ids.length) { spill.append(ids(k), vecs(k)); k += 1 }
                }
              }
              false
            }
            def next(): (Long, Long, Double) = Iterator.empty.next()
          }
          cur = filePass ++ inTile ++ flushTail
        }
        if (!cur.hasNext && !it.hasNext && spill != null) { spill.close(); spill = null }
      }

      def hasNext: Boolean = { advance(); cur.hasNext }
      def next(): (Long, Long, Double) = { advance(); cur.next() }
    }
}
