package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TrainPrepOps

/** Property checks for the training-prep tranche against brute-force
  * in-memory references, independent of the DuckDB oracle: preference
  * pairs, group advantages, and loss-mask spans are each recomputed
  * naively on the driver and compared row-for-row. */
class TrainPrepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val dir = "/root/testdata/sf0.001"

  private def byName(n: String) = TrainPrepOps.all.find(_.name == n).get.fn

  private case class Ev(user: Long, id: Long, v: Long)

  private def evs(): Seq[Ev] = {
    import spark.implicits._
    graft.ops.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .as[(Long, Long, Long)].collect().toSeq.map((Ev.apply _).tupled)
  }

  test("q_dpo_pairs equals brute-force argmax/argmin with tie-breaks") {
    val got = byName("q_dpo_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = evs().groupBy(_.user).flatMap { case (u, es) =>
      if (es.size < 2) None
      else {
        val chosen = es.minBy(e => (-e.v, e.id))
        val rejected = es.minBy(e => (e.v, e.id))
        if (chosen.v > rejected.v)
          Some((u, chosen.id, rejected.id, chosen.v - rejected.v))
        else None
      }
    }.toSet
    assert(got == want)
  }

  test("q_grpo_advantage: advantages sum to zero per group, ranks are a permutation") {
    val rows = byName("q_grpo_advantage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byGroup = rows.groupBy(_._1)
    val ref = evs().groupBy(_.user)
    assert(byGroup.keySet == ref.keySet)
    byGroup.foreach { case (u, rs) =>
      val es = ref(u)
      assert(rs.forall(_._3 == es.size))           // group_n
      assert(rs.map(_._4).sum == 0L)               // Σ(n·v − Σv) = 0
      assert(rs.map(_._5).sorted.toSeq == (1L to es.size).toSeq) // ranks
      // spot-check one advantage value exactly
      val sv = es.map(_.v).sum
      val byId = es.map(e => e.id -> e.v).toMap
      rs.foreach { case (_, id, n, adv, _) =>
        assert(adv == n * byId(id) - sv)
      }
    }
  }

  test("q_sft_mask spans tile the packed transcript exactly") {
    import spark.implicits._
    val rows = byName("q_sft_mask")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
    val turns = graft.ops.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        concat(col("event_type"), lit(" "), col("props")).as("txt"),
        col("event_type").isin("purchase", "error").as("tgt"))
      .as[(Long, Long, java.sql.Timestamp, String, Boolean)].collect()
    val byConv = turns.groupBy(_._1)
    val gotByConv = rows.groupBy(_._1)
    assert(byConv.keySet == gotByConv.keySet)
    byConv.foreach { case (u, ts) =>
      val ordered = ts.sortBy(t => (t._3.getTime, t._2))
      val transcript = ordered.map(_._4).mkString("\n")
      val got = gotByConv(u).sortBy(_._3)
      assert(got.length == ordered.length)
      got.zip(ordered).zipWithIndex.foreach { case (((_, eid, idx, s0, e0, tgt), t), i) =>
        assert(eid == t._2 && idx == i + 1 && tgt == t._5)
        // the span slices exactly this turn's text out of the transcript
        assert(transcript.substring(s0.toInt, e0.toInt) == t._4)
      }
      // spans + separators tile the transcript with no gaps or overlaps
      assert(got.last._5 == transcript.length)
    }
  }

  test("q_reward_to_go equals brute-force suffix sums") {
    import spark.implicits._
    val got = byName("q_reward_to_go")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    val turns = graft.ops.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .as[(Long, Long, java.sql.Timestamp, Long)].collect()
    val want = turns.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._3.getTime, e._2))
      val suffix = ordered.scanRight(0L)(_._4 + _).init
      ordered.zipWithIndex.map { case (e, i) => (u, e._2, i + 1L, suffix(i)) }
    }.toSet
    assert(got.toSet == want)
  }

  test("q_span_corruption spans are exactly the maximal masked runs") {
    import spark.implicits._
    val got = byName("q_span_corruption")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    val docs = graft.ops.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def uniform(docId: Long, i: Int): Int = {
      val h = md.digest(s"$docId:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      h.take(6).foldLeft(0L)((a, c) =>
        a * 16 + "0123456789abcdef".indexOf(c)).toInt % 100
    }
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val masked = toks.indices
        .filter(j => toks(j).nonEmpty && uniform(id, j + 1) < 15)
        .map(_ + 1)
      // maximal runs of consecutive indices
      val runs = masked.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, i) if i == e0 + 1 => (s0, i) :: rest
        case (acc, i) => (i, i) :: acc
      }.reverse
      runs.zipWithIndex.map { case ((s0, e0), k) =>
        (id, k + 1L, s0.toLong, e0.toLong, (e0 - s0 + 1).toLong)
      }
    }.toSet
    assert(got.toSet == want)
  }

  test("q_epoch_shuffle is a per-epoch bijection and epochs decorrelate") {
    import spark.implicits._
    val rows = byName("q_epoch_shuffle")(spark, dir)
      .as[(Long, Long, Long)].collect()
    val ids = graft.ops.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long].collect().toSet
    val h = { // the same half-width rule the query uses
      val n = ids.max + 1
      Seq(4L -> 2L, 16L -> 4L, 64L -> 8L, 256L -> 16L, 1024L -> 32L,
        4096L -> 64L).collectFirst { case (lim, hw) if n <= lim => hw }
        .getOrElse(1024L)
    }
    val byEpoch = rows.groupBy(_._2)
    assert(byEpoch.keySet == Set(0L, 1L, 2L))
    byEpoch.foreach { case (_, rs) =>
      assert(rs.map(_._1).toSet == ids)             // every doc placed
      assert(rs.map(_._3).distinct.length == rs.length) // injective
      assert(rs.forall(r => r._3 >= 0 && r._3 < h * h)) // into the domain
    }
    // different epochs actually permute differently (≥90% of docs move)
    val e0 = byEpoch(0L).map(r => r._1 -> r._3).toMap
    val e1 = byEpoch(1L).map(r => r._1 -> r._3).toMap
    val moved = ids.count(id => e0(id) != e1(id))
    assert(moved > ids.size * 9 / 10, s"only $moved of ${ids.size} moved")
  }

  test("q_epoch_shuffle plans one md5 per Feistel round") {
    val plan = byName("q_epoch_shuffle")(spark, dir).queryExecution.optimizedPlan
    val md5s = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case m: org.apache.spark.sql.catalyst.expressions.Md5 => m })
    val n = md5s.size
    assert(n == 3, s"$n Md5 expressions in the optimized plan")
  }

  test("q_decontaminate_embed equals brute-force eval-set max-cosine flagging") {
    import spark.implicits._
    val got = byName("q_decontaminate_embed")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val vecs = graft.ops.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      // mirror CosineSim: float inputs, double accumulation in index order
      val af = a.map(_.toFloat.toDouble); val bf = b.map(_.toFloat.toDouble)
      val dot = af.zip(bf).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(af.map(x => x * x).sum) * math.sqrt(bf.map(x => x * x).sum))
    }
    val eval = vecs.filter(_._1 % 10 == 0)
    val want = vecs.filter(_._1 % 10 != 0).flatMap { case (id, v) =>
      val hits = eval.count { case (_, q) => cos(v, q) >= 0.4 }
      if (hits > 0) Some(id -> hits.toLong) else None
    }.toMap
    assert(got == want)
  }
  test("q_seq_packing conserves tokens, tiles chunks contiguously, flags splits") {
    val rows = byName("q_seq_packing")(spark, dir).collect()
    val nTokens = graft.ops.Tables(spark, dir, "documents")
      .select(graft.text.TextFunctions.tokenCount(col("text")).as("n"))
      .agg(sum(when(col("n") > 0, col("n")).otherwise(0L))).collect()(0).getLong(0)
    val L = 256L
    // conservation: per-chunk token counts sum to the corpus total
    assert(rows.map(_.getAs[Long]("n_in_chunk")).sum === nTokens)
    // every chunk except the last is exactly full and gap-free
    val byChunk = rows.groupBy(_.getAs[Long]("chunk_id"))
    val lastChunk = byChunk.keys.max
    byChunk.foreach { case (cid, rs) =>
      val total = rs.map(_.getAs[Long]("n_in_chunk")).sum
      if (cid != lastChunk) assert(total === L, s"chunk $cid not full: $total")
      // offsets tile [0, total) without gaps or overlaps
      val spans = rs.map(r => (r.getAs[Long]("chunk_offset"),
        r.getAs[Long]("chunk_offset") + r.getAs[Long]("n_in_chunk"))).sortBy(_._1)
      assert(spans.head._1 === 0L)
      spans.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(e1 === s2, s"gap in chunk $cid")
        case _ =>
      }
    }
    // per doc: split flags mark exactly the continuation/truncation pieces
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (did, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("chunk_id"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Boolean]("split_head") === (i > 0),
          s"doc $did piece $i head flag")
        assert(r.getAs[Boolean]("split_tail") === (i < sorted.length - 1),
          s"doc $did piece $i tail flag")
      }
    }
  }

  test("q_bpe_packing: every gate true, n_words exact, row per non-empty doc") {
    val rows = byName("q_bpe_packing")(spark, dir).collect()
    assert(rows.nonEmpty)
    // pack_ok is the composed contract (BPE round-trip + bounds + chunk
    // tiling + conservation + span agreement) — any false means the
    // tokenizer's output schema did NOT feed the layout ops cleanly
    rows.foreach(r => assert(r.getAs[Boolean]("pack_ok"),
      s"doc ${r.getAs[Long]("doc_id")} failed the pack contract"))
    // n_words matches the independent whitespace count per doc
    val want = graft.ops.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length === want.count(_._2 > 0))
    rows.foreach(r => assert(
      r.getAs[Long]("n_words") === want(r.getAs[Long]("doc_id"))))
  }

  test("q_fim_transform regions partition the doc and never overlap in layout") {
    val rows = byName("q_fim_transform")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n3, p, m, sfx) = (r.getAs[Long]("layout_len"), r.getAs[Long]("p_len"),
        r.getAs[Long]("m_len"), r.getAs[Long]("s_len"))
      assert(p + m + sfx + 3 === n3, "regions + 3 sentinels must equal layout_len")
      // layout occupancy: sentinel slots at fixed relative positions, the
      // three regions plus sentinels tile [0, layout_len)
      val mode = r.getAs[String]("mode")
      val (pa, sa, ma) = (r.getAs[Long]("prefix_at"), r.getAs[Long]("suffix_at"),
        r.getAs[Long]("middle_at"))
      val occupied = Seq((pa, pa + p), (sa, sa + sfx), (ma, ma + m))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      occupied.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 <= s2, s"overlap in $mode layout")
        case _ =>
      }
      assert(ma + m === n3, "middle region must end the layout")
      if (mode == "psm") assert(pa === 1L) else assert(sa === 1L)
    }
  }

}
