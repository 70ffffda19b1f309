package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.similarity.Ann

/** Training-run data-preparation tranche: the operators that turn a raw
  * interaction/document corpus into RLHF / SFT training batches —
  * preference-pair construction (DPO), group-relative advantage
  * computation (GRPO/RLOO), loss-mask span layout for multi-turn SFT
  * transcripts, and semantic (embedding-level) decontamination of the
  * training split against a held-out eval set.
  *
  * Exactness: rewards are fixed-point-quantized (×100, floor+0.5) before
  * any comparison or arithmetic, so argmax/argmin/margins/advantages are
  * pure BIGINT and partial-aggregation order cannot perturb them; span
  * offsets are integer character arithmetic; the decontamination cosine
  * uses the one double-precision op shape both engines evaluate
  * bit-identically (the q_dedup_embed_groundtruth device) and outputs
  * ids + integer hit counts only.
  *
  * Scale shapes (100 TB): DPO/GRPO are one shuffle on the prompt key with
  * struct-max / unordered-frame window aggregation — no sorts beyond the
  * per-prompt window; SFT span layout is the per-conversation ordered
  * window every sessionization query already pays; decontamination
  * broadcasts the EVAL side (eval sets are thousands of vectors even when
  * the corpus is 100 TB) so the training corpus streams exactly once with
  * no shuffle at all.
  */
object TrainPrepOps {

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")

  /** Reward in exact ×100 fixed point (events.value has 2 decimals). */
  private def rfp(c: Column): Column =
    floor(c.cast("double") * 100d + lit(0.5d)).cast("long")

  /** One round of a three-round Feistel permutation slot over a 4^k
    * domain: the id is split into 2 half-width words on `h` (= 2^k, a
    * column), each round adds an md5-derived round key of the right half
    * mod h (modular-add Feistel — a bijection per round, engine-neutral
    * spelling, no XOR dialect drift) and swaps. Returns round `round`'s
    * md5 over the right half `r`, and the new right half over that md5
    * and the left half `l`. `engine` only switches the string-cast
    * keyword; every arithmetic op is otherwise the identical text both
    * engines evaluate bit-identically (the hexUniform device, applied to
    * a permutation). */
  private def feistelRound(engine: String, epoch: String, round: Int,
      l: String, r: String): (String, String => String) = {
    val vc = if (engine == "duck") "VARCHAR" else "STRING"
    val hh = s"md5('ep' || CAST($epoch AS $vc) || ':' || CAST($round AS $vc) || ':' || CAST($r AS $vc))"
    def f(h: String) = (1 to 6)
      .map(i => s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
      .mkString("((", " + ", ") % h)")
    (hh, h => s"((($l) + ${f(h)}) % h)")
  }

  /** The DuckDB oracle's slot: the three rounds nested into one string. */
  private def feistelSlotDuck(id: String, epoch: String): String = {
    var l = s"(($id) // (h))"
    var r = s"(($id) % h)"
    for (round <- 0 until 3) {
      val (hh, rightHalf) = feistelRound("duck", epoch, round, l, r)
      l = r
      r = rightHalf(hh)
    }
    s"(($l) * h + $r)"
  }

  /** The same slot on Spark as `slot`, one projection per round: the
    * round's md5 is a column of its own, so each round plans one md5 and
    * the expression grows linearly in rounds. Nested into one string,
    * each round repeats the previous rounds' text once per hex digit it
    * reads: a 50k-character expression with 306 md5 calls that the driver
    * parses, analyzes and optimizes on every call. `df` carries `h`. */
  private def feistelSlotSpark(df: DataFrame, id: String, epoch: String): DataFrame =
    (0 until 3).foldLeft(df.withColumns(Map(
        "_l" -> expr(s"(($id) div (h))"), "_r" -> expr(s"(($id) % h)")))) { (d, round) =>
      val (hh, rightHalf) = feistelRound("spark", epoch, round, "_l", "_r")
      d.withColumn("_h", expr(hh))
        .withColumns(Map("_l" -> col("_r"), "_r" -> expr(rightHalf("_h"))))
    }.withColumn("slot", expr("_l * h + _r")).drop("_l", "_r", "_h")

  /** Half-width 2^k such that ids < 4^k: the explicit comparison chain
    * both engines evaluate identically (no float log at the power
    * boundaries). Covers id domains to 4^10 ≈ 1M — the fixture range;
    * production extends the chain (or computes k driver-side) for
    * larger id spaces. */
  private def halfWidthCase(n: String): String =
    s"""CASE WHEN $n <= 4 THEN 2 WHEN $n <= 16 THEN 4 WHEN $n <= 64 THEN 8
       | WHEN $n <= 256 THEN 16 WHEN $n <= 1024 THEN 32 WHEN $n <= 4096 THEN 64
       | WHEN $n <= 16384 THEN 128 WHEN $n <= 65536 THEN 256
       | WHEN $n <= 262144 THEN 512 ELSE 1024 END""".stripMargin.replace("\n", "")

  val all: Seq[Q] = Seq(

    // ---- DPO preference-pair construction ---------------------------------
    // Each user_id is a prompt; its events are sampled completions with
    // reward = value. Build (chosen, rejected) = (argmax, argmin) reward
    // with deterministic tie-breaks (lowest event_id wins on equal
    // reward), keep only prompts with a STRICT preference (margin > 0 —
    // an all-tied group teaches nothing). Implementation is a single
    // groupBy with two struct-extremum aggregates — no window sort, no
    // self-join: one shuffle on the prompt key, then prompt-count-sized
    // output. The struct trick: max(struct(v, -event_id)) orders by
    // reward first and breaks ties toward the SMALLEST id (negated), and
    // min(struct(v, event_id)) does the mirror for rejected.
    Q("q_dpo_pairs",
      """WITH f AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT user_id, event_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY v DESC, event_id) AS rc,
        |    row_number() OVER (PARTITION BY user_id ORDER BY v ASC, event_id) AS rr
        |  FROM f)
        |SELECT user_id AS prompt_id,
        |  max(CASE WHEN rc = 1 THEN event_id END) AS chosen_event,
        |  max(CASE WHEN rr = 1 THEN event_id END) AS rejected_event,
        |  max(CASE WHEN rc = 1 THEN v END)
        |    - max(CASE WHEN rr = 1 THEN v END) AS margin_fp
        |FROM r GROUP BY user_id
        |HAVING count(*) >= 2
        |  AND max(CASE WHEN rc = 1 THEN v END)
        |    > max(CASE WHEN rr = 1 THEN v END)""".stripMargin) { (s, d) =>
      events(s, d)
        .select(col("user_id"), col("event_id"), rfp(col("value")).as("v"))
        .groupBy(col("user_id").as("prompt_id"))
        .agg(
          max(struct(col("v"), (-col("event_id")).as("nid"))).as("c"),
          min(struct(col("v"), col("event_id"))).as("j"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 2 && col("c.v") > col("j.v"))
        .select(col("prompt_id"),
          (-col("c.nid")).as("chosen_event"),
          col("j.event_id").as("rejected_event"),
          (col("c.v") - col("j.v")).as("margin_fp"))
    },

    // ---- GRPO group-relative advantage ------------------------------------
    // Per prompt group (user_id), each completion's advantage relative to
    // the group mean — kept exact by scaling by the group size:
    // adv_scaled = n·v − Σv (BIGINT), i.e. n × (v − mean). Also the
    // group-relative rank (RLOO-style best-of-n analysis). One shuffle on
    // the prompt key; the mean terms come from an UNORDERED window frame
    // (no sort), the rank from the per-prompt ordered frame.
    Q("q_grpo_advantage",
      """WITH f AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events)
        |SELECT user_id AS prompt_id, event_id,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS group_n,
        |  CAST(count(*) OVER (PARTITION BY user_id) * v
        |    - sum(v) OVER (PARTITION BY user_id) AS BIGINT) AS adv_scaled,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY v DESC, event_id) AS BIGINT) AS group_rank
        |FROM f""".stripMargin) { (s, d) =>
      val g = Window.partitionBy("user_id")
      val o = Window.partitionBy("user_id").orderBy(col("v").desc, col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), rfp(col("value")).as("v"))
        .select(col("user_id").as("prompt_id"), col("event_id"),
          count(lit(1)).over(g).as("group_n"),
          (count(lit(1)).over(g) * col("v") - sum(col("v")).over(g))
            .cast("long").as("adv_scaled"),
          row_number().over(o).cast("long").as("group_rank"))
    },

    // ---- SFT transcript loss-mask layout ----------------------------------
    // Each user_id is a multi-turn conversation, events ordered by
    // (ts, event_id) are its turns, and a turn's rendered text is
    // "<event_type> <props>" joined by single "\n" separators. Emit the
    // character span [start_char, end_char) of every turn in the packed
    // transcript plus is_target — the loss mask trains only on
    // "assistant" turns (purchase/error here; the role map is the
    // caller's). All integer arithmetic: cumulative turn lengths via the
    // same per-conversation ordered window SFT packing already pays; at
    // 100 TB this is one shuffle on the conversation key.
    Q("q_sft_mask",
      """WITH t AS (SELECT user_id, event_id, ts,
        |    CAST(length(event_type) + 1 + length(props) AS BIGINT) AS tlen,
        |    event_type IN ('purchase', 'error') AS is_target
        |  FROM events),
        |w AS (SELECT user_id, event_id, tlen, is_target,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS turn_idx,
        |    CAST(coalesce(sum(tlen) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS prev_len
        |  FROM t)
        |SELECT user_id AS conv_id, event_id, turn_idx,
        |  prev_len + (turn_idx - 1) AS start_char,
        |  prev_len + (turn_idx - 1) + tlen AS end_char,
        |  is_target
        |FROM w""".stripMargin) { (s, d) =>
      val o = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val prev = o.rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          (length(col("event_type")) + 1 + length(col("props")))
            .cast("long").as("tlen"),
          col("event_type").isin("purchase", "error").as("is_target"))
        .select(col("user_id").as("conv_id"), col("event_id"),
          row_number().over(o).cast("long").as("turn_idx"),
          coalesce(sum(col("tlen")).over(prev), lit(0L)).as("prev_len"),
          col("tlen"), col("is_target"))
        .select(col("conv_id"), col("event_id"), col("turn_idx"),
          (col("prev_len") + col("turn_idx") - 1).as("start_char"),
          (col("prev_len") + col("turn_idx") - 1 + col("tlen")).as("end_char"),
          col("is_target"))
    },

    // ---- RL reward-to-go (undiscounted returns per trajectory) ------------
    // Each user_id is a trajectory, events ordered by (ts, event_id) its
    // steps, value the per-step reward. The return G_t = Σ_{t'≥t} r_t'
    // is the suffix sum every policy-gradient / decision-transformer
    // data pipeline attaches to each step — one per-trajectory ordered
    // window (ROWS CURRENT→UNBOUNDED FOLLOWING), exact in fixed point.
    // One shuffle on the trajectory key at any scale.
    Q("q_reward_to_go",
      """WITH f AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events)
        |SELECT user_id AS traj_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS step_idx,
        |  CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |    AS rtg_fp
        |FROM f""".stripMargin) { (s, d) =>
      val o = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val suffix = o.rowsBetween(0, Window.unboundedFollowing)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          rfp(col("value")).as("v"))
        .select(col("user_id").as("traj_id"), col("event_id"),
          row_number().over(o).cast("long").as("step_idx"),
          sum(col("v")).over(suffix).cast("long").as("rtg_fp"))
    },

    // ---- T5-style span-corruption layout ----------------------------------
    // Denoising-objective prep: each document's tokens draw a
    // deterministic 15% corruption mask from the md5-ppm device (so the
    // "randomness" is replayable on any engine and any partitioning),
    // and runs of consecutive masked tokens merge into sentinel spans
    // via gaps-and-islands (island = tok_idx − row_number over masked
    // tokens). Output one row per span: (doc_id, span_id, start_tok,
    // end_tok, n_tok) — what the batch builder turns into
    // <extra_id_k> sentinels. Per-document windows only: one shuffle on
    // doc_id no matter the corpus size.
    Q("q_span_corruption", {
      val h = "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))"
      val u = Tables.hexUniform(h, 100)
      s"""WITH t AS (SELECT doc_id, i
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |    unnest(generate_series(1, len(toks))) AS g(i)
         |  WHERE toks[i] <> ''),
         |m AS (SELECT doc_id, i FROM t WHERE $u < 15),
         |isl AS (SELECT doc_id, i,
         |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM m)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min(i))
         |    AS BIGINT) AS span_id,
         |  CAST(min(i) AS BIGINT) AS start_tok,
         |  CAST(max(i) AS BIGINT) AS end_tok,
         |  CAST(count(*) AS BIGINT) AS n_tok
         |FROM isl GROUP BY doc_id, grp""".stripMargin
    }) { (s, d) =>
      val h = "md5(CAST(doc_id AS STRING) || ':' || CAST(i AS STRING))"
      val u = expr(Tables.hexUniform(h, 100))
      // the per-token md5 mask draw is the wall (r15 profile: one 1.45 s
      // single-task stage over the one-row-group fixture) — fan the scan
      // out to the cores before the explode+hash kernel (guide §2.5;
      // identity at real scale). Unlike q_dsir_select's rejected fan-out
      // this subtree is evaluated ONCE, so no twin legs fight for the heap.
      val toks = Scale.fanOutScan(
          Tables(s, d, "documents").select("doc_id", "text"))
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .filter(col("col") =!= "")
        .select(col("doc_id"), (col("pos") + 1).as("i"))
      val masked = toks.filter(u < 15)
      val byDoc = Window.partitionBy("doc_id").orderBy("i")
      val spans = masked
        .withColumn("grp", col("i") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("i")).cast("long").as("start_tok"),
          max(col("i")).cast("long").as("end_tok"),
          count(lit(1)).as("n_tok"))
      spans
        .withColumn("span_id", row_number().over(
          Window.partitionBy("doc_id").orderBy("start_tok")).cast("long"))
        .select(col("doc_id"), col("span_id"), col("start_tok"),
          col("end_tok"), col("n_tok"))
    },

    // ---- multi-epoch deterministic shuffle (Feistel permutation) ----------
    // Epoch shuffling WITHOUT a shuffle: slot = Feistelₑ(doc_id) is a
    // bijection of the 4^k id domain computed row-locally — no sort, no
    // exchange, no materialized order anywhere, and every epoch is a
    // fresh permutation (the epoch is a tweak in the round keys). A
    // reader streams slots in order and skips the ≤4× empty slots — the
    // price of permuting 100 TB with zero data movement (q_shard_shuffle
    // is the sort-based alternative when slot compaction matters). The
    // permutation is replayable on any engine: modular-add Feistel
    // rounds keyed by the md5-ppm device. TrainPrepSpec proves
    // bijectivity (n distinct slots per epoch, all < h²).
    Q("q_epoch_shuffle", {
      val slot = feistelSlotDuck("doc_id", "epoch")
      s"""WITH nn AS (SELECT ${halfWidthCase("max(doc_id) + 1")} AS h
         |  FROM documents),
         |de AS (SELECT doc_id, epoch, h
         |  FROM documents CROSS JOIN (VALUES (0), (1), (2)) t(epoch)
         |  CROSS JOIN nn)
         |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
         |  CAST($slot AS BIGINT) AS slot
         |FROM de""".stripMargin
    }) { (s, d) =>
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      val hRow = broadcast(
        docs.agg(expr(halfWidthCase("max(doc_id) + 1")).as("h")))
      feistelSlotSpark(docs.crossJoin(hRow)
          .withColumn("epoch", explode(array(lit(0), lit(1), lit(2)))), "doc_id", "epoch")
        .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
          col("slot").cast("long").as("slot"))
    },

    // ---- semantic decontamination vs a held-out eval set ------------------
    // n-gram decontamination (q_decontaminate) misses paraphrases; the
    // embedding pass flags every TRAINING vector whose cosine to ANY eval
    // vector clears the threshold. The eval split (vec_id ≡ 0 mod 10
    // here) is broadcast — eval sets stay small no matter how big the
    // corpus is, so the training side streams once with ZERO shuffle and
    // the per-row work is |eval| codegen'd dot products. Output is ids +
    // an integer hit count (float-robust); the cosine is the same
    // double-precision op shape both engines run bit-identically.
    Q("q_decontaminate_embed",
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT t.vec_id AS train_id, CAST(count(*) AS BIGINT) AS n_eval_hits
        |FROM e t, e q
        |WHERE t.vec_id % 10 <> 0 AND q.vec_id % 10 = 0
        |  AND list_sum(list_transform(generate_series(1, len(t.v)), i -> t.v[i]*q.v[i]))
        |    / (sqrt(list_sum(list_transform(generate_series(1, len(t.v)), i -> t.v[i]*t.v[i])))
        |     * sqrt(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i]*q.v[i]))))
        |    >= 0.4
        |GROUP BY t.vec_id""".stripMargin) { (s, d) =>
      val e = Tables(s, d, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val eval = broadcast(
        e.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("eval_id"), col("embedding").as("q_vec")))
      e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("train_id"), col("embedding").as("t_vec"))
        .crossJoin(eval)
        .filter(Ann.cosine(col("t_vec"), col("q_vec")) >= 0.4)
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_eval_hits"))
    },

    // ---- GPT-style sequence packing (concat-and-chunk) ---------------------
    // The layout step every pretraining run pays: documents concatenate
    // in a deterministic order (doc_id) into fixed-length contexts of
    // L = 256 tokens, docs SPLIT at chunk boundaries (the standard
    // concat-and-chunk scheme; greedy no-split bin packing is a
    // sequential recursion that does not parallelize and wastes pad
    // tokens — splitting is what production pipelines do). Output: one
    // row per (doc, chunk) overlap with the doc's offset and length
    // inside that chunk, plus head/tail split flags — exactly what an
    // attention-mask builder consumes. All integer arithmetic.
    // (Complements q_seq_pack in PipelineOps, which emits only the
    // coarse per-doc first/last sequence ids at L=2048; this query is
    // the fine-grained per-(doc, chunk) layout at L=256.)
    //
    // Scale: the only global dependency is the exclusive prefix sum of
    // token counts in doc order — computed by [[Scale.prefixSum]]'s
    // two-pass per-partition-offset device (one range shuffle, a
    // partition-count-sized driver array, NO single-partition window).
    // The oracle spells the identical layout with a window cumsum, which
    // is fine at oracle scale.
    Q("q_seq_packing",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start
        |  FROM t WHERE n_tokens > 0),
        |x AS (SELECT doc_id, n_tokens, start, start + n_tokens AS fin,
        |    unnest(generate_series(CAST(start // 256 AS BIGINT),
        |      CAST((start + n_tokens - 1) // 256 AS BIGINT))) AS chunk_id
        |  FROM p)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(greatest(start, chunk_id * 256) - chunk_id * 256 AS BIGINT)
        |    AS chunk_offset,
        |  CAST(least(fin, (chunk_id + 1) * 256)
        |    - greatest(start, chunk_id * 256) AS BIGINT) AS n_in_chunk,
        |  start < chunk_id * 256 AS split_head,
        |  fin > (chunk_id + 1) * 256 AS split_tail
        |FROM x""".stripMargin) { (s, d) =>
      val L = 256L
      val t = Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val p = Scale.prefixSum(t, "doc_id", "n_tokens", "start")
      p.withColumn("fin", col("start") + col("n_tokens"))
        .withColumn("chunk_id",
          explode(sequence(expr(s"start div $L"), expr(s"(fin - 1) div $L"))))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          (greatest(col("start"), col("chunk_id") * L) - col("chunk_id") * L)
            .as("chunk_offset"),
          (least(col("fin"), (col("chunk_id") + 1) * L)
            - greatest(col("start"), col("chunk_id") * L)).as("n_in_chunk"),
          (col("start") < col("chunk_id") * L).as("split_head"),
          (col("fin") > (col("chunk_id") + 1) * L).as("split_tail"))
    },

    // ---- fill-in-the-middle (FIM) layout ------------------------------------
    // The code-model training transform (Bavarian et al. 2022): each doc
    // splits into prefix/middle/suffix thirds by token count and re-lays
    // out as PSM ([PRE] prefix [SUF] suffix [MID] middle) or SPM, chosen
    // deterministically by doc_id parity (production uses a rate knob;
    // parity keeps the oracle exact). Output: token OFFSETS of each
    // region in the transformed layout, with 3 sentinel tokens counted —
    // the layout a tokenizer-side assembler consumes, engine-exact
    // integer arithmetic only. Per-row map, zero shuffle at any scale.
    Q("q_fim_transform",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |f AS (SELECT doc_id, n, n // 3 AS p_len, (2 * n) // 3 - n // 3 AS m_len,
        |    n - (2 * n) // 3 AS s_len,
        |    CASE WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
        |  FROM t WHERE n >= 3)
        |SELECT doc_id, mode, CAST(n + 3 AS BIGINT) AS layout_len,
        |  CAST(CASE WHEN mode = 'psm' THEN 1 ELSE 2 + s_len END AS BIGINT)
        |    AS prefix_at,
        |  CAST(CASE WHEN mode = 'psm' THEN 2 + p_len ELSE 1 END AS BIGINT)
        |    AS suffix_at,
        |  CAST(n - m_len + 3 AS BIGINT) AS middle_at,
        |  CAST(p_len AS BIGINT) AS p_len, CAST(m_len AS BIGINT) AS m_len,
        |  CAST(s_len AS BIGINT) AS s_len
        |FROM f""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
        .filter(col("n") >= 3)
      t.select(col("doc_id"), col("n"),
          expr("n div 3").as("p_len"),
          expr("(n * 2) div 3 - n div 3").as("m_len"),
          expr("n - (n * 2) div 3").as("s_len"),
          when(col("doc_id") % 2 === 0, lit("psm")).otherwise(lit("spm"))
            .as("mode"))
        .select(col("doc_id"), col("mode"),
          (col("n") + 3).as("layout_len"),
          when(col("mode") === "psm", lit(1L))
            .otherwise(col("s_len") + 2).as("prefix_at"),
          when(col("mode") === "psm", col("p_len") + 2)
            .otherwise(lit(1L)).as("suffix_at"),
          (col("n") - col("m_len") + 3).as("middle_at"),
          col("p_len"), col("m_len"), col("s_len"))
    },

    // ---- context-length tuning: packing-efficiency curve -------------------
    // The L-sweep a pretraining run does before fixing its context
    // length: for L in {256, 512, 1024, 2048}, how many chunks does
    // concat-and-chunk produce, how many documents get SPLIT across a
    // boundary, and what fraction of the final chunk is real tokens.
    // Everything derives from the same exclusive prefix sum q_seq_packing
    // pays once (one range shuffle), then a 4-row broadcast of candidate
    // Ls — per-(doc, L) arithmetic, no second shuffle. All integers
    // except the ppm ratios, which are exact integer floor-divisions.
    Q("q_pack_curve",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start
        |  FROM t WHERE n_tokens > 0),
        |ls AS (SELECT CAST(unnest([256, 512, 1024, 2048]) AS BIGINT) AS l),
        |x AS (SELECT l, doc_id, start, start + n_tokens AS fin FROM p CROSS JOIN ls)
        |SELECT l AS context_len,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST((max(fin) + l - 1) // l AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN fin // l > start // l AND fin % l <> 0
        |    THEN 1 WHEN fin // l > start // l + 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  CAST(sum(CASE WHEN fin // l > start // l AND fin % l <> 0
        |    THEN 1 WHEN fin // l > start // l + 1 THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS split_ppm,
        |  CAST((CASE WHEN max(fin) % l = 0 THEN l ELSE max(fin) % l END)
        |    * 1000000 // l AS BIGINT) AS last_fill_ppm
        |FROM x GROUP BY l""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents")
        .select(col("doc_id"),
          graft.text.TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val p = Scale.prefixSum(t, "doc_id", "n_tokens", "start")
        .withColumn("fin", col("start") + col("n_tokens"))
      val ls = s.range(0, 4).select(
        expr("256L * shiftleft(1L, CAST(id AS INT))").as("l"))
      val splitCase = """CASE WHEN fin div l > start div l AND fin % l <> 0
                        | THEN 1 WHEN fin div l > start div l + 1
                        | THEN 1 ELSE 0 END""".stripMargin
      p.crossJoin(broadcast(ls))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_docs"),
          expr("(max(fin) + l - 1) div l").as("n_chunks"),
          sum(expr(splitCase)).as("n_split_docs"),
          expr(s"sum($splitCase) * 1000000 div count(*)").as("split_ppm"),
          expr("""(CASE WHEN max(fin) % l = 0 THEN l ELSE max(fin) % l END)
                 | * 1000000 div l""".stripMargin).as("last_fill_ppm"))
        .withColumnRenamed("l", "context_len")
    },

    // ---- best-of-n reward scaling curve -------------------------------------
    // The BoN eval every reward model is judged by: per prompt
    // (user_id), take the first n completions in arrival order
    // (event_id) and record the best reward among them; report, per
    // n in {1, 2, 4, 8}, the number of prompts with >= n completions
    // and the exact SUM of best-of-n rewards (the mean is one division
    // away; keeping the integer sum is what makes the compare exact).
    // One prompt-keyed window pass; the n-sweep reuses the same ranked
    // frame — no re-shuffle per n.
    Q("q_best_of_n",
      """WITH f AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT user_id, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |    max(v) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) AS best_so_far
        |  FROM f),
        |ns AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS n)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_prompts,
        |  CAST(sum(best_so_far) AS BIGINT) AS sum_best_fp
        |FROM r JOIN ns ON r.rn = ns.n
        |GROUP BY n""".stripMargin) { (s, d) =>
      val o = Window.partitionBy("user_id").orderBy("event_id")
      val r = events(s, d)
        .select(col("user_id"), col("event_id"), rfp(col("value")).as("v"))
        .select(col("user_id"), col("v"),
          row_number().over(o).as("rn"),
          max(col("v")).over(o.rowsBetween(Window.unboundedPreceding, 0))
            .as("best_so_far"))
      val ns = broadcast(s.range(0, 4)
        .select(expr("shiftleft(1L, CAST(id AS INT))").as("n")))
      r.join(ns, col("rn") === col("n"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_prompts"),
          sum(col("best_so_far")).cast("long").as("sum_best_fp"))
    },

    // ---- curriculum ordering (easy -> hard, interleaved within bucket) ----
    // The curriculum-learning layout: documents order globally by a
    // difficulty bucket (log2 length — the float-log-free q_size_histogram
    // device; short docs first) and, WITHIN each bucket, by an md5 slot so
    // sources interleave instead of clustering (a bucket read in source
    // order would feed the model one domain at a time). The global
    // position comes from [[Scale.globalRank]] — the two-pass device, no
    // single-partition window over the corpus. The oracle replays the
    // identical total order as one window (fine at oracle scale).
    Q("q_curriculum",
      """WITH d AS (SELECT doc_id,
        |    CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS difficulty,
        |    md5(CAST(doc_id AS VARCHAR) || 'cur') AS hh
        |  FROM documents)
        |SELECT doc_id, difficulty,
        |  CAST(row_number() OVER (ORDER BY difficulty, hh, doc_id) AS BIGINT)
        |    AS curriculum_pos
        |FROM d""".stripMargin) { (s, d) =>
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        length(bin(greatest(col("n_chars"), lit(1)))).cast("long")
          .as("difficulty"),
        md5(concat(col("doc_id").cast("string"), lit("cur"))).as("hh"))
      Scale.globalRank(docs,
          Seq(col("difficulty"), col("hh"), col("doc_id")), "curriculum_pos")
        .select(col("doc_id"), col("difficulty"), col("curriculum_pos"))
    },

    // ---- BPE encode -> sequence packing, composed end to end --------------
    // The real pipeline shape q_seq_packing abstracts: pack on the BPE
    // TOKENIZER'S output counts, not pre-tokenized whitespace counts —
    // [[graft.text.Bpe.encodeStats]] feeds [[Scale.packSequences]]
    // directly (tokenize -> layout with no driver round-trip; the
    // reference composes fold UDF pipelines the same way,
    // python/tests/test_aggregates.py). The BPE token counts are not
    // SQL-recomputable, so the oracle states the VERIFIABLE contract:
    // n_words is exact SQL, and pack_ok must be uniformly true — it
    // conjoins the BPE round-trip/bounds gates with the packing
    // invariants (per-doc token conservation across its chunks, chunk
    // span agreeing with packSequences' seq_id_first/last, and every
    // spanned 256-token chunk EXACTLY full except the corpus-last — a
    // tiling that only closes if the distributed prefix offsets are
    // gapless; any gap or overlap leaves a non-final chunk underfull
    // and flips the gate). Plan: bounded-license BPE fit, one encode
    // map, the two-pass prefix device, then chunk-keyed + doc-keyed
    // aggregations — no global window, nothing corpus-sized driver-side.
    Q("q_bpe_packing",
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, true AS pack_ok
        |FROM t WHERE n_words > 0""".stripMargin) { (s, d) =>
      val L = 256L
      // r15: Scale.fanOutScan was A/B'd here and REJECTED in both
      // shapes — fanning the shared scan degraded trainMerges 0.8 → 19 s
      // (its per-iteration pair-count aggregation re-derives from the
      // fanned frame), and fanning only the encode leg measured flat
      // (1.78 → 1.83 s isolated, calibration-matched: the encode kernel
      // saving is cancelled by the extra exchange at this SF).
      val docs = Tables(s, d, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, "text", numMerges = 16)
      val stats = graft.text.Bpe.encodeStats(docs, "doc_id", "text", merges)
        .filter(col("n_bpe_tokens") > 0) // n_words > 0 <=> n_bpe_tokens > 0
      val packed = Scale.packSequences(stats, "doc_id", col("n_bpe_tokens"), L)
      val spans = packed
        .withColumn("fin", col("tok_offset") + col("n_tok"))
        .withColumn("chunk_id", explode(sequence(
          expr(s"tok_offset div ${L}L"), expr(s"(fin - 1) div ${L}L"))))
        .withColumn("n_in_chunk",
          least(col("fin"), (col("chunk_id") + 1) * L)
            - greatest(col("tok_offset"), col("chunk_id") * L))
      val fills = spans.groupBy("chunk_id")
        .agg(sum(col("n_in_chunk")).as("fill"))
      val lastChunk = broadcast(fills.agg(max(col("chunk_id")).as("max_chunk")))
      val chunkOk = fills.crossJoin(lastChunk)
        .select(col("chunk_id"),
          (col("fill") === L || col("chunk_id") === col("max_chunk"))
            .as("chunk_full_ok"))
      val perDoc = spans.join(chunkOk, "chunk_id")
        .groupBy("doc_id")
        .agg((min(col("chunk_full_ok").cast("int")) === 1).as("tiles_ok"),
          sum(col("n_in_chunk")).as("sum_chunks"),
          min(col("chunk_id")).as("c_first"),
          max(col("chunk_id")).as("c_last"))
      packed.join(perDoc, "doc_id")
        .join(stats.select("doc_id", "n_words", "roundtrip_ok", "bounds_ok"),
          "doc_id")
        .select(col("doc_id"), col("n_words"),
          (col("tiles_ok") && col("sum_chunks") === col("n_tok") &&
            col("c_first") === col("seq_id_first") &&
            col("c_last") === col("seq_id_last") &&
            col("roundtrip_ok") && col("bounds_ok")).as("pack_ok"))
    })
}
