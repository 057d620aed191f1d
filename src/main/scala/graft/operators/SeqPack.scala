package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy sequence packing — the step between tokenization and
  * training: documents are packed, in deterministic doc_id order
  * within a group, into fixed-capacity token sequences. A document
  * goes into the current pack while it fits; the first overflow
  * starts the next pack (first-fit, no document splitting — the
  * boundary-respecting variant next to
  * `q41_token_chunks`' offset
  * chunking, which splits mid-document).
  *
  * The recurrence (fill resets on overflow) is not expressible as a
  * window cumsum, so this is the one place the typed API earns its
  * keep: `flatMapSortedGroups` streams each group's rows through a
  * per-group O(1) state (running fill + pack counter) in sorted
  * order. Scale shape: one shuffle on the group key, one
  * within-partition sort, then a single streamed pass — state never
  * exceeds two longs per group, so a group of a billion docs packs in
  * one task without materializing anything. A doc longer than
  * `capacity` gets a pack of its own.
  */
object SeqPack {

  // NOT private: the codegen'd deserializer instantiates this class
  // from generated Java, which cannot touch a private member
  case class DocTok(grp: String, doc_id: Long, n_tok: Long)

  /** Pack `docs` by token count within `groupCol` (docs ordered by
    * doc_id). Output: (grp, doc_id, n_tok, pack_id) with pack_id a
    * per-group 0-based counter. */
  def pack(docs: DataFrame, groupCol: String, capacity: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col(groupCol).cast("string").as("grp"), col("doc_id"),
        TextOps.wordCount(col("text")).as("n_tok"))
      .as[DocTok]
      .groupByKey(_.grp)
      .flatMapSortedGroups($"doc_id") { (_, it) =>
        var fill = 0L
        var pid = -1L // first doc always overflows the empty pack
        it.map { d =>
          if (pid < 0 || fill + d.n_tok > capacity) { pid += 1; fill = d.n_tok }
          else fill += d.n_tok
          (d.grp, d.doc_id, d.n_tok, pid)
        }
      }
      .toDF("grp", "doc_id", "n_tok", "pack_id")
      .withColumnRenamed("grp", groupCol)
  }

  /** GPT-style token-STREAM packing — the other canonical shard shape
    * next to [[pack]]'s boundary-respecting first-fit: every document's
    * token sequence plus an `eos` separator is concatenated in doc_id
    * order into one corpus-wide stream, and the stream is cut into
    * exact `seqLen`-token training sequences, documents split
    * mid-stream wherever the boundary falls (what GPT-2/3-lineage
    * pipelines feed the trainer; only the final sequence may be
    * short).
    *
    * Scale shape: each document's global token offset comes from
    * [[Ranks.withPrefixSum]]'s banded exclusive cumsum (no
    * single-partition window over the corpus), the explode is linear,
    * and the only corpus shuffle is the groupBy(seq_id) that
    * assembles output sequences — the shard write itself. Sequence
    * assembly is the sorted-collect_list pattern (slot-structs sorted
    * scan-locally), each task holding exactly `seqLen` tokens per
    * sequence.
    *
    * Input: (doc_id, tokens array<string>) — e.g.
    * [[Bpe.encodeTokens]]'s output. Output: (seq_id, n_tokens,
    * tokens space-joined). `orderKey` (unique, bigint-castable;
    * default doc_id) sets the stream order — pass a quality RANK for
    * curriculum packing (best documents fill the earliest shards,
    * q192).
    *
    * `startOffset` makes packing INCREMENTAL — the daily-append shape:
    * pack today's batch with `startOffset = streamLength(yesterday)`
    * and the output continues the stored shard log exactly where it
    * stopped. The boundary sequence comes out partial (only the new
    * batch's slots); merging it onto the stored partial boundary row
    * (old slots first) reproduces packing the union bit-exactly —
    * the law OperatorsSpec pins. */
  def packTokenStream(
      docTokens: DataFrame, seqLen: Int, eos: String = "</s>",
      orderKey: Column = col("doc_id"), startOffset: Long = 0L): DataFrame =
    packTokenStreamRows(docTokens, seqLen, eos, orderKey, startOffset)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("slot"), col("token")))),
          x => x.getField("token")), " ").as("tokens"))

  /** [[packTokenStream]]'s EXPLODED row form — one output row per
    * packed token: (seq_id, slot, token). Same stream law, same banded
    * offsets; the only difference is that assembly stops BEFORE the
    * per-sequence aggregate, so the result carries no within-row
    * ordering at all. This is the cross-engine-verifiable contract
    * shape: a row set is order-insensitive under any row-sorted
    * comparison, where an assembled `tokens` string bakes in whatever
    * within-group order the assembling engine honored (two driver
    * rounds proved different DuckDB builds disagree there — see
    * round-10 VERDICT #1). Shard WRITING still wants the aggregated
    * form; gates and diffs want this one. */
  def packTokenStreamRows(
      docTokens: DataFrame, seqLen: Int, eos: String = "</s>",
      orderKey: Column = col("doc_id"), startOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"packTokenStream needs seqLen >= 1: $seqLen")
    // localCheckpoint: the banded prefix sum reads its input twice
    // (band totals + the row join); without the cut, the whole
    // upstream — tokenizer encode join, quality rank — re-executes
    // per reference (same-harness min-of-3 A/B at sf0.1: q192 4.8 s
    // vs 5.6 s, q190 3.7 s vs 4.0 s; the gap grows with upstream cost)
    val withEos = docTokens.select(orderKey.cast("bigint").as("graft_ok"),
        concat(col("tokens"), array(lit(eos))).as("graft_toks"))
      .withColumn("graft_n", size(col("graft_toks")).cast("bigint"))
      .localCheckpoint(false)
    // band width from the key's MEASURED span: `orderKey` is caller-
    // supplied (doc_id, a quality rank, a shuffle hash…), and a sparse
    // wide key under fixed 16-bit bands sends the prefix sum's band
    // join quadratic (the q198 failure shape). One min/max scalar on
    // the already-checkpointed frame; offsets are band-width-invariant
    Ranks.withPrefixSum(withEos, col("graft_ok"), col("graft_n"), "graft_off",
        bandBits = Ranks.autoKeyBandBits(withEos, col("graft_ok")))
      .select(col("graft_off"),
        posexplode(col("graft_toks")).as(Seq("graft_pos", "graft_tok")))
      .withColumn("graft_gpos",
        lit(startOffset) + col("graft_off") + col("graft_pos"))
      .select(expr(s"graft_gpos div $seqLen").as("seq_id"),
        expr(s"graft_gpos % $seqLen").as("slot"), col("graft_tok").as("token"))
  }

  /** [[packTokenStream]] plus the per-sequence DOCUMENT MANIFEST a
    * trainer needs to mask attention across document boundaries
    * (the LLaMA/T5-style "don't attend across `</s>`" packing):
    * each output sequence also carries
    *   n_docs      — how many documents contribute tokens to it, and
    *   boundaries  — "slot:doc_id" pairs (space-joined, slot-ascending),
    *                 one per contributing document at its FIRST slot in
    *                 this sequence (slot 0 for a continuation of a doc
    *                 split by the previous cut).
    *
    * Same banded-offset machinery; the token explode additionally
    * carries doc_id, and assembly becomes a two-level aggregate —
    * (seq, doc) parts first (documents are CONTIGUOUS in the stream,
    * so doc parts sorted by their first slot flatten back to exact
    * slot order), then the sequence row. One extra shuffle vs
    * [[packTokenStream]], both keyed aggregations partial-combinable,
    * per-group state still ≤ `seqLen` tokens. */
  def packTokenStreamWithBoundaries(
      docTokens: DataFrame, seqLen: Int, eos: String = "</s>",
      orderKey: Column = col("doc_id"), startOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"packTokenStreamWithBoundaries needs seqLen >= 1")
    val withEos = docTokens.select(col("doc_id").cast("bigint").as("graft_doc"),
        orderKey.cast("bigint").as("graft_ok"),
        concat(col("tokens"), array(lit(eos))).as("graft_toks"))
      .withColumn("graft_n", size(col("graft_toks")).cast("bigint"))
      .localCheckpoint(false)
    // see packTokenStream: band width from the measured key span
    Ranks.withPrefixSum(withEos, col("graft_ok"), col("graft_n"), "graft_off",
        bandBits = Ranks.autoKeyBandBits(withEos, col("graft_ok")))
      .select(col("graft_doc"), col("graft_off"),
        posexplode(col("graft_toks")).as(Seq("graft_pos", "graft_tok")))
      .withColumn("graft_gpos",
        lit(startOffset) + col("graft_off") + col("graft_pos"))
      .select(col("graft_doc"),
        expr(s"graft_gpos div $seqLen").as("seq_id"),
        expr(s"graft_gpos % $seqLen").as("graft_slot"), col("graft_tok"))
      .groupBy(col("seq_id"), col("graft_doc"))
      .agg(min(col("graft_slot")).as("graft_bslot"),
        count(lit(1)).as("graft_dn"),
        transform(
          array_sort(collect_list(struct(col("graft_slot"), col("graft_tok")))),
          x => x.getField("graft_tok")).as("graft_part"))
      .groupBy(col("seq_id"))
      .agg(sum(col("graft_dn")).cast("bigint").as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("graft_bslot"), col("graft_part")))),
          x => x.getField("graft_part"))), " ").as("tokens"),
        count(lit(1)).cast("bigint").as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("graft_bslot"), col("graft_doc")))),
          x => concat_ws(":", x.getField("graft_bslot"), x.getField("graft_doc"))),
          " ").as("boundaries"))
  }

  /** The DOCUMENT MANIFEST of [[packTokenStreamWithBoundaries]] as a
    * plain row set — one row per (sequence, contributing document):
    * (seq_id, first_slot, doc_id, n_doc_tokens), where `first_slot` is
    * the document's first slot in that sequence (0 for a continuation
    * of a doc the previous cut split) and `n_doc_tokens` how many of
    * the sequence's slots it fills. Everything the attention-mask
    * assembler needs, shaped so NO within-group ordering exists —
    * only min/count aggregates over the doc-carrying token explode
    * (same banded offsets as [[packTokenStreamRows]]). One keyed
    * aggregation, partial-combinable, rows out = Σ docs-per-cut. */
  def packTokenStreamManifest(
      docTokens: DataFrame, seqLen: Int, eos: String = "</s>",
      orderKey: Column = col("doc_id"), startOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"packTokenStreamManifest needs seqLen >= 1")
    val withEos = docTokens.select(col("doc_id").cast("bigint").as("graft_doc"),
        orderKey.cast("bigint").as("graft_ok"),
        concat(col("tokens"), array(lit(eos))).as("graft_toks"))
      .withColumn("graft_n", size(col("graft_toks")).cast("bigint"))
      .localCheckpoint(false)
    // see packTokenStream: band width from the measured key span
    Ranks.withPrefixSum(withEos, col("graft_ok"), col("graft_n"), "graft_off",
        bandBits = Ranks.autoKeyBandBits(withEos, col("graft_ok")))
      .select(col("graft_doc"), col("graft_off"),
        posexplode(col("graft_toks")).as(Seq("graft_pos", "graft_tok")))
      .withColumn("graft_gpos",
        lit(startOffset) + col("graft_off") + col("graft_pos"))
      .groupBy(expr(s"graft_gpos div $seqLen").as("seq_id"), col("graft_doc"))
      .agg(min(expr(s"graft_gpos % $seqLen")).as("first_slot"),
        count(lit(1)).as("n_doc_tokens"))
      .select(col("seq_id"), col("first_slot"),
        col("graft_doc").as("doc_id"), col("n_doc_tokens"))
  }

  /** Total token count [[packTokenStream]] would stream for this frame
    * (per-doc tokens + one `eos` each) — the `startOffset` the NEXT
    * batch continues from. One scalar aggregate. */
  def streamLength(docTokens: DataFrame): Long =
    docTokens
      .agg(coalesce(sum(size(col("tokens")).cast("bigint") + 1L), lit(0L)))
      .head().getLong(0)

  /** Shard-config ADVISOR: for each candidate `seqLen`, the numbers a
    * pipeline owner needs BEFORE committing to a [[packTokenStream]]
    * configuration — sequence count, final-sequence padding waste, and
    * how many documents a cut would split mid-text (the attention-mask
    * cost [[packTokenStreamWithBoundaries]]'s manifests exist to
    * mitigate). Computed WITHOUT packing anything: per-doc stream
    * lengths (tokens + 1 separator, exactly the stream law), global
    * offsets from the banded prefix sum, then every config is pure
    * per-row arithmetic over the same doc-count-sized frame — one
    * broadcast of the config table, one grouped aggregate, NO token
    * explode. A doc splits iff its span [off, off+len) straddles a
    * cut; its trailing separator counts as its own, matching the
    * manifest's continuation-slot rule. Output per config:
    * (seq_len, total_tokens, n_docs, n_seqs, tail_tokens, pad_tokens,
    * n_split_docs, split_bp) — all BIGINT; agreement with the real
    * packs is the OperatorsSpec law. At 100 TB this is the difference
    * between one scan of doc STATS and materializing a corpus-sized
    * token stream per candidate config. */
  def configAdvisor(
      docTokens: DataFrame,
      seqLens: Seq[Int],
      orderKey: Column = col("doc_id")): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ >= 1),
      s"configAdvisor needs positive seqLens: $seqLens")
    val spark = docTokens.sparkSession
    import spark.implicits._
    // read twice by the banded prefix sum — cut the upstream encode
    // join's re-execution exactly like packTokenStream does
    val lens = docTokens.select(orderKey.cast("bigint").as("graft_ok"),
        (size(col("tokens")) + 1).cast("bigint").as("len"))
      .localCheckpoint(false)
    val off = Ranks.withPrefixSum(lens, col("graft_ok"), col("len"), "off",
      bandBits = Ranks.autoKeyBandBits(lens, col("graft_ok")))
    off.join(broadcast(seqLens.toDF("seq_len")))
      .groupBy(col("seq_len"))
      .agg(sum(col("len")).as("total_tokens"),
        count(lit(1)).as("n_docs"),
        sum(when(expr("off div seq_len") =!= expr("(off + len - 1) div seq_len"),
          1L).otherwise(0L)).as("n_split_docs"))
      .select(col("seq_len").cast("bigint").as("seq_len"),
        col("total_tokens"), col("n_docs"),
        expr("(total_tokens + seq_len - 1) div seq_len").as("n_seqs"),
        expr("total_tokens % seq_len").as("tail_tokens"),
        expr("(seq_len - total_tokens % seq_len) % seq_len").as("pad_tokens"),
        col("n_split_docs"),
        expr("n_split_docs * 10000 div n_docs").as("split_bp"))
  }

  /** NO-SPLIT depth-2 packing — the padding-minimizing alternative to
    * [[packTokenStream]]'s concat-and-chunk: every document keeps its
    * tokens in ONE sequence (no attention contamination, no split
    * docs), at most two documents share a pack, and the pairing is the
    * rank-closed folding heuristic: docs ranked by (len desc, doc_id),
    * rank i pairs with rank n+1−i (longest with shortest), the pair
    * shares a pack iff the two lengths fit `seqLen` together,
    * otherwise each gets its own. This is the closed-form core of the
    * packing literature's depth-2 schemes (Krell et al. 2021 report
    * ≤2 sequences per pack already captures most of the padding
    * reduction); the optimal variant needs a sequential two-pointer /
    * histogram loop, and the closed form trades a few percent of
    * packing density for an assignment that is pure rank arithmetic —
    * replayable by the oracle and free of any driver-side loop.
    *
    * Documents longer than `seqLen` are TRUNCATED to `seqLen` (the
    * no-split contract needs every doc to fit one pack).
    *
    * Scale shape: lengths project off one scan (checkpointed — the
    * rank reads its input more than once), the global rank is
    * [[Ranks.withGlobalRank]]'s banded decomposition (the length key
    * is ≤ `seqLen` distinct values; ties band on doc_id), the total
    * count is one scalar, and the pairing is a single groupBy on the
    * pair id over groups of ≤ 2 rows — min_by/max_by partial-combine
    * map-side, so the one corpus shuffle carries two-long rows.
    *
    * Output per pack: (pack_id, doc_ids csv head-first, n_docs,
    * n_tokens, n_pad) with pack_id = 2·(pair−1) + slot — stable,
    * gap-tolerant ids. */
  def packDepth2(docTokens: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"packDepth2 needs seqLen >= 1: $seqLen")
    packDepth2Lens(
      docTokens.select(col("doc_id").cast("bigint").as("doc_id"),
          least(size(col("tokens")), lit(seqLen)).cast("bigint").as("len"))
        .localCheckpoint(false),
      seqLen)
  }

  /** [[packDepth2]] over an ALREADY-MATERIALIZED (doc_id, len) frame —
    * the assignment half without the length scan, for callers that
    * have the capped lengths in hand (q202 derives chunk / depth-2 /
    * lower-bound stats from ONE length projection instead of paying
    * the tokenizer encode join once per consumer). `lens` must be
    * cheap to re-read (checkpointed or a plain scan): the rank and
    * the pairing read it more than once. Lengths are assumed already
    * capped at `seqLen`. */
  def packDepth2Lens(lens: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"packDepth2 needs seqLen >= 1: $seqLen")
    val n = lens.count()
    val paired = Ranks
      .withGlobalRank(lens, lit(seqLen) - col("len"), ascending = true,
        tie = col("doc_id"), outCol = "graft_rk")
      .withColumn("graft_pair",
        least(col("graft_rk"), lit(n + 1) - col("graft_rk")))
      .groupBy(col("graft_pair"))
      .agg(count(lit(1)).as("graft_c"),
        min_by(struct(col("doc_id"), col("len")), col("graft_rk")).as("graft_h"),
        max_by(struct(col("doc_id"), col("len")), col("graft_rk")).as("graft_t"))
    def one(doc: Column, len: Column, slot: Int) = struct(
      lit(slot).cast("bigint").as("slot"), doc.cast("string").as("doc_ids"),
      lit(1L).as("n_docs"), len.as("n_tokens"))
    val hd = col("graft_h.doc_id"); val hl = col("graft_h.len")
    val td = col("graft_t.doc_id"); val tl = col("graft_t.len")
    paired
      .select(col("graft_pair"), explode(
        when(col("graft_c") === 1, array(one(hd, hl, 0)))
          .when(hl + tl <= seqLen, array(struct(
            lit(0L).as("slot"),
            concat_ws(",", hd.cast("string"), td.cast("string")).as("doc_ids"),
            lit(2L).as("n_docs"), (hl + tl).as("n_tokens"))))
          .otherwise(array(one(hd, hl, 0), one(td, tl, 1)))).as("graft_p"))
      .select(((col("graft_pair") - 1) * 2 + col("graft_p.slot")).as("pack_id"),
        col("graft_p.doc_ids").as("doc_ids"),
        col("graft_p.n_docs").as("n_docs"),
        col("graft_p.n_tokens").as("n_tokens"),
        (lit(seqLen.toLong) - col("graft_p.n_tokens")).as("n_pad"))
  }
}
