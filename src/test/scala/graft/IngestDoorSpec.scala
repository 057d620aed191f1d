package graft

import graft.operators.{Bpe, Decontaminate, SeqPack}
import graft.streaming.IngestDoor
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The composed ingest door: scrub → decontaminate → dedup → pack per
  * micro-batch. Laws pinned here:
  *   - every stage's effect is visible in the admitted corpus (PII and
  *     deny terms masked, eval-leaking docs gone, near-dups collapsed
  *     to first-arrival keepers),
  *   - the audit log counts are exact per batch,
  *   - with batches arriving in doc_id order, the accumulated shard
  *     log equals the ONE-SHOT pack of the final corpus (the
  *     composition preserves StreamingShardPack's equivalence law),
  *   - a replayed batch changes neither corpus nor shards nor audit —
  *     including the pack stage, whose input is corpus MEMBERSHIP, not
  *     "what dedup just appended" (empty on replay).
  */
class IngestDoorSpec extends SparkSpec {
  import spark.implicits._

  private val seqLen = 8
  private val deny = Seq("secret")
  // eval benchmark: one 6-word prompt
  private val evalDocs = Seq((900L, "alpha beta gamma delta epsilon zeta"))

  // b1: doc 1 admitted (with an email + deny term scrubbed); doc 2
  // copies the eval prompt verbatim → dropped at the guard.
  // b2: doc 3 is a near-dup of doc 1 (same long text) → dropped by the
  // corpus probe; doc 4 is clean and admitted.
  private val longText =
    "many plain training words repeated here for a stable shingle set"
  private val b1 = Seq(
    (1L, s"$longText mail bob@x.co secret"),
    (2L, s"intro alpha beta gamma delta epsilon zeta outro"))
  private val b2 = Seq(
    (3L, s"$longText mail eve@y.co secret"),
    (4L, "completely different admitted document with enough words"))

  test("composed door: stage effects, exact audit, one-shot shard law, replay") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("door")
    val ckpt = tempDir("door-ck")
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    // frozen vocab learned from the pre-launch corpus (batch 1's texts)
    val (_, vocab0) = Bpe.learn(
      Bpe.wordFreq(b1.toDF("doc_id", "text")), nMerges = 3)
    val vocab = vocab0.localCheckpoint()

    val in = MemoryStream[(Long, String)]
    val q = IngestDoor.start(in.toDF().toDF("doc_id", "text"),
      root, s"$ckpt/q", deny, evalGrams, bloom, vocab, seqLen,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // stage effects in the admitted corpus
    val corpus = IngestDoor.readCorpus(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus.keySet === Set(1L, 4L),
      "doc 2 leaked eval grams, doc 3 near-duped doc 1")
    assert(corpus(1L) === s"$longText mail <EMAIL> <MASKED>")
    // audit log exact
    val audit = IngestDoor.readAudit(spark, root).orderBy("batch_id")
      .select("n_in", "n_pii", "n_denied", "n_contaminated",
        "n_dup_dropped", "n_admitted")
      .collect().map(_.toSeq).toSeq
    assert(audit === Seq(
      Seq(2L, 1L, 1L, 1L, 0L, 1L),
      Seq(2L, 1L, 1L, 0L, 1L, 1L)))

    // one-shot shard law (batches arrived in doc_id order)
    val oneShot = SeqPack.packTokenStream(
      Bpe.encodeTokens(
        IngestDoor.readCorpus(spark, root).orderBy("doc_id"), vocab),
      seqLen)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot))

    // replay batch 0 end-to-end: nothing changes anywhere
    IngestDoor.applyBatch(b1.toDF("doc_id", "text"), 0L, root,
      deny, evalGrams, bloom, vocab, seqLen)
    val corpus2 = IngestDoor.readCorpus(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus2 === corpus)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot))
    val audit2 = IngestDoor.readAudit(spark, root).orderBy("batch_id")
      .select("n_in", "n_pii", "n_denied", "n_contaminated",
        "n_dup_dropped", "n_admitted")
      .collect().map(_.toSeq).toSeq
    assert(audit2 === audit)
  }

  test("a doc_id REDELIVERED in a later batch is neither re-admitted nor re-packed") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("door-redeliver")
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val (_, vocab0) = Bpe.learn(
      Bpe.wordFreq(b1.toDF("doc_id", "text")), nMerges = 3)
    val vocab = vocab0.localCheckpoint()

    IngestDoor.applyBatch(b1.toDF("doc_id", "text"), 0L, root,
      deny, evalGrams, bloom, vocab, seqLen)
    val shardsAfter0 = rowSet(IngestDoor.readShards(spark, root))
    // the at-least-once source rewinds: doc 1 arrives AGAIN in batch 1
    // alongside a genuinely new doc — only doc 4 may be admitted/packed
    IngestDoor.applyBatch((b1.take(1) ++ b2.drop(1)).toDF("doc_id", "text"),
      1L, root, deny, evalGrams, bloom, vocab, seqLen)
    val corpus = IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(corpus === Seq(1L, 4L), "redelivered doc 1 must not re-append")
    // the shard log must equal packing doc 1 (batch 0) then doc 4
    // (batch 1) exactly once each — i.e. the one-shot pack in doc_id
    // order, since arrival order here is doc_id order
    val oneShot = SeqPack.packTokenStream(
      Bpe.encodeTokens(IngestDoor.readCorpus(spark, root), vocab), seqLen)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot),
      "redelivered doc 1 was packed twice")
    assert(shardsAfter0.nonEmpty && oneShot.count() > 0)
    val audit1 = IngestDoor.readAudit(spark, root)
      .filter(col("batch_id") === 1)
      .select("n_in", "n_dup_dropped", "n_admitted").head()
    assert(audit1.getLong(0) === 2L && audit1.getLong(1) === 1L &&
      audit1.getLong(2) === 1L)
  }

  test("guard runs on RAW text: an eval gram spanning PII still catches the leak") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("door-rawguard")
    // a 6-word benchmark prompt whose middle token is an email — after
    // scrubbing, every 6-gram through it would be rewritten, so a
    // scrub-first door would admit the verbatim leak
    val piiEval = Seq((901L, "please contact bob@x.co regarding benchmark answers"))
    val evalGrams = Decontaminate
      .evalGramSet(piiEval.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val (_, vocab0) = Bpe.learn(
      Bpe.wordFreq(b1.toDF("doc_id", "text")), nMerges = 3)
    val vocab = vocab0.localCheckpoint()
    IngestDoor.applyBatch(
      Seq((8L, "please contact bob@x.co regarding benchmark answers"),
        (9L, s"$longText with no benchmark overlap inside"))
        .toDF("doc_id", "text"),
      0L, root, deny, evalGrams, bloom, vocab, seqLen)
    val corpus = IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSeq
    assert(corpus === Seq(9L), "the PII-spanning eval leak must be caught")
  }

  test("a first batch dropped ENTIRELY at the guard leaves a working door") {
    implicit val ctx = spark.sqlContext
    val root = tempDir("door-empty")
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val (_, vocab0) = Bpe.learn(
      Bpe.wordFreq(b1.toDF("doc_id", "text")), nMerges = 3)
    val vocab = vocab0.localCheckpoint()

    // batch 0: the eval prompt itself — everything contaminated, no
    // corpus dir exists afterwards; the door must neither crash nor
    // lose offset continuity
    IngestDoor.applyBatch(
      Seq((7L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      0L, root, deny, evalGrams, bloom, vocab, seqLen)
    val a0 = IngestDoor.readAudit(spark, root)
      .select("n_in", "n_contaminated", "n_admitted").head()
    assert(a0.getLong(0) === 1L && a0.getLong(1) === 1L && a0.getLong(2) === 0L)

    // batch 1: a normal admission — the shard log starts at offset 0
    IngestDoor.applyBatch(b2.toDF("doc_id", "text"), 1L, root,
      deny, evalGrams, bloom, vocab, seqLen)
    val corpus = IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(corpus === Seq(3L, 4L))
    val oneShot = SeqPack.packTokenStream(
      Bpe.encodeTokens(IngestDoor.readCorpus(spark, root), vocab), seqLen)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot))
  }

  // ---- media (perceptual) dedup stage ---------------------------------

  /** 64-byte payloads engineered against the 60-bit average-hash:
    * pBase's signature sets bits 32-59; pFlip differs in exactly bit 0
    * (Hamming 1 → a perceptual near-dup); pAll signs to 0 (collides
    * with pBase's zero band 0 but the popcount verify rejects it);
    * pEven lands in distinct buckets in BOTH bands. */
  private def pay(bytes: Seq[Int]): Array[Byte] = bytes.map(_.toByte).toArray
  private val pBase = pay(Seq.fill(32)(0) ++ Seq.fill(32)(255))
  private val pFlip = pay(Seq(255) ++ Seq.fill(31)(0) ++ Seq.fill(32)(255))
  private val pAll = pay(Seq.fill(64)(255))
  private val pEven = pay((0 until 64).map(i => if (i % 2 == 0) 255 else 0))
  // doc 21 near-dups 20 PERCEPTUALLY (texts unrelated); doc 22
  // near-dups 20's TEXT (payload perceptually distinct) — one doc per
  // cause, so the audit split is unambiguous; doc 23 is clean on both
  private val mediaDocs = Seq(
    (20L, s"$longText mail bob@x.co", pBase),
    (21L, "totally unrelated words about other things entirely", pFlip),
    (22L, s"$longText mail eve@y.co", pAll),
    (23L, "completely different admitted document with enough words", pEven))

  private def mediaFixtures() = {
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val (_, vocab0) = Bpe.learn(
      Bpe.wordFreq(mediaDocs.map(d => (d._1, d._2)).toDF("doc_id", "text")),
      nMerges = 3)
    (evalGrams, bloom, vocab0.localCheckpoint())
  }

  test("media stage: perceptual vs text dup attribution, replay-idempotent") {
    val root = tempDir("door-media")
    val (evalGrams, bloom, vocab) = mediaFixtures()
    val batch = mediaDocs.toDF("doc_id", "text", "payload")
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(20L, 23L),
      "21 should drop perceptually, 22 textually")
    val a = IngestDoor.readAudit(spark, root)
      .select("n_in", "n_dup_phash", "n_dup_text", "n_dup_dropped", "n_admitted")
      .head()
    assert(a.toSeq === Seq(4L, 1L, 1L, 2L, 2L))
    // the signature index holds ONLY the admitted docs' band rows
    val idx = spark.read.parquet(IngestDoor.phashIndexPath(root))
    assert(idx.select("doc_id").distinct().as[Long].collect().sorted.toSeq
      === Seq(20L, 23L))
    val idxRows = idx.count()
    val shards = rowSet(IngestDoor.readShards(spark, root))

    // replay the whole batch: corpus, audit, shards, index unchanged
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(20L, 23L))
    assert(IngestDoor.readAudit(spark, root)
      .select("n_in", "n_dup_phash", "n_dup_text", "n_dup_dropped", "n_admitted")
      .head().toSeq === Seq(4L, 1L, 1L, 2L, 2L))
    assert(spark.read.parquet(IngestDoor.phashIndexPath(root)).count() === idxRows,
      "replay must not re-append signature rows")
    assert(rowSet(IngestDoor.readShards(spark, root)) === shards)
  }

  test("media stage: batch-split invariance (index probe ≡ within-batch pairing)") {
    val root = tempDir("door-media-split")
    val (evalGrams, bloom, vocab) = mediaFixtures()
    // doc 20 alone, THEN the rest: 21 must now drop via the PERSISTED
    // index (not within-batch pairing), 22 via the corpus text probe —
    // same final state and summed attribution as the one-batch run
    IngestDoor.applyBatch(mediaDocs.take(1).toDF("doc_id", "text", "payload"),
      0L, root, deny, evalGrams, bloom, vocab, seqLen)
    IngestDoor.applyBatch(mediaDocs.drop(1).toDF("doc_id", "text", "payload"),
      1L, root, deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(20L, 23L))
    val sums = IngestDoor.readAudit(spark, root)
      .agg(sum("n_in"), sum("n_dup_phash"), sum("n_dup_text"),
        sum("n_admitted"))
      .head()
    assert(sums.toSeq === Seq(4L, 1L, 1L, 2L))
    // a REDELIVERED media doc survives phash (self-pairs excluded) and
    // is absorbed by the text stage's exact anti-join — never re-packed
    val idxRows = spark.read.parquet(IngestDoor.phashIndexPath(root)).count()
    IngestDoor.applyBatch(mediaDocs.take(1).toDF("doc_id", "text", "payload"),
      2L, root, deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readAudit(spark, root).filter(col("batch_id") === 2)
      .select("n_dup_phash", "n_admitted").head().toSeq === Seq(0L, 0L))
    assert(spark.read.parquet(IngestDoor.phashIndexPath(root)).count() === idxRows)
  }

  test("media door demo on toMedia(testdata): audit balances, phash matches q210's operator") {
    import graft.operators.Multimodal
    val root = tempDir("door-media-demo")
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val media = Multimodal.toMedia(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .select(col("doc_id"), col("payload"), col("media_type"))
    val batch = docs.join(media, Seq("doc_id"))
    val (evalGrams, bloom, vocab) = mediaFixtures()
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom, vocab,
      seqLen, phashFrameBytes = 64, phashStride = 2)
    val a = IngestDoor.readAudit(spark, root)
      .select("n_in", "n_contaminated", "n_lowq", "n_dup_phash",
        "n_dup_text", "n_dup_dropped", "n_admitted")
      .head()
    assert(a.getLong(0) === 500L)
    // the funnel balances exactly
    assert(a.getLong(1) + a.getLong(2) + a.getLong(5) + a.getLong(6) === 500L)
    assert(a.getLong(3) + a.getLong(4) === a.getLong(5))
    // the door's within-batch perceptual drops = the q210 operator's
    // dup set (min-id keepers) on the same media
    val q210Drops = Multimodal
      .phashNearDupPairs(media, frameBytes = 64, stride = 2)
      .select(col("doc_b")).distinct().count()
    assert(a.getLong(3) === q210Drops)
    assert(IngestDoor.readCorpus(spark, root).count() === a.getLong(6))
  }

  test("ALL optional stages at once: lmGate + media, one drop per cause in one batch") {
    import graft.operators.TextOps
    val root = tempDir("door-all")
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val tA = "the cat sat on the mat and the dog sat on the rug"
    val tC = "the dog sat on the mat and the cat sat on the rug"
    // frozen LM over both natural texts; cutoff = the lower of their
    // own scores, so BOTH admit (>=) and off-model text fails
    val lmTrain = Seq((0L, tA), (1L, tC)).toDF("doc_id", "text")
    val lmDf = TextOps.bigramLm(lmTrain).localCheckpoint()
    val cut = TextOps.bigramLogprob(lmTrain, lmDf)
      .agg(min(round(col("avg_logp") * 1e4).cast("bigint")))
      .as[Long].head()
    val cuts = Seq(("en", cut)).toDF("lang", "cut_e4")
    val (_, vocab0) = Bpe.learn(Bpe.wordFreq(lmTrain), nMerges = 2)
    // exactly ONE drop per cause: 31 contaminated (guard), 32 gibberish
    // (n_lowq), 33 phash-near-dups 30 (n_dup_phash; its TEXT is clean),
    // 34 text-duplicates 30 (n_dup_text; its PAYLOAD is distinct),
    // 30 admits
    val batch = Seq(
      (30L, tA, "en", pBase),
      (31L, "intro alpha beta gamma delta epsilon zeta outro", "en", pEven),
      (32L, "zz qq vv kk ww pp rr tt yy uu ii oo", "en", pEven),
      (33L, tC, "en", pFlip),
      (34L, tA, "en", pAll))
      .toDF("doc_id", "text", "lang", "payload")
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom,
      vocab0.localCheckpoint(), seqLen, lmGate = Some((lmDf, cuts)))
    assert(IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSeq === Seq(30L))
    val a = IngestDoor.readAudit(spark, root)
      .select("n_in", "n_contaminated", "n_lowq", "n_dup_phash",
        "n_dup_text", "n_dup_dropped", "n_admitted")
      .head()
    assert(a.toSeq === Seq(5L, 1L, 1L, 1L, 1L, 2L, 1L))
    // full replay with every stage on: nothing anywhere changes
    val idxRows = spark.read.parquet(IngestDoor.phashIndexPath(root)).count()
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom,
      vocab0.localCheckpoint(), seqLen, lmGate = Some((lmDf, cuts)))
    assert(IngestDoor.readAudit(spark, root)
      .select("n_in", "n_contaminated", "n_lowq", "n_dup_phash",
        "n_dup_text", "n_dup_dropped", "n_admitted")
      .head().toSeq === a.toSeq)
    assert(spark.read.parquet(IngestDoor.phashIndexPath(root)).count() === idxRows)
  }

  test("optional normalize stage: a CRLF/whitespace variant dedups only when it's on") {
    val (evalGrams, bloom, vocab) = mediaFixtures()
    // the same sentence with \r\n noise between every word — after
    // normalization it is BYTE-identical to the clean doc; raw, its
    // shingle set shares nothing (every 3-gram contains a \r\n token)
    val clean = s"$longText extra tail words here"
    val noisy = clean.split(" ").mkString(" \r\n ")
    val batch = Seq((40L, clean), (41L, noisy)).toDF("doc_id", "text")

    val rootOff = tempDir("door-norm-off")
    IngestDoor.applyBatch(batch, 0L, rootOff, deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readCorpus(spark, rootOff).count() === 2L,
      "without normalization the variant is (wrongly) a distinct doc")

    val rootOn = tempDir("door-norm-on")
    IngestDoor.applyBatch(batch, 0L, rootOn, deny, evalGrams, bloom, vocab,
      seqLen, normalize = true)
    assert(IngestDoor.readCorpus(spark, rootOn)
      .select("doc_id").as[Long].collect().toSeq === Seq(40L),
      "normalized variant must collapse to the min-id keeper")
    val a = IngestDoor.readAudit(spark, rootOn)
      .select("n_in", "n_dup_text", "n_admitted").head()
    assert(a.toSeq === Seq(2L, 1L, 1L))
  }

  test("optional FIM stage: shards pack the TRANSFORMED text, corpus stays raw, replay exact") {
    import graft.operators.TextOps
    val (evalGrams, bloom, vocab) = mediaFixtures()
    val root = tempDir("door-fim")
    IngestDoor.applyBatch(b1.toDF("doc_id", "text"), 0L, root,
      deny, evalGrams, bloom, vocab, seqLen, fimPermille = 1000)
    IngestDoor.applyBatch(b2.toDF("doc_id", "text"), 1L, root,
      deny, evalGrams, bloom, vocab, seqLen, fimPermille = 1000)
    // the corpus is the RAW (scrubbed) text — the transform never
    // rewrites the canonical artifact
    val corpus = IngestDoor.readCorpus(spark, root)
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 4L))
    assert(corpus.filter(col("doc_id") === 1L)
      .select("text").as[String].head() ===
      s"$longText mail <EMAIL> <MASKED>")
    // shard law: accumulated shards == one-shot pack of the
    // TRANSFORMED corpus (same deterministic doc_id-derived cuts)
    val oneShot = SeqPack.packTokenStream(
      Bpe.encodeTokens(
        TextOps.fimTransform(corpus.orderBy("doc_id"), ratePermille = 1000)
          .select(col("doc_id"), col("training_text").as("text")),
        vocab), seqLen)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot))
    // at permille 1000 every doc transforms, so the shard stream must
    // actually differ from the raw pack (the stage is not a no-op)
    val rawShot = SeqPack.packTokenStream(
      Bpe.encodeTokens(corpus.orderBy("doc_id"), vocab), seqLen)
    assert(rowSet(oneShot) !== rowSet(rawShot),
      "FIM-transformed shards should differ from the raw pack")
    // replay with the stage on: nothing changes
    IngestDoor.applyBatch(b1.toDF("doc_id", "text"), 0L, root,
      deny, evalGrams, bloom, vocab, seqLen, fimPermille = 1000)
    assert(rowSet(IngestDoor.readShards(spark, root)) === rowSet(oneShot))
  }

  test("per-source delivery audit: door token sums ≡ batch-side encode aggregation") {
    val (evalGrams, bloom, vocab) = mediaFixtures()
    val root = tempDir("door-src")
    val batch1 = Seq(
      (1L, s"$longText mail bob@x.co secret", "web"),
      // guard drop: contributes to NO source row (delivery ≠ intake)
      (2L, s"intro alpha beta gamma delta epsilon zeta outro", "web"),
      (5L, "another admitted document from the books source", "books"),
      // tokenizes to ZERO words (whitespace-only): encodeTokens emits
      // no row for it, so the audit must LEFT-join from the admitted
      // set or this doc silently vanishes from n_docs (r14 ADVICE) —
      // if admitted it counts with n_tokens = 0
      (7L, " ", "books"))
      .toDF("doc_id", "text", "source")
    IngestDoor.applyBatch(batch1, 0L, root, deny, evalGrams, bloom,
      vocab, seqLen)
    val emptyAdmitted = IngestDoor.readCorpus(spark, root)
      .filter(col("doc_id") === 7L).count() === 1L
    val src = IngestDoor.readSourceAudit(spark, root)
      .select("source", "n_docs", "n_tokens").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(src.keySet === Set("web", "books"))
    assert(src("web")._1 === 1L &&
      src("books")._1 === (if (emptyAdmitted) 2L else 1L),
      "only ADMITTED docs are accounted per source — including " +
        "admitted docs with zero tokens")
    // the pinned law: audit sums ≡ a batch-side tokenCount aggregation
    // over the admitted docs (same encode, same vocab)
    val expected = Bpe.encodeTokens(IngestDoor.readCorpus(spark, root), vocab)
      .select(col("doc_id"), size(col("tokens")).cast("bigint").as("nt"))
      .join(batch1.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(src.map { case (s, (_, t)) => s -> t } === expected)
    assert(src.values.map(_._2).forall(_ > 0L))
    // source doc counts reconcile with the main audit
    val nAdm = IngestDoor.readAudit(spark, root)
      .select("n_admitted").as[Long].head()
    assert(src.values.map(_._1).sum === nAdm)
    // a batch WITHOUT a source column writes no source-audit partition
    IngestDoor.applyBatch(b2.toDF("doc_id", "text"), 1L, root,
      deny, evalGrams, bloom, vocab, seqLen)
    assert(IngestDoor.readSourceAudit(spark, root)
      .select(col("batch_id").cast("bigint")).distinct()
      .as[Long].collect().toSeq === Seq(0L))
    // replaying batch 0 rewrites its partition with identical rows
    IngestDoor.applyBatch(batch1, 0L, root, deny, evalGrams, bloom,
      vocab, seqLen)
    val again = IngestDoor.readSourceAudit(spark, root)
      .filter(col("batch_id") === 0)
      .select("source", "n_docs", "n_tokens").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again === src, "source-audit replay must be idempotent")
  }

  test("optional LM quality gate: low-perplexity drop audits as n_lowq, dup attribution exact") {
    import graft.operators.TextOps
    val root = tempDir("door-lm")
    val evalGrams = Decontaminate
      .evalGramSet(evalDocs.toDF("doc_id", "text"), n = 6).localCheckpoint()
    val bloom = Decontaminate.bloomBytesOf(evalGrams)
    val natural = "the cat sat on the mat and the dog sat on the rug"
    // frozen LM from the natural slice; cutoff = exactly its own score,
    // so the natural doc admits (>=) and anything off-model fails
    val lmDf = TextOps.bigramLm(Seq((0L, natural)).toDF("doc_id", "text"))
      .localCheckpoint()
    val cut = TextOps.bigramLogprob(Seq((0L, natural)).toDF("doc_id", "text"), lmDf)
      .select((round(col("avg_logp") * 1e4)).cast("bigint"))
      .as[Long].head()
    val cuts = Seq(("en", cut)).toDF("lang", "cut_e4")
    // 10 natural → admitted; 11 gibberish (no LM bigram → unscorable,
    // fails CLOSED) → n_lowq; 12 duplicates 10's text → dup drop, NOT
    // lowq (attribution must split the two causes)
    val batch = Seq(
      (10L, natural, "en"),
      (11L, "zz qq vv kk ww pp rr tt yy uu ii oo", "en"),
      (12L, natural, "en")).toDF("doc_id", "text", "lang")
    val (_, vocab0) = Bpe.learn(Bpe.wordFreq(
      Seq((0L, natural)).toDF("doc_id", "text")), nMerges = 2)
    IngestDoor.applyBatch(batch, 0L, root, deny, evalGrams, bloom,
      vocab0.localCheckpoint(), seqLen, lmGate = Some((lmDf, cuts)))
    assert(IngestDoor.readCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSeq === Seq(10L))
    val a = IngestDoor.readAudit(spark, root)
      .select("n_in", "n_contaminated", "n_lowq", "n_dup_dropped", "n_admitted")
      .head()
    assert(a.toSeq === Seq(3L, 0L, 1L, 1L, 1L))
  }
}
