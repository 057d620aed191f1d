package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE merge learning + application: hand-computed merge tables on a
  * tiny corpus, the greedy left-to-right fold law on symbol chains, and
  * the encode join's memoization contract. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learn: hand-computed merges and greedy application") {
    // corpus: "low low lower" — pair counts round 1 over vocab
    //   low(2):  l-o 2, o-w 2 ; lower(1): l-o 1, o-w 1, w-e 1, e-r 1
    //   argmax: l-o (3) beats o-w (3)? no — both 3, tie breaks lhs asc: l < o
    val docs = Seq((0L, "low low lower")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 3)
    assert(merges.map(m => (m.rank, m.lhs, m.rhs, m.pairCount)) === Seq(
      (1, "l", "o", 3L),   // tie with o-w broken on lhs
      (2, "lo", "w", 3L),  // after merge 1, lo-w appears 3 times
      (3, "e", "r", 1L)))  // low(2) is fully merged; lower: low-e 1, e-r 1
    val state = vocab.select(col("w"), col("syms")).as[(String, Seq[String])]
      .collect().toMap
    assert(state("low") === Seq("low"))
    assert(state("lower") === Seq("low", "er"))
  }

  test("greedy fold is left-to-right non-overlapping on symbol chains") {
    // "a a a a a a" as one word of six a's: merging (a, a) greedily
    // gives [aa, aa, aa]; an odd chain leaves the tail singleton
    val docs = Seq((0L, "aaaaaa"), (1L, "aaaaa")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 1)
    assert(merges.head.lhs === "a" && merges.head.rhs === "a")
    // 6-chain: 5 adjacent pairs; 5-chain: 4 → pair_count 9
    assert(merges.head.pairCount === 9L)
    val state = vocab.select(col("w"), col("syms")).as[(String, Seq[String])]
      .collect().toMap
    assert(state("aaaaaa") === Seq("aa", "aa", "aa"))
    assert(state("aaaaa") === Seq("aa", "aa", "a"))
  }

  test("native bpe_fold ≡ chained aggregate folds; bpe_has_adjacent ≡ SQL guard") {
    import graft.functions.BpeFold
    // adversarial shapes: repeat chains (greedy non-overlap), a merge
    // whose OUTPUT feeds a later merge, singles, and an empty array
    val syms = Seq(
      Seq("a", "a", "a", "a", "a"),
      Seq("l", "o", "w", "e", "r"),
      Seq("a", "b", "a", "b", "c"),
      Seq("x"),
      Seq.empty[String]).toDF("syms")
    val table = Seq(("a", "a"), ("aa", "a"), ("a", "b"), ("ab", "c"),
      ("l", "o"), ("lo", "w"), ("e", "r"))
    val chained = table.foldLeft(syms) { case (df, (l, r)) =>
      df.withColumn("syms", Bpe.applyMerge(l, r))
    }
    val native = syms.withColumn("syms", BpeFold.bpe_fold(col("syms"), table))
    assert(native.as[Seq[String]].collect().toSeq ===
      chained.as[Seq[String]].collect().toSeq)
    // the fold is what the hand-law says, not just self-consistent
    // hand-law: [a×5] →(a,a) [aa,aa,a] →(aa,a) [aa,aaa];
    // [a,b,a,b,c] →(a,b) [ab,ab,c] →(ab,c) [ab,abc]
    assert(native.as[Seq[String]].collect().toSeq === Seq(
      Seq("aa", "aaa"), Seq("low", "er"), Seq("ab", "abc"),
      Seq("x"), Seq.empty[String]))
    val pairs = Seq(("a", "a"), ("e", "r"))
    val sqlGuard = syms.withColumn("g",
      pairs.map { case (l, r) => Bpe.hasAdjacent(l, r) }.reduce(_ || _))
    val nativeGuard = syms.withColumn("g",
      BpeFold.bpe_has_adjacent(col("syms"), pairs))
    assert(nativeGuard.select("g").as[Boolean].collect().toSeq ===
      sqlGuard.select("g").as[Boolean].collect().toSeq)
    assert(nativeGuard.select("g").as[Boolean].collect().toSeq ===
      Seq(true, true, false, false, false))
  }

  test("learn stops early when no adjacent pair remains") {
    val docs = Seq((0L, "ab ab")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 10)
    assert(merges.map(m => (m.lhs, m.rhs)) === Seq(("a", "b")))
    assert(vocab.select(col("syms")).as[Seq[String]].collect().toSeq ===
      Seq(Seq("ab")))
  }

  test("encodeStats: per-doc counts via the encoded-vocab join, both join strategies") {
    val docs = Seq((0L, "low low lower"), (1L, "lower")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 3)
    val expected = Seq(
      Seq[Any](0L, 3L, 11L, 4L, 0L), // low+low+lower([low, er]); chars 3+3+5
      Seq[Any](1L, 1L, 5L, 2L, 0L))
    assert(rowSet(Bpe.encodeStats(docs, vocab)) === expected)
    assert(rowSet(Bpe.encodeStats(docs, vocab, broadcastVocab = false)) ===
      expected)
  }

  test("encodeStats counts out-of-vocabulary words instead of dropping them") {
    val train = Seq((0L, "low low lower")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(train), nMerges = 3)
    // 'high' never entered the vocabulary; 'all-oov' doc has no in-vocab
    // word at all, so its token count is NULL (unknown), never 0
    val docs = Seq((0L, "low high"), (1L, "high higher")).toDF("doc_id", "text")
    assert(rowSet(Bpe.encodeStats(docs, vocab)) === Seq(
      Seq[Any](0L, 2L, 7L, 1L, 1L),
      Seq[Any](1L, 2L, 10L, null, 2L)))
  }

  test("fold invariants on random corpora: char mass conserved, token count monotone") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpus = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word))
    for (i <- 0 until 6) {
      val words = corpus(Gen.Parameters.default, Seed(7L + i)).get
      val docs = words.zipWithIndex.map { case (w, j) => (j.toLong, w) }
        .toDF("doc_id", "text")
      val (merges, vocab) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 4)
      val state = vocab.select(col("w"), col("syms"))
        .as[(String, Seq[String])].collect()
      // every word's symbols concatenate back to the word (no char
      // created or lost by any merge), and the merge table only ever
      // SHRINKS a sequence: |syms| <= |word|
      state.foreach { case (w, syms) =>
        assert(syms.mkString === w, s"char mass broken for '$w'")
        assert(syms.nonEmpty && syms.size <= w.length)
      }
      // ranks are 1..k with positive counts
      assert(merges.map(_.rank) === (1 to merges.size))
      assert(merges.forall(_.pairCount > 0))
    }
  }

  test("encodeTokens materializes the word-order token sequence; OOV falls back to chars") {
    val train = Seq((0L, "low low lower")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(train), nMerges = 3)
    // low → [low]; lower → [low, er]; OOV 'he' → chars [h, e]
    val docs = Seq((0L, "lower he low")).toDF("doc_id", "text")
    val toks = Bpe.encodeTokens(docs, vocab)
      .select(col("tokens")).as[Seq[String]].collect().head
    assert(toks === Seq("low", "er", "h", "e", "low"))
  }

  test("marked encode + decode round-trips exactly, OOV and testdata included") {
    val train = Seq((0L, "low low lower")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(train), nMerges = 3)
    val docs = Seq((0L, "lower he low")).toDF("doc_id", "text")
    val toks = Bpe.encodeTokensMarked(docs, vocab)
      .select(col("tokens")).as[Seq[String]].collect().head
    // each word's LAST symbol carries the marker — in-vocab and the
    // OOV char fallback alike
    assert(toks === Seq("low", "er</w>", "h", "e</w>", "low</w>"))
    assert(Bpe.decodeTokens(Bpe.encodeTokensMarked(docs, vocab))
      .select(col("text")).as[String].collect().head === "lower he low")
    // the round-trip LAW over real testdata under a vocab learned
    // elsewhere (plenty of OOV): decode ∘ encodeMarked is identity on
    // single-spaced text
    val td = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val back = Bpe.decodeTokens(Bpe.encodeTokensMarked(td, vocab))
    val diff = td.join(back.withColumnRenamed("text", "graft_back"),
      Seq("doc_id"))
      .filter(col("text") =!= col("graft_back")).count()
    assert(diff === 0L, "round-trip must be identity on the corpus")
  }

  test("marked encode keeps empty docs: empty tokens array, decode restores empty text") {
    // an empty-text doc has no words, so a bare groupBy would drop the
    // row entirely (r13 ADVICE) — the doc-set rejoin keeps it, and the
    // round-trip law extends to the empty case
    val train = Seq((0L, "low low lower")).toDF("doc_id", "text")
    val (_, vocab) = Bpe.learn(Bpe.wordFreq(train), nMerges = 3)
    val docs = Seq((0L, "low"), (1L, "")).toDF("doc_id", "text")
    val toks = Bpe.encodeTokensMarked(docs, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(toks.keySet === Set(0L, 1L), "empty docs must not vanish")
    assert(toks(1L) === Seq.empty[String])
    val back = Bpe.decodeTokens(Bpe.encodeTokensMarked(docs, vocab))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back === Map(0L -> "low", 1L -> ""))
  }

  test("learnBatched(k, 1) ≡ learn(k): batch size one is sequential BPE") {
    for (corpus <- Seq("low low lower", "xy yx xy yx", "aaaaaa aaaaa ab")) {
      val docs = Seq((0L, corpus)).toDF("doc_id", "text")
      val (seqM, seqV) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 4)
      val (batM, batV) =
        Bpe.learnBatched(Bpe.wordFreq(docs), nRounds = 4, batchSize = 1)
      assert(batM === seqM, s"merge tables diverged on '$corpus'")
      assert(rowSet(batV) === rowSet(seqV), s"final state diverged on '$corpus'")
    }
  }

  test("learnBatched ≡ sequential when the round's picks don't interact") {
    // pairs (a,b):9, (c,d):6, (e,f):3 share no symbol — one batched
    // round of 3 must learn exactly what 3 sequential rounds learn,
    // counts included (non-interaction means no count moves between)
    val docs = (Seq.fill(9)("ab") ++ Seq.fill(6)("cd") ++ Seq.fill(3)("ef"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val (seqM, seqV) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 3)
    val (batM, batV) =
      Bpe.learnBatched(Bpe.wordFreq(docs), nRounds = 1, batchSize = 3)
    assert(batM === seqM)
    assert(rowSet(batV) === rowSet(seqV))
  }

  test("learnBatched defers a candidate conflicting with a higher-ranked pick") {
    // (a,b):5 outranks (b,a):4 and shares both symbols — round 1 may
    // only accept (a,b); (b,a) must wait for round 2's recount
    val docs = (Seq.fill(5)("ab") ++ Seq.fill(4)("ba"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val (m, _) = Bpe.learnBatched(Bpe.wordFreq(docs), nRounds = 2, batchSize = 3)
    assert(m.map(x => (x.rank, x.lhs, x.rhs, x.pairCount)) ===
      Seq((1, "a", "b", 5L), (2, "b", "a", 4L)))
  }

  test("argmax tiebreak is (count desc, lhs, rhs) — deterministic re-run") {
    val docs = Seq((0L, "xy yx xy yx")).toDF("doc_id", "text")
    val a = Bpe.learn(Bpe.wordFreq(docs), nMerges = 2)._1
    val b = Bpe.learn(Bpe.wordFreq(docs), nMerges = 2)._1
    assert(a === b)
    // x-y and y-x both count 2; x < y so (x, y) wins round 1
    assert(a.head.lhs === "x" && a.head.rhs === "y")
  }

  test("learnDelta ≡ learn: identical merge table and final state") {
    val docs = Seq((0L, "low low lower lowest"), (1L, "new newer newest low"))
      .toDF("doc_id", "text")
    val (seqM, seqV) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 8)
    val (delM, delV) = Bpe.learnDelta(Bpe.wordFreq(docs), nRounds = 8)
    assert(delM === seqM)
    assert(rowSet(delV) === rowSet(seqV))
  }

  test("learnDelta batched ≡ learnBatched on both delta-merge paths") {
    val docs = Seq((0L, "low low lower lowest"), (1L, "new newer newest low"))
      .toDF("doc_id", "text")
    val (batM, batV) =
      Bpe.learnBatched(Bpe.wordFreq(docs), nRounds = 3, batchSize = 3)
    for (bcast <- Seq(true, false)) {
      val (delM, delV) = Bpe.learnDelta(Bpe.wordFreq(docs), nRounds = 3,
        batchSize = 3, broadcastDelta = bcast)
      assert(delM === batM, s"merge tables diverged (broadcastDelta=$bcast)")
      assert(rowSet(delV) === rowSet(batV),
        s"final state diverged (broadcastDelta=$bcast)")
    }
  }

  test("learnDelta stops early when no adjacent pair remains") {
    val docs = Seq((0L, "ab ab")).toDF("doc_id", "text")
    val (merges, vocab) = Bpe.learnDelta(Bpe.wordFreq(docs), nRounds = 10)
    assert(merges.map(m => (m.lhs, m.rhs)) === Seq(("a", "b")))
    assert(vocab.select(col("syms")).as[Seq[String]].collect().toSeq ===
      Seq(Seq("ab")))
  }

  test("learnContinue ≡ learn: prefix-stability (merge table and state)") {
    val docs = Seq((0L, "low low lower lowest"), (1L, "new newer newest low"))
      .toDF("doc_id", "text")
    val wf = Bpe.wordFreq(docs)
    val (m6, v6) = Bpe.learn(wf, nMerges = 6)
    for (k <- Seq(1, 3, 5)) {
      val (mk, vk) = Bpe.learn(wf, nMerges = k)
      val (mc, vc) = Bpe.learnContinue(vk, mk, nMore = 6 - k)
      assert(mc === m6, s"composed table diverged at split k=$k")
      assert(rowSet(vc) === rowSet(v6), s"composed state diverged at k=$k")
    }
  }

  test("tokenizer artifact round-trips; continuation and encode survive reload") {
    val docs = Seq((0L, "low low lower lowest"), (1L, "new newer newest low"))
      .toDF("doc_id", "text")
    val wf = Bpe.wordFreq(docs)
    val (m3, v3) = Bpe.learn(wf, nMerges = 3)
    val tmp = tempDir("tokenizer-spec")
    Bpe.writeTokenizer(tmp, m3, v3)
    val (mR, vR) = Bpe.readTokenizer(spark, tmp)
    assert(mR === m3)
    assert(rowSet(vR) === rowSet(v3))
    assert(rowSet(Bpe.encodeTokens(docs, vR)) ===
      rowSet(Bpe.encodeTokens(docs, v3)))
    val (m6, v6) = Bpe.learn(wf, nMerges = 6)
    val (mc, vc) = Bpe.learnContinue(vR, mR, nMore = 3)
    assert(mc === m6, "continuation from the reloaded artifact diverged")
    assert(rowSet(vc) === rowSet(v6))
  }

  test("applyMerges rebuilds learn's final state from the table alone") {
    val docs = Seq((0L, "low low lower lowest"), (1L, "new newer newest low"))
      .toDF("doc_id", "text")
    val wf = Bpe.wordFreq(docs)
    // 9 merges straddles the 8-fold checkpoint boundary
    val (m9, v9) = Bpe.learn(wf, nMerges = 9)
    assert(rowSet(Bpe.applyMerges(wf, m9)) === rowSet(v9))
  }

  test("learnDelta ≡ learn on random corpora (the maintained-count invariant)") {
    // the law that makes delta maintenance safe: after any round the
    // maintained table equals a fresh recount, so the whole recurrence
    // (argmax, tiebreaks, early stop) replays bit-identically —
    // exercised over random corpora where pairs re-form after merges
    // (the (a,b)-reappears case that makes the "new pair" set subtle)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpus = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word))
    for (i <- 0 until 4) {
      val words = corpus(Gen.Parameters.default, Seed(23L + i)).get
      val docs = words.zipWithIndex.map { case (w, j) => (j.toLong, w) }
        .toDF("doc_id", "text")
      val (seqM, seqV) = Bpe.learn(Bpe.wordFreq(docs), nMerges = 5)
      val (delM, delV) = Bpe.learnDelta(Bpe.wordFreq(docs), nRounds = 5)
      assert(delM === seqM, s"merge tables diverged on seed ${23L + i}")
      assert(rowSet(delV) === rowSet(seqV),
        s"final state diverged on seed ${23L + i}")
    }
  }
}
