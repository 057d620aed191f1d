package graft

import graft.ingest.ReplayJson
import graft.operators.MinHashLsh
import graft.store.TableStore
import org.apache.spark.sql.functions.{col, split}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY §5.4) with raw ScalaCheck generators
  * (the scalatest bridge isn't in the offline cache, so cases are
  * sampled from a fixed seed): explode row-count conservation,
  * last-write-wins upsert, unescape round-trip, minhash invariants.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  test("frags explode: row count equals the sum of inner map sizes") {
    val innerGen = Gen.mapOf(Gen.choose(1, 999).map(_.toString).flatMap(k =>
      Gen.const(k -> List("v", "1", "k", "g", "10", "0"))))
    val outerGen = Gen.mapOfN(4, Gen.zip(
      Gen.choose(1600000000L, 1700000000L).map(_.toString), innerGen))
    for (outer <- samples(outerGen, 8)) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.createObjectNode()
      val pd = root.putObject("playersDead")
      outer.foreach { case (t, inner) =>
        val io = pd.putObject(t)
        inner.foreach { case (victim, leaf) =>
          val arr = io.putArray(victim)
          leaf.foreach(arr.add)
        }
      }
      val json = mapper.writeValueAsString(root)
      val parsed = ReplayJson.parsed(Seq((1, json)).toDF("replay_number", "json"))
      val expected = outer.values.map(_.size.toLong).sum
      assert(ReplayJson.frags(parsed).count() == expected, s"for $json")
    }
  }

  test("upsert: latest write wins for every key, all keys retained") {
    val batchGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 20), word))
    for ((b1, b2) <- samples(Gen.zip(batchGen, batchGen), 4)) {
      val root = tempDir("prop")
      val store = new TableStore(spark, root)
      store.upsertDPlayers(b1.toDF("id_from_json", "nickname"))
      store.upsertDPlayers(b2.toDF("id_from_json", "nickname"))
      val got = store.read("d_players").as[(Int, String)].collect().toMap
      assert(got.keySet == (b1.map(_._1) ++ b2.map(_._1)).toSet)
      // newest batch wins; within a batch the last occurrence wins
      // (reference executemany order)
      b2.map(_._1).foreach { k =>
        assert(got(k) == b2.filter(_._1 == k).last._2, s"key $k in $b2")
      }
    }
  }

  test("html_unescape round-trips escapeHtml4 for arbitrary strings") {
    import graft.functions.HtmlUnescape.html_unescape
    for (s <- samples(Gen.asciiPrintableStr, 20)) {
      val escaped = org.apache.commons.text.StringEscapeUtils.escapeHtml4(s)
      val got = Seq(escaped).toDF("x")
        .select(html_unescape(col("x"))).as[String].head()
      assert(got == s)
    }
  }

  test("native word_shingles equals the builtin transform spelling") {
    import graft.functions.WordShingles.word_shingles
    val texts = samples(Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))), 20) ++
      Seq("", "a", "a b", "a  b c", "ab cd ef gh")
    for (t <- texts) {
      val df = Seq(t).toDF("text")
      val native = df.select(word_shingles(col("text"), 3)).as[Seq[String]].head()
      val builtin = df.select(
        MinHashLsh.shinglesFromTokens(split(col("text"), " "), 3))
        .as[Seq[String]].head()
      assert(native == builtin, s"for text '$t'")
    }
  }

  test("native minhash_sigs equals the exploded groupBy spelling; direct bands match") {
    import org.apache.spark.sql.functions._
    val docsGen = Gen.listOfN(3, Gen.chooseNum(3, 15).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
    for ((texts, idx) <- samples(docsGen, 6).zipWithIndex) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = MinHashLsh.signatures(docs)
        .as[(Long, Int, String)].collect().toSet
      // reference spelling: explode shingles, min(md5(seed:sh)) per group
      val builtin = docs
        .select(col("doc_id"), explode(MinHashLsh.shingles(col("text"))).as("sh"))
        .select(col("doc_id"), col("sh"),
          explode(sequence(lit(0), lit(7))).as("seed"))
        .groupBy(col("doc_id"), col("seed"))
        .agg(min(md5(concat_ws(":", col("seed").cast("string"), col("sh"))))
          .as("minhash"))
        .as[(Long, Int, String)].collect().toSet
      assert(native == builtin, s"case $idx")
      val direct = MinHashLsh.bandBucketsDirect(docs)
        .as[(Long, Long, String)].collect().toSet
      val viaSigs = MinHashLsh.bandBuckets(MinHashLsh.signatures(docs))
        .as[(Long, Long, String)].collect().toSet
      assert(direct == viaSigs, s"bands case $idx")
      // non-dividing rowsPerBand: the trailing partial band must survive
      val direct3 = MinHashLsh.bandBucketsDirect(docs, 8, 3)
        .as[(Long, Long, String)].collect().toSet
      val viaSigs3 = MinHashLsh.bandBuckets(MinHashLsh.signatures(docs), 3)
        .as[(Long, Long, String)].collect().toSet
      assert(direct3 == viaSigs3, s"partial-band case $idx")
    }
  }

  test("native simhash equals the exploded groupBy spelling") {
    import graft.operators.SimHash
    val docsGen = Gen.listOfN(4, Gen.chooseNum(1, 15).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" "))))
    for (texts <- samples(docsGen, 5)) {
      val docs = (texts :+ "a  b") // doubled space edge case
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = SimHash.fingerprints(docs).as[(Long, Long)].collect().toMap
      val exploded = SimHash.fingerprintsExploded(docs)
        .as[(Long, Long)].collect().toMap
      assert(native == exploded)
    }
  }

  test("connected components: labels are invariant under pair order/direction") {
    import graft.operators.DedupGroups
    val pairGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(1L, 15L), Gen.choose(1L, 15L)))
      .map(_.filter(p => p._1 != p._2))
    for ((pairs, idx) <- samples(pairGen, 4).zipWithIndex if pairs.nonEmpty) {
      val base = DedupGroups.connectedComponents(
        pairs.toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
      val shuffled = DedupGroups.connectedComponents(
        scala.util.Random.javaRandomToRandom(new java.util.Random(idx))
          .shuffle(pairs.map(p => (p._2, p._1))) // reversed + reordered
          .toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
      assert(base == shuffled, s"case $idx: $pairs")
      // every label is the component minimum: it labels itself
      base.values.toSet.foreach((g: Long) => assert(base(g) == g))
    }
  }

  test("native lang_hits equals the five-regex-pass spelling") {
    import graft.operators.TextOps
    val token = Gen.oneOf(
      Gen.oneOf("the", "a", "of", "and", "is", "der", "die", "das", "und",
        "ist", "el", "los", "una", "y", "es", "le", "la", "et", "les", "des"),
      word,
      Gen.oneOf("этот", "中文", "a_b", "the-la", "7a", "_is_", "l'a", "(es)",
        "und,", "😀the", "", "   ", "anders", "thela"))
    val textGen = Gen.choose(0, 25).flatMap(n =>
      Gen.listOfN(n, token).map(_.mkString(" ")))
    val texts = samples(textGen, 40)
    val docs = (texts :+ (null: String)) // null text: both paths fall to 'fr'
      .zipWithIndex
      .map { case (t, i) => (i.toLong, t, "x") }.toDF("doc_id", "text", "lang")
    val native = TextOps.langId(docs).collect().map(_.toSeq).toSet
    val regex = TextOps.langIdRegex(docs).collect().map(_.toSeq).toSet
    assert(native == regex)
  }

  test("minhash: identical docs get identical signatures; jaccard is 1") {
    for (words <- samples(Gen.listOfN(10, word), 4)) {
      val text = words.mkString(" ")
      val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
      val sigs = MinHashLsh.signatures(docs)
        .as[(Long, Int, String)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(r => r._2 -> r._3).toMap }
      assert(sigs(1L) == sigs(2L))
      val j = MinHashLsh.jaccardVerify(docs, Seq((1L, 2L)).toDF("doc_a", "doc_b"))
        .select("jaccard").as[Double].head()
      assert(j == 1.0)
    }
  }

  private val eventsGen = Gen.nonEmptyListOf(Gen.zip(
    Gen.choose(1, 5),            // user_id
    Gen.choose(0, 86400),        // seconds offset
    Gen.oneOf("view", "click", "purchase")))

  test("funnel: matches brute-force per-user ordered-step evaluation") {
    val steps = Seq("view", "click", "purchase")
    for (evs <- samples(eventsGen, 6)) {
      val rows = evs.zipWithIndex.map { case ((u, s, ty), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + s * 1000L), u, ty)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.operators.EventOps.funnel(df, steps)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // brute force: walk each user's events chronologically
      val byUser = rows.groupBy(_._3)
      byUser.foreach { case (u, urows) =>
        var stage = 0
        var tPrev = Long.MinValue
        var go = true
        while (go && stage < steps.length) {
          val nxt = urows
            .filter(r => r._4 == steps(stage) && r._2.getTime > tPrev)
            .map(_._2.getTime)
          if (nxt.isEmpty) go = false
          else { tPrev = nxt.min; stage += 1 }
        }
        assert(got(u) == stage.toLong,
          s"user $u: got ${got(u)}, brute-force $stage in $urows")
      }
    }
  }

  test("asof join: prior ref equals the brute-force max strictly before") {
    for (evs <- samples(eventsGen, 6)) {
      val rows = evs.zipWithIndex.map { case ((u, s, ty), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + s * 1000L), u, ty)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.operators.EventOps.asofJoin(df, "purchase", "click")
        .collect()
        .map(r => r.getLong(0) -> Option(r.getTimestamp(3)).map(_.getTime)).toMap
      rows.filter(_._4 == "purchase").foreach { case (id, ts, u, _) =>
        // strictly before by (ts, event_id) ordering: same-ts clicks with a
        // SMALLER event_id count as prior
        val prior = rows.filter(r => r._4 == "click" && r._3 == u &&
          (r._2.getTime < ts.getTime ||
            (r._2.getTime == ts.getTime && r._1 < id)))
          .map(_._2.getTime)
        assert(got(id) == (if (prior.isEmpty) None else Some(prior.max)),
          s"purchase $id of user $u")
      }
    }
  }

  test("mixture resample: copy counts are floor(e) or floor(e)+1, dense") {
    import graft.operators.Sampling
    val epochsGen = Gen.zip(Gen.choose(0, 30).map(_ / 10.0), Gen.choose(0, 30).map(_ / 10.0))
    for ((ea, eb) <- samples(epochsGen, 5)) {
      val docs = (0L until 60L).map(i => (i, if (i % 2 == 0) "a" else "b"))
        .toDF("doc_id", "lang")
      val out = Sampling.mixtureResample(docs, "lang", col("doc_id"),
        epochs = Map("a" -> ea, "b" -> eb))
        .select("doc_id", "lang", "copy").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      out.groupBy(t => (t._1, t._2)).foreach { case ((_, lang), copies) =>
        val e = if (lang == "a") ea else eb
        val n = copies.length
        assert(n == e.floor.toLong || n == e.floor.toLong + 1, s"$lang×$e → $n")
        // copies are exactly 1..n
        assert(copies.map(_._3).sorted.sameElements(1L to n))
      }
      // strata with integer epochs replicate exactly
      Seq(("a", ea), ("b", eb)).filter(t => t._2 == t._2.floor).foreach {
        case (lang, e) =>
          val n = out.count(_._2 == lang)
          assert(n == (30 * e.toLong), s"integer epochs $lang×$e → $n rows")
      }
    }
  }

  test("seqPack: packs never overflow except oversize singletons; ids dense, order-monotone") {
    import graft.operators.SeqPack
    val docsGen = Gen.nonEmptyListOf(Gen.choose(1, 12))
    for ((toks, cap) <- samples(Gen.zip(docsGen, Gen.choose(4L, 16L)), 6)) {
      val df = toks.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" "), "en") }
        .toDF("doc_id", "text", "lang")
      val got = SeqPack.pack(df, "lang", cap)
        .select("doc_id", "n_tok", "pack_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // pack ids are dense from 0 and non-decreasing in doc order
      assert(got.head._3 == 0L)
      got.sliding(2).foreach {
        case Array((_, _, p1), (_, _, p2)) =>
          assert(p2 == p1 || p2 == p1 + 1, s"pack ids jump: $p1 → $p2")
        case _ =>
      }
      // no pack exceeds capacity unless it is a single oversize doc
      got.groupBy(_._3).values.foreach { members =>
        val total = members.map(_._2).sum
        assert(total <= cap || members.length == 1,
          s"pack over capacity with ${members.length} docs: $total > $cap")
      }
    }
  }

  test("zValue: de-interleaving recovers both inputs; z=0 iff both zero") {
    import graft.store.Layout
    val g = Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L))
    for (pairs <- Seq(samples(g, 40))) {
      val df = pairs.toDF("a", "b")
        .select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
        .as[(Long, Long, Long)].collect()
      df.foreach { case (a, b, z) =>
        var (ra, rb) = (0L, 0L)
        (0 until 16).foreach { i =>
          ra |= ((z >> (2 * i)) & 1L) << i
          rb |= ((z >> (2 * i + 1)) & 1L) << i
        }
        assert(ra == a && rb == b, s"z=$z did not round-trip ($a, $b)")
      }
    }
  }

  test("drift: KS(x, x) = 0 for any histogram; symmetric in its sides") {
    import graft.operators.Drift
    val g = Gen.nonEmptyListOf(Gen.choose(1, 300).map(_ / 10.0))
    for ((xs, ys) <- samples(Gen.zip(g, g), 5)) {
      val hx = Drift.centsHist(xs.toDF("value"), col("value")).localCheckpoint()
      val hy = Drift.centsHist(ys.toDF("value"), col("value")).localCheckpoint()
      val self = Drift.ksFromHists(hx, hx).collect().head.getAs[Double]("ks_stat")
      assert(self == 0.0, s"KS(x,x) = $self")
      val ab = Drift.ksFromHists(hx, hy).collect().head.getAs[Double]("ks_stat")
      val ba = Drift.ksFromHists(hy, hx).collect().head.getAs[Double]("ks_stat")
      assert(ab == ba, s"KS not symmetric: $ab vs $ba")
      assert(ab >= 0.0 && ab <= 1.0)
    }
  }

  test("drift: banded KS prefix ≡ naive single-window on band-crossing cents") {
    import graft.operators.Drift
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the pre-banding implementation, verbatim: one unpartitioned
    // cumulative window — the reference the banded plan must match
    def naiveKs(a: DataFrame, b: DataFrame): Double = {
      val byC = a.select(col("cents"), col("n").as("na"), lit(0L).as("nb"))
        .unionAll(b.select(col("cents"), lit(0L).as("na"), col("n").as("nb")))
        .groupBy(col("cents"))
        .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byC.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val dec = "decimal(19,0)"
      byC.withColumn("ca", sum(col("na")).over(w))
        .withColumn("cb", sum(col("nb")).over(w))
        .crossJoin(broadcast(tot))
        .select(abs(col("ca").cast(dec) * col("tb").cast(dec) -
          col("cb").cast(dec) * col("ta").cast(dec)).as("d_num"),
          col("ta"), col("tb"))
        .agg(max(col("d_num")).as("max_num"),
          max(col("ta")).as("n_a"), max(col("tb")).as("n_b"))
        .select(round(col("max_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("ks_stat"))
        .collect().head.getDouble(0)
    }
    def hist(vs: List[Long]): DataFrame =
      vs.toDF("cents").groupBy(col("cents")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
    // cents spanning many 2^16 bands on BOTH sides of zero: the
    // arithmetic-shiftright banding must stay monotone through the
    // negative range, and band-boundary rows must take exactly the
    // earlier bands' totals
    val wide = Gen.nonEmptyListOf(Gen.choose(-5000000L, 5000000L))
    // plus adversarial boundary values around band edges (k·2^16 ± 1)
    val edges = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(-40L, 40L), Gen.oneOf(-1L, 0L, 1L))
      .map { case (k, d) => (k << 16) + d })
    for ((as, bs) <- samples(Gen.zip(wide, edges), 4)) {
      val (ha, hb) = (hist(as), hist(bs))
      val banded = Drift.ksFromHists(ha, hb)
        .collect().head.getAs[Double]("ks_stat")
      assert(banded == naiveKs(ha, hb),
        s"banded KS diverged from the naive window")
      // self-distance stays 0 through the banded path too
      assert(Drift.ksFromHists(ha, ha)
        .collect().head.getAs[Double]("ks_stat") == 0.0)
    }
  }

  test("budgetSelect: selected set is a sort-prefix, fits the budget, maximal") {
    import graft.operators.Sampling
    val rowGen = Gen.zip(Gen.choose(0L, 10000L), Gen.choose(1L, 200L))
    for ((rows, pct) <- samples(Gen.zip(Gen.listOfN(60, rowGen), Gen.choose(5, 95)), 4)) {
      val df = rows.zipWithIndex
        .map { case ((sc, tk), i) => (i.toLong, sc, tk) }
        .toDF("key", "score", "n_tok")
      val got = Sampling.budgetSelect(df, col("key"), col("score"), col("n_tok"),
        budgetPct = pct)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
      val budget = rows.map(_._2).sum * pct / 100
      val sorted = rows.zipWithIndex
        .map { case ((sc, tk), i) => (i.toLong, sc, tk) }
        .sortBy { case (k, sc, _) => (-sc, k) }
      // expected: the maximal prefix of the (score desc, key) order
      // whose running token total stays within the budget
      var cum = 0L
      val expect = sorted.takeWhile { case (_, _, tk) => cum += tk; cum <= budget }
      assert(got.map(_._1).toSeq == expect.map(_._1),
        s"pct=$pct budget=$budget got=${got.map(_._1).toList}")
      if (got.nonEmpty) assert(got.last._4 <= budget)
    }
  }

  test("dsirWeights: per-doc weight equals brute-force bucket arithmetic") {
    import graft.operators.Sampling
    val docGen = Gen.zip(Gen.listOfN(12, word).map(_.mkString(" ")), Gen.oneOf(true, false))
    for (docs <- samples(Gen.listOfN(10, docGen), 3)) {
      val df = docs.zipWithIndex.map { case ((t, tgt), i) => (i.toLong, t, tgt) }
        .toDF("doc_id", "text", "tgt")
      val got = Sampling.dsirWeights(df, col("tgt"))
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> r._3).toMap
      // brute force in plain Scala with the same md5-hex bucket family
      def bucket(w: String): Int = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
        "0123456789abcdef".indexOf(d(31))
      }
      val toks = docs.zipWithIndex.flatMap { case ((t, tgt), i) =>
        t.split(" ").map(w => (i.toLong, tgt, bucket(w))) }
      val tt = toks.count(_._2).toLong
      val tr = toks.count(!_._2).toLong
      val llr = (0 until 16).map { b =>
        val ct = toks.count(x => x._2 && x._3 == b).toLong
        val cr = toks.count(x => !x._2 && x._3 == b).toLong
        b -> math.round(math.log(((ct + 1).toDouble / (tt + 16)) /
          ((cr + 1).toDouble / (tr + 16))) * 1e8)
      }.toMap
      val expect = toks.groupBy(_._1).view
        .mapValues(_.map(x => llr(x._3)).sum).toMap
      assert(got == expect)
    }
  }

  test("phash banding finds exactly the brute-force hamming<=1 frame pairs") {
    import graft.operators.Multimodal
    // the pigeonhole law under test: 2 disjoint 30-bit bands MUST
    // surface every pair within Hamming distance 1 (and the popcount
    // verify must drop everything else) — equivalence against a plain
    // Scala all-pairs reference on random single-frame payloads, with
    // exact duplicates injected so the pair set is never trivially empty
    val payloadGen = Gen.listOfN(64, Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
    def sig(f: Array[Byte]): Long = {
      val b = f.take(60).map(_ & 0xff); val tot = b.map(_.toLong).sum
      (0 until 60).foldLeft(0L)((a, j) =>
        if (b(j).toLong * 60 > tot) a | (1L << j) else a)
    }
    for (base <- samples(Gen.listOfN(9, payloadGen), 3)) {
      val ps = base ++ base.take(3) // exact dups: guaranteed hd-0 pairs
      val media = ps.zipWithIndex
        .map { case (p, i) => (i.toLong, p, "application/octet-stream") }
        .toDF("doc_id", "payload", "media_type")
      val sigs = ps.zipWithIndex.map { case (p, i) => (i.toLong, sig(p)) }
      val want = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= 1
      } yield (a, b)).toSet
      val got = Multimodal.phashNearDupPairs(media, frameBytes = 64, stride = 1)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == want)
      assert(want.nonEmpty) // the dup injection really exercised the law
    }
  }

  test("packTokenStreamRows: global slots are exactly 0..N-1, once each") {
    import graft.operators.SeqPack
    val tokensGen = Gen.choose(0, 7).flatMap(n => Gen.listOfN(n, word))
    for (docs <- samples(Gen.listOfN(8, tokensGen), 4)) {
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "tokens")
      val n = docs.map(_.size + 1).sum // +1 eos per doc
      for (l <- Seq(3, 5)) {
        val gpos = SeqPack.packTokenStreamRows(df, seqLen = l)
          .select("seq_id", "slot").as[(Long, Long)].collect()
          .map { case (s, sl) => s * l + sl }.sorted.toSeq
        assert(gpos == (0L until n.toLong), s"L=$l")
      }
    }
  }
}
