package graft.ops

import graft.SparkSpec

/** Hand-computed BPE merge-mining pins: weighted pair counts, the
  * leftmost-non-overlapping apply, placeholder expansion, tie order —
  * on the distributed reference miner ([[BpeReference]]), which the
  * driver-side trainer, the flat census operators and the flat encode
  * are then pinned against.
  */
class BpeMinerSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private def merges(texts: Seq[String], rounds: Int) =
    BpeReference.topMerges(texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      rounds)
      .as[(Long, String, String, Long)].collect().toSeq

  test("three rounds on a hand-computed vocabulary") {
    // vocab: "abab"×2, "abc"×1
    // r1 pairs: ab = 2·2+1 = 5, ba = 2, bc = 1 → merge (a,b,5)
    //   apply: abab→⟨P1⟩⟨P1⟩, abc→⟨P1⟩c
    // r2 pairs: (P1,P1) = 2, (P1,c) = 1 → merge (ab,ab,2)
    //   apply: ⟨P1⟩⟨P1⟩→⟨P2⟩ (single symbol, no pairs left)
    // r3 pairs: (P1,c) = 1 → merge (ab,c,1)
    val got = merges(Seq("abab abab", "abc"), rounds = 3)
    assert(got == Seq(
      (1L, "a", "b", 5L),
      (2L, "ab", "ab", 2L),
      (3L, "ab", "c", 1L)), got.toString)
  }

  test("count ties break by (left, right) byte order") {
    // xy and yz both appear once → (x,y) wins on the left symbol
    assert(merges(Seq("xy yz"), rounds = 1) ==
      Seq((1L, "x", "y", 1L)))
  }

  test("the apply is leftmost-non-overlapping: aaa collapses to Xa") {
    // vocab "aaa"×1: r1 pair (a,a) counts BOTH adjacencies (2), the
    // apply rewrites leftmost-first to ⟨P1⟩a, so r2's top pair is
    // (aa, a) with count 1 — the replace-all convention both engines
    // share scans left to right without overlap
    val got = merges(Seq("aaa"), rounds = 2)
    assert(got == Seq(
      (1L, "a", "a", 2L),
      (2L, "aa", "a", 1L)), got.toString)
  }

  test("compressionSummary: weighted symbol counts before and after") {
    // vocab abab×2 abc×1 → before = 2·4 + 1·3 = 11; after three
    // merges (ab, abab, abc) every word is ONE symbol → after = 3
    val df = Seq((1L, "abab abab"), (2L, "abc")).toDF("doc_id", "text")
    val got = BpeReference.compressionSummary(df, rounds = 3)
      .as[(Long, Long, Double)].collect().head
    assert(got == ((11L, 3L, 11.0 / 3.0)), got.toString)
  }

  test("normalization feeds the vocabulary: case folds, spaces collapse") {
    // "AB  ab" → tokens ab, ab → vocab ab×2 → merge (a,b,2)
    assert(merges(Seq("AB  ab"), rounds = 1) ==
      Seq((1L, "a", "b", 2L)))
  }

  test("encode applies the mined merges and emits code-point ids " +
      "(merged symbols ride their merge-rank placeholders at U+E000+)") {
    // merges (hand-computed above): r1 (a,b)→U+E000, r2 (ab,ab)→U+E001,
    // r3 (ab,c)→U+E002.
    // doc 0 "abab abab": both words → U+E001 → ids [57345, 57345]
    // doc 1 "abc":       → U+E000 c → U+E002 → ids [57346]
    val df = Seq((0L, "web", "abab abab"), (1L, "web", "abc"))
      .toDF("doc_id", "source", "text")
    val got = BpeReference.encode(df, rounds = 3).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq(
      (0L, "web", 2L, md5s("57345,57345"), "57345,57345"),
      (1L, "web", 1L, md5s("57346"), "57346")), got.toString)
    // unmerged characters encode as their own code points; a merged
    // pair rides 0xE000 + (rank - 1)
    val plain = Seq((0L, "web", "qv xx"))
      .toDF("doc_id", "source", "text")
    val p = BpeReference.encode(plain, rounds = 1).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().head
    // r1 pair counts: qv=1, xx=1 → (q,v) wins on byte order →
    // "qv"→U+E000, "xx" stays x(120) x(120)
    assert(p._3 == 3L && p._5 == "57344,120,120", p.toString)
  }

  test("native encode == composed-HOF encode (ladder parity)") {
    // mixed shapes: repeated words, a 1-char word, an empty doc, a
    // non-ASCII char (code point above 127), and a doc that is pure
    // whitespace after normalization
    val df = Seq(
      (0L, "web", "abab abab abc"),
      (1L, "web", "a"),
      (2L, "news", ""),
      (3L, "news", "   "),
      (4L, "web", "abé abé x"))
      .toDF("doc_id", "source", "text")
    // rounds capped at 4: this corpus has exactly 4 mineable pair
    // merges, and an empty round annihilates both paths identically
    // (a trivial parity pass, not a useful one)
    for (rounds <- Seq(1, 3, 4)) {
      val native = BpeReference.encode(df, rounds).orderBy("doc_id")
        .collect().toSeq
      val hof = BpeReference.encodeHof(df, rounds).orderBy("doc_id")
        .collect().toSeq
      assert(native == hof, s"rounds=$rounds: $native vs $hof")
    }
  }

  test("rounds beyond the old 4-placeholder cap mine real merges") {
    // corpus engineered so 8 distinct pair merges exist: repeated
    // multi-char words with disjoint alphabets
    val texts = Seq.fill(4)("abcd efgh ijkl mnop qrst uvwx") ++
      Seq("abcd abcd", "efgh", "zz")
    val got = merges(texts, rounds = 8)
    assert(got.size == 8, got.toString)
    assert(got.map(_._1) == (1L to 8L), got.toString)
    // every emitted symbol is fully expanded: no private-use
    // placeholder may survive into the output
    got.foreach { case (_, l, r, _) =>
      assert(!(l + r).exists(c => c >= 0xE000.toChar && c <= 0xF8FF.toChar),
        s"unexpanded placeholder in ($l, $r)")
    }
  }

  test("mergeCurve: per-round recounts, NOT the pair-count subtraction " +
      "(overlapping pairs make the identity false)") {
    // vocab "aaaa"×1: r1 pair (a,a) counts 3 overlapping adjacencies,
    // but the leftmost-non-overlapping apply gives P1P1 — symbols
    // 4 → 2 (drop 2, not 3). r2 merges (aa,aa) count 1 → 1 symbol.
    val df = Seq((0L, "aaaa")).toDF("doc_id", "text")
    val got = BpeReference.mergeCurve(df, rounds = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 4L, 2L),
      (2L, 1L, 4L, 1L)), got.toString)
    // and the multi-word corpus agrees with compressionSummary's
    // endpoint at the same depth
    val df2 = Seq((1L, "abab abab"), (2L, "abc")).toDF("doc_id", "text")
    val curve = BpeReference.mergeCurve(df2, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
    val summary = BpeReference.compressionSummary(df2, rounds = 3)
      .as[(Long, Long, Double)].collect().head
    assert(curve.last._4 == summary._2 &&
      curve.head._3 == summary._1, s"${curve.toSeq} vs $summary")
  }

  test("encodedLengths matches encode's n_tokens and feeds packByLength") {
    val df = Seq((0L, "web", "abab abab"), (1L, "web", "abc"),
      (2L, "news", "abab abc abab"))
      .toDF("doc_id", "source", "text")
    val viaEncode = BpeReference.encode(df, rounds = 3)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val viaLengths = BpeReference.encodedLengths(df, rounds = 3)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(viaEncode == viaLengths, s"$viaEncode vs $viaLengths")
    // pack on the encoded lengths: per-source exclusive prefix // target
    val packed = Chunking.packByLength(
      BpeReference.encodedLengths(df, rounds = 3), targetTokens = 2)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // web: doc0 len 2 prefix 0 → pack 0; doc1 prefix 2 → pack 1
    // news: doc2 prefix 0 → pack 0
    assert(packed == Map(0L -> 0L, 1L -> 1L, 2L -> 0L), packed.toString)
  }

  test("encodeWithMerges == inline encode given rawMerges, including " +
      "through a parquet round-trip (the RunBpe lifecycle)") {
    val df = Seq((0L, "web", "abab abab"), (1L, "web", "abc"),
      (2L, "news", "xy abc zq zq"), (3L, "web", ""))
      .toDF("doc_id", "source", "text")
    val inline = BpeReference.encode(df, rounds = 3).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq

    val raw = BpeMiner.rawMerges(df, rounds = 3)
    val direct = BpeMiner.encodeWithMerges(df, raw).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq
    assert(direct == inline, s"direct=$direct inline=$inline")

    // the persisted form: write the model, read it back, encode
    val dir = java.nio.file.Files
      .createTempDirectory("bpe_model").toString
    raw.coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    val loaded = graft.SparkTestSession.spark.read
      .parquet(s"$dir/merges")
    val roundTrip = BpeMiner.encodeWithMerges(df, loaded)
      .orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq
    assert(roundTrip == inline, s"roundTrip=$roundTrip")

    // raw form really is placeholder-bearing past round 1 (the model
    // is the machine form, not the expanded human view)
    val rawRows = raw.orderBy("merge_rank")
      .as[(Long, String, String, Long)].collect()
    assert(rawRows(2)._2 == "\uE000" && rawRows(2)._3 == "c",
      rawRows.toSeq.toString)
  }

  // ------------------------------------------------------------------
  // Round-18 flat-encode ladder: the driver-side trainer and the
  // priority-merge table must replay the distributed mine + replace
  // chain EXACTLY; then the flat path is the one allowed to go deep.
  // ------------------------------------------------------------------

  private def realDocs = graft.SparkTestSession.spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  /** The deep-rounds vocabulary-diversity plant the bpe_encode /
    * bpe_pack / bpe_fertility queries use (the fixture's natural
    * vocabulary is 30 words ≈ 90 mineable pairs — rounds=256 needs
    * one planted pseudo-word per doc).
    */
  private def plantedDocs = {
    import org.apache.spark.sql.functions._
    realDocs.withColumn("text",
      concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
  }

  test("trainMergesLocal == distributed mine, rank for rank, on the " +
      "real sf0.001 corpus at depth 16 (counts, symbols, tie-breaks)") {
    val local = BpeMiner.trainMergesLocal(realDocs, rounds = 16)
      .zipWithIndex.map { case ((l, r, c), i) => (i + 1L, l, r, c) }.toSeq
    val mined = BpeReference.rawMergesViaMine(realDocs, rounds = 16)
      .orderBy("merge_rank")
      .as[(Long, String, String, Long)].collect().toSeq
    assert(local == mined, s"local=$local\nmined=$mined")
  }

  test("flat census operators == distributed mine on the real " +
      "sf0.001 corpus at depth 16 (the declared-query shape): " +
      "topMerges, mergeCurve, compressionSummary") {
    // topMergesFlat: placeholder expansion replayed driver-side
    val tmFlat = BpeMiner.topMergesFlat(realDocs, rounds = 16)
      .as[(Long, String, String, Long)].collect().toSeq
    val tm = BpeReference.topMerges(realDocs, rounds = 16)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(tmFlat == tm, s"flat=$tmFlat\nmined=$tm")
    // mergeCurveFlat: per-round weighted symbol recount in memory
    val mcFlat = BpeMiner.mergeCurveFlat(realDocs, rounds = 16)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val mc = BpeReference.mergeCurve(realDocs, rounds = 16)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(mcFlat == mc, s"flat=$mcFlat\nmined=$mc")
    // compressionSummaryFlat: same BIGINTs, same IEEE division
    val csFlat = BpeMiner.compressionSummaryFlat(realDocs, rounds = 16)
      .as[(Long, Long, Double)].collect().head
    val cs = BpeReference.compressionSummary(realDocs, rounds = 16)
      .as[(Long, Long, Double)].collect().head
    assert(csFlat == cs, s"flat=$csFlat mined=$cs")
  }

  test("trainMergesLocal vocab bound (ADVICE r18): rank-parity at " +
      "the exact cap, loud failure below it, minCount floor drops " +
      "exactly the hapax tail") {
    import org.apache.spark.sql.functions._
    val vocabSize = realDocs.filter(col("text").isNotNull)
      .select(explode(split(
        graft.ops.TextDedup.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 1)
      .select(col("w")).distinct().count().toInt
    val unbounded = BpeMiner.trainMergesLocal(realDocs, rounds = 8).toSeq
    // cap == actual vocabulary: identical merges, rank for rank
    val atCap = BpeMiner.trainMergesLocal(realDocs, rounds = 8,
      maxVocab = vocabSize).toSeq
    assert(atCap == unbounded)
    // cap one below: the hard gate throws with remediation guidance
    // instead of silently truncating (or OOMing at scale); the advice
    // names only the trainer's own knobs
    val e = intercept[IllegalArgumentException] {
      BpeMiner.trainMergesLocal(realDocs, rounds = 8,
        maxVocab = vocabSize - 1)
    }
    assert(e.getMessage.contains("raise minCount") &&
      e.getMessage.contains("or maxVocab") &&
      !e.getMessage.contains("rawMergesViaMine"), e.getMessage)
    // minCount=2 drops exactly the count-1 tail: the planted one-per-
    // doc pseudo-words (the deep-gate corpus shape the r18 ADVICE
    // flagged as breaking the Zipf justification) vanish, leaving
    // training identical to the unplanted corpus at the same floor
    val floored = BpeMiner.trainMergesLocal(plantedDocs, rounds = 8,
      minCount = 2L).toSeq
    val base = BpeMiner.trainMergesLocal(realDocs, rounds = 8,
      minCount = 2L).toSeq
    assert(floored == base)
  }

  test("committed merges fixture: imported-dialect token counts " +
      "match the hand derivations written in the fixture header") {
    val merges = BpeMiner.loadMergesResource("/graft/merges_fixture.txt")
    assert(merges == Seq(("t", "h"), ("th", "e"), ("q", "x"),
      ("qx", "z"), ("a", "b"), ("ab", "ab")), merges.toString)
    val docs = Seq((1L, "the qxz ababab zzz thethe"))
      .toDF("doc_id", "text")
    val got = BpeMiner.encodedLengthsWithImportedMerges(docs, merges)
      .as[(Long, Long)].collect().head
    // hand counts: the=1, qxz=1, ababab=2, zzz=3, thethe=2
    assert(got == ((1L, 9L)), got.toString)
  }

  test("encodeFlat == chain encode and encodedLengthsFlat == " +
      "encodedLengths at rounds=16 on the real corpus") {
    val chain = BpeReference.encode(realDocs, rounds = 16).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq
    val flat = BpeMiner.encodeFlat(realDocs, rounds = 16).orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect().toSeq
    assert(flat == chain)
    val chainLen = BpeReference.encodedLengths(realDocs, rounds = 16)
      .as[(Long, String, Long)].collect().toSet
    val flatLen = BpeMiner.encodedLengthsFlat(realDocs, rounds = 16)
      .as[(Long, String, Long)].collect().toSet
    assert(flatLen == chainLen)
  }

  test("the flat plan does not grow with merge depth (one expression " +
      "node at rounds=16 and rounds=256 alike, zero joins)") {
    def shape(rounds: Int): (Int, Int) = {
      val plan = BpeMiner.encodeFlat(plantedDocs, rounds)
        .queryExecution.optimizedPlan
      val nodes = plan.collect { case p => p }.size
      val joins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
      (nodes, joins)
    }
    val (n16, j16) = shape(16)
    val (n256, j256) = shape(256)
    assert(n16 == n256, s"plan grew with rounds: $n16 vs $n256 nodes")
    assert(j16 == 0 && j256 == 0, s"joins in the flat plan: $j16/$j256")
  }

  test("deep encode at rounds=256: monotone compression vs depth 16, " +
      "ids stay inside base+placeholder alphabets") {
    val flat16 = BpeMiner.encodedLengthsFlat(plantedDocs, rounds = 16)
      .as[(Long, String, Long)].collect().map(t => t._1 -> t._3).toMap
    val flat256 = BpeMiner.encodeFlat(plantedDocs, rounds = 256)
      .orderBy("doc_id")
      .as[(Long, String, Long, String, String)].collect()
    assert(flat256.nonEmpty)
    // 240 extra merges can only shorten (or keep) every document
    flat256.foreach { case (id, _, n, _, _) =>
      assert(n <= flat16(id), s"doc $id grew: $n > ${flat16(id)}")
    }
    assert(flat256.map(_._3).sum < flat16.values.sum)
    // head ids are code points: base chars or U+E000..U+E0FF
    // placeholders (256 rounds)
    flat256.flatMap(_._5.split(",")).filter(_.nonEmpty).map(_.toInt)
      .foreach { id =>
        assert(id < 0xE000 + 256 && (id < 0xE000 || id >= 0xE000),
          s"id $id outside the expected alphabets")
        assert(!(id > 0xE000 + 255 && id <= 0xF8FF),
          s"placeholder beyond the trained rank range: $id")
      }
  }

  test("a 4096-merge table still encodes through ONE expression " +
      "(the realistic-vocabulary plan the chain form cannot build)") {
    // synthetic rank table over disjoint pairs \u2014 the plan/size probe;
    // semantics are pinned by the parity tests above
    val merges = (0 until 4096).map { i =>
      (new String(Character.toChars(0x4E00 + 2 * i)),
        new String(Character.toChars(0x4E00 + 2 * i + 1)))
    }
    val table = graft.functions.BpeMergeTable.fromRawMerges(merges)
    val df = Seq((0L, "web", new String(Character.toChars(0x4E00)) +
      new String(Character.toChars(0x4E01)) + " plain"))
      .toDF("doc_id", "source", "text")
    val out = BpeMiner.encodeWithTable(df, table)
      .as[(Long, String, Long, String, String)].collect().head
    // first pair merges to rank-0 placeholder; "plain" stays 5 chars
    assert(out._3 == 6L && out._5.startsWith("57344,"), out.toString)
    val nodes = BpeMiner.encodeWithTable(df, table)
      .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes <= 3, s"plan should be project-over-scan, got $nodes")
  }
}
