package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the LLM-data-pipeline text operators: exact dedup,
  * MinHash/LSH near-dup, SimHash, Jaccard verify, and text analysis.
  */
class TextOpsSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---------------------------------------------------------- exact dedup

  test("exactDupGroups keys on normalized text and keeps min doc_id") {
    val d = docs(
      1L -> "Hello  World",
      2L -> "  hello world ",
      3L -> "something else")
    val groups = TextDedup.exactDupGroups(d)
      .orderBy("keep_doc_id").collect()
    assert(groups.length == 2)
    assert(groups(0).getAs[Long]("keep_doc_id") == 1L)
    assert(groups(0).getAs[Long]("dup_count") == 2L)
    assert(groups(1).getAs[Long]("keep_doc_id") == 3L)
  }

  test("exactDedupKeepFirst keeps exactly the first doc per text") {
    val d = docs(5L -> "a b c", 2L -> "A  B  C", 9L -> "unique")
    val kept = TextDedup.exactDedupKeepFirst(d)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 9L))
  }

  test("lineDedup drops corpus-frequent lines, keeps document order") {
    val d = docs(
      1L -> "unique one\nBOILER\nunique two",
      2L -> "BOILER\nother text",
      3L -> "BOILER\nBOILER", // all lines dropped -> empty doc survives
      4L -> "self\nself\nkeep me") // own repetition trips the threshold
    val r = TextDedup.lineDedup(d).orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("n_lines")).toSeq == Seq(3L, 2L, 2L, 3L))
    assert(r.map(_.getAs[Long]("kept_lines")).toSeq == Seq(2L, 1L, 0L, 1L))
    assert(r.map(_.getAs[String]("dedup_text")).toSeq ==
      Seq("unique one\nunique two", "other text", "", "keep me"))
  }

  test("lineDedupKeepFirst keeps the global first occurrence only") {
    val d = docs(
      1L -> "unique one\nBOILER\nunique two",
      2L -> "BOILER\nother text",
      3L -> "BOILER\nBOILER",
      4L -> "self\nself\nkeep me") // within-doc repeat: first pos wins
    val r = TextDedup.lineDedupKeepFirst(d).orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("n_lines")).toSeq == Seq(3L, 2L, 2L, 3L))
    assert(r.map(_.getAs[Long]("kept_lines")).toSeq == Seq(3L, 1L, 0L, 2L))
    assert(r.map(_.getAs[String]("dedup_text")).toSeq ==
      Seq("unique one\nBOILER\nunique two", "other text", "",
        "self\nkeep me"))
  }

  test("lineDedupKeepFirst elects the right owner for a 32-bit doc_id column") {
    // The owner key packs doc_id << 32 | pos. Spark's ShiftLeft masks
    // the shift count by the operand width, so an INT doc_id without
    // the explicit long cast would make << 32 a no-op and the key
    // doc_id + pos — here doc 1's BOILER at pos 5 (key 6) would LOSE
    // to doc 2's at pos 0 (key 2), electing the wrong first occurrence.
    val d = Seq(
      (1, "a one two.\nb\nc\nd\ne\nBOILER"),
      (2, "BOILER\nz")).toDF("doc_id", "text")
    val r = TextDedup.lineDedupKeepFirst(d).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("dedup_text") == "a one two.\nb\nc\nd\ne\nBOILER")
    assert(r(1).getAs[String]("dedup_text") == "z")
  }

  test("sep parameter gives paragraph-granularity dedup (literal, not regex)") {
    val d = docs(
      1L -> "para one\nwith two lines\n\nSHARED PARA\n\nunique tail",
      2L -> "SHARED PARA\n\nother para")
    val r = TextDedup.lineDedup(d, sep = "\n\n").orderBy("doc_id").collect()
    // paragraphs, not lines: doc 1 has 3 paragraphs, the shared one is
    // corpus-frequent and dropped from both docs
    assert(r.map(_.getAs[Long]("n_lines")).toSeq == Seq(3L, 2L))
    assert(r.map(_.getAs[String]("dedup_text")).toSeq ==
      Seq("para one\nwith two lines\n\nunique tail", "other para"))
    val kf = TextDedup.lineDedupKeepFirst(d, sep = "\n\n")
      .orderBy("doc_id").collect()
    assert(kf.map(_.getAs[String]("dedup_text")).toSeq ==
      Seq("para one\nwith two lines\n\nSHARED PARA\n\nunique tail",
        "other para"))
    // the separator is literal: a regex metacharacter separator must
    // not be interpreted
    val m = TextDedup.lineDedup(
      docs(1L -> "a|b", 2L -> "a|c"), sep = "|").orderBy("doc_id").collect()
    assert(m.map(_.getAs[String]("dedup_text")).toSeq == Seq("b", "c"))
  }

  test("lineDedupKeepFirst matches a reference model on a random corpus") {
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Vector.tabulate(30)(i => s"line body $i")
    val corpus = (0L until 200L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(6))(
        alphabet(rnd.nextInt(alphabet.size))).mkString("\n")
    }
    val occ = corpus.flatMap(_._2.split("\n", -1))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val owner = corpus.flatMap { case (id, text) =>
      text.split("\n", -1).zipWithIndex.map { case (l, p) => (l, (id, p)) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val model = corpus.map { case (id, text) =>
      val ls = text.split("\n", -1).toSeq
      val kept = ls.zipWithIndex.collect {
        case (l, p) if occ(l) == 1L || owner(l) == ((id, p)) => l
      }
      (id, ls.size.toLong, kept.size.toLong, kept.mkString("\n"))
    }.toSet
    val got = TextDedup.lineDedupKeepFirst(corpus.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == model)
    // every duplicated line survives somewhere: exactly once corpus-wide
    val keptAll = got.toSeq.flatMap(t =>
      if (t._4.isEmpty) Nil else t._4.split("\n", -1).toSeq)
    assert(keptAll.distinct.size == occ.size,
      "each distinct line survives exactly once across the corpus")
    assert(keptAll.size == keptAll.distinct.size)
  }

  test("lineDedup matches an in-memory reference model on a random corpus") {
    // seeded random corpus over a SMALL line alphabet, so corpus-wide
    // occurrence counts land on both sides of every threshold; the
    // model is computed directly from the definition (no hashing, no
    // Spark), so this also re-audits the xxhash64 counting key
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Vector.tabulate(30)(i => s"line body $i")
    val corpus = (0L until 200L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(6))(
        alphabet(rnd.nextInt(alphabet.size))).mkString("\n")
    }
    for (maxOcc <- Seq(1L, 7L, 40L)) {
      val counts = corpus.flatMap(_._2.split("\n", -1))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val model = corpus.map { case (id, text) =>
        val ls = text.split("\n", -1).toSeq
        val kept = ls.filter(l => counts(l) <= maxOcc)
        (id, ls.size.toLong, kept.size.toLong, kept.mkString("\n"))
      }.toSet
      val got = TextDedup.lineDedup(corpus.toDF("doc_id", "text"), maxOcc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == model, s"maxOcc=$maxOcc")
    }
  }

  test("lineDedup keeps NULL-text documents as empty docs (ADVICE r9)") {
    val d = Seq((1L, "shared\nkept"), (2L, null: String), (3L, "shared"))
      .toDF("doc_id", "text")
    val r = TextDedup.lineDedup(d).orderBy("doc_id").collect()
    // every input doc_id survives; NULL behaves exactly like ""
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val nullRow = r(1)
    assert(nullRow.getAs[Long]("n_lines") == 1L)
    assert(nullRow.getAs[Long]("kept_lines") == 1L)
    assert(nullRow.getAs[String]("dedup_text") == "")
  }

  test("lineDedup maxOcc raises the occurrence threshold") {
    val d = docs(1L -> "a\nb", 2L -> "a\nc", 3L -> "a\nd")
    val keep2 = TextDedup.lineDedup(d, maxOcc = 3).orderBy("doc_id")
      .select("dedup_text").as[String].collect()
    assert(keep2.toSeq == Seq("a\nb", "a\nc", "a\nd"))
  }

  // --------------------------------------------------- substring dedup

  test("substringDedup flags sub-line cross-doc spans, keep-first") {
    // span width 4 so the fixture stays readable. doc 1 is the owner;
    // doc 2 splices doc 1's tokens 2..6 mid-document (5 tokens -> two
    // 4-gram spans, NOT newline-aligned by construction); doc 3 is
    // unrelated; doc 4 repeats ITS OWN span twice (self-repetition is
    // not cross-doc duplication); doc 5 is a short (< span) exact dup
    // of doc 6-short reversed... rather: doc 5 and doc 0 are short
    // exact dups via the whole-text fallback gram.
    val d = docs(
      0L -> "tiny doc",
      1L -> "a b c d e f g h",
      2L -> "x y b c d e f z w q",
      3L -> "p q r s t u v",
      4L -> "m n o p m n o p m n o p",
      5L -> "Tiny  DOC")
    val r = TextDedup.substringDedup(d, spanTokens = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getInt(4)))
    // doc 0: 1 fallback span ("tiny doc"), shared with doc 5, owner
    assert(r(0) == ((0L, 1L, 1L, 0L, 0)))
    // doc 1: 5 spans, owns "b c d e" and "c d e f" shared with doc 2
    assert(r(1) == ((1L, 5L, 2L, 0L, 0)))
    // doc 2: 7 spans, 2 of them owned by earlier doc 1 -> dup
    assert(r(2) == ((2L, 7L, 2L, 2L, 1)))
    // doc 3: nothing shared
    assert(r(3) == ((3L, 4L, 0L, 0L, 0)))
    // doc 4: 9 window positions but period-4 self-repetition -> only 4
    // DISTINCT spans (per-doc distinct), none cross-doc -> not flagged
    assert(r(4) == ((4L, 4L, 0L, 0L, 0)))
    // doc 5: short exact dup of doc 0 via whole-text fallback -> dup
    assert(r(5) == ((5L, 1L, 1L, 1L, 1)))
    // keep-first action form drops exactly the flagged docs
    val kept = TextDedup.substringDedupKeep(d, spanTokens = 4)
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 3L, 4L))
  }

  test("substringDedup matches an in-memory model on a random corpus with planted splices") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val span = 5
    val base = (0L until 120L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    // splice a random window of an earlier doc into every 7th doc
    val corpus = base.map { case (id, text) =>
      if (id % 7 == 3 && id > 0) {
        val (_, src) = base((id / 2).toInt)
        val toks = src.split(" ")
        val w = math.min(toks.length, span + 2)
        id -> (text + " " + toks.take(w).mkString(" ") + " tailtok")
      } else id -> text
    }
    // model straight from the definition, on raw strings
    def spansOf(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      (0 to math.max(toks.length - span, 0))
        .map(i => toks.slice(i, i + span).mkString(" ")).toSet
    }
    val spanSets = corpus.map { case (id, t) => id -> spansOf(t) }
    val owner = spanSets.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(v => v.map(_._2).min).toMap
    val docsWith = spanSets.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).view.mapValues(v => v.map(_._2).distinct.size).toMap
    val model = spanSets.map { case (id, ss) =>
      val shared = ss.count(s => docsWith(s) > 1)
      val dup = ss.count(s => docsWith(s) > 1 && owner(s) < id)
      (id, ss.size.toLong, shared.toLong, dup.toLong,
        if (dup > 0) 1 else 0)
    }.toSet
    val got = TextDedup
      .substringDedup(corpus.toDF("doc_id", "text"), spanTokens = span)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
      .toSet
    assert(got == model)
  }

  test("substringDedup keeps NULL-text docs and treats them as empty") {
    val d = Seq((1L, "some longer text here"), (2L, null: String),
      (3L, null: String)).toDF("doc_id", "text")
    val r = TextDedup.substringDedup(d, spanTokens = 3)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the two NULL docs normalize to the same empty fallback span:
    // doc 2 owns it, doc 3 is its dup
    assert(r(1).getAs[Int]("is_dup") == 0)
    assert(r(2).getAs[Int]("is_dup") == 1)
  }

  // ------------------------------------------------------------- minhash

  test("maxBucket guard: a planted boilerplate megabucket is dropped, planted recall survives") {
    // SCALE.md shows every bucket gets ~10x hotter at sf1 — this pins
    // the guard's two contractual halves on real corpus data: the hot
    // bucket is DROPPED (not shrunk, not exploded into the join), and
    // dropping it costs NOTHING on recall among non-boilerplate pairs.
    val base = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the bench query's planted near-dup recipe (id % 13, >= 50
    // tokens, every 50th token swapped for a sentinel)
    val eligible = base.filter(col("doc_id") % 13 === 0 &&
      size(split(TextDedup.normText(col("text")), " ")) >= 50)
    val planted = eligible.select(
      (col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(TextDedup.normText(col("text")),
        "((?:\\S+ ){49})\\S+", "$1zzplantzz").as("text"))
    // the megabucket: 200 IDENTICAL boilerplate docs (disjoint vocab)
    // -> identical signatures -> one bucket of 200 > maxBucket per band
    val boiler = (1 to 60).map(i => s"boilertok${i % 12}").mkString(" ")
    val boilerDocs = spark.range(200).select(
      (col("id") + 500000L).as("doc_id"), lit(boiler).as("text"))
    val corpus = base.unionByName(planted).unionByName(boilerDocs)

    val cands = TextDedup.minHashCandidates(corpus) // maxBucket = 64
    // liveness: WITHOUT the guard the megabucket floods the join
    val unguarded = TextDedup
      .minHashCandidates(corpus, maxBucket = Int.MaxValue)
      .filter(col("doc_a") >= 500000L && col("doc_b") >= 500000L)
      .count()
    assert(unguarded > 10000L,
      s"megabucket should flood the unguarded join, got $unguarded")
    // (a) guarded: zero boilerplate-boilerplate candidates
    assert(cands.filter(
      col("doc_a") >= 500000L && col("doc_b") >= 500000L).count() == 0L)
    // (b) planted recall among non-boilerplate pairs still >= the 90%
    // floor the bench query enforces
    val plantedIds = eligible.select(col("doc_id")).as[Long].collect().toSet
    assert(plantedIds.nonEmpty)
    val found = cands
      .filter(col("doc_b") === col("doc_a") + 100000L)
      .select(col("doc_a")).as[Long].collect().toSet
      .intersect(plantedIds)
    assert(found.size * 100 >= plantedIds.size * 90,
      s"recall ${found.size}/${plantedIds.size} under the 90% floor")
  }

  test("shingles: distinct word n-grams; short text falls back whole") {
    val sh = docs(1L -> "a b c d", 2L -> "xy")
      .select(col("doc_id"), TextDedup.shingles(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect()
    assert(sh(0).getSeq[String](1).toSet == Set("a b c", "b c d"))
    assert(sh(1).getSeq[String](1).toSeq == Seq("xy"))
  }

  test("minhash: identical texts collide on all bands; candidates found") {
    val base = "the quick brown fox jumps over the lazy dog and runs away"
    val d = docs(
      1L -> base,
      2L -> base, // exact dup => same signature
      3L -> (base + " tonight"), // near dup => most bands agree
      4L -> "completely different words nothing shared here at all today")
    val pairs = TextDedup.minHashCandidates(d, numHashes = 32, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("minhash signature is deterministic across evaluations") {
    val d = docs(1L -> "some stable text for hashing goes here")
    val sig = TextDedup
      .minHashSignature(TextDedup.shingles(col("text")), 8).as("sig")
    val a = d.select(sig).collect()(0).getSeq[Long](0)
    val b = d.select(sig).collect()(0).getSeq[Long](0)
    assert(a == b)
  }

  test("jaccardVerify computes exact jaccard on candidate pairs") {
    val d = docs(1L -> "a b c d", 2L -> "a b c e")
    // shingles(3): {abc,bcd} vs {abc,bce} => intersect 1, union 3
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val j = TextDedup.jaccardVerify(pairs, d).collect()(0)
      .getAs[Double]("jaccard")
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  // ------------------------------------------------------------- simhash

  test("simhash: equal for identical text, unequal for unrelated text") {
    val d = docs(
      1L -> "alpha beta gamma delta",
      2L -> "alpha  beta   gamma delta", // same after normalization
      3L -> "totally different content words")
    val sigs = TextDedup.simHashSignatures(d)
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("native simhash matches the explode+sum reference bit-for-bit") {
    // Edge inputs the fold must agree on: duplicate tokens (multiset
    // semantics), single empty-string token (split("") => [""]),
    // unicode, a long doc, and ±1 tie-at-zero bit sums (2 tokens).
    val edge = docs(
      1L -> "dup dup dup tokens count each occurrence",
      2L -> "",
      3L -> "désa  été ☃ mixed\tunicode",
      4L -> "two tokens",
      5L -> Seq.tabulate(500)(i => s"w${i % 37}").mkString(" "))
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    for (d <- Seq(edge, corpus)) {
      val native = TextDedup.simHashSignatures(d)
      val ref = Reference.simHashSignaturesExplode(d)
      assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
        "native simhash diverged from the explode reference")
    }
  }

  test("simHashCandidates pairs docs agreeing on a 16-bit band") {
    // Band equality is only guaranteed for small hamming distance
    // (pigeonhole: ≤3 flipped bits ⇒ one of 4 bands untouched); use a
    // normalization-equal pair (hamming 0) and a clearly distinct doc.
    val d = docs(
      1L -> "shared vocabulary one two three four five six seven eight",
      2L -> "  Shared   vocabulary one two three four five six seven eight ",
      3L -> "zzz qqq www eee rrr ttt yyy uuu iii ooo")
    val pairs = TextDedup.simHashCandidates(d).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("ngramNovelty counts known vs total distinct grams per doc") {
    val ref = docs(100L -> "a b c d e")  // grams: abc, bcd, cde
    val d = docs(
      1L -> "a b c d x",   // abc, bcd, cdx -> 2 of 3 known
      2L -> "p q r s t",   // none known
      3L -> "a b c")       // single gram abc -> known
    val got = TextDedup.ngramNovelty(d, ref)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 3L, 2L), (2L, 3L, 0L), (3L, 1L, 1L)))
  }

  test("jaccardCounts: integer intersection/union sizes") {
    val d = docs(1L -> "a b c d", 2L -> "a b c e")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = TextDedup.jaccardCounts(pairs, d).collect()(0)
    assert(r.getAs[Long]("inter_cnt") == 1L)
    assert(r.getAs[Long]("union_cnt") == 3L)
  }

  test("weightedJaccardCounts: min/max tf sums; disjoint pairs hit " +
      "the 0 numerator; multiplicity breaks set-Jaccard saturation") {
    val d = docs(1L -> "x x y", 2L -> "x y y z", 3L -> "p q",
      4L -> "t t t t", 5L -> "t")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val got = TextDedup.weightedJaccardCounts(pairs, d)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // tf_1={x:2,y:1}, tf_2={x:1,y:2,z:1}: wmin=1+1=2, wmax=3+4-2=5
    assert(got((1L, 2L)) == ((2L, 5L)), got.toString)
    // disjoint: wmin 0, wmax = 3 + 2
    assert(got((1L, 3L)) == ((0L, 5L)), got.toString)
    // "t t t t" vs "t": the token SET is {t} on both sides (set
    // Jaccard 1.0 — saturated); the weighted form reports 1/4 —
    // the boilerplate-multiplicity fix
    assert(got((4L, 5L)) == ((1L, 4L)), got.toString)
  }

  test("weightedJaccardCounts matches a bag-intersection reference " +
      "on fuzzed token soup") {
    // deterministic word soup over a 12-word vocabulary with heavy
    // repetition (the multiplicity regime the operator exists for)
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
    val vocab = ('a' to 'l').map(_.toString)
    val texts = (0 until 30).map { i =>
      val len = 1 + ((i * 7) % 25)
      i.toLong -> lcg(i * 77 + 5).drop(1).take(len)
        .map(v => vocab(((v >>> 33) % 12).toInt)).mkString(" ")
    }
    val d = docs(texts: _*)
    val pairs = (0 until 29).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val got = TextDedup.weightedJaccardCounts(pairs, d)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val bags = texts.toMap.view.mapValues(
      _.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap)
    for (i <- 0L until 29L) {
      val (a, b) = (bags(i), bags(i + 1))
      val wmin = (a.keySet & b.keySet).toSeq
        .map(t => math.min(a(t), b(t))).sum
      val wmax = a.values.sum + b.values.sum - wmin
      assert(got((i, i + 1)) == ((wmin, wmax)), s"pair $i")
    }
  }

  test("vocabGrowth: first-occurrence slicing, cumulative sum, and " +
      "the top-bucket clamp") {
    val d = docs((0L until 10L).map(i =>
      i -> s"w$i common").toSeq: _*)
    val got = TextAnalysis.vocabGrowth(d, buckets = 10)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toList
    // bucket i contributes w$i; bucket 0 also contributes "common"
    val expect = (0L until 10L).map(i =>
      (i, if (i == 0) 2L else 1L, i + 2L)).toList
    assert(got == expect, got.toString)
    // 3 buckets over ids 0..9: floor(i*3/10) — sizes 4/3/3, plus
    // common in the first; the max-id term lands in the LAST bucket
    val got3 = TextAnalysis.vocabGrowth(d, buckets = 3)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toList
    assert(got3 == List((0L, 5L, 5L), (1L, 3L, 8L), (2L, 3L, 11L)),
      got3.toString)
    // gram order n=3: overlapping windows dedup across docs by first
    // occurrence ("b c d" belongs to doc 0, not doc 1)
    val dg = docs(0L -> "a b c d", 1L -> "b c d e")
    val gotG = TextAnalysis.vocabGrowth(dg, buckets = 2, n = 3)
      .orderBy("bucket").as[(Long, Long, Long)].collect().toList
    assert(gotG == List((0L, 2L, 2L), (1L, 1L, 3L)), gotG.toString)
    intercept[IllegalArgumentException](TextAnalysis.vocabGrowth(d, 0))
    intercept[IllegalArgumentException](
      TextAnalysis.vocabGrowth(d, 10, 0))
  }

  // ------------------------------------------------------- text analysis

  test("native markerHits matches the composed length-replace chain") {
    // adversarial shapes: adjacent markers sharing the boundary space
    // ("the the" — replace counts NON-overlapping matches), markers at
    // the padded borders, uppercase needing the exact lower() fold,
    // CJK markers, empties, and marker-free text
    val texts = Seq(
      "the the the and of with",
      "THE AND OF WITH",
      "der und die mit le et les avec el y los con",
      "的 和 是 在 mixed 的 content",
      "", "   ", "no markers here at all", "the", " the ",
      "xthex andx ofy", "the and the and the and")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (ms <- TextAnalysis.LangMarkers.map(_._2) :+
        TextAnalysis.LangMarkers.flatMap(_._2)) {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      val rows = df.select(
        TextAnalysis.markerHits(col("text"), ms).as("native"),
        Reference.markerHitsComposed(padded, ms).as("composed"),
        col("text"))
        .as[(Long, Long, String)].collect()
      rows.foreach { case (n, c, t) =>
        assert(n == c, s"markers=$ms text='$t': native=$n composed=$c")
      }
    }
  }

  test("corpusReport aggregates the per-doc langId rows exactly") {
    val d = docs(
      1L -> "the cat and the dog with hat",
      2L -> "der hund und die katze mit hut",
      3L -> "zz qq ww")
    val got = TextAnalysis.corpusReport(d)
      .orderBy("lang_guess")
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    val en = "the cat and the dog with hat"
    val de = "der hund und die katze mit hut"
    assert(got == List(
      ("de", 1L, 7L, de.length.toLong, de.length.toLong, de.length.toLong),
      ("en", 1L, 7L, en.length.toLong, en.length.toLong, en.length.toLong),
      ("und", 1L, 3L, 8L, 8L, 8L)))
  }

  test("unigramSurprisal sums inverse-frequency bit lengths exactly") {
    // corpus counts: a=3, b=2, c=1, N=6 occurrences.
    // per-occurrence bits = length(bin(N div cnt)):
    //   a -> bin(2)="10" (2), b -> bin(3)="11" (2), c -> bin(6)="110" (3)
    val d = docs(1L -> "a a a b", 2L -> "b c")
    val got = TextAnalysis.unigramSurprisal(d)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 4L, 3 * 2 + 2L), (2L, 2L, 2 + 3L)))
  }

  test("repetitionStats flags >20% duplicate bigrams") {
    val d = docs(
      1L -> "spam spam spam spam spam spam",  // 5 bigrams, 1 distinct
      2L -> "one two three four five six")    // 5 bigrams, 5 distinct
    val r = TextAnalysis.repetitionStats(d).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("total_ngrams") == 5L)
    assert(r(0).getAs[Long]("distinct_ngrams") == 1L)
    assert(r(0).getAs[Int]("is_repetitive") == 1)
    assert(r(1).getAs[Long]("distinct_ngrams") == 5L)
    assert(r(1).getAs[Int]("is_repetitive") == 0)
  }

  test("occurrences counts non-overlapping needle hits exactly") {
    val d = docs(1L -> " the cat the dog the bird ")
    val n = d.select(TextAnalysis.occurrences(col("text"), " the ").as("n"))
      .as[Long].collect()(0)
    // " the cat the dog the bird " — ' the ' at 0, then 8..13, then 16..21:
    // replace() consumes left-to-right: all three hit.
    assert(n == 3L)
  }

  test("tokenStats: exact counts") {
    val d = docs(1L -> "Hello, world! 42 times.")
    val r = TextAnalysis.tokenStats(d).collect()(0)
    assert(r.getAs[Long]("char_len") == 23L)
    assert(r.getAs[Long]("word_cnt") == 4L)
    assert(r.getAs[Long]("punct_cnt") == 3L) // , ! .
    assert(r.getAs[Long]("digit_cnt") == 2L)
  }

  test("langId votes by marker hits with deterministic ties") {
    val d = Seq(
      (1L, "this is the cat and the dog of the house with style", "en"),
      (2L, "das ist der hund und die katze mit der maus", "de"),
      (3L, "no markers here whatsoever", "en"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.langId(d).orderBy("doc_id")
      .select("lang_guess").as[String].collect()
    assert(r.toSeq == Seq("en", "de", "und"))
  }

  test("qualityScore buckets by exact integer thresholds") {
    val good = "the quick brown fox jumps over the lazy dog and keeps " +
      "running with great persistence through the night"
    val d = Seq((1L, good), (2L, "short"), (3L, good.replace(" the ", " ,,,,, ")))
      .toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(d).orderBy("doc_id")
      .select("quality").as[String].collect()
    assert(r(0) == "good")
    assert(r(1) == "too_short")
  }

  test("column-level langGuess/qualityVerdict match the frame operators") {
    // the curation_e2e composite relies on the column-level forms being
    // exactly the operators' semantics — pin the parity on real docs
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val viaOp = TextAnalysis.langId(docs)
      .select(col("doc_id"), col("lang_guess"))
    val viaCol = docs.select(col("doc_id"),
      TextAnalysis.langGuess(col("text")).as("g"))
    assert(viaOp.join(viaCol, "doc_id")
      .filter(col("lang_guess") =!= col("g")).isEmpty)
    val qOp = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val qCol = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        TextAnalysis.qualityVerdict(col("text")).as("v"))
    assert(qOp.join(qCol, "doc_id")
      .filter(col("quality") =!= col("v")).isEmpty)
  }

  test("ragged grids pad with empty string; padded cells never rescue a row") {
    // VERDICT r2 item 5: pandas astype(str) turns NaN padding into the
    // string "nan", which the reference would accept as a name
    // candidate; our ingest pads with "" (CellTables.ofGrid), which the
    // non-empty filter drops. Camelot emits rectangular grids so the
    // branch is unreachable in practice — this pins OUR choice so a
    // future byte-compare regression is attributable.
    val cells = CellTables.ofGrid(graft.SparkTestSession.spark, Seq(
      Seq("K o d e", "NAMA PROVINSI", "x", "x", "x", "x", "x"),
      Seq("1", "2", "3", "4", "5", "6", "7"),
      Seq("11", "Aceh"), // ragged: cols 2-6 padded with ""
      Seq("12"))) // ragged: ALL name candidates padded -> dropped
    val out = AreaPipeline.extract(cells).select("code").as[String]
      .collect().toSet
    assert(out == Set("11")) // "12" has no non-empty name candidate
  }

  test("lineDedupWithinDoc keeps first occurrences in order, per doc only") {
    val d = docs(
      1L -> "nav menu\nbody text\nnav menu\nfooter\nnav menu",
      2L -> "nav menu\nother") // cross-doc repeat is NOT intra-doc dup
    val r = TextDedup.lineDedupWithinDoc(d).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_lines") == 5L)
    assert(r(0).getAs[Long]("kept_lines") == 3L)
    // first-occurrence ORDER is the load-bearing property (the SQL
    // oracle reconstructs it with a min-pos window)
    assert(r(0).getAs[String]("dedup_text") ==
      "nav menu\nbody text\nfooter")
    assert(r(1).getAs[Long]("kept_lines") == 2L)
    assert(r(1).getAs[String]("dedup_text") == "nav menu\nother")
    // NULL text behaves like "" (same contract as lineDedup)
    val n = TextDedup.lineDedupWithinDoc(
      Seq((9L, null: String)).toDF("doc_id", "text")).collect()(0)
    assert(n.getAs[Long]("n_lines") == 1L &&
      n.getAs[Long]("kept_lines") == 1L &&
      n.getAs[String]("dedup_text") == "")
  }

  test("c4PageFilter applies the three page rules") {
    val d = docs(
      1L -> "One. Two. Three.",            // 3 sentences, clean -> keep
      2L -> "One. Two.",                   // too few sentences
      3L -> "One. Two. Three. Lorem Ipsum placeholder", // lorem (any case)
      4L -> "One. Two. Three. code { x }") // brace
    val out = TextAnalysis.c4PageFilter(d)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("c4LineFilter applies the three line rules and reassembles in order") {
    val d = docs(
      1L -> ("A good sentence stays here.\nno punct line at all here\n" +
        "Too short.\nAnother perfectly fine keeper stays!\n" +
        "this line uses JavaScript heavily today.\n" +
        "The quoted line stays put \""),
      2L -> "only\nbad\nlines")
    val r = TextAnalysis.c4LineFilter(d).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_lines") == 6L)
    // "Too short." has < 5 words (the paper's floor); the javascript
    // mention dies regardless of punctuation and word count; the
    // quote-terminated line passes
    assert(r(0).getAs[Long]("kept_lines") == 3L)
    assert(r(0).getAs[String]("clean_text") ==
      "A good sentence stays here.\nAnother perfectly fine keeper stays!\n" +
        "The quoted line stays put \"")
    assert(r(1).getAs[Long]("kept_lines") == 0L)
    assert(r(1).getAs[String]("clean_text") == "")
  }

  test("gopherQualityFilter: each rule flips keep at its exact boundary") {
    // A base doc that passes every rule: 50 words averaging 4 chars,
    // all alphabetic, two stop words present.
    val passing = (Seq("the", "with") ++ Seq.fill(48)("word")).mkString(" ")
    val d = docs(
      1L -> passing,
      2L -> (Seq("the", "with") ++ Seq.fill(47)("word")).mkString(" "),
      3L -> passing.replace("the", "aaa"),
      4L -> (passing + " " + Seq.fill(6)("#").mkString(" ")),
      5L -> Seq.fill(10)(s"- bullet $passing").mkString("\n"),
      6L -> (1 to 10).map(i =>
        if (i <= 4) s"line $passing..." else s"line $passing")
        .mkString("\n"),
      7L -> (Seq("the", "with") ++ Seq.fill(18)("word") ++
        Seq.fill(30)("123")).mkString(" "),
      8L -> (Seq("the", "with") ++ Seq.fill(48)("ab")).mkString(" "))
    val out = TextAnalysis.gopherQualityFilter(d)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "base doc passes all rules")
    assert(!out(2L), "49 words fails the word-count floor")
    assert(!out(3L), "only one stop word present")
    assert(!out(4L), "symbol-to-word ratio over 0.1")
    assert(!out(5L), "over 90% bullet lines")
    assert(!out(6L), "over 30% ellipsis-ending lines")
    assert(!out(7L), "under 80% alphabetic words")
    assert(!out(8L), "mean word length under 3")
  }

  test("fingerprint is normalization-invariant") {
    val d = docs(1L -> "A  b C", 2L -> " a b c ")
    val fps = TextAnalysis.fingerprint(d).select("fingerprint")
      .as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("winnowing: shared long runs share a fingerprint; disjoint texts don't") {
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      1L -> (run + " extra tail words here"),
      2L -> ("different prefix words then " + run),
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    val fps = TextAnalysis.winnowingFingerprints(d, k = 4, windowSize = 4)
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: any shared run of >= k + windowSize - 1 (7) tokens
    // yields at least one shared fingerprint
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(1L).intersect(fps(3L)).isEmpty)
  }

  test("boilerplateShare flags template-dominated pages, not content " +
      "pages; NULL text is one empty line") {
    val nav = "home | products | contact"
    val foot = "copyright 2024 example corp"
    val docs = Seq(
      (1L, s"$nav\nunique article body one\n$foot"),
      (2L, s"$nav\nunique article body two\n$foot"),
      (3L, s"$nav\n$foot"),                      // pure template
      (4L, "standalone essay with original text"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextDedup.boilerplateShare(docs)
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 2L, 1)), out.toString) // 2/3 > 50%
    assert(out(2L) == ((3L, 2L, 1)))
    assert(out(3L) == ((2L, 2L, 1)))               // 100% template
    assert(out(4L) == ((1L, 0L, 0)))
    // NULL text -> one empty line; unique here, so not boilerplate
    assert(out(5L) == ((1L, 0L, 0)))
    // at the exact 50% boundary the share test is STRICT
    val half = Seq((10L, "shared line\nown line a"),
      (11L, "shared line\nown line b")).toDF("doc_id", "text")
    assert(TextDedup.boilerplateShare(half)
      .filter(col("is_boilerplate") === 1).count() == 0L)
  }

  test("bigramSurprisal: hand-computed bits on a tiny corpus; " +
      "sub-2-token docs drop out") {
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: (a,b)x2, (b,a)x1
      (2L, "a b"),       // (a,b)x1
      (3L, "solo"),      // no bigram -> absent
      (4L, "a c"))       // (a,c)x1
      .toDF("doc_id", "text")
    // corpus: C(a,b)=3, C(b,a)=1, C(a,c)=1; C(a·)=4, C(b·)=1
    // bits(a,b)=len(bin(4/3=1))=1; bits(b,a)=len(bin(1))=1;
    // bits(a,c)=len(bin(4))=3
    val got = TextAnalysis.bigramSurprisal(docs)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((3L, 2L * 1 + 1L * 1)), // (a,b)x2·1 + (b,a)x1·1 = 3
      2L -> ((1L, 1L)),
      4L -> ((1L, 3L))), got.toString)
    assert(!got.contains(3L))
  }

  test("qualityBlend deciles are monotone in each signal and bounded") {
    val docs = (0 until 100).map { i =>
      // longer docs -> higher classifier score; distinct vocab sizes
      // -> distinct surprisal
      (i.toLong, (0 to i).map(j => s"w${i}t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextAnalysis.qualityBlend(docs)
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1)
    assert(got.forall(r => r._2 >= 0 && r._2 <= 9 &&
      r._3 >= 0 && r._3 <= 9 && r._4 == r._2 + r._3))
    // the top decile is non-empty and the bottom is non-empty
    assert(got.exists(_._2 == 9) && got.exists(_._2 == 0))
  }

  test("qualityBlend cutoffs follow the explicit nearest-rank rule " +
      "(n=7, the size where engine conventions diverge)") {
    // ranks 1..7 by length -> by classifier score; cutoff i is the
    // k-th smallest with k=(7i+9)//10 -> elements [1,2,3,3,4,5,5,6,7],
    // so 'cutoffs strictly below' by rank = [0,1,2,4,5,7,8]. DuckDB's
    // quantile_disc would put rank 3's cutoff at the 2nd element
    // (floor((n-1)p)+1) — this pin holds BOTH engines to one rule.
    // The score->rank direction doesn't matter: with 7 distinct scores
    // the MULTISET of 'cutoffs strictly below' values is rule-defined —
    // [0,1,2,4,5,7,8] under ours, [0,1,3,4,6,8,9] under DuckDB's
    // (n-1)p convention, so the pin distinguishes them.
    val docs = (1 to 7).map { i =>
      (i.toLong, (0 until 5 * i).map(j => s"d${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val dcls = TextAnalysis.qualityBlend(docs)
      .select("d_cls").as[Int].collect().sorted.toSeq
    assert(dcls == Seq(0, 1, 2, 4, 5, 7, 8), dcls.toString)
  }

  test("collocationsTopK: hand-computed PMI ratios, minCount guard, " +
      "rank order") {
    // tokens: a3 b3 c1 d1 x2 y2, N=12; pairs >= 2: (a,b)x3, (x,y)x2
    // ratios: (x,y) 2*12/(2*2)=6.0 > (a,b) 3*12/(3*3)=4.0
    val docs = Seq((1L, "a b a b c d"), (2L, "a b x y x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocationsTopK(docs, k = 10, minCount = 2)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("x", "y", 2L, 6.0), ("a", "b", 3L, 4.0)),
      got.toString)
    // minCount=1 admits the hapax pairs too
    assert(TextAnalysis.collocationsTopK(docs, k = 100, minCount = 1)
      .count() == 7L)
  }

  test("refBigramSurprisal: reference bit costs, flat OOV penalty") {
    // ref "a b a b": c(a,b)=2 c(b,a)=1, c_prev(a)=2 c_prev(b)=1
    // target 1 "a b z": (a,b) known → bin(2/2)='1' → 1 bit; (b,z)
    // unseen → 20. target 2 "z z": all-OOV.
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val tgt = Seq((1L, "a b z"), (2L, "z z")).toDF("doc_id", "text")
    val got = TextAnalysis.refBigramSurprisal(tgt, ref)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L, 21L), (2L, 1L, 0L, 20L)),
      got.toString)
  }

  test("skipgramCounts: both window offsets, exact counts, rank order") {
    // doc "a b a b a": dist-1 pairs (a,b)x2 (b,a)x2;
    // dist-2 pairs (a,a)x2 (b,b)x1 — forward-only, per offset
    val docs = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val got = TextAnalysis.skipgramCounts(docs, maxDist = 2,
        k = 10, minCount = 1)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", "a", 2L, 2L), ("a", "b", 1L, 2L), ("b", "a", 1L, 2L),
      ("b", "b", 2L, 1L)), got.toString)
    // minCount prunes the hapax pair; short docs emit nothing at all
    assert(TextAnalysis.skipgramCounts(docs, maxDist = 2, k = 10,
      minCount = 2).count() == 3L)
    assert(TextAnalysis.skipgramCounts(
      Seq((1L, "solo")).toDF("doc_id", "text"),
      maxDist = 2, k = 10, minCount = 1).count() == 0L)
  }

  test("langIdConfidence: clear English is confident, a 50/50 " +
      "bilingual page is not") {
    val docs = Seq(
      (1L, "the cat and the dog of the house with care and the end", "en"),
      (2L, "the cat and the dog le chien et les amis avec of le", "en"),
      (3L, "xyz qrs tuv", "en")) // zero hits anywhere
      .toDF("doc_id", "text", "lang") // langId passes `lang` through
    val got = TextAnalysis.langIdConfidence(docs)
      .as[(Long, String, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "en" && got(1L)._6 == 1, got(1L).toString)
    // doc 2: en hits (the x2, and, of = 4) vs fr hits (le x2, et, les,
    // avec = 5) -> margin 1 < 2 -> NOT confident, whoever wins
    assert(got(2L)._6 == 0, got(2L).toString)
    assert(got(3L)._2 == "und" && got(3L)._3 == 0L && got(3L)._6 == 0)
  }

  test("knBigramCounts: the francisco property — continuation counts " +
      "differ from raw counts, hand-computed") {
    // "san francisco" is frequent but francisco follows ONLY san;
    // "the" completes bigrams after many different words
    val docs = Seq(
      (1L, "san francisco san francisco san francisco"),
      (2L, "in the of the on the at the")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramCounts(docs, topK = 50)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // (san, francisco): c = 3, c_prev(san) = 3, san fans out to 1
    // word, francisco continues after ONLY 1 context
    assert(got(("san", "francisco")) ==
      (("san", "francisco", 3L, 3L, 1L, 1L, 9L)), got.toString)
    // (of, the): c = 1 but "the" continues after 4 distinct contexts
    // (in, of, on, at) — the KN numerator raw counts cannot see
    assert(got(("of", "the")) ==
      (("of", "the", 1L, 1L, 1L, 4L, 9L)), got.toString)
    // (francisco, san): the wrap-around bigram inside doc 1, twice
    assert(got(("francisco", "san"))._3 == 2L)
    // bigram type total: doc1 {san francisco, francisco san} + doc2
    // {in the, the of, of the, the on, on the, the at, at the} = 9
    assert(got.size == 9, got.keys.toString)
  }

  test("knBigramCounts: topK ties break lexicographically") {
    val docs = Seq((1L, "b c"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramCounts(docs, topK = 1)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    // both bigrams have c_bw = 1 -> (a, c) wins the tie
    assert(got.toSeq.map(g => (g._1, g._2)) == Seq(("a", "c")))
    intercept[IllegalArgumentException](
      TextAnalysis.knBigramCounts(docs, topK = 0))
  }
  test("zipfCensus: doubling buckets carry exact type and token " +
      "tallies; normText case-folds before counting") {
    // counts after normText: a=4 (bucket 3), b=2 (bucket 2),
    // c=1 (bucket 1) — the capital A and B fold in
    val docs = Seq((1L, "a a A a b"), (2L, "B c")).toDF("doc_id", "text")
    val got = TextAnalysis.zipfCensus(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1L, 1L, 1L),
      (2L, 1L, 2L, 2L, 2L),
      (3L, 1L, 4L, 4L, 4L)))
  }

  test("zipfCensus: types sharing a bucket report min/max and summed " +
      "mass") {
    // counts: x=2, y=3 share bucket 2; z=1 alone in bucket 1
    val docs = Seq((1L, "x x y y y z")).toDF("doc_id", "text")
    val got = TextAnalysis.zipfCensus(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1L, 1L, 1L),
      (2L, 2L, 5L, 2L, 3L)))
  }

  test("encodingDamage: each telltale counted exactly, clean text " +
      "all-zero, overlapping damage accumulates") {
    val docs = Seq(
      (1L, "clean prose, nothing wrong here"),
      (2L, "broken � twice �"),                 // 2 U+FFFD
      (3L, "caffÃ¨ and naÃ¯ve"),      // 2 Ã
      (4L, "a â€” dash â€œquote"), // 2 â€
      (5L, "all: � Ã© â€”"), // one each
      // ANCHORED telltale (ADVICE r17): bare Ã before an ASCII letter
      // is legitimate text (all-caps Portuguese), NOT mojibake
      (6L, "SÃO PAULO is clean; trÃ¨s is not")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.encodingDamage(docs)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(got == Set(
      (1L, 0L, 0L, 0L, 0),
      (2L, 2L, 0L, 0L, 1),
      (3L, 0L, 2L, 0L, 1),
      (4L, 0L, 0L, 2L, 1),
      (5L, 1L, 1L, 1L, 1),
      (6L, 0L, 1L, 0L, 1)), got.toString)
  }
}
