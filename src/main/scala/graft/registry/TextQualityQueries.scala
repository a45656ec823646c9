package graft
package registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import Shared.{NormTextSql, plantedCopies, PlantMinTokens, PlantMod,
  PlantOffset, ShingleSetSql, spread, T, WsTokOkSql}

/** Text statistics, language ID, quality gates and classifiers, PII,
  * n-gram LMs, decontamination and the curation pipeline queries.
  */
object TextQualityQueries {

  /** DuckDB rendition of [[TextAnalysis.occurrences]]. */
  private def occSql(textExpr: String, needle: String): String = {
    val esc = needle.replace("'", "''")
    s"CAST((length($textExpr) - length(replace($textExpr, '$esc', ''))) / ${needle.length} AS BIGINT)"
  }

  private val PaddedLower = "(' ' || lower(text) || ' ')"

  private def hitsSql(markers: Seq[String]): String =
    markers.map(occSql(PaddedLower, _)).mkString("(", " + ", ")")

  /** The linear quality-classifier score as one DuckDB expression —
    * generated from the SAME weight constants the Spark column uses
    * ([[TextAnalysis.ClassifierWeights]]), shared by the
    * quality_classifier and classifier_calibration oracles.
    */
  private lazy val ClassifierScoreSql: String = {
    val fragments = Map(
      "word_cnt" ->
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)",
      "stop_hits" -> TextAnalysis.GopherStopWords
        .map(w => occSql(PaddedLower, s" $w ")).mkString("(", " + ", ")"),
      "punct_cnt" ->
        ("CAST(length(text) - length(regexp_replace(text, " +
          "'[.,;:!?]', '', 'g')) AS BIGINT)"),
      "digit_cnt" ->
        ("CAST(length(text) - length(regexp_replace(text, " +
          "'[0-9]', '', 'g')) AS BIGINT)"))
    val (bias, w) = TextAnalysis.ClassifierWeights
    (s"CAST($bias AS BIGINT)" +:
      TextAnalysis.ClassifierFeatures
        .collect { case (name, _) if w.contains(name) =>
          s"(${fragments(name)}) * (${w(name)})" })
      .mkString("(", " + ", ")")
  }

  /** The Gopher stat columns (SELECT fragment over `documents`'s raw
    * `text`) and the composite keep rule over them — shared by the
    * gopher_quality and classifier_calibration oracles. The rule
    * yields FALSE for blank docs through the word-count floor, same as
    * [[TextAnalysis.gopherKeep]].
    */
  private lazy val GopherStatsSql: String = {
    val stopPresent = TextAnalysis.GopherStopWords
      .map(w => s"CASE WHEN strpos($PaddedLower, ' $w ') > 0 " +
        "THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS word_cnt, " +
      "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonws_chars, " +
      "CAST((length(text) - length(replace(text, '#', ''))) + " +
      "(length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS symbol_cnt, " +
      "CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines, " +
      "CAST(len(list_filter(string_split(text, chr(10)), l -> " +
      "starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS bullet_lines, " +
      "CAST(len(list_filter(string_split(text, chr(10)), l -> " +
      "ends_with(l, '...'))) AS BIGINT) AS ellipsis_lines, " +
      "CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> " +
      "regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words, " +
      s"CAST($stopPresent AS BIGINT) AS stop_present"
  }

  private val GopherRuleSql: String =
    "(word_cnt BETWEEN 50 AND 100000 " +
      "AND nonws_chars >= word_cnt * 3 AND nonws_chars <= word_cnt * 10 " +
      "AND symbol_cnt * 10 <= word_cnt " +
      "AND bullet_lines * 10 <= n_lines * 9 " +
      "AND ellipsis_lines * 10 <= n_lines * 3 " +
      "AND alpha_words * 10 >= word_cnt * 8 " +
      "AND stop_present >= 2)"

  /** The planted stop-word sentence for curation_e2e_v2's Gopher gate:
    * 7 of the 8 [[TextAnalysis.GopherStopWords]] in one terminal-
    * punctuated 14-word line, so it survives the C4 line stage and
    * counts as a sentence for the page stage. Rendered verbatim into
    * both the Spark prep and the oracle.
    */
  private val StopSentence =
    "the model and the data of the run have to be set with care."

  /** The curation_e2e_v2 input synthesis over the raw `text` column:
    * 12-token lines punctuated every third line, plus the text-derived
    * planted rule triggers (stop-word sentence unless `len % 4 == 0`,
    * lorem page at `len % 19 == 0`, brace page at `len % 23 == 0`).
    * Text-derived so verbatim duplicate documents stay verbatim
    * duplicates through the prep. Mirrored by [[CurationSynthCtes]].
    */
  private def curationSynth: Column = {
    val nt = TextDedup.normText(col("text"))
    val toks = split(nt, " ")
    val la = transform(
      transform(
        sequence(lit(0),
          greatest(floor((size(toks) - 1) / 12).cast("int"), lit(0))),
        i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12)))),
      (l, i) => when(pmod(i, lit(3)) === 0, concat(l, lit(".")))
        .otherwise(l))
    val ln = length(nt)
    val s0 = array_join(la, "\n")
    val s1 = when(pmod(ln, lit(4)) =!= 0,
      concat(s0, lit("\n" + StopSentence))).otherwise(s0)
    val s2 = when(pmod(ln, lit(19)) === 0,
      concat(s1, lit("\nlorem ipsum dolor sit amet."))).otherwise(s1)
    when(pmod(ln, lit(23)) === 0,
      concat(s2, lit("\ncode { sample }"))).otherwise(s2)
  }

  /** prep → sy → st CTE chain of the curation_e2e_v2 oracle: the
    * synthesized punctuated multi-line text plus every gate rule
    * input. Shared by curation_e2e_v2 and curation_funnel.
    */
  private lazy val CurationSynthCtes: String = {
    val stopPresent = TextAnalysis.GopherStopWords
      .map(w => s"CASE WHEN strpos(' ' || lower(text) || ' ', ' $w ') " +
        "> 0 THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""prep AS (SELECT doc_id,
       |    string_split($NormTextSql, ' ') AS t,
       |    length($NormTextSql) AS ln FROM documents),
       |sy AS (SELECT doc_id,
       |  array_to_string(list_transform(range(0, (len(t)-1)//12 + 1),
       |    i -> array_to_string(t[i*12+1:i*12+12], ' ') ||
       |      CASE WHEN i % 3 = 0 THEN '.' ELSE '' END), chr(10))
       |  || CASE WHEN ln % 4 <> 0
       |       THEN chr(10) || '$StopSentence' ELSE '' END
       |  || CASE WHEN ln % 19 = 0
       |       THEN chr(10) || 'lorem ipsum dolor sit amet.'
       |       ELSE '' END
       |  || CASE WHEN ln % 23 = 0
       |       THEN chr(10) || 'code { sample }' ELSE '' END AS text
       |  FROM prep),
       |st AS (SELECT doc_id, text,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS word_cnt,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
       |    AS nonws_chars,
       |  CAST((length(text) - length(replace(text, '#', ''))) +
       |    (length(text) - length(replace(text, '...', ''))) / 3
       |    AS BIGINT) AS symbol_cnt,
       |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(string_split(text, chr(10)), l ->
       |    starts_with(l, '- ') OR starts_with(l, '* ')
       |    OR starts_with(l, '• '))) AS BIGINT) AS bullet_lines,
       |  CAST(len(list_filter(string_split(text, chr(10)), l ->
       |    ends_with(l, '...'))) AS BIGINT) AS ellipsis_lines,
       |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
       |    AS alpha_words,
       |  CAST($stopPresent AS BIGINT) AS stop_present,
       |  CAST(length(text) - length(replace(text, '.', '')) AS BIGINT)
       |    AS n_sentences
       |  FROM sy)"""
      .stripMargin.replaceAll("\\s+", " ").trim
  }

  /** The Gopher composite over st's named columns. */
  private val GopherCondSql: String =
    "word_cnt BETWEEN 50 AND 100000 " +
      "AND nonws_chars >= word_cnt * 3 " +
      "AND nonws_chars <= word_cnt * 10 " +
      "AND symbol_cnt * 10 <= word_cnt " +
      "AND bullet_lines * 10 <= n_lines * 9 " +
      "AND ellipsis_lines * 10 <= n_lines * 3 " +
      "AND alpha_words * 10 >= word_cnt * 8 " +
      "AND stop_present >= 2"

  /** The C4 page composite over st's named columns. */
  private val PageCondSql: String =
    "length(trim(text)) > 0 AND n_sentences >= 3 " +
      "AND NOT contains(lower(text), 'lorem ipsum') " +
      "AND NOT contains(text, '{')"

  /** The C4 line clean (kept lines rejoined) over a `text` column. */
  private val C4LineCleanSql: String =
    "array_to_string(list_filter(string_split(text, chr(10)), l -> " +
      "regexp_matches(l, '[.!?\"]$') " +
      "AND len(string_split_regex(trim(l), '\\s+')) >= 5 " +
      "AND NOT contains(lower(l), 'javascript')), chr(10))"

  /** DuckDB rendition of [[Redaction.withFakePii]]'s injector —
    * shared by the pii_redact and curation_e2e oracles.
    */
  private val PiiInjSql: String =
    "(text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/d/' || " +
      "CAST(doc_id AS VARCHAR) ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.0.' || " +
      "CAST(doc_id % 100 AS VARCHAR) ELSE '' END || " +
      "CASE WHEN doc_id % 11 = 0 THEN ' call +62' || " +
      "CAST(doc_id + 1000000 AS VARCHAR) ELSE '' END)"

  /** Combining-mark suffix appended for `unicode_nfc`: decomposed
    * e+COMBINING ACUTE (U+0301) forms that NFC precomposes — the same
    * constant is rendered into the DuckDB oracle literal.
    */
  private val DecomposedSuffix = " désa été"

  private val langs = TextAnalysis.LangMarkers

  private val allMarkers = langs.flatMap(_._2)

  private val hitCols = langs.map { case (l, ms) => s"${hitsSql(ms)} AS ${l}_hits" }

  private val great = "greatest(en_hits, de_hits, fr_hits, es_hits, zh_hits)"

  private val statsCols =
    s"""CAST(length(text) AS BIGINT) AS char_len,
       | CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS word_cnt,
       | CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS tokenish_cnt,
       | CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_cnt,
       | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_cnt"""
      .stripMargin.replaceAll("\\s+", " ").trim

  val defs: Seq[QueryDef] = Seq(
    // Token/length/shape statistics.
    QueryDef("text_stats", (s, dir) =>
      TextAnalysis.tokenStats(T(s, dir, "documents")),
      (s"SELECT doc_id, $statsCols FROM documents WHERE length(trim(text)) > 0")),

    // Encoding-damage census (mojibake screen): every 7th doc gets a
    // planted UTF-8-read-as-Latin-1 suffix ("caffè"→"caffÃ¨",
    // "—"→"â€”") plus one U+FFFD; the census counts each telltale by
    // exact literal-substring occurrences (length difference — no
    // regex dialect to diverge on) and flags the disjunction. The
    // plant is rendered codepoint-for-codepoint in the oracle.
    QueryDef("mojibake_census", (s, dir) => {
      val planted = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" caffÃ¨ â€” �")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.encodingDamage(planted).orderBy("doc_id")
    },
      // the plant rendered codepoint-for-codepoint via chr(); each
      // telltale counted by the same length-difference arithmetic
      // (// = DuckDB integer division; the diffs are exact multiples).
      // The Latin-1 telltale is the ANCHORED two-char class (chr(195)
      // + continuation range, \x{..} is RE2's codepoint escape) —
      // bare chr(195) also occurs in legitimate text (ADVICE r17)
      ("""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' caff' ||
         |    chr(195) || chr(168) || ' ' || chr(226) || chr(8364) ||
         |    chr(8221) || ' ' || chr(65533)
         |  ELSE text END AS text FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) - length(replace(text, chr(65533), ''))
         |    AS BIGINT) AS n_replacement,
         |  CAST((length(text) - length(regexp_replace(text,
         |    chr(195) || '[\x{80}-\x{BF}]', '', 'g'))) // 2
         |    AS BIGINT) AS n_latin1_utf8,
         |  CAST((length(text) -
         |    length(replace(text, chr(226) || chr(8364), ''))) // 2
         |    AS BIGINT) AS n_punct_mojibake,
         |  CAST(CASE WHEN
         |    (length(text) - length(replace(text, chr(65533), ''))) +
         |    ((length(text) - length(regexp_replace(text,
         |      chr(195) || '[\x{80}-\x{BF}]', '', 'g'))) // 2) +
         |    (length(text) -
         |     length(replace(text, chr(226) || chr(8364), ''))) > 0
         |    THEN 1 ELSE 0 END AS INTEGER) AS damaged
         |FROM d ORDER BY doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Stopword-marker language identification.
    QueryDef("lang_id", (s, dir) =>
      TextAnalysis.langId(T(s, dir, "documents")),
      (s"WITH h AS (SELECT doc_id, lang, ${hitCols.mkString(", ")} FROM documents) " +
        s"SELECT doc_id, lang, CASE WHEN $great = 0 THEN 'und' " +
        s"WHEN en_hits = $great THEN 'en' WHEN de_hits = $great THEN 'de' " +
        s"WHEN fr_hits = $great THEN 'fr' WHEN es_hits = $great THEN 'es' " +
        "ELSE 'zh' END AS lang_guess, " +
        "en_hits, de_hits, fr_hits, es_hits, zh_hits FROM h")),

    // The language-ID CONFUSION MATRIX against the ground-truth lang
    // column — the table a langid owner reads before trusting the
    // gate: per (truth, guess) cell the exact doc count. One
    // aggregate over the per-row guess projection.
    QueryDef("langid_confusion", (s, dir) =>
      TextAnalysis.langId(T(s, dir, "documents"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess"),
      // the same generated guess CASE, folded to the confusion cells
      (s"WITH h AS (SELECT lang, ${hitCols.mkString(", ")} FROM documents), " +
        s"g AS (SELECT lang, CASE WHEN $great = 0 THEN 'und' " +
        s"WHEN en_hits = $great THEN 'en' WHEN de_hits = $great THEN 'de' " +
        s"WHEN fr_hits = $great THEN 'fr' WHEN es_hits = $great THEN 'es' " +
        "ELSE 'zh' END AS lang_guess FROM h) " +
        "SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n " +
        "FROM g GROUP BY 1, 2 ORDER BY 1, 2")),

    // Quality scoring with categorical verdict.
    QueryDef("quality_score", (s, dir) =>
      TextAnalysis.qualityScore(T(s, dir, "documents")),
      (s"WITH s AS (SELECT doc_id, $statsCols, " +
        s"${hitsSql(allMarkers)} AS stop_hits " +
        "FROM documents WHERE length(trim(text)) > 0) " +
        "SELECT doc_id, char_len, word_cnt, punct_cnt, digit_cnt, stop_hits, " +
        "CASE WHEN char_len < 64 THEN 'too_short' " +
        "WHEN punct_cnt * 5 > char_len THEN 'punct_noise' " +
        "WHEN digit_cnt * 5 > char_len THEN 'digit_noise' " +
        "WHEN stop_hits = 0 THEN 'no_stopwords' ELSE 'good' END AS quality FROM s")),

    // Leave-one-source-out ablation table — the mixture-design
    // question "what does the corpus look like WITHOUT this source":
    // per source its own doc/token/good-doc mass AND the
    // corpus-minus-source complements, all exact integers off ONE
    // per-source aggregate + a broadcast grand total (the complement
    // is subtraction, never a second scan per source).
    QueryDef("source_ablation", (s, dir) => {
      val docsF = T(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
      val per = docsF.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.wordCount(col("text"))).as("n_tokens"),
        sum((TextAnalysis.qualityVerdict(col("text")) === "good")
          .cast("long")).as("n_good"))
      val tot = per.agg(sum(col("n_docs")).as("t_docs"),
        sum(col("n_tokens")).as("t_tokens"),
        sum(col("n_good")).as("t_good"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_good"),
          (col("t_docs") - col("n_docs")).as("docs_without"),
          (col("t_tokens") - col("n_tokens")).as("tokens_without"),
          (col("t_good") - col("n_good")).as("good_without"))
        .orderBy("source")
    },
      // per-source masses from the same generated quality fragments;
      // complements by subtraction from the grand total
      (s"WITH s AS (SELECT source, $statsCols, " +
        s"${hitsSql(allMarkers)} AS stop_hits " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(word_cnt) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN char_len >= 64 " +
        "AND punct_cnt * 5 <= char_len AND digit_cnt * 5 <= char_len " +
        "AND stop_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good " +
        "FROM s GROUP BY source), " +
        "t AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens, " +
        "sum(n_good) AS t_good FROM g) " +
        "SELECT source, n_docs, n_tokens, n_good, " +
        "CAST(t_docs - n_docs AS BIGINT) AS docs_without, " +
        "CAST(t_tokens - n_tokens AS BIGINT) AS tokens_without, " +
        "CAST(t_good - n_good AS BIGINT) AS good_without " +
        "FROM g CROSS JOIN t ORDER BY source")),

    // Model-based quality filtering: linear classifier score over the
    // named integer feature set with the default integer weights —
    // the trained-classifier gate shape (fastText/DCLM) as a pure
    // per-row projection.
    QueryDef("quality_classifier", (s, dir) =>
      TextAnalysis.classifierScore(T(s, dir, "documents")),
      // the linear classifier replay, GENERATED from the same feature
      // fragments and weight constants the Spark side folds — the two
      // can't drift
      (s"SELECT doc_id, $ClassifierScoreSql AS score, " +
        s"CAST($ClassifierScoreSql >= 0 AS INTEGER) AS keep " +
        "FROM documents")),

    // Inter-rater agreement between the heuristic quality gate and
    // the linear classifier gate over the same non-empty universe —
    // Cohen's kappa as the exact integers it is a ratio of (the N²
    // terms in DECIMAL(38,0), shipped as digit strings per the
    // wide-decimal convention) plus the cross-multiplied κ > 0.4
    // Landis–Koch verdict. One map-side-combined global aggregate.
    QueryDef("annotator_agreement", (s, dir) => {
      // spread: both per-row classifiers otherwise run inside the
      // single-row-group scan task (cf. curation_funnel)
      val docs = spread(T(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .filter(length(trim(col("text"))) > 0)
      EvalMetrics.cohenKappa(docs,
        (TextAnalysis.qualityVerdict(col("text")) === "good")
          .cast("int"),
        TextAnalysis.classifierKeep(col("text")).cast("int"))
    },
      // both raters replayed from the same generated fragments the
      // Spark side folds (quality when-chain + classifier score);
      // kappa pieces in HUGEINT, wide values shipped as VARCHAR
      (s"""WITH s AS (SELECT doc_id, $statsCols,
         |    ${hitsSql(allMarkers)} AS stop_hits,
         |    $ClassifierScoreSql AS cscore
         |  FROM documents WHERE length(trim(text)) > 0),
         |t AS (SELECT
         |    CASE WHEN char_len < 64 THEN 0
         |      WHEN punct_cnt * 5 > char_len THEN 0
         |      WHEN digit_cnt * 5 > char_len THEN 0
         |      WHEN stop_hits = 0 THEN 0 ELSE 1 END AS a,
         |    CASE WHEN cscore >= 0 THEN 1 ELSE 0 END AS b FROM s),
         |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS HUGEINT)
         |      AS n_agree,
         |    CAST(sum(a) AS HUGEINT) AS a_pos,
         |    CAST(sum(b) AS HUGEINT) AS b_pos FROM t)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(n_agree AS BIGINT) AS n_agree,
         |  CAST(a_pos AS BIGINT) AS a_pos,
         |  CAST(b_pos AS BIGINT) AS b_pos,
         |  CAST(n * n_agree - (a_pos * b_pos + (n - a_pos) *
         |    (n - b_pos)) AS VARCHAR) AS kappa_num,
         |  CAST(n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos))
         |    AS VARCHAR) AS kappa_den,
         |  ((n * n_agree - (a_pos * b_pos + (n - a_pos) *
         |    (n - b_pos))) * 5 > (n * n - (a_pos * b_pos +
         |    (n - a_pos) * (n - b_pos))) * 2) AS substantial
         |FROM g"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Classifier-vs-gate calibration: integer score bins × Gopher
    // verdict counts — the report that places a classifier threshold
    // before it gates a corpus. Runs over the synthesized curation
    // corpus (the raw fixture fails Gopher uniformly — no stopwords —
    // so raw calibration would be a degenerate all-zero column). One
    // scan, one small-key aggregate.
    QueryDef("classifier_calibration", (s, dir) =>
      // spread: cf. curation_funnel (synthesis + classifier per row)
      TextAnalysis.classifierCalibration(
        spread(T(s, dir, "documents").select(col("doc_id"), col("text")))
          .select(col("doc_id"), curationSynth.as("text")),
        binWidth = 50L),
      // the calibration report replays both replayable signals over
      // the shared synthesized-corpus CTE (st carries text + every
      // Gopher stat) and re-aggregates: integer classifier score bins
      // vs the Gopher rule verdict
      ("WITH " + CurationSynthCtes +
        s" SELECT CAST(floor(CAST($ClassifierScoreSql AS DOUBLE) " +
        "/ 50) AS BIGINT) AS bin, count(*) AS n_docs, " +
        s"CAST(sum(CASE WHEN $GopherCondSql THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_gopher_pass FROM st GROUP BY bin")),

    // Gopher/MassiveText composite quality rules, integer-exact.
    QueryDef("gopher_quality", (s, dir) =>
      TextAnalysis.gopherQualityFilter(T(s, dir, "documents")),
      // Gopher rules replayed with the same cross-multiplied integer
      // arithmetic (no float ratios cross the engine boundary)
      (s"WITH s AS (SELECT doc_id, $WsTokOkSql AS ws_tok_ok, " +
        s"$GopherStatsSql " +
        "FROM documents WHERE length(trim(text)) > 0) " +
        s"SELECT *, $GopherRuleSql AS keep FROM s")),

    // C4 line-level cleaning. The corpus is single-line word salad
    // with no punctuation, so the input prep synthesizes the line
    // structure SQL-replayably: 12-token lines (as in line_dedup),
    // terminal '.' on every line where (doc_id + pos) % 3 == 0, and a
    // planted "javascript click right here now." line (terminal
    // punct, 5 words — dropped by the javascript rule ALONE under the
    // paper's minWords = 5 default) on doc_id % 13.
    QueryDef("c4_line_filter", (s, dir) => {
      val toks = split(TextDedup.normText(col("text")), " ")
      val la = transform(
        sequence(lit(0),
          greatest(floor((size(toks) - 1) / 12).cast("int"), lit(0))),
        i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12))))
      val punct = transform(la, (l, i) =>
        when(pmod(col("doc_id") + i, lit(3)) === 0, concat(l, lit(".")))
          .otherwise(l))
      val withJs = when(pmod(col("doc_id"), lit(13)) === 0,
        concat(array_join(punct, "\n"),
          lit("\njavascript click right here now.")))
        .otherwise(array_join(punct, "\n"))
      TextAnalysis.c4LineFilter(
        // spread: cf. curation_funnel (per-row synthesis + line gates)
        spread(T(s, dir, "documents").select(col("doc_id"), col("text")))
          .select(col("doc_id"), withJs.as("text")))
    },
      // C4 line rules replayed over the same synthesized lines.
      // Positions: DuckDB's range/generate_subscripts are 1-based vs
      // Spark's 0-based transform index, so the punctuation condition
      // uses (doc_id + i - 1) here.
      (s"""WITH toks AS (
          |  SELECT doc_id, string_split($NormTextSql, ' ') AS t
          |  FROM documents),
          |ls AS (
          |  SELECT doc_id, list_transform(range(0, (len(t)-1)//12 + 1),
          |    i -> array_to_string(t[i*12+1:i*12+12], ' ')) AS la
          |  FROM toks),
          |lp AS (SELECT doc_id, list_transform(range(1, len(la)+1),
          |  i -> CASE WHEN (doc_id + i - 1) % 3 = 0 THEN la[i] || '.'
          |       ELSE la[i] END) AS la FROM ls),
          |lj AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
          |  THEN list_append(la, 'javascript click right here now.')
          |  ELSE la END AS la FROM lp),
          |lines AS (SELECT doc_id, unnest(la) AS line,
          |  generate_subscripts(la, 1) AS pos FROM lj),
          |k AS (SELECT doc_id, line, pos,
          |  (regexp_matches(line, '[.!?"]$$') AND
          |   len(string_split_regex(trim(line), '\\s+')) >= 5 AND
          |   NOT contains(lower(line), 'javascript')) AS kept
          |  FROM lines)
          |SELECT doc_id, count(*) AS n_lines,
          |  count(*) FILTER (kept) AS kept_lines,
          |  coalesce(string_agg(line, chr(10) ORDER BY pos)
          |    FILTER (kept), '') AS clean_text
          |FROM k GROUP BY doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Document fingerprint (normalized md5).
    QueryDef("doc_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(T(s, dir, "documents")),
      (s"SELECT doc_id, md5($NormTextSql) AS fingerprint FROM documents")),

    // Greedy token-budget pack: quality verdicts map to rank 4..0
    // (good best), docs keep in (rank DESC, doc_id) order while the
    // running word_cnt total fits the budget. The budget is sized so
    // the cut lands INSIDE a bucket at both gate SFs — exercising the
    // full-keep fast path, the boundary window, and the drop path.
    QueryDef("token_budget_pack", (s, dir) => {
      val ranked = TextAnalysis.qualityScore(T(s, dir, "documents"))
        .withColumn("__r",
          when(col("quality") === "good", 4L)
            .when(col("quality") === "no_stopwords", 3L)
            .when(col("quality") === "digit_noise", 2L)
            .when(col("quality") === "punct_noise", 1L)
            .otherwise(0L))
      Sampling.tokenBudgetPack(ranked, col("__r"), col("word_cnt"),
        budget = 20000L)
    },
      // the oracle replays the pack as ONE global running sum — the
      // equivalence of the bucketed offsets + boundary-window plan to
      // the global greedy prefix is exactly what is being checked
      (s"WITH s AS (SELECT doc_id, $statsCols, " +
        s"${hitsSql(allMarkers)} AS stop_hits " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "r AS (SELECT doc_id, CASE WHEN char_len < 64 THEN 0 " +
        "WHEN punct_cnt * 5 > char_len THEN 1 " +
        "WHEN digit_cnt * 5 > char_len THEN 2 " +
        "WHEN stop_hits = 0 THEN 3 ELSE 4 END AS qrank, " +
        "word_cnt AS n_tok FROM s), " +
        "c AS (SELECT *, CAST(sum(n_tok) OVER " +
        "(ORDER BY qrank DESC, doc_id) AS BIGINT) AS cum FROM r) " +
        "SELECT doc_id, CAST(qrank AS BIGINT) AS qrank, n_tok " +
        "FROM c WHERE cum <= 20000")),

    // Integer-exact unigram surprisal (inverse-corpus-frequency bit
    // lengths) — the unigram-LM quality-filter analog, oracled
    // bit-for-bit because no float log ever materializes.
    QueryDef("unigram_surprisal", (s, dir) =>
      TextAnalysis.unigramSurprisal(T(s, dir, "documents")),
      (s"WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM " +
        s"(SELECT doc_id, unnest(string_split($NormTextSql, ' ')) AS tok " +
        "FROM documents) GROUP BY doc_id, tok), " +
        "c AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt " +
        "FROM tf GROUP BY tok), " +
        "t AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok, " +
        "CAST(sum(tf * length(bin(n_total // cnt))) AS BIGINT) " +
        "AS surprisal_bits " +
        "FROM tf JOIN c USING (tok) CROSS JOIN t GROUP BY doc_id")),

    // Bigram-LM surprisal: integer bit-length -log2 P(w|prev) under
    // the corpus MLE — formulaic continuations score low. The bigram
    // count table is NOT broadcastable at corpus scale, so counts meet
    // the per-doc rows in a shuffled (prev, w) equi-join; the left-
    // context totals derive from the count table, never the corpus.
    QueryDef("bigram_surprisal", (s, dir) =>
      TextAnalysis.bigramSurprisal(T(s, dir, "documents")),
      // identical integer arithmetic one order up: conditional
      // bit-lengths over MLE bigram counts, 1-based list indexing
      (s"""WITH t AS (
         |  SELECT doc_id, string_split($NormTextSql, ' ') AS tk
         |  FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk)), i -> {'prev': tk[i], 'w': tk[i+1]}))
         |    AS s FROM t),
         |tf AS (SELECT doc_id, s.prev AS prev, s.w AS w,
         |       count(*) AS tf FROM bg GROUP BY 1, 2, 3),
         |c AS (SELECT prev, w, CAST(sum(tf) AS BIGINT) AS c_bw
         |      FROM tf GROUP BY 1, 2),
         |cp AS (SELECT prev, CAST(sum(c_bw) AS BIGINT) AS c_prev
         |       FROM c GROUP BY 1)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(tf * length(bin(c_prev // c_bw))) AS BIGINT)
         |    AS surprisal_bits
         |FROM tf JOIN c USING (prev, w) JOIN cp USING (prev)
         |GROUP BY doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Kneser-Ney continuation counts: the exact integer tables a
    // filtering/contamination bigram LM is estimated from — count,
    // context total, context fan-out, the word's continuation count
    // (KN's "francisco" insight) and the distinct-type total; top-50
    // bigrams by count with a deterministic lexicographic tie-break.
    QueryDef("kn_continuation", (s, dir) =>
      TextAnalysis.knBigramCounts(T(s, dir, "documents"), topK = 50),
      // the same bigram extraction CTE as bigram_surprisal, reduced to
      // the four KN count tables; ORDER BY c_bw DESC with the
      // (prev, w) tie-break keeps the top-50 SET deterministic
      (s"""WITH t AS (
         |  SELECT doc_id, string_split($NormTextSql, ' ') AS tk
         |  FROM documents),
         |bgx AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk)), i -> {'prev': tk[i], 'w': tk[i+1]}))
         |    AS s FROM t),
         |bg AS (SELECT s.prev AS prev, s.w AS w FROM bgx),
         |c AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c_bw
         |  FROM bg GROUP BY 1, 2),
         |cp AS (SELECT prev, CAST(sum(c_bw) AS BIGINT) AS c_prev,
         |  count(*) AS n1p_right FROM c GROUP BY 1),
         |cw AS (SELECT w, count(*) AS n1p_left FROM c GROUP BY 1),
         |ty AS (SELECT count(*) AS bigram_types FROM c)
         |SELECT prev, w, c_bw, c_prev, n1p_right, n1p_left,
         |  bigram_types
         |FROM c JOIN cp USING (prev) JOIN cw USING (w) CROSS JOIN ty
         |ORDER BY c_bw DESC, prev, w LIMIT 50"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Rank-normalized multi-signal quality blend: decile buckets of
    // classifier score + unigram surprisal via broadcast
    // percentile_disc cutoffs (never a corpus-wide rank window).
    QueryDef("quality_blend", (s, dir) =>
      TextAnalysis.qualityBlend(T(s, dir, "documents")),
      // both signal pipelines replay, then the same nine cutoffs per
      // signal — the EXPLICIT integer nearest-rank rule k=(i*n+9)//10,
      // not quantile_disc, whose convention differs from Spark's
      // percentile_disc for some group sizes — and the strictly-below
      // bucket count
      (s"""WITH tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split($NormTextSql, ' '))
         |      AS tok FROM documents) GROUP BY doc_id, tok),
         |cg AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt
         |       FROM tf GROUP BY tok),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM tf),
         |srp AS (SELECT doc_id,
         |  CAST(sum(tf * length(bin(n_total // cnt))) AS BIGINT)
         |    AS surprisal_bits
         |  FROM tf JOIN cg USING (tok) CROSS JOIN tot GROUP BY doc_id),
         |cls AS (SELECT doc_id, $ClassifierScoreSql AS score
         |        FROM documents),
         |j AS (SELECT doc_id, score, surprisal_bits
         |      FROM cls JOIN srp USING (doc_id)),
         |ql AS (SELECT list_sort(list(score)) AS lc,
         |  list_sort(list(surprisal_bits)) AS ls FROM j),
         |q AS (SELECT
         |  list_transform(range(1, 10),
         |    i -> lc[(i * len(lc) + 9) // 10]) AS qc,
         |  list_transform(range(1, 10),
         |    i -> ls[(i * len(ls) + 9) // 10]) AS qs FROM ql)
         |SELECT doc_id,
         |  CAST(len(list_filter(qc, c -> score > c)) AS INTEGER)
         |    AS d_cls,
         |  CAST(len(list_filter(qs, c -> surprisal_bits > c))
         |    AS INTEGER) AS d_srp,
         |  CAST(len(list_filter(qc, c -> score > c)) +
         |    len(list_filter(qs, c -> surprisal_bits > c))
         |    AS INTEGER) AS blend
         |FROM j CROSS JOIN q"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Language-ID confidence margin: top1-top2 marker-vote gap and
    // the routing flag. Scan-only, one 5-int sort per row.
    QueryDef("langid_confidence", (s, dir) =>
      TextAnalysis.langIdConfidence(T(s, dir, "documents")),
      (s"WITH h AS (SELECT doc_id, ${hitCols.mkString(", ")} " +
        "FROM documents), " +
        s"h2 AS (SELECT doc_id, CASE WHEN $great = 0 THEN 'und' " +
        s"WHEN en_hits = $great THEN 'en' " +
        s"WHEN de_hits = $great THEN 'de' " +
        s"WHEN fr_hits = $great THEN 'fr' " +
        s"WHEN es_hits = $great THEN 'es' ELSE 'zh' END AS lang_guess, " +
        "list_reverse_sort([en_hits, de_hits, fr_hits, es_hits, " +
        "zh_hits]) AS l FROM h) " +
        "SELECT doc_id, lang_guess, l[1] AS top1, l[2] AS top2, " +
        "l[1] - l[2] AS margin, " +
        "CAST(l[1] > 0 AND l[1] - l[2] >= 2 AS INTEGER) AS confident " +
        "FROM h2")),

    // Per-language "dataset card" rollup — all exact integers, one
    // map-side-combined aggregate.
    QueryDef("corpus_report", (s, dir) =>
      TextAnalysis.corpusReport(T(s, dir, "documents")),
      (s"WITH h AS (SELECT doc_id, text, ${hitCols.mkString(", ")} " +
        "FROM documents), " +
        s"l AS (SELECT CASE WHEN $great = 0 THEN 'und' " +
        s"WHEN en_hits = $great THEN 'en' WHEN de_hits = $great THEN 'de' " +
        s"WHEN fr_hits = $great THEN 'fr' WHEN es_hits = $great THEN 'es' " +
        "ELSE 'zh' END AS lang_guess, " +
        "CAST(length(text) AS BIGINT) AS char_len, " +
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) " +
        "AS word_cnt FROM h) " +
        "SELECT lang_guess, count(*) AS n_docs, " +
        "CAST(sum(word_cnt) AS BIGINT) AS total_tokens, " +
        "CAST(sum(char_len) AS BIGINT) AS total_chars, " +
        "min(char_len) AS min_chars, max(char_len) AS max_chars " +
        "FROM l GROUP BY lang_guess")),

    // N-gram novelty vs a reference slice (doc_id % 20) — per-doc
    // known/total distinct-gram counts, integer-exact.
    QueryDef("ngram_novelty", (s, dir) => {
      val docs = T(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      TextDedup.ngramNovelty(docs, docs.filter(col("doc_id") % 20 === 0))
    },
      // same distinct-3-gram fragment the neardup reach CTE proves
      // equivalent to the native shingles node
      (s"WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(0, greatest(len(toks) - 3, 0) + 1), " +
        "i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram " +
        s"FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks " +
        "FROM documents)), " +
        "r AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0) " +
        "SELECT g.doc_id, count(*) AS grams_total, " +
        "CAST(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS grams_known " +
        "FROM g LEFT JOIN r ON g.gram = r.gram GROUP BY g.doc_id")),

    // Gopher-style duplicate-n-gram repetition filter (integer-exact;
    // repartition: single-file fixture, cf. minhash_candidates note).
    QueryDef("repetition_stats", (s, dir) =>
      TextAnalysis.repetitionStats(
        T(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)),
      // Bigram list built like ngram_jaccard_pairs' but NOT dedup'd —
      // the duplicate fraction is the signal.
      (s"""WITH g AS (
         |  SELECT doc_id, list_transform(
         |    range(0, greatest(len(toks) - 2, 0) + 1),
         |    i -> array_to_string(toks[i+1:i+2], ' ')) AS grams
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents))
         |SELECT doc_id,
         |  CAST(len(grams) AS BIGINT) AS total_ngrams,
         |  CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_ngrams,
         |  CASE WHEN (len(grams) - len(list_distinct(grams))) * 5
         |       > len(grams) THEN 1 ELSE 0 END AS is_repetitive
         |FROM g"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Vocabulary-growth census (Heaps'-law curve): new distinct
    // 3-grams per doc_id-range slice by FIRST occurrence, with the
    // running vocabulary size — one vocabulary-sized min-aggregate,
    // then a 10-row frame. 3-grams, not unigrams: this corpus's 31
    // unigram types all appear by doc 8 (the curve would be one
    // degenerate row), while its 16k 3-grams keep arriving through
    // the last slice — the order a tokenizer budget actually tracks.
    QueryDef("vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(T(s, dir, "documents"), buckets = 10,
        n = 3),
      // first-occurrence slices over the 3-gram set; bucket
      // arithmetic is the identical IEEE double division + floor on
      // both engines
      (s"""WITH first AS (
         |  SELECT term, min(doc_id) AS fd FROM (
         |    SELECT doc_id, unnest($ShingleSetSql) AS term
         |    FROM (SELECT doc_id,
         |      string_split($NormTextSql, ' ') AS toks
         |      FROM documents)) WHERE len(term) > 0 GROUP BY term),
         |rg AS (SELECT min(doc_id) AS lo,
         |  max(doc_id) - min(doc_id) + 1 AS span FROM documents),
         |b AS (SELECT least(CAST(floor((fd - lo) * 10 / span)
         |    AS BIGINT), 9) AS bucket, count(*) AS new_terms
         |  FROM first CROSS JOIN rg GROUP BY 1)
         |SELECT bucket, new_terms,
         |  CAST(sum(new_terms) OVER (ORDER BY bucket) AS BIGINT)
         |    AS cum_terms FROM b"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // PII scrub: RE2-compatible detect + redact chains over documents
    // with deterministic synthetic PII injected (the synthetic corpus
    // contains none) — injector replayed verbatim in the oracle.
    QueryDef("pii_redact", (s, dir) =>
      Redaction.piiScrub(Redaction.withFakePii(T(s, dir, "documents"))),
      {
        val inj = PiiInjSql
        // counts replay the Spark side: token occurrences in the
        // redacted output MINUS occurrences already in the raw text,
        // via exact length arithmetic, not regex (see piiScrub's
        // scaladoc for why the difference is exact on any input)
        def occ(src: String, tok: String) =
          s"(len($src) - len(replace($src, '$tok', ''))) // ${tok.length}"
        val countCols = Redaction.Patterns.map { case (cat, _, tok) =>
          s"CAST(${occ("redacted", tok)} - ${occ("t", tok)} " +
            s"AS BIGINT) AS n_$cat"
        }
        val redacted = Redaction.Patterns.foldLeft("t") {
          case (acc, (_, pat, tok)) =>
            s"regexp_replace($acc, '$pat', '$tok', 'g')"
        }
        s"WITH p AS (SELECT doc_id, $inj AS t FROM documents), " +
          s"r AS (SELECT doc_id, t, $redacted AS redacted FROM p) " +
          s"SELECT doc_id, ${countCols.mkString(", ")}, redacted FROM r"
      }),

    // Per-source PII exposure census — the privacy-report rollup a
    // corpus owner reads BEFORE deciding what to redact: per source
    // the exact match counts per category and how many docs carry any
    // PII at all. Counts inherit piiScrub's exact token-difference
    // arithmetic; source rides the scrub projection (no self-join).
    QueryDef("pii_census", (s, dir) =>
      Redaction.piiScrub(Redaction.withFakePii(T(s, dir, "documents")),
          carryCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_url")).as("n_url"),
          sum(col("n_email")).as("n_email"),
          sum(col("n_ip")).as("n_ip"),
          sum(col("n_phone")).as("n_phone"),
          sum(((col("n_url") + col("n_email") + col("n_ip") +
            col("n_phone")) > 0).cast("long")).as("n_docs_with_pii"))
        .orderBy("source"),
      // the same injected scrub replay, rolled up per source
      {
        val inj = PiiInjSql
        def occ(src: String, tok: String) =
          s"(len($src) - len(replace($src, '$tok', ''))) // ${tok.length}"
        val countCols = Redaction.Patterns.map { case (cat, _, tok) =>
          s"CAST(${occ("redacted", tok)} - ${occ("t", tok)} " +
            s"AS BIGINT) AS n_$cat"
        }
        val redacted = Redaction.Patterns.foldLeft("t") {
          case (acc, (_, pat, tok)) =>
            s"regexp_replace($acc, '$pat', '$tok', 'g')"
        }
        s"WITH p AS (SELECT source, $inj AS t FROM documents), " +
          s"r AS (SELECT source, t, $redacted AS redacted FROM p), " +
          s"c AS (SELECT source, ${countCols.mkString(", ")} FROM r) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n_url) AS BIGINT) AS n_url, " +
          "CAST(sum(n_email) AS BIGINT) AS n_email, " +
          "CAST(sum(n_ip) AS BIGINT) AS n_ip, " +
          "CAST(sum(n_phone) AS BIGINT) AS n_phone, " +
          "CAST(sum(CASE WHEN n_url + n_email + n_ip + n_phone > 0 " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii " +
          "FROM c GROUP BY source ORDER BY source"
      }),

    // Unicode NFC normalization (no Spark built-in — native JDK
    // Normalizer expression) over text with injected combining-mark
    // sequences; DuckDB's nfc_normalize implements the same standard
    // algorithm, giving an exact oracle.
    QueryDef("unicode_nfc", (s, dir) => {
      val raw = concat(col("text"), lit(DecomposedSuffix))
      T(s, dir, "documents").select(col("doc_id"),
        graft.functions.CurationExprs.nfcNormalize(raw).as("norm_text"),
        when(graft.functions.CurationExprs.nfcNormalize(raw) =!= raw, 1)
          .otherwise(0).as("changed"))
    },
      (s"SELECT doc_id, nfc_normalize(text || '$DecomposedSuffix') " +
        "AS norm_text, " +
        s"CAST(nfc_normalize(text || '$DecomposedSuffix') <> " +
        s"(text || '$DecomposedSuffix') AS INTEGER) AS changed " +
        "FROM documents")),

    // Compression-ratio redundancy signal (Gopher-style boilerplate
    // screen): single-shot fixed-level deflate size per document.
    // DuckDB has no zlib surface, so the deflate length itself can't
    // be replayed — instead the query emits an IN-BAND SELF-AUDIT the
    // oracle can assert: `audit_ok` folds (a) the framing bound
    // (deflate adds at most a few bytes — raw+64 is generous), (b) the
    // corpus ratio bound (this corpus compresses at most ~2.5x; bound
    // set at 50x), and (c) deterministic-repeat equality — the codec
    // run twice, the second run through the graft-owned
    // `OpaqueIdentityExpr` barrier no Catalyst rule (current or
    // future) can fold or CSE away, so the double evaluation is
    // structurally guaranteed, not dependent on Spark lacking a
    // particular simplification. The oracle expects TRUE everywhere,
    // so a broken codec path fails the hash compare instead of hiding
    // in a rows-only row. The ordering property (repetitive text
    // compresses better) stays spec-pinned.
    QueryDef("compression_signal", (s, dir) => {
      val once = graft.functions.CurationExprs.deflateSize(col("text"))
      val again = graft.functions.CurationExprs.deflateSize(
        graft.functions.CurationExprs.opaqueIdentity(col("text")))
      T(s, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("raw_len"),
        once.as("deflate_len"), again.as("deflate_len2"))
        .select(col("doc_id"), col("raw_len"),
          (col("deflate_len") <= col("raw_len") + 64 &&
            col("deflate_len") * 50 >= col("raw_len") &&
            col("deflate_len") === col("deflate_len2")).as("audit_ok"))
    },
      // zlib isn't SQL-replayable, so the oracle asserts the query's
      // in-band self-audit instead: every audit_ok must come back TRUE
      // (framing bound, ratio bound, deterministic-repeat equality)
      ("SELECT doc_id, length(text) AS raw_len, TRUE AS audit_ok " +
        "FROM documents")),

    // Quality filtering at an exact discrete percentile cutoff: keep
    // docs at or below the global p90 of n_chars. Scale shape: a tiny
    // one-row aggregate broadcast back as a filter — NOT a global
    // window sort (percent_rank over an unpartitioned window would
    // single-task the corpus at 100 TB).
    QueryDef("quantile_filter", (s, dir) => {
      val docs = T(s, dir, "documents")
      val cutoff = docs.agg(
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)")
          .as("cut"))
      docs.crossJoin(broadcast(cutoff))
        .filter(col("n_chars") <= col("cut"))
        .select(col("doc_id"), col("n_chars"))
    },
      // Spark's percentile_disc rule replayed EXPLICITLY — the
      // smallest value whose rank satisfies 10·rank >= 9·n, in integer
      // arithmetic — instead of DuckDB's quantile_disc, whose
      // nearest-rank convention ((n−1)p-based) differs from Spark's
      // for some group sizes (the qualityBlend divergence, r15
      // ADVICE). Spark's double-arithmetic boundary (smallest k with
      // k >= fl(0.9)·n) agrees with the integer rule for every
      // n < ~10^15: fl(0.9)'s relative error (2.5e-17) is under half
      // an ulp, so fl(fl(0.9)·n) == 0.9·n exactly whenever 0.9·n is
      // an integer.
      ("WITH r AS (SELECT n_chars, " +
        "row_number() OVER (ORDER BY n_chars) AS rn, " +
        "count(*) OVER () AS n FROM documents), " +
        "c AS (SELECT min(n_chars) AS cut FROM r WHERE rn * 10 >= n * 9) " +
        "SELECT doc_id, n_chars FROM documents CROSS JOIN c " +
        "WHERE n_chars <= cut")),

    // DSIR-style importance weighting toward the English slice as the
    // target distribution: per doc the integer-exact bits score
    // (source surprisal minus target surprisal over md5-hex-prefix
    // hashed gram buckets — 256 buckets, broadcast both count tables,
    // one explode -> broadcast-join -> doc aggregate; no floats).
    QueryDef("dsir_importance", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dsir.importanceBits(docs, docs.filter(col("lang") === "en"))
    },
      // per-gram importance bits replayed with the same integer
      // bit-length idiom as the surprisal oracles; the md5-hex-prefix
      // bucketing is computed identically by both engines
      (s"""WITH g AS (
         |  SELECT doc_id, substring(md5(w), 1, 2) AS bk FROM (
         |    SELECT doc_id, unnest(list_filter(
         |      string_split($NormTextSql, ' '),
         |      w -> length(w) > 0)) AS w
         |    FROM documents WHERE text IS NOT NULL)),
         |tg AS (
         |  SELECT substring(md5(w), 1, 2) AS bk, count(*) AS t_cnt
         |  FROM (
         |    SELECT unnest(list_filter(
         |      string_split($NormTextSql, ' '),
         |      w -> length(w) > 0)) AS w
         |    FROM documents WHERE text IS NOT NULL AND lang = 'en')
         |  GROUP BY 1),
         |sc AS (SELECT bk, count(*) AS s_cnt FROM g GROUP BY 1),
         |st AS (SELECT CAST(sum(s_cnt) AS BIGINT) AS s_tot FROM sc),
         |tt AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS t_tot FROM tg)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(length(bin(s_tot // s_cnt)) -
         |    CASE WHEN t_cnt IS NULL THEN 20
         |    ELSE length(bin(t_tot // t_cnt)) END) AS BIGINT)
         |    AS score_bits
         |FROM g JOIN sc USING (bk) LEFT JOIN tg USING (bk)
         |CROSS JOIN st CROSS JOIN tt
         |GROUP BY doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // The action form of the DSIR screen (the report/keep pairing
    // every dedup family here follows): resample the corpus toward
    // the target by keeping docs whose importance is non-negative,
    // reported as per-language survivor counts + surviving grams —
    // what actually changes in the training mixture.
    QueryDef("dsir_select", (s, dir) => {
      val docs = T(s, dir, "documents")
      Dsir.importanceBits(docs, docs.filter(col("lang") === "en"))
        .filter(col("score_bits") >= 0)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("n_grams")).as("kept_grams"))
    },
      // same CTE chain, reduced to the keep action's per-language
      // survivor accounting
      (s"""WITH g AS (
         |  SELECT doc_id, substring(md5(w), 1, 2) AS bk FROM (
         |    SELECT doc_id, unnest(list_filter(
         |      string_split($NormTextSql, ' '),
         |      w -> length(w) > 0)) AS w
         |    FROM documents WHERE text IS NOT NULL)),
         |tg AS (
         |  SELECT substring(md5(w), 1, 2) AS bk, count(*) AS t_cnt
         |  FROM (
         |    SELECT unnest(list_filter(
         |      string_split($NormTextSql, ' '),
         |      w -> length(w) > 0)) AS w
         |    FROM documents WHERE text IS NOT NULL AND lang = 'en')
         |  GROUP BY 1),
         |sc AS (SELECT bk, count(*) AS s_cnt FROM g GROUP BY 1),
         |st AS (SELECT CAST(sum(s_cnt) AS BIGINT) AS s_tot FROM sc),
         |tt AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS t_tot FROM tg),
         |sw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(length(bin(s_tot // s_cnt)) -
         |      CASE WHEN t_cnt IS NULL THEN 20
         |      ELSE length(bin(t_tot // t_cnt)) END) AS BIGINT)
         |      AS score_bits
         |  FROM g JOIN sc USING (bk) LEFT JOIN tg USING (bk)
         |  CROSS JOIN st CROSS JOIN tt
         |  GROUP BY doc_id)
         |SELECT lang, count(*) AS kept_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS kept_grams
         |FROM sw JOIN documents USING (doc_id)
         |WHERE score_bits >= 0 GROUP BY 1"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // DPO/RLHF preference-pair construction: per prompt group the
    // (chosen, rejected) extreme pair under a margin gate — chosen =
    // top score (ties to the smallest id), rejected = bottom score
    // (ties to the largest), both ends of ONE struct-extreme
    // aggregate; no windows, no per-prompt sorts.
    QueryDef("preference_pairs", (s, dir) =>
      Alignment.preferencePairs(
        T(s, dir, "documents").select(
          pmod(col("doc_id"), lit(97)).as("prompt_id"),
          col("doc_id").as("response_id"),
          col("n_chars").as("score")),
        minMargin = 5L),
      // the struct-extreme convention replayed as plain SQL: chosen =
      // smallest id at the max score, rejected = largest id at the min
      ("WITH r AS (SELECT doc_id % 97 AS prompt_id, " +
        "doc_id AS response_id, n_chars AS score FROM documents), " +
        "g AS (SELECT prompt_id, count(*) AS n_candidates, " +
        "max(score) AS mx, min(score) AS mn FROM r GROUP BY 1), " +
        "ch AS (SELECT r.prompt_id, min(response_id) AS chosen_id " +
        "FROM r JOIN g ON r.prompt_id = g.prompt_id " +
        "AND r.score = g.mx GROUP BY 1), " +
        "rj AS (SELECT r.prompt_id, max(response_id) AS rejected_id " +
        "FROM r JOIN g ON r.prompt_id = g.prompt_id " +
        "AND r.score = g.mn GROUP BY 1) " +
        "SELECT prompt_id, chosen_id, rejected_id, " +
        "mx - mn AS margin, n_candidates " +
        "FROM g JOIN ch USING (prompt_id) JOIN rj USING (prompt_id) " +
        "WHERE n_candidates >= 2 AND mx - mn >= 5")),

    // Exact ROUGE-2 accounting over (candidate, reference) pairs: the
    // planted every-50th-token-mutated copy against its original —
    // clipped bigram overlap, candidate and reference totals, all
    // exact integers (precision/recall are ratios of these three).
    // Spark counts 8-byte gram hashes; the oracle recounts raw gram
    // strings — the green row is also the collision audit.
    QueryDef("rouge_pair_counts", (s, dir) => {
      val docs = T(s, dir, "documents")
      EvalMetrics.rougeNCounts(
        plantedCopies(docs)
          .select((col("doc_id") - PlantOffset).as("pair_id"),
            col("text").as("cand_text"))
          .join(docs.select(col("doc_id").as("pair_id"),
            col("text").as("ref_text")), Seq("pair_id")),
        n = 2)
    },
      // clipped-count ROUGE-2 recounted on raw gram STRINGS (Spark
      // counted 8-byte xxhash64 keys — the green row is the collision
      // audit); the candidate side re-derives the planted mutation
      (s"""WITH base AS (
         |  SELECT doc_id, $NormTextSql AS nt FROM documents
         |  WHERE doc_id % $PlantMod = 0
         |    AND len(string_split($NormTextSql, ' ')) >= $PlantMinTokens),
         |sides AS (
         |  SELECT doc_id, 1 AS is_cand, string_split(regexp_replace(nt,
         |    '((?:\\S+ ){49})\\S+', '\\1zzplantzz', 'g'), ' ') AS tk
         |  FROM base
         |  UNION ALL SELECT doc_id, 0, string_split(nt, ' ') FROM base),
         |bg AS (SELECT doc_id, is_cand, unnest(list_transform(
         |    range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS g
         |  FROM sides),
         |gc AS (SELECT doc_id, g,
         |    sum(CASE WHEN is_cand = 1 THEN 1 ELSE 0 END) AS c_cnt,
         |    sum(CASE WHEN is_cand = 0 THEN 1 ELSE 0 END) AS r_cnt
         |  FROM bg GROUP BY 1, 2)
         |SELECT doc_id AS pair_id,
         |  CAST(sum(least(c_cnt, r_cnt)) AS BIGINT) AS overlap_ngrams,
         |  CAST(sum(c_cnt) AS BIGINT) AS cand_ngrams,
         |  CAST(sum(r_cnt) AS BIGINT) AS ref_ngrams
         |FROM gc GROUP BY 1"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Corpus top-50 terms by document frequency (partial-agg counts +
    // TakeOrdered top-k — never a global sort).
    QueryDef("term_doc_freq", (s, dir) =>
      TextAnalysis.termDocFreq(T(s, dir, "documents")),
      (s"SELECT term, count(*) AS df FROM (SELECT doc_id, " +
        s"unnest(list_distinct(string_split($NormTextSql, ' '))) AS term " +
        "FROM documents) GROUP BY term ORDER BY df DESC, term LIMIT 50")),

    // Eval-set decontamination: training docs (id < 480) sharing a
    // 3-gram with any benchmark doc (id >= 480), with shared-gram
    // counts. Benchmark side broadcast; no cross join.
    QueryDef("decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextDedup.contaminationHits(
        docs.filter(col("doc_id") < 480),
        docs.filter(col("doc_id") >= 480), n = 3)
    },
      // Shared distinct 3-grams per (train, eval) pair — the count via
      // list_intersect equals Spark's join-then-count over exploded
      // distinct shingles.
      (s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents))
         |SELECT t.doc_id, e.doc_id AS eval_id,
         |  CAST(len(list_intersect(t.sh, e.sh)) AS BIGINT)
         |    AS shared_ngrams
         |FROM sh t JOIN sh e
         |  ON t.doc_id < 480 AND e.doc_id >= 480
         | AND len(list_intersect(t.sh, e.sh)) > 0"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // The decontamination ACTION: training docs that survive the
    // screen (share no 3-gram with any benchmark doc) — the corpus
    // that actually ships to training. Anti-join on the distinct
    // contaminated ids.
    QueryDef("decontaminate_keep", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextDedup.decontaminateDrop(
        docs.filter(col("doc_id") < 480),
        docs.filter(col("doc_id") >= 480), n = 3)
        .select(col("doc_id"))
    },
      // the surviving corpus: NOT EXISTS over the same gram CTE
      (s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents))
         |SELECT t.doc_id FROM sh t
         |WHERE t.doc_id < 480 AND NOT EXISTS (
         |  SELECT 1 FROM sh e WHERE e.doc_id >= 480
         |    AND len(list_intersect(t.sh, e.sh)) > 0)"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // FRACTIONAL decontamination (the published large-model practice:
    // drop a training doc when a big share of its n-grams appears in
    // the benchmark UNION, not on any single shared gram): per train
    // doc the exact (grams_total, grams_known) pair plus the
    // cross-multiplied keep verdict at 20%.
    QueryDef("decontaminate_frac", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextDedup.ngramNovelty(
        docs.filter(col("doc_id") < 480),
        docs.filter(col("doc_id") >= 480), n = 3)
        .withColumn("keep",
          col("grams_known") * 100 < col("grams_total") * 20)
    },
      // the ngram_novelty replay restricted to the train/eval split,
      // plus the cross-multiplied 20% verdict
      (s"""WITH g AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(
         |      range(0, greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents) WHERE doc_id < 480),
         |r AS (SELECT DISTINCT
         |    unnest(list_distinct(list_transform(
         |      range(0, greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents) WHERE doc_id >= 480)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS grams_total,
         |  CAST(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS grams_known,
         |  (CAST(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 100 < CAST(count(*) AS BIGINT) * 20) AS keep
         |FROM g LEFT JOIN r ON g.gram = r.gram GROUP BY g.doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Contamination PROVENANCE: per benchmark doc, how many training
    // docs share grams with it, the total leakage mass, and the
    // single worst offender (group-wise argmax via the max-struct
    // idiom, ties to the smaller doc_id) — the table an eval owner
    // reads to decide whether the benchmark or the corpus moves.
    QueryDef("contamination_report", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextDedup.contaminationHits(
          docs.filter(col("doc_id") < 480),
          docs.filter(col("doc_id") >= 480), n = 3)
        .groupBy(col("eval_id"))
        .agg(count(lit(1)).as("n_contaminated_train"),
          sum(col("shared_ngrams")).as("total_shared"),
          max(struct(col("shared_ngrams"), (-col("doc_id")).as("nd")))
            .as("s"))
        .select(col("eval_id"), col("n_contaminated_train"),
          col("total_shared"),
          (-col("s.nd")).as("top_train_doc"),
          col("s.shared_ngrams").as("top_shared"))
        .orderBy("eval_id")
    },
      // the decontaminate pair replay aggregated per eval doc; the
      // worst offender via row_number (shared DESC, doc_id ASC)
      (s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len(toks) - 3, 0) + 1),
         |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split($NormTextSql, ' ') AS toks
         |        FROM documents)),
         |h AS (SELECT t.doc_id AS doc_id, e.doc_id AS eval_id,
         |    CAST(len(list_intersect(t.sh, e.sh)) AS BIGINT) AS shared
         |  FROM sh t JOIN sh e
         |    ON t.doc_id < 480 AND e.doc_id >= 480
         |   AND len(list_intersect(t.sh, e.sh)) > 0),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY eval_id
         |    ORDER BY shared DESC, doc_id ASC) AS rn FROM h),
         |ag AS (SELECT eval_id,
         |    CAST(count(*) AS BIGINT) AS n_contaminated_train,
         |    CAST(sum(shared) AS BIGINT) AS total_shared
         |  FROM h GROUP BY eval_id)
         |SELECT ag.eval_id, ag.n_contaminated_train, ag.total_shared,
         |  rk.doc_id AS top_train_doc, rk.shared AS top_shared
         |FROM ag JOIN rk ON rk.eval_id = ag.eval_id AND rk.rn = 1
         |ORDER BY ag.eval_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Per-document top-5 TF-IDF terms; integer-exact output, the IDF
    // float only orders rows (rounded to 4dp before ranking so an
    // engine ulp can't flip it).
    QueryDef("tfidf_top_terms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(T(s, dir, "documents"), k = 5),
      // Same tokenization as term_doc_freq; ln() is Spark log()'s
      // natural log; the 4dp-rounded score exists only inside ORDER BY
      // in both engines, so the compared columns stay integer-exact.
      (s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split($NormTextSql, ' '))
         |      AS term FROM documents) GROUP BY doc_id, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY round(tf * ln(n_docs / df), 4) DESC, term)
         |    AS INTEGER) AS rk
         |FROM tf JOIN df USING (term) CROSS JOIN nd
         |QUALIFY rk <= 5"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Collocation mining: top-50 adjacent-token pairs by the PMI
    // ratio c_xy·N/(c_x·c_y) — one IEEE division of exact integer
    // products, so score and top-k membership replay bit-identically;
    // the multiword-expression pass a tokenizer pipeline runs first.
    QueryDef("collocations_topk", (s, dir) =>
      TextAnalysis.collocationsTopK(T(s, dir, "documents"),
        k = 50, minCount = 5),
      // pair/unigram counts and the single-division PMI ratio replay;
      // ordering ties broken by the pair text on both sides
      (s"""WITH t AS (SELECT string_split($NormTextSql, ' ') AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |uni AS (SELECT tok AS t, count(*) AS c FROM (
         |  SELECT unnest(tk) AS tok FROM t) WHERE len(tok) > 0
         |  GROUP BY tok),
         |ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
         |bg AS (SELECT unnest(list_transform(range(1, len(tk)),
         |  i -> {'l': tk[i], 'r': tk[i+1]})) AS s FROM t),
         |pc AS (SELECT s.l AS l, s.r AS r, count(*) AS pair_cnt
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT pc.l, pc.r, CAST(pc.pair_cnt AS BIGINT) AS pair_cnt,
         |  CAST(CAST(pc.pair_cnt AS HUGEINT) * n.n_tok AS DOUBLE) /
         |    CAST(CAST(ul.c AS HUGEINT) * ur.c AS DOUBLE) AS pmi_ratio
         |FROM pc JOIN uni ul ON ul.t = pc.l
         |JOIN uni ur ON ur.t = pc.r CROSS JOIN ntok n
         |ORDER BY pmi_ratio DESC, pc.l, pc.r LIMIT 50"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Reference-LM surprisal (the CCNet perplexity-filter shape):
    // docs with doc_id % 4 == 0 form the clean reference LM; the rest
    // score against it — known bigrams at reference bit cost, unseen
    // ones at a flat OOV penalty, all exact integers.
    QueryDef("ref_surprisal", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.refBigramSurprisal(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0))
        .orderBy("doc_id")
    },
      // the reference LM's counts from the %4==0 slice; unseen
      // bigrams at the flat 20-bit OOV penalty
      (s"""WITH t AS (
         |  SELECT doc_id, string_split($NormTextSql, ' ') AS tk
         |  FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk)), i -> {'prev': tk[i], 'w': tk[i+1]}))
         |    AS s FROM t),
         |p AS (SELECT doc_id, s.prev AS prev, s.w AS w FROM bg),
         |c AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c_bw
         |      FROM p WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         |cp AS (SELECT prev, CAST(sum(c_bw) AS BIGINT) AS c_prev
         |       FROM c GROUP BY 1),
         |tf AS (SELECT doc_id, prev, w, count(*) AS tf FROM p
         |       WHERE doc_id % 4 <> 0 GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN c.c_bw IS NOT NULL THEN tf ELSE 0 END)
         |    AS BIGINT) AS known_bigrams,
         |  CAST(sum(tf * CASE WHEN c.c_bw IS NULL THEN 20
         |    ELSE length(bin(cp.c_prev // c.c_bw)) END) AS BIGINT)
         |    AS surprisal_bits
         |FROM tf LEFT JOIN c USING (prev, w)
         |LEFT JOIN cp USING (prev)
         |GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Skip-gram co-occurrence counts (window ±2, forward pairs): the
    // (center, context, dist) table a word2vec/GloVe trainer
    // consumes — both offsets generated from ONE materialized token
    // array, zero joins, one map-side-combinable count.
    QueryDef("skipgram_counts", (s, dir) =>
      TextAnalysis.skipgramCounts(T(s, dir, "documents"),
        maxDist = 2, k = 100, minCount = 5),
      // both window offsets as list_transform slices, exact counts,
      // full (cnt desc, l, r, dist) tie order at the top-k boundary
      (s"""WITH t AS (SELECT string_split($NormTextSql, ' ') AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> {'l': tk[i], 'r': tk[i+1], 'dist': 1})) AS s FROM t
         |  UNION ALL
         |  SELECT unnest(list_transform(range(1, len(tk) - 1),
         |    i -> {'l': tk[i], 'r': tk[i+2], 'dist': 2})) AS s FROM t),
         |pc AS (SELECT s.l AS l, s.r AS r,
         |  CAST(s.dist AS BIGINT) AS dist,
         |  CAST(count(*) AS BIGINT) AS pair_cnt FROM bg
         |  WHERE len(s.l) > 0 AND len(s.r) > 0
         |  GROUP BY 1, 2, 3 HAVING count(*) >= 5)
         |SELECT l, r, dist, pair_cnt FROM pc
         |ORDER BY pair_cnt DESC, l, r, dist LIMIT 100"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // The whole curation pipeline as ONE declarative plan — what a
    // user actually runs over a crawl: inject (test-only) → quality
    // gate → language gate → deterministic 50% sample → exact dedup
    // keep-first → PII redaction with exact counts. Every stage is a
    // column-level predicate/projection except the dedup window, so
    // the physical plan is scan → filter → one shuffle → project:
    // filters run BEFORE the only exchange (Catalyst pushes them into
    // the scan side), the sample thins the shuffle by half, and the
    // composition is verified end-to-end by a single CTE-chained
    // DuckDB oracle.
    QueryDef("curation_e2e", (s, dir) => {
      val docs = Redaction.withFakePii(
        T(s, dir, "documents").select("doc_id", "lang", "text"))
      // The three gates are computed as ONE projected flag rather than
      // a Filter predicate: a Project gets codegen subexpression
      // elimination (the 20 marker scans are shared between the
      // quality and language gates), a Filter predicate does not —
      // measured 2.6 s vs 1.2 s at sf0.1 for the identical logic. The
      // nondeterministic `__nd` column is the pushdown barrier
      // (PushDownPredicates won't cross a nondeterministic project),
      // and it must ALSO appear in the filter or ColumnPruning
      // removes it and the barrier with it; `__nd >= 0` is always
      // true for monotonically_increasing_id.
      val kept = docs
        .withColumn("__keep",
          TextAnalysis.qualityVerdict(col("text")) === "good" &&
            TextAnalysis.langGuess(col("text"))
              .isin("en", "de", "fr", "es") &&
            Sampling.hexBucket(col("text")) <
              lit(Sampling.thresholdHex(0.5)))
        .withColumn("__nd", monotonically_increasing_id())
        .filter(col("__keep") && col("__nd") >= 0)
        .drop("__keep", "__nd")
      Redaction.piiScrub(TextDedup.exactDedupKeepFirst(kept))
    },
      // Counts via regexp_extract_all (DuckDB's regexp_count analog);
      // the injector and the redaction chain are both rendered from
      // Redaction.Patterns / the same CASE arithmetic as withFakePii.
      // the full curation chain replayed as chained CTEs: inject →
      // quality/language/sample predicates (all integer-or-lexical
      // exact) → keep-first dedup window → redaction chain → exact
      // token-count subtraction. One oracle checks the composition.
      {
        def occ2(src: String, tok: String) =
          s"(len($src) - len(replace($src, '$tok', ''))) // ${tok.length}"
        val countCols = Redaction.Patterns.map { case (cat, _, tok) =>
          s"CAST(${occ2("redacted", tok)} - ${occ2("t", tok)} " +
            s"AS BIGINT) AS n_$cat"
        }
        val redacted = Redaction.Patterns.foldLeft("text") {
          case (acc, (_, pat, tok)) =>
            s"regexp_replace($acc, '$pat', '$tok', 'g')"
        }
        val guess = s"CASE WHEN $great = 0 THEN 'und' " +
          s"WHEN en_hits = $great THEN 'en' " +
          s"WHEN de_hits = $great THEN 'de' " +
          s"WHEN fr_hits = $great THEN 'fr' " +
          s"WHEN es_hits = $great THEN 'es' ELSE 'zh' END"
        s"WITH p AS (SELECT doc_id, $PiiInjSql AS text FROM documents), " +
          s"h AS (SELECT doc_id, text, ${hitCols.mkString(", ")}, " +
          "length(text) AS char_len, " +
          "(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS punct_cnt, " +
          "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS digit_cnt " +
          "FROM p), " +
          "g AS (SELECT doc_id, text FROM h " +
          "WHERE char_len >= 64 AND punct_cnt * 5 <= char_len " +
          "AND digit_cnt * 5 <= char_len " +
          s"AND ${hitsSql(allMarkers)} > 0 " +
          s"AND ($guess) IN ('en', 'de', 'fr', 'es') " +
          s"AND substring(md5(text), 1, 4) < '${Sampling.thresholdHex(0.5)}' " +
          s"QUALIFY row_number() OVER (PARTITION BY md5($NormTextSql) " +
          "ORDER BY doc_id) = 1), " +
          "r AS (SELECT doc_id, text AS t, " +
          s"$redacted AS redacted FROM g) " +
          s"SELECT doc_id, ${countCols.mkString(", ")}, redacted FROM r"
      }),

    // The curation pipeline upgraded to the PUBLISHED quality gates:
    // Gopher composite rules → C4 page retention → C4 line cleaning →
    // exact dedup keep-first → PII redaction, still ONE declarative
    // plan with a single shuffle. The corpus is single-line word
    // salad, so the prep synthesizes the multi-line punctuated form
    // the gates consume; every planted rule trigger (stop-word
    // sentence, lorem page, brace page) derives from the TEXT (length
    // mods), NOT doc_id, so verbatim duplicate documents remain
    // verbatim duplicates through the prep and the dedup window still
    // fires on them. Gates are projected flags behind the same
    // nondeterministic barrier as curation_e2e; the line stage uses
    // the per-row c4LineClean, so nothing before the dedup shuffles.
    QueryDef("curation_e2e_v2", (s, dir) => {
      // spread: same single-row-group-scan reasoning as curation_funnel
      val gated = spread(T(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), curationSynth.as("text"))
        .withColumn("__keep",
          TextAnalysis.gopherKeep(col("text")) &&
            TextAnalysis.c4PageKeep(col("text")))
        .withColumn("__nd", monotonically_increasing_id())
        .filter(col("__keep") && col("__nd") >= 0)
        .select(col("doc_id"),
          TextAnalysis.c4LineClean(col("text")).as("text"))
      Redaction.piiScrub(Redaction.withFakePii(
        TextDedup.exactDedupKeepFirst(gated)))
    },
      // the published-gate curation replay: synthesized punctuated
      // lines (text-derived planting), the full Gopher + C4 page rule
      // set as one WHERE, the C4 line clean as list_filter, keep-first
      // dedup, then the same injection/redaction tail as curation_e2e
      {
        def occ2(src: String, tok: String) =
          s"(len($src) - len(replace($src, '$tok', ''))) // ${tok.length}"
        val countCols = Redaction.Patterns.map { case (cat, _, tok) =>
          s"CAST(${occ2("redacted", tok)} - ${occ2("t", tok)} " +
            s"AS BIGINT) AS n_$cat"
        }
        val redacted = Redaction.Patterns.foldLeft("t") {
          case (acc, (_, pat, tok)) =>
            s"regexp_replace($acc, '$pat', '$tok', 'g')"
        }
        s"WITH $CurationSynthCtes, " +
          s"g AS (SELECT doc_id, text FROM st " +
          s"WHERE $GopherCondSql AND $PageCondSql), " +
          s"c AS (SELECT doc_id, $C4LineCleanSql AS text FROM g), " +
          "d AS (SELECT doc_id, text FROM c " +
          s"QUALIFY row_number() OVER (PARTITION BY md5($NormTextSql) " +
          "ORDER BY doc_id) = 1), " +
          s"p AS (SELECT doc_id, $PiiInjSql AS t FROM d), " +
          s"r AS (SELECT doc_id, t, $redacted AS redacted FROM p) " +
          s"SELECT doc_id, ${countCols.mkString(", ")}, redacted FROM r"
      }),

    // Per-stage survivor accounting over the same synthesized corpus —
    // the funnel a run reviews before committing drops: input →
    // gopher gate → +page gate → +non-empty line clean → post-dedup
    // distinct documents. ONE corpus scan, one partial-aggregated
    // fold; the dedup stage is a count(DISTINCT hash) over the gated
    // subset, never a second pipeline.
    QueryDef("curation_funnel", (s, dir) => {
      val gk = TextAnalysis.gopherKeep(col("text"))
      val pk = TextAnalysis.c4PageKeep(col("text"))
      val clean = TextAnalysis.c4LineClean(col("text"))
      // spread: the synthesis + all four gate expressions otherwise
      // fold into the single-row-group scan task (one core)
      spread(T(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), curationSynth.as("text"))
        .agg(
          count(lit(1)).as("n_input"),
          sum(when(gk, 1L).otherwise(0L)).as("n_gopher"),
          sum(when(gk && pk, 1L).otherwise(0L)).as("n_page"),
          sum(when(gk && pk && length(clean) > 0, 1L).otherwise(0L))
            .as("n_line_nonempty"),
          count_distinct(when(gk && pk,
            md5(TextDedup.normText(clean)))).as("n_deduped"))
    },
      // the per-stage survivor accounting over the same synthesis:
      // input → gopher → +page → +nonempty line clean → post-dedup
      // distinct, all from one scan
      {
        val normClean = NormTextSql.replace("text", "clean")
        s"WITH $CurationSynthCtes, " +
          s"cl AS (SELECT doc_id, text, $C4LineCleanSql AS clean, " +
          s"CASE WHEN $GopherCondSql THEN 1 ELSE 0 END AS gok, " +
          s"CASE WHEN $PageCondSql THEN 1 ELSE 0 END AS pok FROM st) " +
          "SELECT count(*) AS n_input, " +
          "CAST(sum(gok) AS BIGINT) AS n_gopher, " +
          "CAST(sum(CASE WHEN gok = 1 AND pok = 1 THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS n_page, " +
          "CAST(sum(CASE WHEN gok = 1 AND pok = 1 AND length(clean) > 0 " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS n_line_nonempty, " +
          "count(DISTINCT CASE WHEN gok = 1 AND pok = 1 " +
          s"THEN md5($normClean) END) AS n_deduped FROM cl"
      }),

    // Per-document curation PROVENANCE (VERDICT r19 #5, Dolma-style
    // attributes): alongside the survivor frame, every input document
    // gets its rejection reasons as flags + a bitmask (gopher=1,
    // page=2, exact_dup=4) plus informational attributes (line-clean
    // emptied; PII found on the survivor form) — the per-doc record a
    // filter-ablation study or an auditor consumes, where
    // curation_funnel only gives stage totals. By construction the
    // frame reconciles EXACTLY with the funnel (spec-pinned):
    // n_gopher = Σ(gopher_fail=0), n_page = Σ(gated),
    // n_line_nonempty = Σ(gated ∧ ¬line_empty),
    // n_deduped = Σ(survived) = curation_e2e_v2's row count.
    // Plan: one scan + the dedup-ownership hash window (the shuffle
    // the pipeline pays anyway) + a survivor-only scrub joined back.
    QueryDef("curation_attributes", (s, dir) => {
      val gk = TextAnalysis.gopherKeep(col("text"))
      val pk = TextAnalysis.c4PageKeep(col("text"))
      // spread: same single-row-group-scan reasoning as curation_funnel
      val base = spread(T(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), curationSynth.as("text"))
        .select(col("doc_id"),
          (!gk).cast("int").as("gopher_fail"),
          (!pk).cast("int").as("page_fail"),
          TextAnalysis.c4LineClean(col("text")).as("clean"))
      val gated = col("gopher_fail") === 0 && col("page_fail") === 0
      val owner = min(when(gated, col("doc_id")))
        .over(Window.partitionBy(md5(TextDedup.normText(col("clean")))))
      val attrs = base
        .withColumn("exact_dup",
          (gated && col("doc_id") =!= owner).cast("int"))
        .withColumn("line_empty",
          (gated && length(col("clean")) === 0).cast("int"))
        .withColumn("survived",
          (gated && col("exact_dup") === 0).cast("int"))
      // pii_present is ROW-LOCAL (injection is id-keyed, redaction is
      // per-row), so it rides the same projection instead of a second
      // corpus scan + join: "the redaction chain changed the injected
      // string" is exactly "some category matched" — no replacement
      // token can occur naturally mid-match or compose across a
      // boundary (Redaction.piiScrub's scaladoc argument), and the
      // CaseWhen guard runs the regex chain only on survivor rows.
      val injected =
        concat(col("clean"), Redaction.fakePiiSuffix(col("doc_id")))
      attrs
        .select(col("doc_id"), col("gopher_fail"), col("page_fail"),
          col("line_empty"), col("exact_dup"),
          (col("gopher_fail") + col("page_fail") * 2 +
            col("exact_dup") * 4).as("reject_mask"),
          col("survived"),
          when(col("survived") === 1 &&
              Redaction.redact(injected) =!= injected, 1)
            .otherwise(0).as("pii_present"))
    },
      // per-doc provenance: gates, ownership window and the survivor
      // redaction all replayed; pii_present = "the redaction chain
      // changed the injected string" (never id-mod shortcuts — raw
      // text could carry matchable spans of its own)
      {
        val redacted = Redaction.Patterns.foldLeft("t") {
          case (acc, (_, pat, tok)) =>
            s"regexp_replace($acc, '$pat', '$tok', 'g')"
        }
        val normClean = NormTextSql.replace("text", "clean")
        val injected = PiiInjSql.replace("(text ||", "(clean ||")
        s"WITH $CurationSynthCtes, " +
          s"cl AS (SELECT doc_id, $C4LineCleanSql AS clean, " +
          s"CASE WHEN $GopherCondSql THEN 0 ELSE 1 END AS gopher_fail, " +
          s"CASE WHEN $PageCondSql THEN 0 ELSE 1 END AS page_fail " +
          "FROM st), " +
          "d AS (SELECT *, CASE WHEN gopher_fail = 0 AND page_fail = 0 " +
          "THEN 1 ELSE 0 END AS gated FROM cl), " +
          "o AS (SELECT *, CASE WHEN gated = 1 AND doc_id <> " +
          "min(CASE WHEN gated = 1 THEN doc_id END) " +
          s"OVER (PARTITION BY md5($normClean)) " +
          "THEN 1 ELSE 0 END AS exact_dup FROM d), " +
          "a AS (SELECT doc_id, clean, gopher_fail, page_fail, " +
          "CASE WHEN gated = 1 AND length(clean) = 0 " +
          "THEN 1 ELSE 0 END AS line_empty, exact_dup, " +
          "CASE WHEN gated = 1 AND exact_dup = 0 " +
          "THEN 1 ELSE 0 END AS survived FROM o), " +
          s"p AS (SELECT *, $injected AS t FROM a) " +
          "SELECT doc_id, gopher_fail, page_fail, line_empty, " +
          "exact_dup, gopher_fail + page_fail * 2 + exact_dup * 4 " +
          "AS reject_mask, survived, " +
          s"CASE WHEN survived = 1 AND $redacted <> t " +
          "THEN 1 ELSE 0 END AS pii_present FROM p"
      }),

    // Kneser-Ney-backoff bigram LM filter: reference partition
    // (doc_id % 4 = 0, the ref_surprisal split) estimates the count /
    // continuation tables; every other document pays integer bits per
    // bigram — direct estimate when seen, continuation backoff when
    // the word is a known completion, flat OOV otherwise — with a
    // cross-multiplied avg-bits keep verdict.
    QueryDef("kn_perplexity", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextAnalysis.knPerplexity(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0))
    },
      // the KN tables from the % 4 = 0 reference partition, integer
      // bits per target bigram: seen → ⌊log2(c_prev/c_bw)⌋+1 via
      // length(bin(..)), backoff → continuation ratio + 2, OOV → 24
      (s"""WITH f AS (SELECT doc_id, $WsTokOkSql AS ws_tok_ok
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, string_split($NormTextSql, ' ') AS tk
         |  FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk)), i -> {'prev': tk[i], 'w': tk[i+1]}))
         |    AS s FROM t),
         |p AS (SELECT doc_id, s.prev AS prev, s.w AS w FROM bg),
         |c AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS c_bw
         |      FROM p WHERE doc_id % 4 = 0 GROUP BY 1, 2),
         |cp AS (SELECT prev, CAST(sum(c_bw) AS BIGINT) AS c_prev
         |       FROM c GROUP BY 1),
         |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1p_left
         |       FROM c GROUP BY 1),
         |ty AS (SELECT CAST(count(*) AS BIGINT) AS bigram_types
         |       FROM c),
         |tf AS (SELECT doc_id, prev, w, count(*) AS tf FROM p
         |       WHERE doc_id % 4 <> 0 GROUP BY 1, 2, 3),
         |j AS (SELECT doc_id, tf, c.c_bw, cw.n1p_left,
         |  CASE WHEN c.c_bw IS NOT NULL
         |       THEN length(bin(cp.c_prev // c.c_bw))
         |       WHEN cw.n1p_left IS NOT NULL
         |       THEN length(bin(ty.bigram_types // cw.n1p_left)) + 2
         |       ELSE 24 END AS bits
         |  FROM tf LEFT JOIN c USING (prev, w)
         |  LEFT JOIN cp USING (prev) LEFT JOIN cw USING (w)
         |  CROSS JOIN ty)
         |SELECT doc_id, f.ws_tok_ok,
         |  CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN c_bw IS NOT NULL THEN tf ELSE 0 END)
         |    AS BIGINT) AS known_bigrams,
         |  CAST(sum(CASE WHEN c_bw IS NULL AND n1p_left IS NOT NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS backoff_bigrams,
         |  CAST(sum(CASE WHEN c_bw IS NULL AND n1p_left IS NULL
         |    THEN tf ELSE 0 END) AS BIGINT) AS oov_bigrams,
         |  CAST(sum(tf * bits) AS BIGINT) AS kn_bits,
         |  CASE WHEN sum(tf * bits) * 10 <= 56 * sum(tf) THEN 1 ELSE 0
         |    END AS keep
         |FROM j JOIN f USING (doc_id) GROUP BY doc_id, f.ws_tok_ok"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Flesch / Flesch-Kincaid readability in exact milli-units:
    // sentence runs on the raw text, vowel-group "syllables" on the
    // normalized text, both scores one cross-multiplied floor
    // division — scan-shaped, no shuffle.
    QueryDef("readability_scores", (s, dir) =>
      TextAnalysis.readability(T(s, dir, "documents")),
      // cross-multiplied Flesch / FK over the common denominator
      // n_sents·n_words — floor division, milli-units
      (s"""WITH b AS (SELECT doc_id, $WsTokOkSql AS ws_tok_ok,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |    AS n_words,
         |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
         |    AS BIGINT) AS n_sents,
         |  CAST(len(regexp_extract_all($NormTextSql, '[aeiouy]+'))
         |    AS BIGINT) AS n_syll
         |  FROM documents WHERE length(trim(text)) > 0),
         |m AS (SELECT doc_id, ws_tok_ok, n_words, n_sents, n_syll,
         |  206835 - (1015 * n_words * n_words +
         |    84600 * n_syll * n_sents) // (n_sents * n_words)
         |    AS flesch_milli,
         |  (390 * n_words * n_words + 11800 * n_syll * n_sents)
         |    // (n_sents * n_words) - 15590 AS fk_grade_milli
         |  FROM b)
         |SELECT doc_id, ws_tok_ok, n_words, n_sents, n_syll,
         |  flesch_milli, fk_grade_milli,
         |  CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
         |       WHEN flesch_milli >= 70000 THEN 'easy'
         |       WHEN flesch_milli >= 50000 THEN 'medium'
         |       WHEN flesch_milli >= 30000 THEN 'hard'
         |       ELSE 'very_hard' END AS band
         |FROM m"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Corpus-concentration audit: token-budget Gini off the
    // counts-of-counts histogram + language-mix Herfindahl, both in
    // exact ppm (DECIMAL-promoted products, integral div back).
    QueryDef("corpus_inequality", (s, dir) =>
      Profiling.corpusInequality(T(s, dir, "documents")),
      // Gini off the counts-of-counts histogram (HUGEINT products ≡
      // the Spark side's DECIMAL(38,0) promotion), HHI off language
      // counts; both floor ppm
      (s"""WITH lens AS (SELECT lang,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |    AS v FROM documents WHERE length(trim(text)) > 0),
         |h AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM lens
         |      GROUP BY v),
         |cc AS (SELECT n, v,
         |  coalesce(sum(n) OVER w, 0) AS cum_n,
         |  coalesce(sum(n * v) OVER w, 0) AS cum_t
         |  FROM h WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |g AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |  CAST(sum(n * v) AS BIGINT) AS total_tokens,
         |  CAST(count(*) AS BIGINT) AS n_lengths,
         |  sum(CAST(n AS HUGEINT) * (v * cum_n - cum_t)) AS s
         |  FROM cc),
         |lc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lens
         |       GROUP BY lang),
         |hh AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
         |  sum(CAST(c AS HUGEINT) * c) AS sq,
         |  CAST(sum(c) AS BIGINT) AS nn FROM lc)
         |SELECT n_docs, total_tokens, n_lengths,
         |  CAST((s * 1000000) //
         |    (CAST(n_docs AS HUGEINT) * total_tokens) AS BIGINT)
         |    AS gini_token_ppm,
         |  n_langs,
         |  CAST((sq * 1000000) // (CAST(nn AS HUGEINT) * nn)
         |    AS BIGINT) AS hhi_lang_ppm
         |FROM g CROSS JOIN hh"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Zipf rank-frequency census: vocabulary counts folded into
    // doubling buckets (bit length of the term count) — types, token
    // mass, min/max per bucket. The corpus-health screen; no rank
    // sort, the bucket IS the rank structure.
    QueryDef("zipf_census", (s, dir) =>
      TextAnalysis.zipfCensus(T(s, dir, "documents")),
      // the doubling bucket is length(bin(cnt)) on both engines —
      // exact bit length, no float log anywhere
      (s"""WITH c AS (SELECT tok, count(*) AS cnt FROM
         |  (SELECT unnest(string_split($NormTextSql, ' ')) AS tok
         |   FROM documents) GROUP BY tok)
         |SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
         |  count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  CAST(min(cnt) AS BIGINT) AS min_cnt,
         |  CAST(max(cnt) AS BIGINT) AS max_cnt
         |FROM c GROUP BY 1"""
        .stripMargin.replaceAll("\\s+", " ").trim)))
}
