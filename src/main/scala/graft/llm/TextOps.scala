package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM training-data pipelines (SURVEY.md §2.D):
  * language ID, quality scoring, token counting, fingerprinting. All pure
  * Column expressions (codegen-friendly, no UDFs) with DuckDB twins for the
  * oracle. At 100 TB each is a single scan — embarrassingly parallel, no
  * shuffle except the final write.
  */
object TextOps {

  /** Whitespace-collapsed lowercase normal form shared by dedup/fingerprint. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " "))
  val normTextSql: String =
    "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"

  // ---------------------------------------------------------------------
  // Unicode token contract (r12 — SURVEY §4). The historical contract was
  // ASCII `[a-z0-9]+`, which tokenizes non-Latin text to almost nothing
  // and silently degrades every token-level operator on a real crawl.
  // The r12 contract, on lowercased text:
  //   - a single codepoint of a whitespace-free script (Han / Hiragana /
  //     Katakana / Hangul, and — r13 — Thai / Lao / Khmer / Myanmar) is a
  //     token by itself — whitespace-free scripts get codepoint-unigram
  //     tokens, so the existing word-shingle layer automatically yields
  //     codepoint n-grams (the Lucene-CJK indexing unit) with no special
  //     casing downstream;
  //   - otherwise a token is a maximal run of non-CJK letters (any
  //     script: Latin, Cyrillic, Greek, Arabic, …) and digits (\p{N}).
  // On pure-ASCII text this matches `[a-z0-9]+` EXACTLY (property-tested
  // over the full printable range in UnicodeTextSpec), so every existing
  // oracle stays hash-stable on the ASCII testdata; the capex family
  // (functions/TextMatch) keeps its own reference-pinned `[a-z0-9']+`.
  // Script classes spell differently per engine (Java `\p{IsHan}`, RE2
  // `\p{Han}`) but denote the same Unicode script property; `[^\P{L}…]`
  // (letter AND NOT CJK) is the intersection idiom both regex dialects
  // support inside a character class.
  // ---------------------------------------------------------------------
  // Java spellings carry an ASCII fast path INSIDE the classes (members
  // evaluate left-to-right, so `a-z`/`0-9` range checks short-circuit the
  // Unicode property lookups for ASCII chars — measured 3-4× on the
  // java.util.regex hot loop; a-z ⊂ L∖CJK and 0-9 ⊂ N, so the language is
  // unchanged). RE2 compiles properties into its DFA and needs no such
  // help, and it also does not support nested classes — the two spellings
  // denote the SAME token language (property-tested), not the same bytes.
  // r13: the unigram-script class grows beyond CJK — Thai, Lao, Khmer,
  // and Myanmar are also whitespace-free scripts, so the same
  // codepoint-unigram fallback (word-shingles become codepoint n-grams)
  // is the right segmentation unit there too. Script classes include the
  // scripts' combining marks/digits; digits stay in \p{N} runs by the
  // leftmost-first order above, marks fall through to the unigram
  // alternative in BOTH engines (single-codepoint token either way).
  private val CjkJ = "\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}" +
    "\\p{IsThai}\\p{IsLao}\\p{IsKhmer}\\p{IsMyanmar}"
  private val CjkD = "\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Hangul}" +
    "\\p{Thai}\\p{Lao}\\p{Khmer}\\p{Myanmar}"
  // ALTERNATION ORDER MATTERS in the RE2 spellings: RE2 (like Java) is
  // leftmost-FIRST, and a handful of codepoints are CJK-script AND \p{N}
  // (U+3007 IDEOGRAPHIC NUMBER ZERO, the Hangzhou numerals U+3021-3029 /
  // U+3038-303A). The Java forms put the RUN alternative first, so those
  // codepoints join \p{N} runs ('二〇〇八年' → [二, 〇〇, 八, 年]); the RE2
  // spellings must list the run alternative first too, or the oracle
  // splits them as unigrams and every toks-derived hash silently
  // diverges on CJK corpora (r12 ADVICE, verified vs duckdb 1.0.0;
  // UnicodeTextSpec pins Java-compiled RE2 spelling ≡ native kernel).
  val TokRe: String = s"[a-z0-9\\p{N}[^\\P{L}$CjkJ]]+|[$CjkJ]"
  val TokReSql: String = s"(?:[^\\P{L}$CjkD]|\\p{N})+|[$CjkD]"
  /** BPE-ish pre-segmentation (D10): CJK unigrams, letter runs, digit
    * runs, single non-alnum marks — ≡ `[a-z]+|[0-9]+|[^a-z0-9\s]` on
    * lowered ASCII (the same property test). */
  val BpeTokRe: String =
    s"[a-z[^\\P{L}$CjkJ]]+|[0-9\\p{N}]+|[$CjkJ]|[^\\p{L}\\p{N}\\s]"
  val BpeTokReSql: String = s"[^\\P{L}$CjkD]+|\\p{N}+|[$CjkD]|[^\\p{L}\\p{N}\\s]"
  /** Complement class for punctuation counting — ≡ `[a-z0-9\s]` on
    * lowered ASCII. Both engines accept this spelling verbatim. */
  val AlnumWs = "[a-z0-9\\s\\p{L}\\p{N}]"
  val AlnumWsSql = "[\\p{L}\\p{N}\\s]"

  // ASCII-row dispatch (r12 perf): java.util.regex pays per-char Unicode
  // property lookups even with the in-class fast path, and tokenization
  // is the engine's hottest inner loop — the r12 Unicode lift initially
  // inflated every tokenize-heavy bench row 30-100%. One cheap guard scan
  // (single negated-range class) routes pure-ASCII rows — the common case
  // on any Latin-dominant corpus — to the historical ASCII regexes, which
  // are EXACTLY the Unicode forms' restriction to ASCII (the
  // UnicodeTextSpec property). Branches evaluate lazily per row
  // (CaseWhen), so ASCII rows never touch a property class. The DuckDB
  // oracle keeps the single Unicode spelling: RE2's DFA pays no property
  // penalty, and the two sides agree by the same property.
  // The Spark side evaluates the token LANGUAGE through native codegen'd
  // kernels (functions/TextTokens.scala — the VecDot convention):
  // java.util.regex pays per-char Unicode property lookups (13-17× the
  // historical ASCII regex, measured), a CaseWhen dispatch around two
  // extractions breaks common-subexpression elimination (conditional
  // branches are CSE-exempt and consumers reference the token array ~5×
  // — measured text_novelty 1.1 s → 12 s), and a per-row pattern argument
  // recompiles the regex every row under codegen. The kernels are
  // property-tested ≡ the regex spellings above on arbitrary
  // mixed-script input (UnicodeTextSpec); the DuckDB oracle keeps the
  // RE2 spelling, whose DFA pays no property penalty.
  def toks(text: Column): Column =
    graft.functions.TextTokens.tokens(lower(coalesce(text, lit(""))))
  val toksSql = s"regexp_extract_all(lower(coalesce(text, '')), '$TokReSql')"

  /** BPE-ish segmentation over an already-lowered column (the D10 family
    * sites differ in null handling, so they pass their own input). */
  private[graft] def bpeSegs(lowered: Column): Column =
    graft.functions.TextTokens.bpeSegs(lowered)

  /** Count of non-alnum-non-ws codepoints of an already-lowered column
    * (≡ length(regexp_replace(lowered, AlnumWs, ''))). */
  private[graft] def punctCount(lowered: Column): Column =
    graft.functions.TextTokens.punctCount(lowered)

  /** Word 3-gram shingles; empty array below 3 tokens (guarded: Spark's
    * sequence(a,b) runs DESCENDING when b<a, unlike DuckDB range). */
  def shingles(t: Column): Column =
    when(size(t) < 3, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
  def shinglesSql(toksExpr: String): String =
    s"list_transform(range(1, greatest(len($toksExpr) - 2, 0) + 1), " +
      s"i -> ($toksExpr)[i] || ' ' || ($toksExpr)[i+1] || ' ' || ($toksExpr)[i+2])"

  // Small per-language stopword vocabularies for the n-gram/stopword
  // language-ID heuristic. Scores are plain token membership counts.
  val StopEn = Seq("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")
  val StopDe = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "auf", "ein")
  val StopFr = Seq("le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans")
  val StopEs = Seq("el", "la", "los", "de", "y", "un", "una", "es", "para", "con")
  // r12 additions — three more Latin-script languages for the stopword
  // tier (overlapping function words across Romance/Germanic languages
  // are fine: the ARGMAX decides, and ties resolve in the fixed order).
  val StopIt = Seq("il", "la", "di", "e", "che", "un", "una", "per", "con", "del")
  val StopPt = Seq("o", "a", "de", "e", "que", "um", "uma", "para", "com", "do")
  val StopNl = Seq("de", "het", "een", "en", "van", "is", "voor", "met", "op", "dat")

  /** Stopword-tier languages in tie-break (and argmax-chain) order. */
  val StopLangs: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn, "de" -> StopDe, "fr" -> StopFr, "es" -> StopEs,
    "it" -> StopIt, "pt" -> StopPt, "nl" -> StopNl)

  private[llm] def stopCount(t: Column, stops: Seq[String]): Column = {
    val arr = array(stops.map(lit): _*)
    size(filter(t, x => array_contains(arr, x)))
  }
  private[llm] def stopCountSql(toksExpr: String, stops: Seq[String]): String = {
    val arr = stops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter($toksExpr, x -> list_contains($arr, x)))"
  }

  // Script-tier detection (r12): per-script codepoint counts over the RAW
  // text — the signal for languages the stopword tier cannot see (CJK has
  // no whitespace-delimited stopwords; Cyrillic/Greek stopwords would need
  // per-language lists the script already identifies). Script classes are
  // the same Unicode properties both regex engines support (Java spells
  // them \p{IsX}, RE2 \p{X}).
  val ScriptLangs: Seq[(String, String, String, String)] = Seq(
    // (lang, column, Java class body, RE2 class body)
    ("ja", "c_kana", "\\p{IsHiragana}\\p{IsKatakana}", "\\p{Hiragana}\\p{Katakana}"),
    ("zh", "c_han", "\\p{IsHan}", "\\p{Han}"),
    ("ko", "c_hang", "\\p{IsHangul}", "\\p{Hangul}"),
    ("ru", "c_cyr", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("el", "c_el", "\\p{IsGreek}", "\\p{Greek}"),
    // r13 widening: four more script-identified languages. Arabic/Hebrew/
    // Devanagari/Thai are each dominated by one script in practice, so the
    // same ≥30%-of-letters share rule applies (Arabic script also writes
    // Persian/Urdu and Devanagari also writes Marathi etc. — 'ar'/'hi'
    // are the majority-language labels of the script tier, same coarse
    // contract as 'zh' for Han).
    ("ar", "c_arab", "\\p{IsArabic}", "\\p{Arabic}"),
    ("he", "c_heb", "\\p{IsHebrew}", "\\p{Hebrew}"),
    ("hi", "c_deva", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("th", "c_thai", "\\p{IsThai}", "\\p{Thai}"))

  private def scriptCount(clsJ: String): Column =
    length(regexp_replace(coalesce(col("text"), lit("")), s"[^$clsJ]", ""))
  private def scriptCountSql(clsD: String): String =
    s"length(regexp_replace(coalesce(text, ''), '[^$clsD]', '', 'g'))"

  /** The D8 decision rule over the per-doc signal columns, shared by D8
    * and D49 (one Column, one SQL CASE — generated from the same tables
    * so the two engines and the two operators can't drift):
    *  1. script tier, fixed order ja→zh→ko→ru→el→ar→he→hi→th: a script
    *     wins iff its
    *     codepoint count clears an exact integer share of the doc's
    *     letter codepoints (kana ≥ 10% — Japanese prose is a kanji+kana
    *     mix, so kana presence at one-tenth of letters already separates
    *     ja from zh; the others ≥ 30%) and is nonzero;
    *  2. otherwise the stopword argmax over the 7 Latin-script languages,
    *     ties in StopLangs order (en first — the historical rule).
    */
  private def langPredCol: Column = {
    ScriptLangs.foldRight(stopChain) {
      case ((lang, c, _, _), acc) =>
        val num = if (lang == "ja") 1 else 3
        when(col(c) > 0 && col(c) * 10 >= col("n_letters") * num, lang)
          .otherwise(acc)
    }
  }
  private def stopChain: Column = {
    val names = StopLangs.map { case (l, _) => l -> s"s_$l" }
    names.zipWithIndex.init.foldRight(lit(names.last._1): Column) {
      case (((lang, c), i), acc) =>
        val rest = names.drop(i + 1)
        when(rest.map(r => col(c) >= col(r._2)).reduce(_ && _), lang)
          .otherwise(acc)
    }
  }
  private def langPredSql: String = {
    val stopCases = {
      val names = StopLangs.map { case (l, _) => l -> s"s_$l" }
      names.zipWithIndex.init.map { case ((lang, c), i) =>
        val rest = names.drop(i + 1)
        s"WHEN ${rest.map(r => s"$c >= ${r._2}").mkString(" AND ")} THEN '$lang'"
      }.mkString(" ") + s" ELSE '${names.last._1}'"
    }
    val scriptCases = ScriptLangs.map { case (lang, c, _, _) =>
      val num = if (lang == "ja") 1 else 3
      s"WHEN $c > 0 AND $c * 10 >= n_letters * $num THEN '$lang'"
    }.mkString(" ")
    s"CASE $scriptCases ELSE (CASE $stopCases END) END"
  }

  /** The per-doc signal projection D8/D49 share: 7 stopword counts, 9
    * script counts (r13: +ar/he/hi/th), total letter codepoints. */
  private def langSignalCols: Seq[Column] = {
    val t = toks(col("text"))
    StopLangs.map { case (l, stops) => stopCount(t, stops).as(s"s_$l") } ++
      ScriptLangs.map { case (_, c, clsJ, _) => scriptCount(clsJ).as(c) } :+
      length(regexp_replace(coalesce(col("text"), lit("")), "[^\\p{L}]", ""))
        .as("n_letters")
  }
  private def langSignalSql: String =
    (StopLangs.map { case (l, stops) => s"${stopCountSql("toks", stops)} AS s_$l" } ++
      ScriptLangs.map { case (_, c, _, clsD) => s"${scriptCountSql(clsD)} AS $c" } :+
      s"length(regexp_replace(coalesce(text, ''), '[^\\p{L}]', '', 'g')) AS n_letters")
      .mkString(",\n      ")

  /** D8: language ID — r12 form: 7 stopword-tier Latin-script languages
    * (en/de/fr/es/it/pt/nl, token-membership argmax) + 9 script-tier
    * languages (ja/zh/ko/ru/el/ar/he/hi/th, codepoint-share thresholds) in one
    * deterministic integer decision rule (langPredCol). Still one
    * map-only scan — the signals are regex counts, the rule a CASE chain.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame =
    langidOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Frame-parametric core (spec harnesses feed synthetic docs frames). */
  private[graft] def langidOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id") +: col("text") +: langSignalCols: _*)
      .withColumn("lang_pred", langPredCol)
      .drop("text")
  val textLangidSql: String = {
    val cols = (StopLangs.map { case (l, _) => s"s_$l" } ++
      ScriptLangs.map(_._2) :+ "n_letters").mkString(", ")
    s"""SELECT doc_id, $cols, $langPredSql AS lang_pred
    FROM (SELECT doc_id, text,
      $langSignalSql
      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))"""
  }

  /** D49: language-ID confusion matrix — the evaluation pass that keeps
    * D8 honest: predicted vs labeled language counts over the corpus,
    * with per-actual-language shares in exact basis points. One scan
    * computes the same argmax D8 hash-checks, ONE partial-agg shuffle
    * bounded by LANGS² (the matrix), the share window runs over that tiny
    * table. This is how a pipeline notices a classifier regression or a
    * corpus drop whose labels disagree with content (both show up as
    * off-diagonal mass) without sampling or eyeballing.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pred = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("lang") +: col("text") +: langSignalCols: _*)
      .withColumn("lang_pred", langPredCol)
    pred.groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("share_bp", expr("n * 10000 div lang_total"))
      .select(col("lang"), col("lang_pred"), col("n"), col("share_bp"))
  }
  val langidConfusionSql: String =
    s"""SELECT lang, lang_pred, n,
      CAST(n * 10000 // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_bp
    FROM (SELECT lang, lang_pred, count(*) AS n FROM (
      SELECT lang, $langPredSql AS lang_pred
      FROM (SELECT lang, text,
        $langSignalSql
        FROM (SELECT lang, text, $toksSql AS toks FROM documents)))
      GROUP BY lang, lang_pred)"""

  /** D94 (r12): per-document script-mix profile — the ingest QC gauge
    * behind multilingual corpus routing: codepoint counts per major
    * script class (Latin, Cyrillic, Greek, Han, Kana, Hangul, and — r13 —
    * Arabic, Hebrew, Devanagari, Thai), digits, whitespace, other, and
    * the dominant script (argmax over the ten script counts, fixed tie
    * order latin>cyr>greek>han>kana>hangul>arab>heb>deva>thai; 'none'
    * when all ten are zero). Buckets are DISJOINT (script counts exclude
    * \p{N}) so they partition length(text) and n_other ≥ 0. A feed whose profile shifts — or a
    * doc whose label disagrees with its dominant script — surfaces here
    * before it degrades the token-level operators. Pure map-side regex
    * counting, zero shuffles; integer counts so the oracle matches
    * exactly.
    */
  private val ProfileScripts: Seq[(String, String, String)] = Seq(
    // (column, Java class body, RE2 class body). r13: +arab/heb/deva/thai
    // to match the widened langid script tier.
    ("n_latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("n_cyr", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("n_greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("n_han", "\\p{IsHan}", "\\p{Han}"),
    ("n_kana", "\\p{IsHiragana}\\p{IsKatakana}", "\\p{Hiragana}\\p{Katakana}"),
    ("n_hangul", "\\p{IsHangul}", "\\p{Hangul}"),
    ("n_arab", "\\p{IsArabic}", "\\p{Arabic}"),
    ("n_heb", "\\p{IsHebrew}", "\\p{Hebrew}"),
    ("n_deva", "\\p{IsDevanagari}", "\\p{Devanagari}"),
    ("n_thai", "\\p{IsThai}", "\\p{Thai}"))

  def textScriptProfile(spark: SparkSession, dir: String): DataFrame =
    textScriptProfileOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Frame-parametric core (spec harnesses feed synthetic docs frames). */
  private[graft] def textScriptProfileOf(docs: DataFrame): DataFrame = {
    val names = ProfileScripts.map(_._1)
    val mainScript = names.zipWithIndex.foldRight(lit("none"): Column) {
      case ((c, i), acc) =>
        val rest = names.drop(i + 1)
        when(col(c) > 0 &&
            rest.map(r => col(c) >= col(r)).foldLeft(lit(true): Column)(_ && _),
          c.stripPrefix("n_")).otherwise(acc)
    }
    // DISJOINT buckets (r13): a few codepoints are script-class AND
    // \p{N} (U+3007 is Han+Nl, Roman numerals U+2160-2188 are Latin+Nl,
    // Thai/Myanmar digits are Nd in their scripts), and counting them in
    // both a script column and n_digit drove n_other NEGATIVE (text "〇"
    // → n_other = -1). Script counts therefore run over the text with
    // \p{N} stripped first — every codepoint lands in exactly one of
    // {script…, digit, space, other}, so the buckets sum to length(text)
    // and n_other ≥ 0 by construction.
    val noNum = regexp_replace(coalesce(col("text"), lit("")), "\\p{N}", "")
    docs
      .select(col("doc_id") +: col("text") +:
        ProfileScripts.map { case (c, clsJ, _) =>
          length(regexp_replace(noNum, s"[^$clsJ]", "")).as(c)
        } :+
        length(regexp_replace(coalesce(col("text"), lit("")), "[^\\p{N}]", ""))
          .as("n_digit") :+
        length(regexp_replace(coalesce(col("text"), lit("")), "[^\\s]", ""))
          .as("n_space"): _*)
      .withColumn("n_other",
        length(coalesce(col("text"), lit(""))) -
          ProfileScripts.map(p => col(p._1)).reduce(_ + _) -
          col("n_digit") - col("n_space"))
      .withColumn("main_script", mainScript)
      .drop("text")
  }
  val textScriptProfileSql: String = {
    val names = ProfileScripts.map(_._1)
    val mainCases = names.zipWithIndex.map { case (c, i) =>
      val rest = names.drop(i + 1)
      val geq = (s"$c > 0" +: rest.map(r => s"$c >= $r")).mkString(" AND ")
      s"WHEN $geq THEN '${c.stripPrefix("n_")}'"
    }.mkString(" ")
    // mirror of the Spark side's strip-\p{N}-first disjoint counting
    val noNumSql = "regexp_replace(coalesce(text, ''), '\\p{N}', '', 'g')"
    val counts = ProfileScripts
      .map { case (c, _, clsD) =>
        s"length(regexp_replace($noNumSql, '[^$clsD]', '', 'g')) AS $c"
      }
      .mkString(",\n      ")
    s"""SELECT doc_id, ${names.mkString(", ")}, n_digit, n_space,
      length(coalesce(text, '')) - ${names.mkString(" - ")} - n_digit - n_space
        AS n_other,
      CASE $mainCases ELSE 'none' END AS main_script
    FROM (SELECT doc_id, text,
      $counts,
      length(regexp_replace(coalesce(text, ''), '[^\\p{N}]', '', 'g')) AS n_digit,
      length(regexp_replace(coalesce(text, ''), '[^\\s]', '', 'g')) AS n_space
      FROM documents)"""
  }

  /** The D9 quality score as ONE Column expression over a text column —
    * the same shapes textQuality computes via intermediate columns (its
    * spec-pinned single source of truth for reuse by corpus_report /
    * quality_tiers / top_docs, which need it inline in a single scan).
    */
  private[llm] def qualityExpr(text: Column): Column = {
    val t = toks(text)
    val nTokens = size(t)
    val nChars = length(text)
    val nPunct = punctCount(lower(text))
    val nStop = stopCount(t, StopEn)
    val stopRatio = when(nTokens === 0, 0.0).otherwise(nStop.cast("double") / nTokens)
    val punctRatio = when(nChars === 0, 0.0).otherwise(nPunct.cast("double") / nChars)
    stopRatio * 0.5 + (lit(1.0) - punctRatio) * 0.3 +
      least(nTokens.cast("double") / 100, lit(1.0)) * 0.2
  }
  /** DuckDB mirror of qualityExpr; `toksExpr` names a token-list column. */
  private[llm] def qualityExprSql(toksExpr: String): String =
    s"""((CASE WHEN len($toksExpr) = 0 THEN 0.0
          ELSE CAST(${stopCountSql(toksExpr, StopEn)} AS DOUBLE) / len($toksExpr) END) * 0.5
      + (1.0 - CASE WHEN length(text) = 0 THEN 0.0
          ELSE CAST(length(regexp_replace(lower(text), '$AlnumWsSql', '', 'g')) AS DOUBLE) / length(text) END) * 0.3
      + least(CAST(len($toksExpr) AS DOUBLE) / 100, 1.0) * 0.2)"""

  /** D9: quality scoring — length/punctuation/stopword ratios combined into
    * a [0,1] score. Ratios are double ops over exact integer counts, so the
    * oracle matches bit-for-bit.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      aggregate(t, lit(0), (acc, x) => acc + length(x)).as("sum_tok_len"),
      punctCount(lower(col("text"))).as("n_punct"),
      stopCount(t, StopEn).as("n_stop"))
      .withColumn("avg_token_len",
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("sum_tok_len").cast("double") / col("n_tokens")))
      .withColumn("punct_ratio",
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("n_punct").cast("double") / col("n_chars")))
      .withColumn("stop_ratio",
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens")))
      .withColumn("quality_score",
        col("stop_ratio") * 0.5 + (lit(1.0) - col("punct_ratio")) * 0.3 +
          least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.2)
  }
  val textQualitySql: String =
    s"""SELECT doc_id, n_chars, n_tokens, sum_tok_len, n_punct, n_stop,
      CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(sum_tok_len AS DOUBLE) / n_tokens END AS avg_token_len,
      CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
      CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stop_ratio,
      (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END) * 0.5
        + (1.0 - CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 0.3
        + least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.2 AS quality_score
    FROM (SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
        CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS INT) AS sum_tok_len,
        length(regexp_replace(lower(text), '$AlnumWsSql', '', 'g')) AS n_punct,
        ${stopCountSql("toks", StopEn)} AS n_stop
      FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))"""

  /** D10: token counting — whitespace runs + a BPE-ish regex segmentation. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_ws_tokens"),
      size(bpeSegs(lower(col("text")))).as("n_bpe_tokens"))
  val textTokensSql: String =
    s"""SELECT doc_id,
      len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
      len(regexp_extract_all(lower(text), '$BpeTokReSql')) AS n_bpe_tokens
    FROM documents"""

  /** D15: TF-IDF top-3 terms per document. Two aggregations (term counts
    * per doc, then document frequency over the per-doc counts) plus one
    * broadcast scalar (corpus size) — at scale the exchanges carry only
    * (doc, term) and (term) counts, already partially aggregated map-side.
    * Ranking uses the ROUNDED score in both engines (then term asc), so
    * rank order can't hinge on sub-ulp libm differences.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
    val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    // materialize tf once: both the scored join and the document-frequency
    // aggregate consume it, and without a barrier Spark executes the
    // scan+explode+aggregate subtree twice
    val tf = graft.Checkpoints.cp(
      terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    graft.operators.Relational.topK(scored, Seq(col("doc_id")),
        Seq(col("tfidf").desc, col("term").asc), 3, "rk")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"),
        col("rk").cast("bigint").as("rk"))
  }
  val textTfidfSql: String =
    s"""WITH terms AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS rk FROM scored)
    SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 3"""

  /** Char-bigram LM alphabet: a-z + digit-class '0' + space = 28 symbols
    * (ASCII-band tokens only — see lmNorm; digits collapse to '0',
    * tokens join on ' '). */
  val LmAlphabetSize = 28
  val LmNano = 1000000000L

  /** Normalized char stream the bigram LM runs over: tokens joined by
    * single spaces, digits collapsed to their class. Built FROM the token
    * array (not raw text) so both engines share one normal form with no
    * regex-dialect drift beyond the already-mirrored tokenizer.
    *
    * The LM/BPE char ALPHABET is the ASCII band [a-z0 ] (28 symbols) by
    * contract; under the r12 Unicode tokenizer, tokens carrying any
    * out-of-band codepoint are SKIPPED here (token-level filter, both
    * engines) — the char-statistics family models the ASCII band and
    * treats other scripts as out-of-alphabet, exactly like a tokenizer
    * whose byte-fallback tier is not mined. On ASCII text the filter
    * passes everything, so the stream is byte-identical to r11's.
    */
  private[graft] def lmNorm(text: Column): Column =
    regexp_replace(array_join(
      filter(toks(text), t => t.rlike("^[a-z0-9]+$")), " "), "[0-9]", "0")
  private[llm] val lmNormSql: String =
    s"regexp_replace(array_to_string(list_filter($toksSql, " +
      "t -> regexp_matches(t, '^[a-z0-9]+$')), ' '), '[0-9]', '0', 'g')"

  private[llm] def lmBigramsSql(sExpr: String): String =
    s"list_transform(range(1, greatest(length($sExpr) - 1, 0) + 1), " +
      s"i -> substr($sExpr, CAST(i AS INT), 2))"

  /** D32: corpus-trained char-bigram LM score — the CCNet-style
    * perplexity-proxy quality filter: gibberish/boilerplate scores low
    * against the corpus's own character statistics, natural prose scores
    * high. Two passes: (1) bigram counts over the whole corpus — one
    * partial-agg exchange bounded by the ALPHABET² (≤784 rows), reduced to
    * the driver exactly like a broadcast dim (this is a bounded aggregate,
    * never fact rows); (2) one map-only scoring pass where each doc folds
    * its bigram list over the baked probability-map literal — zero joins,
    * zero shuffles, whole-stage codegen.
    *
    * Deliberately LOG-FREE: per-bigram add-1 likelihoods are quantized to
    * integer nano-units with pure integer arithmetic ((c+1)·1e9 div
    * (total+V)), so per-doc sums are exact and the final mean is one
    * double division of two exact integers — bit-identical in Spark and
    * DuckDB, where ln() last-ulp differences would flake the hash gate.
    * Monotone in the geometric-mean-likelihood ranking a log-space LM
    * would give for near-uniform docs; the FILTER contract (rank docs by
    * typicality, cut a tail) is what the operator exports.
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    textLmScoreOf(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Corpus-parametric core over a (doc_id, text, …) frame.
    *
    * Hot-path engineering (measured): per-position `substring(s, i, 2)`
    * re-scans the string from byte 0 every call (UTF8String char-offset
    * walk) — O(len²) per doc — and a map-literal lookup is a linear scan
    * of all V² entries per bigram. Instead the doc is split ONCE into a
    * per-char code array (a-z → 0-25, '0' → 26, ' ' → 27; one O(len)
    * pass, barriered so project-collapse can't inline the split back into
    * per-element accesses), bigram slots are O(1) int arithmetic over it,
    * and probabilities ship as a V²-slot ARRAY literal indexed by slot.
    */
  private[graft] def textLmScoreOf(docs0: DataFrame): DataFrame = {
    val n = col("n_bigrams")
    lmDocSums(docs0).select(
      col("doc_id"), n,
      when(n > 0, col("sp").cast("double") / n).otherwise(0.0).as("typicality"))
  }

  /** Per-doc EXACT integer LM sums — (doc_id, n_bigrams, sp) where sp is
    * the Σ of nano-scaled bigram probabilities. The integer form exists so
    * aggregations over docs (D58's per-tier means) stay order-independent;
    * the public D32 typicality is sp/n over these.
    */
  private[graft] def lmDocSums(docs0: DataFrame): DataFrame =
    lmDocSums(docs0, Nil)

  /** lmDocSums carrying passthrough columns (e.g. `source` for the D93
    * per-domain aggregation) — identical math, the extras just ride the
    * per-doc projection so no second corpus join is needed.
    */
  private[graft] def lmDocSums(docs0: DataFrame, carry: Seq[String]): DataFrame = {
    val v = LmAlphabetSize
    // one O(len) pass: normalized text → per-char code array. split(s, "")
    // may emit stray empty strings at the ends depending on regex engine —
    // filter guards it; after lmNorm only [a-z0 ] chars remain.
    val codeArr = transform(
      filter(split(lmNorm(col("text")), ""), c => length(c) === 1),
      c => when(c === " ", 27).when(c === "0", 26)
        .otherwise(ascii(c) - 97).cast("int"))
    val codes = graft.Checkpoints.cp(
      docs0.select(col("doc_id") +: carry.map(col) :+ codeArr.as("codes"): _*))
    def slots(cs: Column): Column =
      when(size(cs) < 2, array().cast("array<int>"))
        .otherwise(transform(sequence(lit(1), size(cs) - 1), i =>
          element_at(cs, i) * v + element_at(cs, i + 1)))
    val counts = codes
      .select(explode(slots(col("codes"))).as("slot"))
      .groupBy(col("slot")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ V² rows
    val total = counts.valuesIterator.sum
    def pNano(c: Long): Long =
      ((BigInt(c) + 1) * LmNano / (BigInt(total) + v * v)).toLong
    val probLit = typedLit(
      (0 until v * v).map(i => pNano(counts.getOrElse(i, 0L))))
    val n = greatest(size(col("codes")) - 1, lit(0))
    val sumP = aggregate(slots(col("codes")), lit(0L),
      (acc, s) => acc + element_at(probLit, s + 1))
    codes.select(
      col("doc_id") +: carry.map(col) :+
        n.cast("bigint").as("n_bigrams") :+ sumP.as("sp"): _*)
  }
  val textLmScoreSql: String = {
    val v2 = LmAlphabetSize * LmAlphabetSize
    s"""WITH t AS (SELECT doc_id, $lmNormSql AS s FROM documents),
    bg AS (SELECT doc_id, unnest(${lmBigramsSql("s")}) AS b FROM t),
    cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    tot AS (SELECT coalesce(sum(c), 0) AS tc FROM cnt),
    probs AS (SELECT b,
        CAST((CAST(c AS HUGEINT) + 1) * $LmNano // (tc + $v2) AS BIGINT) AS p
      FROM cnt, tot),
    persum AS (
      SELECT doc_id, count(*) AS n, sum(p) AS sp
      FROM bg JOIN probs USING (b) GROUP BY doc_id)
    SELECT t.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_bigrams,
      CASE WHEN coalesce(n, 0) > 0 THEN CAST(sp AS DOUBLE) / n ELSE 0.0 END
        AS typicality
    FROM t LEFT JOIN persum USING (doc_id)"""
  }

  /** D17: repetition-based quality signals (the C4/Gopher-style filters):
    * per-document fraction of word-bigram instances that are duplicated,
    * and the share of the single most-frequent bigram. Explode → count per
    * (doc, bigram) → per-doc aggregate: both exchanges carry partially-
    * aggregated counts, the shuffle is bounded by distinct (doc, bigram)
    * pairs. Fractions are double ratios of exact integer counts, so the
    * oracle matches bit-for-bit. Docs with <2 tokens report zeros.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    // barriered token arrays (see Dedup.docsWithToks): the bigram lambda
    // must see a bound column, not the inlined tokenizer expression
    val toks = Dedup.docsWithToks(spark, dir)
    val base = toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
    val bigrams = toks.select(col("doc_id"), explode(
      when(size(col("toks")) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))))
      .as("bg"))
    val counts = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_bigrams"),
      max(col("cnt")).as("top_bigram_n"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_bigram_n"))
    base.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("dup_bigram_n"), lit(0L)).as("dup_bigram_n"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, 0.0)
          .otherwise(col("top_bigram_n").cast("double") / col("n_bigrams")))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") === 0, 0.0)
          .otherwise(col("dup_bigram_n").cast("double") / col("n_bigrams")))
  }
  val textRepetitionSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
    bg AS (SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
               i -> toks[i] || ' ' || toks[i+1])) AS bg
           FROM t),
    c AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
    agg AS (SELECT doc_id,
              CAST(sum(cnt) AS BIGINT) AS n_bigrams,
              CAST(max(cnt) AS BIGINT) AS top_bigram_n,
              CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS dup_bigram_n
            FROM c GROUP BY 1)
    SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(top_bigram_n, 0) AS top_bigram_n,
           coalesce(dup_bigram_n, 0) AS dup_bigram_n,
           CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
                ELSE CAST(top_bigram_n AS DOUBLE) / n_bigrams END AS top_bigram_frac,
           CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
                ELSE CAST(dup_bigram_n AS DOUBLE) / n_bigrams END AS dup_bigram_frac
    FROM t LEFT JOIN agg USING (doc_id)"""

  // PII patterns shared by the redaction operator and its oracle — the
  // common Java/RE2 regex subset (no backrefs/lookaround) so Spark and
  // DuckDB compile identical semantics.
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** D16: PII scrubbing — redact emails / phone numbers / IPv4s to typed
    * placeholders and count the hits per class. A pure single-pass Column
    * projection (codegen'd regexes, no UDFs, no shuffle); the testdata
    * corpus is synthetic word-soup so the counts are zero there — the
    * operator's semantics are proven on adversarial strings in
    * LlmOpsSpec, and the oracle pins engine parity of the regex subset.
    * Order matters and is fixed: emails first (their local part can
    * contain digits), then IPv4 (before phones, which would eat dotted
    * quads), then phones.
    */
  def textRedactPii(spark: SparkSession, dir: String): DataFrame =
    redactPiiOn(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Corpus-parametric core (spec harnesses feed synthetic frames). */
  private[graft] def redactPiiOn(docs: DataFrame): DataFrame = {
    val lowered = lower(coalesce(col("text"), lit("")))
    val step1 = regexp_replace(lowered, EmailRe, "<EMAIL>")
    val step2 = regexp_replace(step1, Ipv4Re, "<IP>")
    val step3 = regexp_replace(step2, PhoneRe, "<PHONE>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(lowered, lit(EmailRe), lit(0))).cast("bigint").as("n_emails"),
      size(regexp_extract_all(step1, lit(Ipv4Re), lit(0))).cast("bigint").as("n_ips"),
      size(regexp_extract_all(step2, lit(PhoneRe), lit(0))).cast("bigint").as("n_phones"),
      step3.as("redacted_text"))
  }
  val textRedactPiiSql: String =
    // DuckDB single-quoted literals keep backslashes verbatim, so the
    // shared pattern strings drop in unchanged (same as toksSql etc.)
    s"""SELECT doc_id,
      CAST(len(regexp_extract_all(lowered, '$EmailRe')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(step1, '$Ipv4Re')) AS BIGINT) AS n_ips,
      CAST(len(regexp_extract_all(step2, '$PhoneRe')) AS BIGINT) AS n_phones,
      regexp_replace(step2, '$PhoneRe', '<PHONE>', 'g') AS redacted_text
    FROM (SELECT doc_id, lowered,
            regexp_replace(lowered, '$EmailRe', '<EMAIL>', 'g') AS step1,
            regexp_replace(regexp_replace(lowered, '$EmailRe', '<EMAIL>', 'g'),
                           '$Ipv4Re', '<IP>', 'g') AS step2
          FROM (SELECT doc_id, lower(coalesce(text, '')) AS lowered FROM documents))"""

  /** D11: fingerprinting — exact md5 of the normal form plus the min-hash of
    * word shingles (a 1-component minhash: rolling content fingerprint).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(toks(col("text")))
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id").select(
      col("doc_id"),
      md5(normText(col("text")).cast("binary")).as("exact_fp"),
      array_min(transform(sh, s => md5(s.cast("binary")))).as("shingle_fp"))
  }
  val textFingerprintSql: String =
    s"""SELECT doc_id, md5($normTextSql) AS exact_fp,
      list_min(list_transform(${shinglesSql(toksSql)}, s -> md5(s))) AS shingle_fp
    FROM documents"""

  val NgramFreqTopN = 100

  /** D36: corpus n-gram frequency — the top-N word-3-grams by total
    * occurrence count. The corpus-statistics pass behind boilerplate
    * detection and contamination-index construction (the most frequent
    * shingles are the ones worth a stop-list). One explode → one partial-agg
    * count shuffle → TakeOrderedAndProject (per-partition top-N partials,
    * N rows to the driver — never a global sort of the shingle table).
    * Total order (n DESC, shingle ASC) makes the cut boundary exact.
    */
  def textNgramFreq(spark: SparkSession, dir: String): DataFrame =
    Dedup.docsWithToks(spark, dir)
      .select(explode(shingles(col("toks"))).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("shingle").asc)
      .limit(NgramFreqTopN)
  val textNgramFreqSql: String =
    s"""SELECT s AS shingle, count(*) AS n FROM (
      SELECT unnest(${shinglesSql("toks")}) AS s
      FROM (SELECT $toksSql AS toks FROM documents))
    GROUP BY s ORDER BY n DESC, s ASC LIMIT $NgramFreqTopN"""

  /** D42: text normalization — the cleaning pass that runs BEFORE hashing /
    * dedup / tokenization in a real ingest: typographic quotes and dashes
    * fold to their ASCII forms, non-printing control characters (C0 + DEL)
    * become spaces, whitespace runs collapse, edges trim. Case is
    * deliberately preserved (normalization must not destroy signal the
    * quality/langid stages read; `normText` remains the separate
    * lowercased form the dedup family keys on). A pure map-side projection:
    * zero shuffles, whole-stage codegen, byte-identical between engines
    * because every rewrite is an explicit character-class regex with no
    * locale or Unicode-normalization dependence. `changed` marks rows the
    * pass actually rewrote so an ingest can meter upstream dirtiness.
    */
  private[graft] def textNormalizeOn(docs: DataFrame): DataFrame = {
    val folded = regexp_replace(regexp_replace(regexp_replace(
      coalesce(col("text"), lit("")),
      "[‘’]", "'"), "[“”]", "\""), "[–—]", "-")
    val despaced = trim(regexp_replace(
      regexp_replace(folded, "[\\x00-\\x1F\\x7F]", " "), " +", " "))
    docs
      .select(col("doc_id"), despaced.as("text_norm"),
        (despaced =!= coalesce(col("text"), lit(""))).as("changed"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast("int"))
      .select(col("doc_id"), col("text_norm"), col("n_chars_norm"), col("changed"))
  }
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    textNormalizeOn(Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))
  val textNormalizeSql: String =
    s"""SELECT doc_id, text_norm, CAST(length(text_norm) AS INT) AS n_chars_norm,
      text_norm != coalesce(text, '') AS changed
    FROM (SELECT doc_id, text,
      trim(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(coalesce(text, ''),
          '[‘’]', '''', 'g'), '[“”]', '"', 'g'),
          '[–—]', '-', 'g'),
        '[\\x00-\\x1F\\x7F]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm
      FROM documents)"""

  /** Mined-merge-table width for the D46/D54/D59/D62 tokenizer family
    * (`graft.bpe.topMerges`, the graft.ann.* convention: read at
    * plan-construction time by BOTH the Spark encoder and the oracle-SQL
    * generators). Default 20 preserves the historical toy width; real
    * vocabularies run at hundreds of merges. Ceiling 648: token ids are
    * base 0-27 + merge ids 28+rank, and the ORACLE's fixed-width
    * two-char token band (uppercase·lowercase = 26·26 = 676 encodable
    * ids) must hold every id — the engine-side integer-array encoder has
    * no width limit of its own.
    */
  def BpeTopMerges: Int = {
    val m = graft.GraftConfig.int("graft.bpe.topMerges", 20)
    require(m >= 1 && m <= 648,
      s"graft.bpe.topMerges must be in [1, 648], got $m")
    m
  }

  /** D46: BPE merge candidates — the first vocabulary-induction step
    * (Sennrich et al. 2016): the corpus-wide most frequent ADJACENT symbol
    * pairs over the D32 char stream (a-z, digit-class '0', space), i.e.
    * the pairs a byte-pair-encoding trainer would merge first. Shares
    * D32's engineering: one barriered O(len) per-char code-array pass per
    * doc (never per-position substring — that's O(len²)), pair slots as
    * O(1) int arithmetic, ONE partial-agg shuffle bounded by the
    * ALPHABET² (≤784 distinct slots — map-side combine absorbs the
    * corpus), then TakeOrderedAndProject for the top-20 cut (exact order:
    * n DESC, pair ASC). The slot decodes back to its 2-char pair in the
    * output so the result reads as a merge table.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val v = LmAlphabetSize
    val codeArr = transform(
      filter(split(lmNorm(col("text")), ""), c => length(c) === 1),
      c => when(c === " ", 27).when(c === "0", 26)
        .otherwise(ascii(c) - 97).cast("int"))
    val codes = graft.Checkpoints.cp(
      Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
        .select(col("doc_id"), codeArr.as("codes")))
    val slots = when(size(col("codes")) < 2, array().cast("array<int>"))
      .otherwise(transform(sequence(lit(1), size(col("codes")) - 1), i =>
        element_at(col("codes"), i) * v + element_at(col("codes"), i + 1)))
    // Decode via a 28-entry literal lookup (codes 0-25 → a-z, 26 → '0',
    // 27 → ' '), staying in the Column API end to end — the previous
    // expr(s"char(${c.toString} + 97)") relied on Column.toString yielding
    // a bare resolvable name, which breaks under aliasing/qualification.
    val alphabet = array((('a' to 'z').map(_.toString) ++ Seq("0", " ")).map(lit): _*)
    def decodeChar(c: Column): Column = element_at(alphabet, (c + 1).cast("int"))
    codes.select(explode(slots).as("slot"))
      .groupBy(col("slot")).agg(count(lit(1)).as("n"))
      .withColumn("hi", expr(s"slot div $v"))
      .withColumn("lo", pmod(col("slot"), lit(v)))
      .withColumn("pair", concat(decodeChar(col("hi")), decodeChar(col("lo"))))
      .select(col("pair"), col("n"), col("slot").cast("bigint").as("slot"))
      .orderBy(col("n").desc, col("slot").asc)
      .limit(BpeTopMerges)
  }
  def bpeMergesSql: String = {
    val v = LmAlphabetSize
    def dec(e: String) =
      s"CASE WHEN $e = 27 THEN ' ' WHEN $e = 26 THEN '0' ELSE chr($e + 97) END"
    s"""WITH t AS (SELECT doc_id, $lmNormSql AS s FROM documents),
    bg AS (SELECT doc_id, unnest(${lmBigramsSql("s")}) AS b FROM t),
    cnt AS (SELECT b, count(*) AS n FROM bg GROUP BY b)
    SELECT b AS pair, n,
      CAST((CASE WHEN b[1] = ' ' THEN 27 WHEN b[1] = '0' THEN 26
             ELSE ascii(b[1]) - 97 END) * $v
        + (CASE WHEN b[2] = ' ' THEN 27 WHEN b[2] = '0' THEN 26
             ELSE ascii(b[2]) - 97 END) AS BIGINT) AS slot
    FROM cnt ORDER BY n DESC, slot ASC LIMIT $BpeTopMerges"""
  }

  /** D46b: BPE ENCODE — apply the D46-mined merge table to the corpus and
    * emit actual token ids + per-doc counts, the tokenizer-true counterpart
    * of D10's regex count (real pipelines budget tokens with the real
    * tokenizer, not a proxy). Classic single-level BPE apply: merges run in
    * mined priority order, each replacing its pair left-to-right
    * non-overlapping; a merged token leaves the base alphabet, so no later
    * char-pair rule can consume its halves — exactly `replace`'s
    * semantics in BOTH engines (Spark UTF8String.replace and DuckDB
    * replace are both leftmost-first, all occurrences), which is what
    * makes the output hash-checkable. Token ids: base chars 0-27 (D32's
    * alphabet), merge rank i → 28+i; ids serialize as CSV (the
    * embed_quantize lesson — array cells break the gate's sort).
    *
    * Scale: the merge table is a TakeOrderedAndProject of an alphabet²-
    * bounded aggregate — the collect is ≤ BpeTopMerges rows (contract-
    * bounded, like the D40 DSIR buckets), baked into the projection as
    * literals. The encode itself is then one map-only pass over the
    * corpus: no join, no shuffle, embarrassingly parallel at 100 TB.
    */
  /** The mined merge table as integer rules in priority order: (left
    * code, right code, merged id). Codes are the D32 base alphabet 0-27;
    * merge rank i mints id 28+i. The collect is ≤ BpeTopMerges rows of a
    * vocabulary²-bounded aggregate (the §5 bounded-scalar contract —
    * same class as the PQ codebook), baked into the encoder closure.
    */
  private def minedMerges(spark: SparkSession, dir: String): Array[(Int, Int, Int)] = {
    val v = LmAlphabetSize
    bpeMerges(spark, dir).select(col("slot")).collect()
      .map(_.getLong(0).toInt).zipWithIndex
      .map { case (slot, i) => (slot / v, slot % v, 28 + i) }
  }

  /** One merge rule applied to a token-id array: leftmost-first,
    * non-overlapping (a merged id is fresh, so it can never re-match the
    * same rule's left symbol within the pass) — exactly the semantics of
    * string `replace` over an unambiguous token encoding, which is what
    * the DuckDB oracle runs (and what BpeParitySpec pins against the
    * historical ≤26-merge single-char string fold).
    */
  private[llm] def applyMerge(arr: Array[Int], a: Int, b: Int, x: Int): Array[Int] = {
    if (arr.length < 2) return arr
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(arr.length)
    var i = 0
    while (i < arr.length) {
      if (i + 1 < arr.length && arr(i) == a && arr(i + 1) == b) {
        out += x; i += 2
      } else { out += arr(i); i += 1 }
    }
    out.result()
  }

  /** The full encode: merge rules replayed in mined priority order over a
    * base-code array. O(len · merges) per doc with zero allocations beyond
    * the per-pass output buffer — the shape a real tokenizer apply takes.
    */
  private[llm] def bpeEncodeIds(codes: Array[Int],
                                merges: Array[(Int, Int, Int)]): Array[Int] = {
    var cur = codes
    var i = 0
    while (i < merges.length) {
      val (a, b, x) = merges(i)
      cur = applyMerge(cur, a, b, x)
      i += 1
    }
    cur
  }

  /** The historical ≤26-merge string fold (merge rank i collapses to the
    * single placeholder char 65+i) — retained ONLY as the parity witness
    * for the integer-array encoder (BpeParitySpec): at any width ≤ 26 the
    * two produce identical token ids, which is the proof the array
    * encoder didn't change semantics when it lifted the width cap.
    */
  private[graft] def stringFoldEncodeIds(spark: SparkSession, dir: String): DataFrame = {
    require(BpeTopMerges <= 26, "placeholder band must stay within A-Z")
    val merges = bpeMerges(spark, dir).select(col("pair"))
      .collect().map(_.getString(0))
    val encoded = merges.zipWithIndex.foldLeft(lmNorm(col("text"))) {
      case (s, (p, i)) =>
        replace(s, lit(p), lit((65 + i).toChar.toString))
    }
    val ids = transform(
      filter(split(encoded, ""), c => length(c) === 1),
      c => when(c === " ", lit(27)).when(c === "0", lit(26))
        .when(ascii(c) >= 97, ascii(c) - 97)
        .otherwise(ascii(c) - 65 + 28).cast("int"))
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"),
        coalesce(size(ids).cast("bigint"), lit(0L)).as("n_tokens"),
        coalesce(array_join(transform(ids, i => i.cast("string")), ","), lit(""))
          .as("token_csv"))
  }

  /** Shared D54/D62 core: (doc_id, source, n_chars, ids) with `ids` the
    * tokenizer-true BPE token ids (base chars 0-27, merge rank i → 28+i).
    * The normalize + char→code pass stays in Column space (one O(len)
    * projection, identical to the D32/D46 machinery); the merge replay
    * runs in a typed mapPartitions with the ≤ BpeTopMerges rules baked
    * into the closure — map-only, no join, no shuffle, embarrassingly
    * parallel at 100 TB, and the width now scales to real vocabularies
    * (hundreds of merges) instead of the A-Z placeholder band's 26.
    */
  private def bpeIdsFrame(spark: SparkSession, dir: String): DataFrame =
    bpeIdsFrameOf(spark, dir,
      Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id"))

  /** Frame-parametric form: encodes `docs0` (needs doc_id, source, text)
    * under the merge table mined from DIR's full corpus — the pinned-
    * vocabulary discipline the incremental flagship leans on (a tokenizer
    * is a versioned artifact trained before the ingest, never retrained
    * per batch). */
  private[graft] def bpeIdsFrameOf(spark: SparkSession, dir: String,
                                   docs0: DataFrame): DataFrame = {
    import spark.implicits._
    val merges = minedMerges(spark, dir)
    val codeArr = transform(
      filter(split(lmNorm(col("text")), ""), c => length(c) === 1),
      c => when(c === " ", 27).when(c === "0", 26)
        .otherwise(ascii(c) - 97).cast("int"))
    docs0
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"),
        codeArr.as("codes"))
      .as[(Long, String, Array[Int])]
      .mapPartitions { it =>
        it.map { case (id, src, codes) =>
          (id, src, codes.length, bpeEncodeIds(codes, merges))
        }
      }
      .toDF("doc_id", "source", "n_chars", "ids")
  }

  def textBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeIdsFrame(spark, dir).select(
      col("doc_id"),
      size(col("ids")).cast("bigint").as("n_tokens"),
      array_join(transform(col("ids"), i => i.cast("string")), ",")
        .as("token_csv"))

  /** D54b (r11): tokenizer ROUND-TRIP gate — decode(encode(doc)) must
    * reproduce the normalized char stream EXACTLY, per document, in both
    * engines. Single-level BPE (merge pairs are base codes, minted ids
    * never re-merge) is losslessly invertible by construction, so a
    * false `roundtrip_ok` anywhere means the encoder, the merge table,
    * or the decode expansion drifted — the integrity gate a tokenizer
    * deployment runs before committing a vocabulary. Map-only (the
    * decode table is ≤ BpeTopMerges closure-baked pairs); emits exact
    * token/char counts so the gate doubles as the compression sheet.
    */
  def bpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = minedMerges(spark, dir)
    val expand: Map[Int, (Int, Int)] =
      merges.map { case (a, b, x) => x -> ((a, b)) }.toMap
    val codeArr = transform(
      filter(split(lmNorm(col("text")), ""), c => length(c) === 1),
      c => when(c === " ", 27).when(c === "0", 26)
        .otherwise(ascii(c) - 97).cast("int"))
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), codeArr.as("codes"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        it.map { case (id, codes) =>
          val ids = bpeEncodeIds(codes, merges)
          val out = new scala.collection.mutable.ArrayBuilder.ofInt
          out.sizeHint(codes.length)
          ids.foreach { i =>
            if (i < 28) out += i
            else { val (a, b) = expand(i); out += a; out += b }
          }
          (id, ids.length.toLong, codes.length.toLong,
            java.util.Arrays.equals(out.result(), codes))
        }
      }
      .toDF("doc_id", "n_tokens", "n_chars", "roundtrip_ok")
  }

  def bpeRoundtripSql: String =
    s"""WITH RECURSIVE mr AS (
      SELECT CAST(row_number() OVER (ORDER BY n DESC, slot ASC) - 1 AS INT)
               AS rank, slot
      FROM ($bpeMergesSql)),
    m AS (SELECT rank, ${encTokSql("slot // 28")} || ${encTokSql("slot % 28")} AS pat,
             ${encTokSql("28 + rank")} AS repl
          FROM mr),
    t AS (SELECT doc_id, $lmNormSql AS s FROM documents),
    e0 AS (SELECT doc_id, cl,
        array_to_string(list_transform(cl, k -> ${encTokSql("k")}), '') AS s2
      FROM (SELECT doc_id,
          list_transform(list_filter(string_split(s, ''), c -> len(c) = 1),
            c -> CASE WHEN c = ' ' THEN 27 WHEN c = '0' THEN 26
                      ELSE ascii(c) - 97 END) AS cl
        FROM t)),
    ap AS (
      SELECT doc_id, s2, 0 AS i FROM e0
      UNION ALL
      SELECT ap.doc_id, replace(ap.s2, m.pat, m.repl), ap.i + 1
      FROM ap JOIN m ON m.rank = ap.i
      WHERE ap.i < $BpeTopMerges),
    enc AS (SELECT doc_id, s2 FROM ap WHERE i = (SELECT count(*) FROM m)),
    ids AS (SELECT doc_id,
      list_transform(range(len(s2) // 2),
        i -> (ascii(substr(s2, CAST(i * 2 + 1 AS INT), 1)) - 65) * 26
           + ascii(substr(s2, CAST(i * 2 + 2 AS INT), 1)) - 97) AS l
      FROM enc),
    pl AS (SELECT list([CAST(slot // 28 AS INT), CAST(slot % 28 AS INT)]
             ORDER BY rank) AS pl
           FROM mr),
    dec AS (SELECT i.doc_id,
        flatten(list_transform(i.l,
          x -> CASE WHEN x < 28 THEN [CAST(x AS INT)] ELSE pl.pl[x - 27] END)) AS d,
        len(i.l) AS nt
      FROM ids i, pl)
    SELECT e.doc_id, CAST(d.nt AS BIGINT) AS n_tokens,
           CAST(len(e.cl) AS BIGINT) AS n_chars,
           coalesce(d.d, []) = e.cl AS roundtrip_ok
    FROM e0 e JOIN dec d USING (doc_id)"""

  /** Oracle-side fixed-width token encoding: id t (0 ≤ t < 676) →
    * chr(65 + t div 26) · chr(97 + t mod 26) — first char uppercase,
    * second lowercase, so EVERY occurrence of a two-token search pattern
    * in the encoded stream is token-aligned (an odd offset would need an
    * uppercase where only lowercase occurs), and `replace`'s
    * leftmost-first non-overlapping scan is exactly one BPE merge pass.
    * This is what lifts the oracle past 26 merges: the placeholder is a
    * fixed-width band of 676 ids, not a single A-Z char.
    */
  private def encTokSql(e: String): String =
    s"chr(CAST(65 + ($e) // 26 AS INT)) || chr(CAST(97 + ($e) % 26 AS INT))"

  def textBpeEncodeSql: String =
    s"""WITH RECURSIVE m AS (
      SELECT rank, ${encTokSql("slot // 28")} || ${encTokSql("slot % 28")} AS pat,
             ${encTokSql("28 + rank")} AS repl
      FROM (SELECT CAST(row_number() OVER (ORDER BY n DESC, slot ASC) - 1 AS INT)
                     AS rank, slot
            FROM ($bpeMergesSql))),
    t AS (SELECT doc_id, $lmNormSql AS s FROM documents),
    e0 AS (SELECT doc_id, array_to_string(list_transform(
        list_transform(list_filter(string_split(s, ''), c -> len(c) = 1),
          c -> CASE WHEN c = ' ' THEN 27 WHEN c = '0' THEN 26
                    ELSE ascii(c) - 97 END),
        k -> ${encTokSql("k")}), '') AS s2
      FROM t),
    ap AS (
      SELECT doc_id, s2, 0 AS i FROM e0
      UNION ALL
      SELECT ap.doc_id, replace(ap.s2, m.pat, m.repl), ap.i + 1
      FROM ap JOIN m ON m.rank = ap.i
      WHERE ap.i < $BpeTopMerges),
    enc AS (SELECT doc_id, s2 FROM ap WHERE i = (SELECT count(*) FROM m)),
    ids AS (SELECT doc_id,
      list_transform(range(len(s2) // 2),
        i -> (ascii(substr(s2, CAST(i * 2 + 1 AS INT), 1)) - 65) * 26
           + ascii(substr(s2, CAST(i * 2 + 2 AS INT), 1)) - 97) AS l
      FROM enc)
    SELECT doc_id, CAST(coalesce(len(l), 0) AS BIGINT) AS n_tokens,
           coalesce(array_to_string(l, ','), '') AS token_csv
    FROM ids"""

  /** D62 (r7): tokenizer coverage report — the QC gate behind "is the
    * mined BPE vocabulary actually covering this corpus": per source,
    * docs, total tokens under the mined merges, tokens that ARE merges
    * (vs byte fallbacks), the merged fraction in exact basis points, and
    * normalized-chars-per-token in exact centi-units (the compression
    * ratio a tokenizer buys — 100 = no compression). A new source whose
    * merged_bp collapses is out-of-domain for the tokenizer and shows up
    * here BEFORE it inflates training sequence lengths.
    *
    * Shape: the same integer-array merge replay as D54 (no join — merges
    * are closure-baked rules per run), all counting on the token-id array
    * (a merged token is any id ≥ 28), then ONE partial-agg shuffle
    * bounded by the source alphabet. Ratios in exact integer arithmetic,
    * zero-token sources guard to 0.
    */
  def bpeCoverage(spark: SparkSession, dir: String): DataFrame = {
    bpeIdsFrame(spark, dir)
      .select(col("source"),
        size(col("ids")).cast("bigint").as("toks"),
        size(filter(col("ids"), i => i >= 28)).cast("bigint").as("merged"),
        col("n_chars").cast("bigint").as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("merged")).as("n_merged"), sum(col("chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_merged"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(10000 * n_merged) div n_tokens")).as("merged_bp"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(100 * n_chars) div n_tokens")).as("chars_per_token_e2"))
  }

  def bpeCoverageSql: String =
    s"""WITH RECURSIVE m AS (
      SELECT rank, ${encTokSql("slot // 28")} || ${encTokSql("slot % 28")} AS pat,
             ${encTokSql("28 + rank")} AS repl
      FROM (SELECT CAST(row_number() OVER (ORDER BY n DESC, slot ASC) - 1 AS INT)
                     AS rank, slot
            FROM ($bpeMergesSql))),
    t AS (SELECT doc_id, $lmNormSql AS s FROM documents),
    e0 AS (SELECT doc_id, array_to_string(list_transform(
        list_transform(list_filter(string_split(s, ''), c -> len(c) = 1),
          c -> CASE WHEN c = ' ' THEN 27 WHEN c = '0' THEN 26
                    ELSE ascii(c) - 97 END),
        k -> ${encTokSql("k")}), '') AS s2
      FROM t),
    ap AS (
      SELECT doc_id, s2, 0 AS i FROM e0
      UNION ALL
      SELECT ap.doc_id, replace(ap.s2, m.pat, m.repl), ap.i + 1
      FROM ap JOIN m ON m.rank = ap.i
      WHERE ap.i < $BpeTopMerges),
    enc AS (SELECT doc_id, s2 FROM ap WHERE i = (SELECT count(*) FROM m)),
    ids AS (SELECT doc_id,
      list_transform(range(len(s2) // 2),
        i -> (ascii(substr(s2, CAST(i * 2 + 1 AS INT), 1)) - 65) * 26
           + ascii(substr(s2, CAST(i * 2 + 2 AS INT), 1)) - 97) AS l
      FROM enc),
    per AS (
      SELECT e.doc_id, CAST(len(e.l) AS BIGINT) AS toks,
             CAST(len(list_filter(e.l, x -> x >= 28)) AS BIGINT) AS merged,
             CAST(len(p.s) AS BIGINT) AS chars
      FROM ids e JOIN t p USING (doc_id))
    SELECT coalesce(d.source, '') AS source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(per.toks) AS BIGINT) AS n_tokens,
      CAST(sum(per.merged) AS BIGINT) AS n_merged,
      CASE WHEN sum(per.toks) = 0 THEN 0
           ELSE CAST((10000 * sum(per.merged)) // sum(per.toks) AS BIGINT) END AS merged_bp,
      CASE WHEN sum(per.toks) = 0 THEN 0
           ELSE CAST((100 * sum(per.chars)) // sum(per.toks) AS BIGINT) END AS chars_per_token_e2
    FROM per JOIN documents d USING (doc_id)
    GROUP BY 1"""

  /** Power-of-two length-bucket edges for D43 (tokens counted by the same
    * BPE-ish segmentation as D10). The top bucket is open-ended. */
  val LengthBucketEdges: Seq[Long] = Seq(0L, 1L, 32L, 64L, 128L, 256L, 512L, 1024L)

  /** D43: length-bucketed batching stats — the planning pass behind batched
    * inference / training micro-batch assembly: docs grouped into
    * power-of-two token-length buckets, with per-bucket doc count, token
    * sum, and `pad_waste` = tokens of padding a batcher would burn padding
    * every member up to its bucket ceiling (the metric that decides whether
    * bucket edges need refinement). Bucket assignment is a static CASE
    * chain (engine-exact; no float log2), so the whole operator is one
    * map-side projection + ONE partial-agg shuffle bounded by the EDGE
    * COUNT (8 rows) — nothing here scales with the corpus but the scan.
    */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(bpeSegs(lower(coalesce(col("text"), lit(""))))).cast("bigint")
    val spans = LengthBucketEdges.zip(LengthBucketEdges.tail)
    // bucket_lo is the largest edge <= n; ceiling = next edge - 1 (the top
    // bucket is open-ended: lo = last edge, zero pad by convention)
    val lo = spans.foldRight(lit(LengthBucketEdges.last)) {
      case ((e, next), acc) => when(n >= e && n < next, lit(e)).otherwise(acc)
    }
    val pad = spans.foldRight(lit(0L)) {
      case ((e, next), acc) => when(n >= e && n < next, lit(next - 1) - n).otherwise(acc)
    }
    Tables.spreadIfNarrow(Tables.documents(spark, dir), "doc_id")
      .select(lo.as("bucket_lo"), n.as("n_tokens"), pad.as("pad"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("pad")).as("pad_waste"))
  }
  val lengthBucketsSql: String = {
    val edges = LengthBucketEdges
    val loCase = edges.zip(edges.tail).map { case (e, next) =>
      s"WHEN n >= $e AND n < $next THEN $e" }.mkString(" ") +
      s" ELSE ${edges.last}"
    val padCase = edges.zip(edges.tail).map { case (e, next) =>
      s"WHEN n >= $e AND n < $next THEN ${next - 1} - n" }.mkString(" ") +
      " ELSE 0"
    s"""SELECT bucket_lo, count(*) AS n_docs,
      CAST(sum(n) AS BIGINT) AS sum_tokens, CAST(sum(pad) AS BIGINT) AS pad_waste
    FROM (SELECT CASE $loCase END AS bucket_lo, n, CASE $padCase END AS pad
      FROM (SELECT CAST(len(regexp_extract_all(lower(coalesce(text, '')),
        '$BpeTokReSql')) AS BIGINT) AS n FROM documents))
    GROUP BY bucket_lo"""
  }
}
