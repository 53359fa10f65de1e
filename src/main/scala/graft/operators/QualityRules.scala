package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Rule-based document quality gates — the GOPHER filter bundle (Rae
 * et al. 2021 "Scaling Language Models", Appendix A / the MassiveWeb
 * rules; public method, reused by RedPajama/Dolma/FineWeb): unlike
 * the trained classifier ([[QualityModel]]) or the perplexity filters
 * ([[TextModel]]), these are pure per-document heuristics a pipeline
 * runs FIRST because they are map-only and catch the cheap failure
 * modes (machine-generated symbol soup, word-salad length outliers,
 * no-stopword keyword stuffing).
 *
 * Two rule families:
 *  - [[gopher]] — the document-level rules (word counts, mean word
 *    length, symbol ratio, alpha fraction, stop-word floor);
 *  - [[lineRules]] — the LINE-level MassiveWeb/C4 rules over
 *    newline-structured text (bullet-start fraction, ellipsis-end
 *    fraction, terminal-punctuation fraction, duplicate-line
 *    fraction). The synthetic corpus carries no newlines, so the t69
 *    oracle derives a newline-bearing corpus first (the t67 idiom).
 *
 * Each family has a FRAME form ([[gopher]], [[gopherByLang]],
 * [[lineRules]], [[lineRulesByLang]]: id, measures, per-rule verdicts
 * and `pass`) and a COLUMN form ([[gopherPass]], [[lineRulesPass]]:
 * the `pass` verdict alone). Both are built from one column builder,
 * so a frame form is a single `select`. A pipeline gating on the
 * verdict adds the column form to its own projection; it never joins
 * a frame form back onto the frame it came from.
 *
 * Document rules ([[gopher]]):
 *  - word count within [minWords, maxWords];
 *  - mean word length within [minMeanLen, maxMeanLen] (characters per
 *    whitespace-delimited word);
 *  - symbol-to-word ratio (`#` plus `...` occurrences) ≤
 *    maxSymbolRatio;
 *  - fraction of words containing ≥1 alphabetic character ≥
 *    minAlphaFrac;
 *  - at least minStopwords DISTINCT members of the Gopher stop list
 *    {the, be, to, of, and, that, have, with} appear.
 *
 * Determinism: every ratio is rounded to 6 dp before the rule
 * comparison (the house boundary discipline — engine replicas agree
 * at the threshold), and the word split is the plain `\s+` of trimmed
 * raw text in both engines. Scale shape: ONE map-only projection —
 * no shuffle, no UDF, all built-in codegen expressions; at 100 TB
 * this runs at scan speed ahead of every join-bearing gate.
 */
object QualityRules {

  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** One language's Gopher rule table — what a multilingual curation
    * run configures PER LANGUAGE after routing (CCNet/Dolma apply
    * language-specific stopword lists and thresholds; word-shape rules
    * are disabled for unsegmented scripts): `stopwords` is the
    * language's own list, `minStopwords = 0` disables the floor (the
    * right configuration for a language with no curated list — the
    * rule must not silently demand ENGLISH stopwords of it), and the
    * mean-word-length / alpha bounds can be opened up for scripts
    * where whitespace "words" are not linguistic words (CJK). */
  final case class LangRules(
      stopwords: Seq[String], minStopwords: Int,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8)

  /** A rule table chosen per row: [[fixed]] applies one table to
    * every row; [[keyed]] picks each row's table by its language as a
    * literal CASE chain (no join, no broadcast, no shuffle). */
  private type Pick[R] = (R => Column) => Column
  private def fixed[R](r: R): Pick[R] = f => f(r)
  private def keyed[R](lang: Column, rules: Map[String, R], default: R): Pick[R] =
    f => rules.toSeq.sortBy(_._1).foldLeft(f(default)) {
      case (acc, (l, r)) => when(lang === l, f(r)).otherwise(acc)
    }
  // an empty list must still be a STRING array (bare array() types
  // as array<null> and fails array_intersect's type check)
  private def arrOf(ws: Seq[String]): Column =
    if (ws.isEmpty) typedlit(Seq.empty[String]) else array(ws.map(lit): _*)

  def gopher(
      docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame =
    docs.select(col(idCol) +: gopherColumns(col(textCol), fixed(LangRules(
      GopherStopwords, minStopwords, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, minAlphaFrac))): _*)

  /**
   * [[gopher]] with PER-LANGUAGE rule tables — the post-routing half
   * of a multilingual pipeline: each document is judged by ITS routed
   * language's configuration from `rules` (falling back to `default`
   * for unconfigured languages), so an English stopword floor never
   * drops a French document for lacking 'the', and a language with no
   * curated table gets the structural rules only.
   *
   * Scale shape unchanged from [[gopher]]: the |rules|-entry tables
   * enter the plan as a literal CASE chain over `langCol`, so this is
   * still ONE map-only projection — no join, no broadcast, no shuffle.
   */
  def gopherByLang(
      docs: DataFrame, idCol: String, textCol: String, langCol: String,
      rules: Map[String, LangRules], default: LangRules): DataFrame =
    docs.select(Seq(col(idCol), col(langCol)) ++
      gopherColumns(col(textCol), keyed(col(langCol), rules, default)): _*)

  /** Column form of [[gopher]]'s `pass` under one rule table: a
    * pipeline adds the verdict to its own projection instead of
    * joining the frame form back on its id. */
  def gopherPass(text: Column, rules: LangRules): Column =
    gopherColumns(text, fixed(rules)).last

  /** Column form of [[gopherByLang]]'s `pass`: each row judged by the
    * table of its `lang` value. */
  def gopherPass(
      text: Column, lang: Column,
      rules: Map[String, LangRules], default: LangRules): Column =
    gopherColumns(text, keyed(lang, rules, default)).last

  /** The measure, rule and `pass` columns of the document rules, with
    * thresholds as COLUMNS so the per-language form can key them on
    * the routed language while the one-table form passes literals. */
  private def gopherColumns(text: Column, pick: Pick[LangRules]): Seq[Column] = {
    val t = trim(text)
    def occurrences(needle: String, width: Int): Column =
      (length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(needle), ""))) / width
    val words = filter(split(t, "\\s+"), w => length(w) > 0)
    val nWords = size(words).cast("long")
    // Σ word lengths = length with ALL whitespace removed — no
    // per-word aggregate needed
    val charSum = length(regexp_replace(t, "\\s+", "")).cast("double")
    val meanLen = round(when(nWords > 0, charSum / nWords).otherwise(0.0), 6)
    val symbolRatio = round(
      when(nWords > 0,
        (occurrences("#", 1) + occurrences("...", 3)).cast("double") / nWords)
        .otherwise(0.0), 6)
    val alphaFrac = round(
      when(nWords > 0,
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
        .otherwise(0.0), 6)
    val nStop = size(array_intersect(
      array_distinct(transform(words, w => lower(w))),
      pick(r => arrOf(r.stopwords)))).cast("long")
    val rules = Seq(
      "pass_words" ->
        (nWords >= pick(r => lit(r.minWords)) && nWords <= pick(r => lit(r.maxWords))),
      "pass_mean_len" ->
        (meanLen >= pick(r => lit(r.minMeanLen)) && meanLen <= pick(r => lit(r.maxMeanLen))),
      "pass_symbols" -> (symbolRatio <= pick(r => lit(r.maxSymbolRatio))),
      "pass_alpha" -> (alphaFrac >= pick(r => lit(r.minAlphaFrac))),
      "pass_stopwords" -> (nStop >= pick(r => lit(r.minStopwords))))
    Seq(nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaFrac.as("alpha_frac"),
        nStop.as("n_stopwords")) ++
      rules.map { case (name, rule) => rule.as(name) } :+
      rules.map(_._2).reduce(_ && _).as("pass")
  }

  /**
   * LINE-level quality rules — the MassiveWeb line heuristics (Rae et
   * al. 2021 Appendix A) plus C4's terminal-punctuation rule
   * (Raffel et al. 2020 §2.2) lifted to a document-level fraction,
   * plus the duplicate-line fraction (the boilerplate signal behind
   * nav bars / cookie banners):
   *  - fraction of lines starting with a bullet ("- ", "* ", "• ") ≤
   *    maxBulletFrac (Gopher drops docs >90% bulleted);
   *  - fraction of lines ending in an ellipsis ("..." or "…") ≤
   *    maxEllipsisFrac (Gopher: 30%);
   *  - fraction of lines ending in terminal punctuation (./!/?/"/”)
   *    ≥ minTerminalFrac (C4 keeps only such lines; as a document
   *    gate, a mostly-unterminated doc is dropped);
   *  - duplicate-line fraction (1 − distinct/total) ≤ maxDupFrac.
   *
   * Lines are the '\n' splits of the raw text, trimmed, empties
   * dropped. Every fraction is rounded to 6 dp before its rule
   * comparison (the house boundary discipline). Scale shape: ONE
   * map-only projection — all built-in codegen collection
   * expressions, no shuffle, no UDF; runs at scan speed next to
   * [[gopher]] ahead of every join-bearing gate.
   */
  /** The default (Latin-script) line-terminal character set — C4's
    * rule (Raffel et al. 2020 §2.2). */
  val LatinTerminals: Seq[String] = Seq(".", "!", "?", "\"", "”")

  /** One language's line-rule configuration — the line-level twin of
    * [[LangRules]]: the TERMINAL-PUNCTUATION set is script-specific
    * (CJK full-width 。！？ vs the Latin set), and each threshold can
    * be opened per language. */
  final case class LineLangRules(
      terminalChars: Seq[String] = LatinTerminals,
      minTerminalFrac: Double = 0.5,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      maxDupFrac: Double = 0.3)

  def lineRules(
      docs: DataFrame, idCol: String, textCol: String,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minTerminalFrac: Double = 0.5, maxDupFrac: Double = 0.3): DataFrame =
    docs.select(col(idCol) +: lineRulesColumns(col(textCol), fixed(LineLangRules(
      LatinTerminals, minTerminalFrac, maxBulletFrac, maxEllipsisFrac, maxDupFrac))): _*)

  /** [[lineRules]] with PER-LANGUAGE tables — each document judged by
    * ITS language's terminal set and thresholds (a CJK document's
    * lines end in 。！？, which the Latin set would score as
    * unterminated boilerplate). Same map-only literal-CASE dispatch
    * as [[gopherByLang]]: no join, no shuffle. */
  def lineRulesByLang(
      docs: DataFrame, idCol: String, textCol: String, langCol: String,
      rules: Map[String, LineLangRules], default: LineLangRules): DataFrame =
    docs.select(Seq(col(idCol), col(langCol)) ++
      lineRulesColumns(col(textCol), keyed(col(langCol), rules, default)): _*)

  /** Column form of [[lineRules]]' `pass` under one rule table (see
    * [[gopherPass]]). */
  def lineRulesPass(text: Column, rules: LineLangRules): Column =
    lineRulesColumns(text, fixed(rules)).last

  /** Column form of [[lineRulesByLang]]'s `pass`. */
  def lineRulesPass(
      text: Column, lang: Column,
      rules: Map[String, LineLangRules], default: LineLangRules): Column =
    lineRulesColumns(text, keyed(lang, rules, default)).last

  /** The measure, rule and `pass` columns of the line rules —
    * thresholds and the terminal set arrive as COLUMNS (see
    * [[gopherColumns]]). */
  private def lineRulesColumns(text: Column, pick: Pick[LineLangRules]): Seq[Column] = {
    val lines = filter(
      transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    val n = size(lines).cast("long")
    def frac(pred: Column => Column): Column =
      round(when(n > 0, size(filter(lines, pred)).cast("double") / n)
        .otherwise(0.0), 6)
    val terminalArr = pick(r => arrOf(r.terminalChars))
    val bulletFrac = frac(l => substring(l, 1, 2).isin("- ", "* ", "• "))
    val ellipsisFrac = frac(l => l.endsWith("...") || l.endsWith("…"))
    val terminalFrac = frac(l => array_contains(terminalArr, substring(l, -1, 1)))
    val dupFrac = round(
      when(n > 0,
        (n - size(array_distinct(lines))).cast("double") / n).otherwise(0.0), 6)
    val rules = Seq(
      "pass_bullets" -> (bulletFrac <= pick(r => lit(r.maxBulletFrac))),
      "pass_ellipsis" -> (ellipsisFrac <= pick(r => lit(r.maxEllipsisFrac))),
      "pass_terminal" -> (terminalFrac >= pick(r => lit(r.minTerminalFrac))),
      "pass_dup_lines" -> (dupFrac <= pick(r => lit(r.maxDupFrac))))
    Seq(n.as("n_lines"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), terminalFrac.as("terminal_frac"),
        dupFrac.as("dup_line_frac")) ++
      rules.map { case (name, rule) => rule.as(name) } :+
      rules.map(_._2).reduce(_ && _).as("pass")
  }
}
