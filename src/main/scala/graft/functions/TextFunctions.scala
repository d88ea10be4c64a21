package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline operators
  * (SURVEY.md §2 rows 28, 34-37). Everything is a Catalyst expression
  * composition — codegen'd, no UDFs — and every construct has an exact
  * DuckDB mirror used by the oracles (see queries.TextQueries).
  */
object TextFunctions {

  /** Whitespace-collapsed, trimmed, lowercased text — the canonical form
    * for hashing/dedup. */
  def norm(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Number of whitespace-separated words; 0 for blank/whitespace-only
    * text (split of an empty string yields one empty element, which
    * would overstate blank documents by one). */
  def wordCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Count of regex matches (non-overlapping). */
  def reCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Stopword hits for a list of words, as standalone-word matches. */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    reCount(text, "\\b(" + words.mkString("|") + ")\\b")

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation. */
  val tokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** The char codes of `text`, as longs. */
  def codes(text: Column): Column =
    transform(filter(split(text, ""), c => length(c) > lit(0)),
      c => ascii(c).cast("long"))

  /** The engine's one polynomial fold: ((0·base + x1)·base + x2)·… mod
    * `mod` over the long array `xs`. Sequential — order-sensitive by
    * design (a fingerprint, not a bag hash); exact in integer space so
    * both engines agree bit-for-bit (queries.TextSql.fold is its twin). */
  def fold(xs: Column, base: Long, mod: Long): Column =
    aggregate(xs, lit(0L), (acc, x) => (acc * lit(base) + x) % lit(mod))

  /** Polynomial rolling hash over characters, mod 1e9+7. */
  def rollingFingerprint(text: Column, base: Long = 31L): Column =
    fold(codes(text), base, 1000000007L)

  /** Per-language stopword lists (quality scoring, Gopher rules, the
    * blocklist inventory). Reference analogue: gpd_lite_toolbox has no
    * text ops — this extends the engine for training-data pipelines. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "ein", "zu"),
    "es" -> Seq("el", "los", "las", "y", "un"),
    "fr" -> Seq("le", "les", "et", "une", "du"),
    "zh" -> Seq("shi", "bu", "wo", "zai", "you"))

  /** DISCRIMINATIVE language-ID profiles — separate from
    * [[langStopwords]] on purpose: the r10 confusion-matrix eval showed
    * the stopword scorer was degenerate on this corpus because 'the'
    * and 'a' are AMBIENT vocabulary here (every document scores en > 0
    * while no other language's words ever occur), so argmax-with-tie-
    * order predicted 'en' for everything. A langid profile must hold
    * only words that are INFORMATIVE about the language in the corpus
    * at hand; the en profile therefore drops the two ambient words.
    * Every profile word is verified absent from the generator's
    * natural vocabulary (31 distinct words at sf0.1), so a profile hit
    * can only come from genuinely language-marked text. */
  val langidProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("and", "of", "is", "to", "in"),
    "de" -> Seq("der", "die", "und", "ein", "zu"),
    "es" -> Seq("el", "los", "las", "y", "un"),
    "fr" -> Seq("le", "les", "et", "une", "du"),
    "zh" -> Seq("shi", "bu", "wo", "zai", "you"))

  /** Confusable-neighbor map for the langid marker planting: the
    * language whose markers most plausibly co-occur (es↔fr Romance
    * pair, de↔en Germanic pair, zh code-switches toward en). */
  val langidNeighbor: Map[String, String] = Map(
    "en" -> "de", "de" -> "en", "es" -> "fr", "fr" -> "es", "zh" -> "en")

  /** CHARACTER-BIGRAM profiles (r12) scored beside the function words —
    * the classic n-gram-profile layer (Cavnar & Trenkle 1994) that
    * disambiguates what whole-word hits alone cannot (a doc whose one
    * own word ties a two-word neighbor plant). Each bigram is chosen
    * (a) occurring inside its own language's profile words, (b) absent
    * from every other language's profile words, and (c) absent from the
    * generator's 31-word ambient vocabulary — verified at all shipped
    * sf — so a bigram hit, like a word hit, can only come from
    * language-marked text, and the oracle can derive every count
    * analytically from the plant arithmetic. A 2-letter match can never
    * span a space, so a substring count over the whole text equals the
    * per-word count the oracle computes. */
  val langidBigrams: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("is", "of"),
    "de" -> Seq("di", "ei", "ie", "zu"),
    "es" -> Seq("el", "la", "os"),
    "fr" -> Seq("es", "et"),
    "zh" -> Seq("ai", "bu", "hi", "wo", "yo", "za"))
}
