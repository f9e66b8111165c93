package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * normalization, tokenization, shingling, quality scoring, language ID.
  *
  * Everything here is built from codegen'd Catalyst built-ins (regexp, array
  * lambdas) — no Scala UDFs — so the whole pipeline stays inside whole-stage
  * codegen and scales linearly with input. All formulas are also expressible
  * in ANSI SQL for the DuckDB oracle.
  */
object TextFunctions {

  /** Canonical form for exact / near dedup: lowercase, trim, collapse
    * whitespace runs to single spaces. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Content fingerprint: md5 of the canonical form (exact-dup key). */
  def fingerprintMd5(c: Column): Column = md5(normText(c))

  /** The markup-stripping replacement chain, ordered: tags first, then the
    * named/numeric entities a crawled corpus actually carries, with &amp;
    * decoded LAST so "&amp;lt;" cannot double-decode into a phantom tag
    * char mid-chain. RE2-compatible patterns (no lookarounds, no
    * backrefs), applied in THIS order by both engines. */
  val MarkupReplacements: Seq[(String, String)] = Seq(
    "<[^>]*>" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&nbsp;" -> " ",
    "&amp;" -> "&")

  /** HTML/markup stripping for crawled corpora — the pass every real
    * pipeline runs BEFORE quality gates and dedup (tags and entities
    * otherwise pollute token counts, shingles, and fingerprints): remove
    * tags, decode common entities, collapse whitespace. Pure regexp
    * expressions (codegen'd, one scan), mirrored verbatim in the oracle. */
  def stripMarkup(c: Column): Column =
    trim(regexp_replace(
      MarkupReplacements.foldLeft(c) { case (acc, (pat, rep)) =>
        regexp_replace(acc, pat, rep)
      },
      "\\s+", " "))

  /** Markup tag count of the RAW text (the q_t22 diagnostic column). */
  def tagCount(c: Column): Column =
    size(regexp_extract_all(c, lit("<[^>]*>"), lit(0)))

  /** The classic UTF-8-decoded-as-Latin-1 artifacts (mojibake) a crawled
    * corpus carries, with their intended characters — ordered so longer
    * multi-byte artifacts repair before their prefixes could. Literal
    * (metachar-free) pairs: both engines apply them as plain global
    * replaces, byte-identically. */
  val MojibakeReplacements: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€œ" -> "“", "â€“" -> "–", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¼" -> "ü", "Ã¶" -> "ö",
    "Ã±" -> "ñ", "Ã¯" -> "ï")
  // fixMojibake quotes each pattern but mojibakeCount (and the DuckDB
  // mirror) build a raw alternation — a metachar in a future artifact
  // would silently diverge the two surfaces, so reject it here.
  require(MojibakeReplacements.forall { case (bad, _) =>
    !bad.exists("\\.[]{}()*+?^$|".contains(_)) },
    "mojibake artifact patterns must be regex-metachar-free")

  /** ftfy-style mojibake repair: fix the common double-encoding artifacts
    * in one ordered replacement chain (codegen'd regexp_replace on literal
    * patterns — global, like the oracle's replace()). */
  def fixMojibake(c: Column): Column =
    MojibakeReplacements.foldLeft(c) { case (acc, (bad, good)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(bad), good)
    }

  /** Count of mojibake artifact occurrences (the detection signal). */
  def mojibakeCount(c: Column): Column =
    size(regexp_extract_all(c, lit(MojibakeReplacements.map(_._1).mkString("|")), lit(0)))

  /** URL canonicalization — the crawl-front normalization every URL-keyed
    * dedup/blocklist/cap stage needs (raw crawl URLs differ in case,
    * default ports, tracking params, duplicate/trailing slashes while
    * naming the same resource). The chain, in order:
    *   1. strip the fragment;
    *   2. drop `utm_*` tracking params and repair dangling `?`/`&`;
    *   3. lowercase scheme+host and strip the scheme's default port
    *      (`:443` for https, `:80` for http);
    *   4. collapse duplicate slashes in the path (never the `//` after
    *      the scheme — the path is cut AFTER the host) and strip
    *      trailing slashes.
    * Pure RE2-compatible regexp expressions (codegen'd, one scan each);
    * the DuckDB oracle runs the semantically identical chain (`\1` vs
    * `$1` group syntax is the only divergence). Tracking-param removal is
    * anchored to a parameter BOUNDARY (`&utm_…` / leading `?utm_…`), so
    * "utm_" occurring inside a path, another parameter's name, or a
    * value is never touched — an unanchored strip would corrupt such
    * URLs into false canonical collisions. Host extraction excludes all
    * of slash, question mark, and hash from the host character class
    * (not just slash): a path-less URL with a query
    * (`https://Host.com?id=AbC`, `https://host:443?x=1`) must lowercase
    * ONLY the scheme+host — a slash-only-delimited prefix would swallow
    * the query (falsely colliding case-distinct resources) and un-anchor
    * the `:443$`/`:80$` default-port strip. */
  def canonicalUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*$", "")
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(noFrag, "&utm_[^&#]*", ""),
        "\\?utm_[^&#]*&", "?"),
      "\\?utm_[^&#]*$", "")
    val prefix = regexp_replace(
      regexp_replace(
        lower(regexp_extract(noUtm, "^[^/?#]*//[^/?#]*", 0)),
        "^(https://[^:]*):443$", "$1"),
      "^(http://[^:]*):80$", "$1")
    // slash normalization applies to the PATH only: a query value like
    // '?next=//x/' is opaque data — collapsing or stripping slashes inside
    // it would falsely collide distinct resources (the same invariant as
    // the case rule above). The query split is (?s)-DOTALL so "first '?'
    // to end of TEXT" means the same thing in Java regex and RE2: a bare
    // `.*$` would stop at a trailing newline in Java ($ matches before a
    // final line terminator) but not in RE2, silently reordering bytes of
    // newline-bearing URLs between the two engines.
    val rest = regexp_replace(noUtm, "^[^/?#]*//[^/?#]*", "")
    val path = regexp_replace(
      regexp_replace(regexp_replace(rest, "(?s)\\?.*$", ""), "//+", "/"),
      "/+$", "")
    val query = regexp_extract(rest, "(?s)(\\?.*)$", 1)
    concat(prefix, path, query)
  }

  /** Unicode NFC canonical composition (custom codegen'd expression —
    * Spark has no built-in normalizer; ASCII rows take a byte-scan fast
    * path). Decomposed and composed spellings of the same text must
    * collide in every hash-keyed stage (dedup, fingerprints, frequency
    * features), so this runs before any of them in a clean pipeline. */
  def nfc(c: Column): Column = graft.functions.GraftFunctions.nfcNormalize(c)

  /** Whitespace-delimited tokens (\\S+ runs — stable across engines).
    * Fused byte-scan expression with exactly regexp_extract_all(c,'\\S+')
    * semantics (the regex path costs ~0.5ms/row on long docs). */
  def tokens(c: Column): Column = graft.functions.GraftFunctions.tokenize(c)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenization pattern: the GPT-2-style split (English
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace runs) WITHOUT the original's trailing
    * lookahead, so the pattern is RE2-compatible and the DuckDB oracle runs
    * the IDENTICAL regex. Counts from this split approximate subword-token
    * budgets far better than whitespace counts (punctuation and digits
    * tokenize separately), which is what a training-data pipeline sizes
    * batches and documents with. */
  val BpePattern: String = "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Number of BPE-ish pre-tokens (full-pattern matches of [[BpePattern]]). */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0)))

  /** Common-English stopwords used by the language-ID heuristic. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as")

  /** Fraction of tokens that are stopwords (0 when no tokens). Fused
    * single-pass hit count (HashUtil.listHits) — the filter/array_contains
    * lambda runs interpreted and was the q_t3 hot spot. */
  def stopwordRatio(toks: Column): Column = {
    val hits = element_at(graft.functions.GraftFunctions.listHits(toks, Seq(Stopwords)), 1)
    // Unconditional form (no when-branch) so the listHits scan stays a CSE
    // candidate: hits <= |toks|, so 0 tokens -> 0/1 = 0.0, and null text ->
    // null ratio -> coalesce 0.0 — value-identical to the CASE WHEN mirror.
    coalesce(hits.cast("double") / greatest(size(toks), lit(1)).cast("double"), lit(0.0))
  }

  /** Count of sentence punctuation characters. */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[.!?,;:]"), lit(0)))

  // --- multi-language ID -----------------------------------------------------
  // Per-language profiles: function words (word-level n-gram profile, n = 1)
  // plus the accented-character classes that separate de/fr from en when the
  // function-word signal is thin. Pure expressions — ANSI-SQL-mirrorable and
  // inside whole-stage codegen.

  /** German function words. */
  val StopwordsDe: Seq[String] = Seq(
    "der", "die", "und", "das", "ist", "nicht", "ein", "ich", "mit",
    "auf", "den", "sich", "von", "dem", "aber")

  /** French function words. */
  val StopwordsFr: Seq[String] = Seq(
    "le", "la", "les", "des", "et", "est", "une", "un", "je", "pas",
    "que", "pour", "dans", "avec", "sur")

  /** Spanish function words. */
  val StopwordsEs: Seq[String] = Seq(
    "el", "los", "las", "de", "que", "y", "en", "un", "una", "es",
    "no", "por", "con", "para", "su")

  /** Italian function words. */
  val StopwordsIt: Seq[String] = Seq(
    "il", "di", "che", "e", "la", "per", "un", "una", "non", "sono",
    "con", "si", "nel", "della", "più")

  /** Characters (as a regex class body) distinctive of each language. */
  val AccentsDe: String = "äöüß"
  val AccentsFr: String = "éèêëàâçîïôùû"
  val AccentsEs: String = "áéíóúñ"
  val AccentsIt: String = "àèéìòù"

  /** Fraction of tokens found in `words` (0 when no tokens).
    *
    * Reference formulation kept for spec parity checks; hot paths use the
    * fused multi-list [[graft.functions.GraftFunctions.listHits]] instead —
    * this interpreted filter/array_contains lambda was the q_t3 hot spot. */
  def ratioIn(toks: Column, words: Seq[String]): Column = {
    val hits = size(filter(toks, t => array_contains(typedLit(words), t)))
    when(size(toks) > 0, hits.cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters in the accent class (0 for empty strings).
    *
    * Reference formulation kept for spec parity checks; hot paths use the
    * fused multi-class [[graft.functions.GraftFunctions.charClassCounts]]. */
  def accentRatio(text: Column, accentClass: String): Column = {
    val n = length(text)
    when(n > 0,
      (n - length(regexp_replace(text, s"[$accentClass]", ""))).cast("double")
        / n.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Hit ratios for several word lists from ONE fused token scan: element i
    * is hits(lists(i))/|toks| (0.0 when no tokens). Counts are exact ints,
    * so each ratio is bit-identical to [[ratioIn]] on the same list. */
  private def ratiosIn(toks: Column, lists: Seq[Seq[String]]): Seq[Column] = {
    val hits = graft.functions.GraftFunctions.listHits(toks, lists)
    // greatest(n,1) instead of when(n>0, ...): hit counts <= n, so n = 0
    // already yields 0/1 = 0.0 — same value as the CASE WHEN oracle mirror —
    // and keeping every subtree unconditional lets whole-stage codegen's
    // subexpression elimination evaluate the fused scan ONCE per row even
    // though all five ratios (and the langId5 cascade) reference it.
    val den = greatest(size(toks), lit(1)).cast("double")
    lists.indices.map { i =>
      coalesce(element_at(hits, i + 1).cast("double") / den, lit(0.0))
    }
  }

  /** Accent-char ratios for several char classes from ONE fused string scan:
    * element i is count(classes(i))/length (0.0 for empty strings). Counts
    * are exact ints — bit-identical to [[accentRatio]] per class. */
  private def accentRatios(text: Column, classes: Seq[String]): Seq[Column] = {
    val counts = graft.functions.GraftFunctions.charClassCounts(text, classes)
    // Same unconditional-for-CSE shape as [[ratiosIn]].
    val den = greatest(length(text), lit(1)).cast("double")
    classes.indices.map { i =>
      coalesce(element_at(counts, i + 1).cast("double") / den, lit(0.0))
    }
  }

  /** Per-language scores over the canonical text: function-word hit ratio,
    * plus 5× the accented-char ratio for de/fr (an accent char is rarer and
    * far more discriminative than one more stopword hit). One fused token
    * scan + one fused char scan for all three languages. */
  def langScores(text: Column): (Column, Column, Column) = {
    val norm = normText(text)
    val toks = tokens(norm)
    val Seq(en, de, fr) = ratiosIn(toks, Seq(Stopwords, StopwordsDe, StopwordsFr))
    val Seq(aDe, aFr) = accentRatios(norm, Seq(AccentsDe, AccentsFr))
    (en, de + lit(5.0) * aDe, fr + lit(5.0) * aFr)
  }

  /** Three-language ID: argmax of the en/de/fr profile scores, "other" when
    * no profile clears the threshold; ties break en > de > fr. */
  def langId3(text: Column, threshold: Double = 0.05): Column = {
    val (en, de, fr) = langScores(text)
    when(greatest(en, de, fr) < threshold, lit("other"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** Per-language profile scores (same formula as [[langScores]]) for the
    * five supported languages, in tie-break order. English carries no accent
    * class, so it is the bare function-word ratio. All five word lists share
    * one fused token scan and all four accent classes share one fused char
    * scan ([[ratiosIn]]/[[accentRatios]]). */
  def langScores5(text: Column): Seq[(String, Column)] = {
    val norm = normText(text)
    val toks = tokens(norm)
    val Seq(en, de, fr, es, it) = ratiosIn(toks,
      Seq(Stopwords, StopwordsDe, StopwordsFr, StopwordsEs, StopwordsIt))
    val Seq(aDe, aFr, aEs, aIt) = accentRatios(norm,
      Seq(AccentsDe, AccentsFr, AccentsEs, AccentsIt))
    Seq(
      "en" -> en,
      "de" -> (de + lit(5.0) * aDe),
      "fr" -> (fr + lit(5.0) * aFr),
      "es" -> (es + lit(5.0) * aEs),
      "it" -> (it + lit(5.0) * aIt))
  }

  /** Five-language ID: argmax of the en/de/fr/es/it profile scores, "other"
    * when no profile clears the threshold; ties break in list order
    * (en > de > fr > es > it). The cascade compares each language against
    * every LATER one with >=, so the first maximal score wins — the same
    * shape [[langId3]] uses, extended mechanically. */
  def langId5(text: Column, threshold: Double = 0.05): Column = {
    val scores = langScores5(text)
    val best = greatest(scores.map(_._2): _*)
    val cascade = scores.init.zipWithIndex.foldLeft(when(best < threshold, lit("other"))) {
      case (acc, ((lang, s), i)) =>
        val laters = scores.drop(i + 1).map(_._2)
        acc.when(laters.map(s >= _).reduce(_ && _), lit(lang))
    }
    cascade.otherwise(lit(scores.last._1))
  }

  /** Composite quality score in [0,1]: length saturation, stopword share,
    * mean token length saturation. Deterministic double arithmetic. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val lenScore = least(lit(1.0), nTok / lit(100.0))
    val meanTokLen =
      when(size(toks) > 0,
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
        .otherwise(lit(0.0))
    val tokLenScore = least(lit(1.0), meanTokLen / lit(8.0))
    lenScore * lit(0.5) + stopwordRatio(toks) * lit(0.3) + tokLenScore * lit(0.2)
  }

  /** Distinct character k-grams of a string (shingle count); 0 for strings
    * shorter than k. Fused codegen'd expression — the lambda composition
    * (transform+substr+array_distinct) runs interpreted at ~ms/row. */
  def charShingleCount(c: Column, k: Int): Column =
    graft.functions.GraftFunctions.charShingleCount(c, k)

  /** Distinct word k-shingles (space-joined token windows), first-occurrence
    * order; empty for fewer than k tokens. Fused codegen'd expression. */
  def wordShingles(toks: Column, k: Int): Column =
    graft.functions.GraftFunctions.wordShingles(toks, k)
}
