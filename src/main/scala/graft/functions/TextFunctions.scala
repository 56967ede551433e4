package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines,
  * built from codegen'd `org.apache.spark.sql.functions` (SURVEY §7.3
  * "functions, not UDFs"): those expressions stay inside whole-stage
  * codegen, so the hot path over a 100 TB `documents` table is a
  * single scan with no serialization fence. The one exception is
  * [[fingerprint]]: spelled as a higher-order function, its per-gram
  * md5 chain is interpreted element by element, so it is one compiled
  * [[graft.operators.Kernels]] call per document instead.
  *
  * The reference's only text machinery is `\r\n`/space tokenization
  * inside its reduce (`MapReduceUtil.cpp:114-135`) and string↔int
  * conversion (`MapReduceUtil.cpp:168-214`); everything here is the
  * north-star extension surface (SURVEY §7.2 M4).
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped — the reference's space-split
    * record format (`Callbacks.h:49-53`) generalized. */
  def words(c: Column): Column =
    filter(split(c, " "), w => w =!= "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(words(c)).cast("long")

  /** BPE-ish subword proxy: runs of alphanumerics count 1 each, every
    * other non-space char counts alone (ASCII classes only, so the
    * regex means the same thing in any engine's dialect). */
  val BpeTokenPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenPattern), lit(0))).cast("long")

  /** Mean word length in characters (0 for empty docs). */
  def meanWordLen(c: Column): Column = {
    val w = words(c)
    when(size(w) === 0, lit(0.0)).otherwise(
      aggregate(w, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        size(w))
  }

  /** Repeated-token fraction: 1 − distinct/total words (0 for empty
    * docs). High values flag boilerplate/spam — a standard pretraining
    * quality filter next to [[punctRatio]]/[[stopwordRatio]]. */
  def repetitionRatio(c: Column): Column = {
    val w = words(c)
    when(size(w) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(w)).cast("double") / size(w))
  }

  /** Punctuation chars / total chars (quality signal). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(c, lit("[.,;:!?'\"()\\[\\]{}-]"), lit(0)))
        .cast("double") / length(c))

  /** English stopword tokens / total tokens. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be")
  def stopwordRatio(c: Column): Column = {
    val w = words(c)
    when(size(w) === 0, lit(0.0)).otherwise(
      size(filter(w, x => x.isin(Stopwords: _*))).cast("double") / size(w))
  }

  /** Composite quality score in [0,1]: length sweet-spot, some
    * stopwords (fluent prose), light punctuation. Weights are fixed,
    * documented constants so the score is reproducible anywhere. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 400.0, lit(1.0))
    val stopScore = least(stopwordRatio(c) * 5.0, lit(1.0))
    val punctPenalty = least(punctRatio(c) * 4.0, lit(1.0))
    round(lenScore * 0.5 + stopScore * 0.4 + (lit(1.0) - punctPenalty) * 0.1, 6)
  }

  /** Function-word inventories for the n-gram/stopword language-ID
    * heuristic. Distinct-match counts, deterministic tie-break by the
    * declaration order below. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en", "por", "para"))

  /** Language-ID: CJK codepoints → zh, else arg-max of function-word
    * hits ('und' = undetermined when nothing matches). Pure CASE +
    * array_intersect — identical semantics in ANSI SQL for the oracle. */
  def langId(c: Column): Column = {
    val w = array_distinct(words(c))
    val scores = LangMarkers.map { case (lang, ms) =>
      lang -> size(array_intersect(w, array(ms.map(lit): _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, s), el) =>
      when(s === best, lang).otherwise(el)
    }
    when(c.rlike("[\\u4e00-\\u9fff]"), "zh")
      .otherwise(when(best === 0, "und").otherwise(pick))
  }

  /** Word n-grams with multiplicity (no dedup) — the frequency-
    * weighted face [[graft.operators.Kernels.wordNgrams]]' distinct set
    * hides; heavy-hitter phrase mining needs every occurrence to count.
    * Empty array when the doc has fewer than n words — guards
    * `sequence`'s negative range. */
  def wordNgramsAll(c: Column, n: Int): Column = {
    val w = words(c)
    when(size(w) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(0), size(w) - lit(n)),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))
  }

  /** Document fingerprint: the minimum md5 over word trigrams — a
    * 1-permutation MinHash usable as a cheap near-dup bucket key (the
    * rolling-hash winnowing idea with md5 as the mixer; md5 is chosen
    * because every SQL engine computes the identical hex digest). Falls
    * back to md5 of the whole text for very short docs; null text
    * gives null. One [[graft.operators.Kernels.fingerprint]] call per
    * document. */
  def fingerprint(c: Column, n: Int = 3): Column = {
    val kernel = udf((t: String) => graft.operators.Kernels.fingerprint(t, n))
    kernel(c)
  }

  // -------------------------------------------------------------------
  // PII scrubbing — the redaction pass every pretraining pipeline runs
  // before anything else touches the text. Patterns are deliberately
  // kept inside the Java-regex ∩ RE2 common subset (no backreferences,
  // no lookaround) so the SAME pattern strings drive Spark's codegen'd
  // regexp_replace and any RE2-based engine (DuckDB oracle, CC-style
  // scrub jobs) with identical match semantics.
  // -------------------------------------------------------------------

  /** `https?://` up to the next whitespace. */
  val UrlPattern = "https?://[^ ]+"

  /** Pragmatic RFC-lite email shape. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4, word-bounded. */
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  def redactUrls(c: Column): Column =
    regexp_replace(c, UrlPattern, "<URL>")

  def redactEmails(c: Column): Column =
    regexp_replace(c, EmailPattern, "<EMAIL>")

  def redactIps(c: Column): Column =
    regexp_replace(c, Ipv4Pattern, "<IP>")

  /** Full scrub pass, URL first (emails/IPs may appear inside URLs —
    * redacting the URL swallows them whole rather than leaving a
    * half-redacted token). One scan, all codegen'd. */
  def scrubPii(c: Column): Column =
    redactIps(redactEmails(redactUrls(c)))

  /** Match counts for audit metrics (idx=0: whole match — the
    * patterns carry no capture groups). */
  def urlCount(c: Column): Column =
    size(regexp_extract_all(c, lit(UrlPattern), lit(0))).cast("long")

  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailPattern), lit(0))).cast("long")

  def ipCount(c: Column): Column =
    size(regexp_extract_all(c, lit(Ipv4Pattern), lit(0))).cast("long")

  /** Canonical text cleanup — the pass that runs BEFORE any
    * hash-keyed operator (dedup digests, shingles, vocab), because
    * every byte difference it removes is a spurious cache-miss
    * there: control chars (C0 + DEL) become spaces, space runs
    * collapse, edges trim, and the result is Unicode NFC via the
    * native [[graft.expressions.NfcNormalize]] expression (Spark
    * ships no normalizer; a UDF would fence the hottest scan there
    * is). Deliberately NO case folding: lowercasing is
    * locale-treacherous (ß, dotted i) and a modeling choice, not a
    * cleanup. All steps are ASCII-class regexes that mean the same
    * thing in any engine's dialect. */
  def normalizeText(c: Column): Column =
    org.apache.spark.sql.graftshim.GraftSqlShim.column(
      graft.expressions.NfcNormalize(
        org.apache.spark.sql.graftshim.GraftSqlShim.expression(
          trim(regexp_replace(
            regexp_replace(c, "[\\x00-\\x1F\\x7F]", " "), " +", " ")))))

  /** Flesch reading-ease score — the readability heuristic quality
    * filters bucket documents by (higher = simpler prose; ~60–70 is
    * plain English). 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), where every input is an EXACT integer:
    * words = whitespace tokens, sentences = the number of
    * `[.!?]+` runs (floored at 1 — headlines have no terminator),
    * syllables per word = the number of `[aeiouy]+` vowel-group
    * runs (floored at 1 — "rhythm"-like words still carry one).
    * Integer counts make the score ONE fixed IEEE expression:
    * bitwise cross-engine, no transcendental drift. Null/empty/
    * wordless text → null (a score of gibberish is not 206.835). */
  def fleschScore(c: Column): Column = {
    val ws = words(c)
    val w = size(ws).cast("double")
    val syl = aggregate(
      transform(ws, t => greatest(lit(1),
        size(filter(split(t, "[^aeiouy]+"), x => x =!= "")))),
      lit(0L), (acc, s) => acc + s.cast("long")).cast("double")
    val sentRuns =
      size(filter(split(coalesce(c, lit("")), "[^.!?]+"),
        x => x =!= "")).cast("double")
    val s = greatest(lit(1.0), sentRuns)
    when(size(ws) > 0,
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (syl / w))
  }

  /** Canonicalize a URL for crawl-level dedup — the first dedup any
    * web corpus runs (far cheaper than content hashing: two fetches
    * of `HTTP://WWW.Site.com/a//b/?utm_source=x` and
    * `http://site.com/a/b` are the same page). Steps, all plain
    * regex/array ops that mean the same thing in any engine:
    * scheme and host lowercase (ONLY those — paths are
    * case-sensitive by spec), leading `www.` dropped, default ports
    * dropped (:80 http, :443 https), path slash runs collapsed and
    * one trailing slash trimmed, fragment dropped, tracking params
    * dropped (utm_*, fbclid, gclid, ref), surviving params sorted.
    * Codegen-friendly: regexp/array built-ins end to end, no UDF. */
  def canonicalizeUrl(c: Column): Column = {
    val scheme = lower(
      regexp_extract(c, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport =
      regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = regexp_replace(
      lower(regexp_extract(hostport, "^([^:]*)", 1)), "^www\\.", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = when(
      port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"),
      lit("")).otherwise(concat(lit(":"), port))
    val path = regexp_replace(
      regexp_replace(
        regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)",
          1),
        "//+", "/"),
      "/$", "")
    val params = filter(
      split(regexp_extract(c, "\\?([^#]*)", 1), "&"),
      p => p =!= "" &&
        !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="))
    val qstr = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, keepPort, path,
      when(qstr === "", lit("")).otherwise(concat(lit("?"), qstr)))
  }

  /** Character-level Shannon entropy (nats) — the compressibility
    * proxy quality filters use: near-zero entropy is repeated-char
    * junk, implausibly high entropy is base64/hex blobs; natural
    * text sits in a band. Pure Catalyst HOFs (no UDF):
    * H = Σ_c −(n_c/n)·ln(n_c/n) folded over the SORTED distinct
    * characters — the deterministic accumulation order any engine
    * reproduces (the same sorted-fold discipline as the bitwise
    * centroid folds). Cost per row is O(distinct_chars · len):
    * distinct chars are alphabet-bounded (≤ a few hundred in real
    * text), so the row cost stays proportional to text length at
    * any corpus scale. Empty/null text → 0.0. */
  def charEntropy(c: Column): Column = {
    val chars = split(coalesce(c, lit("")), "")
    val n = size(chars).cast("double")
    val terms = transform(
      array_sort(array_distinct(chars)),
      ch => {
        val p = size(filter(chars, x => x === ch)).cast("double") / n
        -p * log(p)
      })
    when(size(chars) === 0, lit(0.0))
      .otherwise(aggregate(terms, lit(0.0), (acc, t) => acc + t))
  }
}
