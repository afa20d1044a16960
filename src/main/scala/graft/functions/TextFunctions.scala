package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-corpus pipelines.
  *
  * All are pure Catalyst expression compositions (no UDFs) so they stay
  * inside whole-stage codegen and push down through the optimizer — the
  * property that matters at 100 TB: a token-count over a parquet corpus
  * compiles to a single scan + project with no JVM-boundary crossings.
  *
  * Generalizes the reference's string normalization surface
  * (`/root/reference/test.py:130,139-140` — whitespace normalize,
  * url-decode, basename) into the text ops an LLM-data pipeline needs.
  */
object TextFunctions {

  /** Whitespace tokenizer: trim + split on runs of whitespace.
    *
    * PINNED semantics for empty/whitespace-only text: the split of an
    * empty string is `[""]` — ONE empty token, not zero — so
    * `tokenCount("") == 1` and `typeTokenRatio("") == 1.0`. This is
    * deliberately NOT "fixed": DuckDB's `string_split_regex` has the
    * identical convention, and every oracle-checked query replays token
    * logic through it — changing either side alone would break the
    * hash-match contract. Pipelines that must treat empty docs as
    * zero-token filter them by `length(trim(text)) > 0` upstream (the
    * curation gate's minTokens does this implicitly: 1 < minTokens).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (whitespace tokens). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct token count. */
  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Collapse whitespace runs to single spaces and lowercase — the
    * canonical normalization applied before content hashing.
    */
  def normalizeText(text: Column): Column =
    // collapse BEFORE trim: Spark's trim strips spaces only, so a leading
    // newline/tab would survive a trim-first order; after the collapse all
    // whitespace runs are single spaces and trim removes the edge ones of
    // any original kind. This is also exactly the oracle's replayed order
    // (q27/q71: lower(trim(regexp_replace(text,'\s+',' ','g')))).
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Content fingerprint: sha-256 of the normalized text. Deterministic,
    * partition-local, and the basis of exact near-normalized dedup.
    */
  def fingerprint(text: Column): Column = sha2(normalizeText(text), 256)

  /** Unicode-correct text cleanup, the canonicalization pass that runs
    * FIRST in a crawl pipeline — before fingerprinting, shingling, or any
    * dedup sketch — so that byte-different renderings of the same visible
    * text (composed vs decomposed accents, zero-width joiners, stray
    * control bytes from broken transcoding) collapse to one form:
    *   1. strip control/format chars: C0 (except the whitespace ones,
    *      which step 3 folds into spaces), DEL+C1, zero-widths
    *      U+200B-U+200D, BOM — BEFORE normalization, because a format
    *      char sitting between a base char and its combining mark blocks
    *      NFC composition ("e"+ZWSP+U+0301 stays decomposed under
    *      NFC-first and only composes once the ZWSP is gone);
    *   2. NFC canonical composition ([[graft.plans.NfcNormalize]], native
    *      — Spark has no normalization builtin);
    *   3. collapse whitespace runs (space \t \n \r \f \x0B) to a single
    *      space and trim.
    * Steps 1 and 3 are builtin `regexp_replace` (codegen'd); the char
    * classes use explicit ranges so Java regex and DuckDB's RE2 (the q79
    * oracle) agree by construction — no `\s`, whose definition differs
    * between the engines.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(call_function("graft_nfc", regexp_replace(text,
      "[\\x{0000}-\\x{0008}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]", "")),
      "[ \\t\\n\\r\\f\\x{000B}]+", " "))

  /** Non-overlapping occurrence counts of EVERY needle in one native pass
    * ([[graft.plans.NeedleCounts]]) — `array<int>` aligned with `needles`.
    * Value-identical to stacking the spec reference
    * `HofReference.occurrences` per needle (the regex idiom), minus the
    * per-needle regex-engine scans; use this whenever a
    * scoring expression needs more than one needle over the same text.
    */
  def occurrencesAll(text: Column, needles: Seq[String]): Column =
    call_function("graft_count_all", text, array(needles.map(lit): _*))

  /** Ratio of tokens that appear in `stopwords`; 0 for empty docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val hits = size(filter(toks, t => t.isInCollection(stopwords)))
    when(size(toks) > 0, hits.cast("double") / size(toks).cast("double")).otherwise(lit(0.0))
  }

  /** Type-token ratio (lexical diversity): distinct / total tokens. */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0, size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length in characters. Total token chars = the
    * non-whitespace chars of the text (tokens partition exactly those),
    * so the numerator is one codegen'd `regexp_replace` instead of the
    * previous `aggregate(toks, acc + length(t))` — `ArrayAggregate` is
    * CodegenFallback, and its per-token interpreted lambda was the
    * dominant per-doc cost of q25 at scale (sf10 probe: ~22× cpu at 10×
    * data under 32-thread allocation pressure). Value-identical,
    * including the whitespace-only edge (0 non-ws chars / 1 empty
    * token = 0), and exactly the oracle's replayed form.
    */
  def avgTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      length(regexp_replace(text, "\\s", "")).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** PII redaction for training-data release: emails, then dotted-quad
    * IPs, then NNN-NNN-NNNN phone numbers → typed placeholders. Three
    * codegen'd regexp passes, no shuffle; the patterns stay within the
    * regex subset that evaluates identically under Java regex and RE2
    * (character classes, bounded repetition, `\b`), so external auditors
    * can reproduce the redaction byte-for-byte. IP runs before phone so a
    * dotted quad is never half-eaten as a phone fragment.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Markup→text extraction — the first stage of any web-crawl curation
    * pipeline (raw HTML in, trainable prose out). Removal order matters
    * and is part of the contract:
    *   1. `<script>`/`<style>` blocks go first (their BODIES are code,
    *      not prose — tag-stripping alone would leak them into the text);
    *   2. comments, then remaining tags → single spaces;
    *   3. character entities decode LAST (`&amp;` after the others so
    *      `&amp;lt;` decodes to the literal `&lt;`, not `<`), which also
    *      means a decoded `&lt;b&gt;` stays visible text rather than
    *      being re-eaten by the tag pass;
    *   4. whitespace collapses to single spaces, trimmed.
    * Pure regexp/replace codegen chain — no UDF, no shuffle, and the
    * patterns stay in the Java-regex/RE2-identical subset (inline
    * `(?is)` flags, lazy `.*?`, character classes) so the DuckDB oracle
    * reproduces the extraction byte-for-byte.
    */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => call_function("replace", c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** URL canonicalization — the primitive under URL-level crawl dedup
    * (the same page is crawled as `HTTP://Host:80/a?utm_source=x#top` and
    * `http://host/a`; canonical keys collapse them before any content
    * hashing runs). Normalizations, in order: strip fragment; lowercase
    * scheme and host; drop the scheme's default port (:80 / :443); strip
    * tracking params (`utm_*`, `fbclid`, `gclid`) and repair the query
    * separator; empty path → `/`. Non-`scheme://` inputs pass through
    * unchanged (garbage stays observable rather than collapsing to a
    * shared key). Pure regexp/codegen pipeline, no shuffle; the regex
    * subset evaluates identically under Java regex and RE2, so external
    * systems can reproduce the canonical key byte-for-byte.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://.*$", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    // split path/query FIRST and strip tracking only inside the query: a
    // flat [?&]-anchored strip over `rest` needed a '&'→'?' repair pass
    // afterwards, which also fired on legitimate '&' characters in the
    // PATH of URLs that had nothing stripped ("/p&q" → "/p?q" — a
    // different URL silently sharing the canonical key)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val rawQ = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val qClean = regexp_replace(regexp_replace(regexp_replace(
      rawQ, "(^|&)(utm_[^&]*|fbclid=[^&]*|gclid=[^&]*)", ""), "^&+", ""), "&+$", "")
    // nullif/coalesce keeps the triple-regexp subtree SINGLE-reference
    // (a when(qClean === "", ...) form evaluates it twice): empty query →
    // nullif gives NULL → concat('?', NULL) is NULL → coalesce drops it
    val rebuilt = concat(path,
      coalesce(concat(lit("?"), nullif(qClean, lit(""))), lit("")))
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host,
        when(rebuilt === "", lit("/")).otherwise(rebuilt)))
  }

  /** Hashed-feature linear classifier — the "model-based quality filter"
    * slot of a curation pipeline (fastText-style: bag of hashed token
    * features x a weight vector, reference corpus filters run exactly
    * this shape). Three deliberate design points for the 100 TB posture:
    *   - features are HASHED buckets (`sha-256` prefix mod `k`), so the
    *     feature space is fixed-width regardless of vocabulary — no
    *     vocabulary broadcast, no dictionary join, one codegen'd pass
    *     over the token array, zero shuffle;
    *   - the score is accumulated in INTEGER milli-units (each bucket
    *     weight is an integer in [-1000, 1000]), so results are exact on
    *     any engine — no float summation-order drift — and the DuckDB
    *     oracle can replay the classifier bit-for-bit;
    *   - the demo weight for bucket `b` is the Knuth-hash residue
    *     `(b * 2654435761) mod 2001 - 1000` — swapping in TRAINED weights
    *     means replacing [[bucketWeightMilli]] with an `element_at` on a
    *     literal weight array; the plan shape does not change.
    */
  def featureBucket(tok: Column, k: Int): Column =
    conv(substring(sha2(tok, 256), 1, 8), 16, 10).cast("long") % k

  def bucketWeightMilli(bucket: Column): Column =
    (bucket * lit(2654435761L)) % lit(2001L) - lit(1000L)

  /** Total classifier score of a token array, in milli-units. */
  def linearScoreMilli(toks: Column, k: Int): Column =
    aggregate(
      transform(toks, t => bucketWeightMilli(featureBucket(t, k))),
      lit(0L),
      (acc, x) => acc + x)

  /** Per-language marker-word occurrence scores — the shared internals of
    * [[stopwordLanguageScore]], exposed so queries that surface the raw
    * hit counts (q26) build them from the SAME needle layout instead of
    * re-implementing padding/offsets (three drifting copies of this logic
    * is how a marker-word edit silently breaks a different query's
    * oracle). One native multi-needle scan serves every profile; repeated
    * subtrees collapse under codegen subexpression elimination.
    */
  def stopwordLanguageScores(text: Column,
      profiles: Seq[(String, Seq[String])]): Seq[(String, Column)] =
    profileScores(stopwordCounts(text, profiles), profiles)

  /** The marker-word counts of `text`, padded-space matched so only whole
    * tokens count: one native scan, `array<int>` aligned with the words
    * of `profiles` in order. */
  def stopwordCounts(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    occurrencesAll(concat(lit(" "), text, lit(" ")), profiles.flatMap(_._2).map(w => s" $w "))

  private def profileScores(counts: Column,
      profiles: Seq[(String, Seq[String])]): Seq[(String, Column)] = {
    val offsets = profiles.scanLeft(0)(_ + _._2.size)
    profiles.zipWithIndex.map { case ((lang, words), p) =>
      lang -> words.indices.map(j => element_at(counts, offsets(p) + j + 1)).reduce(_ + _)
    }
  }

  /** The language whose per-profile sum of the already-bound [[stopwordCounts]]
    * `counts` is highest, ties resolving in the declaration order of
    * `profiles`: lang_i wins if its score is >= every later one and
    * > every earlier one. A null `counts` makes every comparison null,
    * so it falls through to the LAST profile's label. */
  def stopwordArgmax(counts: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scores = profileScores(counts, profiles)
    scores.zipWithIndex.foldRight(lit(scores.last._1)) { case (((lang, s), i), elseCol) =>
      val beatsAllLater = scores.drop(i + 1).map(_._2).foldLeft(lit(true))((c, o) => c && s >= o)
      when(beatsAllLater, lit(lang)).otherwise(elseCol)
    }
  }

  /** Stopword-list language scoring: the [[stopwordArgmax]] of the
    * document's marker counts. Returns the language whose marker count
    * is highest; ties resolve in the declaration order of `profiles`
    * (deterministic). NULL text classifies as NULL: without the guard
    * the argmax would fall through to the LAST profile's label —
    * silently assigning null documents a language.
    */
  def stopwordLanguageScore(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    when(text.isNotNull, stopwordArgmax(stopwordCounts(text, profiles), profiles))
}
