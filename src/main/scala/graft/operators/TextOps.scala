package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Text-analysis operators for the LLM-data-pipeline surface (north star):
  * tokenization, shingling, fingerprinting, quality scoring, language ID.
  *
  * All pure `functions._` compositions — codegen'd, no UDFs, so the hot path
  * stays inside WholeStageCodegen at any scale. md5 is the only hash used in
  * oracle-checked paths (identical hex output in DuckDB).
  */
object TextOps {

  /** Whitespace tokenization (single-space corpus; a BPE-ish regex variant
    * is `tokensRegex`). NOTE: `split("", " ")` yields `[""]` — one empty
    * token — so a caller whose contract says "empty documents have zero
    * tokens" must use [[tokensNonEmpty]] instead.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace tokenization that drops empty tokens, so an empty or
    * whitespace-only document tokenizes to zero tokens (where [[tokens]]
    * inherits Spark's `split("", " ") = [""]` phantom token) and runs of
    * spaces don't mint empties. This is the tokenizer of record for the
    * span-surgery family ([[DedupOps.spanTrim]] / `hotSpanScrub` /
    * `exactSubstringDedup`), whose contract is "documents trimmed to — or
    * arriving with — zero tokens disappear". DuckDB twin:
    * `list_filter(string_split(text, ' '), t -> len(t) > 0)`.
    */
  def tokensNonEmpty(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Canonical form for byte-keyed dedup: Unicode NFC (native expression,
    * [[graft.functions.NfcNormalize]]) → lowercase → whitespace runs
    * collapsed to one space → trim. Two visibly-identical documents that
    * differ only in composition form, case, or spacing canonicalize to
    * the same bytes — the standard pre-hash pass of a corpus dedup.
    * DuckDB twin (oracle x52): `trim(regexp_replace(lower(
    * nfc_normalize(text)), '\s+', ' ', 'g'))`.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(lower(
      graft.functions.TextNormCol.nfcNormalize(text)), "\\s+", " "))

  /** BPE-ish tokenizer: lowercase word pieces + digits + punctuation as
    * separate tokens (regex split keeping it deterministic).
    */
  def tokensRegex(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Word n-gram shingles over a token array. Guarded so short docs yield an
    * empty array (Spark's sequence(1,0) would count DOWN, unlike DuckDB
    * range).
    */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Canonical document fingerprint: md5 over the sorted distinct token set.
    * Detects bag-of-words duplicates regardless of word order. (The rolling
    * hash variant used for SimHash lives in DedupOps.)
    */
  def fingerprint(toks: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(toks))))

  /** Engine-portable 60-bit integer key of a string: the first 15 hex
    * chars of its md5, as a long — the 8-byte shuffle key every inverted
    * index here joins on instead of text (identical value in DuckDB:
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`).
    */
  def md5Key60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)

  /** Consecutive token bigrams ("w1 w2") — the unit the repetition
    * signals below measure; empty for docs under 2 tokens.
    */
  def bigrams(toks: Column): Column = {
    val len = greatest(size(toks) - 1, lit(0)) // slice rejects negative lengths
    zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Count of occurrences of the MOST FREQUENT bigram (0 for docs under
    * 2 tokens) — the numerator of the "top 2-gram fraction" repetition
    * filter (boilerplate and templated spam repeat one phrase; natural
    * text does not). Per-doc work is O(distinct-bigrams × bigrams); pure
    * codegen'd higher-order functions, no shuffle.
    */
  def topBigramCount(toks: Column): Column = {
    val bg = bigrams(toks)
    coalesce(
      array_max(transform(array_distinct(bg),
        b => size(filter(bg, x => x === b)))),
      lit(0))
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  /** Fraction of tokens that are stopwords (0 when the doc is empty). */
  def stopwordRatio(toks: Column): Column = {
    val sw = filter(toks, t => t.isInCollection(stopwords))
    when(size(toks) > 0,
      size(sw).cast(DoubleType) / size(toks).cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: longer docs with less stopword mass
    * and informative tokens score higher. Pure double arithmetic — the same
    * formula is evaluated by the DuckDB oracle.
    */
  def qualityScore(nChars: Column, toks: Column): Column = {
    val lenScore = least(size(toks).cast(DoubleType) / 100.0, lit(1.0))
    val swScore = lit(1.0) - stopwordRatio(toks)
    val charScore = least(nChars.cast(DoubleType) / 500.0, lit(1.0))
    lenScore * 0.4 + swScore * 0.3 + charScore * 0.3
  }

  /** Marker vocabularies for the n-gram-heuristic language/domain ID.
    * (The synthetic corpus is a single vocabulary, so profiles are "domain"
    * profiles; the mechanism — marker counting + argmax with deterministic
    * tiebreak — is the real operator.)
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "db"     -> Seq("table", "query", "row", "join", "filter", "scan", "sort", "merge", "hash", "agg"),
    "gen"    -> Seq("the", "fast", "small", "slow", "key", "value", "data"),
    "stream" -> Seq("stream", "batch", "window", "spark", "partition", "shuffle"))

  /** Count of tokens (with multiplicity) drawn from a marker set. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Argmax over profile scores; ties resolve to the lexicographically
    * smallest profile name (db < gen < stream). Mirrors the oracle CASE.
    */
  def langId(toks: Column): Column = {
    val Seq(db, gen, stream) = langProfiles.map(p => markerCount(toks, p._2))
    when(db >= gen && db >= stream, "db")
      .when(gen >= stream, "gen")
      .otherwise("stream")
  }

  /** The oracle-portable quality rational (x9's formula) as an integer
    * (numerator, denominator) pair over the common denominator 5000·nt:
    * quality = min(nt,100)/100·0.4 + (1 − sw/nt)·0.3 + min(nc,500)/500·0.3.
    * Callers round it (`Det.round4Rat`) or threshold it with a pure
    * integer cross-multiply — nothing float ever needs to exist.
    */
  def qualityRat(text: Column, nChars: Column): (Column, Column) = {
    val toks = tokens(text)
    val nt = size(toks).cast("long")
    val sw = size(filter(toks, t => t.isInCollection(stopwords))).cast("long")
    val num = lit(20L) * nt * least(nt, lit(100L)) +
      lit(1500L) * (nt - sw) +
      lit(3L) * nt * least(nChars.cast("long"), lit(500L))
    (num, lit(5000L) * nt)
  }

  // ---- Gopher / C4 document-quality rule sets (curation surface) ----
  //
  // The two standard public-web filter batteries every LLM corpus runs
  // (Rae et al. 2021 "Scaling Language Models: ... Gopher", appendix A;
  // Raffel et al. 2020 "Exploring the Limits of Transfer Learning" §2.2,
  // the C4 heuristics), over line-structured text ('\n' line breaks).
  // Every ratio threshold is decided by integer cross-multiplication so
  // Spark and the DuckDB oracle agree bit for bit (x96/x97); the whole
  // battery is per-row functions._ composition — codegen'd, no shuffle,
  // 100 TB shape: a map-side gate that composes in front of any dedup or
  // packing stage.

  /** Gopher's required-stopword list (a document must contain ≥2 of
    * these) — a different list from the scoring `stopwords` above; the
    * distinction is part of the published rule.
    */
  val gopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule census: per-document counts and the seven
    * rule bits over `textCol` (lines split on '\n', words on spaces).
    *   r1  50 ≤ n_words ≤ 100,000
    *   r2  3 ≤ mean word length ≤ 10        (3·n ≤ Σlen ≤ 10·n)
    *   r3  symbol-to-word ratio ≤ 0.1       ('#' words; 10·sym ≤ n)
    *   r4  lines ending in '…'/'...' ≤ 30%  (10·ell ≤ 3·lines)
    *   r5  lines starting with a bullet ≤ 90%
    *   r6  words containing an alphabetic char ≥ 80%  (5·alpha ≥ 4·n)
    *   r7  ≥ 2 of the required stopwords
    * keep = all seven. Counts are emitted alongside the bits so the gate
    * is auditable (which rule dropped the doc), the production debugging
    * question.
    */
  def gopherRules(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val words = split(regexp_replace(text, "\n", " "), " ")
    val lines = split(text, "\n")
    val nWords = size(words).cast("long")
    val sumWlen = aggregate(words, lit(0L), (a, w) => a + length(w))
    val nStop = size(filter(words, w => w.isInCollection(gopherStop))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long")
    val nSym = size(filter(words, w => w === lit("#"))).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.startsWith("- "))).cast("long")
    val nEll = size(filter(lines, l => l.endsWith("..."))).cast("long")
    val r1 = nWords >= 50L && nWords <= 100000L
    val r2 = sumWlen >= nWords * 3L && sumWlen <= nWords * 10L
    val r3 = nSym * 10L <= nWords
    val r4 = nEll * 10L <= nLines * 3L
    val r5 = nBullet * 10L <= nLines * 9L
    val r6 = nAlpha * 5L >= nWords * 4L
    val r7 = nStop >= 2L
    df.select(col(idCol),
      nWords.as("n_words"), sumWlen.as("sum_wlen"), nStop.as("n_stop"),
      nAlpha.as("n_alpha"), nSym.as("n_sym"), nLines.as("n_lines"),
      nBullet.as("n_bullet"), nEll.as("n_ell"),
      r1.cast("long").as("r_wordcount"), r2.cast("long").as("r_wordlen"),
      r3.cast("long").as("r_symbol"), r4.cast("long").as("r_ellipsis"),
      r5.cast("long").as("r_bullet"), r6.cast("long").as("r_alpha"),
      r7.cast("long").as("r_stopword"),
      (r1 && r2 && r3 && r4 && r5 && r6 && r7).cast("long").as("keep"))
  }

  /** C4 line-level cleaning: keep lines that end in terminal punctuation
    * (. ! ? ") AND carry ≥ `minWords` words; drop the whole page when it
    * contains "lorem ipsum" (case-insensitive) or a '{', or when fewer
    * than `minLines` lines survive. Emits the cleaned text (kept lines
    * re-joined with '\n'; NULL when the page is dropped) plus the line
    * census, so the output is both the filter decision and the
    * transformed corpus.
    */
  def c4Clean(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 5, minLines: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) && size(split(l, " ")) >= minWords)
    val nKept = size(kept).cast("long")
    val pageOk = !lower(text).contains("lorem ipsum") && !text.contains("{")
    val keep = pageOk && nKept >= minLines.toLong
    df.select(col(idCol),
      size(lines).cast("long").as("n_lines"), nKept.as("n_kept"),
      keep.cast("long").as("keep"),
      when(keep, array_join(kept, "\n")).as("cleaned"))
  }

  // ---- secret scanning (curation surface) ----

  /** Luhn checksum validity of a contiguous digit string (the check
    * every credit-card-shaped redactor runs so plain order numbers
    * aren't scrubbed): from the rightmost digit, double every second,
    * subtract 9 when the double exceeds 9, total ≡ 0 (mod 10). Pure
    * higher-order integer arithmetic over the char positions —
    * codegen'd, and the identical list arithmetic is the DuckDB twin
    * (x98).
    */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val d = digits.substr(i, lit(1)).cast("long")
      // parity of the 0-based position from the RIGHT
      val dd = when(pmod(n - i, lit(2)) === 1,
        when(d * 2L > 9L, d * 2L - 9L).otherwise(d * 2L)).otherwise(d)
      acc + dd
    })
    pmod(total, lit(10L)) === 0L
  }

  /** Credit-card shaped runs: exactly 16 digits, word-bounded. */
  val ccPattern = "\\b\\d{16}\\b"

  /** Hex-key shaped runs: ≥32 lowercase hex chars, word-bounded. */
  val hexKeyPattern = "\\b[0-9a-f]{32,}\\b"

  /** Secret scan + redaction: count 16-digit candidates, validate each
    * with Luhn (only VALID numbers redact to `<CC>` — the false-positive
    * discipline every production scrubber needs), and redact ≥32-char
    * hex runs to `<KEY>`. Emits the censuses and the redacted text.
    * Per-row codegen'd regex + fold work, no shuffle — composes in
    * front of any sink like [[redactPii]].
    */
  def secretScan(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    val ccCands = regexp_extract_all(text, lit(ccPattern), lit(0))
    val valid = filter(ccCands, c => luhnValid(c))
    val redacted = regexp_replace(
      aggregate(valid, text, (t, c) =>
        regexp_replace(t, concat(lit("\\b"), c, lit("\\b")), lit("<CC>"))),
      hexKeyPattern, "<KEY>")
    df.select(col(idCol),
      size(ccCands).cast("long").as("n_cc_cand"),
      size(valid).cast("long").as("n_cc_valid"),
      size(regexp_extract_all(text, lit(hexKeyPattern), lit(0)))
        .cast("long").as("n_keys"),
      redacted.as("redacted"))
  }

  /** Canonical form for CODE dedup (The Stack / CodeParrot discipline):
    * strip block comments (slash-star to star-slash, dot-matches-newline,
    * lazy), then line comments (`//` to end of line), then collapse all
    * whitespace runs to one space and trim — two sources that differ
    * only in comments or formatting canonicalize to the same bytes.
    * Order is part of the contract (block first, so a block-open inside
    * a line comment never half-survives); the oracle twin mirrors the
    * three regexes verbatim (x107). Pure codegen'd regexp_replace chain.
    */
  def canonicalizeCode(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "(?s)/\\*.*?\\*/", ""),
        "//[^\n]*", ""),
      "[ \t\n]+", " "))

  // ---- readability (curation surface) ----

  /** Flesch–Kincaid grade level over line-structured text (lines are the
    * sentence unit; syllables = vowel groups `[aeiouy]+` per word, min 1
    * — the standard dictionary-free heuristic). The grade
    * 0.39·(W/S) + 11.8·(Syl/W) − 15.59 is carried as one exact integer
    * rational over the common denominator 100·S·W (floored at 0, the
    * documented clamp keeping [[graft.queries.Det.round4Rat]] in its
    * non-negative domain), and the easy/medium/hard banding is decided
    * by integer cross-multiplication against grades 6 and 10 — both
    * engines band identically, no float ever compared (x99).
    */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.queries.Det.round4Rat
    val text = col(textCol)
    val words = split(regexp_replace(text, "\n", " "), " ")
    val nW = size(words).cast("long")
    val nS = size(split(text, "\n")).cast("long")
    val nSyl = aggregate(words, lit(0L), (a, w) => a +
      greatest(lit(1L),
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")))
    val den = lit(100L) * nS * nW
    val num = greatest(
      lit(39L) * nW * nW + lit(1180L) * nSyl * nS - lit(1559L) * nS * nW,
      lit(0L))
    df.select(col(idCol),
      nW.as("n_words"), nS.as("n_sent"), nSyl.as("n_syll"),
      round4Rat(num, den).as("fk_grade"),
      when(num < lit(6L) * den, lit("easy"))
        .when(num < lit(10L) * den, lit("medium"))
        .otherwise(lit("hard")).as("band"))
  }

  // ---- PII redaction (curation surface) ----
  //
  // The scrub every public-web corpus runs before training: emails,
  // IPv4 addresses, and phone-shaped digit runs are replaced with typed
  // placeholder tokens. Patterns stay inside the Java-regex / RE2
  // COMMON subset (no lookaround, no backreferences) so the exact same
  // strings drive Spark and the DuckDB oracle (x41 hash-checks the
  // redacted text end to end). Scale: pure codegen'd regexp_replace —
  // per-row work, no shuffle, composes into any gate.

  /** Email addresses (conservative: letters/digits/._%+- local part). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (word-bounded; no octet-range check — redaction
    * prefers false positives over leaked addresses).
    */
  val ipv4Pattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** NANP-style phone runs `ddd-ddd-dddd` (word-bounded). */
  val phonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Replace every PII match with its placeholder. Email runs first so a
    * digits-heavy local part is never half-eaten by the IP rule; the
    * order is part of the contract (the oracle twin mirrors it).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Match count for one PII pattern (pre-redaction audit metric). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  // ---- markup extraction (HTML/XML-ish → text). The text-extraction
  // pass a web-scraped corpus runs before any quality/dedup stage:
  // script/style/comment blocks go first (their CONTENT is not prose),
  // then remaining tags become single spaces (so `a<br>b` keeps its word
  // boundary), then the five standard named entities + decimal apostrophe
  // unescape in ONE left-to-right pass each with `&amp;` last (so
  // `&amp;lt;` correctly yields the literal text `&lt;`, never `<`),
  // then whitespace collapses. Every pattern stays inside the
  // Java-regex / RE2 COMMON subset (inline `(?is)` flags, `\b`,
  // non-greedy `.*?` — no lookaround, no backreferences) so the exact
  // same strings drive Spark and the DuckDB oracle (x66 hash-checks the
  // extracted text end to end). Known tradeoffs of the regex extractor,
  // shared with every non-parsing pipeline scrubber: a literal `>`
  // inside a quoted attribute value ends the tag early, and an unclosed
  // `<script>` block leaks its body as text (the lone tag is still
  // stripped). Scale: pure codegen'd per-row string work — no shuffle,
  // no UDF, composes into any gate.

  /** `<script …>…</script>` blocks, case-insensitive, spanning newlines. */
  val scriptBlockPattern = "(?is)<script\\b[^>]*>.*?</script\\s*>"

  /** `<style …>…</style>` blocks, same flags. */
  val styleBlockPattern = "(?is)<style\\b[^>]*>.*?</style\\s*>"

  /** `<!-- … -->` comments, spanning newlines. */
  val commentPattern = "(?s)<!--.*?-->"

  /** Tag-shaped runs only: `</p>`, `<a href=…>`, `<!DOCTYPE …>` — the
    * char after `<`/`</` must be a letter or `!`, so free-text math like
    * `1 < 2 && 3 > 1` survives extraction untouched.
    */
  val tagPattern = "</?[A-Za-z!][^>]*>"

  /** HTML/XML markup → text: block strip → tag strip → entity unescape →
    * whitespace collapse. See the block comment above for the contract.
    */
  def stripMarkup(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, scriptBlockPattern, " "),
        styleBlockPattern, " "),
      commentPattern, " ")
    val noTags = regexp_replace(noBlocks, tagPattern, " ")
    // &amp; LAST: each replace is one non-recursive left-to-right pass
    // on both engines, so already-escaped text cannot double-unescape.
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** `href="…"` values of `<a>` tags, in document order — the link-
    * extraction half of the crawl loop (extract → canonicalize → host
    * graph → rank). Script/style/comment blocks strip FIRST with the
    * [[stripMarkup]] patterns, so an anchor quoted inside a script
    * literal or commented out never mints an edge — the same ordering
    * contract as text extraction, and the honest one: a browser never
    * follows those either. The href pattern stays in the Java/RE2
    * common subset (no lookaround) so the DuckDB twin replays it
    * verbatim. Row-local codegen'd string work; no shuffle, no UDF.
    */
  def extractHrefs(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, scriptBlockPattern, " "),
        styleBlockPattern, " "),
      commentPattern, " ")
    regexp_extract_all(noBlocks, lit(hrefPattern), lit(1))
  }

  /** An `<a>` tag's double-quoted href value (group 1): `[^>]*` keeps
    * the scan inside one tag, `\s` requires a real attribute boundary.
    */
  val hrefPattern = "<[Aa][^>]*\\shref=\"([^\"]*)\""

  /** The host (incl. port, as written) of a `scheme://host…` URL — NULL
    * for strings [[urlPattern]] rejects. Composes with [[canonicalUrl]]
    * output, whose host is already lowercased/de-www'd/de-ported.
    */
  def urlHost(url: Column): Column = {
    val h = regexp_extract(trim(url), urlPattern, 2)
    when(h === "", lit(null).cast("string")).otherwise(h)
  }

  // ---- canonical URL normalization. Web-scraped corpora dedup by URL
  // before any content pass (the same page is fetched under dozens of
  // surface forms); the canonical form fixes the variance that never
  // changes the resource: scheme and host case, a `www.` prefix, the
  // scheme's default port, a trailing path slash, tracking query
  // params, query-param order, and the fragment. Path case and param
  // VALUE case are preserved — those are resource-significant. One
  // URL-shaped regex in the Java/RE2 common subset splits the five
  // parts; non-URLs canonicalize to NULL (both engines return '' for a
  // failed regexp_extract, which the scheme/host guard turns into
  // NULL). Pure per-row codegen'd string work — no shuffle, no UDF.

  /** scheme://host[:port]/path[?query][#fragment] splitter (groups
    * 1–5); `[^/?#]+` host / `[^?#]*` path keep each group from crossing
    * its delimiter.
    */
  val urlPattern =
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\\?[^#]*)?(#.*)?$"

  /** Tracking params dropped from canonical query strings. Deliberately
    * conservative: `utm_*`/`fbclid`/`gclid` are tracking-only by
    * definition, while a bare `ref` is often resource-significant (VCS
    * refs, API refs) and so is KEPT — dropping it would conflate
    * genuinely different documents under one canonical URL.
    */
  val trackingParamPattern = "^(utm_[A-Za-z0-9_]*|fbclid|gclid)="

  /** Canonical URL: lowercase scheme + host, strip `www.` and the
    * scheme's default port, drop one trailing path-slash run, drop
    * fragment and tracking/empty params, sort surviving params. NULL
    * for strings that don't parse as scheme://host URLs.
    */
  def canonicalUrl(url: Column): Column = {
    val u = trim(url)
    val scheme = lower(regexp_extract(u, urlPattern, 1))
    val hostPort = lower(regexp_extract(u, urlPattern, 2))
    val unWww = regexp_replace(hostPort, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(unWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(unWww, ":443$", ""))
      .otherwise(unWww)
    val path = regexp_replace(regexp_extract(u, urlPattern, 3), "/+$", "")
    val rawQ = regexp_replace(regexp_extract(u, urlPattern, 4), "^\\?", "")
    val params = filter(split(rawQ, "&"),
      x => length(x) > 0 && !x.rlike(trackingParamPattern))
    val q = array_join(array_sort(params), "&")
    val base = concat(scheme, lit("://"), host, path)
    when(scheme === "" || hostPort === "", lit(null).cast("string"))
      .otherwise(when(q === "", base).otherwise(concat(base, lit("?"), q)))
  }

  /** Sliding-window document chunks: windows of `width` characters every
    * `stride` characters (overlap = width − stride), the standard
    * context-window prep before tokenize-and-pack. One row per chunk:
    * (…, chunk_id, chunk_start, chunk) — chunk_id dense from 0 in
    * offset order, the last window clamped by the string end, and every
    * document yields at least one chunk (an empty text → one empty
    * chunk, so no document silently disappears from the corpus).
    *
    * Row-local: the window count is exact integer arithmetic
    * (1 + ceil(max(len−width, 0) / stride), the pmod form — no float
    * division near a boundary), the expansion is one generate inside the
    * scan stage, and nothing shuffles. At 100 TB this is a map-side
    * fan-out whose output feeds [[PackingOps.chunkPack]] / the dedup
    * surface keyed by (doc, chunk_id).
    */
  def slidingChunks(df: org.apache.spark.sql.DataFrame, textCol: String,
      width: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    val len = length(col(textCol))
    val over = greatest(len - width, lit(0)).cast("long")
    // exact ceil(over / stride) in integer math (divisible numerator, so
    // the double division is integer-valued and exact)
    val a = over + (stride - 1)
    val nWin = ((a - pmod(a, lit(stride))) / stride + 1).cast("long")
    df.withColumn("chunk_id", explode(sequence(lit(0L), nWin - 1)))
      .withColumn("chunk_start", col("chunk_id") * stride)
      .withColumn("chunk",
        col(textCol).substr((col("chunk_start") + 1).cast("int"), lit(width)))
  }

  /** The canonical UTF-8-read-as-cp1252 double-encoding artifacts
    * ("mojibake") and their intended characters — the ftfy-style repair
    * table, kept to the three sequences that dominate real web crawls:
    * é, the right single quote, and the left double quote as their
    * 2-/3-char misdecodings. Ordered fixed table (bad → good); no entry's
    * replacement can CREATE another entry's pattern, so one left-to-right
    * pass per pattern is exact. Oracle twin composes the same literals
    * from chr() codepoints so neither engine depends on source-file
    * encoding.
    */
  val mojibakePatterns: Seq[(String, String)] = Seq(
    // U+00C3 U+00A9 ("A-tilde, copyright") -> U+00E9 (e-acute)
    "\u00c3\u00a9" -> "\u00e9",
    // U+00E2 U+20AC U+2122 ("a-circumflex, euro, TM") -> U+2019 (rsquo)
    "\u00e2\u20ac\u2122" -> "\u2019",
    // U+00E2 U+20AC U+0153 ("a-circumflex, euro, oe") -> U+201C (ldquo)
    "\u00e2\u20ac\u0153" -> "\u201c")

  /** Repair the [[mojibakePatterns]] artifacts in-place — chained literal
    * `replace` (codegen'd, per-row; no regex engine in the hot path).
    */
  def fixMojibake(text: Column): Column =
    mojibakePatterns.foldLeft(text) { case (c, (bad, good)) =>
      call_function("replace", c, lit(bad), lit(good))
    }

  /** Total artifact occurrences across [[mojibakePatterns]] — the
    * shrink-and-measure count ((len − len(without)) / len(pattern)); the
    * double division is integer-valued and exact by construction.
    */
  def mojibakeCount(text: Column): Column =
    mojibakePatterns.map { case (bad, _) =>
      ((length(text) -
        length(call_function("replace", text, lit(bad), lit("")))) /
        bad.length).cast(org.apache.spark.sql.types.LongType)
    }.reduce(_ + _)

  /** Domain suffix chain of a host — "a.b.c" → ["a.b.c", "b.c", "c"].
    * The scalable form of wildcard blocklist matching (robots opt-outs,
    * takedown lists): explode the ≤ ~6-element chain and EQUI-join it
    * against the blocklist, instead of a non-equi `endswith` join that
    * would plan as a nested loop at corpus scale.
    */
  def domainSuffixes(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  /** Split one WET-style crawl file into its records — the Common-Crawl
    * ingestion step. Record grammar (the WET conversion-record shape,
    * newline-normalized): `"WARC/1.0\nWARC-Target-URI: <url>\n\n<payload>
    * \n\n"`, concatenated. Returns `array<struct<url, body>>`; one
    * `transform` over the delimiter split, all inside the scan stage —
    * per-file work is linear in file bytes and nothing shuffles.
    *
    * Contract: payloads are newline-normalized and never contain the
    * `"WARC/1.0\n"` delimiter or a bare blank line (real WARC readers
    * slice by the Content-Length header instead; this is the WET
    * simplification for single-line payload corpora).
    */
  def splitWetRecords(file: Column): Column = {
    val parts = filter(split(file, "WARC/1\\.0\n"), p => length(p) > 0)
    transform(parts, p => struct(
      regexp_extract(p, "^WARC-Target-URI: ([^\n]*)", 1).as("url"),
      regexp_extract(p, "(?s)\n\n(.*)\n\n$", 1).as("body")))
  }
}
