package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, language-ID heuristics, quality scoring, token
  * counting and document fingerprinting. All pure built-in expressions
  * (codegen'd, partition-parallel, no driver state) — designed to run over
  * ~100 TB document corpora unchanged.
  */
object TextFunctions {

  /** Lower-cased, whitespace-split tokens; empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** All quality/language counts in one single-pass kernel call
    * (graft.expressions.TextStatsKernel): struct(ntok, npunct, nchar, en, de,
    * fr, es, nswall, cjk). The derived functions below reference it
    * repeatedly — codegen subexpression elimination evaluates it once
    * per row, replacing ~8 independent regex/split walks. */
  def textStats(text: Column): Column =
    graft.expressions.TextExprs.textStats(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    textStats(text).getField("ntok").cast("int")

  /** BPE-ish subword count: word-ish runs + digits + punctuation marks each
    * count as one token (a cheap deterministic proxy for a real tokenizer;
    * the regex is intentionally simple so any engine can replicate it). */
  def bpeishTokenCount(text: Column): Column =
    regexpCount(text, "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")

  /** Count regex matches via regexp_count (Spark 3.5+). */
  def regexpCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** The stop-word containment list of the Gopher rules (Rae et al.
    * 2021, Appendix A.1.1): a document must contain at least 2. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-quality rule set (Rae et al. 2021, Appendix
    * A.1.1 — the published heuristics Dolma/FineWeb-class pipelines
    * reuse): per-document metrics and the conjunction verdict `pass`:
    *
    *   - 50 <= word count <= 100,000
    *   - 3 <= mean word length <= 10
    *   - symbol-to-word ratio ('#', '...', '…') <= 0.1
    *   - fraction of non-blank lines starting with a bullet
    *     ('•', '-', '*') <= 0.9
    *   - fraction of non-blank lines ending with an ellipsis <= 0.3
    *   - fraction of words containing an alphabetic character >= 0.8
    *   - at least 2 of the 8 [[GopherStopWords]] present
    *
    * All codegen: token metrics are higher-order functions over the
    * [[tokens]] array, line metrics over the newline split — no UDF,
    * one pass per shape. Ratio fields in the returned struct round to
    * 6 for cross-engine hashing; `pass` compares the UNROUNDED ratios
    * (each a single IEEE division of exact integers, so any IEEE
    * engine lands on the same side — the oracle must compare doubles,
    * not decimal literals). */
  def gopherFlags(text: Column): Column = {
    val tk = tokens(text)
    val n = size(tk)
    val totLen = aggregate(tk, lit(0L), (a, x) => a + length(x))
    val meanLen = when(n > 0, totLen.cast("double") / n).otherwise(lit(0.0))
    val sym = regexpCount(text, "#") + regexpCount(text, "\\.\\.\\.") +
      regexpCount(text, "…")
    val symRatio = when(n > 0, sym.cast("double") / n).otherwise(lit(0.0))
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nl = size(lines)
    val bullets = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("-") || l.startsWith("*")))
    val bulletFrac =
      when(nl > 0, bullets.cast("double") / nl).otherwise(lit(0.0))
    val ells = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…")))
    val ellipsisFrac =
      when(nl > 0, ells.cast("double") / nl).otherwise(lit(0.0))
    val alphaWords = size(filter(tk, x => x.rlike("[a-zA-Z]")))
    val alphaFrac =
      when(n > 0, alphaWords.cast("double") / n).otherwise(lit(0.0))
    val stopHits = GopherStopWords
      .map(w => when(array_contains(tk, w), 1).otherwise(0))
      .reduce(_ + _)
    val pass = n >= 50 && n <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    struct(
      n.cast("long").as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisFrac, 6).as("ellipsis_frac"),
      round(alphaFrac, 6).as("alpha_frac"),
      stopHits.cast("long").as("stop_hits"),
      pass.as("pass"))
  }

  /** Per-document token-distribution stats in one row-local codegen pass
    * (graft.expressions.TokenEntropyKernel): struct(ntok, ntypes, entropy_bits)
    * — Shannon entropy of the within-document token distribution, the
    * lexical-diversity signal that catches keyword-stuffed / degenerate-
    * repetition documents length and punctuation ratios miss. Same
    * tokenization contract as [[tokens]]; zero shuffle (each document is
    * scored independently — embarrassingly parallel at any corpus size).
    * entropy_bits is 0.0 for zero- and one-token documents; null text ->
    * null struct. Round to 6 before hashing cross-engine (summation order
    * differs at ~1 ulp). */
  def tokenEntropy(text: Column): Column =
    graft.expressions.TextExprs.tokenEntropy(text)

  /** Type-token ratio (distinct tokens / tokens) from the [[tokenEntropy]]
    * kernel — a single IEEE division of exact longs; 0.0 for empty
    * documents, null for null text. */
  def typeTokenRatio(text: Column): Column = {
    val st = tokenEntropy(text)
    val n = st.getField("ntok")
    when(n > 0, st.getField("ntypes").cast("double") / n)
      .when(n.isNotNull, lit(0.0))
  }

  /** Within-document duplicate-line statistics (the MassiveText /
    * RefinedWeb repetition rules): struct(n_lines, dup_line_frac,
    * dup_char_frac) where lines are the trimmed non-blank newline splits,
    * dup_line_frac = (occurrences beyond each line's first) / lines and
    * dup_char_frac is the same ratio in characters. "Trimmed" strips the
    * full ASCII whitespace class `[ \t\x0B\f\r]` from both ends (regex
    * \s minus \n, which the split already consumed) — so CRLF corpora
    * lose the trailing \r and tab- or CR-only lines count as blank,
    * matching the cited MassiveText rule rather than Spark's
    * space-only `trim` default (ADVICE r14). Pure built-in higher-order
    * functions over one split (codegen'd, zero shuffle) —
    * `array_distinct` keeps first occurrences, so "duplicate" = every
    * repeat occurrence. Fractions are single IEEE divisions of exact
    * longs; 0.0 for documents with no lines, null struct fields for null
    * text. Round to 6 before hashing cross-engine. */
  def dupLineStats(text: Column): Column = {
    val lines = filter(
      transform(split(text, "\n"),
        l => regexp_replace(l, "^\\s+|\\s+$", "")),
      l => length(l) > 0)
    val dl = array_distinct(lines)
    val nl = size(lines).cast("long")
    val ndl = size(dl).cast("long")
    val tot = aggregate(lines, lit(0L), (a, x) => a + length(x))
    val dtot = aggregate(dl, lit(0L), (a, x) => a + length(x))
    struct(
      nl.as("n_lines"),
      when(nl > 0, (nl - ndl).cast("double") / nl)
        .when(nl.isNotNull, lit(0.0)).as("dup_line_frac"),
      when(tot > 0, (tot - dtot).cast("double") / tot)
        .when(tot.isNotNull, lit(0.0)).as("dup_char_frac"))
  }

  /** Regroup a document's tokens into fixed-width space-joined lines
    * ("\n"-separated) — the multi-line construction the line-grain
    * gates, probes, and specs share (the fixture's documents are
    * single-line, so duplicated token spans become duplicated LINES).
    * One compiled tokenSpans pass; null-in-null-out like the kernel it
    * wraps (coalesce at the call site where the suite's ''-for-null-doc
    * convention applies). ONE definition on purpose: a width/separator
    * drift between gate, probe, and spec would silently decouple what
    * they verify. */
  def tokenLines(text: Column, width: Int): Column =
    array_join(
      graft.expressions.TextExprs.tokenSpans(text, width, width), "\n")

  /** Within-document repeated-line REMOVAL (the transform
    * [[dupLineStats]] measures — MassiveText/RefinedWeb's repetition
    * rule): keep the FIRST occurrence of each trimmed line content
    * with its original bytes, drop later repeats; blank lines carry no
    * content and always survive. Single-pass codegen kernel
    * (graft.expressions.TextKernels.dropRepeatedLines), O(doc) time
    * and doc-bounded memory; the corpus-level counterpart is
    * [[graft.operators.Dedup.lineDedup]]. */
  def dropRepeatedLines(text: Column): Column =
    graft.expressions.TextExprs.dropRepeatedLines(text)

  /** Word n-gram shingles ("a b c" style), distinct in first-occurrence
    * order; empty array when the document has fewer than n tokens.
    * Implemented as a single-pass codegen kernel
    * (graft.expressions.TextKernels) — same normalization contract as
    * [[tokens]]. */
  def wordShingles(text: Column, n: Int): Column =
    graft.expressions.TextExprs.wordShingles(text, n)

  /** All word n-gram OCCURRENCES in position order (NOT distinct — one
    * entry per starting position, unlike [[wordShingles]]); empty array
    * when the document has fewer than n tokens. The occurrence stream is
    * what frequency statistics ([[graft.operators.CorpusStats]]) count.
    * Single-pass codegen kernel (graft.expressions.TextKernels) — the
    * composed transform-lambda form re-tokenized the document once per
    * position (O(len^2) per doc). */
  def wordNgramsAll(text: Column, n: Int): Column =
    graft.expressions.TextExprs.wordNgramsAll(text, n)

  /** Language-ID confidence MARGIN: the gap between the best and
    * second-best language stopword scores — 0 for ties, i.e. ambiguous
    * or mixed-language documents, the rows a curation run routes to a
    * heavier classifier instead of trusting [[langId]]'s pick. Pure
    * integer arithmetic over the single-pass [[textStats]] kernel
    * (codegen subexpression elimination shares the pass with langId in
    * the same projection) — engine-exact, no rounding anywhere. */
  def langIdMargin(text: Column): Column = {
    val st = textStats(text)
    val arr = sort_array(array(
      st.getField("en").cast("long"), st.getField("de").cast("long"),
      st.getField("fr").cast("long"), st.getField("es").cast("long")),
      asc = false)
    element_at(arr, 1) - element_at(arr, 2)
  }

  /** Unicode normalization (NFC or NFKC) + optional ROOT casefold +
    * whitespace collapse — the pre-hash canonicalization step; codegen
    * kernel, see graft.expressions.TextKernels.normalizeText. */
  def normalizeText(text: Column, nfkc: Boolean = false,
                    casefold: Boolean = true,
                    collapseWs: Boolean = true): Column =
    graft.expressions.TextExprs.normalizeText(text, nfkc, casefold,
      collapseWs)

  /** Character n-gram shingles over the normalized text, distinct
    * (first-occurrence order); single-pass codegen kernel — see
    * graft.expressions.TextKernels.charShingles for why the composed
    * substr form was quadratic. NULL text keeps the composed form's
    * empty-array contract (the `when` fell through to `otherwise`). */
  def charShingles(text: Column, n: Int): Column =
    coalesce(graft.expressions.TextExprs.charShingles(text, n),
      array().cast("array<string>"))

  /** Deterministic document fingerprint: md5 of the normalized text
    * (lower-cased, whitespace runs collapsed to one space, trimmed).
    * Equal fingerprints == exact duplicates modulo case/whitespace.
    * Single-pass codegen kernel (graft.expressions.Md5Kernel) —
    * byte-identical to
    * `md5(trim(regexp_replace(lower(text), "\\s+", " ")) as binary)`
    * without the regex walk over every body. */
  def fingerprint(text: Column): Column =
    graft.expressions.TextExprs.normalizedMd5(text)

  // --------------------------------------------------------------------------
  // Language identification — deterministic stopword/script heuristic.
  // Spelled out so an external oracle can replicate it exactly.
  // --------------------------------------------------------------------------

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"))

  /** Heuristic language ID: CJK-dominant → zh, otherwise the language with
    * the highest stopword count (ties broken en > de > fr > es), 'und' if no
    * stopwords at all. Deterministic by construction; all counts come
    * from the single-pass [[textStats]] kernel. */
  def langId(text: Column): Column = {
    val st = textStats(text)
    val en = st.getField("en"); val de = st.getField("de")
    val fr = st.getField("fr"); val es = st.getField("es")
    when(st.getField("cjk") * 2 > st.getField("ntok"), lit("zh"))
      .when(en === 0 && de === 0 && fr === 0 && es === 0, lit("und"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  // --------------------------------------------------------------------------
  // Quality scoring — length / punctuation / stopword-ratio signals.
  // --------------------------------------------------------------------------

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column = {
    val st = textStats(text)
    when(st.getField("nchar") > 0,
      st.getField("npunct").cast("double") / st.getField("nchar"))
      .otherwise(lit(0.0))
  }

  /** Fraction of tokens that are (any-language) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val st = textStats(text)
    when(st.getField("ntok") > 0,
      st.getField("nswall").cast("double") / st.getField("ntok"))
      .otherwise(lit(0.0))
  }

  /** Duplicate n-gram fraction (repetition signal, Gopher-style):
    * 1 - distinct_ngrams / total_ngrams, 0 for docs shorter than n
    * tokens. High values indicate boilerplate/repetitive text. */
  def repetitionScore(text: Column, n: Int): Column = {
    val total = greatest(tokenCount(text) - (n - 1), lit(0))
    val distinctN = size(wordShingles(text, n))
    when(total > 0,
      lit(1.0) - distinctN.cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  // --------------------------------------------------------------------------
  // Deterministic hash bucketing — repeatable sampling / split assignment.
  // Built on md5 hex (not xxhash64) so ANY engine reproduces the exact
  // assignment: bucket = first-8-hex-digits-of-md5 mod buckets.
  // --------------------------------------------------------------------------

  /** Stable bucket in [0, buckets) from a string key. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(conv(substring(md5(key.cast("binary")), 1, 8), 16, 10).cast("bigint"),
      lit(buckets.toLong))

  /** Deterministic train/val/test split assignment by percentage
    * boundaries over 100 hash buckets (e.g. 80/10/10). */
  def splitAssign(key: Column, trainPct: Int, valPct: Int): Column = {
    val b = hashBucket(key, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  // --------------------------------------------------------------------------
  // PII scrubbing — regex patterns kept RE2-compatible (no lookaround/
  // backrefs) so external engines can replicate them byte-for-byte.
  // --------------------------------------------------------------------------

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"
  val Ipv4Pattern =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Replace emails, phone-like digit runs and IPv4 addresses with typed
    * placeholders. Order matters (emails first, so the phone pattern never
    * eats an address's digits). */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "[EMAIL]")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "[IP]")
    regexp_replace(noIp, PhonePattern, "[PHONE]")
  }

  /** Count of PII matches (pre-scrub signal for filtering). */
  def piiCount(text: Column): Column =
    regexpCount(text, EmailPattern) + regexpCount(text, Ipv4Pattern) +
      regexpCount(text, PhonePattern)

  /** Composite [0,1] quality score: rewards reasonable length, low
    * punctuation density and a sane stopword ratio. Deterministic formula —
    * documented so the oracle can reproduce it:
    *   0.4 * min(n_tokens/100, 1) + 0.3 * (1 - min(punct_ratio*5, 1))
    * + 0.3 * min(stopword_ratio*4, 1)
    */
  def qualityScore(text: Column): Column =
    lit(0.4) * least(tokenCount(text).cast("double") / 100.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))) +
      lit(0.3) * least(stopwordRatio(text) * 4.0, lit(1.0))

  /** Query params dropped by [[canonicalUrl]] by default — the
    * cross-site tracking families every crawl canonicalizer strips
    * (RE2 and Java regex compatible; anchored per-param). Bare `ref`
    * is deliberately NOT here: unlike the utm_ / gclid / fbclid
    * families it is
    * content-bearing on common sites (GitHub `?ref=branch` selects a
    * different page), so stripping it would collapse distinct pages
    * onto one dedup key and a group-by-key dedup would drop real
    * content. Callers whose crawl is known ref-as-tracking can pass
    * their own pattern to [[canonicalUrl]]. */
  val TrackingParamPattern = "^(utm_[^=]*|gclid|fbclid)(=|$)"

  /** Canonical form of a URL — the dedup key a crawl pipeline groups
    * by before content dedup (the same page arrives as
    * `HTTP://Site.com:80/a//b/?utm_source=x&b=2&a=1#frag` and
    * `http://site.com/a/b?a=1&b=2`). Rules, in order:
    *
    *  1. scheme and host lowercase; a non-URL (no `scheme://`) → NULL
    *  2. a `userinfo@` prefix in the authority is stripped (dedup
    *     keys never carry credentials; the greedy `^.*@` takes
    *     everything through the LAST `@`, per RFC 3986 the userinfo
    *     boundary). Bracketed IPv6 authorities (`http://[::1]:8080/`)
    *     are OUT OF SCOPE — the host:port split is first-colon and
    *     would mangle them; crawl URL lists are hostname-keyed.
    *  3. default ports dropped (http:80, https:443); others kept
    *  4. duplicate path slashes collapsed, trailing slash stripped
    *     (root stays `/`; an empty path becomes `/`)
    *  5. tracking params removed (`trackingPattern`, default
    *     [[TrackingParamPattern]] — see there for why bare `ref` is
    *     excluded), remaining params sorted byte-wise, empty
    *     fragments of the split dropped
    *  6. the fragment is dropped entirely
    *
    * Pure composition of codegen'd built-ins (regexp + higher-order
    * array functions) — row-local, zero shuffle, stays inside
    * whole-stage codegen; NULL in → NULL out. The DuckDB oracle
    * mirrors each rule with the same regexes (its `regexp_replace`
    * needs the explicit `'g'` flag where Spark replaces all
    * occurrences, and `||` not `concat`, which ignores NULLs). */
  def canonicalUrl(url: Column,
                   trackingPattern: String = TrackingParamPattern): Column = {
    val scheme = nullif(
      lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
      lit(""))
    val rest = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = regexp_extract(rest, "^([^/?#]+)", 1)
    val authority = regexp_replace(hostport, "^.*@", "")
    val host = lower(regexp_extract(authority, "^([^:]*)", 1))
    val port = regexp_extract(authority, ":([0-9]+)$", 1)
    val tail = rest.substr(length(hostport) + 1, length(rest))
    val path0 = regexp_extract(tail, "^([^?#]*)", 1)
    val path1 = regexp_replace(path0, "/{2,}", "/")
    val path = when(path1 === "", lit("/"))
      .otherwise(regexp_replace(path1, "(.)/$", "$1"))
    val query = regexp_extract(tail, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(trackingPattern))
    val sortedQ = array_join(array_sort(params), "&")
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(sortedQ =!= "", concat(lit("?"), sortedQ)).otherwise(lit("")))
  }
}
