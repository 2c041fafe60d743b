package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. Builtin
  * functions and the native `TextKernels` expressions — codegen-friendly,
  * no UDFs, so a 100 TB document scan stays in whole-stage codegen with
  * the parquet reader pruning to the `text` column only.
  */
object Text {

  /** Lowercased alphanumeric tokens: the maximal `[a-z0-9]+` runs of
    * lower(text), in order — the same array as
    * `regexp_extract_all(lower(text), '[a-z0-9]+')` and its DuckDB mirror
    * [[tokensSql]]. The ASCII-scoped alphabet keeps Spark and DuckDB (RE2)
    * semantics identical for oracle parity. One native byte scan
    * (`TextKernels.Shingles`), no regex. */
  def tokens(text: Column): Column = TextKernels.shinglesCol(text, 1)

  /** One-pass native kernel (`TextKernels.TokenCount`), value-identical
    * to `size(tokens(text))` but allocation-free — token counting is on
    * the hot path of quality scores, packing budgets, and chunk sizing. */
  def tokenCount(text: Column): Column = TextKernels.tokenCountCol(text)

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish subword-count estimate: each word contributes ⌈len/4⌉
    * subwords (the ~4-chars-per-token ratio of English BPE vocabularies)
    * and each non-alphanumeric, non-whitespace symbol contributes one —
    * the cheap budget-planning proxy for tokenizer counts over a corpus
    * (a real tokenizer is a per-partition model pass, `ml/Evaluator`).
    * Pure integer arithmetic → exact on any engine. */
  def subwordEstimate(text: Column): Column = {
    val words = aggregate(tokens(text), lit(0L),
      (acc, w) => acc + floor((length(w) + 3) / 4).cast("long"))
    // explicit whitespace class: Java's \s includes vertical tab, RE2's
    // does not — spelling the characters keeps both engines identical
    val symbols = length(regexp_replace(lower(text), "[a-z0-9 \\t\\n\\x0B\\f\\r]", ""))
    words + symbols
  }

  /** Word-level n-gram shingles (the MinHash/Jaccard input): each run of
    * n consecutive tokens joined by single spaces, in order, duplicates
    * kept; empty for a text with fewer than n tokens, null for null. One
    * native scan (`TextKernels.Shingles`) that cuts the n-grams out of one
    * packed token buffer: no regex, and no `zip_with`/`filter` lambdas for
    * Spark to interpret per row. n = 1 is [[tokens]]. */
  def shingles(text: Column, n: Int): Column = TextKernels.shinglesCol(text, n)

  /** Shannon entropy (nats) of the ALPHANUMERIC character distribution —
    * the compressibility proxy quality filters use against keyboard-mash
    * and template spam (natural English sits near 2.9; repeated-char
    * junk collapses toward 0). Scoped to `[a-z0-9]` singles so both
    * engines extract the identical character stream (the `tokens` regex
    * precedent — full-unicode `split` semantics differ).
    *
    * Entirely row-local — a 100 TB quality pass is a scan with no
    * exchange. Each term −p·ln p rounds onto the 1e-9 long grid before
    * the (order-free) integer sum, the q58 grid idiom, so the value is
    * bit-identical on any engine and partitioning.
    *
    * Runs as the one-pass native kernel (`TextKernels.CharEntropy`):
    * the HOF formulation ([[charEntropyHof]], kept as the spec'd
    * cross-check) references the extracted char array inside its
    * lambdas, which re-evaluates the regex once per DISTINCT character —
    * an O(n²)-class trap, ~37× the scan cost, caught by the round-8 sf10
    * rehearsal. */
  def charEntropy(text: Column): Column = TextKernels.charEntropyCol(text)

  /** Pure-column twin of [[charEntropy]] — value-identical (same grid,
    * same rounding); kept because two independent formulations agreeing
    * is the spec's cross-check of the kernel. NOT for hot paths: the
    * `chars` reference inside the lambdas re-evaluates per element. */
  private[graft] def charEntropyHof(text: Column): Column = {
    val chars = regexp_extract_all(lower(text), lit("[a-z0-9]"), lit(0))
    val n = size(chars)
    val terms = transform(array_distinct(chars), ch => {
      val p = size(filter(chars, x => x === ch)).cast("double") / n.cast("double")
      round(-p * log(p) * lit(1e9)).cast("long")
    })
    when(n > 0,
      aggregate(terms, lit(0L), (acc, x) => acc + x).cast("double") / lit(1e9))
      .otherwise(lit(0.0))
  }

  /** Digit share of the alphanumeric stream (list-price/spam signal). */
  def digitFraction(text: Column): Column = {
    val chars = regexp_extract_all(lower(text), lit("[a-z0-9]"), lit(0))
    when(size(chars) > 0,
      size(filter(chars, c => c.between("0", "9"))).cast("double") /
        size(chars).cast("double"))
      .otherwise(lit(0.0))
  }

  /** `x / (token count)` in double; null for a text with no token, where
    * an ANSI-mode division would throw (DuckDB's mirrors give NULL). */
  private def perToken(x: Column, text: Column): Column =
    x.cast("double") / nullif(tokenCount(text), lit(0))

  /** Type-token ratio: distinct/total tokens (lexical diversity). */
  def typeTokenRatio(text: Column): Column = perToken(distinctTokenCount(text), text)

  /** Fraction of tokens belonging to a stopword list. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    perToken(size(filter(tokens(text), w => w.isInCollection(stopwords))), text)

  /** Mean token length in characters. */
  def meanTokenLength(text: Column): Column =
    perToken(aggregate(tokens(text), lit(0L), (acc, w) => acc + length(w)), text)

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  /** Composite quality score in [0,1]: length saturation + lexical
    * diversity + stopword plausibility — the shape of heuristic quality
    * filters used for pretraining-corpus curation:
    * `0.5·min(1, n/100) + 0.3·typeTokenRatio + 0.2·stopwordRatio` over
    * [[EnglishStopwords]]; null for a text with no token. One native pass
    * per document (`TextKernels.QualityScore`), bit-identical to that
    * column arithmetic and to [[qualityScoreSql]]. */
  def qualityScore(text: Column): Column = TextKernels.qualityScoreCol(text)

  /** Per-language ASCII stopword profiles for the n-gram language-ID
    * heuristic. Tiny on purpose: a real deployment broadcasts a bigger
    * table; the mechanism (vectorized count + argmax) is the same. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "los", "una", "por", "que", "y"),
    "fr" -> Seq("les", "une", "est", "avec", "dans", "et"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "hao", "ma"))

  /** Language ID: argmax of per-language stopword hits, ties broken by
    * language code ascending (profiles are pre-sorted). */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scored = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(t, w => w.isInCollection(words)))
    }
    // fold keeping the max; earlier (alphabetically smaller) lang wins ties
    scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lang).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  /** Canonical document fingerprint: the k smallest distinct tokens joined —
    * a deterministic signature for near-canonical duplicate detection
    * (cheap alternative to content hashing that survives reordering). */
  def fingerprint(text: Column, k: Int = 8): Column =
    concat_ws(" ", slice(array_sort(array_distinct(tokens(text))), 1, k))

  // --- PII detection / redaction ---

  /** PII patterns written to the RE2/Java-regex common subset (no
    * lookaround, no \p classes): email, dotted-quad IPv4, and
    * international-prefix phone numbers. Phone requires a leading `+` so
    * the three classes are disjoint (no digit-run inside an IP or email
    * ever double-counts as a phone). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d[\\d -]{6,}\\d"

  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0)))
  def piiIpCount(text: Column): Column =
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0)))
  def piiPhoneCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PhoneRe), lit(0)))

  /** Sequential redaction: emails, then IPs, then phones (counts are
    * computed per pattern on the ORIGINAL text; redaction is ordered so
    * later patterns can't match inside earlier placeholders). Pure
    * codegen'd column work — a 100 TB scrub is a scan, no exchange. */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "[EMAIL]")
    val i = regexp_replace(e, Ipv4Re, "[IP]")
    regexp_replace(i, PhoneRe, "[PHONE]")
  }

  // --- HTML boilerplate extraction (web-corpus curation) ---

  // Patterns live in the Java-regex ∩ RE2 common subset (no backrefs, no
  // lookarounds; (?is) inline flags work in both). NOTE: `\s` is NOT in
  // that subset — Java's includes \x0B, RE2's does not — so whitespace
  // uses the explicit class below (the subwordEstimate precedent).
  val HtmlScriptRe = "(?is)<script\\b[^>]*>.*?</script>"
  val HtmlStyleRe = "(?is)<style\\b[^>]*>.*?</style>"
  val HtmlTitleBlockRe = "(?is)<title\\b[^>]*>.*?</title>"
  val HtmlCommentRe = "(?s)<!--.*?-->"
  val HtmlTagRe = "(?s)<[^>]*>"
  val HtmlTitleRe = "(?is)<title[^>]*>(.*?)</title>"
  val HtmlAnchorRe = "(?i)<a\\b[^>]*>"
  private val WsRe = "[ \\t\\n\\x0B\\f\\r]+"

  /** Visible text of an HTML document: drop script/style/title bodies
    * (title is metadata — [[htmlTitle]] extracts it separately) and
    * comments, strip remaining tags, decode the five basic entities
    * (&lt; &gt; &quot; &#39; first, &amp; LAST — so a literal
    * `&amp;lt;` decodes to `&lt;` text, the standard single-pass order),
    * collapse whitespace runs, trim. Pure codegen'd column work — a
    * 100 TB boilerplate strip is a scan with no exchange. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, HtmlScriptRe, " ")
    val noStyle = regexp_replace(noScript, HtmlStyleRe, " ")
    val noTitle = regexp_replace(noStyle, HtmlTitleBlockRe, " ")
    val noComment = regexp_replace(noTitle, HtmlCommentRe, " ")
    val noTags = regexp_replace(noComment, HtmlTagRe, " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(ent, WsRe, " "))
  }

  /** `<title>` body (trimmed), empty string when absent. */
  def htmlTitle(html: Column): Column =
    trim(regexp_extract(html, HtmlTitleRe, 1))

  /** Count of anchor open tags — the link-density signal boilerplate
    * classifiers key on. */
  def htmlLinkCount(html: Column): Column =
    size(regexp_extract_all(html, lit(HtmlAnchorRe), lit(0)))

  // --- SQL mirrors (DuckDB) for oracle queries ---

  def tokensSql(e: String) = s"regexp_extract_all(lower($e), '[a-z0-9]+')"
  def tokenCountSql(e: String) = s"len(${tokensSql(e)})"
  /** Non-distinct word n-gram list (DuckDB mirror of [[shingles]]):
    * slice `[i:i+n-1]` is inclusive, so it spans n tokens. */
  def ngramsSql(e: String, n: Int): String =
    s"list_transform(generate_series(1, len(${tokensSql(e)})-${n - 1}), " +
      s"i -> array_to_string(${tokensSql(e)}[i:i+${n - 1}], ' '))"
  def subwordEstimateSql(e: String): String =
    s"(COALESCE(list_sum(list_transform(${tokensSql(e)}, w -> CAST(FLOOR((len(w) + 3) / 4) AS BIGINT))), 0) " +
      s"+ len(regexp_replace(lower($e), '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')))"
  def stopwordRatioSql(e: String, words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"(len(list_filter(${tokensSql(e)}, w -> w IN ($list)))::DOUBLE / len(${tokensSql(e)}))"
  }
  def typeTokenRatioSql(e: String) =
    s"(len(list_distinct(${tokensSql(e)}))::DOUBLE / len(${tokensSql(e)}))"
  def meanTokenLengthSql(e: String) =
    s"(list_sum(list_transform(${tokensSql(e)}, w -> len(w)))::DOUBLE / len(${tokensSql(e)}))"
  def qualityScoreSql(e: String): String =
    s"(0.5 * LEAST(1.0, ${tokenCountSql(e)}::DOUBLE / 100.0) + 0.3 * ${typeTokenRatioSql(e)} + " +
      s"0.2 * ${stopwordRatioSql(e, EnglishStopwords)})"
  def langIdSql(e: String): String = {
    val scores = LangProfiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(${tokensSql(e)}, w -> w IN ($list)))" -> lang
    }
    // same fold as langId: strictly-greater wins, first (alphabetical) on tie
    val folded = scores.tail.foldLeft((s"'${scores.head._2}'", scores.head._1)) {
      case ((bestLang, bestScore), (score, lang)) =>
        (s"CASE WHEN $score > $bestScore THEN '$lang' ELSE $bestLang END",
          s"GREATEST($score, $bestScore)")
    }
    folded._1
  }
  def fingerprintSql(e: String, k: Int = 8): String =
    s"array_to_string(list_sort(list_distinct(${tokensSql(e)}))[1:$k], ' ')"
  // DuckDB plain strings treat backslash literally, so the Scala pattern
  // constants interpolate into SQL unchanged.
  def piiEmailCountSql(e: String) = s"len(regexp_extract_all($e, '$EmailRe'))"
  def piiIpCountSql(e: String) = s"len(regexp_extract_all($e, '$Ipv4Re'))"
  def piiPhoneCountSql(e: String) = s"len(regexp_extract_all($e, '$PhoneRe'))"
  def redactPiiSql(e: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IP]', 'g'), '$PhoneRe', '[PHONE]', 'g')"
  def stripHtmlSql(e: String): String = {
    val noScript = s"regexp_replace($e, '$HtmlScriptRe', ' ', 'g')"
    val noStyle = s"regexp_replace($noScript, '$HtmlStyleRe', ' ', 'g')"
    val noTitle = s"regexp_replace($noStyle, '$HtmlTitleBlockRe', ' ', 'g')"
    val noComment = s"regexp_replace($noTitle, '$HtmlCommentRe', ' ', 'g')"
    val noTags = s"regexp_replace($noComment, '$HtmlTagRe', ' ', 'g')"
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        s"regexp_replace($c, '$from', '$to', 'g')"
      }
    s"trim(regexp_replace($ent, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
  }
  def htmlTitleSql(e: String): String =
    s"trim(regexp_extract($e, '$HtmlTitleRe', 1))"
  def htmlLinkCountSql(e: String): String =
    s"len(regexp_extract_all($e, '$HtmlAnchorRe'))"

  // --- URL canonicalization (web-corpus curation) ---
  // Crawl pipelines key per-domain caps, URL dedup, and source mixing on
  // a canonical URL form; these stay in the Java∩RE2 regex subset so the
  // Spark columns and the DuckDB oracle mirrors are character-identical.
  // All pure codegen'd column work — a 100 TB URL scan is a map.

  /** `scheme://` prefix regex (lowercased input). */
  private val SchemeRe = "^([a-z][a-z0-9+.-]*)://"
  /** Authority (host[:port], userinfo stripped) of a lowercased URL. */
  private val HostRe = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
  /** Path+query (fragment excluded) — group 1 starts at the first `/`. */
  private val PathQueryRe = "^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)"

  /** Lowercased host with userinfo/port dropped and a leading `www.`
    * stripped — the per-domain-cap grouping key. Empty when not a URL. */
  def urlHost(url: Column): Column =
    regexp_replace(regexp_extract(lower(url), HostRe, 1), "^www\\.", "")

  /** Heuristic registrable domain: the last two host labels, or the last
    * three when the middle one is a common second-level registry label
    * (`co/com/net/org/gov/ac/edu`) under a 2-letter ccTLD — example.co.uk
    * stays whole. A full public-suffix list is a broadcast lookup table
    * in production; the heuristic covers the dominant crawl mass. */
  val CcSldLabels = Seq("co", "com", "net", "org", "gov", "ac", "edu")
  def registrableDomain(host: Column): Column = {
    val ls = split(host, "\\.")
    val n = size(ls)
    val takeThree = n >= 3 &&
      element_at(ls, -2).isin(CcSldLabels: _*) && length(element_at(ls, -1)) === 2
    when(n <= 2, host)
      .otherwise(array_join(
        slice(ls, n - when(takeThree, 2).otherwise(1), lit(3)), "."))
  }

  /** Canonical URL as a DEDUP KEY: the whole URL is lowercased (a
    * corpus-key convention — RFC 3986 keeps path case, but mixed-case
    * duplicates dominate crawl dup mass), default ports (`:80` http,
    * `:443` https) dropped, fragment dropped, empty path → `/`. Query
    * strings are kept (semantics differ per site; parameter-level
    * stripping composes on top). Non-URLs → empty. */
  def normalizeUrl(url: Column): Column = {
    val lower0 = lower(url)
    val scheme = regexp_extract(lower0, SchemeRe, 1)
    val pathq0 = regexp_extract(lower0, PathQueryRe, 1)
    val port = regexp_extract(regexp_extract(lower0, HostRe + "(:[0-9]+)?", 2),
      "^:([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val pathq = when(pathq0 === "", "/").otherwise(pathq0)
    when(scheme === "", "").otherwise(
      concat(scheme, lit("://"), urlHost(url),
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")), pathq))
  }

  def urlHostSql(e: String): String =
    s"regexp_replace(regexp_extract(lower($e), '$HostRe', 1), '^www\\.', '')"
  def registrableDomainSql(host: String): String = {
    val set = CcSldLabels.map(l => s"'$l'").mkString(", ")
    s"""CASE WHEN len(string_split($host, '.')) <= 2 THEN $host
        WHEN string_split($host, '.')[-2] IN ($set)
             AND len(string_split($host, '.')[-1]) = 2
        THEN array_to_string(string_split($host, '.')[-3:], '.')
        ELSE array_to_string(string_split($host, '.')[-2:], '.') END"""
  }
  def normalizeUrlSql(e: String): String = {
    val scheme = s"regexp_extract(lower($e), '$SchemeRe', 1)"
    val pathq0 = s"regexp_extract(lower($e), '$PathQueryRe', 1)"
    val port = s"regexp_extract(regexp_extract(lower($e), '$HostRe(:[0-9]+)?', 2), '^:([0-9]+)$$', 1)"
    s"""CASE WHEN $scheme = '' THEN '' ELSE
        $scheme || '://' || ${urlHostSql(e)} ||
        CASE WHEN $port <> '' AND NOT (($scheme = 'http' AND $port = '80')
               OR ($scheme = 'https' AND $port = '443'))
             THEN ':' || $port ELSE '' END ||
        CASE WHEN $pathq0 = '' THEN '/' ELSE $pathq0 END END"""
  }
}
