package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationAwareUTF8String, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels: tokens, shingles, counts and the per-document
  * statistics behind the quality rules, each one byte scan of lower(text).
  *
  * A token is a maximal `[a-z0-9]+` run of lower(text) — the
  * `regexp_extract_all(lower(text), '[a-z0-9]+')` of the DuckDB mirrors
  * (`Text.tokensSql`). `[a-z0-9]` are ASCII bytes, which never occur
  * inside a multi-byte UTF-8 sequence, so a byte scan finds exactly the
  * runs the regex finds. ASCII input is scanned as is, folding `A-Z`
  * inline, with no lowered copy; any other input is lowered first with
  * the case mapping `lower()` applies (ICU, Spark's default), which is
  * where U+212A (Kelvin sign) becomes the token byte `k`. Identity with
  * the builtin formulations, interpreted and code-generated, is pinned on
  * unicode, edge and fuzz inputs in `TextKernelsSpec`.
  *
  * Every expression here is one static call in generated code, so it
  * stays inside whole-stage codegen, and a document is scanned once per
  * reference. The builtin chains ran a Java regex per reference, inside
  * `zip_with`/`filter`/`aggregate` lambdas that Spark interprets per row,
  * and a `Filter` that reads a value twice evaluates it twice (no common
  * subexpression elimination there); the quality and Gopher rules are
  * therefore each a single kernel that computes its own final value.
  */
object TextKernels {

  /** The token alphabet `[a-z0-9]`, with `A-Z` folded in for ASCII input
    * (lowered non-ASCII input has no `A-Z` left). */
  @inline private def tokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')

  @inline private def lowerByte(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** What the kernels scan for lower(s): s itself when it is all ASCII,
    * else its ICU lowering (the same method `lower()` calls). */
  private def scanSource(s: UTF8String): UTF8String =
    if (s.isFullAscii) s else CollationAwareUTF8String.toLowerCase(s)

  /** Number of maximal `[a-z0-9]+` runs in lower(s): one byte pass, and
    * no allocation for ASCII input. */
  def tokenCount(s: UTF8String): Int = {
    val src = scanSource(s)
    val n = src.numBytes()
    val base = src.getBaseObject
    val off = src.getBaseOffset
    var count = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val isTok = tokenByte(Platform.getByte(base, off + i))
      if (isTok && !inRun) count += 1
      inRun = isTok
      i += 1
    }
    count
  }

  def tokenCountCol(text: Column): Column =
    ColumnBridge.column(TokenCount(ColumnBridge.expression(text)))

  /** The tokens of lower(s), lowered and packed into `buf` joined by
    * single spaces: token i is `buf[start(i), start(i + 1) - 1)`, so the n
    * tokens from i joined by spaces — a word n-gram — are the one slice
    * `buf[start(i), start(i + n) - 1)`. `symbols` counts the characters of
    * lower(s) that are neither token characters nor whitespace
    * `[ \t\n\x0B\f\r]`. */
  private[functions] final class Tokenized(
      val buf: Array[Byte], val start: Array[Int], val count: Int, val symbols: Int) {
    /** tokens i until i + n joined by single spaces, a view on `buf` */
    def gram(i: Int, n: Int): UTF8String =
      UTF8String.fromBytes(buf, start(i), start(i + n) - 1 - start(i))
  }

  private[functions] def tokenize(s: UTF8String): Tokenized = {
    val ascii = s.isFullAscii
    val src = if (ascii) s else CollationAwareUTF8String.toLowerCase(s)
    val nb = src.numBytes()
    val base = src.getBaseObject
    val off = src.getBaseOffset
    // each token byte is copied once and each token gets one trailing
    // space, which takes the place of at least one separator byte of src
    // (or is the one extra byte after the last token)
    val buf = new Array[Byte](nb + 1)
    var start = new Array[Int](16)
    var count = 0
    var len = 0
    var spaces = 0
    var inRun = false
    var i = 0
    while (i < nb) {
      val b = Platform.getByte(base, off + i)
      if (tokenByte(b)) {
        if (!inRun) {
          if (count + 2 > start.length) start = java.util.Arrays.copyOf(start, start.length * 2)
          start(count) = len
          count += 1
          inRun = true
        }
        buf(len) = lowerByte(b)
        len += 1
      } else {
        if (inRun) { buf(len) = ' '; len += 1; inRun = false }
        if (b == ' ' || (b >= '\t' && b <= '\r')) spaces += 1
      }
      i += 1
    }
    if (inRun) { buf(len) = ' '; len += 1 }
    start(count) = len // sentinel: the last token ends at len - 1
    val chars = if (ascii) nb else src.numChars()
    new Tokenized(buf, start, count, chars - (len - count) - spaces)
  }

  /** Word n-grams of lower(s): each run of n consecutive tokens joined by
    * single spaces, in order, duplicates kept; empty with fewer than n
    * tokens. n = 1 gives the tokens themselves. */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val t = tokenize(s)
    val out = new Array[Any](math.max(0, t.count - n + 1))
    var i = 0
    while (i < out.length) { out(i) = t.gram(i, n); i += 1 }
    new GenericArrayData(out)
  }

  def shinglesCol(text: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), n))

  /** Per-document counts the quality rules read, from one tokenization:
    * tokens, distinct tokens, tokens in `Text.EnglishStopwords`, token
    * characters, symbol characters (see [[Tokenized]]), and the total and
    * distinct word `gramN`-grams. */
  private[functions] final class DocStats(
      val tokens: Int, val distinctTokens: Int, val stopwordHits: Int,
      val tokenChars: Int, val symbols: Int, val grams: Int, val distinctGrams: Int)

  private lazy val stopwords: java.util.Set[UTF8String] =
    java.util.Set.of(Text.EnglishStopwords.map(UTF8String.fromString): _*)

  private[functions] def docStats(s: UTF8String, gramN: Int): DocStats = {
    val t = tokenize(s)
    val distinct = new java.util.HashSet[UTF8String]()
    var hits = 0
    var i = 0
    while (i < t.count) {
      val w = t.gram(i, 1)
      distinct.add(w)
      if (stopwords.contains(w)) hits += 1
      i += 1
    }
    val grams = math.max(0, t.count - gramN + 1)
    val distinctGrams =
      if (gramN == 1) distinct.size
      else {
        val seen = new java.util.HashSet[UTF8String]()
        var j = 0
        while (j < grams) { seen.add(t.gram(j, gramN)); j += 1 }
        seen.size
      }
    val tokenChars = t.start(t.count) - t.count
    new DocStats(t.count, distinct.size, hits, tokenChars, t.symbols, grams, distinctGrams)
  }

  /** `Text.qualityScore` of s, null when s has no token: length
    * saturation, type-token ratio and stopword ratio, in the column
    * formulation's evaluation order (`0.5·min(1, n/100) + 0.3·distinct/n +
    * 0.2·stopwords/n`, all in double), so the value is bit-identical to
    * it and to the DuckDB mirror `Text.qualityScoreSql`. */
  def qualityScore(s: UTF8String): java.lang.Double = {
    val st = docStats(s, 1)
    val n = st.tokens.toDouble
    if (st.tokens == 0) null
    else 0.5 * math.min(1.0, n / 100.0) + 0.3 * (st.distinctTokens.toDouble / n) +
      0.2 * (st.stopwordHits.toDouble / n)
  }

  def qualityScoreCol(text: Column): Column =
    ColumnBridge.column(QualityScore(ColumnBridge.expression(text)))

  def gopherFailedRulesCol(text: Column, rules: GopherRules): Column =
    ColumnBridge.column(GopherFailedRules(ColumnBridge.expression(text), rules))

  private[functions] def requireString(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires a string input, got ${other.catalogString}")
    }

  /** Shannon entropy (nats) of the `[a-z0-9]` character distribution of
    * lower(s): 36 count buckets in one byte pass, each term −p·ln p
    * rounded onto the 1e-9 long grid (BigDecimal HALF_UP — Spark round()
    * semantics, the GridVectorMean idiom) before the order-free integer
    * sum. Value-identical to the column/HOF formulation
    * `aggregate(transform(array_distinct(chars), ...))` — which
    * re-evaluates the char extraction once per DISTINCT char because the
    * array reference sits inside the lambda — and to the DuckDB list
    * mirror; this kernel is one pass. */
  def charEntropy(s: UTF8String): Double = {
    val src = scanSource(s)
    val n = src.numBytes()
    val base = src.getBaseObject
    val off = src.getBaseOffset
    val counts = new Array[Long](36)
    var total = 0L
    var i = 0
    while (i < n) {
      val b = lowerByte(Platform.getByte(base, off + i))
      if (b >= 'a' && b <= 'z') { counts(b - 'a') += 1; total += 1 }
      else if (b >= '0' && b <= '9') { counts(26 + (b - '0')) += 1; total += 1 }
      i += 1
    }
    if (total == 0L) return 0.0
    var acc = 0L
    var j = 0
    while (j < 36) {
      val c = counts(j)
      if (c > 0L) {
        val p = c.toDouble / total.toDouble
        acc += java.math.BigDecimal.valueOf(-p * math.log(p) * 1e9)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      }
      j += 1
    }
    acc.toDouble / 1e9
  }

  def charEntropyCol(text: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(text)))

  /** NFC-normalize (java.text.Normalizer, Unicode standard composition).
    * ASCII fast path: one byte scan, returns the INPUT UTF8String object
    * untouched — on a mostly-ASCII corpus the normalizer allocates
    * nothing, where the naive String round-trip would copy every row
    * twice. Spark ships no normalization builtin; this is the
    * ingest-time canonicalization step that makes hash-based dedup and
    * fingerprinting see 'é' and 'e'+U+0301 as the same document. */
  def nfc(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) {
        val str = s.toString
        return if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
        else UTF8String.fromString(
          java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s
  }

  def nfcCol(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  /** `levenshtein(a, b) <= k` WITHOUT the full O(n·m) DP: Ukkonen's
    * banded algorithm — cells farther than k off the diagonal can never
    * be ≤ k, so only a 2k+1-wide band is computed, with an early exit
    * the moment a whole row exceeds k. O(k·n) per pair versus O(n·m):
    * for fuzzy-join verification (millions of candidate pairs, small k)
    * the band IS the scale path, and the common reject case exits after
    * a handful of rows. Code-point semantics, matching the builtin
    * `levenshtein` (pinned by fuzz in `TextKernelsSpec`).
    *
    * Per-pair allocation matters as much as the DP bound: a verify join
    * evaluates this kernel Σ|block|² times (hundreds of millions at
    * scale), so the length gate runs BEFORE any conversion (`numChars`
    * scans, allocates nothing) and the all-ASCII common case fills its
    * code-point array straight from the UTF-8 bytes — no String, no
    * stream — the sf1 rehearsal measured the String round-trip as the
    * top of the profile, not the band itself. */
  def editWithin(a: UTF8String, b: UTF8String, k: Int): Boolean = {
    if (math.abs(a.numChars - b.numChars) > k) return false
    val s = codePointArray(a)
    val t = codePointArray(b)
    val n = s.length
    val m = t.length
    if (k == 0) return java.util.Arrays.equals(s, t)
    val inf = k + 1
    val width = 2 * k + 1
    var prev = new Array[Int](width)
    var curr = new Array[Int](width)
    var c = 0
    while (c < width) {
      val j = c - k
      prev(c) = if (j >= 0 && j <= m) j else inf
      c += 1
    }
    var i = 1
    while (i <= n) {
      var rowMin = inf
      c = 0
      while (c < width) {
        val j = i - k + c
        val v =
          if (j < 0 || j > m) inf
          else if (j == 0) i
          else {
            val del = if (c + 1 < width) prev(c + 1) + 1 else inf
            val ins = if (c > 0) curr(c - 1) + 1 else inf
            val sub = prev(c) + (if (s(i - 1) == t(j - 1)) 0 else 1)
            math.min(del, math.min(ins, sub))
          }
        curr(c) = if (v > inf) inf else v
        if (curr(c) < rowMin) rowMin = curr(c)
        c += 1
      }
      if (rowMin > k) return false
      val tmp = prev; prev = curr; curr = tmp
      i += 1
    }
    val cEnd = m - n + k
    cEnd >= 0 && cEnd < width && prev(cEnd) <= k
  }

  /** Code points of a UTF8String without the String/stream round-trip:
    * the all-ASCII case (every byte ≥ 0) copies bytes directly. */
  private def codePointArray(u: UTF8String): Array[Int] = {
    val nb = u.numBytes()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    var i = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) < 0)
        return u.toString.codePoints().toArray
      i += 1
    }
    val out = new Array[Int](nb)
    i = 0
    while (i < nb) {
      out(i) = Platform.getByte(base, off + i)
      i += 1
    }
    out
  }

  def editWithinCol(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(EditWithin(ColumnBridge.expression(a),
      ColumnBridge.expression(b), k))
}

/** One-pass token count (≡ size(regexp_extract_all(lower(text),
  * '[a-z0-9]+'))), allocation-free on ASCII input. */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_token_count"

  override def nullSafeEval(input: Any): Any =
    TextKernels.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** Word n-grams of lower(text) in one scan — `Text.tokens` (n = 1) and
  * `Text.shingles`. Same type as `regexp_extract_all` (array<string>,
  * nullable elements) and the same results, null input included. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1: $n")

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = if (n == 1) "graft_tokens" else "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** `Text.qualityScore` in one scan; null for a text with no token. */
case class QualityScore(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_quality_score"

  override def nullSafeEval(input: Any): Any =
    TextKernels.qualityScore(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("score")
      s"""
         |java.lang.Double $tmp = graft.functions.TextKernels.qualityScore($c);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $tmp.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** The Gopher quality rules of `Curation.gopherRules` (Rae et al. 2021
  * §A1) over one document's [[TextKernels.DocStats]]. Every rule compares
  * the same integer ratio, computed in double in the same order, as the
  * column formulation did, so verdicts are bit-identical to it and to the
  * DuckDB mirror. */
final case class GopherRules(
    minWords: Int, maxWords: Int, minMeanLen: Double, maxMeanLen: Double,
    maxSymbolRatio: Double, minStopwordHits: Int, maxDupGramFrac: Double,
    dupGramN: Int) {
  require(dupGramN >= 1, s"dupGramN must be >= 1: $dupGramN")

  /** Names of the failed rules, comma-joined in the fixed order
    * word_count, mean_word_length, symbol_ratio, stopword_hits,
    * dup_gram_frac; "" when all pass. Length-derived rules pass vacuously
    * on a text with no token. */
  def failed(s: UTF8String): UTF8String = {
    val st = TextKernels.docStats(s, dupGramN)
    val n = st.tokens
    val out = new java.util.StringJoiner(",")
    if (n < minWords || n > maxWords) out.add("word_count")
    if (n > 0) {
      val meanLen = st.tokenChars.toDouble / n.toDouble
      if (meanLen < minMeanLen || meanLen > maxMeanLen) out.add("mean_word_length")
      if (st.symbols.toDouble / n.toDouble > maxSymbolRatio) out.add("symbol_ratio")
    }
    if (st.stopwordHits < minStopwordHits) out.add("stopword_hits")
    val gt = st.grams
    if (gt > 0 && (gt - st.distinctGrams).toDouble / gt.toDouble > maxDupGramFrac)
      out.add("dup_gram_frac")
    UTF8String.fromString(out.toString)
  }
}

/** `failed_rules` of `Curation.gopherRules` in one scan. A null text
  * fails no rule (""), as in the column formulation, whose rule
  * conditions are all null there. */
case class GopherFailedRules(child: Expression, rules: GopherRules) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gopher_failed_rules"

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => UTF8String.EMPTY_UTF8
    case s => rules.failed(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("gopherRules", rules, classOf[GopherRules].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${c.isNull} ? UTF8String.EMPTY_UTF8 : $r.failed(${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherFailedRules =
    copy(child = newChild)
}

/** One-pass alnum-char Shannon entropy on the 1e-9 long grid — see
  * `TextKernels.charEntropy`. */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_char_entropy"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charEntropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** Unicode NFC normalization with an allocation-free ASCII fast path
  * (≡ DuckDB `nfc_normalize`; Spark has no builtin equivalent). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(prettyName, child)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Banded threshold edit distance (≡ `levenshtein(a, b) <= k`), O(k·n)
  * with early exit — the fuzzy-join verification kernel. */
case class EditWithin(left: Expression, right: Expression, k: Int)
  extends BinaryExpression {
  require(k >= 0 && k <= 64, "edit threshold k must be in [0, 64]")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_edit_within"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.editWithin(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextKernels.editWithin($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditWithin =
    copy(left = newLeft, right = newRight)
}
