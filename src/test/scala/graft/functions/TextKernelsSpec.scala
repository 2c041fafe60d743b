package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

class TextKernelsSpec extends SparkSpec {
  import TextKernelsSpec._

  /** `t` and `arr = [t]`: a kernel over `t` runs in whole-stage codegen,
    * one inside `transform(arr, ...)` runs interpreted (lambda bodies are
    * evaluated row by row). Two partitions keep Catalyst from folding the
    * rows into constants. */
  private def texts(ts: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ts.map(t => Row(t, Seq(t))), 2),
      StructType(Seq(StructField("t", StringType), StructField("arr", ArrayType(StringType)))))

  private lazy val corpus = texts(EdgeTexts ++ fuzz(17, 400))

  /** Kernel at top level (codegen) and in a lambda (interpreted) next to
    * the reference; every row must give the reference's value on both. */
  private def assertIdentity(what: String, kernel: Column => Column, reference: Column => Column,
                             same: (Any, Any) => Boolean = _ == _): Unit = {
    val df = corpus.select(col("t"), kernel(col("t")).as("k"),
      transform(col("arr"), kernel(_)).getItem(0).as("i"), reference(col("t")).as("r"))
    assert(df.schema("k").dataType === df.schema("r").dataType, what)
    val rows = df.collect()
    assert(df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]), what)
    assert(rows.length === EdgeTexts.size + 400)
    for (r <- rows) {
      assert(same(r.get(1), r.get(3)), s"$what codegen on '${r.getString(0)}': ${r.get(1)} vs ${r.get(3)}")
      assert(same(r.get(2), r.get(3)), s"$what interpreted on '${r.getString(0)}': ${r.get(2)} vs ${r.get(3)}")
    }
  }

  test("tokens and shingles ≡ the regex / zip_with chain, codegen and interpreted, same type") {
    assertIdentity("tokens", Text.tokens, refTokens)
    for (n <- Seq(1, 2, 3, 5))
      assertIdentity(s"shingles($n)", Text.shingles(_, n), refShingles(_, n))
  }

  test("qualityScore ≡ the column arithmetic bit for bit; null without tokens") {
    assertIdentity("qualityScore", Text.qualityScore,
      t => when(size(refTokens(t)) > 0, refQualityScore(t)), sameDouble)
  }

  test("gopherRules' failed rules ≡ the column formulation, every rule exercised") {
    val loose = GopherRules(3, 40, 2.0, 6.0, 0.05, 1, 0.1, 2)
    val all = Seq(
      GopherRules(50, 100000, 3.0, 10.0, 0.1, 2, 0.2, 2), // Curation.gopherRules' defaults
      loose, loose.copy(dupGramN = 1), loose.copy(dupGramN = 3, maxDupGramFrac = 0.0))
    for (g <- all) assertIdentity(s"gopher $g",
      TextKernels.gopherFailedRulesCol(_, g), refGopherFailed(_, g))
    // the loose rules fire each rule somewhere in the corpus, and pass some texts
    val fired = corpus.select(TextKernels.gopherFailedRulesCol(col("t"), loose))
      .collect().flatMap(_.getString(0).split(",")).toSet
    assert(fired === Set("", "word_count", "mean_word_length", "symbol_ratio",
      "stopword_hits", "dup_gram_frac"))
  }

  test("texts with no token: ratio features are null, not a divide-by-zero error") {
    val df = texts(Seq("", "!!! ???", null, "ok fine"))
    val got = df.select(Text.qualityScore(col("t")), Text.typeTokenRatio(col("t")),
      Text.stopwordRatio(col("t"), Text.EnglishStopwords), Text.meanTokenLength(col("t")))
      .collect().map(_.toSeq)
    assert(got.take(3).forall(_.forall(_ == null)), got.map(_.mkString(",")).mkString("; "))
    assert(got(3) === Seq(0.5 * 0.02 + 0.3 * 1.0 + 0.2 * 0.0, 1.0, 0.0, 3.0))
  }

  test("TokenCount ≡ size(regexp_extract_all(lower(text), '[a-z0-9]+'))") {
    assertIdentity("tokenCount", Text.tokenCount, t => size(refTokens(t)))
    val s = spark
    import s.implicits._
    val cases = Seq(
      "hello world", "  a  b  c ", "", "   ", "UPPER lower MiXeD",
      "num8er5 42", "-punct,only.!", "a", "trailing space ", " leading",
      "tab\tand\nnewline", "unicode: héllo wörld θ δ", "日本語テキスト abc",
      "Kelvin K sign", // U+212A lowercases to 'k' — a real token
      "dotted İ capital I", // U+0130 lowers to i + combining dot
      "a1b2c3", "___under__score___", "ütf8 ümläuts", "mixed日本abc語def")
    val df = cases.toDF("t")
    val out = df.select(
      TextKernels.tokenCountCol(col("t")).as("native"),
      size(regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)))
        .as("builtin"),
      col("t"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"mismatch on '${r.getString(2)}'")
    }
  }

  test("TokenCount agrees with the regex chain on random ASCII+unicode fuzz") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val alphabet = "abcXYZ019 .,-\t\né語θ"
    val cases = Seq.fill(300)(
      (1 to rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val bad = cases.toDF("t").select(
      TextKernels.tokenCountCol(col("t")).as("a"),
      size(regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0))).as("b"),
      col("t"))
      .filter(col("a") =!= col("b")).collect()
    assert(bad.isEmpty, bad.map(_.getString(2)).mkString("; "))
  }

  test("TokenCount stays inside whole-stage codegen") {
    val s = spark
    val df = s.range(10).select(concat(lit("word "), col("id")).as("t"))
      .select(TextKernels.tokenCountCol(col("t")).as("n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"kernel fell out of codegen:\n$p")
  }

  test("nfc composes decomposed sequences and round-trips composed input") {
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = UTF8String.fromString("cafe\u0301") // e + combining acute
    assert(TextKernels.nfc(decomposed).toString === "caf\u00e9")
    // already-NFC non-ASCII input comes back value-equal
    val composed = UTF8String.fromString("caf\u00e9 \u8a9e")
    assert(TextKernels.nfc(composed) === composed)
  }

  test("nfc ASCII fast path returns the input object without allocation") {
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain ascii text 123")
    assert(TextKernels.nfc(ascii) eq ascii) // reference equality: no copy
  }

  test("nfcCol matches java.text.Normalizer on mixed fuzz and keeps codegen") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "a\u00e9\u00f6 xyze\u0301n\u0303\u8a9e"
    val cases = Seq.fill(200)(
      (0 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    // repartition: keeps Catalyst from constant-folding the local relation
    // so the codegen assertion below sees a real projection
    val df = cases.toDF("t").repartition(2)
      .select(col("t"), TextKernels.nfcCol(col("t")).as("n"))
    df.collect().foreach { r =>
      val expect = java.text.Normalizer.normalize(r.getString(0), java.text.Normalizer.Form.NFC)
      assert(r.getString(1) === expect)
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"kernel fell out of codegen:\n$p")
  }

  test("editWithin ≡ levenshtein(a,b) <= k on random fuzz, all k") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val alphabet = "abcde 語é"
    def word() = (0 to rnd.nextInt(14)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = Seq.fill(400)((word(), word()))
    for (k <- Seq(0, 1, 2, 5)) {
      val bad = pairs.toDF("a", "b")
        .select(col("a"), col("b"),
          TextKernels.editWithinCol(col("a"), col("b"), k).as("band"),
          (levenshtein(col("a"), col("b")) <= k).as("full"))
        .filter(col("band") =!= col("full")).collect()
      assert(bad.isEmpty, s"k=$k: " +
        bad.take(3).map(r => s"'${r.getString(0)}' vs '${r.getString(1)}'").mkString("; "))
    }
  }

  test("graft_edit_within early-exits: huge strings with distant prefixes stay fast") {
    import org.apache.spark.unsafe.types.UTF8String
    val a = UTF8String.fromString("x" * 100000)
    val b = UTF8String.fromString("y" * 100000)
    val t0 = System.nanoTime()
    assert(!TextKernels.editWithin(a, b, 3))
    // full DP would be 10^10 cells; the band exits after ~4 rows
    assert((System.nanoTime() - t0) / 1e6 < 200, "band did not early-exit")
  }

  test("graft_nfc is reachable from SQL") {
    val s = spark
    graft.plans.GraftExtensions.register(s)
    val out = s.sql("SELECT graft_nfc(concat('cafe', '\u0301')) AS n")
      .collect().head.getString(0)
    assert(out === "caf\u00e9")
  }
}

object TextKernelsSpec {

  // --- reference formulations: the builtin chains the kernels replaced ---

  def refTokens(t: Column): Column = regexp_extract_all(lower(t), lit("[a-z0-9]+"), lit(0))

  /** the token array zipped with its own shifted slices: `zip_with` pads
    * with nulls, `concat` propagates them, one filter drops the tail */
  def refShingles(text: Column, n: Int): Column = {
    val t = refTokens(text)
    val joined = (2 to n).foldLeft(t) { (acc, i) =>
      val shifted = slice(t, lit(i), greatest(size(t) - (i - 1), lit(0)))
      zip_with(acc, shifted, (x, y) => concat(x, lit(" "), y))
    }
    if (n == 1) t else filter(joined, s => s.isNotNull)
  }

  def refQualityScore(text: Column): Column = {
    val t = refTokens(text)
    val nTok = size(t).cast("double")
    lit(0.5) * least(lit(1.0), nTok / 100.0) +
      lit(0.3) * (size(array_distinct(t)).cast("double") / size(t)) +
      lit(0.2) * (size(filter(t, w => w.isInCollection(Text.EnglishStopwords))).cast("double") / size(t))
  }

  def refGopherFailed(text: Column, g: GopherRules): Column = {
    val toks = refTokens(text)
    val n = size(toks)
    // the divisor is null, not 0, on a text with no token: whole-stage
    // codegen hoists this subexpression (used twice below) out of its
    // `n > 0 &&` guard, and ANSI division by 0 throws
    val meanLen = aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      nullif(n, lit(0))
    val symbols = length(regexp_replace(lower(text), "[a-z0-9 \\t\\n\\x0B\\f\\r]", ""))
    val stops = size(filter(toks, w => w.isInCollection(Text.EnglishStopwords)))
    val sh = refShingles(text, g.dupGramN)
    val (gt, gd) = (size(sh), size(array_distinct(sh)))
    concat_ws(",",
      when(n < g.minWords || n > g.maxWords, lit("word_count")),
      when(n > 0 && (meanLen < g.minMeanLen || meanLen > g.maxMeanLen), lit("mean_word_length")),
      when(n > 0 && symbols.cast("double") / n.cast("double") > g.maxSymbolRatio, lit("symbol_ratio")),
      when(stops < g.minStopwordHits, lit("stopword_hits")),
      when(gt > 0 && (gt - gd).cast("double") / gt.cast("double") > g.maxDupGramFrac,
        lit("dup_gram_frac")))
  }

  def sameDouble(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  private val prose = "The cat and the dog ran over to the big house, and it was good " +
    "for all of them; in every way it was a fine day. "

  /** null, empty, no-token, short, case-mapping, separator and long inputs */
  val EdgeTexts: Seq[String] = Seq(
    null, "", "   ", "!!! ???", "-punct,only.!", "one", "two words", "a b c",
    "the quick brown fox jumps over lazy dogs",
    "Kelvin \u212A sign \u212Aelvin", // U+212A lowers to the token byte 'k'
    "dotted \u0130stanbul capital \u0130", // U+0130 lowers to 'i' + U+0307
    "caf\u00e9 na\u00efve r\u00e9sum\u00e9 \u00fcber stra\u00dfe", // accents split tokens
    "\u00c9COLE \u00c0 la MAISON", "digits 123 4567 89x0 x1y2 3z 007",
    "tab\tand\nnewline\u000Bvt\fff\rcr  two  spaces", "\u65e5\u672c\u8a9e abc \u8a9edef",
    "emoji \ud83d\ude00 between \ud83d\ude00tokens", "UPPER lower MiXeD", "a1b2c3 ___under__score___",
    "the the the the the the the", "is a is a is a is a is a",
    prose, prose * 3, ("w" * 30 + " ") * 5,
    (1 to 1200).map(i => s"tok${i % 97}").mkString(" ")) // > 1,000 tokens

  private val alphabet: IndexedSeq[String] =
    ("abcxyzABCXYZ0189".map(_.toString) ++
      Seq(" ", " ", " ", "\t", "\n", "\u000B", ".", ",", "!", "-", "'", "\u00e9", "\u00c9", "\u00df",
        "\u03b8", "\u0394", "\u8a9e", "\u212A", "\u0130", "\u0301", "\ud83d\ude00") ++
      Seq("the", "a", "and", "of", "it", "is", "The", "AND")).toIndexedSeq

  /** random unicode texts: letters, digits, whitespace, punctuation,
    * accents, Greek, CJK, the two case-mapping specials, a combining mark,
    * an astral emoji and stopwords, 0 to 80 symbols each */
  def fuzz(seed: Int, count: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(count)((1 to rnd.nextInt(81)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString)
  }
}
