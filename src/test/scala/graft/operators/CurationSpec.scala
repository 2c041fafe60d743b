package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "a"),
      (2L, "the quick brown fox sat on a mat today ok", "a"),
      (3L, "completely different content here now folks", "b"),
      (4L, "one", "b"), // single token: no 2/3-grams
      (5L, "", "b"))
      .toDF("doc_id", "text", "source")
  }

  test("contamination counts shared distinct shingles against the benchmark") {
    // benchmark = doc 1; corpus = docs 2,3 (4,5 have no trigrams and drop)
    val out = Curation.contamination(
      corpus = docs.filter(col("doc_id") > 1),
      benchmark = docs.filter(col("doc_id") === 1), n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 2 shares exactly "the quick brown" and "quick brown fox" with doc 1
    assert(out(2L)._1 == 8 && out(2L)._2 == 2 && out(2L)._3 == 0.25)
    assert(out(3L) == ((4L, 0L, 0.0)))
    assert(!out.contains(4L) && !out.contains(5L))
  }

  test("documentFrequency finds shingles shared across documents") {
    val df = Curation.documentFrequency(docs, n = 2, minDf = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("the quick" -> 2L, "quick brown" -> 2L, "brown fox" -> 2L))
  }

  test("repetitionStats: duplicate-2-gram fraction, degenerate docs → null") {
    val s = spark
    import s.implicits._
    val out = Curation.repetitionStats(
      Seq((1L, "a b a b a"), (2L, "one"), (3L, "")).toDF("doc_id", "text"), n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // grams: [a b, b a, a b, b a] → 4 total, 2 distinct, dup_frac 0.5
    assert(out(1L).getInt(1) == 4 && out(1L).getInt(2) == 2 && out(1L).getDouble(3) == 0.5)
    assert(out(2L).getInt(1) == 0 && out(2L).isNullAt(3))
    assert(out(3L).getInt(1) == 0 && out(3L).isNullAt(3))
  }

  test("stratifiedSample is deterministic, honors rate 1 and drops unlisted groups") {
    val rates = Map("a" -> 1.0, "c" -> 0.5) // "b" unlisted → dropped
    val once = Curation.stratifiedSample(docs, rates, "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Curation.stratifiedSample(docs.repartition(7), rates, "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again) // stable under repartition + re-run
    assert(once == Set(1L, 2L)) // all of "a" kept (u<1 always), all of "b" dropped
  }

  test("stratifiedSample is monotone in rate: raising a rate only adds documents") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def keep(r: Double) = Curation.stratifiedSample(
      real, (0 until 20).map(i => s"src$i" -> r).toMap, "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val lo = keep(0.2)
    val hi = keep(0.7)
    assert(lo.nonEmpty && lo.subsetOf(hi)) // u < r ⇒ monotone in r
    // the md5 uniform is roughly uniform: empirical rate lands in a loose band
    val n = real.count().toDouble
    assert(math.abs(hi.size / n - 0.7) < 0.1 && math.abs(lo.size / n - 0.2) < 0.1)
  }

  test("packSequences: concat-and-chunk assignment with straddle flags") {
    val s = spark
    import s.implicits._
    // token counts: 3, 4, 2, 5 — budget 5
    val corpus = Seq(
      (1L, "a b c", "x"),      // cum 0 → chunk 0
      (2L, "d e f g", "x"),    // cum 3 → chunk 0, 3+4>5 straddles
      (3L, "h i", "x"),        // cum 7 → chunk 1
      (4L, "j k l m n", "y"))  // own group: cum 0 → chunk 0, exactly fits
      .toDF("doc_id", "text", "source")
    val out = Curation.packSequences(corpus, budget = 5L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    assert(out == Map(1L -> ((0L, false)), 2L -> ((0L, true)),
      3L -> ((1L, false)), 4L -> ((0L, false))))
    val repart = Curation.packSequences(corpus.repartition(5), budget = 5L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(4), r.getBoolean(5)))).toMap
    assert(repart == out) // layout is repartition-stable
  }

  test("tfIdfTopK ranks rare terms above common ones, ties by term") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha alpha shared"),
      (2L, "beta shared"),
      (3L, "shared")).toDF("doc_id", "text")
    val out = Curation.tfIdfTopK(corpus, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
    val ln3 = BigDecimal(math.log(3.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: alpha tf=2 df=1 → 2·ln(3); shared tf=1 df=3 → ln(1)=0
    assert(out((1L, 1)) == (("alpha", 2.0 * ln3)))
    assert(out((1L, 2)) == (("shared", 0.0)))
    assert(out((2L, 1)) == (("beta", ln3)))
    assert(out((3L, 1)) == (("shared", 0.0)))
    assert(!out.contains((3L, 2)))
  }

  test("deterministicShuffle is a permutation: contiguous positions, stable, salt-sensitive") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).toDF("id")
    val out = Curation.deterministicShuffle(df, "id", nShards = 4, salt = "e1")
    assert(out.count() === 300)
    // every shard's positions are exactly 1..n_shard
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("nd"))
      .collect()
    assert(byShard.length === 4)
    byShard.foreach { r =>
      assert(r.getAs[Long]("mn") === 1L)
      assert(r.getAs[Int]("mx").toLong === r.getAs[Long]("n"))
      assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
    }
    // repartition-stable
    val again = Curation.deterministicShuffle(df.repartition(7), "id", 4, "e1")
    assert(out.orderBy("shard", "pos").collect().toSeq ===
      again.orderBy("shard", "pos").collect().toSeq)
    // a different salt yields a different permutation
    val other = Curation.deterministicShuffle(df, "id", 4, "e2")
    val a = out.orderBy("shard", "pos").select("id").as[Long].collect().toSeq
    val b = other.orderBy("shard", "pos").select("id").as[Long].collect().toSeq
    assert(a !== b)
  }

  test("uniformSamplePerGroup: exactly k per group, repartition-stable") {
    val s = spark
    import s.implicits._
    val df = (1L to 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "source")
    val out = Curation.uniformSamplePerGroup(df, 5, "source")
    val byGroup = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup === Map("g0" -> 5L, "g1" -> 5L, "g2" -> 5L))
    // same sample regardless of input partitioning
    val again = Curation.uniformSamplePerGroup(df.repartition(11), 5, "source")
    assert(out.orderBy("source", "sample_rank").collect().toSeq ===
      again.orderBy("source", "sample_rank").collect().toSeq)
    // small groups yield all their rows
    val tiny = Seq((1L, "g"), (2L, "g")).toDF("doc_id", "source")
    assert(Curation.uniformSamplePerGroup(tiny, 5, "source").count() === 2L)
  }

  test("capPerGroupAgg equals the window formulation of the same hash rank") {
    val s = spark
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val df = (1L to 500L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "source")
    val agg = Curation.capPerGroupAgg(df, 6, "source")
    // window twin over the identical portable 40-bit key
    val h40 = pmod(graft.functions.Seeds.portableHash64(
      concat(lit("cap|"), col("doc_id").cast("string"))), lit(1099511627776L))
    val win = df.withColumn("__h", h40)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))).cast("long"))
      .filter(col("sample_rank") <= 6)
      .select(col("source"), col("sample_rank"), col("doc_id"))
    assert(agg.orderBy("source", "sample_rank").collect().toSeq ===
      win.orderBy("source", "sample_rank").collect().toSeq)
    // repartition-stable; small groups yield all rows, ranks contiguous
    val again = Curation.capPerGroupAgg(df.repartition(13), 6, "source")
    assert(agg.orderBy("source", "sample_rank").collect().toSeq ===
      again.orderBy("source", "sample_rank").collect().toSeq)
    val tiny = Seq((1L, "g"), (2L, "g")).toDF("doc_id", "source")
    val t = Curation.capPerGroupAgg(tiny, 5, "source")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(t === Seq(1L, 2L))
  }

  test("xxhash64 production twins (portable = false): same contracts, different permutation") {
    val s = spark
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val df = (1L to 500L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "source")
    // capPerGroupAgg: equals the window twin over the identical xxhash64
    // 40-bit key, repartition-stable, and ≠ the md5 sample
    val fast = Curation.capPerGroupAgg(df, 6, "source", portable = false)
    val h40 = pmod(xxhash64(concat(lit("cap|"), col("doc_id").cast("string"))),
      lit(1099511627776L))
    val win = df.withColumn("__h", h40)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))).cast("long"))
      .filter(col("sample_rank") <= 6)
      .select(col("source"), col("sample_rank"), col("doc_id"))
    assert(fast.orderBy("source", "sample_rank").collect().toSeq ===
      win.orderBy("source", "sample_rank").collect().toSeq)
    val fastAgain = Curation.capPerGroupAgg(df.repartition(13), 6, "source", portable = false)
    assert(fast.orderBy("source", "sample_rank").collect().toSeq ===
      fastAgain.orderBy("source", "sample_rank").collect().toSeq)
    assert(fast.orderBy("source", "sample_rank").select("doc_id").as[Long].collect().toSeq !==
      Curation.capPerGroupAgg(df, 6, "source")
        .orderBy("source", "sample_rank").select("doc_id").as[Long].collect().toSeq)
    // deterministicShuffle: still a permutation with contiguous positions,
    // repartition-stable, and ≠ the md5 permutation
    val ids = (1L to 300L).toDF("id")
    val sh = Curation.deterministicShuffle(ids, "id", 4, "e1", portable = false)
    assert(sh.count() === 300)
    sh.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), countDistinct("pos").as("nd"))
      .collect().foreach { r =>
        assert(r.getAs[Int]("mx").toLong === r.getAs[Long]("n"))
        assert(r.getAs[Long]("nd") === r.getAs[Long]("n"))
      }
    val shAgain = Curation.deterministicShuffle(ids.repartition(7), "id", 4, "e1", portable = false)
    assert(sh.orderBy("shard", "pos").collect().toSeq ===
      shAgain.orderBy("shard", "pos").collect().toSeq)
    assert(sh.orderBy("shard", "pos").select("id").as[Long].collect().toSeq !==
      Curation.deterministicShuffle(ids, "id", 4, "e1")
        .orderBy("shard", "pos").select("id").as[Long].collect().toSeq)
  }

  test("ngramNovelty: df==1 grams over distinct grams, short docs drop") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d"),       // grams: "a b c","b c d" — "a b c" shared with doc 2
      (2L, "a b c x"),       // grams: "a b c","b c x"
      (3L, "one two"),       // no trigrams → drops
      (4L, "p q r p q r")).toDF("doc_id", "text") // 4 grams, 3 distinct, all unique to doc 4
    val out = Curation.ngramNovelty(d, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(!out.contains(3L))
    assert(out(4L) === ((3L, 3L, 1.0)))
  }

  test("incrementalNew dedups within the batch and against the corpus") {
    val s = spark
    import s.implicits._
    val batch = Seq((10L, "AAA"), (11L, "AAA"), (12L, "BBB"), (13L, "CCC"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, "BBB"), (2L, "DDD")).toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(batch, corpus, Dedup.digest(col("text")))
      .collect().map(_.getLong(0)).sorted.toSeq
    // AAA → representative 10 (11 is an in-batch dup); BBB already in corpus; CCC new
    assert(kept === Seq(10L, 13L))
  }

  test("dedupLines drops corpus-frequent lines, preserves order, counts removals") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "cookie banner\nreal content one\nfooter"),
      (2L, "cookie banner\nreal content two\nfooter"),
      (3L, "cookie banner\nunique thought"),
      (4L, "footer\ncookie banner")) // all-boilerplate doc → empty rewrite
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(d, minDf = 3L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "cookie banner" df=4 and "footer" df=3 are hot; content lines df=1 survive
    assert(out(1L) === (("real content one", 2L, 3L)))
    assert(out(2L) === (("real content two", 2L, 3L)))
    assert(out(3L) === (("unique thought", 1L, 2L)))
    assert(out(4L) === (("", 2L, 2L)))
  }

  test("dedupLines keeps multi-line survivors in original order; minDf above max df is a no-op") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "z last\nshared\na first\nshared"),
      (2L, "shared\nmiddle"),
      (3L, "shared"))
      .toDF("doc_id", "text")
    val out = Curation.dedupLines(d, minDf = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "shared" (df=3, twice in doc 1) drops everywhere; survivors keep document order
    assert(out(1L) === "z last\na first")
    assert(out(2L) === "middle")
    assert(out(3L) === "")
    val noop = Curation.dedupLines(d, minDf = 4L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(noop === Seq((1L, "z last\nshared\na first\nshared", 0L),
      (2L, "shared\nmiddle", 0L), (3L, "shared", 0L)))
  }

  test("dedupLines xxhash64 production twin matches the md5 oracle form") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "hot\nalpha"), (2L, "hot\nbeta"), (3L, "hot\ngamma"))
      .toDF("doc_id", "text")
    val a = Curation.dedupLines(d, minDf = 2L, portable = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    val b = Curation.dedupLines(d, minDf = 2L, portable = false)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(a === b)
    assert(a.map(_._2) === Seq("alpha", "beta", "gamma"))
  }

  test("temperatureSample flattens toward low-resource groups; α=1 is proportional") {
    val s = spark
    import s.implicits._
    val d = (1L to 300L).map(i => (i, if (i <= 270) "big" else "small"))
      .toDF("doc_id", "source")
    val out = Curation.temperatureSample(d, alpha = 0.5, targetTotal = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rates = out.groupBy(_._2).map { case (g, rs) => g -> rs.head._3 }
    // α=0.5: shares ∝ √n, so the small group keeps a HIGHER per-doc rate
    assert(rates("small") > rates("big"), s"rates: $rates")
    // deterministic and repartition-stable
    val out2 = Curation.temperatureSample(d.repartition(7), alpha = 0.5, targetTotal = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSet === out2.toSet)
    // α=1 degenerates to proportional sampling: one uniform rate T/N
    val u = Curation.temperatureSample(d, alpha = 1.0, targetTotal = 100)
      .collect().map(_.getDouble(2)).distinct
    assert(u.length === 1, s"expected one uniform rate, got ${u.toSeq}")
  }

  test("gopherRules: each rule fires on its own pathology; clean prose passes") {
    val s = spark
    import s.implicits._
    val clean = "the cat and the dog ran over to the big house " +
      "and it was good for all of them in every way today" // 24 words, stopword-rich
    val d = Seq(
      (1L, clean),
      (2L, "word"),                                        // too short + no stopwords
      (3L, clean + " " + Seq.fill(40)("supercalifragilistic").mkString(" ")), // long words + rep
      (4L, "the of " + Seq.fill(11)("!!! ???").mkString(" ") + " it is a to in on and for"), // symbols
      (5L, "the cat " + Seq.fill(30)("is a is a").mkString(" ")), // duplicate grams
      (6L, ""))
      .toDF("doc_id", "text")
    val out = Curation.gopherRules(d, minWords = 5, maxWords = 60,
        minMeanLen = 2.0, maxMeanLen = 8.0)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(out(1L) === (("", true)))
    assert(out(2L)._1.contains("word_count") && out(2L)._1.contains("stopword_hits"))
    assert(out(3L)._1.contains("word_count") && out(3L)._1.contains("mean_word_length")
      && out(3L)._1.contains("dup_gram_frac"))
    assert(out(4L)._1 === "symbol_ratio")
    assert(out(5L)._1.contains("dup_gram_frac") && out(5L)._1.contains("word_count"))
    assert(out(6L) === (("word_count,stopword_hits", false))) // length rules pass vacuously
    assert(out.values.count(_._2) === 1)
  }

  test("gopherRules: a null text fails no rule and has a null n_tok") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
    val out = Curation.gopherRules(d).orderBy("doc_id").collect()
    assert(out(0).isNullAt(1) && out(0).getString(2) === "" && out(0).getBoolean(3))
    assert(out(1).getLong(1) === 0L && !out(1).getBoolean(3))
  }

  test("zipfFit recovers the exponent of a synthetic Zipf corpus; uniform is flat") {
    val s = spark
    import s.implicits._
    // exact Zipf: token w_r appears floor(1000/r) times, r = 1..50
    val zipf = (1 to 50).flatMap(r => Seq.fill(1000 / r)(f"w$r%03d"))
    val d1 = Seq((1L, zipf.mkString(" "))).toDF("doc_id", "text")
    val fit = Curation.zipfFit(d1).collect()(0)
    assert(fit.getLong(0) === 50L)
    val alpha = fit.getDouble(1)
    assert(alpha > 0.9 && alpha < 1.1, s"expected α≈1, got $alpha")
    // uniform frequencies: slope 0
    val uni = (1 to 50).flatMap(r => Seq.fill(20)(f"u$r%03d"))
    val d2 = Seq((1L, uni.mkString(" "))).toDF("doc_id", "text")
    val a2 = Curation.zipfFit(d2).collect()(0).getDouble(1)
    assert(math.abs(a2) < 1e-9, s"uniform corpus must fit α=0, got $a2")
    // partitioning-invariant (decimal moments are order-free)
    val d3 = zipf.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val whole = Curation.zipfFit(d3).collect()(0)
    val parts = Curation.zipfFit(d3.repartition(13)).collect()(0)
    assert(whole.getDouble(1) === parts.getDouble(1) &&
      whole.getDouble(2) === parts.getDouble(2))
  }

  test("tokenBudgetSample cuts each group at the budget along the hash permutation") {
    val s = spark
    import s.implicits._
    val d = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else "b", Seq.fill(5)("tok").mkString(" "))) // 5 tokens each
      .toDF("doc_id", "source", "text")
    val out = Curation.tokenBudgetSample(d, budgetTokens = 23)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // 5-token docs against a 23-token budget: exactly 4 kept per group
    assert(out.count(_._2 == "a") === 4 && out.count(_._2 == "b") === 4)
    assert(out.forall(_._4 <= 23) && out.forall(_._3 === 5L))
    // deterministic and repartition-stable
    val out2 = Curation.tokenBudgetSample(d.repartition(7), budgetTokens = 23)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === out2.toSet)
    // zero budget keeps nothing
    assert(Curation.tokenBudgetSample(d, budgetTokens = 0).count() === 0)
  }

  test("repeatUpsample: integer factors repeat exactly; fractional factors split deterministically") {
    val s = spark
    import s.implicits._
    val d = (1L to 100L).map(i => (i, "x")).toDF("doc_id", "source")
    // f = 3.0: exactly 3 copies of every row, copy_idx 1..3
    val exact = Curation.repeatUpsample(d, factor = lit(3.0))
      .groupBy("doc_id").count().collect().map(_.getLong(1)).distinct.toSeq
    assert(exact === Seq(3L))
    // f = 2.5: every row 2 or 3 copies; deterministic across partitionings
    val frac = Curation.repeatUpsample(d, factor = lit(2.5))
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frac.values.forall(n => n == 2L || n == 3L))
    val n3 = frac.values.count(_ == 3L)
    assert(n3 > 25 && n3 < 75, s"~half should draw the extra epoch, got $n3/100")
    val frac2 = Curation.repeatUpsample(d.repartition(9), factor = lit(2.5))
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frac2 === frac)
    // f < 1 downsamples; f = 0 drops everything
    val down = Curation.repeatUpsample(d, factor = lit(0.25)).count()
    assert(down > 10 && down < 40, s"got $down")
    assert(Curation.repeatUpsample(d, factor = lit(0.0)).count() === 0)
  }

  test("dsirWeights up-weights documents that look like the target subset") {
    val s = spark
    import s.implicits._
    // target = "sci" docs share a vocabulary; "web" docs share another;
    // the probe doc 7 uses sci vocabulary, probe 8 uses web vocabulary
    val d = Seq(
      (1L, "quantum electron proton neutrino boson", "sci"),
      (2L, "electron quantum boson photon spin", "sci"),
      (3L, "click here buy now free offer", "web"),
      (4L, "free offer click subscribe now deal", "web"),
      (7L, "quantum boson electron", "web"),
      (8L, "click free offer", "web"))
      .toDF("doc_id", "text", "kind")
    val w = Curation.dsirWeights(d, target = col("kind") === "sci", dims = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size === 6)
    // per-token average so lengths don't dominate: sci-voc probe must
    // score above web-voc probe
    assert(w(7L) / 3 > w(8L) / 3, s"weights: $w")
    // absolute signs shift with the smoothing mass on a tiny corpus;
    // the ORDER target-like > mixed > target-unlike is the contract
    assert(w(1L) > w(3L) && w(2L) > w(4L), s"weights: $w")
  }

  test("dsirWeights is partitioning-invariant bit-for-bit and drops empty docs") {
    val s = spark
    import s.implicits._
    val rows = (1L to 40L).map(i =>
      (i, if (i % 7 == 0) "" else s"tok${i % 5} tok${i % 3} common word${i % 11}", i % 4 == 0))
    val runs = Seq(1, 3, 8).map { p =>
      val d = s.sparkContext.parallelize(rows, p).toDF("doc_id", "text", "t")
      Curation.dsirWeights(d, target = col("t"), dims = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(runs.distinct.size === 1, "weights depend on partitioning")
    assert(!runs.head.contains(7L) && !runs.head.contains(14L), "empty docs must drop")
    assert(runs.head.size === rows.count(_._2.nonEmpty))
  }
}
