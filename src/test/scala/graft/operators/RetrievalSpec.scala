package graft.operators

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.functions._

/** Retrieval operators vs straight-line Scala reimplementations on a
  * corpus small enough to compute by hand. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark shuffles the big table and the small table"),
    (2L, "merge sort merge join window"),
    (3L, "window window window spark"),
    (4L, "nothing relevant here at all"),
    (5L, "spark spark spark merge")
  ).toDF("doc_id", "text")

  private def toksOf(t: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq

  private def round9(x: Double): BigDecimal =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)

  /** One token ("the") in every document — the hottest window group a
    * scoring operator can see — plus empty texts: (doc_id, text, y, tr). */
  private val hotTokenCorpus = (1L to 60L).map { i =>
    val body = if (i % 7 == 0) "" else s"the w${i % 5} the x${i % 11} the"
    (i, body, i % 3 == 0, i % 4 != 0)
  }

  test("bm25 matches the textbook formula") {
    val terms = Seq("spark", "merge", "window")
    val (k1, b) = (1.2, 0.75)
    val corpus = docs.as[(Long, String)].collect().toSeq
    val dls = corpus.map { case (id, t) => id -> toksOf(t).size }.toMap
    val n = corpus.size.toDouble
    val avgdl = dls.values.sum.toDouble / n
    val dfs = terms.map(t => t -> corpus.count(d => toksOf(d._2).contains(t))).toMap

    def round6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = corpus.flatMap { case (id, t) =>
      val tf = toksOf(t).groupBy(identity).view.mapValues(_.size)
      val scores = terms.flatMap { q =>
        tf.get(q).map { f =>
          val idf = round6(math.log((n - dfs(q) + 0.5) / (dfs(q) + 0.5) + 1.0)).toDouble
          round6(idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dls(id) / avgdl)))
        }
      }
      if (scores.isEmpty) None else Some(id -> scores.sum.toDouble)
    }.toMap

    val got = Retrieval.bm25(docs, terms, k1, b)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === want.keySet)
    for ((id, s) <- want) assert(math.abs(got(id) - s) < 1e-12, s"doc $id")
    assert(!got.contains(4L)) // no query term → absent
  }

  test("unigramNll matches hand computation") {
    val corpus = docs.as[(Long, String)].collect().toSeq
    val all = corpus.flatMap(d => toksOf(d._2))
    val counts = all.groupBy(identity).view.mapValues(_.size).toMap
    val total = all.size.toDouble
    val want = corpus.map { case (id, t) =>
      val ts = toksOf(t)
      val s = ts.map(tok => round9(-math.log(counts(tok) / total))).sum
      (id, ts.size.toLong, s.toDouble / ts.size)
    }.toSet
    val got = Retrieval.unigramNll(docs).as[(Long, Long, Double)].collect()
      .map { case (id, nt, nll) => (id, nt, math.rint(nll * 1e9) / 1e9) }.toSet
    val wantR = want.map { case (id, nt, nll) => (id, nt, math.rint(nll * 1e9) / 1e9) }
    assert(got === wantR)
  }

  test("bigramNll matches hand computation; short docs drop out") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "cat"), (4L, ""))
    val df = corpus.toDF("doc_id", "text")
    val bigramsOf = (t: String) =>
      t.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    val all = corpus.flatMap(d => bigramsOf(d._2))
    val bc = all.groupBy(identity).view.mapValues(_.size).toMap
    val cc = all.groupBy(_.split(" ")(0)).view.mapValues(_.size).toMap
    val want = corpus.filter(d => bigramsOf(d._2).nonEmpty).map { case (id, t) =>
      val bs = bigramsOf(t)
      val sum = bs.map(b => round9(-math.log(bc(b).toDouble / cc(b.split(" ")(0))))).sum
      (id, bs.size.toLong, math.rint(sum.toDouble / bs.size * 1e9) / 1e9)
    }.toSet
    val got = Retrieval.bigramNll(df).as[(Long, Long, Double)].collect()
      .map { case (id, n, v) => (id, n, math.rint(v * 1e9) / 1e9) }.toSet
    assert(got === want) // docs 3 ("cat") and 4 ("") have no bigrams
  }

  test("interpolatedBigramNll matches hand computation; unseen bigrams back off smoothly") {
    val lam = 0.7
    def bigramsOf(t: String) =
      t.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    def check(corpus: Seq[(Long, String, Boolean)]): Map[Long, Double] = {
      val refB = corpus.filter(_._3).flatMap(d => bigramsOf(d._2))
      val bc = refB.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cc = refB.groupBy(_.split(" ")(0)).view.mapValues(_.size.toLong).toMap
      val uc = refB.groupBy(_.split(" ")(1)).view.mapValues(_.size.toLong).toMap
      val u = refB.size.toLong
      def p(b: String): Double = {
        val Array(w1, w2) = b.split(" ")
        val pb = if (cc.getOrElse(w1, 0L) > 0)
          bc.getOrElse(b, 0L).toDouble / cc(w1) else 0.0
        val pu = (uc.getOrElse(w2, 0L) + 1).toDouble / (u + (1L << 20))
        lam * pb + (1 - lam) * pu
      }
      val want = corpus.filter(d => bigramsOf(d._2).nonEmpty).map { case (id, t, _) =>
        val bs = bigramsOf(t)
        val sum = bs.map(b => round9(-math.log(p(b)))).sum
        (id, bs.size.toLong, math.rint(sum.toDouble / bs.size * 1e9) / 1e9)
      }.toSet
      val got = Retrieval.interpolatedBigramNll(
          corpus.toDF("doc_id", "text", "ref"), ref = col("ref"), lambda = lam)
        .as[(Long, Long, Double)].collect()
        .map { case (id, n, v) => (id, n, math.rint(v * 1e9) / 1e9) }.toSet
      assert(got === want)
      got.map(g => g._1 -> g._3).toMap
    }
    val byId = check(Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the cat ran to the mat", true),
      (3L, "the cat sat", false), // all bigrams seen in ref
      (4L, "zebra quagga okapi", false), // nothing seen: pure smoothed unigram
      (5L, "x", false))) // no bigrams — drops
    // ref-seen text must score far below out-of-distribution text
    assert(byId(3L) < byId(4L), s"reference-like doc should have lower xent: $byId")
    check(hotTokenCorpus.map { case (id, t, y, _) => (id, t, y) })
  }

  test("naiveBayesLlr matches hand computation; target-like docs score positive") {
    def toks(t: String) = t.split(" ").toSeq.filter(_.nonEmpty)
    def check(corpus: Seq[(Long, String, Boolean, Boolean)]): Map[Long, Double] = {
      val trainDocs = corpus.filter(_._4)
      val np = trainDocs.filter(_._3).flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nn = trainDocs.filterNot(_._3).flatMap(d => toks(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (tp, tn) = (np.values.sum, nn.values.sum)
      val v = 1L << 20
      def term(t: String): BigDecimal = round9(math.log(
        ((np.getOrElse(t, 0L) + 1).toDouble / (tp + v)) /
          ((nn.getOrElse(t, 0L) + 1).toDouble / (tn + v))))
      // documents without a token drop out
      val want = corpus.filter(d => toks(d._2).nonEmpty).map { case (id, t, _, _) =>
        (id, toks(t).size.toLong, toks(t).map(term).sum.toDouble)
      }.toSet
      val got = Retrieval.naiveBayesLlr(corpus.toDF("doc_id", "text", "y", "tr"),
          target = col("y"), train = col("tr"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want)
      got.map(g => g._1 -> g._3).toMap
    }
    // train: docs 1-4 (two per class); score: all (5 and 6 are held out)
    val byId = check(Seq(
      (1L, "good clean prose text", true, true),
      (2L, "good clean words here", true, true),
      (3L, "spam junk noise blob", false, true),
      (4L, "junk noise spam mess", false, true),
      (5L, "clean good prose", true, false), // target-like held-out
      (6L, "noise spam junk", false, false))) // other-like held-out
    assert(byId(5L) > 0 && byId(6L) < 0,
      s"held-out docs must separate by class: $byId")
    check(hotTokenCorpus)
  }

  test("dsirWeights matches hand computation on a one-token-everywhere fixture") {
    val dims = 64
    // the md5-16 hashed feature: first four hex digits of md5(token), mod dims
    def dim(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dims
    }
    val corpus = hotTokenCorpus.map { case (id, t, y, _) => (id, toksOf(t).map(dim), y) }
    val cR = corpus.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cT = corpus.filter(_._3).flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (totR, totT) = (cR.values.sum, cT.values.sum)
    def lnP(c: Long, tot: Long) = round9(math.log((c + 1).toDouble / (tot + dims)))
    def lr(d: Int) = lnP(cT.getOrElse(d, 0L), totT) - lnP(cR(d), totR)
    // documents without a token drop out
    val want = corpus.filter(_._2.nonEmpty).map { case (id, ds, _) =>
      (id, ds.map(lr).sum.toDouble)
    }.toSet
    val docs = hotTokenCorpus.map { case (id, t, y, _) => (id, t, y) }.toDF("doc_id", "text", "y")
    val got = Curation.dsirWeights(docs, target = col("y"), dims = dims)
      .as[(Long, Double)].collect().toSet
    assert(got === want)
    assert(want.size == 52, "8 of the 60 fixture texts are empty")
  }

  test("pii counts and redaction") {
    val rows = Seq(
      (1L, "mail a.smith@example.com or BOB@MAIL.CO today"),
      (2L, "host 192.168.0.1 and 10.0.0.254 online"),
      (3L, "call +1 555-0199 or +44 20 7946 0958 now"),
      (4L, "no pii here"),
      (5L, "x@y.io at 8.8.8.8 dial +1 202-555-0142")
    ).toDF("id", "text")
    val got = rows.select(
      col("id"),
      Text.piiEmailCount(col("text")).as("e"),
      Text.piiIpCount(col("text")).as("i"),
      Text.piiPhoneCount(col("text")).as("p"),
      Text.redactPii(col("text")).as("r"))
      .as[(Long, Int, Int, Int, String)].collect()
      .map { case (id, e, i, p, r) => id -> ((e, i, p, r)) }.toMap

    assert(got(1L) === ((2, 0, 0, "mail [EMAIL] or [EMAIL] today")))
    assert(got(2L) === ((0, 2, 0, "host [IP] and [IP] online")))
    assert(got(3L) === ((0, 0, 2, "call [PHONE] or [PHONE] now")))
    assert(got(4L) === ((0, 0, 0, "no pii here")))
    assert(got(5L) === ((1, 1, 1, "[EMAIL] at [IP] dial [PHONE]")))
  }
}
