package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Text

/** Corpus retrieval / language-model scoring: Okapi BM25 ranking and
  * unigram cross-entropy (negative log-likelihood) document scoring.
  *
  * Both are staples of training-data curation — BM25 powers "find corpus
  * documents relevant to X" sweeps (and is the classic lexical baseline
  * next to the ANN operators in [[Similarity]]), unigram NLL is the
  * cheapest perplexity proxy for quality filtering (documents whose token
  * distribution diverges from the corpus score high).
  *
  * Scale design (100 TB corpus):
  *   - token explode happens map-side next to the scan; what shuffles is
  *     (token, partial count) after map-side combine, never document text.
  *   - corpus-level scalars (N, avgdl, total tokens) reduce to one row and
  *     re-enter the plan via a broadcast cross-join (bytes, not data).
  *   - BM25's per-term statistics are |terms| rows — broadcast.
  *   - the unigram vocabulary join shuffles (token, count) against the
  *     token stream; Spark/AQE picks broadcast automatically while the
  *     vocab fits, and degrades to a shuffle join when it doesn't (no
  *     collect of the vocab to the driver either way).
  *
  * Cross-engine determinism: libm `ln` values are rounded to a fixed
  * decimal scale before any aggregation (see [[graft.queries.Compat]]);
  * everything else is integer or IEEE-exact arithmetic.
  */
object Retrieval {

  /** Okapi BM25 score of every document containing at least one query
    * term: `sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`
    * with the Lucene idf `ln((N - df + 0.5)/(df + 0.5) + 1)`.
    *
    * Returns (idCol, bm25). idf and per-term scores are rounded to 6
    * decimals (idf is libm-ln; rounding before the order-free decimal sum
    * keeps the result engine-independent).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("__t"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum("__dl").as("__sumdl"))
    val tf = toks.filter(col("__t").isInCollection(terms))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf"))
    val df = tf.groupBy("__t").agg(count(lit(1)).as("__df"))

    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val idf = round(
      log((col("__n").cast("double") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0), 6)
      .cast(DecimalType(18, 6)).cast("double")
    val termScore = idf * (col("__tf") * lit(k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / avgdl))

    tf.join(broadcast(df), Seq("__t"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("__s", round(termScore, 6).cast(DecimalType(18, 6)))
      .groupBy(col(idCol))
      .agg(sum("__s").cast("double").as("bm25"))
  }

  /** Per-document unigram negative log-likelihood: mean over the
    * document's tokens of `-ln(count(t)/total)` under the corpus unigram
    * distribution (self-scored). Returns (idCol, n_tok, nll); documents
    * with no tokens are absent. Per-token NLL is rounded to 9 decimals
    * before the exact decimal mean. */
  def unigramNll(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("__t"))
    val vocab = toks.groupBy("__t").agg(count(lit(1)).as("__cnt"))
    val total = vocab.agg(sum("__cnt").as("__total"))
    val nll = round(-log(col("__cnt").cast("double") / col("__total").cast("double")), 9)
      .cast(DecimalType(18, 9))
    toks
      .join(vocab, Seq("__t"))
      .crossJoin(broadcast(total))
      .withColumn("__nll", nll)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tok"),
        (sum("__nll").cast("double") / count(lit(1))).as("nll"))
  }

  /** Per-document bigram cross-entropy under the corpus's own bigram LM:
    * mean −ln P(w₂|w₁) with P = c(w₁w₂)/c(w₁·) (MLE — every observed
    * bigram has corpus support, so no smoothing is needed for scoring
    * the training corpus against itself). One step up the n-gram ladder
    * from [[unigramNll]]: fluency/repetitiveness shows up here long
    * before unigram statistics move. Same scale shape: bigram explode is
    * map-side, counts shuffle after partial aggregation, text never
    * moves. Documents with < 2 tokens have no bigrams and drop out. */
  def bigramNll(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val bis = docs.select(col(idCol),
      explode(Text.shingles(col(textCol), 2)).as("__b"))
    val bcnt = bis.groupBy("__b").agg(count(lit(1)).as("__bcnt"))
    // context counts c(w1·) roll up from the bigram table (|vocab| rows),
    // not from the token stream — one extra tiny aggregation
    val ccnt = bcnt.groupBy(substring_index(col("__b"), " ", 1).as("__w1"))
      .agg(sum("__bcnt").as("__ccnt"))
    val nll = round(-log(col("__bcnt").cast("double") / col("__ccnt").cast("double")), 9)
      .cast(DecimalType(18, 9))
    bis
      .join(bcnt, Seq("__b"))
      .join(ccnt, substring_index(col("__b"), " ", 1) === col("__w1"))
      .withColumn("__nll", nll)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigram"),
        (sum("__nll").cast("double") / count(lit(1))).as("bigram_nll"))
  }

  /** Reference-model perplexity filter (the CCNet shape: score EVERY
    * document under an LM fit on a reference subset — documents far from
    * the reference distribution filter out): Jelinek-Mercer-interpolated
    * bigram cross-entropy, P(w₂|w₁) = λ·c_ref(w₁w₂)/c_ref(w₁·) +
    * (1−λ)·(u_ref(w₂)+1)/(U+2²⁰), where u_ref counts w₂-continuations in
    * the reference and the add-one smoothing runs over a FIXED 2²⁰-slot
    * hashed-vocabulary denominator — a constant, so no corpus-wide
    * distinct-count pass is needed and every unseen token keeps positive
    * mass. Unlike [[bigramNll]] (self-scored MLE), this scores held-out
    * text: unseen bigrams back off to the smoothed unigram instead of
    * −ln 0.
    *
    * Plan: ONE bigram explode; all three reference-count lookups attach
    * as window sums over (bigram / context / continuation) partitions of
    * the SAME pass — the [[graft.operators.Curation.tfIdfTopK]] trick,
    * no model-table joins, no second corpus scan (the U-total aggregate
    * reuses the first window's exchange). Exchanges carry gram-shaped
    * rows; document text never shuffles. Returns (idCol, n_bigram, xent)
    * for documents with ≥ 2 tokens. The hottest context ("the" as w₁)
    * is the same one-task window group as [[naiveBayesLlr]]'s hot token.
    *
    * Determinism: all probabilities are ratios/affine combinations of
    * exact integers — per-op IEEE, bit-identical cross-engine; ln rounds
    * to 1e-9 before the exact decimal mean (the q98 libm class). */
  def interpolatedBigramNll(docs: DataFrame, ref: Column, lambda: Double = 0.7,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1): $lambda")
    // pre-aggregate per-document bigram multiplicities FIRST: the windows
    // see (doc, bigram)-distinct rows instead of the raw stream, and —
    // the part that makes the plan single-scan — both downstream
    // consumers (window chain + U-total) sit above the IDENTICAL groupBy
    // exchange, so AQE stage reuse dedupes them. Aggregating the raw
    // windowed stream instead leaves the total's subtree column-pruned
    // differently and the corpus tokenizes twice.
    val g = docs
      .select(col(idCol), ref.as("__ref"),
        explode(Text.shingles(col(textCol), 2)).as("__b"))
      .withColumn("__w1", substring_index(col("__b"), " ", 1))
      .withColumn("__w2", substring_index(col("__b"), " ", -1))
      .groupBy(col(idCol), col("__ref"), col("__b"), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__tf"))
    val refTf = when(col("__ref"), col("__tf")).otherwise(0L)
    val bis = g
      .withColumn("__bc", sum(refTf).over(Window.partitionBy("__b")))
      .withColumn("__cc", sum(refTf).over(Window.partitionBy("__w1")))
      .withColumn("__uc", sum(refTf).over(Window.partitionBy("__w2")))
    val total = g.agg(sum(refTf).as("__u"))
    val pBig = when(col("__cc") > 0,
      col("__bc").cast("double") / col("__cc").cast("double")).otherwise(lit(0.0))
    val pUni = (col("__uc") + 1).cast("double") /
      (col("__u") + (1L << 20)).cast("double")
    val nll = round(-log(lit(lambda) * pBig + lit(1 - lambda) * pUni), 9)
      .cast(DecimalType(18, 9))
    bis
      .crossJoin(broadcast(total))
      .withColumn("__nll", nll)
      .groupBy(col(idCol))
      .agg(
        sum("__tf").as("n_bigram"),
        (sum(col("__tf").cast(DecimalType(18, 0)) * col("__nll")).cast("double") /
          sum("__tf")).as("xent"))
  }

  /** Naive-Bayes quality-classifier log-likelihood ratio — the GPT-3/
    * CCNet quality-filter shape (a cheap linear classifier separating a
    * curated `target` reference from the raw rest, then scoring EVERY
    * document): multinomial NB over unigrams with add-one smoothing on a
    * fixed 2²⁰-slot hashed vocabulary,
    * `llr(d) = Σ_t tf_t · ln[ P(t|target) / P(t|other) ]` over the model
    * fit on the `train` split. Positive ⇒ target-like. The class prior is
    * deliberately absorbed into the caller's decision threshold (a
    * uniform-prior NB) — keeping it out of the plan keeps the corpus
    * single-scan.
    *
    * Plan: ONE tokenize pass, pre-aggregated to (doc, token)
    * multiplicities; both class counts attach as conditional window sums
    * over the token partition of that SAME pass (no model-table join) and
    * the two class totals reuse the groupBy exchange (the
    * [[interpolatedBigramNll]] layout). Exchanges carry token-shaped
    * rows; text never shuffles. Returns (idCol, n_tok, llr) — documents
    * with ≥ 1 token.
    *
    * Determinism: the per-token ratio is one division chain of exact
    * integers (same ops, same order on any engine), then ONE libm `ln`
    * rounded to 1e-9 before the exact decimal weighted sum (the q98
    * class). Totals fit 2^53 comfortably through petabyte-scale token
    * counts (2^53 ≈ 9·10¹⁵ tokens).
    *
    * The hottest token ("the") forms one window group of ~|documents|
    * rows that a single task buffers. The window stays because a salted
    * model-table join that spreads that group measured slower, even on a
    * one-token-everywhere corpus of 4·10⁶ documents (SCALE.md, "one
    * layout per scoring operator"). */
  def naiveBayesLlr(docs: DataFrame, target: Column, train: Column,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs
      .select(col(idCol), target.as("__y"), train.as("__tr"),
        explode(Text.tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__y"), col("__tr"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val posTf = when(col("__tr") && col("__y"), col("__tf")).otherwise(0L)
    val negTf = when(col("__tr") && !col("__y"), col("__tf")).otherwise(0L)
    val wt = Window.partitionBy("__t")
    val withCounts = g
      .withColumn("__np", sum(posTf).over(wt))
      .withColumn("__nn", sum(negTf).over(wt))
    val totals = g.agg(sum(posTf).as("__tp"), sum(negTf).as("__tn"))
    val v = 1L << 20
    val pPos = (col("__np") + 1).cast("double") / (col("__tp") + v).cast("double")
    val pNeg = (col("__nn") + 1).cast("double") / (col("__tn") + v).cast("double")
    val term = round(log(pPos / pNeg), 9).cast(DecimalType(18, 9))
    withCounts
      .crossJoin(broadcast(totals))
      .withColumn("__llr", term)
      .groupBy(col(idCol))
      .agg(
        sum("__tf").as("n_tok"),
        sum(col("__tf").cast(DecimalType(18, 0)) * col("__llr"))
          .cast("double").as("llr"))
  }
}
