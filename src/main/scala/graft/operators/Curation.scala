package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GopherRules, Rand, Seeds, Text, TextKernels, TopK}

/** Corpus-curation operators for training-data pipelines: benchmark
  * decontamination, boilerplate n-gram mining, repetition scoring, and
  * deterministic stratified (mixture) sampling.
  *
  * Scale design (100 TB corpus):
  *   - `contamination` broadcasts the benchmark shingle set (benchmarks are
  *     tiny — thousands of documents — next to a pretraining corpus); the
  *     corpus side never shuffles document text, only (doc_id, two longs)
  *     through a partially-aggregated exchange.
  *   - `documentFrequency` shuffles (shingle, partial count) pairs after
  *     map-side combine — the classic one-exchange DF/IDF mine.
  *   - `repetitionStats` is pure per-row column work: no exchange at all,
  *     stays inside whole-stage codegen next to the parquet scan.
  *   - `stratifiedSample` is a deterministic map-side filter (md5-derived
  *     uniform per document id): repartition-stable, retry-stable, and
  *     resumable — re-running the job keeps exactly the same sample, which
  *     is what makes mixture re-weighting reproducible across pipeline
  *     versions.
  */
object Curation {

  /** Per-document n-gram overlap against a benchmark document set (the
    * decontamination check run before training): for each corpus document,
    * the count of its distinct shingles that appear anywhere in the
    * benchmark, and the overlap fraction.
    *
    * Returns (idCol, n_shingles, n_hit, hit_frac) for every corpus
    * document with at least one shingle (documents shorter than `n` tokens
    * have no n-grams and are trivially clean). `hit_frac` is a ratio of
    * two integers — exact in any engine.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val benchShingles = benchmark
      .select(explode(array_distinct(Text.shingles(col(textCol), n))).as("__s"))
      .distinct()
      .withColumn("__hit", lit(1))
    val corpusShingles = corpus.select(
      col(idCol), explode(array_distinct(Text.shingles(col(textCol), n))).as("__s"))
    corpusShingles
      .join(broadcast(benchShingles), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_hit"))
      .withColumn("hit_frac",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }

  /** Corpus-wide n-gram document frequency, thresholded — the boilerplate
    * mine (shingles shared by ≥ `minDf` documents are template/boilerplate
    * candidates; the same table inverted is an IDF table). One exchange of
    * (shingle, partial count) after map-side combine. */
  def documentFrequency(corpus: DataFrame, n: Int = 3, minDf: Long = 2L,
                        textCol: String = "text"): DataFrame = {
    corpus
      .select(explode(array_distinct(Text.shingles(col(textCol), n))).as("shingle"))
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Corpus-level duplicated-line removal with document reassembly — the
    * CCNet/RefinedWeb-style line dedup that REWRITES documents: a line
    * (any `sep`-delimited segment) occurring in ≥ `minDf` distinct
    * documents is boilerplate (navigation chrome, cookie banners, license
    * headers) and is dropped from every document; surviving lines are
    * re-joined in their original order. Returns one row per input
    * document: (idCol, kept_text, n_removed, n_lines). Documents whose
    * every line is boilerplate come back with `kept_text = ""` — the
    * caller's cue to drop them entirely.
    *
    * Reference scope: columnflow treats documents as opaque payloads
    * (columnar_util.py routes columns, never rewrites text); this is the
    * pretraining-corpus operation layered on the same engine.
    *
    * Scale (100 TB corpus):
    *   - the df aggregate groups on the line's md5 KEY, not the line text
    *     — the exchange carries (16-byte key, doc_id) pairs with map-side
    *     partial aggregation, never line bodies;
    *   - the hot set is structurally tiny (lines repeated across ≥ minDf
    *     documents are boilerplate mass, bounded by template vocabulary,
    *     not corpus size) and BROADCASTS, so flagging is map-side;
    *   - the one corpus-sized exchange is the reassembly groupBy(id) —
    *     inherent to rewriting documents; each group is one document's
    *     own lines, so no key is ever larger than its document.
    *
    * `portable = true` keys lines with md5 (engine-re-derivable — the
    * oracle contract, q170); `portable = false` swaps xxhash64 for the
    * per-line key, the production kernel for hash-bound corpus scans
    * (same rule as [[deterministicShuffle]]: per-row md5 only where a
    * DuckDB oracle must re-derive it). Either key treats a collision as
    * a shared line — at 128/64 bits across a ≤ template-vocabulary hot
    * set, vanishing. */
  def dedupLines(docs: DataFrame, minDf: Long, sep: String = "\n",
                 idCol: String = "doc_id", textCol: String = "text",
                 portable: Boolean = true): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
      .withColumn("__k",
        if (portable) md5(col("__line")) else xxhash64(col("__line")).cast("string"))
    val hot = lines
      .groupBy(col("__k"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__k"), lit(true).as("__hot"))
    lines
      .join(broadcast(hot), Seq("__k"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            filter(
              sort_array(collect_list(struct(col("__pos").as("p"),
                coalesce(col("__hot"), lit(false)).as("h"), col("__line").as("l")))),
              s => !s.getField("h")),
            s => s.getField("l")),
          sep).as("kept_text"),
        sum(when(col("__hot"), 1L).otherwise(0L)).as("n_removed"),
        count(lit(1)).as("n_lines"))
  }

  /** Within-document repetition stats (the Gopher-style quality signal):
    * total and distinct n-gram counts and the duplicate-n-gram fraction
    * `1 − distinct/total` (null for documents with no n-grams). Pure
    * column work — integer counts and one exact integer-ratio divide. */
  def repetitionStats(docs: DataFrame, n: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val all = Text.shingles(col(textCol), n)
    docs.select(
      col(idCol),
      size(all).as("n_grams"),
      size(array_distinct(all)).as("n_distinct"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams").cast("double")))
  }

  /** Deterministic stratified sampling to a target mixture: keep a row iff
    * its portable md5-uniform (keyed on `idCol`) falls below the group's
    * rate. Groups absent from `rates` are dropped (rate 0). The decision
    * is a pure function of the row — stable under repartitioning, task
    * retries, and re-runs, so downstream mixture weights are reproducible.
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       groupCol: String, idCol: String = "doc_id"): DataFrame = {
    val u = Rand.portableUniform(0, col(idCol).cast("string"))
    val rate = rates.foldLeft(lit(0.0)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    docs.filter(u < rate)
  }

  /** Temperature-based mixture sampling (the mT5/XLM-R multilingual
    * upsampling shape): target mixture share of group g is
    * p_g ∝ n_g^α (α < 1 flattens the distribution toward low-resource
    * groups), and each group keeps `rate_g = min(1, T·p_g / n_g)` of its
    * documents toward a `targetTotal` of T — the standard
    * size-temperature resampling, realized as the same deterministic
    * md5-uniform map-side filter as [[stratifiedSample]] (retry- and
    * repartition-stable, resumable).
    *
    * Plan: one group-size aggregate (group-width rows), a one-row Σw^α
    * scalar, and a broadcast rate join back onto the corpus — the scan
    * is the only corpus-sized work. Determinism: n^α is libm `pow`,
    * rounded to 1e-9 before the exact decimal share sum (the q98 class);
    * the final rate re-rounds to 1e-9 (`Compat.roundSql` mirror), so
    * both engines filter on bit-identical rates against bit-identical
    * uniforms. Returns the kept rows as (idCol, groupCol, rate). */
  def temperatureSample(docs: DataFrame, alpha: Double, targetTotal: Long,
                        groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    require(targetTotal >= 1)
    val sizes = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val w = sizes.withColumn("__w",
      round(pow(col("__n").cast("double"), lit(alpha)), 9).cast(DecimalType(28, 9)))
    val tot = w.agg(sum("__w").as("__tw"))
    val rates = w.crossJoin(broadcast(tot))
      .withColumn("__p", col("__w").cast("double") / col("__tw").cast("double"))
      .withColumn("rate",
        round(least(lit(1.0), lit(targetTotal.toDouble) * col("__p") / col("__n")), 9))
      .select(col(groupCol), col("rate"))
    val u = Rand.portableUniform(0, col(idCol).cast("string"))
    docs.join(broadcast(rates), groupCol)
      .filter(u < col("rate"))
      .select(col(idCol), col(groupCol), col("rate"))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1, the
    * shape FineWeb/RefinedWeb reuse): five named pass/fail rules over
    * cheap per-document statistics, reporting WHICH rules failed — the
    * explainable pre-filter that runs before any model-based scorer.
    * Thresholds are parameters (defaults = the published Gopher values);
    * every statistic is an exact integer ratio compared against an exact
    * literal, so the gate is bit-portable with no rounding step. Pure
    * map-side column work — a 100 TB gate is a scan with no exchange.
    *
    * Rules (fail conditions): `word_count` outside [minWords, maxWords];
    * `mean_word_length` outside [minMeanLen, maxMeanLen];
    * `symbol_ratio` (non-alnum, non-whitespace chars per word) above
    * maxSymbolRatio; `stopword_hits` below minStopwordHits;
    * `dup_gram_frac` (1 − distinct/total word n-grams) above
    * maxDupGramFrac. Length-derived rules pass vacuously on empty docs —
    * `word_count` is the rule that fails there; a null text fails no rule
    * and has a null `n_tok`. Returns (idCol, n_tok, failed_rules
    * comma-joined in the fixed order above, passes). All five rules come
    * from one native pass per document (`TextKernels.GopherFailedRules`),
    * so the `passes` filter costs one scan of the text even where Catalyst
    * copies it into the scan's filter. */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, minStopwordHits: Int = 2,
                  maxDupGramFrac: Double = 0.2, dupGramN: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rules = GopherRules(minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, minStopwordHits, maxDupGramFrac, dupGramN)
    docs.select(col(idCol), Text.tokenCount(col(textCol)).cast("long").as("n_tok"),
      TextKernels.gopherFailedRulesCol(col(textCol), rules).as("failed_rules"))
      .withColumn("passes", col("failed_rules") === "")
  }

  /** Zipf-law fit over the corpus token-frequency distribution — the
    * classic corpus-health diagnostic (natural language sits near
    * α ≈ 1; template/boilerplate-heavy corpora flatten, generator
    * artifacts steepen): least-squares slope of ln f against ln rank,
    * reported as one row (n_vocab, alpha = −slope, intercept).
    *
    * Scale: the frequency table is VOCABULARY-width (map-side combined),
    * and the only total order is the rank window over that vocabulary —
    * V rows, not corpus rows. Regression sums are exact: each ln rounds
    * onto a 1e-9 decimal lattice first (the q98 libm class), the five
    * moments accumulate in DECIMAL (order-free), and the closed-form
    * slope runs in doubles on those exact sums — bit-identical on any
    * engine and partitioning. */
  def zipfFit(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val tf = docs
      .select(explode(graft.functions.Text.tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__f"))
    val ranked = tf.withColumn("__r",
      row_number().over(Window.orderBy(col("__f").desc, col("__t"))))
    val x = round(log(col("__r").cast("double")), 9).cast(DecimalType(18, 9))
    val y = round(log(col("__f").cast("double")), 9).cast(DecimalType(18, 9))
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val nD = col("n").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    m.select(col("n").as("n_vocab"),
      (-slope).as("alpha"),
      ((sy - slope * sx) / nD).as("intercept"))
  }

  /** Token-budget mixture materialization — the "take exactly B training
    * tokens from each source" cut that turns mixture WEIGHTS into an
    * actual dataset: rank each group's documents by a deterministic
    * portable hash (a fixed random permutation — retry-, engine- and
    * repartition-stable), run a cumulative token count down that order,
    * and keep documents while the running total stays within
    * `budgetTokens`. Returns (idCol, groupCol, n_tok, cum_tok).
    *
    * Scale: one hash partition on the group key; the cumulative-sum
    * window orders each group once (the `uniformSamplePerGroup` class).
    * Token counts come from the allocation-free native kernel. The
    * md5-hex rank is the oracle-mirrorable form; production can swap
    * xxhash64 exactly as [[capPerGroupAgg]] documents. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long,
                        groupCol: String = "source", idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens >= 0)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat(lit("budget|"), col(idCol).cast("string"))), col(idCol))
    docs
      .withColumn("__n", graft.functions.Text.tokenCount(col(textCol)).cast("long"))
      .withColumn("cum_tok", sum(col("__n")).over(w))
      .filter(col("cum_tok") <= budgetTokens)
      .select(col(idCol), col(groupCol), col("__n").as("n_tok"), col("cum_tok"))
  }

  /** Deterministic fractional repeat-upsampling — the multi-epoch mixture
    * schedule (repeat low-resource source s for `factor(s)` epochs,
    * e.g. 2.7 ⇒ every document twice, and a deterministic 70% of
    * documents a third time): emits (row ✕ copy_idx 1..n) where
    * n = ⌊f⌋ + [u < f−⌊f⌋], u the portable md5-uniform of the id — so
    * the expected token mass is exactly f× and the realized copy set is
    * a pure function of (id, factors): retries, engines, partitionings
    * all materialize the same epochs. Rows with n = 0 (f < 1 and the
    * draw fails) drop — f < 1 doubles as a downsampling rate.
    *
    * Scale: map-side only — a filter and a bounded `sequence` explode on
    * top of the scan; no exchange anywhere. */
  def repeatUpsample(docs: DataFrame, factor: Column,
                     idCol: String = "doc_id"): DataFrame = {
    val base = floor(factor).cast("long")
    val frac = factor - floor(factor)
    val u = Rand.portableUniform(0, concat(lit("rep|"), col(idCol).cast("string")))
    val n = base + when(u < frac, 1L).otherwise(0L)
    docs.withColumn("__nrep", n)
      .filter(col("__nrep") > 0)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("__nrep"))))
      .drop("__nrep")
  }

  /** Overlapping token-window chunking — the RAG/embedding-prep shape:
    * each document yields windows of `window` tokens every `stride`
    * tokens (the final window clamps at the end; documents shorter than
    * one window yield one chunk). Emits (id, chunk_idx, n_tok,
    * chunk_hash) with a portable md5 chunk content hash, so chunk-level
    * dedup can run across engines.
    *
    * Pure map-side work: tokenize once per row, explode the start
    * positions — output rows ≈ tokens/stride per document, no exchange.
    * A 100 TB corpus chunks inside the scan. */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && stride >= 1)
    val toks = docs
      .select(col(idCol), Text.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
    toks
      .withColumn("__s", explode(sequence(
        lit(1), greatest(size(col("__t")) - (window - 1), lit(1)), lit(stride))))
      .select(
        col(idCol),
        ((col("__s") - 1) / stride).cast("long").as("chunk_idx"),
        size(slice(col("__t"), col("__s"), lit(window))).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("__t"), col("__s"), lit(window)))).as("chunk_hash"))
  }

  /** Deterministic weighted sample without replacement (Efraimidis–
    * Spirakis A-ES): each row draws the portable uniform keyed on its id
    * and gets sort key `-ln(u)/w`; the k smallest keys are the sample,
    * with inclusion probability proportional to `w`. Fully deterministic
    * (same md5-derived u as [[stratifiedSample]]) — repartition-, retry-,
    * and engine-reproducible. The key is rounded to 9 decimals for
    * cross-engine ln parity.
    *
    * Scale: the global top-k is TakeOrdered (per-partition partial top-k,
    * then a k-row merge on the driver) — no full sort, no shuffle of the
    * corpus. */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
                     idCol: String = "doc_id"): DataFrame = {
    val u = Rand.portableUniform(0, col(idCol).cast("string"))
    docs
      .withColumn("skey", round(-log(u) / col(weightCol), 9))
      .orderBy(col("skey"), col(idCol))
      .limit(k)
  }

  /** DuckDB mirror of `weightedSample`'s sort key. */
  def weightedSampleKeySql(weightExpr: String, idExpr: String): String =
    s"ROUND(-ln(${Rand.portableUniformSql(0, s"CAST($idExpr AS STRING)")}) / $weightExpr, 9)"

  /** Deterministic uniform k-per-group sample: rank rows inside each
    * group by the md5 hex of their id (a fixed random permutation of the
    * group) and keep the k smallest. The reservoir-sampling result with
    * none of reservoir sampling's order-dependence — any engine, any
    * partitioning, any retry produces the same sample.
    *
    * Scale: one hash-partition on the group key; Spark's WindowExec sorts
    * each group, which is fine for small groups — for huge ones use
    * [[capPerGroupAgg]], the same cap through the bounded
    * [[graft.functions.TopK.perGroup]] aggregate. */
  def uniformSamplePerGroup(docs: DataFrame, k: Int, groupCol: String,
                            idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Per-group document cap via the bounded top-k aggregate
    * ([[graft.functions.TopK.perGroup]]) — the huge-group twin of
    * [[uniformSamplePerGroup]]: keep at most `k` documents per group,
    * chosen by a deterministic portable hash rank (smallest
    * `md5-lower-64(salt|id) mod 2^40`, ties by id ascending). Where the
    * window form shuffles and sorts EVERY row of a group to rank it, this
    * formulation partial-aggregates map-side into a k-slot buffer — the
    * exchange carries at most k `(double, long)` pairs per (task, group),
    * so a domain with a billion pages costs the same exchange as one with
    * a hundred. That is
    * the per-domain-cap shape (RefinedWeb-style curation) at 100 TB.
    *
    * The 2^40 modulus keeps the rank key exactly representable as the
    * aggregate's double key (2^40 < 2^53), so the buffer's ordering is
    * bit-identical to an engine sorting the exact integers; a 40-bit
    * collision inside one group falls back to the id tie-break — the SAME
    * total order on both sides of an oracle, so determinism survives
    * collisions rather than depending on their absence.
    *
    * Returns (groupCol, sample_rank 1..k, idCol), best (smallest hash)
    * first — the window twin's contract with the portable key.
    *
    * `portable = false` swaps the per-row md5 rank hash for xxhash64 —
    * the production kernel for a 100 TB run (the sf10 rehearsal showed
    * md5-per-row scans are hash-bound, q118: 40.7× at 100×; xxhash64 is
    * a codegen'd builtin with no digest allocation). Same buffer, same
    * modulus, same tie-break — a DIFFERENT (but equally deterministic,
    * repartition-stable) sample, so only the md5 form is oracle-mirrored.
    * Rule: per-row md5 only where a DuckDB oracle must re-derive it. */
  def capPerGroupAgg(docs: DataFrame, k: Int, groupCol: String,
                     idCol: String = "doc_id", salt: String = "cap",
                     portable: Boolean = true): DataFrame = {
    val two40 = 1099511627776L // 2^40
    val key = concat(lit(salt + "|"), col(idCol).cast("string"))
    val h40 = pmod(
      if (portable) Seeds.portableHash64(key) else xxhash64(key),
      lit(two40))
    TopK.perGroup(docs, Seq(col(groupCol)), h40.cast("double"), col(idCol), k, largest = false)
      .select(col(groupCol), col("rnk").cast("long").as("sample_rank"), col("id").as(idCol))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * word n-grams that occur in no other document — high novelty marks
    * fresh content, low novelty marks boilerplate/template mass worth
    * down-sampling, and (run corpus-vs-corpus) it is the memorization
    * screen of Lee et al.'s dedup study. Inverted-index plan: ONE explode
    * of distinct grams; df piggybacks as a count window over the gram
    * partition of that same pass (the [[tfIdfTopK]] trick) rather than a
    * separate aggregate + self-join — a two-subplan form scans and
    * re-shingles the whole corpus twice, because partial aggregation
    * below the exchange defeats exchange reuse, and at 100 TB that is 2×
    * the dominant cost. Exchanges are (id, gram)-shaped and linear in
    * total gram mass; document text never shuffles; a boilerplate gram's
    * window group is df rows of that width, which `WindowExec` spills.
    * Documents with fewer than `n` tokens have no grams and drop out
    * (same as the oracle's inner join). `novel_frac` is a ratio of two
    * exact integers. */
  def ngramNovelty(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col(idCol),
        explode(array_distinct(Text.shingles(col(textCol), n))).as("__s"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("__s")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_grams"))
  }

  /** Per-document top-k TF-IDF terms: tf = in-document term count, idf =
    * ln(N/df) rounded to 1e-9 (libm cross-engine parity — factor-scale
    * values are tie-safe at 9 digits), score = tf·idf, ranked per
    * document with term-ascending tie-break.
    *
    * Plan: one (doc, term) count aggregation; df piggybacks as a window
    * over the term partition of the SAME pass (no second corpus scan) and
    * the scalar N broadcast-joins. The per-document ranking is the
    * bounded [[graft.functions.TopK.perGroup]] aggregate with the term as
    * its string id, not a `row_number` window (the q88/q165 pattern,
    * guide §2.5): the window form shuffled
    * the FULL (doc, term, score) mass by doc and sorted every group,
    * while the aggregate keeps a k-slot buffer per (task, doc) and
    * partial-aggregates map-side — the doc exchange now carries ≤ k rows
    * per task per document and the per-group sort is gone. Ordering is
    * identical (score desc, ties term asc — binary string order in both
    * forms; scores are finite, terms non-null). Two keyed exchanges
    * (term, then doc) of count-sized rows — never of document text. */
  def tfIdfTopK(docs: DataFrame, k: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.select(count(lit(1)).as("__n"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(n))
      .withColumn("idf", round(log(col("__n").cast("double") / col("df")), 9))
      .withColumn("score", col("tf").cast("double") * col("idf"))
    TopK.perGroup(scored, Seq(col(idCol)), col("score"), col("term"), k)
      .select(col(idCol), col("rnk"), col("id").as("term"), col("key").as("score"))
  }

  /** Concat-and-chunk sequence packing (the GPT-style training-sequence
    * layout): documents are concatenated in (`groupCol`, `orderCol`) order
    * and sliced into fixed `budget`-token chunks; each document is
    * assigned the chunk its first token lands in, and flagged if it
    * straddles a chunk boundary. Packing is per-group (a group = one
    * shard/source), so the window never globally sorts the corpus —
    * groups pack in parallel and the layout is deterministic and
    * repartition-stable. All arithmetic is integer-exact. */
  def packSequences(docs: DataFrame, budget: Long, groupCol: String = "source",
                    orderCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(groupCol), col(orderCol),
        Text.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      // exact while cum_before < 2^53 (double holds the integer exactly)
      .withColumn("chunk_id",
        floor(col("cum_before").cast("double") / budget).cast("long"))
      .withColumn("straddles",
        (pmod(col("cum_before"), lit(budget)) + col("n_tok")) > budget)
  }

  /** Deterministic global shuffle for training-data ordering: assign each
    * row a shard and an intra-shard position from a salted portable hash.
    * This is how a 100 TB corpus is "shuffled" without a global sort —
    * shard assignment is pure map-side arithmetic, and only each shard
    * (corpus/nShards) is sorted, in parallel, by its own window. Changing
    * `salt` produces an independent permutation (per-epoch reshuffles);
    * the result is repartition-stable and engine-portable (md5 hash).
    * Hash ties (≈2⁻⁶⁴) break on the id, keeping the order total.
    *
    * `portable = false` uses xxhash64 for the permutation — the 100 TB
    * kernel (md5-per-row is hash-bound at corpus scale; see
    * [[capPerGroupAgg]]). Equally deterministic and repartition-stable,
    * but a different permutation than the md5 form, which stays the
    * oracle-re-derivable contract. */
  def deterministicShuffle(df: DataFrame, idCol: String, nShards: Int,
                           salt: String = "shuffle",
                           portable: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1)
    val key = concat(lit(s"$salt|"), col(idCol).cast("string"))
    val h =
      if (portable) graft.functions.Seeds.portableHash64(key) else xxhash64(key)
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("__h"), col(idCol))))
      .drop("__h")
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * fit two unigram bag-of-hashed-tokens models — one on the `target`
    * subset (the domain to up-sample), one on the whole corpus — and
    * score every document by its log importance ratio
    * Σ_dim tf·(ln p_target(dim) − ln p_raw(dim)) with add-one smoothing
    * over `dims` hashed features. High scores = documents that look like
    * the target distribution; feed the output to [[weightedSample]] /
    * `TopK` for the actual resampling step.
    *
    * Plan: ONE tokenize pass → (doc, dim) tf aggregate; the per-dim
    * model is a groupBy of that SAME pass (no second corpus scan: AQE
    * reuses the tf exchange) and, at ≤ `dims` ≤ 65536 rows, broadcasts
    * back with its one-row totals, so the probe side keeps its
    * partitioning and the hot dim (where "the" lands) costs no one task
    * more than the rest. The final weight is one doc-keyed aggregate.
    * Exchanges carry (doc, dim, tf) counts — document text never
    * shuffles.
    *
    * Determinism: hashed dims are the engine-portable md5-16 values
    * ([[graft.ml.Features.dimSql]] is the oracle mirror); each ln rounds
    * to 1e-9 before exact decimal arithmetic (libm-bearing values —
    * ties are measure-zero, the documented safe class), so the weight
    * sum is order- and partition-free. Documents with zero tokens have
    * no feature rows and drop out (trivially unscoreable). */
  def dsirWeights(docs: DataFrame, target: Column, dims: Int = 4096,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.KnownNotNull
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.DecimalType
    require(dims >= 2 && dims <= 65536, "dims must be in [2, 65536]")
    // concat_ws never returns null, so neither does the md5 chain: saying
    // so keeps the join from inferring isnotnull(dim), which Catalyst
    // pushes below the tf aggregate as a Filter re-running four md5
    // digits per token (FilterExec has no common-subexpression reuse)
    val dim = ColumnBridge.column(KnownNotNull(ColumnBridge.expression(
      pmod(Rand.portableHexNum(0, col("__t")), lit(dims)).cast("int"))))
    val f = docs
      .select(col(idCol), target.as("__is_t"),
        explode(Text.tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__is_t"), dim.as("dim"))
      .agg(count(lit(1)).as("tf"))
    val tgtTf = when(col("__is_t"), col("tf")).otherwise(0L)
    def lnP(c: Column, tot: Column): Column =
      round(log((c + 1).cast("double") / (tot + dims).cast("double")), 9)
        .cast(DecimalType(18, 9))
    val model = f.groupBy(col("dim"))
      .agg(sum(col("tf")).as("__c_r"), sum(tgtTf).as("__c_t"))
    val tot = model.agg(sum("__c_r").as("__tot_r"), sum("__c_t").as("__tot_t"))
    f.join(broadcast(model), Seq("dim"))
      .crossJoin(broadcast(tot))
      .withColumn("__lr",
        lnP(col("__c_t"), col("__tot_t")) - lnP(col("__c_r"), col("__tot_r")))
      .groupBy(col(idCol))
      .agg(sum(col("tf").cast(DecimalType(18, 0)) * col("__lr"))
        .cast("double").as("w"))
  }

  /** DuckDB mirror of `stratifiedSample`'s keep predicate (same md5-hex
    * uniform, same CASE rate table) for oracle queries. */
  def stratifiedSampleSql(rates: Map[String, Double],
                          groupExpr: String, idExpr: String): String = {
    val rate = rates.toSeq.sortBy(_._1)
      // '' is the SQL escape for a quote inside a string literal — keeps
      // the mirror valid for any group key the Column side accepts
      .map { case (g, r) => s"WHEN $groupExpr = '${g.replace("'", "''")}' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0.0 END")
    s"${Rand.portableUniformSql(0, s"CAST($idExpr AS STRING)")} < ($rate)"
  }
}
