package graft.operators

import graft.functions.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *   - Brute-force cosine top-k: broadcast the query set, one scan of the
  *     corpus, bounded top-k per query ([[TopK.perGroup]]: cos desc, ties
  *     by neighbor asc, rnk 1..k; the exchange after scoring carries at
  *     most k rows per (partition, query)). Exact; the right baseline
  *     whenever the query set is small (the corpus never shuffles).
  *   - Cell-partitioned (IVF-style) top-k: restrict each query's scan to
  *     its coarse cell — here the precomputed `label` column stands in for
  *     the quantizer assignment. At 100 TB this is the difference between
  *     scanning the corpus and scanning one cell: partition pruning on the
  *     cell column turns the search into a 1/nCells scan.
  *
  * Dot products are computed in double via zip_with + aggregate — builtin
  * higher-order functions, inside codegen, no UDF.
  */
object Similarity {

  /** Σ a_i·b_i in double (fixed left-to-right fold: deterministic).
    * Native fused kernel — bit-identical to the zip_with + aggregate
    * chain (`VectorKernelsSpec`) without the per-pair intermediate array,
    * which matters at |queries| × |corpus| evaluations. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorKernels.dotCol(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Division that yields NULL (not an ANSI DIVIDE_BY_ZERO error) for a
    * zero divisor: under Spark 4's default ANSI mode a zero-norm vector
    * anywhere in a 100 TB corpus would otherwise kill the whole job. A
    * null cosine then drops out of top-k rankings and `>=` filters. */
  private def safeDiv(n: Column, d: Column): Column = try_divide(n, d)

  def cosine(a: Column, b: Column): Column = safeDiv(dot(a, b), norm(a) * norm(b))

  /** Exact top-k neighbours for each query row.
    *
    * Degenerate pairs — zero-norm vectors or mismatched lengths — score
    * NaN/null and are EXCLUDED from the ranking (may yield < k rows for a
    * query). This intentionally diverges from a `row_number` window over
    * `cos DESC`, which would rank NaN first; pinned in `SimilaritySpec`.
    *
    * `scanParallelism > 0` repartitions the corpus before the broadcast
    * probe: the scoring stage's task count is otherwise the SCAN's input
    * split count, while its work is |corpus|·|queries| cosines — a
    * compact parquet corpus probed by a large query sample collapses to
    * a handful of tasks whose per-partition TopK state (|queries|·k
    * slots) spill-thrashes (the q140 verify-collapse class; caught live
    * by the round-8 sf10 rehearsal, 4·10⁹ cosines on ~3 tasks). The
    * shuffle moves only corpus vectors — bytes, not pair work. Default 0
    * keeps the scan partitioning (right when queries are few; pinned
    * shuffle-free in `PlanSpec` for q38).
    *
    * @param queries  (qid, qvec) — must be small enough to broadcast
    * @param corpus   (id, vec)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     id: String = "vec_id", vec: String = "embedding",
                     qid: String = "qid", qvec: String = "qvec",
                     scanParallelism: Int = 0): DataFrame = {
    val c0 = if (scanParallelism > 0) corpus.repartition(scanParallelism) else corpus
    val scored = c0.withColumn("__nv", norm(col(vec)))
      .join(broadcast(queries.withColumn("__nq", norm(col(qvec)))), col(id) =!= col(qid))
      .select(col(qid), col(id).as("neighbor"), pairCos(qvec, vec).as("cos"))
    TopK.perGroup(scored, Seq(col(qid)), col("cos"), col("neighbor"), k)
      .select(col(qid), col("id").as("neighbor"), col("key").as("cos"), col("rnk"))
  }

  /** Per-pair cosine with the norms precomputed ONCE per row/query
    * (`__nq`/`__nv`) instead of per pair — value-identical to
    * `cosine(qvec, vec)` (same `dot / (normQ * normV)` association, same
    * sqrt inputs), but the corpus-side norm is evaluated once per row
    * rather than once per (row × query). */
  private def pairCos(qvec: String, vec: String): Column =
    safeDiv(dot(col(qvec), col(vec)), col("__nq") * col("__nv"))

  /** IVF-style top-k: each query searches only its own cell. `cell` is the
    * coarse-quantizer assignment column present on both sides.
    * Degenerate (NaN/null-scoring) pairs are excluded — see
    * [[bruteForceTopK]], including the `scanParallelism` contract: the
    * broadcast-probe stage otherwise inherits the SCAN's split count
    * while doing Σ_cell |cell|·|queries in cell| cosines (caught live a
    * second time by the round-9 sf10 run of the q193 composite — 4·10⁹
    * cell cosines on a compact parquet corpus's handful of splits). */
  def cellTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               cell: String, qcell: String,
               id: String = "vec_id", vec: String = "embedding",
               qid: String = "qid", qvec: String = "qvec",
               scanParallelism: Int = 0): DataFrame = {
    val c0 = if (scanParallelism > 0) corpus.repartition(scanParallelism) else corpus
    val scored = c0.withColumn("__nv", norm(col(vec)))
      .join(broadcast(queries.withColumn("__nq", norm(col(qvec)))),
        col(cell) === col(qcell) && col(id) =!= col(qid))
      .select(col(qid), col(id).as("neighbor"), pairCos(qvec, vec).as("cos"))
    TopK.perGroup(scored, Seq(col(qid)), col("cos"), col("neighbor"), k)
      .select(col(qid), col("id").as("neighbor"), col("key").as("cos"), col("rnk"))
  }

  /** nProbe nearest cells by centroid cosine — the IVF probe list
    * (recall/cost dial of a multi-probe IVF index). Centroids are
    * driver-held quantizer output (the q58 training step; labels × dims
    * scalars), compiled into the plan as literals: no join, no shuffle to
    * pick probes. Ties break toward the smaller cell id. */
  def probeCells(qvec: Column, centroids: Map[Int, IndexedSeq[Double]], nProbe: Int): Column = {
    require(centroids.nonEmpty && nProbe > 0)
    val entries = centroids.toSeq.sortBy(_._1).map { case (l, c) =>
      val cArr = array(c.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct(safeDiv(dot(qvec, cArr), norm(qvec) * lit(cn)).as("cos"), lit(l).as("cell"))
    }
    val sorted = array_sort(array(entries: _*), (a, b) =>
      when(a.getField("cos") > b.getField("cos"), -1)
        .when(a.getField("cos") < b.getField("cos"), 1)
        .otherwise((a.getField("cell") - b.getField("cell")).cast("int")))
    transform(slice(sorted, 1, nProbe), _.getField("cell"))
  }

  /** Multi-probe IVF top-k: each query searches the union of its probe
    * cells (`probes`: array<cell> column on the query side, from
    * [[probeCells]]). Each corpus row belongs to exactly one cell, so the
    * membership join scores it at most once per query; at 100 TB with the
    * corpus partitioned by cell this scans nProbe/nCells of the data.
    * Degenerate (NaN/null-scoring) pairs are excluded — see
    * [[bruteForceTopK]]. */
  def multiProbeTopK(corpus: DataFrame, probedQueries: DataFrame, k: Int,
                     cell: String, probes: String = "probes",
                     id: String = "vec_id", vec: String = "embedding",
                     qid: String = "qid", qvec: String = "qvec",
                     scanParallelism: Int = 0): DataFrame = {
    val c0 = if (scanParallelism > 0) corpus.repartition(scanParallelism) else corpus
    val scored = c0.withColumn("__nv", norm(col(vec)))
      .join(broadcast(probedQueries.withColumn("__nq", norm(col(qvec)))),
        array_contains(col(probes), col(cell)) && col(id) =!= col(qid))
      .select(col(qid), col(id).as("neighbor"), pairCos(qvec, vec).as("cos"))
    TopK.perGroup(scored, Seq(col(qid)), col("cos"), col("neighbor"), k)
      .select(col(qid), col("id").as("neighbor"), col("key").as("cos"), col("rnk"))
  }

  /** Embedding near-duplicate pairs within cells: cosine ≥ threshold.
    * The cell constraint is the blocking strategy; an unblocked variant at
    * scale would use random-hyperplane LSH exactly like Dedup.simhash.
    *
    * `buckets` decouples the pair stage's PARALLELISM from the cell
    * count — the trap the round-8 sf10 rehearsal caught live: a plain
    * within-cell self-join hash-partitions on the cell key, so with C
    * distinct cells at most C tasks exist no matter how large the pair
    * space is (the fixtures' 10 labels × 2M vectors serialized 2·10⁹
    * cosine evaluations onto one core; AQE then coalesces further,
    * because it sees the tiny shuffle INPUT, not the quadratic join
    * OUTPUT — the q140 lesson, one operator over). With `buckets = B`,
    * each row hashes to a bucket and the join runs the standard
    * triangular block grid: the A side replicates a bucket-b row to
    * blocks (b, j ≥ b), the B side to blocks (i ≤ b, b), the join key is
    * (cell, i, j) — C·B(B+1)/2 keys — and same-bucket blocks keep the
    * id-order filter while cross-bucket blocks are already pair-unique.
    * The result SET is exactly the unbucketed one (pinned in
    * `SimilaritySpec`); the cost is ≤ (B+1)/2 replication of each side's
    * shuffle, bought back as B²-fold parallelism. `pairParallelism` (> 0)
    * additionally pins both sides to an explicit partition count on the
    * block key — explicit counts are exempt from AQE input-size
    * coalescing, exactly like `Linkage.verifyParallelism`. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   cell: String, id: String = "vec_id",
                   vec: String = "embedding",
                   buckets: Int = 1, pairParallelism: Int = 0): DataFrame = {
    require(buckets >= 1)
    val base = corpus.select(col(cell).as("__cell"), col(id).as("__id"),
      col(vec).as("__v"), norm(col(vec)).as("__n"),
      pmod(xxhash64(col(id).cast("string")), lit(buckets.toLong)).cast("int").as("__b"))
    def pin(df: DataFrame, keys: Column*): DataFrame =
      if (pairParallelism > 0) df.repartition(pairParallelism, keys: _*) else df
    val joined =
      if (buckets == 1) {
        val a = pin(base.as("a"), col("__cell"))
        val b = pin(base.as("b"), col("__cell"))
        a.join(b, col("a.__cell") === col("b.__cell") &&
          col("a.__id") < col("b.__id"))
      } else {
        val aSide = pin(
          base.withColumn("__j", explode(sequence(col("__b"), lit(buckets - 1)))).as("a"),
          col("__cell"), col("__b"), col("__j"))
        val bSide = pin(
          base.withColumn("__i", explode(sequence(lit(0), col("__b")))).as("b"),
          col("__cell"), col("__i"), col("__b"))
        aSide.join(bSide,
          col("a.__cell") === col("b.__cell") &&
            col("a.__b") === col("b.__i") && col("a.__j") === col("b.__b") &&
            (col("a.__b") < col("b.__b") || col("a.__id") < col("b.__id")))
      }
    joined.select(
      least(col("a.__id"), col("b.__id")).as("id_a"),
      greatest(col("a.__id"), col("b.__id")).as("id_b"),
      safeDiv(dot(col("a.__v"), col("b.__v")), col("a.__n") * col("b.__n")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic dedup: the keep-set after dropping all but
    * one representative (minimum id) of every cosine-near-dup cluster.
    * Composition of the two primitives this module/`Dedup` already prove
    * at scale: [[nearDupPairs]] (cell-blocked pair generation — pair
    * space, never corpus², is the only quadratic term) feeds
    * [[Dedup.components]] (min-label propagation — iterations touch
    * (id, label) pairs, not vectors), and the final projection is a
    * digest-width anti-join of the corpus against the dropped ids.
    * Embeddings never shuffle after the pair stage. At 100 TB the `cell`
    * is a trained IVF/k-means partition ([[Quantize]]), exactly the
    * SemDeDup recipe; any blocking column works. */
  def semanticDedup(corpus: DataFrame, threshold: Double, cell: String,
                    id: String = "vec_id", vec: String = "embedding",
                    buckets: Int = 1, pairParallelism: Int = 0): DataFrame = {
    val comps = Dedup.components(
      nearDupPairs(corpus, threshold, cell, id, vec, buckets, pairParallelism))
    val dropped = comps.filter(col("id") =!= col("component")).select(col("id"))
    corpus.join(dropped, corpus(id) === dropped("id"), "left_anti")
  }

  /** Sparse term-frequency cosine pairs — the INVERTED-INDEX similarity
    * join, the sparse complement of the dense-embedding paths above: no
    * embedding model required, and the candidate join touches only
    * (doc, term) postings that actually share a term. Dot products are
    * exact longs (tf·tf sums); norms are `sqrt` of exact longs — per-row
    * IEEE ops all the way, so the cosine and its threshold comparison
    * are bit-deterministic with no rounding idiom.
    *
    * Scale: fan-out per term is df² — stop-word postings dominate the
    * pair join exactly like hub vertices in triangle counting. `maxDf`
    * is the in-code guard: terms appearing in more than `maxDf` documents
    * are dropped from the CANDIDATE/dot stage (norms still use the full
    * vector, so a reported cosine is exact-or-under, never inflated).
    * Semantics are APPROXIMATE — a pair whose similarity rides only on
    * ultra-common terms is missed — which is the standard trade
    * (stop-word terms carry almost no discriminative mass, and every
    * surviving pair's guarded cosine is a lower bound, so guarded output
    * ⊆ unguarded output at the same threshold; pinned in
    * `SimilaritySpec`). `maxDf = 0` (default) keeps the exact unguarded
    * form for oracle parity at test scale. The stricter alternatives
    * remain tf-idf weighting (rare terms carry the mass) or the prefix
    * filter (`Dedup.prefixFilteredJaccardPairs`) when exactness per
    * threshold must survive pruning. */
  def sparseCosinePairs(docs: DataFrame, id: String = "doc_id",
                        text: String = "text",
                        threshold: Double = 0.95,
                        maxDf: Int = 0): DataFrame = {
    val tf = docs.select(col(id).as("__id"),
        explode(graft.functions.Text.tokens(col(text))).as("t"))
      .groupBy("__id", "t").agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy("__id")
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("nrm"))
    // df guard: one map-side-partial aggregate over the postings, then an
    // equi-join keeps only sub-cap terms — a window over the t partition
    // would buffer an entire stop-word posting list per task, which is
    // the very blow-up being guarded against
    val posts =
      if (maxDf > 0)
        tf.join(tf.groupBy("t").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("t"), Seq("t"))
      else tf
    posts.as("a").join(posts.as("b"),
        col("a.t") === col("b.t") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .join(norms.select(col("__id").as("id_a"), col("nrm").as("na")), Seq("id_a"))
      .join(norms.select(col("__id").as("id_b"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", col("dot").cast("double") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Mutual-kNN edges from ANY top-k table `(qid, neighbor)`: an edge
    * survives iff each endpoint ranks the other — the standard sparse
    * graph for density-based semantic clustering (mutual-kNN kills the
    * hub edges a plain kNN graph grows around dense regions). Returns
    * canonical `(a, b)` with a < b, one row per mutual pair.
    *
    * Scorer-agnostic by design: feed [[bruteForceTopK]] while the corpus
    * is small, [[cellTopK]]/[[multiProbeTopK]] at corpus scale — the
    * mutual step is one self-join on the reversed pair (top-k-sized
    * inputs, k·n rows, never vectors). */
  def mutualKnnEdges(top: DataFrame): DataFrame = {
    val d = top.select(col("qid").as("a"), col("neighbor").as("b"))
    d.join(d.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
      .filter(col("a") < col("b"))
  }

  /** Prototypicality-based data pruning (the SSL-prototypes shape,
    * "Beyond neural scaling laws" Sorscher et al. 2022): rank every
    * vector by cosine to its own cell's centroid and keep a per-cell
    * fraction — `hardest = true` keeps the LEAST prototypical (lowest
    * cosine, the hard examples that matter when data is abundant),
    * `false` keeps the most prototypical (the easy-example regime for
    * scarce data). Returns (idCol, cellCol, keep_rank, cos6): rank 1 =
    * kept first; cos6 is the score rounded to 1e-6 for presentation —
    * RANKING uses the raw double (the q38 contract: per-row folds of
    * exact per-op IEEE values are bit-identical cross-engine).
    *
    * Plan: centroids are the q58 integer-grid means ([[graft.functions
    * .GridVectorMean]] — exact, order- and partition-free) computed with
    * the cell sizes in ONE cell-width aggregate that then BROADCASTS back
    * onto the corpus (cells ≪ corpus; never a shuffle of vectors); the
    * scoring pass is map-side on top of the scan.
    *
    * Ranking is the value-bucketed two-level form (the q129 skyline /
    * `Features.quantileTransform` pattern), NOT a per-cell `row_number`
    * window: PARTITION BY cell ships corpus/|cells| rows through ONE
    * unsplittable task per cell — with coarse cells (10 labels) that is
    * a tenth of the corpus per task at any scale. Instead each row gets
    * a deterministic cosine bucket (`floor` of the score on a 2⁻¹⁰ grid,
    * monotone with the rank order, null scores bucketed to the window
    * form's null end), the in-bucket `row_number` sorts only
    * (cell, bucket) slices, and the global rank folds in a per-cell
    * prefix table of bucket counts (≤ cells × ~2050 rows, windowed over
    * buckets only). Rank identity: buckets are monotone in the order
    * key and equal scores share a bucket, so prefix + in-bucket
    * row_number ≡ the per-cell row_number exactly (SimilaritySpec pins
    * it; q183's oracle hash-proves it per SF). Bound: a (cell, bucket)
    * group holds only the cell's mass inside one 2⁻¹⁰-wide cosine band
    * — the bucket-width trade q129 documents; degenerate score
    * concentration inside one band degrades toward the window form,
    * never below it.
    *
    * The ranked pass localCheckpoints before the prefix fold — the
    * `quantileTransform` rule: the histogram and the join side must
    * read the SAME materialization (runtime exchange reuse does not
    * fire here — the two consumers prune to different column sets, so
    * the exchanges never canonicalize equal, and without the pin the
    * histogram subtree re-scans the corpus, the q167 lesson). The
    * pinned object is the narrow (id, cell, n, cos, bucket, r, bn)
    * frame — ~40 B/row against the vector-width input it replaces; the
    * only vector-bearing exchange remains the single (cell, bucket)
    * hash partition of the scoring pass. */
  def prototypicalityPrune(emb: DataFrame, keepFrac: Double, hardest: Boolean = true,
                           cellCol: String = "label", idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac must be in (0,1]: $keepFrac")
    val ranked = prototypicalityRanked(emb, hardest, cellCol, idCol, vecCol)
      .localCheckpoint()
    // bucket histogram = distinct (cell, bucket, count) of the pinned
    // pass, then a per-cell prefix over ≤ ~2050 bucket rows
    val prefix = ranked.select(col(cellCol), col("__b"), col("__bn")).distinct()
      .withColumn("__before", coalesce(sum(col("__bn")).over(
        Window.partitionBy(col(cellCol)).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(cellCol), col("__b"), col("__before"))
    ranked.join(prefix, Seq(cellCol, "__b"))
      .withColumn("keep_rank", (col("__before") + col("__r")).cast("long"))
      .filter(col("keep_rank") <= ceil(lit(keepFrac) * col("__n")))
      .select(col(idCol), col(cellCol), col("keep_rank"),
        round(col("__cos"), 6).as("cos6"))
  }

  /** [[prototypicalityPrune]]'s pre-checkpoint scoring+ranking pass,
    * exposed for plan evidence and pins (the r9 lesson: dumps of a
    * post-checkpoint plan prove nothing about the build they hide). */
  private[graft] def prototypicalityRanked(emb: DataFrame, hardest: Boolean,
                                           cellCol: String, idCol: String,
                                           vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = emb.groupBy(col(cellCol))
      .agg(graft.functions.GridVectorMean.gridMeanVec(col(vecCol)).as("__c"),
        count(lit(1)).as("__n"))
    val cos = cosine(col(vecCol), col("__c"))
    // deterministic bucket, monotone with the rank direction (cos is a
    // pure row function — repartition/retry-stable, unlike a sampled
    // range split); nulls map to the end the window form would rank them
    val rawB =
      if (hardest) floor((col("__cos") + 1) * 1024)   // cos asc
      else floor((lit(1) - col("__cos")) * 1024)      // cos desc
    val bucket = when(col("__cos").isNull,
      if (hardest) lit(Long.MinValue) else lit(Long.MaxValue))
      .otherwise(rawB.cast("long"))
    val ord = if (hardest) col("__cos").asc else col("__cos").desc
    val scored = emb.join(broadcast(cents), cellCol)
      .withColumn("__cos", cos)
      .withColumn("__b", bucket)
      .select(col(idCol), col(cellCol), col("__n"), col("__cos"), col("__b"))
    // __bn rides as a count window over the SAME (cell, bucket)
    // partition as the rank — one exchange, one sort serve both
    scored
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(cellCol), col("__b")).orderBy(ord, col(idCol))))
      .withColumn("__bn",
        count(lit(1)).over(Window.partitionBy(col(cellCol), col("__b"))))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * the LASER/CCMatrix pair-mining criterion, ratio margin):
    *
    *   margin(x, y) = cos(x, y) / ((avgK(x) + avgK(y)) / 2)
    *
    * where avgK(v) is the mean cosine of v's k nearest neighbours on the
    * OTHER side. Raw cosine retrieves false friends (hubs score high
    * against everything); dividing by the local neighbourhood density
    * cancels the hubness. For each source vector the candidate with the
    * highest margin is kept iff margin > threshold ("max" strategy).
    *
    * Determinism: cosines are the fixed-fold kernel doubles (the q38
    * cross-engine contract); avgK rounds each cosine to the 1e-9 grid and
    * sums as exact decimal (order-free), one double divide at the end;
    * the margin is then per-row IEEE arithmetic on identical inputs, and
    * the argmax breaks margin ties toward the smaller target id.
    *
    * Plan shape: two [[bruteForceTopK]] passes (each side's queries
    * broadcast into the other side's scan — the brute scorer; at corpus
    * scale swap [[cellTopK]]/[[multiProbeTopK]] per the q193 precedent,
    * the margin/argmax tail is scorer-agnostic). Everything downstream
    * joins k·n-row TOP TABLES keyed by vector id — never vectors, never
    * all-pairs. The argmax is the bounded-TopK aggregate, not a window.
    *
    * Degenerate vectors (zero-norm → null cosine) drop out of rankings;
    * a source with no scoreable candidate yields no row.
    *
    * `scanParallelism` defaults to the session's default parallelism
    * (NOT the scan's split count): unlike the few-query [[bruteForceTopK]]
    * call sites, mining's query side is an entire corpus half by
    * construction, so the scoring stage always does |src|·|tgt| cosines —
    * inheriting a compact parquet scan's handful of splits is the q140
    * collapse class (three prior live sightings; see [[bruteForceTopK]]).
    *
    * @param src  mining side (one row per vector)
    * @param tgt  candidate side
    * @param k    neighbourhood size for the density normalizer
    * @return (src_id, tgt_id, margin) — at most one row per src vector
    */
  def marginMining(src: DataFrame, tgt: DataFrame, k: Int, threshold: Double,
                   id: String = "vec_id", vec: String = "embedding",
                   scanParallelism: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k must be positive: $k")
    val par = if (scanParallelism > 0) scanParallelism
      else src.sparkSession.sparkContext.defaultParallelism
    def queriesOf(side: DataFrame) =
      side.select(col(id).as("qid"), col(vec).as("qvec"))
    val fwd = bruteForceTopK(tgt, queriesOf(src), k, id = id, vec = vec,
      scanParallelism = par)
    val bwd = bruteForceTopK(src, queriesOf(tgt), k, id = id, vec = vec,
      scanParallelism = par)
    // mean of the k neighbour cosines: 1e-9-grid round, exact decimal sum
    // (order-free across partitionings), one double divide
    def avgK(top: DataFrame, outId: String, outAvg: String) =
      top.groupBy(col("qid"))
        .agg((sum(round(col("cos"), 9).cast(DecimalType(18, 9))).cast("double")
          / count(lit(1))).as(outAvg))
        .withColumnRenamed("qid", outId)
    val scored = fwd
      .select(col("qid").as("src_id"), col("neighbor").as("tgt_id"), col("cos"))
      .join(avgK(fwd, "src_id", "__a_src"), "src_id")
      .join(avgK(bwd, "tgt_id", "__a_tgt"), "tgt_id")
      .withColumn("__margin",
        col("cos") / ((col("__a_src") + col("__a_tgt")) / 2))
    TopK.perGroup(scored, Seq(col("src_id")), col("__margin"), col("tgt_id"), 1)
      .select(col("src_id"), col("id").as("tgt_id"), col("key").as("margin"))
      .filter(col("margin") > threshold)
  }
}
